"""Arrow-kernel gates: every blocked-BLAS kernel in knn_numpy and the text
unicode_clean stage run as ``mapInArrow`` stages over shared numeric
cores. Each kernel's plan must carry a MapInArrow node and no pandas
stage, and its output must be invariant to re-batching (a repartitioned
input feeds different Arrow batch shapes through the same core). Value
correctness against the expression kernels lives in test_knn_numpy.py
and the DuckDB oracles; unicode_clean's rows are checked here against
values computed in Python."""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import functions as F

from bioclip_vector_db_spark.operators import knn, text
from bioclip_vector_db_spark.operators.dedup import _assign_centroids, _semdedup_vectors
from bioclip_vector_db_spark.operators.knn_numpy import (
    assign_partitions_numpy,
    knn_join_numpy,
    pq_encode_numpy,
    route_queries_numpy,
)
from bioclip_vector_db_spark.operators.quantization import pq_codebooks
from bioclip_vector_db_spark.sources.catalog import load_table


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _check(build, base_input, parts: int = 7):
    """Run ``build`` on the base input and on ``repartition(parts)`` of
    it; assert the plan is Arrow-only and both outputs are equal."""
    df = build(base_input)
    plan = _plan(df)
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    base = _rows(df)
    assert base, "kernel produced no rows"
    assert _rows(build(base_input.repartition(parts))) == base


def test_assign_partitions_engines_identical(spark, sf_dir):
    cents = knn.fixture_centroids(spark, sf_dir)
    _check(lambda e: assign_partitions_numpy(e, cents), _emb(spark, sf_dir))


def test_argmax_centroid_engines_identical(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = knn.fixture_centroids(spark, sf_dir).select(
        F.col("partition_id").cast("long").alias("cid"),
        F.col("centroid").alias("cvec"),
    )
    v = _semdedup_vectors(emb)
    _check(lambda e: _assign_centroids(e, cents, "flat"), v)
    _check(lambda e: _assign_centroids(e, cents, "routed"), v)


def test_route_queries_engines_identical(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = knn.fixture_centroids(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    _check(lambda q: route_queries_numpy(q, cents, 3), queries, parts=5)


def test_knn_join_engines_identical(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 8)
    _check(lambda c: knn_join_numpy(queries, c, k=5), corpus)


def test_pq_encode_engines_identical(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cb = pq_codebooks(emb)
    _check(lambda e: pq_encode_numpy(e, cb, m=8, sub_dim=8), emb)


#: unicode_clean's strip class, restated for the expected values below.
_STRIP = re.compile("[\u200b\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")


def _expected_clean(t):
    if t is None:
        return (None, None, None)
    s = _STRIP.sub("", unicodedata.normalize("NFC", t)).replace("\u00a0", " ")
    return (s, len(t), len(s))


def test_unicode_clean_engines_identical(spark, sf_dir):
    """NFC + strip + NBSP + both length counts on the gate's own tainted
    corpus plus NULL and empty cells: the NULL, empty and tainted rows
    must equal values computed here with unicodedata and the same strip
    class, and the whole output must survive re-batching."""
    docs = load_table(spark, sf_dir, "documents")
    tainted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.col("text"), F.lit(text._UNICODE_TAINT)),
        )
        .when(F.col("doc_id") % 97 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 93 == 0, F.lit(""))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    _check(text.unicode_clean, tainted)

    special = tainted.filter(
        (F.col("doc_id") % 50 == 0)
        | (F.col("doc_id") % 97 == 0)
        | (F.col("doc_id") % 93 == 0)
    )
    inputs = {r.doc_id: r.text for r in special.collect()}
    assert any(t is None for t in inputs.values())
    assert any(t == "" for t in inputs.values())
    assert any(t and t.endswith(text._UNICODE_TAINT) for t in inputs.values())
    got = {
        r.doc_id: (r.clean_text, r.orig_len, r.clean_len)
        for r in text.unicode_clean(special).collect()
    }
    assert got == {d: _expected_clean(t) for d, t in inputs.items()}


def test_margin_calibration_follows_rewritten_input(spark, tmp_path):
    """The distributed tier calibrates its probe margin from each call's
    own vector sample, so a parquet path overwritten within one session
    must give the same assignment as a fresh read of the new data. The
    first data sits right on its centroids (the margin floor); the
    second sits between centroid pairs, where the calibrated margin is
    wider. A margin remembered by plan would serve the first data's
    margin for the second, and the pruned probes would miss winners."""
    import numpy as np

    rng = np.random.default_rng(7)
    K, N, D = 200, 600, 32
    C = rng.standard_normal((K, D))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    tight = C[np.arange(N) % K] + 0.01 * rng.standard_normal((N, D))
    pairs = rng.integers(0, K, (N, 2))
    between = C[pairs[:, 0]] + C[pairs[:, 1]] + 0.05 * rng.standard_normal((N, D))
    cents = spark.createDataFrame(
        [(int(i), C[i].tolist()) for i in range(K)], "cid long, cvec array<double>"
    )

    def write(mat, path):
        spark.createDataFrame(
            [(int(i), mat[i].tolist()) for i in range(N)],
            "vec_id long, embedding array<double>",
        ).write.mode("overwrite").parquet(str(path))

    def assign(path):
        vecs = spark.read.parquet(str(path))
        return _rows(_assign_centroids(vecs, cents, "distributed"))

    write(tight, tmp_path / "v")
    assert assign(tmp_path / "v")
    write(between, tmp_path / "v")
    write(between, tmp_path / "fresh")
    assert assign(tmp_path / "v") == assign(tmp_path / "fresh")
