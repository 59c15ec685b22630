"""O9/X6/O2: embedding-UDF stub, multimodal binary columns, binaryFile scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from bioclip_vector_db_spark.operators import embedding as emb_ops
from bioclip_vector_db_spark.operators import multimodal as mm_ops
from bioclip_vector_db_spark.plans.registry import load_all_plans
from bioclip_vector_db_spark.sources.catalog import load_table

load_all_plans()

def test_udf_matches_catalyst_expression(spark, sf_dir):
    """The Arrow UDF boundary is semantics-preserving: the pandas kernel
    and the pure-Catalyst expression of the same math agree to 1e-9."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    both = docs.select(
        "doc_id",
        emb_ops.embed_text_udf(F.col("text")).alias("udf_emb"),
        emb_ops.pseudo_embedding_sql(F.col("text")).alias("sql_emb"),
    )
    diff = both.select(
        F.aggregate(
            F.zip_with("udf_emb", "sql_emb", lambda a, b: F.abs(a - b)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_diff")
    ).agg(F.max("max_diff")).collect()[0][0]
    assert diff < 1e-9


def test_embeddings_unit_norm_and_null_passthrough(spark):
    df = spark.createDataFrame([(1, "hello"), (2, None)], "doc_id long, text string")
    rows = {r.doc_id: r.embedding for r in emb_ops.embed_documents(df).collect()}
    assert rows[2] is None
    assert abs(sum(x * x for x in rows[1]) - 1.0) < 1e-9


def test_decode_stub_handles_empty_payload(spark):
    df = spark.createDataFrame([(1, "ab cd"), (2, "")], "doc_id long, text string")
    out = {r.doc_id: r for r in mm_ops.decode_stub(mm_ops.to_binary_corpus(df)).collect()}
    assert out[1].status == "ok" and 1 <= out[1].width <= 64 and out[1].channels == 3
    assert out[2].status == "decode_error" and out[2].width is None


def test_binary_file_scan(spark, tmp_path):
    """O2: binaryFile source reads shard files as (path, length, content)."""
    for i in range(3):
        (tmp_path / f"shard-{i}.bin").write_bytes(bytes([i]) * (10 + i))
    df = mm_ops.read_binary_dir(spark, str(tmp_path), "*.bin")
    rows = sorted(df.select("path", "length", "content").collect(), key=lambda r: r.path)
    assert [r.length for r in rows] == [10, 11, 12]
    assert bytes(rows[2].content) == bytes([2]) * 12


def test_payload_ahash_rejects_colliding_extra_keys(spark):
    """``extra`` keys share the projections with the hash's own columns:
    ``_mean`` would make the bit cases ambiguous, ``ahash``/``doc_id``/the
    text column would duplicate an output column, and a dotted name is
    re-selected as a nested path. Each must fail loudly at build time;
    a plain key still rides along."""
    import hashlib

    import pytest

    df = spark.createDataFrame([(1, "x" * 80)], "doc_id long, text string")
    for bad in ("doc_id", "ahash", "_mean", "text", "a.b", "a`b"):
        with pytest.raises(ValueError, match="extra key"):
            mm_ops.payload_ahash(df, extra={bad: F.lit(1)})
    row = mm_ops.payload_ahash(df, extra={"fp": F.md5("text")}).collect()[0]
    assert row.doc_id == 1 and len(row.ahash) == mm_ops.PHASH_BYTES
    assert row.fp == hashlib.md5(b"x" * 80).hexdigest()
