"""build_index evaluates its input once and leaves the session's cache as
it found it; no path that holds the centroid count runs a count probe.

The build tests' input carries a counting pandas UDF whose output is
filtered on (like ingest's ``embedding IS NOT NULL``), so no action can
prune it. It is nondeterministic like ingest's embed call, so the
optimizer does not inline it into the filter: each evaluation of the
input adds exactly its row count to the accumulator. The count that fills
the build's persist, the k-means fit, the assignment and the corpus write
must together evaluate it once, and no centroid-count probe
(``limit(LARGE_NLIST_THRESHOLD + 1)``) may run.

Above LARGE_NLIST_THRESHOLD centroids the engine, the build and an append
must reach the blocked-GEMM kernels from the count they hold.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from bioclip_vector_db_spark import pipeline
from bioclip_vector_db_spark.api import GLOBAL_MAX_NEIGHBORS, VectorSearchEngine
from bioclip_vector_db_spark.operators import embedding, indexing, knn, knn_numpy
from bioclip_vector_db_spark.operators.indexing import append_to_index, build_index
from bioclip_vector_db_spark.operators.knn_numpy import LARGE_NLIST_THRESHOLD
from bioclip_vector_db_spark.sources.catalog import load_table
from tests.test_api import dense_faiss_ids
from tests.test_ingest_e2e import _make_shards


def _counted(spark, df: DataFrame):
    """``df`` with its embedding passed through a UDF that counts the rows
    it sees, filtered on that UDF's output; returns (frame, accumulator)."""
    acc = spark.sparkContext.accumulator(0)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def passthrough(v: pd.Series) -> pd.Series:
        acc.add(len(v))
        return v

    passthrough = passthrough.asNondeterministic()
    out = df.withColumn("embedding", passthrough("embedding")).filter(
        F.col("embedding").isNotNull()
    )
    return out, acc


@pytest.fixture
def probes(monkeypatch):
    """Records every ``limit(LARGE_NLIST_THRESHOLD + 1)`` call — the
    centroid-count probe."""
    seen = []
    limit = ClassicDataFrame.limit

    def spy(self, num):
        if num == LARGE_NLIST_THRESHOLD + 1:
            seen.append(num)
        return limit(self, num)

    monkeypatch.setattr(ClassicDataFrame, "limit", spy)
    return seen


@pytest.mark.parametrize("case", ["k_given", "k_derived", "supplied"])
def test_build_evaluates_input_once(spark, sf_dir, tmp_path, probes, case):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    vectors, acc = _counted(spark, emb)
    kwargs = {
        "k_given": {"k": 3},
        "k_derived": {},
        "supplied": {"centroids": knn.fixture_centroids(spark, sf_dir)},
    }[case]
    out = str(tmp_path / "index")
    built = build_index(vectors, out, **kwargs)
    assert acc.value == 200
    assert built["metrics"]["n_input"] == built["metrics"]["n_records"] == 200
    assert probes == []
    # The returned tables are reads of the written ones, typed as a plain
    # read infers them.
    for table in ("corpus", "id_mapping"):
        assert built[table].schema == spark.read.parquet(f"{out}/{table}").schema
        assert built[table].count() == 200


def test_trained_build_counts_its_input_once(spark, sf_dir, tmp_path, monkeypatch):
    """The count that fills the build's persist also sizes the k-means
    fit: a trained build without a train fraction runs one count job,
    not a second one over the same rows."""
    counts = []
    count = ClassicDataFrame.count

    def spy(self):
        counts.append(self)
        return count(self)

    monkeypatch.setattr(ClassicDataFrame, "count", spy)
    vectors = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    build_index(vectors, str(tmp_path / "index"), k=3)
    assert len(counts) == 1


def test_build_leaves_the_cache_as_it_found_it(spark, sf_dir, tmp_path):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    vectors = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    build_index(vectors, str(tmp_path / "index"), k=3)
    assert set(jsc.getPersistentRDDs().keys()) == before
    assert vectors.storageLevel == StorageLevel.NONE


def test_build_keeps_the_callers_persist(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    vectors, acc = _counted(spark, emb)
    vectors.persist()
    try:
        assert vectors.count() == 150
        build_index(vectors, str(tmp_path / "index"), k=3)
        assert vectors.is_cached and vectors.storageLevel != StorageLevel.NONE
        # The build read the caller's materialization, not the source.
        assert acc.value == 150
        assert vectors.count() == 150 and acc.value == 150
    finally:
        vectors.unpersist()


def test_ingest_embeds_each_sample_once(spark, tmp_path, monkeypatch, probes):
    """The stand-in embed UDF is deterministic, like the real one: ingest
    neither re-runs it per build action nor lets the optimizer copy it
    into the null filter."""
    acc = spark.sparkContext.accumulator(0)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def counting_embed(texts: pd.Series) -> pd.Series:
        acc.add(len(texts))
        return texts.map(lambda t: None if t is None else embedding._md5_embed(t))

    monkeypatch.setattr(embedding, "embed_text_udf", counting_embed)
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    _make_shards(shard_dir, n_samples=24)
    built = pipeline.ingest_webdataset(spark, str(shard_dir), str(tmp_path / "index"), k=2)
    assert built["metrics"]["n_records"] == 24
    assert acc.value == 24
    assert probes == []


def test_append_writes_keep_the_callers_job_group(spark, sf_dir, tmp_path):
    """The concurrent table writes run on threads of their own; they must
    carry the caller's job group, or ``cancelJobGroup`` (and a streaming
    query's ``stop()``) cannot reach them."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = knn.fixture_centroids(spark, sf_dir)
    d = str(tmp_path / "index")
    append_to_index(spark, d, emb.filter(F.col("vec_id") < 50), cents)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("append-keeps-group", "append")
    try:
        append_to_index(
            spark, d, emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100)), cents
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup("append-keeps-group")) >= 2
    assert spark.read.parquet(f"{d}/corpus").count() == 100


#: Above the kernel threshold: the engine, the build and an append must
#: pick the blocked-GEMM kernels from the count they hold.
_BIG_NLIST = LARGE_NLIST_THRESHOLD + 76


def _big_centroids(spark, phase=0.0, dim=64):
    """A synthetic leader table of _BIG_NLIST centroids; each ``phase``
    gives a table no other test has used."""
    return spark.range(_BIG_NLIST).select(
        F.col("id").cast("int").alias("partition_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.sin(F.col("id") * (i.cast("double") + 1.0) + phase),
        ).alias("centroid"),
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def assign_plans(monkeypatch):
    """The executed plan of every assignment ``append_to_index`` makes."""
    plans = []
    real = indexing.assign_partitions

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        plans.append(_plan(out))
        return out

    monkeypatch.setattr(indexing, "assign_partitions", spy)
    return plans


def test_large_index_serves_through_the_gemm_kernels(
    spark, sf_dir, tmp_path, probes, assign_plans, monkeypatch
):
    emb = load_table(spark, sf_dir, "embeddings")
    out = str(tmp_path / "index")
    build_index(emb, out, centroids=_big_centroids(spark))
    engine = VectorSearchEngine(spark, out)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    routed_at = []
    real_core = knn_numpy._route_topn_core

    def core_spy(qmat, pids, cmat, nprobe):
        routed_at.append(len(pids))
        return real_core(qmat, pids, cmat, nprobe)

    monkeypatch.setattr(knn_numpy, "_route_topn_core", core_spy)
    got = engine.search_batch(queries, top_n=5, nprobe=3)
    # search_batch routes on the driver by the GEMM rule at this count.
    assert routed_at == [_BIG_NLIST]
    want = knn.ivf_search(
        queries, engine.corpus, engine.centroids, nprobe=3, top_n=5,
        global_limit=GLOBAL_MAX_NEIGHBORS,
    )
    assert "MapInArrow" not in _plan(want)
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in want.collect())
    # Each query is in the corpus, so its first probe finds at least itself.
    assert {r[0] for r in rows} == set(range(8))
    # search routes through the same GEMM core, one query row at a time,
    # and answers with the batch's rows for that query.
    qvs = {r.query_id: r.qv for r in queries.collect()}
    for qid in (0, 5):
        hits = [tuple(r) for r in engine.search(qvs[qid], top_n=5, nprobe=3).collect()]
        batch = sorted(((str(r[1]), r[3]) for r in rows if r[0] == qid), key=lambda t: (t[1], t[0]))
        assert hits == batch
    assert routed_at == [_BIG_NLIST] * 3
    # Two appends: the first seeds the next ids from the stored corpus, the
    # second numbers on from the ones the first observed.
    for shift in (10_000, 20_000):
        fresh = emb.filter(F.col("vec_id") < 8).withColumn("vec_id", F.col("vec_id") + shift)
        engine = engine.add_batch(fresh)
    # The build's assignment, then each append's.
    assert len(assign_plans) == 3 and all("MapInArrow" in p for p in assign_plans)
    assert probes == []
    assert engine.corpus.count() == emb.count() + 16
    assert dense_faiss_ids(engine.corpus) and dense_faiss_ids(engine.id_mapping)


def test_append_against_unseen_centroids_runs_no_probe(
    spark, sf_dir, tmp_path, probes, assign_plans
):
    """A centroid table no engine opened and no build fitted: the append
    picks the kernel from the partition ids it collects anyway."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    d = str(tmp_path / "index")
    append_to_index(spark, d, emb, _big_centroids(spark, phase=0.5))
    assert len(assign_plans) == 1 and "MapInArrow" in assign_plans[0]
    assert probes == []
    assert spark.read.parquet(f"{d}/corpus").count() == 100
