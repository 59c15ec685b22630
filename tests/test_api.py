"""API-parity layer: the reference's serving verbs over a built index."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bioclip_vector_db_spark.api import GLOBAL_MAX_NEIGHBORS, VectorSearchEngine
from bioclip_vector_db_spark.operators.indexing import build_index
from bioclip_vector_db_spark.operators.knn import fixture_centroids, ivf_search
from bioclip_vector_db_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("api") / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    build_index(emb, out, k=5)
    return VectorSearchEngine(spark, out)


def test_search_single_vector(spark, sf_dir, engine):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 17).collect()[0].embedding
    rows = engine.search(list(qv), top_n=5, nprobe=5).collect()
    assert rows[0].id == "17" and abs(rows[0].distance) < 1e-6
    assert [r.distance for r in rows] == sorted(r.distance for r in rows)


def test_health(engine):
    h = engine.health()
    assert h["status"] == "healthy"
    assert h["total_embeddings"] == 500
    assert h["dimension_consistent"] is True
    assert 1 <= h["partitions_loaded"] <= 5


def test_point_lookup(engine):
    row = engine.query("42").collect()
    assert len(row) == 1 and row[0].original_id == "42"


def test_reset_requires_force(engine):
    with pytest.raises(ValueError):
        engine.reset()


def test_add_batch_incremental_equals_rebuild(spark, sf_dir, tmp_path):
    """The incremental append contract: with centroids FIXED, building on
    the prefix then add_batch-ing the suffix yields the same three index
    tables — and the same search results — as one rebuild over the union.
    The append path must not re-fit (it never calls train_kmeans)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = fixture_centroids(spark, sf_dir)
    prefix, suffix = emb.filter(F.col("vec_id") < 400), emb.filter(F.col("vec_id") >= 400)

    full_dir = str(tmp_path / "full")
    incr_dir = str(tmp_path / "incr")
    build_index(emb, full_dir, centroids=cent)
    build_index(prefix, incr_dir, centroids=cent)
    engine = VectorSearchEngine(spark, incr_dir).add_batch(suffix)

    full = VectorSearchEngine(spark, full_dir)
    key = ["partition_id", "faiss_id"]
    for attr in ("corpus", "id_mapping"):
        a = getattr(full, attr).drop("created_at").orderBy(*key).collect()
        b = getattr(engine, attr).drop("created_at").orderBy(*key).collect()
        assert a == b, f"{attr} diverged between rebuild and append"

    qv = emb.filter(F.col("vec_id") == 450).collect()[0].embedding
    got = engine.search(list(qv), top_n=5, nprobe=3).collect()
    want = full.search(list(qv), top_n=5, nprobe=3).collect()
    assert got == want and got[0].id == "450"

    # Dedup guard (O12): re-adding the same rows must be a no-op.
    again = engine.add_batch(suffix)
    assert again.corpus.count() == full.corpus.count()


def test_compact_index_preserves_tables(spark, sf_dir, tmp_path):
    """After fragmenting appends, compaction must reduce file counts while
    keeping both tables and search results bit-identical."""
    from bioclip_vector_db_spark.operators.indexing import compact_index

    emb = load_table(spark, sf_dir, "embeddings")
    cent = fixture_centroids(spark, sf_dir)
    d = str(tmp_path / "frag")
    build_index(emb.filter(F.col("vec_id") < 300), d, centroids=cent)
    engine = VectorSearchEngine(spark, d)
    engine = engine.add_batch(emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)))
    engine = engine.add_batch(emb.filter(F.col("vec_id") >= 400))

    key = ["partition_id", "faiss_id"]
    before = {
        t: getattr(engine, t).drop("created_at").orderBy(*key).collect()
        for t in ("corpus", "id_mapping")
    }
    counts = compact_index(spark, d)
    after_engine = VectorSearchEngine(spark, d)
    for t in ("corpus", "id_mapping"):
        assert getattr(after_engine, t).drop("created_at").orderBy(*key).collect() == before[t], t
        assert counts[f"{t}_files_after"] < counts[f"{t}_files_before"], counts

    qv = emb.filter(F.col("vec_id") == 123).collect()[0].embedding
    assert after_engine.search(list(qv), top_n=5, nprobe=3).collect()[0].id == "123"


# -- search: request validation ---------------------------------------------


@pytest.fixture(scope="module")
def dim(engine):
    return engine.corpus.select(F.size("embedding")).first()[0]


def test_search_rejects_wrong_dimension(engine, dim):
    with pytest.raises(ValueError, match="dimension"):
        engine.search([0.1] * (dim - 3))


def test_search_rejects_non_finite_component(engine, dim):
    for bad in (float("nan"), float("inf")):
        q = [0.1] * dim
        q[2] = bad
        with pytest.raises(ValueError, match="non-finite"):
            engine.search(q)


def test_search_rejects_top_n_below_one(engine, dim):
    with pytest.raises(ValueError, match="top_n"):
        engine.search([0.1] * dim, top_n=0)


def test_search_rejects_nprobe_below_one(engine, dim):
    with pytest.raises(ValueError, match="nprobe"):
        engine.search([0.1] * dim, nprobe=0)


# -- search: equivalence with the distributed ivf_search ----------------------


def test_driver_rounding_matches_spark(spark):
    """Driver-side routing ranks by the same rounded distances Spark
    computes: HALF_UP at 9 decimals, including exact half-quantum ties."""
    from bioclip_vector_db_spark.api import _spark_round

    rng = np.random.default_rng(5)
    halves = [k * 1e-9 + 5e-10 for k in rng.integers(-10**9, 2 * 10**9, 300).tolist()]
    values = [*rng.uniform(-0.5, 2.0, 2000).tolist(), *halves, 0.1234567895, -5e-10, 1.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, x double")
    got = {r.i: r.r for r in df.select("i", F.round("x", 9).alias("r")).collect()}
    assert [_spark_round(v) for v in values] == [got[i] for i in range(len(values))]


_NLIST, _DIM = 24, 8
#: First component of the corpus vectors planted to tie against the query
#: e0; every centroid has first component 0, so it plays no part in which
#: partition a vector lands in.
_TIE_X0 = 0.6


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """An index planted with ties: centroids 4 and 5 identical (routing
    tiebreak by partition_id), corpus vectors 9 and 10 identical (kept by
    numeric id, returned by string id), and 8 vectors per partition tied
    against e0 and closer to it than any other vector, so the global limit
    cuts through a tie. Returns (engine, queries)."""
    rng = np.random.default_rng(11)

    def unit(v):
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    cents = rng.standard_normal((_NLIST, _DIM))
    cents[:, 0] = 0.0
    cents = unit(cents)
    cents[5] = cents[4]
    tied = np.repeat(cents, 8, axis=0) + 0.1 * rng.standard_normal((8 * _NLIST, _DIM))
    tied[:, 0] = 0.0
    tied = unit(tied) * np.sqrt(1 - _TIE_X0**2)
    tied[:, 0] = _TIE_X0
    spread = unit(rng.standard_normal((200, _DIM)))
    spread[:, 0] = -np.abs(spread[:, 0])
    # Tied ids run 0..191, so numeric and string id order disagree.
    corpus = np.vstack([tied, spread])
    corpus[10] = corpus[9]
    vectors = spark.createDataFrame(
        [(i, v.tolist(), 0) for i, v in enumerate(corpus)],
        "vec_id long, embedding array<double>, label int",
    )
    centroids = spark.createDataFrame(
        [(i, c.tolist()) for i, c in enumerate(cents)],
        "partition_id int, centroid array<double>",
    )
    out = str(tmp_path_factory.mktemp("planted") / "index")
    build_index(vectors, out, centroids=centroids)
    queries = [*unit(rng.standard_normal((3, _DIM))), np.eye(_DIM)[0], corpus[9], cents[4]]
    return VectorSearchEngine(spark, out), queries


def _ivf_rows(spark, engine, queries, top_n, nprobe, global_limit=GLOBAL_MAX_NEIGHBORS):
    """Per query, the (id, distance) rows of the distributed ivf_search
    (expression routing), ordered like VectorSearchEngine.search."""
    qdf = spark.createDataFrame(
        [(i, q.tolist()) for i, q in enumerate(queries)], "query_id long, qv array<double>"
    )
    hits = ivf_search(
        qdf, engine.corpus, engine.centroids, nprobe=nprobe, top_n=top_n,
        global_limit=global_limit,
    ).collect()
    out = {i: [] for i in range(len(queries))}
    for h in hits:
        out[h.query_id].append((str(h.neighbor_id), h.distance))
    return {i: sorted(rows, key=lambda r: (r[1], r[0])) for i, rows in out.items()}


@pytest.mark.parametrize("nprobe", [1, 3, _NLIST, _NLIST + 2])
@pytest.mark.parametrize("top_n", [1, 5])
def test_search_equals_ivf_search(spark, planted, nprobe, top_n):
    """Driver routing + statically pruned scan == ivf_search, with the
    same ids, distances and order on every planted tie."""
    engine, queries = planted
    want = _ivf_rows(spark, engine, queries, top_n, nprobe)
    for i, q in enumerate(queries):
        got = [(r.id, r.distance) for r in engine.search(q.tolist(), top_n, nprobe).collect()]
        assert got == want[i], f"query {i}, top_n={top_n}, nprobe={nprobe}"


def test_planted_ties_are_exercised(spark, planted):
    """The planted cases reach the rules they are meant to test."""
    engine, queries = planted
    e0, q9, c4 = queries[3:]
    # Identical centroids 4 and 5: partition 5 holds no rows, so routing
    # to it instead of 4 would return nothing.
    assert engine.search(c4.tolist(), top_n=5, nprobe=1).collect()
    # Identical vectors 9 and 10: 9 is kept by numeric id, and both come
    # back ordered by string id.
    assert [r.id for r in engine.search(q9.tolist(), top_n=1, nprobe=1).collect()][:1] == ["9"]
    assert [r.id for r in engine.search(q9.tolist(), top_n=5, nprobe=1).collect()][:2] == ["10", "9"]
    # The global limit cuts through a tie: the first row past it ties
    # with the last row kept.
    rows = _ivf_rows(spark, engine, [e0], 5, _NLIST + 2, GLOBAL_MAX_NEIGHBORS + 1)[0]
    assert len(rows) == GLOBAL_MAX_NEIGHBORS + 1
    by_id = sorted(rows, key=lambda r: (r[1], int(r[0])))
    assert by_id[-1][1] == by_id[-2][1] == round(1 - _TIE_X0, 9)


# -- search: Spark jobs per request --------------------------------------------


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_runs_in_two_jobs(spark, sf_dir, tmp_path):
    """A warm request is one pruned scan: at most 2 Spark jobs. The engine
    add_batch returns keeps the centroid matrix (appends never re-fit)
    and searches like a freshly opened engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "index")
    build_index(emb.filter(F.col("vec_id") < 400), d, centroids=fixture_centroids(spark, sf_dir))
    engine = VectorSearchEngine(spark, d)
    qv = list(emb.filter(F.col("vec_id") == 17).collect()[0].embedding)
    engine.search(qv, top_n=5, nprobe=3).collect()
    assert _jobs_of(spark, "api-search", lambda: engine.search(qv, top_n=5, nprobe=3).collect()) <= 2

    grown = engine.add_batch(emb.filter(F.col("vec_id") >= 400))
    assert grown._centroid_matrix is engine._centroid_matrix
    q450 = list(emb.filter(F.col("vec_id") == 450).collect()[0].embedding)
    got = grown.search(q450, top_n=5, nprobe=3).collect()
    assert got == VectorSearchEngine(spark, d).search(q450, top_n=5, nprobe=3).collect()
    assert got[0].id == "450"
    assert _jobs_of(spark, "api-grown-search", lambda: grown.search(q450, top_n=5, nprobe=3).collect()) <= 2
