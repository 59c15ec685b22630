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


def dense_faiss_ids(table) -> bool:
    """Every partition of ``table`` numbers its rows 0..n-1 in faiss_id."""
    per_part: dict[int, list[int]] = {}
    for r in table.select("partition_id", "faiss_id").collect():
        per_part.setdefault(r["partition_id"], []).append(r["faiss_id"])
    return all(sorted(ids) == list(range(len(ids))) for ids in per_part.values())


def _assert_equals_rebuild(spark, engine, vectors, centroids, rebuild_dir):
    build_index(vectors, rebuild_dir, centroids=centroids)
    full = VectorSearchEngine(spark, rebuild_dir)
    key = ["partition_id", "faiss_id"]
    for attr in ("corpus", "id_mapping"):
        assert dense_faiss_ids(getattr(engine, attr)), attr
        a = getattr(full, attr).drop("created_at").orderBy(*key).collect()
        b = getattr(engine, attr).drop("created_at").orderBy(*key).collect()
        assert a == b, f"{attr} diverged between rebuild and append"


def test_add_batch_after_reset_assigns_against_the_new_centroids(spark, sf_dir, tmp_path):
    """reset, then a build with other centroids into the same dir, then an
    append through a freshly opened engine: the append reads the new
    centroid files, not the reset ones, and its rows land where a rebuild
    with the new centroids puts them."""
    emb = load_table(spark, sf_dir, "embeddings")
    old = fixture_centroids(spark, sf_dir)
    n = old.count()
    new = old.select((F.lit(n - 1) - F.col("partition_id")).alias("partition_id"), "centroid")
    d = str(tmp_path / "index")
    build_index(emb.filter(F.col("vec_id") < 300), d, centroids=old)
    engine = VectorSearchEngine(spark, d)
    engine.add_batch(emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)))
    engine.reset(force=True)
    build_index(emb.filter(F.col("vec_id") < 300), d, centroids=new)
    grown = VectorSearchEngine(spark, d).add_batch(emb.filter(F.col("vec_id") >= 300))
    _assert_equals_rebuild(spark, grown, emb, new, str(tmp_path / "full"))


def test_add_batch_after_rebuild_over_appended_dir_keeps_ids_dense(spark, sf_dir, tmp_path):
    """A build over a dir this process already appended to replaces what
    the append path learned about it: the next append numbers each
    partition on from the rebuilt corpus, and the index equals a rebuild
    over the union. Both appends take the same centroid frame (add_batch's
    core with the engine's centroids held fixed), so only the next-id
    state can go stale."""
    from bioclip_vector_db_spark.operators.indexing import append_to_index

    emb = load_table(spark, sf_dir, "embeddings")
    cent = fixture_centroids(spark, sf_dir)
    d = str(tmp_path / "index")
    build_index(emb.filter(F.col("vec_id") < 200), d, centroids=cent)
    append_to_index(spark, d, emb.filter(F.col("vec_id").between(200, 299)), cent)
    build_index(emb.filter(F.col("vec_id") < 100), d, centroids=cent)
    append_to_index(spark, d, emb.filter(F.col("vec_id") >= 100), cent)
    grown = VectorSearchEngine(spark, d)
    _assert_equals_rebuild(spark, grown, emb, cent, str(tmp_path / "full"))


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


def _query_frame(spark, queries, qv_type="double"):
    return spark.createDataFrame(
        [(i, q.tolist()) for i, q in enumerate(queries)], f"query_id long, qv array<{qv_type}>"
    )


def _ivf_rows(spark, engine, queries, top_n, nprobe, global_limit=GLOBAL_MAX_NEIGHBORS):
    """Per query, the (id, distance) rows of the distributed ivf_search
    (expression routing), ordered like VectorSearchEngine.search."""
    hits = ivf_search(
        _query_frame(spark, queries), engine.corpus, engine.centroids, nprobe=nprobe, top_n=top_n,
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


@pytest.mark.parametrize("nprobe", [1, 3, _NLIST, _NLIST + 2])
@pytest.mark.parametrize("top_n", [1, 5])
def test_search_batch_equals_ivf_search(spark, planted, nprobe, top_n):
    """Driver routing of a query table + one pruned scan == expression
    ivf_search: the same schema, and the same rows in the same order."""
    engine, queries = planted
    qdf = _query_frame(spark, queries)
    want = ivf_search(
        qdf, engine.corpus, engine.centroids, nprobe=nprobe, top_n=top_n,
        global_limit=GLOBAL_MAX_NEIGHBORS,
    )
    got = engine.search_batch(qdf, top_n=top_n, nprobe=nprobe)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_search_batch_equals_ivf_search_on_float_vectors(spark, planted):
    """A float query vector routes and scores as its exact double widening."""
    engine, queries = planted
    qdf = _query_frame(spark, queries, "float")
    want = ivf_search(
        qdf, engine.corpus, engine.centroids, nprobe=3, top_n=5,
        global_limit=GLOBAL_MAX_NEIGHBORS,
    )
    got = engine.search_batch(qdf, top_n=5, nprobe=3)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_search_batch_empty_query_table(spark, planted):
    engine, queries = planted
    qdf = _query_frame(spark, queries).limit(0)
    got = engine.search_batch(qdf, top_n=5, nprobe=3)
    assert got.schema == ivf_search(qdf, engine.corpus, engine.centroids).schema
    assert got.collect() == []


@pytest.mark.parametrize(
    "bad, match",
    [
        (None, "null"),
        ([0.1] * (_DIM - 1), "dimension"),
        ([0.1] * (_DIM + 1), "dimension"),
        ([0.1, float("nan")] + [0.1] * (_DIM - 2), "non-finite"),
        ([float("-inf")] + [0.1] * (_DIM - 1), "non-finite"),
        ([0.1, None] + [0.1] * (_DIM - 2), "non-finite"),
    ],
)
def test_search_batch_rejects_malformed_rows(spark, planted, bad, match):
    """A row the expression kernel would give a null or non-finite
    distance raises, naming its query_id."""
    engine, queries = planted
    rows = [(i, q.tolist()) for i, q in enumerate(queries)] + [(77, bad)]
    qdf = spark.createDataFrame(rows, "query_id long, qv array<double>")
    with pytest.raises(ValueError, match=f"query_id 77: .*{match}"):
        engine.search_batch(qdf)


def test_search_batch_rejects_limits_below_one(spark, planted):
    engine, queries = planted
    qdf = _query_frame(spark, queries)
    with pytest.raises(ValueError, match="top_n"):
        engine.search_batch(qdf, top_n=0)
    with pytest.raises(ValueError, match="nprobe"):
        engine.search_batch(qdf, nprobe=0)


def test_search_plan_matches_the_column_form(spark, planted):
    """``search``'s SQL-string steps build the executed plan the Column
    form builds, up to expression ids, plan ids and the process-wide
    counter pyspark suffixes to lambda variable names."""
    import re

    from pyspark.sql import Window

    from bioclip_vector_db_spark.api import _route
    from bioclip_vector_db_spark.functions.vector import cosine_distance, lit_array

    engine, queries = planted
    q = queries[0]
    probes = _route(engine._centroid_ids, engine._centroid_matrix, q[None, :], 3)[0].tolist()
    by = (F.col("distance").asc(), F.col("neighbor_id").asc())
    column_form = (
        engine.corpus.filter(F.col("partition_id").isin(probes))
        .select(
            "partition_id", F.col("vec_id").alias("neighbor_id"),
            cosine_distance(lit_array(q.tolist()), F.col("embedding")).alias("distance"),
        )
        .withColumn("local_rank", F.row_number().over(Window.partitionBy("partition_id").orderBy(*by)))
        .filter(F.col("local_rank") <= 5)
        .orderBy(*by)
        .limit(GLOBAL_MAX_NEIGHBORS)
        .select(F.col("neighbor_id").cast("string").alias("id"), "distance")
        .orderBy(F.col("distance").asc(), F.col("id").asc())
    )
    got = engine.search(q.tolist(), top_n=5, nprobe=3)

    def plan(df):
        text = df._jdf.queryExecution().executedPlan().toString()
        text = re.sub(r"\b([xy])_\d+#", r"\1#", re.sub(r"#\d+L?", "#", text))
        return re.sub(r"plan_id=\d+", "plan_id=", text)

    assert plan(got) == plan(column_form)
    assert got.collect() == column_form.collect()


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


def test_search_batch_runs_in_five_jobs_without_reading_centroids(spark, sf_dir, tmp_path):
    """A warm batch request routes against the matrix held since open: at
    most 5 Spark jobs, and it answers with the centroid files gone."""
    import shutil

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "index")
    build_index(emb, d, centroids=fixture_centroids(spark, sf_dir))
    engine = VectorSearchEngine(spark, d)
    queries = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    want = engine.search_batch(queries, top_n=5, nprobe=3).collect()
    shutil.rmtree(f"{d}/centroids")
    got = []
    n_jobs = _jobs_of(
        spark, "api-search-batch",
        lambda: got.extend(engine.search_batch(queries, top_n=5, nprobe=3).collect()),
    )
    assert n_jobs <= 5
    assert got == want and {r.query_id for r in got} == set(range(32))


def test_grown_engine_rereads_without_a_job(spark, sf_dir, tmp_path):
    """Appends never change a table's schema: the grown engine re-reads
    corpus and id_mapping with the schemas from open (no footer-inference
    job) and searches like a freshly opened engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "index")
    build_index(emb.filter(F.col("vec_id") < 300), d, centroids=fixture_centroids(spark, sf_dir))
    grown = VectorSearchEngine(spark, d).add_batch(emb.filter(F.col("vec_id") >= 300))
    assert _jobs_of(spark, "api-reread", grown._read_grown_tables) == 0
    fresh = VectorSearchEngine(spark, d)
    assert grown.corpus.schema == fresh.corpus.schema
    assert grown.id_mapping.schema == fresh.id_mapping.schema
    for vid in (3, 420):
        q = list(emb.filter(F.col("vec_id") == vid).collect()[0].embedding)
        got = grown.search(q, top_n=5, nprobe=3).collect()
        assert got == fresh.search(q, top_n=5, nprobe=3).collect()
        assert got[0].id == str(vid)
    assert grown.query("420").count() == 1
