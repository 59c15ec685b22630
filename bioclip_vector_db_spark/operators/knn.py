"""Nearest-neighbor search operators — the reference's serving path, Spark-first.

Reference semantics re-expressed (file:line in /root/reference):
- O22 leader routing: top-``nprobe`` centroids per query
  (src/bioclip_vector_db/query/neighborhood_server.py:181-185,200-203).
- O23 partition pruning: only routed partitions are scanned
  (neighborhood_server.py:208-225) -> a ``partition_id`` equi-join that
  Catalyst turns into partition pruning on a partitioned corpus.
- O24 local exact top-n inner-product search per probed partition
  (neighborhood_server.py:163-170).
- O25 id remap: (partition_id, faiss_id) -> original_id — a hash join
  replacing SQLite point lookups (neighborhood_server.py:172-179).
- O27/O28 merge: union + ORDER BY distance + global LIMIT
  (neighborhood_server.py:297-301, client/nearest_neighbor_client.py:62-72).
- X3 batch KNN join: the whole pipeline lifted from one query vector to a
  query *table* — the form that actually scales on a cluster.

Scale notes (local[32] tests, 1000-executor design):
- The query set and centroid table are broadcast; the corpus is never
  shuffled before scoring — scoring runs map-side inside the scan.
- Top-k per query uses ``row_number() <= k``; Spark >= 3.5 rewrites this to
  WindowGroupLimit, which takes the per-partition top-k BEFORE the shuffle,
  so shuffle volume is O(#queries * k * #partitions), not O(corpus).
- ``distance = round(1 - dot, 9)`` computed in DOUBLE before ranking, ties
  broken by neighbor id -> identical ordering in Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_distance, dot_product, l2_normalize
from ..plans.registry import register
from ..sources.catalog import load_table

# ---------------------------------------------------------------------------
# Library API (arbitrary DataFrames)
# ---------------------------------------------------------------------------


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k cosine join: every query vs every corpus row.

    The Spark restatement of the reference's flat-IP search (O24) with
    ``nlist = 1``. The query side is broadcast (it is the small side by
    construction); scoring happens inside the corpus scan, and the window
    top-k is group-limited before the shuffle.

    Returns ``(query_id, neighbor_id, distance, rank)``.
    """
    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    scored = corpus.join(q).select(
        F.col(query_id_col),
        F.col(corpus_id_col).alias("neighbor_id"),
        cosine_distance(F.col(query_vec_col), F.col(corpus_vec_col)).alias("distance"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


#: Memoized kernel choices, keyed by (session id, semantic hash of the
#: centroid table's analyzed plan): the probe below fires a Spark job, and
#: before memoization EVERY route/assign/PQ-encode call with
#: kernel='auto' paid that driver action again — one extra job per
#: ivf_search even on the cached 10-row fixture centroids. The semantic
#: hash is a driver-side plan hash (no job), identical for re-built
#: DataFrames over the same plan, so repeated calls probe once per
#: distinct centroid table per session. Caveat (documented trade):
#: centroid tables are build artifacts, immutable within a session; a
#: path whose FILES are swapped mid-session across the nlist threshold
#: would reuse the stale choice — both kernels stay correct either way,
#: only the small/large heuristic lags.
_KERNEL_CACHE: dict[tuple[int, int], str] = {}

#: Collapsed 1-row centroid tables for assign_partitions, keyed like
#: _KERNEL_CACHE — per-micro-batch plan reconstruction is driver latency.
_CENTS_CACHE: dict[tuple[int, int], "DataFrame"] = {}


def _plan_key(df: DataFrame) -> tuple[int, int]:
    """(session id, semantic hash of the analyzed plan): a driver-side
    hash, no job, equal for re-built DataFrames over the same plan."""
    return (id(df.sparkSession), df._jdf.queryExecution().analyzed().semanticHash())


def _kernel_for(nlist: int) -> str:
    from .knn_numpy import LARGE_NLIST_THRESHOLD

    return "numpy" if nlist > LARGE_NLIST_THRESHOLD else "expr"


def seed_kernel_choice(centroids: DataFrame, nlist: int) -> None:
    """Record the ``kernel='auto'`` choice for a centroid table whose row
    count the caller already holds (api.VectorSearchEngine collects the
    table when it opens), so no probe job ever runs for it."""
    _KERNEL_CACHE[_plan_key(centroids)] = _kernel_for(nlist)


def _pick_kernel(kernel: str, centroids: DataFrame) -> str:
    """Resolve ``kernel='auto'`` by probing the centroid count: small-k
    stays on the Catalyst expression path (codegen-adjacent, exact oracle
    parity); above LARGE_NLIST_THRESHOLD the blocked-BLAS mapInPandas
    kernel takes over — at the reference's nlist=31,622 x 512-d the
    interpreted HOF fold is the engine's real 100-TB bottleneck. The probe
    is a LIMIT k+1 count — O(threshold) work off a table that is tiny by
    construction — memoized per (session, centroid plan) so a serving
    session pays it once, not per query (see _KERNEL_CACHE)."""
    if kernel != "auto":
        return kernel
    key = _plan_key(centroids)
    choice = _KERNEL_CACHE.get(key)
    if choice is None:
        from .knn_numpy import LARGE_NLIST_THRESHOLD

        choice = _kernel_for(centroids.limit(LARGE_NLIST_THRESHOLD + 1).count())
        _KERNEL_CACHE[key] = choice
    return choice


def route_queries(
    queries: DataFrame, centroids: DataFrame, nprobe: int, *, kernel: str = "auto"
) -> DataFrame:
    """O22: pick the ``nprobe`` nearest centroids per query vector.

    ``centroids`` is ``(partition_id, centroid)`` — nlist rows. Returns
    ``(query_id, qv, partition_id, probe_rank)``.

    ``kernel``: ``'expr'`` joins the broadcast centroid table and window-
    ranks (each query expands to nlist scored rows — ideal while nlist is
    small); ``'numpy'`` runs the blocked-GEMM top-nprobe kernel
    (knn_numpy.route_queries_numpy) with no row expansion and no window;
    ``'auto'`` switches on LARGE_NLIST_THRESHOLD.
    """
    if _pick_kernel(kernel, centroids) == "numpy":
        from .knn_numpy import route_queries_numpy

        return route_queries_numpy(queries, centroids, nprobe)
    scored = queries.join(F.broadcast(centroids)).withColumn(
        "centroid_distance", cosine_distance(F.col("qv"), F.col("centroid"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("centroid_distance").asc(), F.col("partition_id").asc()
    )
    return (
        scored.withColumn("probe_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", "partition_id", "probe_rank")
    )


def assign_partitions(
    vectors: DataFrame, centroids: DataFrame, *, kernel: str = "auto"
) -> DataFrame:
    """O19: nearest-centroid (k=1) assignment of every corpus vector.

    Map-side argmin — the scalable form of FAISS ``quantizer.search(v, 1)``
    (faiss_utils.py:106-118). The centroid table is collapsed to ONE row
    holding an array of (pid, centroid) structs, broadcast, and folded over
    per vector with ``aggregate``: no row expansion (the old join+window form
    materialized N x nlist scored rows through a BroadcastNestedLoopJoin),
    no window, no shuffle — each vector is scored and assigned inside the
    scan, inside whole-stage codegen. At the reference's design point
    (N=10M, nlist=31,622 — storage_impl.py:78-82) this is the difference
    between 3x10^11 intermediate rows and zero.

    Ties broken toward the smallest partition_id: ``array_min`` compares
    the ``(d, pid)`` structs lexicographically — order-INDEPENDENT of the
    collected array (``collect_list`` guarantees no ordering), matching the
    oracle's ``ORDER BY distance, partition_id`` convention. Distances are
    rounded to PARITY_SCALE before comparison so Spark and DuckDB pick
    identical winners.

    On a real lakehouse this output is materialized via
    ``write.partitionBy``, making O23's pruning a storage-level operation.

    ``kernel``: this expression fold is ``'expr'`` — ideal while nlist is
    small (fixture k=10: plan-asserted no window, no row expansion). HOFs
    are interpreted, so at large nlist the fold costs nlist x dim
    interpreted multiply-adds PER ROW; ``'numpy'``
    (knn_numpy.assign_partitions_numpy) scores each Arrow batch as blocked
    BLAS GEMMs instead. ``'auto'`` switches on LARGE_NLIST_THRESHOLD;
    both kernels round distances to 9 decimals before the argmin and break
    ties toward the smallest pid, so they pick identical winners at any
    nlist. An APPROXIMATE O(n sqrt(nlist) d) two-tier kernel exists for
    structured corpora as an explicit opt-in
    (``knn_numpy.assign_partitions_numpy(..., routed=True)``) — see its
    docstring for the measured reason it is NOT the auto default here
    even though SemDeDup's assignment routes automatically.
    """
    if _pick_kernel(kernel, centroids) == "numpy":
        from .knn_numpy import assign_partitions_numpy

        return assign_partitions_numpy(vectors, centroids)
    # The collapsed 1-row centroid table is memoized per (session,
    # centroid plan) like the kernel choice: a streaming ingest calls
    # this once per micro-batch with the SAME centroids, and rebuilding
    # the agg plan is pure driver-side py4j latency on the batch path.
    ckey = _plan_key(centroids)
    cents = _CENTS_CACHE.get(ckey)
    if cents is None:
        cents = centroids.groupBy().agg(
            F.collect_list(
                F.struct(
                    F.col("partition_id").alias("pid"), F.col("centroid").alias("c")
                )
            ).alias("_cents")
        )
        _CENTS_CACHE[ckey] = cents
    emb = F.col("embedding").cast("array<double>")
    # array_min over (d, pid) structs = lexicographic min = argmin with the
    # smallest-pid tiebreak, one distance evaluation per centroid.
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda x: F.struct(cosine_distance(emb, x["c"]).alias("d"), x["pid"].alias("pid")),
        )
    )
    return (
        vectors.join(F.broadcast(cents))
        .withColumn("partition_id", best["pid"])
        .drop("_cents")
    )


def ivf_search(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    *,
    nprobe: int = 3,
    top_n: int = 10,
    global_limit: int = 100,
    loaded_partitions: str | None = None,
) -> DataFrame:
    """Two-tier scatter-gather search: O22 routing -> O23 pruning -> O24
    per-partition top-n -> O27/O28 merge with a global per-query limit.

    ``corpus_assigned`` must carry ``(vec_id, embedding, partition_id)``.
    ``top_n`` is neighbors PER PROBED PARTITION (the reference's semantics,
    neighborhood_server.py:312); the merge keeps ``global_limit`` per query.

    ``loaded_partitions``: optional O15 spec string (``"1,2,5-10"``). The
    reference's server only searches partitions both routed-to AND loaded
    on the node — ``partitions_to_search`` is intersected against
    ``self._indexes``, silently skipping the rest
    (neighborhood_server.py:208-225). That intersection is a broadcast
    semi-join of the routed probes against the expanded spec.
    """
    routed = route_queries(queries, centroids, nprobe)
    if loaded_partitions is not None:
        from .relational import expand_partition_spec_df

        loaded = expand_partition_spec_df(queries.sparkSession, loaded_partitions)
        routed = routed.join(F.broadcast(loaded), "partition_id", "semi")
    # O23: equi-join on partition_id == partition pruning against a
    # partitionBy(partition_id) layout; only probed partitions are scanned.
    candidates = corpus_assigned.join(
        F.broadcast(routed.select("query_id", "qv", "partition_id")), "partition_id"
    )
    scored = candidates.select(
        "query_id",
        "partition_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_distance(F.col("qv"), F.col("embedding")).alias("distance"),
    )
    w_local = Window.partitionBy("query_id", "partition_id").orderBy(
        F.col("distance").asc(), F.col("neighbor_id").asc()
    )
    local_topn = scored.withColumn("local_rank", F.row_number().over(w_local)).filter(
        F.col("local_rank") <= top_n
    )
    w_global = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("neighbor_id").asc()
    )
    return (
        local_topn.withColumn("rank", F.row_number().over(w_global).cast("bigint"))
        .filter(F.col("rank") <= global_limit)
        .select("query_id", "neighbor_id", "partition_id", "distance", "rank")
    )


def similarity_self_join(vectors: DataFrame, threshold: float) -> DataFrame:
    """X4: all pairs (a, b) with cosine similarity above ``threshold``.

    Emits each unordered pair once (``a < b``). This is the EXACT all-pairs
    form — quadratic by definition — kept for bounded slices and as the
    recall-1 reference. The scale path is
    ``operators.dedup.embedding_near_dups`` (simhash bucketing + in-bucket
    verify) for high thresholds, or IVF-routed ``knn_batch_join`` when a
    top-k per row is wanted instead of a global threshold.
    """
    a = vectors.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec")
    )
    b = vectors.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec")
    )
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("similarity", F.round(dot_product(F.col("a_vec"), F.col("b_vec")), 9))
        .filter(F.col("similarity") > threshold)
        .select("a_id", "b_id", "similarity")
    )


# ---------------------------------------------------------------------------
# Fixture centroids (FIXTURES.md part B): per-label mean, re-normalized.
# Deterministic and DuckDB-expressible, standing in for the trained
# k-means leader index (T3) in [Q] queries.
# ---------------------------------------------------------------------------


#: Per-(session, sf_dir) cache of derived tables that many queries share
#: (centroids + assigned corpus). On a real deployment these are materialized
#: tables written once by the index build (O5, build_index); recomputing a
#: posexplode-aggregate per query is pure waste. Persisted MEMORY_AND_DISK:
#: centroids are nlist x dim (tiny), the assigned corpus is corpus-sized but
#: column-pruned to (vec_id, embedding, label, partition_id).
_DERIVED_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _cached(spark: SparkSession, sf_dir: str, what: str, build) -> DataFrame:
    key = (id(spark), sf_dir, what)
    df = _DERIVED_CACHE.get(key)
    if df is None:
        # LAZY localCheckpoint, not persist (optimization round 17): these
        # prebuilt-index tables feed MANY downstream queries, and every
        # DataFrame op analyzes its whole logical tree eagerly in the JVM
        # — with persist the build lineage stayed in the logical plan, so
        # each consumer query re-analyzed (and AQE re-planned) the build
        # subtree on every op. The checkpoint replaces it with a leaf;
        # measured same-session A/B over the 7 index-probing queries:
        # construct+exec 21.4s -> 10.8s (ivf_pq_search 6.2->2.1,
        # knn_recall_eval 4.1->1.4, knn_radius_search 3.0->0.9).
        # Storage class is the same MEMORY_AND_DISK; the cache-table
        # BUILD plans leave the per-query fingerprints and are guarded
        # directly instead (tests/test_plans.py builder-shape guards).
        df = build().localCheckpoint(eager=False)
        _DERIVED_CACHE[key] = df
    return df


def fixture_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(partition_id, centroid) — per-label mean of embeddings, re-normalized.

    Element-wise mean via posexplode + groupBy(label, pos): shuffles
    (nlist x dim) aggregation keys with map-side partial aggregation —
    scales linearly with the corpus, never collects vectors into one list.
    Cached per (session, sf_dir) — see _DERIVED_CACHE.
    """
    return _cached(spark, sf_dir, "centroids", lambda: _fixture_centroids(spark, sf_dir))


def assigned_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings corpus with its nearest-centroid ``partition_id`` —
    the in-memory analog of the ``write.partitionBy`` IVF layout (T2+O19),
    cached per (session, sf_dir) so the six queries built on it don't each
    redo the assignment scan."""
    return _cached(
        spark,
        sf_dir,
        "assigned",
        lambda: assign_partitions(
            load_table(spark, sf_dir, "embeddings"), fixture_centroids(spark, sf_dir)
        ),
    )


def centroids_from(emb: DataFrame) -> DataFrame:
    """(partition_id, centroid) from ANY (label, embedding) corpus slice —
    per-label mean of embeddings, re-normalized. Element-wise mean via
    posexplode + groupBy(label, pos): shuffles (nlist x dim) aggregation
    keys with map-side partial aggregation — scales linearly with the
    corpus, never collects vectors into one list."""
    pos = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    means = pos.groupBy("label", "pos").agg(F.avg("val").alias("v"))
    cent = (
        means.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(
            F.col("label").cast("int").alias("partition_id"),
            F.expr("transform(pv, x -> x.v)").alias("centroid"),
        )
    )
    return cent.select("partition_id", l2_normalize(F.col("centroid")).alias("centroid"))


def _fixture_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return centroids_from(load_table(spark, sf_dir, "embeddings"))


#: DuckDB CTE mirroring fixture_centroids — composed into oracle SQL below.
CENTROIDS_CTE = """
cent_pos AS (
    SELECT label,
           unnest(generate_series(1, len(embedding))) AS pos,
           unnest(embedding) AS val
    FROM embeddings
),
cent_means AS (
    SELECT label, pos, avg(val::DOUBLE) AS v
    FROM cent_pos GROUP BY label, pos
),
cent_raw AS (
    SELECT label::INT AS partition_id, list(v ORDER BY pos) AS centroid
    FROM cent_means GROUP BY label
),
centroids AS (
    SELECT partition_id,
           list_transform(centroid, x -> x / sqrt(list_dot_product(centroid, centroid))) AS centroid
    FROM cent_raw
)
"""


def _fixture_queries(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )


# ---------------------------------------------------------------------------
# Declared queries + DuckDB oracles
# ---------------------------------------------------------------------------


@register(
    "knn_bruteforce",
    oracle="""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
),
scored AS (
    SELECT q.query_id,
           e.vec_id AS neighbor_id,
           round(1.0 - list_dot_product(q.qv, e.embedding::DOUBLE[]), 9) AS distance
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id >= 5
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, distance, rank
FROM ranked WHERE rank <= 10
""",
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: exact top-10 cosine KNN, 5 query vectors vs the rest
    of the corpus (O24+O27+O28 with nlist=1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _fixture_queries(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return knn_join(queries, corpus, k=10)


@register(
    "leader_routing",
    oracle=f"""
WITH {CENTROIDS_CTE.strip().lstrip()},
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
),
scored AS (
    SELECT q.query_id, c.partition_id,
           round(1.0 - list_dot_product(q.qv, c.centroid), 9) AS centroid_distance
    FROM q CROSS JOIN centroids c
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY centroid_distance, partition_id) AS probe_rank
    FROM scored
)
SELECT query_id, partition_id, centroid_distance, probe_rank
FROM ranked WHERE probe_rank <= 3
""",
)
def q_leader_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O22: top-nprobe(=3) centroid routing for 5 query vectors."""
    queries = _fixture_queries(spark, sf_dir)
    cent = fixture_centroids(spark, sf_dir)
    scored = queries.join(F.broadcast(cent)).select(
        "query_id",
        "partition_id",
        cosine_distance(F.col("qv"), F.col("centroid")).alias("centroid_distance"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("centroid_distance").asc(), F.col("partition_id").asc()
    )
    return (
        scored.withColumn("probe_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("probe_rank") <= 3)
    )


@register(
    "partition_assignment",
    oracle=f"""
WITH {CENTROIDS_CTE.strip()},
scored AS (
    SELECT e.vec_id, c.partition_id,
           round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9) AS d
    FROM embeddings e CROSS JOIN centroids c
),
ranked AS (
    SELECT vec_id, partition_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, partition_id) AS r
    FROM scored
)
SELECT vec_id, partition_id FROM ranked WHERE r = 1
""",
)
def q_partition_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19: nearest-centroid partition assignment for the whole corpus."""
    return assigned_corpus(spark, sf_dir).select("vec_id", "partition_id")


def _ivf_oracle(
    loaded_spec: str | None = None,
    label_in: "tuple[int, ...] | None" = None,
    *,
    nprobe: int = 3,
    top_n: int = 10,
    global_limit: int = 100,
) -> str:
    """The ivf_search DuckDB oracle, optionally restricted to an O15
    loaded-partition spec (same expansion SQL as partition_range_expansion,
    applied AFTER routing — the reference's intersection order) and/or to
    a metadata label filter (applied to the corpus side BEFORE the
    per-partition top-n — filtered-search semantics).

    (nprobe, top_n, global_limit) mirror ivf_search's knobs so any search
    configuration is parity-gated from the same numbers the Spark plan
    runs (tests/test_param_fuzz.py sweeps them)."""
    loaded_cte = ""
    routed_filter = ""
    if loaded_spec is not None:
        loaded_cte = f""",
loaded_tokens AS (
    SELECT trim(t) AS token
    FROM unnest(string_split('{loaded_spec}', ',')) AS u(t)
),
loaded AS (
    SELECT DISTINCT unnest(generate_series(
        string_split(token, '-')[1]::INT,
        coalesce(try_cast(string_split(token, '-')[2] AS INT),
                 string_split(token, '-')[1]::INT)
    )) AS partition_id
    FROM loaded_tokens WHERE length(token) > 0
)"""
        routed_filter = " AND partition_id IN (SELECT partition_id FROM loaded)"
    label_filter = (
        f" AND label IN ({', '.join(map(str, label_in))})" if label_in else ""
    )
    return f"""
WITH {CENTROIDS_CTE.strip()},
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
),
assign_scored AS (
    SELECT e.vec_id, e.embedding, e.label, c.partition_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9),
                        c.partition_id) AS r
    FROM embeddings e CROSS JOIN centroids c
),
corpus AS (
    SELECT vec_id, embedding, partition_id FROM assign_scored WHERE r = 1{label_filter}
){loaded_cte},
routed AS (
    SELECT query_id, qv, partition_id FROM (
        SELECT q.query_id, q.qv, c.partition_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(1.0 - list_dot_product(q.qv, c.centroid), 9),
                            c.partition_id) AS probe_rank
        FROM q CROSS JOIN centroids c
    ) WHERE probe_rank <= {nprobe}{routed_filter}
),
scored AS (
    SELECT r.query_id, co.partition_id, co.vec_id AS neighbor_id,
           round(1.0 - list_dot_product(r.qv, co.embedding::DOUBLE[]), 9) AS distance
    FROM routed r JOIN corpus co ON r.partition_id = co.partition_id
),
local_topn AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id, partition_id
            ORDER BY distance, neighbor_id) AS local_rank
        FROM scored
    ) WHERE local_rank <= {top_n}
)
SELECT query_id, neighbor_id, partition_id, distance, rank FROM (
    SELECT query_id, neighbor_id, partition_id, distance,
           row_number() OVER (PARTITION BY query_id ORDER BY distance, neighbor_id) AS rank
    FROM local_topn
) WHERE rank <= {global_limit}
"""


@register("ivf_search", oracle=_ivf_oracle())
def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full two-tier scatter-gather search (O22+O23+O24+O27+O28):
    nprobe=3, top_n=10 per partition, global limit 100."""
    queries = _fixture_queries(spark, sf_dir)
    cent = fixture_centroids(spark, sf_dir)
    corpus = assigned_corpus(spark, sf_dir)
    return ivf_search(queries, corpus, cent, nprobe=3, top_n=10, global_limit=100)


@register("ivf_search_partial_server", oracle=_ivf_oracle("0-3,5,7"))
def q_ivf_search_partial_server(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O23's loaded-partition restriction [Q]: the same search on a server
    that has only partitions 0-3,5,7 loaded — routed probes landing on
    unloaded partitions are silently skipped, exactly the
    ``partitions_to_search`` / ``self._indexes`` intersection of the
    reference (neighborhood_server.py:208-225)."""
    queries = _fixture_queries(spark, sf_dir)
    cent = fixture_centroids(spark, sf_dir)
    corpus = assigned_corpus(spark, sf_dir)
    return ivf_search(
        queries, corpus, cent, nprobe=3, top_n=10, global_limit=100,
        loaded_partitions="0-3,5,7",
    )


#: Label set for the filtered-search gate.
FILTERED_SEARCH_LABELS = (2, 5, 7)


@register(
    "ivf_filtered_search", oracle=_ivf_oracle(label_in=FILTERED_SEARCH_LABELS)
)
def q_ivf_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search [Q]: the metadata-predicate + ANN
    combination every serving layer needs (search only rows whose label
    is in {2, 5, 7}) — implemented as PRE-filtering: the predicate lands
    on the corpus scan (a pushed parquet filter on the partitioned
    layout) BEFORE routing-pruned per-partition top-n, so the filter can
    never starve the result set the way post-filtering a fixed top-k
    does. The reference has no metadata filtering at all (its only
    restriction is loaded partitions); this is the extension its users
    ask of a vector DB first."""
    queries = _fixture_queries(spark, sf_dir)
    cent = fixture_centroids(spark, sf_dir)
    corpus = assigned_corpus(spark, sf_dir).filter(
        F.col("label").isin(*FILTERED_SEARCH_LABELS)
    )
    return ivf_search(queries, corpus, cent, nprobe=3, top_n=10, global_limit=100)


@register(
    "knn_recall_eval",
    oracle=f"""
WITH {CENTROIDS_CTE.strip()},
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 25
),
assign_scored AS (
    SELECT e.vec_id, e.embedding, e.label, c.partition_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9),
                        c.partition_id) AS r
    FROM embeddings e CROSS JOIN centroids c
),
corpus AS (
    SELECT vec_id, embedding, partition_id FROM assign_scored WHERE r = 1
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(1.0 - list_dot_product(q.qv, e.embedding::DOUBLE[]), 9),
                            e.vec_id) AS rank
        FROM q CROSS JOIN embeddings e
    ) WHERE rank <= 10
),
routed AS (
    SELECT query_id, qv, partition_id FROM (
        SELECT q.query_id, q.qv, c.partition_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(1.0 - list_dot_product(q.qv, c.centroid), 9),
                            c.partition_id) AS probe_rank
        FROM q CROSS JOIN centroids c
    ) WHERE probe_rank <= 1
),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               row_number() OVER (
                   PARTITION BY s.query_id ORDER BY s.distance, s.neighbor_id) AS rank
        FROM (
            SELECT r.query_id, co.vec_id AS neighbor_id,
                   round(1.0 - list_dot_product(r.qv, co.embedding::DOUBLE[]), 9) AS distance
            FROM routed r JOIN corpus co ON r.partition_id = co.partition_id
        ) s
    ) WHERE rank <= 10
)
SELECT e.query_id,
       count(*)::BIGINT AS n_exact,
       count(a.neighbor_id)::BIGINT AS n_hit,
       round(count(a.neighbor_id)::DOUBLE / count(*), 9) AS recall_at_10
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
""",
)
def q_knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality measurement [Q]: recall@10 of the routed search at the
    reference's default nprobe=1 (neighborhood_server.py:312) against the
    exact scan, per query — the recall/latency tradeoff FAISS IVF indexes
    are tuned by. Both sides share the scoring kernel; the eval itself is
    one broadcast hash join + aggregate, so it runs at corpus scale (the
    exact side is the only O(Q x N) stage, and it is the yardstick)."""
    queries = _fixture_queries(spark, sf_dir, n=25)
    cent = fixture_centroids(spark, sf_dir)
    corpus = assigned_corpus(spark, sf_dir)
    exact = knn_join(queries, corpus, k=10)
    approx = ivf_search(queries, corpus, cent, nprobe=1, top_n=10, global_limit=10)
    hits = exact.join(
        approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        F.round(
            F.coalesce(F.sum("hit"), F.lit(0)) / F.count(F.lit(1)), 9
        ).alias("recall_at_10"),
    )


@register(
    "knn_batch_join",
    oracle=f"""
WITH {CENTROIDS_CTE.strip()},
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id % 25 = 0
),
assign_scored AS (
    SELECT e.vec_id, e.embedding, e.label, c.partition_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9),
                        c.partition_id) AS r
    FROM embeddings e CROSS JOIN centroids c
),
corpus AS (
    SELECT vec_id, embedding, partition_id FROM assign_scored WHERE r = 1
),
routed AS (
    SELECT query_id, qv, partition_id FROM (
        SELECT q.query_id, q.qv, c.partition_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(1.0 - list_dot_product(q.qv, c.centroid), 9),
                            c.partition_id) AS probe_rank
        FROM q CROSS JOIN centroids c
    ) WHERE probe_rank <= 3
),
scored AS (
    SELECT r.query_id, co.vec_id AS neighbor_id,
           round(1.0 - list_dot_product(r.qv, co.embedding::DOUBLE[]), 9) AS distance
    FROM routed r JOIN corpus co ON r.partition_id = co.partition_id
    WHERE co.vec_id <> r.query_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, distance, rank FROM ranked WHERE rank <= 5
""",
)
def q_knn_batch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: batch KNN join — a query TABLE (every 25th vector) routed
    through the IVF layout (nprobe=3), excluding self-matches; top-5 each.

    Round 1 shipped this as a flat broadcast scan — O(Q x N) with Q growing
    linearly with the corpus, i.e. effectively quadratic. Routing first
    means each query only scores candidates in its nprobe routed partitions
    (nprobe/nlist of the corpus), and the candidate join is an equi-join on
    ``partition_id`` that Catalyst sizes itself (broadcast here; shuffle
    hash join — or storage-level partition pruning against the
    ``partitionBy`` layout — at cluster scale). The oracle is re-derived
    against the SAME routed semantics, so the gate checks IVF results
    exactly rather than pretending the flat scan still runs.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cent = fixture_centroids(spark, sf_dir)
    corpus = assigned_corpus(spark, sf_dir)
    routed = route_queries(queries, cent, nprobe=3)
    scored = (
        corpus.join(routed.select("query_id", "qv", "partition_id"), "partition_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_distance(F.col("qv"), F.col("embedding")).alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= 5
    )


@register(
    "similarity_threshold_join",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.vec, b.vec), 9) AS similarity
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.vec, b.vec), 9) > 0.3
""",
)
def q_similarity_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: pairwise similarity self-join with threshold 0.3 on a bounded
    slice (vec_id < 200)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return similarity_self_join(emb, 0.3)


@register(
    "health_aggregates",
    oracle=f"""
WITH {CENTROIDS_CTE.strip()},
assign_scored AS (
    SELECT e.vec_id, len(e.embedding) AS dim, c.partition_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9),
                        c.partition_id) AS r
    FROM embeddings e CROSS JOIN centroids c
),
corpus AS (SELECT * FROM assign_scored WHERE r = 1)
SELECT partition_id,
       count(*) AS n_vectors,
       count(DISTINCT dim) AS n_dims
FROM corpus GROUP BY partition_id
""",
)
def q_health_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O29: per-partition vector counts + dimension-consistency check
    (neighborhood_server.py:228-241)."""
    corpus = assigned_corpus(spark, sf_dir).withColumn("dim", F.size("embedding"))
    return corpus.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("dim").alias("n_dims"),
    )


# ---------------------------------------------------------------------------
# X3+: MMR diversified rerank (serving-side result diversification)
# ---------------------------------------------------------------------------

MMR_K = 5
MMR_POOL = 20


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = MMR_K,
    pool: int = MMR_POOL,
    rel_weight: int = 1,
    div_weight: int = 1,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998): pull
    a ``pool``-sized exact top-k candidate set per query, then greedily
    select ``k`` results maximizing ``rel*sim(q,d) - div*max_s sim(d,s)``
    over the already-selected set (lambda = rel/(rel+div), default 0.5) —
    the standard diversification pass a vector-serving tier runs on top
    of ANN output.

    Returns ``(query_id, step, vec_id, mmr_score_e9)`` — step is
    selection order (1 = plain argmax relevance); mmr_score_e9 is the
    greedy objective in INTEGER e9 scale (similarities quantized to
    round(sim*1e9) before the weighted difference). Floating-point
    0.5*q - 0.5*p on 9-decimal inputs lands exactly on ties at the 10th
    decimal, where engines' rounding modes legitimately differ by 1e-9 —
    integer scoring removes the tie class entirely, the same
    quantize-before-combine rule text_lm_score uses.

    Determinism: ranks on the exact integer score, ties broken by vec_id.

    Scale shape: the candidate pull is the broadcast-scored,
    WindowGroupLimit-pruned knn_join — the only corpus-sized stage — and
    every similarity (qsim_e9, psim_e9) is computed JVM-side before any
    Python runs, so cross-engine float parity is untouched. The greedy
    selection itself is inherently sequential PER QUERY but embarrassingly
    parallel ACROSS queries, so it runs as ONE Arrow-batched
    applyInPandas over query_id groups (pool^2 integer-pair rows per
    group): one shuffle, then pure in-memory integer argmax per group.
    The previous unrolled-DataFrame form was retired — its selected(i)
    lineage reread selected(i-1) twice per step, an exponential
    recompute chain that cost ~100 shuffle stages for k=5 (14s at sf0.1
    vs ~1s for this form, identical output)."""
    from ..plans.registry import transient_persist

    cands = knn_join(queries, corpus, k=pool).select(
        "query_id",
        F.col("neighbor_id").alias("vec_id"),
        F.round((1.0 - F.col("distance")) * 1e9, 0).cast("bigint").alias("qsim_e9"),
    )
    cands = transient_persist(
        cands.join(corpus.select("vec_id", "embedding"), "vec_id").select(
            "query_id", "vec_id", "qsim_e9", "embedding"
        )
    )
    a = cands.select(
        "query_id", F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec")
    )
    b = cands.select(
        "query_id", F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec")
    )
    pairs = transient_persist(
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            F.round(
                F.round(dot_product(F.col("a_vec"), F.col("b_vec")), 9) * 1e9, 0
            ).cast("bigint").alias("psim_e9"),
        )
    )
    slim = cands.select("query_id", "vec_id", "qsim_e9")
    # LEFT join pairs into the candidate list (not the reverse): a query
    # whose pool contains exactly ONE vector produces zero pair rows, and
    # an inner join from pairs would silently drop it from the output —
    # the retired unrolled form emitted its step-1 row. With the left
    # join the candidate arrives with null (b_id, psim_e9) and _greedy
    # still runs its step-1 argmax.
    qsim_pairs = (
        slim.select("query_id", F.col("vec_id").alias("a_id"), "qsim_e9")
        .join(pairs, ["query_id", "a_id"], "left")
        .select("query_id", "a_id", "b_id", "qsim_e9", "psim_e9")
    )

    def _greedy(pdf):
        import numpy as np
        import pandas as pd

        qid = int(pdf["query_id"].iloc[0])
        qsim = {
            int(a): int(v)
            for a, v in pdf.groupby("a_id")["qsim_e9"].first().items()
        }
        psim = {
            (int(a), int(b)): int(v)
            for a, b, v in zip(pdf["a_id"], pdf["b_id"], pdf["psim_e9"])
            if not pd.isna(b)  # pair-less candidate from the left join
        }
        ids = sorted(qsim)
        out = []
        # step 1: argmax relevance, ties by vec_id (ids sorted => first max)
        sel = max(ids, key=lambda c: (qsim[c], -c))
        out.append((qid, sel, 1, rel_weight * qsim[sel]))
        chosen = [sel]
        # max-psim over the selected set; None = no pair seen (then the
        # JVM form's coalesce(penalty, 0) applies). psim can be NEGATIVE,
        # so the running max must start unset, not at 0.
        penalty = {c: None for c in ids}
        for step in range(2, min(k, len(ids)) + 1):
            last = chosen[-1]
            for c in ids:
                if c not in chosen and (c, last) in psim:
                    p = psim[(c, last)]
                    if penalty[c] is None or p > penalty[c]:
                        penalty[c] = p
            best, best_score = None, None
            for c in ids:
                if c in chosen:
                    continue
                pen = 0 if penalty[c] is None else penalty[c]
                score = rel_weight * qsim[c] - div_weight * pen
                if best is None or score > best_score or (
                    score == best_score and c < best
                ):
                    best, best_score = c, score
            out.append((qid, best, step, best_score))
            chosen.append(best)
        return pd.DataFrame(
            out, columns=["query_id", "vec_id", "step", "mmr_score_e9"]
        )

    return qsim_pairs.groupBy("query_id").applyInPandas(
        _greedy, "query_id long, vec_id long, step long, mmr_score_e9 long"
    )


def _mmr_oracle_sql(
    k: int = MMR_K, pool: int = MMR_POOL, rel: int = 1, div: int = 1
) -> str:
    """Unrolled-CTE SQL twin of mmr_rerank on the fixture query set."""
    parts = [
        f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
),
corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id >= 5
),
scored0 AS (
    SELECT q.query_id, c.vec_id,
           round(1.0 - list_dot_product(q.qv, c.vec), 9) AS distance
    FROM q CROSS JOIN corpus c
),
cand AS (
    SELECT query_id, vec_id,
           round((1.0 - distance) * 1e9)::BIGINT AS qsim_e9 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY distance, vec_id) AS rnk
        FROM scored0
    ) WHERE rnk <= {pool}
),
pairs AS (
    SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
           round(round(list_dot_product(ca.vec, cb.vec), 9) * 1e9)::BIGINT AS psim_e9
    FROM cand a
    JOIN cand b ON a.query_id = b.query_id AND a.vec_id != b.vec_id
    JOIN corpus ca ON ca.vec_id = a.vec_id
    JOIN corpus cb ON cb.vec_id = b.vec_id
),
selected1 AS (
    SELECT query_id, vec_id, 1::BIGINT AS step,
           ({rel} * qsim_e9)::BIGINT AS mmr_score_e9 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY qsim_e9 DESC, vec_id) AS rn
        FROM cand
    ) WHERE rn = 1
)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""",
pen{i} AS (
    SELECT p.query_id, p.a_id AS vec_id, max(p.psim_e9) AS penalty_e9
    FROM pairs p
    JOIN selected{i-1} s ON s.query_id = p.query_id AND s.vec_id = p.b_id
    GROUP BY p.query_id, p.a_id
),
sel{i} AS (
    SELECT query_id, vec_id, {i}::BIGINT AS step, mmr AS mmr_score_e9 FROM (
        SELECT c.query_id, c.vec_id,
               ({rel} * c.qsim_e9 - {div} * coalesce(pn.penalty_e9, 0))::BIGINT AS mmr,
               row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY {rel} * c.qsim_e9 - {div} * coalesce(pn.penalty_e9, 0) DESC,
                            c.vec_id
               ) AS rn
        FROM cand c
        LEFT JOIN pen{i} pn
          ON pn.query_id = c.query_id AND pn.vec_id = c.vec_id
        WHERE NOT EXISTS (
            SELECT 1 FROM selected{i-1} s
            WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id
        )
    ) WHERE rn = 1
),
selected{i} AS (
    SELECT * FROM selected{i-1} UNION ALL SELECT * FROM sel{i}
)"""
        )
    parts.append(
        f"\nSELECT query_id, vec_id, step, mmr_score_e9 FROM selected{k}"
    )
    return "".join(parts)


@register("knn_mmr_rerank", oracle=_mmr_oracle_sql())
def q_knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ [Q]: MMR-diversified top-5 from an exact top-20 pool for the 5
    fixture queries — greedy unrolled selection, hash-exact vs the
    unrolled-CTE oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _fixture_queries(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    return mmr_rerank(queries, corpus)


# ---------------------------------------------------------------------------
# Radius (range) search with provably-exact angular partition pruning
# ---------------------------------------------------------------------------

#: Cosine-distance radius for the radius-search gate: ~1-5% of the corpus
#: qualifies per query at the fixture's distance distribution.
RADIUS_SEARCH_R = 0.75

#: Conservative slack (radians) added to the pruning bound. The bound
#: compares angles derived from round-9 distances over ~unit vectors
#: (fixture norms are 1 +- 2e-7), so the combined angular error is
#: < ~1e-5; 1e-3 dominates it by two orders while costing essentially no
#: pruning power (partition spreads differ at the 0.1-radian scale).
RADIUS_PRUNE_SLACK = 1e-3


def partition_spreads(corpus_assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """``(partition_id, spread)`` — each partition's angular radius: the
    max angle between a member vector and its (unit) centroid. An
    index-BUILD artifact (one scan over the corpus, map-side join against
    the broadcast centroid table, nlist-row result) maintained alongside
    the centroids themselves."""
    ang = F.acos(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(-1.0),
                F.lit(1.0) - cosine_distance(F.col("embedding"), F.col("centroid")),
            ),
        )
    )
    return (
        corpus_assigned.join(F.broadcast(centroids), "partition_id")
        .select("partition_id", ang.alias("ang"))
        .groupBy("partition_id")
        .agg(F.max("ang").alias("spread"))
    )


def radius_search(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    radius: float = RADIUS_SEARCH_R,
) -> DataFrame:
    """All corpus vectors within cosine distance ``radius`` of each query —
    the range-query twin of ivf_search, EXACT by construction: a partition
    is skipped only when the spherical triangle inequality proves it holds
    no qualifying vector (angle(q, x) >= angle(q, c) - spread(partition)
    for every member x), so the result equals the brute-force scan — and
    the DuckDB oracle IS the brute-force scan, which is what makes the
    pruning's exactness a gated property rather than a comment.

    Scale notes: spreads and centroids are nlist-row build artifacts;
    routing is a queries x nlist broadcast cross-product filtered by the
    bound; the corpus is only scanned in surviving partitions (same
    partition-pruning layout as ivf_search), and the verify is one
    map-side distance filter inside that scan — no shuffle anywhere, no
    top-k state. Recall is 1.0 by proof, not by parameter: the knob a
    caller tunes is the LAYOUT (more/tighter partitions shrink spreads
    and sharpen the bound), not a probe count.
    """
    import math

    ang_r = math.acos(max(-1.0, 1.0 - radius)) + RADIUS_PRUNE_SLACK
    spreads = partition_spreads(corpus_assigned, centroids)
    qc_ang = F.acos(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(-1.0),
                F.lit(1.0) - cosine_distance(F.col("qv"), F.col("centroid")),
            ),
        )
    )
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select("query_id", "qv", "partition_id", qc_ang.alias("qc_ang"))
        .join(F.broadcast(spreads), "partition_id")
        .filter(F.col("qc_ang") - F.col("spread") <= F.lit(ang_r))
        .select("query_id", "qv", "partition_id")
    )
    candidates = corpus_assigned.join(F.broadcast(probes), "partition_id")
    return (
        candidates.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_distance(F.col("qv"), F.col("embedding")).alias("distance"),
        )
        .filter(F.col("distance") <= F.lit(radius))
    )


@register(
    "knn_radius_search",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
)
SELECT q.query_id, e.vec_id AS neighbor_id,
       round(1.0 - list_dot_product(q.qv, e.embedding::DOUBLE[]), 9) AS distance
FROM q CROSS JOIN embeddings e
WHERE round(1.0 - list_dot_product(q.qv, e.embedding::DOUBLE[]), 9) <= {RADIUS_SEARCH_R}
""",
)
def q_knn_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query [Q]: every vector within cosine distance 0.75 of the 5
    fixture queries, via spread-bounded partition pruning. The oracle is
    the BRUTE-FORCE cross join — passing proves the pruning bound never
    discards a qualifying vector."""
    return radius_search(
        _fixture_queries(spark, sf_dir),
        assigned_corpus(spark, sf_dir).select("vec_id", "embedding", "partition_id"),
        fixture_centroids(spark, sf_dir),
    )


@register(
    "knn_label_vote",
    oracle="""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
),
corpus AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id >= 5
),
topk AS (
    SELECT query_id, vec_id, label FROM (
        SELECT q.query_id, c.vec_id, c.label,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(1.0 - list_dot_product(q.qv, c.vec), 9), c.vec_id
               ) AS rnk
        FROM q CROSS JOIN corpus c
    ) WHERE rnk <= 10
),
votes AS (
    SELECT query_id, label, count(*)::BIGINT AS votes FROM topk GROUP BY 1, 2
)
SELECT query_id, label::BIGINT AS predicted_label, votes FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY votes DESC, label) AS rn
    FROM votes
) WHERE rn = 1
""",
)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification serving [Q]: predict each query's label by
    majority vote over its exact top-10 neighbors (self excluded), ties
    to the smallest label — the label-propagation read path a vector
    store serves once neighbors carry metadata.

    Scale shape: the top-k pull is the broadcast-scored
    WindowGroupLimit-pruned knn_join; voting is a (query, label)
    aggregate over k rows per query plus one more WindowGroupLimit —
    nothing after the scan is corpus-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _fixture_queries(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "label", "embedding")
    topk = knn_join(queries, corpus.select("vec_id", "embedding"), k=10).join(
        corpus.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = topk.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("label").cast("bigint").alias("predicted_label"),
            "votes",
        )
    )


def _nprobe_curve_oracle(probes=(1, 2, 3)) -> str:
    """Oracle for the nprobe/recall tradeoff curve: one micro-averaged
    recall row per nprobe setting, all sharing the exact-scan yardstick."""
    blocks = []
    for p in probes:
        blocks.append(f"""
SELECT {p}::BIGINT AS nprobe,
       (SELECT count(*) FROM exact)::BIGINT AS n_exact,
       (SELECT count(*) FROM exact e
        WHERE EXISTS (
            SELECT 1 FROM (
                SELECT s.query_id, s.neighbor_id,
                       row_number() OVER (
                           PARTITION BY s.query_id
                           ORDER BY s.distance, s.neighbor_id) AS rank
                FROM (
                    SELECT r.query_id, co.vec_id AS neighbor_id,
                           round(1.0 - list_dot_product(r.qv, co.embedding::DOUBLE[]), 9) AS distance
                    FROM (
                        SELECT query_id, qv, partition_id FROM (
                            SELECT q.query_id, q.qv, c.partition_id,
                                   row_number() OVER (
                                       PARTITION BY q.query_id
                                       ORDER BY round(1.0 - list_dot_product(q.qv, c.centroid), 9),
                                                c.partition_id) AS probe_rank
                            FROM q CROSS JOIN centroids c
                        ) WHERE probe_rank <= {p}
                    ) r JOIN corpus co ON r.partition_id = co.partition_id
                ) s
            ) a
            WHERE a.rank <= 10 AND a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id
        ))::BIGINT AS n_hit""")
    body = "\nUNION ALL\n".join(blocks)
    return f"""
WITH {CENTROIDS_CTE.strip()},
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 25
),
assign_scored AS (
    SELECT e.vec_id, e.embedding, c.partition_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9),
                        c.partition_id) AS r
    FROM embeddings e CROSS JOIN centroids c
),
corpus AS (
    SELECT vec_id, embedding, partition_id FROM assign_scored WHERE r = 1
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(1.0 - list_dot_product(q.qv, e.embedding::DOUBLE[]), 9),
                            e.vec_id) AS rank
        FROM q CROSS JOIN embeddings e
    ) WHERE rank <= 10
),
curve AS ({body})
SELECT nprobe, n_exact, n_hit,
       round(n_hit * 1.0 / n_exact, 9) AS recall_at_10
FROM curve
"""


@register("knn_nprobe_curve", oracle=_nprobe_curve_oracle())
def q_knn_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve [Q]: micro-averaged recall@10 at nprobe 1, 2, 3
    against one exact-scan yardstick — the table an operator reads to
    pick the probe budget (knn_recall_eval gates the per-query view at
    the reference default; this gates the aggregate TRADEOFF the tuning
    decision actually uses). The exact side computes once and is shared
    by all three probe settings; each setting adds only its own pruned
    scan + top-k."""
    queries = _fixture_queries(spark, sf_dir, n=25)
    cent = fixture_centroids(spark, sf_dir)
    corpus = assigned_corpus(spark, sf_dir)
    from ..plans.registry import transient_persist

    exact = transient_persist(
        knn_join(queries, corpus, k=10).select("query_id", "neighbor_id")
    )
    rows = None
    for p in (1, 2, 3):
        approx = ivf_search(
            queries, corpus, cent, nprobe=p, top_n=10, global_limit=10
        ).select("query_id", "neighbor_id")
        agg = (
            exact.join(approx.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_exact"),
                F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
            )
            .select(
                F.lit(p).cast("bigint").alias("nprobe"),
                "n_exact",
                "n_hit",
                F.round(F.col("n_hit") / F.col("n_exact"), 9).alias("recall_at_10"),
            )
        )
        rows = agg if rows is None else rows.unionByName(agg)
    return rows


#: Fixed-point scale for per-vector inertia terms (quantize-before-sum).
INERTIA_SCALE = 10**9


@register(
    "kmeans_cluster_inertia",
    oracle=f"""
WITH {CENTROIDS_CTE.strip()},
assigned AS (
    SELECT vec_id, partition_id, d2 FROM (
        SELECT e.vec_id, c.partition_id,
               round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9) AS d,
               round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9)
                 * round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9) AS d2,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9),
                            c.partition_id) AS r
        FROM embeddings e CROSS JOIN centroids c
    ) WHERE r = 1
)
SELECT partition_id::BIGINT AS partition_id,
       count(*)::BIGINT AS n_vectors,
       round(sum(floor(d2 * {INERTIA_SCALE})::BIGINT) / {INERTIA_SCALE}.0, 6)
           AS inertia
FROM assigned GROUP BY partition_id
""",
)
def q_kmeans_cluster_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality dashboard [Q]: per-partition inertia — the sum of
    squared assigned-centroid distances, the compactness number that
    (with kmeans_assignment_balance and embeddings_dim_drift) decides
    when kmeans_refresh is due. Each squared distance is floor-quantized
    to a 1e9 integer BEFORE the per-partition sum, so engine-unspecified
    aggregate order cannot move the rollup; one scan over the cached
    assigned layout."""
    assigned = assigned_corpus(spark, sf_dir)
    cent = fixture_centroids(spark, sf_dir)
    d = cosine_distance(F.col("embedding"), F.col("centroid"))
    scored = assigned.join(F.broadcast(cent), "partition_id").select(
        "partition_id", (d * d).alias("d2")
    )
    return scored.groupBy(
        F.col("partition_id").cast("bigint").alias("partition_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(
            F.sum(F.floor(F.col("d2") * INERTIA_SCALE).cast("bigint"))
            / F.lit(float(INERTIA_SCALE)),
            6,
        ).alias("inertia"),
    )
