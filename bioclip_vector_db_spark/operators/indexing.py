"""Offline indexing pipeline — the reference's ingest/build path, Spark-first.

Reference semantics re-expressed (file:line in /root/reference):
- O11 id derivation: HF ``__key__`` or stringified row index
  (src/bioclip_vector_db/vector_db.py:88-100).
- O12 existence-check dedup before insert (vector_db.py:124-132) ->
  left anti join (the scalable form; the reference does per-row lookups).
- O13 null/error filter (vector_db.py:135-137).
- O14 JSON metadata encode/decode (metadata_storage.py:85,147,169).
- O17/O18 k-means coarse quantizer training: nlist = floor(10*sqrt(N)),
  train on a ~50*nlist sample (storage_impl.py:78-89,103-105,152-156) ->
  pyspark.ml.KMeans fit-then-transform. Unlike the reference's buffer-based
  trainer, no records are dropped when training triggers (SURVEY.md §1.4).
- O19 nearest-centroid assignment (faiss_utils.py:106-118).
- O20 per-partition dense faiss_id (faiss_utils.py:45,113-115) ->
  ``row_number() OVER (PARTITION BY partition_id ORDER BY vec_id) - 1``
  (explicit tiebreak; the reference uses arrival order, which Spark has no
  notion of).
- O6 id_mapping sink (metadata_storage.py:68-101) -> one partitioned table.
- O25/O26 id remap + metadata lookups (neighborhood_server.py:172-179,
  metadata_storage.py:103-199) -> hash joins; implements the reference's
  unimplemented ``batch_get_original_id`` stub (metadata_storage.py:175-177).

Scale: the build evaluates its input once — scan -> (embed UDF) into one
persist whose filling count gives N — then fits k-means on it, assigns
(broadcast centroids, map-side argmin), numbers faiss ids with the
per-partition window, and writes corpus and id_mapping with
write.partitionBy(partition_id). The only shuffles are the k-means fit
sample and the per-partition window; the id_mapping sidecar is
co-partitioned with the vectors so O25 remaps are shuffle-free joins at
serve time.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import dot_product, lit_array
from ..plans.registry import register
from ..sources.catalog import load_table
from .knn import (
    CENTROIDS_CTE,
    _cached,
    assign_partitions,
    assigned_corpus,
    fixture_centroids,
)

# ---------------------------------------------------------------------------
# Library API
# ---------------------------------------------------------------------------


def derive_nlist(dataset_size: int) -> int:
    """nlist = floor(10*sqrt(N)) — the reference's 4sqrt(N)..16sqrt(N) rule
    (storage_impl.py:78-82)."""
    return max(1, int(10 * dataset_size**0.5))


def train_kmeans_centroids(
    vectors: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
    seed: int = 42,
    train_fraction: float | None = None,
    max_iter: int = 20,
    init_mode: str = "k-means||",
) -> DataFrame:
    """O17/O18: fit k-means on a sample, return ``(partition_id, centroid)``.

    The reference trains on the first 50*nlist records (a prefix — its own
    TODO admits a shuffle is missing, vector_db.py:73); we use a seeded
    random sample, which is the statistically sound version. Cosine distance
    matches the reference's inner-product space over normalized vectors.

    The table is a JVM local relation built from an Arrow table, so no
    action on it starts a Python worker. The fit's feature cache is
    released before this returns.
    """
    return _kmeans_centroids(
        vectors, k, vec_col=vec_col, seed=seed, train_fraction=train_fraction,
        max_iter=max_iter, init_mode=init_mode,
    )[0]


def _kmeans_centroids(
    vectors: DataFrame, k: int, *, vec_col: str = "embedding", seed: int = 42,
    train_fraction: float | None = None, max_iter: int = 20, init_mode: str = "k-means||",
    n_rows: int | None = None,
) -> tuple[DataFrame, int]:
    """train_kmeans_centroids' table and its row count, the fitted center
    count (at most ``k``). ``n_rows`` is the row count of ``vectors`` when
    the caller holds it; it sizes the fit without a count job unless
    ``train_fraction`` samples a different train set."""
    import pyarrow as pa
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = vectors if train_fraction is None else vectors.sample(train_fraction, seed=seed)
    feats = train.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    # Right-size parallelism for the iterative fit: each KMeans iteration is
    # a job over this DataFrame, so a 500-row train set spread over 32
    # shuffle partitions pays 20x32 task-scheduling latency for no work.
    # ~50k rows per partition keeps iterations dense; caching avoids
    # re-reading the source every iteration.
    n = n_rows if n_rows is not None and train_fraction is None else train.count()
    feats = feats.repartition(max(1, n // 50_000)).cache()
    try:
        model = KMeans(
            k=k, seed=seed, maxIter=max_iter, distanceMeasure="cosine", initMode=init_mode
        ).fit(feats)
    finally:
        feats.unpersist()
    centers = [c.tolist() for c in model.clusterCenters()]
    table = pa.table(
        {
            "partition_id": pa.array(range(len(centers)), pa.int32()),
            "centroid": pa.array(centers, pa.list_(pa.float64())),
        }
    )
    cent = vectors.sparkSession.createDataFrame(
        table,
        T.StructType(
            [
                T.StructField("partition_id", T.IntegerType(), False),
                T.StructField("centroid", T.ArrayType(T.DoubleType()), False),
            ]
        ),
    )
    return cent, len(centers)


def with_faiss_ids(assigned: DataFrame, order_col: str = "vec_id") -> DataFrame:
    """O20: dense 0-based id within each partition, deterministic tiebreak."""
    w = Window.partitionBy("partition_id").orderBy(F.col(order_col).asc())
    return assigned.withColumn("faiss_id", (F.row_number().over(w) - 1).cast("bigint"))


def build_id_mapping(assigned: DataFrame) -> DataFrame:
    """O6/T4: the id/metadata sidecar table
    ``(partition_id, faiss_id, original_id, metadata)``.

    ``metadata`` is a JSON string like the reference's BLOB
    (metadata_storage.py:85); ``created_at`` is added at write time via
    ``current_timestamp()`` and excluded here for determinism.
    """
    return with_faiss_ids(assigned).select(
        "partition_id",
        "faiss_id",
        F.col("vec_id").cast("string").alias("original_id"),
        F.to_json(F.struct("label")).alias("metadata"),
    )


def _read_written(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read a table written with ``partitionBy("partition_id")`` under the
    schema its writer held, laid out as ``spark.read.parquet`` infers it
    (partition column last, every field nullable) but with no footer job;
    the partition column keeps the writer's type."""
    fields = [f for f in schema.fields if f.name != "partition_id"]
    fields += [f for f in schema.fields if f.name == "partition_id"]
    return spark.read.schema(
        T.StructType([T.StructField(f.name, f.dataType, True) for f in fields])
    ).parquet(path)


@dataclasses.dataclass(frozen=True)
class _AppendState:
    """What the last append to one index dir learned, reused by the next
    append in this process so its steady state runs no seeding job: the
    stored corpus schema (the read skips footer inference), each
    partition's next faiss_id (the id offsets fold in as a literal map)
    and the centroid count (it picks the assignment kernel).

    Valid only at ``gen``, the ``.write_gen`` stamp it was stored or
    re-stamped at. _single_writer drops it when the stamp on disk differs
    (another process or out-of-band actor wrote since) and when a write
    fails; build_index and delete_ids drop it because they rewrite what it
    summarises; api.reset drops it through invalidate_append_state. Every
    write holds the dir's write lock, so one writer per dir stores or
    reads it at a time."""

    gen: str
    schema: T.StructType
    next_ids: dict[int, int]
    nlist: int


#: {index_dir: _AppendState}, named only by the accessor pair below:
#: staging.logic_token folds the contents of any dict global a function
#: names, and the durable ingest gate is keyed on append_to_index's token
#: (regression: tests/test_staging.py
#: test_append_state_caches_do_not_thrash_gate_token).
_APPEND_STATE: dict[str, _AppendState] = {}


def _append_state(index_dir: str) -> "_AppendState | None":
    return _APPEND_STATE.get(index_dir)


def _set_append_state(index_dir: str, state: "_AppendState | None") -> None:
    if state is None:
        _APPEND_STATE.pop(index_dir, None)
    else:
        _APPEND_STATE[index_dir] = state


def invalidate_append_state(index_dir: str) -> None:
    """Drop this process's append record for ``index_dir``. Required
    after out-of-band surgery on the index directory (api.reset, manual
    partition repair per tests/test_corruption.py) that leaves the
    ``.write_gen`` stamp in place."""
    _set_append_state(index_dir, None)


def _read_write_gen(index_dir: str) -> str:
    """On-disk write-generation stamp ("" if never written). Read and
    written only under the exclusive ``.write_lock``, so a plain text
    file is race-free."""
    import os

    try:
        with open(os.path.join(index_dir, ".write_gen")) as f:
            return f.read().strip()
    except FileNotFoundError:
        return ""


def _bump_write_gen(index_dir: str) -> str:
    """Stamp a fresh random token, not a counter: a counter could repeat
    after api.reset recreates the directory and validate a stale record."""
    import os
    import uuid

    gen = uuid.uuid4().hex
    with open(os.path.join(index_dir, ".write_gen"), "w") as f:
        f.write(gen)
    return gen


def _single_writer(fn):
    """Run a write op ``fn(head, index_dir, ...)`` under the index dir's
    exclusive cross-process lock and a fresh write generation.

    build_index, append_to_index, delete_ids and compact_index each
    overwrite or append to the same ``corpus``/``id_mapping``
    directories; two racing writers could silently lose one side's
    rewrite. Each therefore holds an advisory lock on
    ``<index_dir>/.write_lock`` (streaming.staging.process_lock, the
    primitive the durable stream gates use) for its whole
    read-modify-write span, blocking until the current writer finishes:
    concurrent writers equal some serial order (pinned by
    tests/test_concurrency.py::test_index_writers_serialize). The lock is
    not reentrant, so no write op may call another, build_index included.

    Under the lock the wrapper checks this process's _AppendState against
    ``<index_dir>/.write_gen``: a differing stamp means another process
    (or a build, or out-of-band surgery) wrote since the record was
    stored, so the record is dropped before ``fn`` can consult it. It then
    stamps a new generation and re-stamps a still-valid record with it, so
    every write invalidates every other process's record. A write that
    raises drops the record; the next append re-seeds from disk (pinned
    by tests/test_concurrency.py::
    test_cross_process_write_invalidates_append_cache).

    Readers are not locked: a Spark parquet read lists its files once
    (snapshot-by-file-listing). Ops on different index dirs never
    contend."""
    import functools
    import os

    @functools.wraps(fn)
    def wrapper(head, index_dir, *args, **kwargs):
        from ..streaming.staging import process_lock

        os.makedirs(index_dir, exist_ok=True)
        with process_lock(os.path.join(index_dir, ".write_lock")):
            state = _append_state(index_dir)
            fresh = state is not None and state.gen == _read_write_gen(index_dir)
            gen = _bump_write_gen(index_dir)
            _set_append_state(index_dir, dataclasses.replace(state, gen=gen) if fresh else None)
            try:
                return fn(head, index_dir, *args, **kwargs)
            except BaseException:
                invalidate_append_state(index_dir)
                raise

    return wrapper


@_single_writer
def build_index(
    vectors: DataFrame,
    output_dir: str,
    *,
    k: int | None = None,
    seed: int = 42,
    centroids: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The full offline build (entry point 1, SURVEY.md §3.1):
    train -> assign -> faiss ids -> partitioned writes.

    Pass ``centroids`` to build against an EXISTING leader table (no
    re-fit) — the rebuild half of the incremental-append equivalence
    contract (api.VectorSearchEngine.add_batch).

    Writes three tables under ``output_dir``: ``corpus`` (partitioned by
    partition_id — the IVF layout; O3/O4), ``centroids`` (the leader index;
    O5), ``id_mapping`` (the sidecar; O6). Returns reads of the written
    ``corpus`` and ``id_mapping``, the centroid table, and build metrics.

    ``vectors`` is evaluated once: unless the caller already cached it,
    it is persisted, the count that fills the persist gives ``n``, and the
    k-means fit, the assignment and the corpus write all read that one
    materialization (the reference embeds each record once and fills its
    train buffer from the same stream, vector_db.py:102-118,
    storage_impl.py:103-105). The persist is released right after the
    corpus write, and the corpus persist after the id_mapping write; a
    caller's own persist of ``vectors`` is left as it was. The
    assignment kernel is picked from the fitted center count, or from one
    count of supplied ``centroids``.

    O16/O31 (the reference's running insert counter and @timer decorator,
    storage_interface.py:22-24, neighborhood_server.py:31-52) map to
    ``df.observe``: counters ride the write job itself — no extra pass —
    and land in ``metrics`` alongside wall-clock timings.

    Runs under ``output_dir``'s write lock and stamps a new write
    generation (_single_writer), so a rebuild drops every process's
    append record for the dir.
    """
    import time

    from pyspark import StorageLevel
    from pyspark.sql import Observation

    invalidate_append_state(output_dir)
    spark = vectors.sparkSession
    t0 = time.perf_counter()
    owned = vectors.storageLevel == StorageLevel.NONE
    if owned:
        vectors.persist()
    try:
        n = vectors.count()
        if centroids is not None:
            cent = centroids
            nlist = cent.count()
            k = k or nlist
        else:
            k = k or derive_nlist(n)
            cent, nlist = _kmeans_centroids(vectors, k, seed=seed, n_rows=n)
        t_train = time.perf_counter()
        # Persist: the corpus lineage (assignment argmin + faiss-id window
        # over every vector) feeds BOTH table writes below.
        corpus = with_faiss_ids(assign_partitions(vectors, cent, nlist=nlist)).persist()
        try:
            obs = Observation("build_counts")
            corpus_obs = corpus.observe(
                obs,
                F.count(F.lit(1)).alias("n_records"),
                # DISTINCT aggregates are disallowed in observed metrics; the
                # HLL sketch is the monitoring-grade equivalent (exact for
                # tiny k).
                F.approx_count_distinct("partition_id").alias("n_partitions_used"),
            )
            id_mapping = corpus.select(
                "partition_id",
                "faiss_id",
                F.col("vec_id").cast("string").alias("original_id"),
                F.to_json(F.struct("label")).alias("metadata"),
                F.current_timestamp().alias("created_at"),
            )
            corpus_obs.write.mode("overwrite").partitionBy("partition_id").parquet(
                f"{output_dir}/corpus"
            )
            t_corpus = time.perf_counter()
            if owned:
                vectors.unpersist()
            cent.write.mode("overwrite").parquet(f"{output_dir}/centroids")
            id_mapping.write.mode("overwrite").partitionBy("partition_id").parquet(
                f"{output_dir}/id_mapping"
            )
        finally:
            corpus.unpersist()
    finally:
        if owned:
            vectors.unpersist()
    metrics = {
        **obs.get,
        "n_input": n,
        "k": k,
        "train_sec": round(t_train - t0, 3),
        "corpus_write_sec": round(t_corpus - t_train, 3),
        "total_sec": round(time.perf_counter() - t0, 3),
    }
    return {
        "corpus": _read_written(spark, f"{output_dir}/corpus", corpus.schema),
        "centroids": cent,
        "id_mapping": _read_written(spark, f"{output_dir}/id_mapping", id_mapping.schema),
        "metrics": metrics,
    }


def _run_concurrently(spark: SparkSession, fns: list) -> list:
    """Run each zero-argument callable on a thread of its own; return
    their results in order. Each thread inherits the caller's Spark local
    properties (job group, scheduler pool, description) and session tags,
    so ``cancelJobGroup`` — and a streaming query's ``stop()``, which
    cancels its run's job group — reaches these jobs too."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    if isinstance(wrap, SparkSession):  # pinned-thread mode off: no wrapper to apply
        wrap = lambda fn: fn  # noqa: E731
    with ThreadPoolExecutor(len(fns)) as pool:
        futures = [pool.submit(wrap(fn)) for fn in fns]
        return [f.result() for f in futures]


def _release_checkpoint(*checkpointed: DataFrame) -> None:
    """Drop eager localCheckpoints once their write op's tables have
    landed, without waiting on the block manager. Nothing may run them
    again; a kept one would hold its blocks until a JVM GC lets the
    ContextCleaner drop the RDD."""
    for df in checkpointed:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


@_single_writer
def append_to_index(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    centroids: DataFrame,
) -> None:
    """The incremental append core shared by api.add_batch and the
    streaming ingest (streaming/ingest.py): dedup the batch against the
    stored ids (O12), assign against the given centroids (no re-fit),
    continue each partition's dense faiss_id sequence (O20), append
    per-partition files to corpus + id_mapping. Bootstraps the index
    (including the centroids table) when ``index_dir`` has no corpus yet.

    The batch is eagerly localCheckpoint-ed before the writes: the first
    append invalidates cached plans reading the corpus path, and a
    recompute would see the batch as already stored and erase it from the
    second write.
    """
    import os

    # In-batch dedup first: the anti-join below only removes ids already
    # STORED; duplicates arriving within one micro-batch would otherwise
    # each draw a faiss_id, breaking the O12 existence-check contract and
    # the dense-id invariant (reference checks per-id before insert,
    # vector_db.py:141-150). The batch is already shuffled for the
    # faiss-id window, so this costs no extra exchange.
    batch = batch.select("vec_id", "embedding", "label").dropDuplicates(["vec_id"])
    bootstrap = not os.path.exists(f"{index_dir}/corpus")
    state = _append_state(index_dir)
    # One nlist-row collect per index per process, not per batch: a
    # collect is one job, where count() adds an AQE stage job.
    nlist = (
        len(centroids.select("partition_id").collect()) if state is None else state.nlist
    )
    next_ids: dict[int, int] = {}
    if not bootstrap:
        reader = spark.read if state is None else spark.read.schema(state.schema)
        stored = reader.parquet(f"{index_dir}/corpus")
        batch = batch.join(stored.select("vec_id"), "vec_id", "left_anti")
        if state is None:
            next_ids = {
                r["partition_id"]: r["_next_id"]
                for r in stored.groupBy("partition_id")
                .agg((F.max("faiss_id") + 1).alias("_next_id"))
                .collect()
            }
        else:
            next_ids = state.next_ids
    assigned = assign_partitions(batch, centroids, nlist=nlist)
    w = Window.partitionBy("partition_id").orderBy(F.col("vec_id").asc())
    rows = assigned.withColumn("_rn", (F.row_number().over(w) - 1).cast("bigint"))
    # The last row of each partition carries that partition's next id.
    rows = rows.withColumn("_last", F.lead("_rn").over(w).isNull())
    if next_ids:
        # nlist-bounded literal map: the id offsets ride the expression —
        # no broadcast-build job, no second corpus scan per batch.
        offsets = F.create_map(
            *[
                F.lit(x)
                for kv in next_ids.items()
                for x in (int(kv[0]), int(kv[1]))
            ]
        )
        rows = rows.withColumn(
            "_rn",
            F.col("_rn")
            + F.coalesce(offsets[F.col("partition_id")], F.lit(0)).cast("bigint"),
        )
    rows = (
        rows.withColumn("faiss_id", F.col("_rn")).drop("_rn").localCheckpoint(eager=True)
    )

    # The batch's next ids ride the corpus write as one observed metric,
    # sized by the partitions the batch touches: no job of their own.
    from pyspark.sql import Observation

    obs = Observation()
    corpus_rows = rows.observe(
        obs,
        F.map_from_entries(
            F.collect_list(
                F.when(F.col("_last"), F.struct("partition_id", F.col("faiss_id") + 1))
            )
        ).alias("next_ids"),
    ).drop("_last")

    # The two table writes read only the materialized checkpoint, so they
    # are independent jobs — run them CONCURRENTLY (the scheduler
    # interleaves their tasks; at micro-batch cadence the savings is a
    # full write's latency per batch). Crash-consistency is unchanged in
    # kind: either table may now land first, and the ingest gate's
    # validator treats any corpus/id_mapping row-count mismatch as
    # rebuild-from-scratch (streaming/ingest._index_consistent).
    def _write_corpus() -> None:
        corpus_rows.write.mode("append").partitionBy("partition_id").parquet(
            f"{index_dir}/corpus"
        )

    def _write_mapping() -> None:
        rows.select(
            "partition_id",
            "faiss_id",
            F.col("vec_id").cast("string").alias("original_id"),
            F.to_json(F.struct("label")).alias("metadata"),
            F.current_timestamp().alias("created_at"),
        ).write.mode("append").partitionBy("partition_id").parquet(
            f"{index_dir}/id_mapping"
        )

    writes = [_write_corpus, _write_mapping]
    if bootstrap:
        writes.append(
            lambda: centroids.write.mode("overwrite").parquet(f"{index_dir}/centroids")
        )
    try:
        _run_concurrently(spark, writes)
    finally:
        _release_checkpoint(rows)
    # Stored only after every write landed. corpus_rows' columns are
    # exactly what partitionBy-append lands (partition column matched by
    # name), so the next append's read skips footer inference.
    _set_append_state(
        index_dir,
        _AppendState(
            _read_write_gen(index_dir),
            corpus_rows.schema,
            {**next_ids, **(obs.get["next_ids"] or {})},
            nlist,
        ),
    )


@_single_writer
def compact_index(
    spark: SparkSession,
    index_dir: str,
    *,
    target_rows_per_file: int = 1_000_000,
) -> dict[str, int]:
    """Small-file compaction for the appended index tables (O3 ops).

    Incremental appends (append_to_index) create one file set per batch
    per touched partition; at streaming cadence that is the classic
    small-file problem — scan cost becomes per-file overhead, not bytes.
    Compaction rewrites corpus and id_mapping with files re-sized toward
    ``target_rows_per_file``, preserving rows and the partitionBy layout
    bit-for-bit. The read is eagerly localCheckpoint-ed before the
    overwrite (same self-read-write hazard as append_to_index).

    Both tables are always rewritten in full, whatever partitions the
    appends touched, so a compaction costs a full pass over the index.
    Returns per-table file counts before/after.
    """
    import glob

    counts: dict[str, int] = {}
    for table in ("corpus", "id_mapping"):
        path = f"{index_dir}/{table}"
        n_before = len(glob.glob(f"{path}/partition_id=*/*.parquet"))
        df = spark.read.parquet(path)
        n_rows = df.count()
        n_files = max(1, -(-n_rows // target_rows_per_file))
        compacted = df.repartition(n_files, "partition_id").localCheckpoint(eager=True)
        try:
            compacted.write.mode("overwrite").partitionBy("partition_id").parquet(path)
        finally:
            _release_checkpoint(compacted)
        counts[f"{table}_files_before"] = n_before
        counts[f"{table}_files_after"] = len(
            glob.glob(f"{path}/partition_id=*/*.parquet")
        )
    return counts


@_single_writer
def delete_ids(
    spark: SparkSession,
    index_dir: str,
    ids: DataFrame,
    *,
    id_col: str | None = None,
) -> dict[str, int]:
    """Row deletes for the durable index — the maintenance op the
    reference lacks entirely (its only lifecycle op is whole-index
    reset, vector_db.py `reset()` / O7); a production lakehouse index
    needs per-row deletes (takedowns, TTL, corrections).

    Strategy: PARTITION-PRUNED anti-join rewrite, never a full-corpus
    job.

    1. The delete set (small by contract — broadcast) is resolved to
       its TOUCHED partitions via the id_mapping sidecar, column-pruned
       to (original_id, partition_id).
    2. Only those partitions of ``corpus`` are read back — the
       ``partition_id IN (...)`` filter lands on the directory layout as
       a partition filter, so untouched partitions are never opened —
       deleted vec_ids are anti-joined out, faiss_ids renumbered densely
       by vec_id within each rewritten partition, and the touched
       partition directories are replaced via dynamic partition
       overwrite. A partition whose rows are ALL deleted produces no
       output rows, which dynamic overwrite would silently leave stale,
       so emptied partition dirs are dropped explicitly.
    3. ``id_mapping`` for the same partitions keeps its surviving rows
       (metadata and created_at — ingestion provenance — unchanged) with
       only ``faiss_id`` replaced from the renumbered corpus; the
       append record (_AppendState) is dropped before any write, so no
       append numbers on from pre-delete next ids.

    Renumbering preserves the contract every consumer relies on
    (with_faiss_ids: dense 0-based ids per partition in vec_id order),
    so the post-delete index EQUALS one rebuilt from scratch without the
    deleted rows — exactly the ``index_delete_rebuild`` gate's oracle.
    (At very high delete rates a tombstone sidecar + filter-at-read is
    the lazy alternative; the eager rewrite keeps the serving path free
    of tombstone filters.) ``compact_index`` picks up the shrunken files
    unchanged.

    Crash-recovery contract: the two overwrites (corpus, then
    id_mapping) are not atomic together — a failure between them leaves
    id_mapping holding deleted rows / stale faiss_ids for the touched
    partitions. Recovery is RE-RUNNING THE SAME delete_ids CALL: the
    touched set is re-resolved from the (stale) mapping, the corpus
    anti-join is a no-op on already-deleted rows, and the mapping
    rebuild inner-joins faiss_ids from the renumbered corpus, dropping
    any mapping row whose vec_id no longer exists — the second run
    converges both tables. To make a torn state visible rather than
    latent, the function re-reads both tables after the writes and
    verifies per-touched-partition row counts match, raising
    RuntimeError on mismatch (callers then re-run the delete).

    Returns ``{"n_deleted": ..., "partitions_rewritten": ...}``.
    """
    import os
    import shutil

    key = id_col or ids.columns[0]
    del_ids = ids.select(F.col(key).cast("long").alias("vec_id")).distinct()
    mapping = spark.read.parquet(f"{index_dir}/id_mapping")
    touched = sorted(
        r["partition_id"]
        for r in mapping.select(
            F.col("original_id").cast("long").alias("vec_id"), "partition_id"
        )
        .join(F.broadcast(del_ids), "vec_id", "left_semi")
        .select("partition_id")
        .distinct()
        .collect()
    )
    if not touched:
        return {"n_deleted": 0, "partitions_rewritten": 0}
    corpus = spark.read.parquet(f"{index_dir}/corpus").filter(
        F.col("partition_id").isin([int(p) for p in touched])
    )
    # n_before rides the rewrite checkpoint's own scan as an observed
    # metric instead of a separate count() job — one fewer full pass over
    # the touched partitions (r16 optimization; at scale that pass is
    # corpus-partition-sized IO).
    from pyspark.sql import Observation

    n_before_obs = Observation()
    corpus = corpus.observe(n_before_obs, F.count(F.lit(1)).alias("n"))
    kept = corpus.drop("faiss_id").join(F.broadcast(del_ids), "vec_id", "left_anti")
    # Materialize BEFORE overwriting the directories the plan reads from
    # (same self-read-write hazard as append_to_index/compact_index).
    rewritten = with_faiss_ids(kept).localCheckpoint(eager=True)
    from ..functions.observe import observed_or

    # No empty_check here: the None default routes to the explicit count
    # below, which is correct on EVERY failure path (conservative branch),
    # not just the documented empty-plan edge.
    n_before = observed_or(n_before_obs, "n", None)
    if n_before is None:
        # Every row of the touched partitions was deleted: the checkpoint
        # produced an empty result and the observed metric never
        # materialized (see functions/observe.py) — fall back to the
        # explicit count, paid only on this edge case.
        n_before = (
            spark.read.parquet(f"{index_dir}/corpus")
            .filter(F.col("partition_id").isin([int(p) for p in touched]))
            .count()
        )
    # One job over the checkpointed rows yields BOTH the survivor count
    # and the surviving-partition set (previously a count() plus a
    # distinct().collect()).
    part_counts = {
        int(r["partition_id"]): r["n"]
        for r in rewritten.groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_after = sum(part_counts.values())
    # The surviving mapping rows keep their EXISTING metadata and
    # created_at (ingestion provenance — TTL/audit queries key on it);
    # only faiss_id changes, joined in from the renumbered corpus.
    # Re-deriving the rows with current_timestamp() would silently stamp
    # every survivor of a touched partition as freshly ingested.
    new_mapping = (
        mapping.filter(F.col("partition_id").isin([int(p) for p in touched]))
        .withColumn("vec_id", F.col("original_id").cast("long"))
        .join(F.broadcast(del_ids), "vec_id", "left_anti")
        .drop("faiss_id")
        .join(
            rewritten.select("partition_id", "vec_id", "faiss_id"),
            ["partition_id", "vec_id"],
        )
        .select("partition_id", "faiss_id", "original_id", "metadata", "created_at")
        .localCheckpoint(eager=True)
    )
    # The renumbering outdates the append record's next ids: the next
    # append re-seeds from whatever is on disk.
    invalidate_append_state(index_dir)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # Both tables are eagerly checkpointed and independent of each
        # other — run the two dynamic-partition overwrites concurrently,
        # the same pattern append_to_index uses for its table writes.
        _run_concurrently(
            spark,
            [
                lambda: rewritten.write.mode("overwrite")
                .partitionBy("partition_id")
                .parquet(f"{index_dir}/corpus"),
                lambda: new_mapping.write.mode("overwrite")
                .partitionBy("partition_id")
                .parquet(f"{index_dir}/id_mapping"),
            ],
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        _release_checkpoint(rewritten, new_mapping)
    kept_parts = set(part_counts)
    for p in set(touched) - kept_parts:
        for table in ("corpus", "id_mapping"):
            shutil.rmtree(
                os.path.join(index_dir, table, f"partition_id={int(p)}"),
                ignore_errors=True,
            )
    # Post-write consistency gate (see docstring's crash-recovery
    # contract): read BACK from disk and compare per-touched-partition
    # row counts between corpus and id_mapping. A torn overwrite
    # surfaces here as a loud error telling the caller to re-run, not
    # as silently wrong serving results later.
    if kept_parts:
        surviving = [int(p) for p in kept_parts]

        def _disk_counts(table: str) -> dict[int, int]:
            return {
                int(r["partition_id"]): r["n"]
                for r in spark.read.parquet(f"{index_dir}/{table}")
                .filter(F.col("partition_id").isin(surviving))
                .groupBy("partition_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

        # Independent read-back jobs — overlap them like the writes above.
        c_counts, m_counts = _run_concurrently(
            spark, [lambda: _disk_counts("corpus"), lambda: _disk_counts("id_mapping")]
        )
        if c_counts != m_counts:
            bad = {
                p: (c_counts.get(p), m_counts.get(p))
                for p in set(c_counts) | set(m_counts)
                if c_counts.get(p) != m_counts.get(p)
            }
            raise RuntimeError(
                "delete_ids post-write verification failed: corpus vs "
                f"id_mapping row counts diverge for partitions {bad} "
                "(corpus_rows, mapping_rows); the index is torn — re-run "
                "the same delete_ids call to converge both tables"
            )
    return {"n_deleted": int(n_before - n_after), "partitions_rewritten": len(touched)}


# ---------------------------------------------------------------------------
# Shared oracle CTE: corpus with partition assignment + id_mapping
# ---------------------------------------------------------------------------

ASSIGNED_CTE = f"""
{CENTROIDS_CTE.strip()},
assign_scored AS (
    SELECT e.vec_id, e.embedding, e.label, c.partition_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9),
                        c.partition_id) AS r
    FROM embeddings e CROSS JOIN centroids c
),
corpus AS (
    SELECT vec_id, embedding, label, partition_id FROM assign_scored WHERE r = 1
),
id_mapping AS (
    SELECT partition_id,
           (row_number() OVER (PARTITION BY partition_id ORDER BY vec_id) - 1)::BIGINT AS faiss_id,
           vec_id::VARCHAR AS original_id,
           to_json(struct_pack(label := label)) AS metadata,
           vec_id, label
    FROM corpus
)
"""


# ---------------------------------------------------------------------------
# Declared queries + oracles
# ---------------------------------------------------------------------------


@register(
    "id_mapping_build",
    oracle=f"""
WITH {ASSIGNED_CTE.strip()}
SELECT partition_id, faiss_id, original_id, metadata FROM id_mapping
""",
)
def q_id_mapping_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6+O19+O20: build the id/metadata sidecar for the whole corpus."""
    return build_id_mapping(assigned_corpus(spark, sf_dir))


@register(
    "index_delete_rebuild",
    oracle=f"""
WITH {ASSIGNED_CTE.strip()},
kept AS (SELECT * FROM corpus WHERE vec_id % 17 != 0),
mapping AS (
    SELECT partition_id,
           (row_number() OVER (PARTITION BY partition_id ORDER BY vec_id) - 1)::BIGINT AS faiss_id,
           vec_id::VARCHAR AS original_id,
           to_json(struct_pack(label := label)) AS metadata
    FROM kept
)
SELECT partition_id, faiss_id, original_id, metadata FROM mapping
""",
)
def q_index_delete_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 extension [Q]: delete/tombstone maintenance. Build the durable
    index, delete a planted id set (vec_id % 17 == 0) via delete_ids'
    partition-pruned anti-join rewrite, return the surviving id_mapping.

    Oracle = the index REBUILT FROM SCRATCH without the deleted rows:
    delete-then-renumber must be indistinguishable from never having
    ingested the rows (dense per-partition faiss_ids in vec_id order).
    The partition-pruned-rewrite claim (untouched partition files are
    never rewritten) is gated byte-level in tests/test_indexing.py."""
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    cent = fixture_centroids(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="bvds_delete_gate_")
    try:
        idx = os.path.join(tmp, "index")
        append_to_index(spark, idx, emb, cent)
        delete_ids(
            spark, idx, emb.filter(F.col("vec_id") % 17 == 0).select("vec_id")
        )
        return (
            spark.read.parquet(f"{idx}/id_mapping")
            .select("partition_id", "faiss_id", "original_id", "metadata")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "id_remap_join",
    oracle=f"""
WITH {ASSIGNED_CTE.strip()},
hits AS (
    SELECT partition_id, faiss_id FROM id_mapping WHERE vec_id % 50 = 0
)
SELECT h.partition_id, h.faiss_id, m.original_id,
       json_extract(m.metadata, '$.label')::INT AS label
FROM hits h JOIN id_mapping m
  ON h.partition_id = m.partition_id AND h.faiss_id = m.faiss_id
""",
)
def q_id_remap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25: remap (partition_id, faiss_id) hits to original ids + metadata —
    the hash-join replacement for SQLite point lookups in a loop, and the
    batch lookup the reference stubbed (metadata_storage.py:175-177)."""
    full = build_id_mapping(assigned_corpus(spark, sf_dir))
    hits = full.filter(F.col("original_id").cast("bigint") % 50 == 0).select(
        "partition_id", "faiss_id"
    )
    return hits.join(full, ["partition_id", "faiss_id"]).select(
        "partition_id",
        "faiss_id",
        "original_id",
        F.get_json_object("metadata", "$.label").cast("int").alias("label"),
    )


@register(
    "metadata_lookup",
    oracle=f"""
WITH {ASSIGNED_CTE.strip()}
SELECT original_id, partition_id, faiss_id,
       json_extract(metadata, '$.label')::INT AS label
FROM id_mapping
WHERE original_id IN ('1', '42', '137', '256', '499')
""",
)
def q_metadata_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O26: metadata + faiss_id point lookups by original_id — both of the
    reference's shadowed get_metadata variants as one keyed query
    (metadata_storage.py:127-199)."""
    full = build_id_mapping(assigned_corpus(spark, sf_dir))
    return full.filter(F.col("original_id").isin("1", "42", "137", "256", "499")).select(
        "original_id",
        "partition_id",
        "faiss_id",
        F.get_json_object("metadata", "$.label").cast("int").alias("label"),
    )


@register(
    "dedup_anti_join",
    oracle="""
WITH existing AS (SELECT vec_id FROM embeddings WHERE vec_id < 400),
incoming AS (SELECT vec_id, label FROM embeddings WHERE vec_id >= 300)
SELECT i.vec_id, i.label
FROM incoming i
WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.vec_id = i.vec_id)
""",
)
def q_dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12: upsert guard — only records whose id is not already stored
    survive (vector_db.py:124-132), as one left anti join instead of
    per-record existence checks."""
    emb = load_table(spark, sf_dir, "embeddings")
    existing = emb.filter(F.col("vec_id") < 400).select("vec_id")
    incoming = emb.filter(F.col("vec_id") >= 300).select("vec_id", "label")
    return incoming.join(existing, "vec_id", "left_anti")


#: Bloom-filter sizing for the existence-check prefilter gate: m bits,
#: k md5-derived hash functions. At the fixture's stored-set size the
#: false-positive rate is (1 - e^(-k*n/m))^k ~ 3% — nonzero on purpose,
#: so the gate exercises the verify path, not just the happy case.
BLOOM_BITS = 4096
BLOOM_HASHES = 3


def _bloom_positions(id_col: Column) -> Column:
    """Array of BLOOM_HASHES bit positions for an id — md5-derived like
    every other cross-engine hash in the repo, so the DuckDB oracle sets
    the exact same bits."""
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{j}:"), id_col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % BLOOM_BITS
            for j in range(BLOOM_HASHES)
        ]
    )


def bloom_prefiltered_dedup(
    incoming: DataFrame, stored_ids: DataFrame
) -> DataFrame:
    """O12 at 100 TB: the existence-check dedup with a BLOOM PREFILTER —
    the scale path the plain anti-join docstrings promise. The stored-id
    side collapses to a <= BLOOM_BITS-row bit table; BLOOM_BITS is a
    sizing knob proportional to the stored-set size (~10 bits/key holds
    ~1% FP), so the table stays ~100x smaller than the raw id set and
    broadcastable long after the ids themselves are not; each
    incoming id checks its BLOOM_HASHES positions map-side, and only the
    might-contain survivors pay the exact anti-join verify. Output is the
    full per-id ledger ``(vec_id, might_contain, is_present, is_new)`` —
    false positives are visible as might_contain AND NOT is_present, and
    ``is_new`` equals the plain anti-join's answer exactly (the bloom
    filter has no false negatives, so verified results are identical).
    """
    bits = (
        stored_ids.select(F.explode(_bloom_positions(F.col("vec_id"))).alias("bit"))
        .distinct()
    )
    probed = incoming.select(
        "vec_id", F.explode(_bloom_positions(F.col("vec_id"))).alias("bit")
    )
    hits = (
        probed.join(F.broadcast(bits), "bit", "left_semi")
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("_nhit"))
        .filter(F.col("_nhit") == BLOOM_HASHES)
        .select("vec_id", F.lit(True).alias("might_contain"))
    )
    present = (
        incoming.select("vec_id")
        .join(hits.select("vec_id"), "vec_id", "left_semi")
        .join(stored_ids.select("vec_id"), "vec_id", "left_semi")
        .select("vec_id", F.lit(True).alias("is_present"))
    )
    return (
        incoming.select("vec_id")
        .join(hits, "vec_id", "left")
        .join(present, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("might_contain", F.lit(False)).alias("might_contain"),
            F.coalesce("is_present", F.lit(False)).alias("is_present"),
            (~F.coalesce("is_present", F.lit(False))).alias("is_new"),
        )
    )


def _bloom_pos_sql(j: int, expr: str) -> str:
    return (
        f"('0x' || substr(md5('{j}:' || ({expr})::VARCHAR), 1, 8))::BIGINT"
        f" % {BLOOM_BITS}"
    )


@register(
    "dedup_bloom_prefilter",
    oracle=f"""
WITH stored AS (SELECT vec_id FROM embeddings WHERE vec_id < 400),
incoming AS (
    SELECT vec_id FROM embeddings WHERE vec_id >= 300
    UNION ALL
    SELECT vec_id + 30000 FROM embeddings WHERE vec_id < 50
),
bits AS (
    SELECT DISTINCT bit FROM stored,
    unnest([{", ".join(_bloom_pos_sql(j, "vec_id") for j in range(BLOOM_HASHES))}]) AS u(bit)
),
probes AS (
    SELECT i.vec_id, u.bit
    FROM incoming i,
    unnest([{", ".join(_bloom_pos_sql(j, "i.vec_id") for j in range(BLOOM_HASHES))}]) AS u(bit)
),
hits AS (
    SELECT vec_id FROM probes p
    WHERE EXISTS (SELECT 1 FROM bits b WHERE b.bit = p.bit)
    GROUP BY vec_id HAVING count(*) = {BLOOM_HASHES}
)
SELECT i.vec_id,
       EXISTS (SELECT 1 FROM hits h WHERE h.vec_id = i.vec_id) AS might_contain,
       (EXISTS (SELECT 1 FROM hits h WHERE h.vec_id = i.vec_id)
        AND EXISTS (SELECT 1 FROM stored s WHERE s.vec_id = i.vec_id)) AS is_present,
       NOT (EXISTS (SELECT 1 FROM hits h WHERE h.vec_id = i.vec_id)
        AND EXISTS (SELECT 1 FROM stored s WHERE s.vec_id = i.vec_id)) AS is_new
FROM incoming i
""",
)
def q_dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 [Q], scale path: bloom-prefiltered existence-check dedup —
    stored ids collapse to a constant-size broadcast bit table, incoming
    ids (an overlapping slice plus genuinely-new re-keyed ids) check
    map-side, only might-contain survivors pay the exact verify. The
    per-id ledger exposes false positives; is_new matches the plain
    anti-join (dedup_anti_join) exactly — no false negatives by
    construction (tests/test_dedup.py quantifies the FP rate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    stored = emb.filter(F.col("vec_id") < 400).select("vec_id")
    incoming = (
        emb.filter(F.col("vec_id") >= 300)
        .select("vec_id")
        .unionByName(
            emb.filter(F.col("vec_id") < 50).select(
                (F.col("vec_id") + 30000).alias("vec_id")
            )
        )
    )
    return bloom_prefiltered_dedup(incoming, stored)


@register(
    "id_derivation_null_filter",
    oracle="""
WITH derived AS (
    SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE doc_id::VARCHAR END AS id,
           CASE WHEN length(text) = 0 THEN NULL ELSE text END AS payload,
           lang
    FROM documents
)
SELECT id, lang FROM derived
WHERE id IS NOT NULL AND payload IS NOT NULL
""",
)
def q_id_derivation_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11+O13: derive string ids (stringified index / key column), null out
    failures, and drop them — the reference skips records whose id or
    embedding came back None (vector_db.py:88-100,134-137)."""
    docs = load_table(spark, sf_dir, "documents")
    derived = docs.select(
        F.when(F.col("doc_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("doc_id").cast("string"))
        .alias("id"),
        F.when(F.length("text") == 0, F.lit(None)).otherwise(F.col("text")).alias("payload"),
        "lang",
    )
    return derived.filter(F.col("id").isNotNull() & F.col("payload").isNotNull()).select(
        "id", "lang"
    )


def trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained (k=10, seed=42) leader table, fitted once per
    (session, sf_dir) — the fit is the expensive stage and both kmeans
    queries need the same model (round-1 re-fit it per query).

    Trains on the id-prefix of 50*k vectors — the reference's exact
    train-set rule (train_set_size = 50*nlist, filled with the FIRST
    arrivals: storage_impl.py:83,103-105). A prefix by vec_id is the
    deterministic Spark restatement of "first N records", and it keeps the
    fit O(50*k*maxIter) regardless of corpus size."""
    k = 10
    return _cached(
        spark,
        sf_dir,
        "trained_centroids",
        lambda: train_kmeans_centroids(
            load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50 * k),
            k=k,
            seed=42,
            # Fixture-scale fit: fewer iterations + random init cut the
            # per-iteration job-scheduling latency that dominates tiny fits;
            # the dependent checks are invariants, not center positions.
            max_iter=8,
            init_mode="random",
        ),
    )


@register(
    "kmeans_train",
    oracle="""
SELECT g.i::INT AS partition_id, d.dim
FROM generate_series(0, 9) AS g(i)
CROSS JOIN (SELECT max(len(embedding))::INT AS dim FROM embeddings) d
""",
)
def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17/O18 [Q-invariant]: fit the k-means coarse quantizer (k=10,
    seed=42) and return the leader table's DETERMINISTIC projection —
    exactly k partition ids 0..k-1, every centroid at the corpus
    dimensionality. Center positions are seed-dependent with no SQL
    oracle; the unit-norm invariant (cosine-mode centers are normalized)
    is pytest-gated in tests/test_indexing.py."""
    cent = trained_centroids(spark, sf_dir)
    return cent.select(
        F.col("partition_id").cast("int").alias("partition_id"),
        F.size("centroid").cast("int").alias("dim"),
    )


def refresh_centroids(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """Incremental centroid maintenance: ONE Lloyd step under the current
    assignments — each partition's centroid moves to the (re-normalized)
    mean of the vectors currently assigned to it; partitions that lost
    every vector keep their old centroid. Returns
    ``(partition_id, centroid)`` like the trainer.

    This is the deterministic refresh the reference lacks (it retrains
    from scratch, vector_db.py:73): no RNG, no iteration-order
    dependence, so unlike ml.KMeans the refreshed centers have an EXACT
    SQL twin. Scale shape: one dim-exploded aggregate keyed on
    (partition, dim) — k*dim result rows regardless of corpus size —
    plus a k-row join; map-side partial aggregation does the heavy sum.
    """
    from ..functions.vector import l2_normalize

    pos = assigned.select(
        "partition_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    means = pos.groupBy("partition_id", "pos").agg(F.avg("val").alias("v"))
    fresh = (
        means.groupBy("partition_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(
            "partition_id",
            l2_normalize(F.expr("transform(pv, x -> x.v)")).alias("_fresh"),
        )
    )
    return centroids.join(fresh, "partition_id", "left").select(
        "partition_id",
        F.coalesce("_fresh", "centroid").alias("centroid"),
    )


#: Drifted-arrival slice for the refresh gate: vec_id < 100 re-keyed and
#: NEGATED — unit norm preserved, cosine flipped, so the arrivals land in
#: antipodal partitions and force real assignment churn.
_DRIFT_REKEY = 20_000


def _drifted_corpus(emb: DataFrame) -> DataFrame:
    drift = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + _DRIFT_REKEY).alias("vec_id"),
        F.expr("transform(embedding, x -> -x)").alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(drift)


@register(
    "kmeans_refresh",
    oracle=f"""
WITH {CENTROIDS_CTE.strip()},
corpus AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + {_DRIFT_REKEY}, list_transform(embedding, x -> -x)
    FROM embeddings WHERE vec_id < {100}
),
a_old AS (
    SELECT vec_id, embedding, partition_id FROM (
        SELECT c0.vec_id, c0.embedding, c.partition_id,
               row_number() OVER (
                   PARTITION BY c0.vec_id
                   ORDER BY round(1.0 - list_dot_product(c0.embedding::DOUBLE[], c.centroid), 9),
                            c.partition_id) AS r
        FROM corpus c0 CROSS JOIN centroids c
    ) WHERE r = 1
),
ref_pos AS (
    SELECT partition_id,
           unnest(generate_series(1, len(embedding))) AS pos,
           unnest(embedding) AS val
    FROM a_old
),
ref_means AS (
    SELECT partition_id, pos, avg(val::DOUBLE) AS v
    FROM ref_pos GROUP BY partition_id, pos
),
ref_raw AS (
    SELECT partition_id, list(v ORDER BY pos) AS fresh
    FROM ref_means GROUP BY partition_id
),
new_centroids AS (
    SELECT c.partition_id,
           coalesce(
               list_transform(r.fresh, x -> x / sqrt(list_dot_product(r.fresh, r.fresh))),
               c.centroid) AS centroid
    FROM centroids c LEFT JOIN ref_raw r USING (partition_id)
),
a_new AS (
    SELECT vec_id, partition_id FROM (
        SELECT c0.vec_id, c.partition_id,
               row_number() OVER (
                   PARTITION BY c0.vec_id
                   ORDER BY round(1.0 - list_dot_product(c0.embedding::DOUBLE[], c.centroid), 9),
                            c.partition_id) AS r
        FROM corpus c0 CROSS JOIN new_centroids c
    ) WHERE r = 1
),
moves AS (
    SELECT o.partition_id, count(*) AS n_before,
           sum(CASE WHEN o.partition_id <> n.partition_id THEN 1 ELSE 0 END) AS n_moved_out
    FROM a_old o JOIN a_new n USING (vec_id)
    GROUP BY o.partition_id
),
after AS (SELECT partition_id, count(*) AS n_after FROM a_new GROUP BY partition_id),
shifts AS (
    SELECT o.partition_id,
           round(1.0 - list_dot_product(o.centroid, n.centroid), 9) AS centroid_shift
    FROM centroids o JOIN new_centroids n USING (partition_id)
)
SELECT s.partition_id::INT AS partition_id,
       coalesce(m.n_before, 0)::BIGINT AS n_before,
       coalesce(a.n_after, 0)::BIGINT AS n_after,
       coalesce(m.n_moved_out, 0)::BIGINT AS n_moved_out,
       s.centroid_shift
FROM shifts s
LEFT JOIN moves m USING (partition_id)
LEFT JOIN after a USING (partition_id)
""",
)
def q_kmeans_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18-extension [Q]: incremental centroid maintenance under drift —
    the corpus plus a negated re-keyed arrival slice is assigned under
    the current (fixture) centroids, one deterministic Lloyd refresh step
    recomputes the centers, and the per-partition ledger reports the
    assignment-delta accounting: counts before/after, vectors moved out,
    and each centroid's cosine shift. The whole refresh (unlike the
    seed-dependent ml.KMeans trainer) is exactly SQL-mirrored — counts
    AND shifts hash-gated, not invariant-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _drifted_corpus(emb)
    cent_old = fixture_centroids(spark, sf_dir)
    a_old = assign_partitions(corpus, cent_old).select(
        "vec_id", "embedding", "partition_id"
    )
    cent_new = refresh_centroids(a_old, cent_old)
    a_new = assign_partitions(corpus, cent_new).select("vec_id", "partition_id")
    j = a_old.select("vec_id", F.col("partition_id").alias("pid_old")).join(
        a_new.select("vec_id", F.col("partition_id").alias("pid_new")), "vec_id"
    )
    moves = j.groupBy(F.col("pid_old").alias("partition_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"),
        F.sum((F.col("pid_old") != F.col("pid_new")).cast("int"))
        .cast("bigint")
        .alias("n_moved_out"),
    )
    after = a_new.groupBy("partition_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after")
    )
    shifts = (
        cent_old.select("partition_id", F.col("centroid").alias("c_old"))
        .join(
            cent_new.select("partition_id", F.col("centroid").alias("c_new")),
            "partition_id",
        )
        .select(
            "partition_id",
            F.round(
                F.lit(1.0) - dot_product(F.col("c_old"), F.col("c_new")), 9
            ).alias("centroid_shift"),
        )
    )
    return (
        shifts.join(moves, "partition_id", "left")
        .join(after, "partition_id", "left")
        .select(
            F.col("partition_id").cast("int").alias("partition_id"),
            F.coalesce("n_before", F.lit(0)).cast("bigint").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            F.coalesce("n_moved_out", F.lit(0)).cast("bigint").alias("n_moved_out"),
            "centroid_shift",
        )
    )


#: Deterministic hyperplane for the hot-list split: md5-derived signs at
#: an index outside the simhash/multiprobe plane ranges, so the splitter
#: is independent of every LSH family and identical in the SQL oracle.
_SPLIT_PLANE_INDEX = 1001


def _split_plane() -> list[int]:
    from .dedup import _plane_signs

    return _plane_signs(_SPLIT_PLANE_INDEX)


@register(
    "ivf_rebalance",
    oracle=f"""
WITH {ASSIGNED_CTE.strip()},
counts AS (SELECT partition_id, count(*) AS n FROM corpus GROUP BY 1),
hot AS (SELECT partition_id FROM counts ORDER BY n DESC, partition_id LIMIT 1),
split AS (
    SELECT c.vec_id,
           CASE WHEN round(list_dot_product(c.embedding::DOUBLE[],
                    [{{plane}}]), 9) >= 0
                THEN c.partition_id ELSE c.partition_id + 10 END AS new_pid
    FROM corpus c JOIN hot USING (partition_id)
),
keep AS (
    SELECT vec_id, partition_id AS new_pid FROM corpus
    WHERE partition_id NOT IN (SELECT partition_id FROM hot)
),
after AS (
    SELECT new_pid AS partition_id, count(*) AS n_after
    FROM (SELECT * FROM split UNION ALL SELECT * FROM keep) GROUP BY 1
)
SELECT coalesce(a.partition_id, b.partition_id)::INT AS partition_id,
       coalesce(b.n, 0)::BIGINT AS n_before,
       coalesce(a.n_after, 0)::BIGINT AS n_after
FROM after a FULL JOIN counts b ON a.partition_id = b.partition_id
""".replace(
        "{plane}", ", ".join(f"{s:.1f}" for s in _split_plane())
    ),
)
def q_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-lifecycle [Q]: hot-list splitting — the IVF maintenance op
    for skewed inverted lists. The most-occupied partition (tiebreak:
    smallest id) splits by the sign of each member's projection on a
    fixed md5-derived hyperplane: left half keeps the id, right half
    moves to id+k, every other list is untouched. Returns the
    per-partition before/after ledger. Deterministic end to end (no
    retraining), so counts are hash-gated exactly; at scale the split
    rewrites ONE partition directory and the ledger is the audit record.
    The same mechanism generalizes to splitting every list above an
    occupancy threshold."""
    from .knn import assigned_corpus

    corpus = assigned_corpus(spark, sf_dir).select(
        "vec_id", "embedding", "partition_id"
    )
    counts = corpus.groupBy("partition_id").agg(F.count(F.lit(1)).alias("n"))
    hot = counts.orderBy(F.col("n").desc(), F.col("partition_id").asc()).limit(1)
    plane = lit_array(float(s) for s in _split_plane())
    members = corpus.join(
        F.broadcast(hot.select("partition_id")), "partition_id"
    )
    split = members.select(
        "vec_id",
        F.when(
            F.round(dot_product(F.col("embedding"), plane), 9) >= 0,
            F.col("partition_id"),
        )
        .otherwise(F.col("partition_id") + 10)
        .alias("new_pid"),
    )
    keep = corpus.join(
        F.broadcast(hot.select("partition_id")), "partition_id", "left_anti"
    ).select("vec_id", F.col("partition_id").alias("new_pid"))
    after = (
        split.unionByName(keep)
        .groupBy(F.col("new_pid").alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return (
        after.join(counts, "partition_id", "full")
        .select(
            F.col("partition_id").cast("int").alias("partition_id"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
        )
    )


@register(
    "kmeans_assignment_balance",
    oracle="""
SELECT count(*)::BIGINT AS total_vectors,
       count(*)::BIGINT AS valid_assignments,
       10 AS k
FROM embeddings
""",
)
def q_kmeans_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18+O19 [Q-invariant]: assignment under TRAINED (not fixture)
    centroids, reduced to SQL-checkable invariants — every vector gets
    exactly one assignment and every partition id is in [0, k). The raw
    per-partition counts are seed-dependent and have no SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = trained_centroids(spark, sf_dir)
    assigned = assign_partitions(emb, cent)
    return assigned.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_vectors"),
        F.sum(F.when(F.col("partition_id").between(0, 9), 1).otherwise(0))
        .cast("bigint")
        .alias("valid_assignments"),
        F.lit(10).cast("int").alias("k"),
    )
