"""Streaming index ingest — the reference's batch-only ingest loop
re-expressed as a Structured Streaming pipeline.

The reference ingests with a sequential driver loop and explicitly no
streaming (src/bioclip_vector_db/vector_db.py:84 ``streaming=False``,
:124,153 — the loop buffers records and flushes per storage batch). Here
the same lifecycle — arrive, dedup, assign to a partition under FIXED
centroids, take the next dense faiss_id, land in the partitioned layout —
runs as ``readStream -> foreachBatch(append_to_index)``: each micro-batch
is one incremental append (operators.indexing.append_to_index, the exact
code path api.add_batch uses), so the streaming and serving ingest paths
cannot drift apart.

Scale notes: state lives entirely in the index tables (no streaming state
store). Per batch: the batch assignment and the two table writes; the
next faiss_ids ride the corpus write as an observed metric, so the
max-faiss_id aggregate over the stored corpus runs only on a process's
first append to an index. Appends only touch the partition directories
the batch lands in. The per-batch anti-join dedup scans stored vec_ids —
at 100 TB that becomes a bloom-filter or partition-pruned semi-join,
which Spark's AQE already rewrites when the id side is small.

Determinism of the gated query: the feed files split vec_id into three
ascending ranges processed in mtime order, so each partition's appended
rows arrive already sorted by vec_id and the final id_mapping is
byte-identical to the one-shot batch build — the ``id_mapping_build``
oracle applies verbatim.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import nd_ctes_sql as _nd_ctes_sql
from ..operators.indexing import ASSIGNED_CTE, _run_concurrently, append_to_index
from ..operators.knn import fixture_centroids
from ..plans.registry import register
from ..sources.catalog import read_parquet_stream


def _stage_embedding_feed(sf_dir: str, n_files: int = 3) -> str:
    """Split the embeddings fixture into ``n_files`` ascending-vec_id
    files (arrival order = id order, so per-partition faiss_id sequences
    match the one-shot build)."""
    from .staging import staged_feed

    def splits(tbl):
        import pyarrow.compute as pc

        hi = pc.max(tbl["vec_id"]).as_py() + 1
        step = max(1, hi // n_files)
        for i in range(n_files):
            lo_i = i * step
            hi_i = (i + 1) * step if i < n_files - 1 else hi
            yield f"f{i}", tbl.filter(
                pc.and_(
                    pc.greater_equal(tbl["vec_id"], lo_i),
                    pc.less(tbl["vec_id"], hi_i),
                )
            )

    return staged_feed(
        os.path.join(sf_dir, "embeddings.parquet"), "bvds_ingest_feed", splits
    )


def drain_feed(
    spark: SparkSession,
    feed_dir: str,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> None:
    """Run ``fn`` as the foreachBatch sink of a stream over the parquet
    files under ``feed_dir``, one file per micro-batch, until every file
    is processed (availableNow). The stream's progress lives at
    ``checkpoint``, so a rerun resumes after the last committed batch."""
    (
        read_parquet_stream(spark, feed_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_ingest(
    spark: SparkSession, feed_dir: str, index_dir: str, centroids: DataFrame
) -> None:
    """Run the streaming ingest to completion (availableNow): one
    incremental index append per micro-batch."""

    def _append(batch: DataFrame, _batch_id: int) -> None:
        append_to_index(spark, index_dir, batch, centroids)

    drain_feed(spark, feed_dir, _append, f"{index_dir}/_ingest_ckpt")


def _index_consistent(spark: SparkSession, index_dir: str) -> bool:
    """True when the durable index dir's two tables agree: every corpus
    row has its id_mapping row (append_to_index writes them in that order
    non-atomically, so a crash between the writes shows up as
    corpus > id_mapping here). Empty/unreadable dirs are inconsistent."""
    try:
        n_corpus = spark.read.parquet(f"{index_dir}/corpus").count()
        n_mapping = spark.read.parquet(f"{index_dir}/id_mapping").count()
    except Exception:
        return False
    return n_corpus == n_mapping and n_corpus > 0


@register(
    "streaming_index_ingest",
    oracle=f"""
WITH {ASSIGNED_CTE.strip()}
SELECT partition_id, faiss_id, original_id, metadata FROM id_mapping
""",
)
def q_streaming_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7+O3/O6 [Q]: ingest the corpus as a 3-micro-batch stream of
    incremental appends under fixed centroids, then return the resulting
    id_mapping — byte-identical to the one-shot batch build's
    (same oracle as ``id_mapping_build``).

    The index dir is durable per (source, logic) fingerprint: a
    re-invocation is a streaming RESTART against the existing checkpoint —
    no unprocessed files, so availableNow terminates without re-appending,
    and the already-landed id_mapping is returned. A replayed uncommitted
    batch is absorbed by append_to_index's vec_id anti-join, so the sink
    is EFFECTIVELY-once at the corpus granularity — but append_to_index
    lands corpus and id_mapping as separate (concurrent) non-atomic
    writes, and a crash with only one landed leaves rows whose replay the
    anti-join removes before the other table's write, permanently
    desyncing the tables. The gate therefore VALIDATES a reused dir
    (corpus and id_mapping row counts must agree, either direction of
    mismatch fails) and rebuilds from scratch — crash recovery is
    rebuild, not repair.
    """
    from .staging import durable_stream_gate, fixture_stream_conf

    feed = _stage_embedding_feed(sf_dir)
    cent = fixture_centroids(spark, sf_dir)
    with durable_stream_gate(
        "bvds_stream_ingest",
        os.path.join(sf_dir, "embeddings.parquet"),
        logic=(stream_ingest, drain_feed, append_to_index),
        validate=lambda d: _index_consistent(spark, d),
    ) as (index_dir, _fresh):
        # Per-batch shuffles (anti-join, faiss-id window) move k*batch-sized
        # data; 32-way exchanges pay pure scheduling latency here (same
        # sizing note as the other streaming gates — a cluster keeps the
        # default).
        with fixture_stream_conf(spark):
            stream_ingest(spark, feed, index_dir, cent)
        return spark.read.parquet(f"{index_dir}/id_mapping").select(
            "partition_id", "faiss_id", "original_id", "metadata"
        )


def _stage_documents_feed(sf_dir: str, n_files: int = 3) -> str:
    """Split the documents fixture into ``n_files`` ascending-doc_id
    files (arrival order = id order) — the near-dup ingest feed."""
    from .staging import staged_feed

    def splits(tbl):
        import pyarrow.compute as pc

        hi = pc.max(tbl["doc_id"]).as_py() + 1
        step = max(1, hi // n_files)
        for i in range(n_files):
            lo_i = i * step
            hi_i = (i + 1) * step if i < n_files - 1 else hi
            yield f"d{i}", tbl.filter(
                pc.and_(
                    pc.greater_equal(tbl["doc_id"], lo_i),
                    pc.less(tbl["doc_id"], hi_i),
                )
            )

    return staged_feed(
        os.path.join(sf_dir, "documents.parquet"), "bvds_neardup_feed", splits
    )


def _write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Idempotent per-batch store write: stamp the micro-batch id and
    dynamically overwrite exactly that partition — an at-least-once
    foreachBatch replay rewrites its own partition instead of appending
    duplicate rows (the replay-protection contract of
    stream_near_dup_ingest)."""
    from pyspark.sql import functions as F

    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def stream_near_dup_ingest(
    spark: SparkSession, feed_dir: str, store_dir: str, threshold: float = 0.8
) -> None:
    """Streaming MinHash near-dup-at-ingest: each micro-batch is checked
    against the STORED corpus' LSH band index (existence-check semantics,
    O12 generalized to near-duplicates), flagged pairs land in a pairs
    table, then the batch's docs + band buckets join the store.

    Per batch: signatures/buckets/shingle-set sizes are computed once for
    the batch (the store's buckets and sizes were computed when THEIR
    batch arrived — signatures and set sizes are never recomputed for
    stored docs: each doc's ``n_shingles`` rides the minhash aggregation
    for free and persists on its bucket rows); the candidate join keys
    on (band, sig) exactly like the batch pipeline and carries both
    sides' set sizes, so the Jaccard denominator needs NO size joins;
    the exact-Jaccard verify re-shingles ONLY the candidate stored docs
    (bounded by candidate count, not store size). In-batch pairs are NOT
    flagged — the check is against the store, mirroring the reference's
    per-id existence check.

    Replay contract (foreachBatch is at-least-once): every store table
    (pairs, docs, buckets) is PARTITIONED BY batch_id and written with
    dynamic partition overwrite, so a replayed batch rewrites exactly its
    own partitions instead of appending duplicates; and the stored side
    of the candidate join is restricted to batch_id < current — a replay
    that crashed after the docs append never sees its own half-written
    batch (which would flag in-batch pairs), and arrival-order semantics
    hold even if the whole checkpoint is lost and every batch replays.
    """
    from ..operators.dedup import doc_shingles, lsh_band_buckets, minhash_signatures

    def _process(batch: DataFrame, _batch_id: int) -> None:
        # No localCheckpoint needed: nothing below writes a path that the
        # batch plan reads (pairs derive from the PREVIOUS batches' store,
        # and the store writes land in partitions the pairs plan's
        # batch_id < current partition filter prunes at planning), so
        # plain persists suffice — two fewer materialization jobs per
        # batch.
        batch = batch.select("doc_id", "text")
        sh_b = doc_shingles(batch).persist()
        # The bucket rows carry each doc's shingle-set size: n_shingles
        # rides the minhash aggregation for FREE (same per-doc exchange)
        # and lands in the stored buckets table, so the verify stage
        # reads every candidate's set size off the candidate join itself
        # — the old per-batch sz_a re-aggregation over the re-shingled
        # candidates and BOTH post-verify size joins are gone (r16
        # VERDICT item 2).
        buckets_b = lsh_band_buckets(
            minhash_signatures(sh_b, with_set_size=True), carry=("n_shingles",)
        ).persist()
        _batch_persists = [sh_b, buckets_b]
        docs_path = f"{store_dir}/docs"
        buckets_path = f"{store_dir}/buckets"
        pairs_path = f"{store_dir}/pairs"
        # Materialize the shared persisted chain with ONE tiny action
        # BEFORE the concurrent writes: cold caches raced by concurrent
        # jobs are each computed per job (the cache only lands after the
        # first computation finishes), so without this the shingle
        # explode ran up to 3x per batch.
        buckets_b.count()

        # batch_id < current: earlier arrivals only — a replayed batch
        # must not join against its own (possibly partial) prior attempt,
        # and a full-checkpoint-loss replay must not see batches that
        # arrived later in the original run. The filter is a PARTITION
        # filter, so EXECUTION never touches this batch's own partitions.
        # Both store reads are constructed HERE, before the concurrent
        # writes launch: DataFrameReader.parquet lists the store and reads
        # a footer for schema inference AT ANALYSIS TIME, and on a replay
        # the sibling thread's dynamic overwrite deletes the old files of
        # exactly this batch's partition — inference racing that delete
        # saw FileNotFoundException (caught once under load by
        # test_near_dup_ingest_replay_is_idempotent). Analyzing against
        # the quiescent store closes the window; the captured file list
        # stays valid under the concurrent writes because the overwrite
        # only replaces partitions the filter prunes.
        if os.path.exists(buckets_path):
            stored_buckets_pre = spark.read.parquet(buckets_path).filter(
                F.col("batch_id") < F.lit(_batch_id)
            )
            # A missing docs table with buckets present is a corrupt
            # store — this read raises the same PATH_NOT_FOUND the old
            # in-thread read did, just sequentially.
            stored_docs_pre = spark.read.parquet(docs_path).filter(
                F.col("batch_id") < F.lit(_batch_id)
            )
        else:
            stored_buckets_pre = stored_docs_pre = None

        def _write_pairs() -> None:
            stored_buckets = stored_buckets_pre
            # Candidate pairs carry both sides' set sizes from the bucket
            # rows (constant per pair, so the distinct's cardinality is
            # unchanged).
            cands = (
                stored_buckets.select(
                    F.col("doc_id").alias("a_id"),
                    F.col("n_shingles").alias("a_sz"),
                    "band",
                    "sig",
                )
                .join(
                    buckets_b.select(
                        F.col("doc_id").alias("b_id"),
                        F.col("n_shingles").alias("b_sz"),
                        "band",
                        "sig",
                    ),
                    ["band", "sig"],
                )
                .select("a_id", "b_id", "a_sz", "b_sz")
                .distinct()
            )
            cand_ids = cands.select(F.col("a_id").alias("doc_id")).distinct()
            stored_docs = stored_docs_pre
            # Candidates are re-shingled for the INTERSECTION only; their
            # set sizes came off the bucket index above.
            cand_docs = stored_docs.select("doc_id", "text").join(cand_ids, "doc_id")
            sh_a = doc_shingles(cand_docs)
            pairs = (
                cands.join(
                    sh_a.select(F.col("doc_id").alias("a_id"), "shingle"), "a_id"
                )
                .join(
                    sh_b.select(
                        F.col("doc_id").alias("b_id2"),
                        F.col("shingle").alias("shingle_b"),
                    ),
                    (F.col("b_id") == F.col("b_id2"))
                    & (F.col("shingle") == F.col("shingle_b")),
                )
                .groupBy("a_id", "b_id")
                .agg(
                    F.count(F.lit(1)).alias("inter"),
                    # Constant within each (a_id, b_id) group — max is the
                    # deterministic way to carry them through.
                    F.max("a_sz").alias("a_sz"),
                    F.max("b_sz").alias("b_sz"),
                )
                .select(
                    "a_id",
                    "b_id",
                    F.round(
                        F.col("inter")
                        / (F.col("a_sz") + F.col("b_sz") - F.col("inter")),
                        9,
                    ).alias("jaccard"),
                )
                .filter(F.col("jaccard") >= threshold)
            )
            _write_batch_partition(pairs, _batch_id, pairs_path)

        # ALL per-batch writes are independent jobs — the pairs table
        # derives from the PREVIOUS batches' store partitions only, so it
        # runs concurrently with this batch's docs/buckets appends (one
        # write's latency saved per batch; same pattern as
        # append_to_index's table writes). Crash-consistency is unchanged
        # in kind: any table may land first, and a replayed batch rewrites
        # exactly its own partitions.
        writes = [
            lambda: _write_batch_partition(batch, _batch_id, docs_path),
            lambda: _write_batch_partition(buckets_b, _batch_id, buckets_path),
        ]
        if stored_buckets_pre is not None:
            writes.append(_write_pairs)
        _run_concurrently(batch.sparkSession, writes)
        # Per-batch persists are dead once the batch commits; release
        # them eagerly instead of leaning on LRU eviction across a
        # long-running stream.
        for df_ in _batch_persists:
            df_.unpersist()

    drain_feed(spark, feed_dir, _process, f"{store_dir}/_ckpt")


@register(
    "streaming_near_dup_ingest",
    oracle=f"""
WITH {_nd_ctes_sql()},
step AS (SELECT (max(doc_id) + 1) // 3 AS s FROM documents)
SELECT a_id, b_id, jaccard FROM nd, step
WHERE least(a_id // s, 2) < least(b_id // s, 2)
""",
)
def q_streaming_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2xX7 [Q]: STREAMING near-dup-at-ingest — the documents corpus
    arrives as a 3-micro-batch ascending-id stream; each batch is
    LSH-checked against the stored corpus' band index and cross-batch
    near-dup pairs (exact Jaccard >= 0.8, verified in-bucket only) are
    flagged at arrival time. Oracle: the batch MinHash pipeline's pairs
    restricted to cross-batch (arrival-order) pairs — the streaming
    composition must reproduce the batch answer exactly."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql import types as T

    from .staging import fixture_stream_conf

    feed = _stage_documents_feed(sf_dir)
    store = tempfile.mkdtemp(prefix="bvds_neardup_store_")
    try:
        with fixture_stream_conf(spark):
            stream_near_dup_ingest(spark, feed, store)
        pairs_path = os.path.join(store, "pairs")
        if os.path.exists(pairs_path):
            out = spark.read.parquet(pairs_path).localCheckpoint(eager=True)
        else:
            out = spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("b_id", T.LongType()),
                        T.StructField("a_id", T.LongType()),
                        T.StructField("jaccard", T.DoubleType()),
                    ]
                ),
            )
        return out.select("a_id", "b_id", "jaccard")
    finally:
        shutil.rmtree(store, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming CDC upsert: a durable latest-state snapshot merged per batch
# ---------------------------------------------------------------------------

def _cdc_batch_partial(batch: DataFrame) -> DataFrame:
    """Per-user partial state of ONE micro-batch: the (ts, event_id)-max
    record's value plus the batch's event count. max over a
    (ts_ns, event_id, value) struct is lexicographic on the unique total
    key, so the result is arrival-order-free."""
    return (
        batch.groupBy("user_id")
        .agg(
            F.max(F.struct("ts", "event_id", "value")).alias("_k"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("_k.ts").alias("last_ts_ns"),
            F.col("_k.event_id").alias("last_event_id"),
            F.col("_k.value").alias("last_value"),
            "n_events",
        )
    )


def merge_cdc_snapshot(
    spark: SparkSession, store: str, batch: DataFrame, batch_id: int
) -> None:
    """MERGE one micro-batch into the durable snapshot — the
    foreachBatch upsert (Delta-style MERGE INTO, expressed as a keyed
    re-aggregation since plain parquet has no merge):

    read snapshot ``batch_id - 1``  ∪  batch partial  →  groupBy(user)
    keep the (ts, event_id)-max record, sum counts  →  write snapshot
    ``batch_id`` (temp dir + atomic rename).

    Replay-idempotent BY KEYING: a replayed batch N re-reads snapshot
    N-1 (never its own partial output) and atomically re-publishes the
    same snapshot N. Late data folds correctly because the merge key is
    the total (ts, event_id) order, not arrival order — an old record
    arriving after a newer one cannot win the max."""
    import os as _os

    part = _cdc_batch_partial(batch)
    prev_path = _os.path.join(store, f"snap_{batch_id - 1}")
    if batch_id > 0 and _os.path.isdir(prev_path):
        prev = spark.read.parquet(prev_path)
        part = prev.unionByName(part)
    merged = (
        part.groupBy("user_id")
        .agg(
            F.max(
                F.struct("last_ts_ns", "last_event_id", "last_value")
            ).alias("_k"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("_k.last_ts_ns").alias("last_ts_ns"),
            F.col("_k.last_event_id").alias("last_event_id"),
            F.col("_k.last_value").alias("last_value"),
            "n_events",
        )
    )
    tmp = _os.path.join(store, f"_snap_{batch_id}.tmp")
    final = _os.path.join(store, f"snap_{batch_id}")
    merged.write.mode("overwrite").parquet(tmp)
    if _os.path.isdir(final):
        import shutil

        shutil.rmtree(final)
    _os.rename(tmp, final)


@register(
    "streaming_cdc_upsert",
    oracle="""
WITH ranked AS (
    SELECT user_id, epoch_ns(ts)::BIGINT AS ts_ns, event_id, value,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM events
)
SELECT user_id, ts_ns AS last_ts_ns, event_id AS last_event_id,
       round(value, 2) AS last_value, n::BIGINT AS n_events
FROM ranked WHERE rn = 1
""",
)
def q_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: streaming CDC upsert — maintain a durable latest-record
    snapshot per user across micro-batches via foreachBatch MERGE, fed by
    the OUT-OF-ORDER staged feed (newest rows first, oldest rows last):
    the late batch must fold in WITHOUT clobbering newer state, which the
    (ts, event_id)-max merge key guarantees. Snapshots are versioned by
    batch_id and each merge reads its predecessor only, so full-replay
    after checkpoint loss republishes identical snapshots
    (unit-tested in tests/test_round7_ops.py). The settled snapshot must
    equal the batch arg-max oracle over the whole events table."""
    import shutil
    import tempfile

    from .events import _stage_late_feed
    from .staging import fixture_stream_conf

    feed = _stage_late_feed(sf_dir)
    store = tempfile.mkdtemp(prefix="bvds_cdc_")

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_cdc_snapshot(spark, store, batch, batch_id)

    try:
        with fixture_stream_conf(spark):
            drain_feed(spark, feed, _merge, os.path.join(store, "_ckpt"))
        snaps = sorted(
            (d for d in os.listdir(store) if d.startswith("snap_")),
            key=lambda d: int(d.split("_")[1]),
        )
        # localCheckpoint detaches the result from the snap_N files so the
        # store can be removed eagerly — without it, the returned lazy
        # DataFrame pins the tempdir and repeated gate runs accumulate
        # bvds_cdc_* directories (ADVICE r7; same discipline as
        # q_streaming_near_dup_ingest above).
        return (
            spark.read.parquet(os.path.join(store, snaps[-1]))
            .select(
                "user_id",
                "last_ts_ns",
                "last_event_id",
                F.round("last_value", 2).alias("last_value"),
                "n_events",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)
