"""Mid-flight fault injection (round-9 verdict item 2).

The existing replay tests cover FULL-checkpoint-loss (streaming/ingest.py
near-dup + CDC). These cover the two fault classes they hold constant:

- a streaming query KILLED mid-run and resumed from its checkpoint —
  both between micro-batches (clean kill: batch committed, next batch
  untouched) and mid-batch (crash after the batch's side effects ran but
  before the checkpoint commit, so the batch REPLAYS on resume);
- an injected TASK failure under spark.task.maxFailures=2 (subprocess,
  ``local[4,2]`` — see tests/_fault_subproc.py), proving the tar-packing
  sink and the index append core are retry-idempotent.

Every final state is compared against a fault-free run — same rows, no
duplicates, corpus/id_mapping consistent — giving the exactly-once /
effectively-once claims in SURVEY §2.7 measured backing.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bioclip_vector_db_spark.operators.indexing import (
    append_to_index,
    invalidate_append_state,
)
from bioclip_vector_db_spark.operators.knn import fixture_centroids
from bioclip_vector_db_spark.sources.catalog import read_parquet_stream
from bioclip_vector_db_spark.streaming.ingest import (
    _index_consistent,
    _stage_embedding_feed,
    drain_feed,
    stream_ingest,
)
from bioclip_vector_db_spark.streaming.staging import fixture_stream_conf


def _mapping_rows(spark, index_dir):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(f"{index_dir}/id_mapping")
        .select("partition_id", "faiss_id", "original_id", "metadata")
        .collect()
    )


def _run_ingest_with_foreach(spark, feed, index_dir, fn) -> "Exception | None":
    """stream_ingest's reader and checkpoint wiring (``drain_feed``), with
    an injectable foreachBatch — returns the streaming failure, if any."""
    try:
        drain_feed(spark, feed, fn, f"{index_dir}/_ingest_ckpt")
        return None
    except Exception as e:  # the injected kill surfaces here
        return e


def test_ingest_kill_between_batches_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Clean kill: batch 0 commits, the query dies BEFORE batch 1 does any
    work. Resuming from the checkpoint processes exactly the remaining
    batches — the final index equals a fault-free run's."""
    feed = _stage_embedding_feed(sf_dir)
    cent = fixture_centroids(spark, sf_dir)
    index_dir = str(tmp_path / "idx")

    seen: list[int] = []

    def _append_then_die(batch, batch_id):
        if len(seen) >= 1:
            raise RuntimeError("injected kill between micro-batches")
        seen.append(batch_id)
        append_to_index(spark, index_dir, batch, cent)

    with fixture_stream_conf(spark):
        err = _run_ingest_with_foreach(spark, feed, index_dir, _append_then_die)
        assert err is not None, "kill did not fire"
        assert len(seen) == 1

        # Simulate a process restart: the in-process append record must be
        # re-seeded from disk, not carried over from before the crash.
        invalidate_append_state(index_dir)
        stream_ingest(spark, feed, index_dir, cent)

        clean_dir = str(tmp_path / "idx_clean")
        stream_ingest(spark, feed, clean_dir, cent)

    assert _index_consistent(spark, index_dir)
    assert _mapping_rows(spark, index_dir) == _mapping_rows(spark, clean_dir)


def test_ingest_crash_mid_batch_replay_is_absorbed(spark, sf_dir, tmp_path):
    """Dirty crash: batch 1's append fully ran, then the query died before
    the checkpoint commit. On resume batch 1 REPLAYS; the vec_id anti-join
    absorbs the replayed rows (no duplicate ids, no skipped faiss_ids) and
    the final index equals a fault-free run's."""
    feed = _stage_embedding_feed(sf_dir)
    cent = fixture_centroids(spark, sf_dir)
    index_dir = str(tmp_path / "idx")

    state = {"appends": 0, "crashed": False}

    def _append_then_crash(batch, batch_id):
        append_to_index(spark, index_dir, batch, cent)
        state["appends"] += 1
        if state["appends"] == 2 and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash after append, before commit")

    with fixture_stream_conf(spark):
        err = _run_ingest_with_foreach(spark, feed, index_dir, _append_then_crash)
        assert err is not None and state["crashed"]

        invalidate_append_state(index_dir)
        stream_ingest(spark, feed, index_dir, cent)

        clean_dir = str(tmp_path / "idx_clean")
        stream_ingest(spark, feed, clean_dir, cent)

    assert _index_consistent(spark, index_dir)
    assert _mapping_rows(spark, index_dir) == _mapping_rows(spark, clean_dir)
    # The replayed batch must not have drawn fresh faiss_ids: per-partition
    # sequences stay dense 0..n-1.
    per_part = (
        spark.read.parquet(f"{index_dir}/id_mapping")
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("faiss_id").alias("mx"))
        .collect()
    )
    assert all(r["mx"] == r["n"] - 1 for r in per_part)


def test_parquet_sink_crash_mid_batch_is_exactly_once(spark, sf_dir, tmp_path):
    """The production file sink under a mid-batch crash: batch 0 commits,
    batch 1's write job fails (injected data-dependent task error), the
    query dies. Any orphan part-files from the failed attempt are NOT in
    the sink's _spark_metadata commit log, so on resume the batch replays
    and the read-back is exactly the input — no loss, no duplicates."""
    src = pq.read_table(os.path.join(sf_dir, "events.parquet")).select(
        ["event_id", "event_type", "value"]
    )
    feed = tmp_path / "feed"
    feed.mkdir()
    n = src.num_rows
    split = int(src["event_id"][n // 2].as_py())
    import pyarrow.compute as pc

    parts = [
        src.filter(pc.less(src["event_id"], split)),
        src.filter(pc.greater_equal(src["event_id"], split)),
    ]
    for i, tbl in enumerate(parts):
        p = feed / f"f{i}.parquet"
        pq.write_table(tbl, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    marker = str(tmp_path / "inject_failure")
    open(marker, "w").close()

    def _fail_on_late_rows(iterator):
        for pdf in iterator:
            if os.path.exists(marker) and (pdf["event_id"] >= split).any():
                raise RuntimeError("injected mid-batch task failure")
            yield pdf

    out = tmp_path / "sink"

    def _run():
        stream = read_parquet_stream(spark, str(feed), max_files_per_trigger=1)
        stream = stream.mapInPandas(_fail_on_late_rows, stream.schema)
        q = (
            stream.writeStream.format("parquet")
            .option("path", f"{out}/data")
            .option("checkpointLocation", f"{out}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with fixture_stream_conf(spark):
        with pytest.raises(Exception):
            _run()
        committed = {
            r["event_id"] for r in spark.read.parquet(f"{out}/data").collect()
        }
        assert committed == {
            v.as_py() for v in parts[0]["event_id"]
        }, "crashed batch leaked into the commit log"

        os.remove(marker)  # "fixed" restart
        _run()

    got = spark.read.parquet(f"{out}/data").groupBy("event_id").count()
    assert got.filter(F.col("count") > 1).count() == 0, "duplicate rows after resume"
    assert got.count() == n


def test_task_retry_idempotency_subprocess(sf_dir, tmp_path):
    """tests/_fault_subproc.py under ``local[4,2]``: every task's first
    attempt fails; the tar-packing sink and append core must produce
    byte-/row-identical results vs fault-free runs."""
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(os.path.dirname(__file__), "_fault_subproc.py"),
            sf_dir,
            str(tmp_path),
        ],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, f"subprocess failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    assert "SUBPROC-OK" in proc.stdout.splitlines()[-1]
