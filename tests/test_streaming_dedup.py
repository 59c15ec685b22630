"""X7/O12: streaming deduplication — dropDuplicatesWithinWatermark as the
streaming analog of the reference's existence-check upsert guard
(vector_db.py:124-132): a re-delivered event id within the watermark
horizon is ignored, with bounded state."""

from __future__ import annotations

import time

import pandas as pd

from bioclip_vector_db_spark.streaming import events as ev


def _write_batch(path, rows):
    ns = 10**9
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [int(r[1] * ns) for r in rows],
            "user_id": [1] * len(rows),
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(path)


def test_streaming_dedup_drops_redelivery(spark, tmp_path):
    base = 1_700_000_000
    d = tmp_path / "stream"
    d.mkdir()
    # Batch 1: events 1,2. Batch 2 redelivers event 2 (same id, same ts —
    # an at-least-once source retry) plus a new event 3.
    _write_batch(d / "b1.parquet", [(1, base + 1), (2, base + 2)])
    time.sleep(1.05)
    _write_batch(d / "b2.parquet", [(2, base + 2), (3, base + 600)])

    stream = ev.read_events_stream(
        spark, str(d), glob="*.parquet", max_files_per_trigger=1
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(r.event_id for r in spark.table("dedup_stream_sink").collect())
    assert ids == [1, 2, 3]


def test_near_dup_ingest_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Replay protection for stream_near_dup_ingest (at-least-once
    foreachBatch): every store table is partitioned by batch_id and
    dynamically overwritten, and the stored join side is restricted to
    earlier batch_ids. Losing the ENTIRE checkpoint and replaying every
    batch — the worst at-least-once failure — must reproduce the exact
    same store: no duplicate pairs/docs, no self-flagged in-batch pairs
    from a batch seeing its own prior attempt."""
    from bioclip_vector_db_spark.streaming.ingest import (
        _stage_documents_feed,
        stream_near_dup_ingest,
    )
    from bioclip_vector_db_spark.streaming.staging import fixture_stream_conf

    feed = _stage_documents_feed(sf_dir)
    store = tmp_path / "store"
    with fixture_stream_conf(spark):
        stream_near_dup_ingest(spark, feed, str(store))

    def snap(table):
        p = store / table
        if not p.exists():
            return []
        df = spark.read.parquet(str(p)).drop("batch_id")
        return sorted(map(tuple, df.collect()))

    first = {t: snap(t) for t in ("pairs", "docs", "buckets")}
    assert first["docs"], "stream must have ingested documents"

    # Simulate total checkpoint loss: the stream restarts from scratch
    # and re-delivers every batch against the already-populated store.
    import shutil

    shutil.rmtree(store / "_ckpt")
    with fixture_stream_conf(spark):
        stream_near_dup_ingest(spark, feed, str(store))

    second = {t: snap(t) for t in ("pairs", "docs", "buckets")}
    assert second == first
    # Explicitly: no duplicated doc rows and no in-batch self-pairs.
    docs = spark.read.parquet(str(store / "docs"))
    assert docs.count() == docs.select("doc_id").distinct().count()
