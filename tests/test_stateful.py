"""Custom stateful streaming: state must accumulate ACROSS micro-batches
(the property a per-batch aggregation cannot fake)."""

from __future__ import annotations

import time

import pandas as pd

from bioclip_vector_db_spark.streaming import events as ev
from bioclip_vector_db_spark.streaming import stateful
from bioclip_vector_db_spark.plans.registry import QUERIES, load_all_plans

load_all_plans()


def _write_batch(path, rows):
    ns = 10**9
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [int(r[1] * ns) for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": ["click"] * len(rows),
            "value": [r[3] for r in rows],
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(path)


def test_state_accumulates_across_batches(spark, tmp_path):
    base = 1_700_000_000
    d = tmp_path / "stream"
    d.mkdir()
    _write_batch(d / "b1.parquet", [(1, base + 1, 7, 2.0), (2, base + 2, 7, 3.0), (3, base + 3, 9, 1.0)])
    time.sleep(1.05)
    _write_batch(d / "b2.parquet", [(4, base + 10, 7, 5.0)])

    stream = ev.read_events_stream(
        spark, str(d), glob="*.parquet", max_files_per_trigger=1
    )
    q = (
        stateful.running_user_profiles(stream)
        .writeStream.format("memory")
        .queryName("stateful_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("stateful_sink").collect()
    # User 7 appears in both batches: the batch-2 emission must carry the
    # accumulated totals (3 events, 10.0), not batch-local ones (1, 5.0).
    user7 = sorted(
        [(r.n_events, r.total_value) for r in rows if r.user_id == 7]
    )
    assert user7 == [(2, 5.0), (3, 10.0)]
    user9 = [(r.n_events, r.total_value) for r in rows if r.user_id == 9]
    assert user9 == [(1, 1.0)]


def test_declared_query_runs(spark, sf_dir):
    from bioclip_vector_db_spark.sources.catalog import load_table

    out = QUERIES["events_stateful_user_profiles"](spark, sf_dir)
    total = sum(r.n_events for r in out.collect())
    # One input file => one batch => one emission per user carrying that
    # user's full count, so the emitted counts sum to the corpus size.
    assert total == load_table(spark, sf_dir, "events").count()
