"""X7 (custom stateful): arbitrary per-key streaming state via
``applyInPandasWithState``.

Windowed aggregations (streaming/events.py) cover everything the built-in
state machines express; this module is the escape hatch the brief calls for
— a custom stateful operator for logic Spark's aggregates can't: here, a
per-user lifetime profile (event count, value total, last-seen timestamp)
maintained across micro-batches and re-emitted on every update, the shape a
feature-store or abuse-counter pipeline needs.

Scale notes: state is partitioned by the group key (user_id) exactly like a
streaming aggregation — each executor holds its keys' state in the state
store; batches arrive as Arrow-backed pandas frames per key. State size is
O(distinct users) x a few scalars, independent of event volume.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..plans.registry import register

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_seen_us", T.LongType()),
    ]
)


def _update_user_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            last_us = max(last_us, int(pdf["ts"].max().value // 1000))
    state.update((n, total, last_us))
    # total emitted rounded to 6: event values have 2 decimals, so the true
    # running total has <= 2 — rounding erases float-accumulation-order
    # noise (pandas pairwise sum vs any sequential reducer) far above it.
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total, 6)],
            "last_seen": [pd.Timestamp(last_us, unit="us")],
        }
    )


def running_user_profiles(events: DataFrame) -> DataFrame:
    """Maintain per-user lifetime profiles across micro-batches; emits the
    updated profile row for every user seen in the batch.

    Only the three columns the state function reads cross the Arrow
    boundary — projecting before the stateful op halves the JVM->Python
    transfer (the props/event_type payload never leaves the JVM)."""
    events = events.select("user_id", "ts", "value")
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_profile,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


@register(
    "events_stateful_user_profiles",
    oracle="""
SELECT user_id,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value,
       max(ts) AS last_seen
FROM events
GROUP BY user_id
""",
)
def q_events_stateful_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: the custom stateful operator run as a real streaming query
    (availableNow -> update-mode memory sink). The fixture is one parquet
    file => one micro-batch => exactly one emission per user carrying its
    lifetime profile, which equals the batch per-user aggregate — so the
    arbitrary-stateful path gets a full oracle. (Multi-batch emission
    sequences are covered rows-only in tests/test_stateful.py.)"""
    from .events import read_events_stream

    stream = read_events_stream(spark, sf_dir)
    profiles = running_user_profiles(stream)
    name = "events_stateful_profiles_sink"
    # State-store count = shuffle partitions at first start. Unlike the
    # JVM-side windowed gates (FIXTURE_STREAM_PARTITIONS=2), this operator
    # runs a Python worker per partition — group processing parallelism
    # dominates state-store open/commit cost, so it keeps 8 stores (150
    # users still don't need 32; a cluster keyspace keeps the default).
    from .staging import fixture_stream_conf

    with fixture_stream_conf(spark, partitions=8):
        q = (
            profiles.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # The oracle equality holds ONLY under one data-carrying micro-batch
    # (update mode emits per batch); fail loudly if the source ever splits
    # the fixture, instead of surfacing as a mysterious hash mismatch.
    data_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] and p["numInputRows"] > 0
    )
    if data_batches > 1:
        raise RuntimeError(
            f"events_stateful_user_profiles expects a single micro-batch "
            f"(single-file fixture); got {data_batches} — the GROUP BY "
            f"oracle no longer applies"
        )
    return spark.table(name)
