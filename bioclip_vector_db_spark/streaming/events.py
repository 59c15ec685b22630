"""X7: event-time windowed analytics over the ``events`` table — batch and
Structured Streaming forms of the same logical plans.

The reference has NO streaming surface (its ingest is a sequential batch
loop, src/bioclip_vector_db/vector_db.py:124,153 with ``streaming=False`` at
:84); this module is the north-star extension (SURVEY.md §2.6 X7): the
windowed aggregations a 100-TB event pipeline needs, written once and run
either over a static DataFrame or a ``readStream`` source.

Design notes for scale:
- Tumbling/sliding windows are ``F.window`` group-bys: partial aggregation
  happens map-side per (window, key) before the shuffle; state size in
  streaming mode is bounded by watermarking (late rows beyond the watermark
  are dropped, tested in tests/test_streaming.py).
- Session windows use ``F.session_window`` — Spark's native mergeable
  session state; the batch-mode oracle reproduces it with a
  gaps-and-islands window (lag + running sum), which IS the scalable batch
  formulation (one shuffle by user).
- Float parity: event values have 2 decimals; sums are rounded to 6 (not
  9) because cross-engine float-add ordering on hundreds of addends leaves
  ~1e-10 noise — 6 decimals is exact for 2-decimal inputs with huge margin.

The streaming entry (`events_stream_tumbling`) runs a REAL streaming query
(file source -> complete-mode memory sink, availableNow trigger) and returns
the settled result — byte-identical to the batch oracle because a single
input file arrives in one micro-batch (nothing is late w.r.t. the initial
watermark).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import (
    convert_event_ts,
    load_table,
    read_parquet_stream,
    set_events_confs,
)
from .staging import fixture_stream_conf

SESSION_GAP = "4 hours"

def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over the events parquet — the O1-analog streaming
    scan, read under the same confs as the batch catalog, so whatever unit
    the fixture's ts carries, batch and stream read it identically and
    ``convert_event_ts`` normalizes it."""
    set_events_confs(spark)
    return convert_event_ts(
        read_parquet_stream(spark, sf_dir, glob, max_files_per_trigger)
    )


# ---------------------------------------------------------------------------
# Window transformations (batch or streaming input)
# ---------------------------------------------------------------------------


def tumbling_stats(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per (tumbling window, event_type): count + value sum."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_stats(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """Per (sliding window, event_type): each event lands in width/slide
    overlapping windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def session_stats(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Per (user, session): session bounds + activity. A session extends
    while consecutive events arrive within ``gap``."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Declared queries + oracles
# ---------------------------------------------------------------------------


@register(
    "events_tumbling_hourly",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def q_events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: tumbling 1-hour windows x event_type (batch mode)."""
    return tumbling_stats(load_table(spark, sf_dir, "events"), "1 hour")


@register(
    "events_sliding_2h_1h",
    oracle="""
WITH expanded AS (
    SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                   date_trunc('hour', ts)]) AS window_start,
           event_type, value
    FROM events
)
SELECT window_start, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM expanded
GROUP BY 1, 2
""",
)
def q_events_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: sliding 2-hour windows every hour — every event contributes
    to exactly two windows; the oracle expands them explicitly."""
    return sliding_stats(load_table(spark, sf_dir, "events"), "2 hours", "1 hour")


@register(
    "events_session_windows",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
    SELECT user_id, ts, value,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
    FROM ordered
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 4 HOUR AS session_end,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM numbered
GROUP BY user_id, session_no
""",
)
def q_events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: 4-hour-gap session windows per user. The oracle is the
    gaps-and-islands batch formulation of Spark's session_window state
    merge (end = last event + gap, matching Spark's session extent)."""
    return session_stats(load_table(spark, sf_dir, "events"), SESSION_GAP)


def _stage_overlap_feed(sf_dir: str) -> str:
    """Two files with OVERLAPPING content: f1 carries event_id % 3 in
    (0, 1), f2 carries event_id % 3 in (1, 2) — every %3==1 row arrives
    twice, in two different micro-batches."""
    from .staging import staged_feed, ts_as_int64_ns

    def splits(tbl):
        import pyarrow.compute as pc

        tbl, _ = ts_as_int64_ns(tbl)
        rem = pc.subtract(
            tbl["event_id"], pc.multiply(pc.divide(tbl["event_id"], 3), 3)
        )
        yield "f1", tbl.filter(pc.less_equal(rem, 1))
        yield "f2", tbl.filter(pc.greater_equal(rem, 1))

    return staged_feed(os.path.join(sf_dir, "events.parquet"), "bvds_dupe_feed", splits)


@register(
    "events_stream_dedup",
    oracle="""
SELECT event_id, ts, user_id, event_type FROM events
""",
)
def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1xX7 [Q]: STREAMING dedup with bounded state —
    ``dropDuplicatesWithinWatermark`` over a 2-micro-batch feed where every
    event_id % 3 == 1 row arrives twice. Each row is emitted in its
    first-seen batch; the second arrival hits live dedup state and is
    suppressed, so the settled output is exactly the distinct event set.
    State is bounded by the watermark (keys older than it are expired) —
    the property plain dropDuplicates lacks at 100 TB; the delay here
    exceeds the fixture's whole time span so no key expires mid-feed."""
    staged = _stage_overlap_feed(sf_dir)
    stream = read_events_stream(
        spark, staged, glob="*.parquet", max_files_per_trigger=1
    ).select("event_id", "ts", "user_id", "event_type")
    deduped = stream.withWatermark("ts", "40 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = "events_stream_dedup_sink"
    with fixture_stream_conf(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "events_stream_stream_join",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
)
def q_events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: STREAM-STREAM interval join — each purchase attributed to
    every click by the same user in the preceding hour. The remaining
    Structured Streaming join mode the engine exercises: two watermarked
    streams, an equi-key plus event-time range condition, so Spark can
    bound both join-state buffers (clicks older than the watermark minus
    the interval are evicted — state is hours-sized, not stream-sized,
    the property that keeps this runnable against an unbounded 100-TB
    stream). Deterministic here because the single-file source is one
    micro-batch: every match is emitted in that batch, identical to the
    batch self-join oracle."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    name = "events_stream_stream_join_sink"
    with fixture_stream_conf(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "events_stream_left_outer_join",
    oracle="""
WITH matches AS (
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
wm AS (
    SELECT least(max(ts) FILTER (event_type = 'click'),
                 max(ts) FILTER (event_type = 'purchase'))
           - INTERVAL 2 HOUR AS closed_before
    FROM events
)
SELECT * FROM matches
UNION ALL
SELECT c.user_id, c.event_id AS click_id, NULL::BIGINT AS purchase_id,
       c.ts AS click_ts, NULL::TIMESTAMP AS purchase_ts
FROM events c, wm
WHERE c.event_type = 'click' AND c.ts < wm.closed_before
  AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
  )
""",
)
def q_events_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: stream-stream LEFT OUTER interval join — every click keeps
    its purchase attributions, and a click with NO purchase in its
    following hour emits a NULL row once its join state closes. The outer
    mode is the semantically distinct half of stream-stream joins: null
    emission is WATERMARK-DRIVEN (a row can only be declared unmatched
    when no future purchase could still match), which availableNow's
    trailing no-data batch performs for state closed at the final
    watermark.

    The oracle encodes the empirically pinned Spark 4 eviction rule
    (verified at sf0.001 and sf0.01, element-exact): the global watermark
    is the MIN over both sides' (max event time - 1h delay), and a
    click's state closes when its one-hour match window falls fully
    behind it — click_ts < least(max_click, max_purchase) - 2h. Clicks
    after that horizon emit ONLY their matches (never a premature null) —
    exactly what a restart against live data would see.

    Scale: same bounded-state shape as the inner gate (state is
    hours-sized per the condition-derived state watermark, never
    stream-sized); the null-emission path adds no state beyond what the
    inner join already holds."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    name = "events_stream_left_outer_join_sink"
    with fixture_stream_conf(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "events_stream_to_parquet",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
GROUP BY 1, 2
""",
)
def q_events_stream_to_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: the PRODUCTION sink — append-mode windowed aggregation
    written to parquet files with a checkpointed exactly-once commit log
    (the _spark_metadata protocol), then read back as a batch table. Unlike
    the memory-sink gates this is the shape a 100-TB pipeline actually
    runs: bounded state (append + watermark), files per state partition per
    trigger, atomic via the sink log. Deterministic because the single-file
    fixture is one data micro-batch and the trailing no-data batch evicts
    exactly the windows ending at or before max(ts) - delay.

    The checkpoint+sink dir is durable per (source, logic) fingerprint: a
    re-invocation is a streaming RESTART against the existing checkpoint —
    availableNow sees no unprocessed files and terminates, and the sink's
    commit log already holds the full output (exactly-once restart
    idempotence, which is itself part of the contract this gate covers).
    Editing the aggregation/watermark logic changes the fingerprint and
    starts a new checkpoint instead of replaying the old one's output."""
    from .staging import durable_stream_gate

    with durable_stream_gate(
        "bvds_stream_sink",
        os.path.join(sf_dir, "events.parquet"),
        logic=(read_events_stream, read_parquet_stream, tumbling_stats, "1 hour"),
    ) as (out, _fresh):
        stream = read_events_stream(spark, sf_dir)
        agg = tumbling_stats(stream.withWatermark("ts", "1 hour"), "1 hour")
        with fixture_stream_conf(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", f"{out}/data")
                .option("checkpointLocation", f"{out}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.read.parquet(f"{out}/data")


# --- late-data / watermark query (multi-batch staged feed) -----------------

#: Hour-aligned split points over the Jan-2024 events fixture. Rows >= HI
#: arrive FIRST (establishing the watermark), rows in [LO, HI) second, and
#: rows < LO arrive LAST — long behind the watermark, so every one is
#: dropped. Hour alignment guarantees the mid and late files never share a
#: tumbling window.
LATE_SPLIT_LO = _dt.datetime(2024, 1, 8, tzinfo=_dt.timezone.utc)
LATE_SPLIT_HI = _dt.datetime(2024, 1, 29, tzinfo=_dt.timezone.utc)
LATE_DELAY = "1 hour"


def _stage_late_feed(sf_dir: str) -> str:
    """The late-data feed: newest rows first (establishing the watermark),
    oldest rows last (arriving long behind it). ``ts`` is materialized as
    plain INT64 nanos so the staged files need no nanosAsLong conf."""
    from .staging import staged_feed, ts_as_int64_ns

    def splits(tbl):
        import pyarrow.compute as pc

        tbl, ts_ns = ts_as_int64_ns(tbl)
        lo = int(LATE_SPLIT_LO.timestamp()) * 10**9
        hi = int(LATE_SPLIT_HI.timestamp()) * 10**9
        yield "f1_head", tbl.filter(pc.greater_equal(ts_ns, hi))
        yield "f2_mid", tbl.filter(
            pc.and_(pc.greater_equal(ts_ns, lo), pc.less(ts_ns, hi))
        )
        yield "f3_late", tbl.filter(pc.less(ts_ns, lo))

    return staged_feed(os.path.join(sf_dir, "events.parquet"), "bvds_late_feed", splits)


@register(
    "events_late_data_drop",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM events
WHERE ts >= TIMESTAMP '{LATE_SPLIT_LO:%Y-%m-%d %H:%M:%S}'
  AND date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
GROUP BY 1, 2
""",
)
def q_events_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: watermark/late-data semantics as a REAL multi-batch streaming
    query. The events fixture is staged as three files fed one per
    micro-batch (newest rows first). Spark 4's pinned behavior (verified
    empirically, tests/test_streaming.py): an input row is dropped iff its
    window was already evicted — i.e. window_end <= the watermark used by a
    PRIOR batch's eviction — and a trailing no-data batch evicts everything
    up to the final watermark (global max ts - delay). Hence the emitted
    set is exactly: hourly windows with end <= max(ts) - 1h, counting only
    head+mid rows (every late-file row's window closed in batch 2's
    eviction, batches being 0-indexed head/mid/late).

    The reference has no streaming surface (vector_db.py:84,124 — batch
    loop, streaming=False); this extends X7 beyond the single-batch
    ``events_stream_tumbling`` gate.
    """
    staged = _stage_late_feed(sf_dir)
    stream = read_events_stream(
        spark, staged, glob="*.parquet", max_files_per_trigger=1
    )
    agg = tumbling_stats(stream.withWatermark("ts", LATE_DELAY), "1 hour")
    name = "events_late_data_drop_sink"
    # 4 micro-batches x per-state-store open/commit cost: sizing note in
    # staging.FIXTURE_STREAM_PARTITIONS (addBatch time ~ store count).
    with fixture_stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "events_stream_tumbling",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def q_events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: the SAME tumbling aggregation executed as a real Structured
    Streaming query — file source, 1-hour watermark, complete-mode memory
    sink, availableNow trigger — then returned as the settled batch result.
    One input file => one micro-batch => nothing is late vs the initial
    watermark, so the batch oracle applies exactly."""
    stream = read_events_stream(spark, sf_dir)
    agg = tumbling_stats(stream.withWatermark("ts", "1 hour"), "1 hour")
    name = "events_stream_tumbling_sink"
    with fixture_stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "events_stream_enrich",
    oracle="""
SELECT c.c_nationkey::INT AS nation,
       date_trunc('hour', e.ts) AS window_start,
       count(*)::BIGINT AS n_events,
       round(sum(e.value), 6) AS total_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
""",
)
def q_events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: stream-STATIC enrichment join — the standard "enrich the
    event stream with a dimension" pattern: the events stream joins the
    customer table (broadcast, stateless — a static side adds NO
    streaming state) before a watermarked tumbling aggregation per
    (nation, hour). At scale the dim side refreshes by swapping the
    broadcast per micro-batch; the stream side never buffers for the
    join itself. One input file => one micro-batch, so the batch oracle
    applies exactly."""
    from ..sources.catalog import load_table

    stream = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_nationkey").cast("int").alias("nation"),
    )
    enriched = stream.withWatermark("ts", "1 hour").join(
        F.broadcast(dim), "user_id"
    )
    agg = (
        enriched.groupBy("nation", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "nation",
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    name = "events_stream_enrich_sink"
    with fixture_stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "events_stream_session",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
    SELECT user_id, ts, value,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
    FROM ordered
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 4 HOUR AS session_end,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM numbered
GROUP BY user_id, session_no
""",
)
def q_events_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: session windows as a REAL Structured Streaming query —
    session_window's stateful merge (sessions extend/merge as events
    arrive) under a watermark, complete-mode memory sink, availableNow.
    One input file => one micro-batch, so the settled result equals the
    batch gaps-and-islands oracle exactly; at scale the watermark is
    what bounds session state (sessions older than the watermark
    finalize and evict)."""
    stream = read_events_stream(spark, sf_dir)
    agg = session_stats(stream.withWatermark("ts", "1 hour"), SESSION_GAP)
    name = "events_stream_session_sink"
    with fixture_stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def ohlc_stats(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per (tumbling window, event_type) OHLC: open/close = value at the
    min/max (ts, event_id) — arrival-order-independent by construction
    (min_by/max_by over a total event key), which is precisely what makes
    the SAME aggregate correct in streaming: late or reordered arrivals
    within the watermark cannot change the answer."""
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.round(F.min_by("value", key), 2).alias("open_value"),
            F.round(F.max("value"), 2).alias("high_value"),
            F.round(F.min("value"), 2).alias("low_value"),
            F.round(F.max_by("value", key), 2).alias("close_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "open_value",
            "high_value",
            "low_value",
            "close_value",
            "n_events",
        )
    )


@register(
    "events_stream_ohlc",
    oracle="""
WITH ranked AS (
    SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS window_start, value,
           row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rn_open,
           row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_close
    FROM events
)
SELECT window_start, event_type,
       round(max(CASE WHEN rn_open = 1 THEN value END), 2)  AS open_value,
       round(max(value), 2) AS high_value,
       round(min(value), 2) AS low_value,
       round(max(CASE WHEN rn_close = 1 THEN value END), 2) AS close_value,
       count(*)::BIGINT AS n_events
FROM ranked
GROUP BY window_start, event_type
""",
)
def q_events_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 [Q]: the OHLC rollup as a REAL Structured Streaming query —
    the continuous-aggregate twin of the batch events_ohlc_downsample
    backfill. Two implementations, one oracle: the batch form ranks with
    two windows, the streaming form folds min_by/max_by over the total
    (ts, event_id) key incrementally under a watermark; both must equal
    the rank-based SQL, which is what proves the incremental fold
    order-independent."""
    stream = read_events_stream(spark, sf_dir)
    agg = ohlc_stats(stream.withWatermark("ts", "1 hour"))
    name = "events_stream_ohlc_sink"
    with fixture_stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
