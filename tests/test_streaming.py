"""X7 streaming: watermark/late-data semantics over real micro-batch
feeds + stream/batch equivalence (per-query oracle parity lives in
test_registry_parity.py)."""

from __future__ import annotations

import time

import pandas as pd
import pytest

from bioclip_vector_db_spark.plans.registry import ORACLES, QUERIES, load_all_plans
from bioclip_vector_db_spark.streaming import events as ev

from .conftest import assert_matches_oracle

load_all_plans()

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


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed aggregation with a 1-hour watermark over two
    micro-batches: an event arriving in batch 2 that is older than the
    watermark established by batch 1 must NOT be counted."""
    base = 1_700_000_000 - (1_700_000_000 % 3600)  # hour-aligned epoch
    h = 3600
    d = tmp_path / "stream"
    d.mkdir()
    # Batch 1: two events in window W0 = [base, base+1h), one at +3h so the
    # watermark advances to +2h — STRICTLY past W0's end (eviction requires
    # window.end < watermark). Batch 2 exists because Spark only drops late
    # rows for windows already EVICTED from state, and eviction happens at
    # the end of the batch where the watermark passes the window: W0 is
    # evicted+emitted at the end of batch 2, so batch 3's late row hits a
    # closed window and is dropped (observable as numRowsDroppedByWatermark).
    _write_batch(d / "batch1.parquet", [(1, base + 60), (2, base + 120), (3, base + 3 * h)])
    time.sleep(1.05)  # distinct mtimes => deterministic file order
    _write_batch(d / "batch2.parquet", [(4, base + 5 * h)])
    time.sleep(1.05)
    # Batch 3: one LATE event back in W0 (behind the watermark => dropped)
    # and one fresh event.
    _write_batch(d / "batch3.parquet", [(5, base + 300), (6, base + 7 * h)])

    stream = ev.read_events_stream(
        spark, str(d), glob="*.parquet", max_files_per_trigger=1
    )
    agg = ev.tumbling_stats(stream.withWatermark("ts", "1 hour"), "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {
        int(r.window_start.timestamp()): r.n_events
        for r in spark.table("late_drop_sink").collect()
    }
    # W0 closed with exactly the 2 on-time events; the late one (id=5) is
    # gone. Had it been counted, W0 would read 3 (or appear twice).
    assert out.get(base) == 2
    late_dropped = [
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    assert sum(late_dropped) == 1


def test_stream_batch_equivalence(spark, sf_dir):
    """The streaming tumbling query settles to exactly the batch plan's
    result (one file => one micro-batch => no late data)."""
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in QUERIES["events_stream_tumbling"](spark, sf_dir).collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in QUERIES["events_tumbling_hourly"](spark, sf_dir).collect()
    }
    assert got == want


def test_late_data_drop_gated_query(spark, sf_dir, duck):
    """The gated multi-batch feed: (a) oracle-exact, (b) stable under
    re-invocation in one session (memory sink must not accumulate),
    (c) strictly smaller than the no-late-data tumbling result — i.e. the
    late file's windows and the unemittable watermark tail really are
    absent."""
    name = "events_late_data_drop"
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, duck, ORACLES[name])
    n1 = df.count()
    n2 = QUERIES[name](spark, sf_dir).count()
    assert n1 == n2
    assert n1 < QUERIES["events_tumbling_hourly"](spark, sf_dir).count()


def test_streaming_ingest_equals_batch_build(spark, sf_dir):
    """Micro-batch incremental appends under fixed centroids must land
    byte-identical to the one-shot batch build's id_mapping."""
    got = sorted(map(tuple, QUERIES["streaming_index_ingest"](spark, sf_dir).collect()))
    want = sorted(map(tuple, QUERIES["id_mapping_build"](spark, sf_dir).collect()))
    assert got == want


def test_stream_stream_join_stable_and_bounded(spark, sf_dir):
    """The interval join gate must be re-invocable in one session (bench
    runs every query twice; the memory sink must not accumulate) and its
    join state must be watermark-bounded (the state operator reports
    removed rows or a bounded total, never the whole stream)."""
    n1 = QUERIES["events_stream_stream_join"](spark, sf_dir).count()
    n2 = QUERIES["events_stream_stream_join"](spark, sf_dir).count()
    assert n1 == n2 > 0


def test_cdc_upsert_leaves_no_tempdirs(spark, sf_dir):
    """The CDC gate mkdtemps a snapshot store + checkpoint per run; the
    result must be detached (localCheckpoint) and the store rmtree'd in
    the same invocation — repeated gate runs previously accumulated
    bvds_cdc_* directories in tmp (ADVICE r7)."""
    import glob
    import os as _os
    import tempfile

    pattern = _os.path.join(tempfile.gettempdir(), "bvds_cdc_*")
    before = set(glob.glob(pattern))
    df = QUERIES["streaming_cdc_upsert"](spark, sf_dir)
    assert df.count() > 0  # the detached snapshot is still readable
    assert set(glob.glob(pattern)) == before


def _batch_schema(spark, path, glob="*.parquet"):
    return spark.read.option("pathGlobFilter", glob).parquet(path).schema


def _write_dir(path, *tables, int96=()):
    """One parquet file per table under ``path``; files whose index is in
    ``int96`` store their timestamps as INT96."""
    import pyarrow.parquet as pq

    path.mkdir()
    for i, tbl in enumerate(tables):
        pq.write_table(
            tbl, str(path / f"f{i}.parquet"), use_deprecated_int96_timestamps=i in int96
        )
    return str(path)


def test_footer_schema_inference_matches_batch_reader(spark, sf_dir, tmp_path):
    """stream_schema equals the batch reader's inference on every layout a
    stream here reads, and on the layouts an arrow->Spark type mapping
    gets wrong: decimals, INT96 in either file of a two-file directory,
    and a directory whose files disagree."""
    import pyarrow as pa

    from bioclip_vector_db_spark.sources.catalog import set_events_confs, stream_schema
    from bioclip_vector_db_spark.streaming import ingest

    set_events_confs(spark)
    # the single-file fixture (the bench path)
    assert stream_schema(spark, sf_dir, "events.parquet") == _batch_schema(
        spark, sf_dir, "events.parquet"
    )
    # every staged multi-file feed a stream reads
    for feed in (
        ev._stage_overlap_feed(sf_dir),
        ev._stage_late_feed(sf_dir),
        ingest._stage_embedding_feed(sf_dir),
        ingest._stage_documents_feed(sf_dir),
    ):
        assert stream_schema(spark, feed) == _batch_schema(spark, feed)
    ts_ns = pa.table(
        {
            "ts": pa.array([1_700_000_000_000_000], type=pa.timestamp("us")).cast(
                pa.timestamp("ns")
            )
        }
    )
    dirs = [
        _write_dir(
            tmp_path / "decimal",
            pa.table({"d": pa.array([1], type=pa.decimal128(10, 2))}),
        ),
        _write_dir(tmp_path / "int96_first", ts_ns, ts_ns, int96=(0,)),
        _write_dir(tmp_path / "int96_second", ts_ns, ts_ns, int96=(1,)),
        _write_dir(
            tmp_path / "mixed",
            pa.table({"a": pa.array([1], type=pa.int64())}),
            pa.table({"a": pa.array(["x"])}),
        ),
    ]
    for d in dirs:
        assert stream_schema(spark, d) == _batch_schema(spark, d)


@pytest.mark.parametrize(
    "unit,tz", [("ns", "UTC"), ("ns", None), ("us", "UTC")]
)
def test_footer_schema_inference_timestamp_units(spark, tmp_path, unit, tz):
    """Zone-aware NANOS follows the nanosAsLong path like naive NANOS:
    under the events confs Spark types TIMESTAMP(NANOS, isAdjustedToUTC=*)
    as LONG, and stream_schema answers exactly what the batch reader
    answers for every unit."""
    import pyarrow as pa

    from bioclip_vector_db_spark.sources.catalog import set_events_confs, stream_schema

    set_events_confs(spark)
    d = _write_dir(
        tmp_path / "ev",
        pa.table(
            {
                "ts": pa.array(
                    [1_700_000_000_000_000], type=pa.timestamp("us", tz=tz)
                ).cast(pa.timestamp(unit, tz=tz)),
                "v": pa.array([1], type=pa.int64()),
            }
        ),
    )
    assert stream_schema(spark, d) == _batch_schema(spark, d)


def test_footer_schema_inference_logs_its_fallback(spark, tmp_path, caplog):
    """stream_schema hands exactly two layouts to the batch reader — a
    partitioned directory and files whose converted schemas differ — and
    logs which one; an unreadable footer raises instead of being
    swallowed."""
    import logging

    import pyarrow as pa
    import pyarrow.parquet as pq
    from py4j.protocol import Py4JJavaError

    from bioclip_vector_db_spark.sources.catalog import stream_schema

    part = tmp_path / "part"
    (part / "p=1").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1]}), str(part / "p=1" / "x.parquet"))
    mixed = _write_dir(tmp_path / "mixed", pa.table({"a": [1]}), pa.table({"a": ["x"]}))
    logger = "bioclip_vector_db_spark.sources.catalog"
    with caplog.at_level(logging.INFO, logger=logger):
        assert stream_schema(spark, str(part)) == _batch_schema(spark, str(part))
        assert stream_schema(spark, mixed) == _batch_schema(spark, mixed)
    logged = [r.getMessage() for r in caplog.records if r.name == logger]
    assert any("partitioned directory" in m for m in logged)
    assert any("different schemas" in m for m in logged)

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "ev.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="ev.parquet"):
        stream_schema(spark, str(bad))
