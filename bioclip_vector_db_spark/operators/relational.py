"""Relational utility operators from the reference's ingest/serve plumbing.

- O14 JSON encode/decode of metadata (metadata_storage.py:85,147,169).
- O15 partition-spec range expansion: ``"1,2,5-10"`` -> sorted distinct ints
  (neighborhood_server.py:353-365).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.registry import register
from ..sources.catalog import load_table

# ---------------------------------------------------------------------------
# Library API
# ---------------------------------------------------------------------------


def expand_partition_spec(spec: str) -> list[int]:
    """Driver-side O15: ``"1,2,5-10"`` -> ``[1, 2, 5, 6, ..., 10]``
    (sorted, deduped) — mirrors neighborhood_server.py:353-365."""
    out: set[int] = set()
    for token in spec.split(","):
        token = token.strip()
        if not token:
            continue
        if "-" in token:
            lo, hi = token.split("-", 1)
            out.update(range(int(lo), int(hi) + 1))
        else:
            out.add(int(token))
    return sorted(out)


def expand_partition_spec_df(spark: SparkSession, spec: str) -> DataFrame:
    """Columnar O15 — the same expansion as a DataFrame expression
    (split -> sequence -> explode -> distinct -> sort), usable inline in a
    join against the partition column."""
    return (
        spark.createDataFrame([(spec,)], "spec string")
        .select(F.explode(F.split("spec", ",")).alias("token"))
        .select(F.trim("token").alias("token"))
        .filter(F.length("token") > 0)
        .select(
            F.explode(
                F.sequence(
                    F.get(F.split("token", "-"), 0).cast("int"),
                    F.coalesce(
                        F.get(F.split("token", "-"), 1).cast("int"),
                        F.get(F.split("token", "-"), 0).cast("int"),
                    ),
                )
            ).alias("partition_id")
        )
        .distinct()
        .orderBy("partition_id")
    )


# ---------------------------------------------------------------------------
# Declared queries + oracles
# ---------------------------------------------------------------------------


@register(
    "json_metadata_roundtrip",
    oracle="""
SELECT event_id,
       json_extract(props, '$.k')::INT AS k,
       to_json(struct_pack(event_type := event_type,
                           k := json_extract(props, '$.k')::INT)) AS reencoded
FROM events
WHERE event_id % 100 = 0
""",
)
def q_json_metadata_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14: decode a JSON metadata field, then re-encode an enriched struct —
    the reference's json.loads/json.dumps cycle as Catalyst expressions."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.to_json(
            F.struct(
                F.col("event_type"),
                F.get_json_object("props", "$.k").cast("int").alias("k"),
            )
        ).alias("reencoded"),
    )


@register(
    "event_user_setops",
    oracle="""
WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
both_kinds AS (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers),
click_only AS (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
SELECT 'click_and_purchase' AS cohort, count(*)::BIGINT AS n_users FROM both_kinds
UNION ALL
SELECT 'click_only' AS cohort, count(*)::BIGINT AS n_users FROM click_only
""",
)
def q_event_user_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY.md §2.5 intersect/except): cohort sizes via
    INTERSECT / EXCEPT over per-event-type user sets — Spark plans both as
    aggregated semi/anti joins. ``subtract`` = EXCEPT DISTINCT, matching
    the oracle's set semantics regardless of input multiplicity (exceptAll
    would be bag semantics and only accidentally correct here)."""
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    both_kinds = clickers.intersect(buyers).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    ).select(F.lit("click_and_purchase").alias("cohort"), "n_users")
    click_only = clickers.subtract(buyers).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    ).select(F.lit("click_only").alias("cohort"), "n_users")
    return both_kinds.unionByName(click_only)


@register(
    "partition_range_expansion",
    oracle="""
WITH tokens AS (
    SELECT trim(t) AS token
    FROM unnest(string_split('1,2,5-10,3,5', ',')) AS u(t)
),
expanded AS (
    SELECT unnest(generate_series(
        string_split(token, '-')[1]::INT,
        coalesce(try_cast(string_split(token, '-')[2] AS INT),
                 string_split(token, '-')[1]::INT)
    )) AS partition_id
    FROM tokens WHERE length(token) > 0
)
SELECT DISTINCT partition_id FROM expanded ORDER BY partition_id
""",
)
def q_partition_range_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15: expand the server CLI's partition spec '1,2,5-10,3,5' into a
    sorted deduped partition-id table."""
    return expand_partition_spec_df(spark, "1,2,5-10,3,5")


@register(
    "events_cube",
    oracle="""
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(h, -1) AS hour_of_day,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM (SELECT event_type, hour(ts)::INT AS h, value FROM events)
GROUP BY CUBE (event_type, h)
""",
)
def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 OLAP [Q]: CUBE over (event_type, hour-of-day) — all four
    grouping sets in ONE pass (Catalyst expands the sets map-side; one
    shuffle, not four jobs). Group keys are coalesced to 'ALL'/-1
    sentinels so the subtotal rows carry no nulls into the compare."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("h"), "value"
    )
    return (
        ev.cube("event_type", "h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("h", F.lit(-1)).alias("hour_of_day"),
            "n_events",
            "total_value",
        )
    )


@register(
    "dq_audit",
    oracle="""
SELECT 'lineitem_orphans' AS check_name,
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
       )::BIGINT AS violations
UNION ALL
SELECT 'order_customer_orphans',
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT
UNION ALL
SELECT 'lineitem_nonpositive_quantity',
       (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)::BIGINT
UNION ALL
SELECT 'lineitem_discount_out_of_range',
       (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)::BIGINT
UNION ALL
SELECT 'orders_null_keys',
       (SELECT count(*) FROM orders WHERE o_orderkey IS NULL OR o_custkey IS NULL)::BIGINT
UNION ALL
SELECT 'lineitem_ship_before_order',
       (SELECT count(*) FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate < o.o_orderdate)::BIGINT
""",
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit [Q]: the expectations pass a pipeline runs before
    trusting a drop — referential integrity (anti joins, not per-row
    lookups), domain ranges, null keys, and cross-table temporal sanity.
    Six checks, each a count the optimizer can evaluate with pruned scans;
    the union is one job."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def one(name: str, cnt_df: DataFrame) -> DataFrame:
        return cnt_df.select(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("bigint").alias("violations"),
        )

    checks = [
        one("lineitem_orphans", li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")),
        one("order_customer_orphans", orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")),
        one("lineitem_nonpositive_quantity", li.filter(F.col("l_quantity") <= 0)),
        one("lineitem_discount_out_of_range", li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1))),
        one("orders_null_keys", orders.filter(F.col("o_orderkey").isNull() | F.col("o_custkey").isNull())),
        one(
            "lineitem_ship_before_order",
            li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
                F.col("l_shipdate") < F.col("o_orderdate")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@register(
    "json_malformed_handling",
    oracle="""
WITH raw AS (
    SELECT event_id,
           CASE WHEN event_id % 11 = 0 THEN substr(props, 1, length(props) - 1)
                ELSE props END AS payload
    FROM events WHERE event_id < 2000
),
parsed AS (
    SELECT event_id, payload,
           CASE WHEN json_valid(payload) THEN json_extract(payload, '$.k')::INT END AS k
    FROM raw
)
SELECT (count(*) FILTER (WHERE k IS NOT NULL))::BIGINT AS n_parsed,
       (count(*) FILTER (WHERE k IS NULL))::BIGINT AS n_corrupt,
       sum(k)::BIGINT AS k_total
FROM parsed
""",
)
def q_json_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest robustness [Q]: malformed JSON must be ACCOUNTED, not crash
    the job or silently vanish — every 11th payload is truncated (the
    fixture's JSON is all valid, so corruption is injected
    deterministically) and ``from_json`` PERMISSIVE parsing nulls it;
    the query reports parsed/corrupt/aggregate in one pass. The
    reference's per-record try/except loop (vector_db.py:134-137)
    becomes a columnar classify-and-aggregate."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    payload = F.when(
        F.col("event_id") % 11 == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    parsed = ev.select(
        "event_id",
        F.from_json(payload, "k INT").getField("k").alias("k"),
    )
    return parsed.agg(
        F.count("k").cast("bigint").alias("n_parsed"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).cast("bigint").alias("n_corrupt"),
        F.sum("k").cast("bigint").alias("k_total"),
    )


#: Explicit pivot column list: passing the values to pivot() skips the
#: extra distinct-collect job Spark otherwise runs AND makes the output
#: schema deterministic — at scale an unlisted pivot over a
#: high-cardinality column is both a hidden job and a schema hazard.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot",
    oracle=f"""
SELECT ts::DATE AS day,
       {", ".join(f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::BIGINT AS {t}_n" for t in EVENT_TYPES)}
FROM events GROUP BY 1
""",
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-relational [Q]: day x event_type pivot (the wide activity
    matrix every analytics layer asks for) written as CONDITIONAL
    aggregation over the explicit value list — ONE hash aggregation with
    map-side combine and one exchange, where DataFrame.pivot() (even
    with values listed) compiles to a two-aggregation, two-exchange
    plan; plan-guarded in tests/test_plans.py."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date(F.col("ts")).alias("day")).agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{t}_n")
            for t in EVENT_TYPES
        ]
    )


@register(
    "events_trailing_hour_window",
    oracle="""
SELECT event_id, user_id,
       (count(*) OVER w)::BIGINT AS n_trailing_hour,
       round(sum(value) OVER w, 6) AS value_trailing_hour
FROM events
WINDOW w AS (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
)
""",
)
def q_events_trailing_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-relational [Q]: time-RANGE window frame — for every event,
    the count and value-sum of the SAME user's events in the trailing
    hour (inclusive). Unlike the rows-frame running aggregates
    (events_user_running_value) the frame is time-bounded: Spark's
    rangeBetween needs a numeric ordering column, so the frame runs over
    unix microseconds with the interval expressed in the same unit —
    bit-for-bit the inclusive [ts - 1h, ts] frame DuckDB's INTERVAL
    RANGE produces. One shuffle on user_id; the frame scan is linear
    per partition (two-pointer, not per-row rescan)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing_hour"),
        F.round(F.sum("value").over(w), 6).alias("value_trailing_hour"),
    )


@register(
    "customer_scd2_merge",
    oracle="""
WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
upd AS (
    SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal FROM customer WHERE c_custkey % 10 = 3
    UNION ALL
    SELECT c_custkey + 100000, c_acctbal FROM customer WHERE c_custkey < 20
),
merged AS (
    SELECT b.c_custkey AS bk, b.c_acctbal AS bv, u.c_custkey AS uk, u.c_acctbal AS uv
    FROM base b FULL JOIN upd u ON b.c_custkey = u.c_custkey
)
SELECT bk AS c_custkey, 1 AS version, bv AS c_acctbal, uk IS NULL AS is_current
FROM merged WHERE bk IS NOT NULL
UNION ALL
SELECT uk, 2, uv, true FROM merged WHERE bk IS NOT NULL AND uk IS NOT NULL
UNION ALL
SELECT uk, 1, uv, true FROM merged WHERE bk IS NULL
""",
)
def q_customer_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-relational [Q]: slowly-changing-dimension type-2 merge —
    the MERGE INTO pattern as one full-outer join: an updates batch
    (deterministically derived: every custkey % 10 = 3 gets a balance
    bump, plus re-keyed brand-new customers) lands against the dimension;
    changed keys close their old version and open version 2, new keys
    open at version 1, untouched keys stay current. Versions are integers
    (not wall-clock valid_from) so the whole merge is hash-gated exactly.
    One key-shuffled join; at scale the write side is a partition
    overwrite of only the touched dimension partitions."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    upd = c.filter(F.col("c_custkey") % 10 == 3).select(
        "c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal")
    ).unionByName(
        c.filter(F.col("c_custkey") < 20).select(
            (F.col("c_custkey") + 100000).alias("c_custkey"), "c_acctbal"
        )
    )
    merged = c.select(
        F.col("c_custkey").alias("bk"), F.col("c_acctbal").alias("bv")
    ).join(
        upd.select(F.col("c_custkey").alias("uk"), F.col("c_acctbal").alias("uv")),
        F.col("bk") == F.col("uk"),
        "full",
    )
    kept = merged.filter(F.col("bk").isNotNull()).select(
        F.col("bk").alias("c_custkey"),
        F.lit(1).alias("version"),
        F.col("bv").alias("c_acctbal"),
        F.col("uk").isNull().alias("is_current"),
    )
    reopened = (
        merged.filter(F.col("bk").isNotNull() & F.col("uk").isNotNull())
        .select(
            F.col("uk").alias("c_custkey"),
            F.lit(2).alias("version"),
            F.col("uv").alias("c_acctbal"),
            F.lit(True).alias("is_current"),
        )
    )
    fresh = merged.filter(F.col("bk").isNull()).select(
        F.col("uk").alias("c_custkey"),
        F.lit(1).alias("version"),
        F.col("uv").alias("c_acctbal"),
        F.lit(True).alias("is_current"),
    )
    return kept.unionByName(reopened).unionByName(fresh)


#: Z-order curve width: bits per dimension interleaved into the key.
ZORDER_BITS = 8


def zorder_key(a: "F.Column", b: "F.Column", bits: int = ZORDER_BITS) -> "F.Column":
    """Bit-interleaved Morton key of two integer dimensions — the
    multi-dimensional clustering key behind Z-ordered data layout: rows
    sorted/range-partitioned by this key land so that a predicate on
    EITHER dimension prunes contiguous key ranges (the Delta/Iceberg
    OPTIMIZE ZORDER mechanism, expressed as plain Catalyst arithmetic).
    Pure shifts and masks — codegen, no UDF."""
    key = F.lit(0).cast("bigint")
    for i in range(bits - 1, -1, -1):
        key = (
            key
            + (a.bitwiseAND(F.lit(1 << i)) > 0).cast("bigint") * F.lit(1 << (2 * i + 1))
            + (b.bitwiseAND(F.lit(1 << i)) > 0).cast("bigint") * F.lit(1 << (2 * i))
        )
    return key


@register(
    "events_zorder_layout",
    oracle=f"""
WITH keyed AS (
    SELECT event_id, user_id % 256 AS u, hour(ts) * 8 + (day(ts) % 8) AS h
    FROM events
),
zk AS (
    SELECT event_id,
           ({" + ".join(
               f"(CASE WHEN u & {1 << i} > 0 THEN {1 << (2 * i + 1)} ELSE 0 END)"
               f" + (CASE WHEN h & {1 << i} > 0 THEN {1 << (2 * i)} ELSE 0 END)"
               for i in range(7, -1, -1)
           )})::BIGINT AS zkey
    FROM keyed
),
ranked AS (
    SELECT event_id, zkey,
           row_number() OVER (ORDER BY zkey, event_id) AS pos
    FROM zk
)
SELECT (pos - 1) // 250 AS file_id,
       count(*)::BIGINT AS n_rows,
       min(zkey)::BIGINT AS zkey_min,
       max(zkey)::BIGINT AS zkey_max
FROM ranked GROUP BY 1
""",
)
def q_events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-relational [Q]: Z-order clustering layout — events keyed
    by the Morton interleave of (user bucket, time-of-month bucket),
    globally ordered, and cut into 250-row files; output is the
    file-level (min, max) zkey manifest, i.e. exactly the statistics a
    lakehouse data-skipping index records. Because both dimensions'
    bits interleave, a filter on EITHER user or hour prunes most files
    by their zkey ranges — the property plain single-column sorting
    can't give both predicates. At scale the global sort is a
    range-partitioned write (repartitionByRange(zkey)); the row_number
    here stands in for file assignment at fixture size."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id",
        (F.col("user_id") % 256).alias("u"),
        (F.hour("ts") * 8 + F.dayofmonth("ts") % 8).alias("h"),
    )
    zk = keyed.select(
        "event_id", zorder_key(F.col("u"), F.col("h")).alias("zkey")
    )
    w = Window.orderBy("zkey", "event_id")
    return (
        zk.withColumn("pos", F.row_number().over(w) - 1)
        .groupBy((F.col("pos") / 250).cast("bigint").alias("file_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("zkey").cast("bigint").alias("zkey_min"),
            F.max("zkey").cast("bigint").alias("zkey_max"),
        )
    )


# ---------------------------------------------------------------------------
# Compaction planning (small-file bin assignment)
# ---------------------------------------------------------------------------

#: Pseudo-file count for the compaction gate: documents hash into this
#: many "files" via the same content-independent md5-bucket scheme as the
#: sampling/split gates.
COMPACT_N_FILES = 64

#: Target compacted size (chars here; bytes in real life).
COMPACT_TARGET = 8192

#: file_id range width of one prefix-sum block (same two-pass-scan knob
#: as text.PACK_BLOCK_WIDTH).
COMPACT_BLOCK_WIDTH = 16


def compaction_plan(
    manifest: DataFrame,
    *,
    target: int = COMPACT_TARGET,
    block_width: int = COMPACT_BLOCK_WIDTH,
) -> DataFrame:
    """Lakehouse small-file compaction planning: assign files (in file_id
    order) to output bins by cumulative size, a new bin whenever the
    running total crosses ``target`` — ``bin_id = floor((cumsum - size)
    / target)``, the same prefix-sum-selects-the-bin rule as token
    packing, so one oversized file occupies its own bin without shifting
    successors.

    The prefix sum is the two-pass distributed scan (per-block local
    cumsums + an O(n_files / width) block-offset table), NEVER a global
    single-partition window: a 100-TB table's manifest is millions of
    files, and compaction planning is itself a recurring background job —
    it cannot be the thing that funnels through one task. Result is
    byte-identical to the naive single-window form (= the oracle).
    """
    from pyspark.sql import Window

    base = manifest.select(
        "file_id",
        "size_chars",
        F.floor(F.col("file_id") / block_width).cast("bigint").alias("_block"),
    )
    w_local = Window.partitionBy("_block").orderBy("file_id")
    local = base.withColumn("_local_cum", F.sum("size_chars").over(w_local))
    totals = base.groupBy("_block").agg(F.sum("size_chars").alias("_bt"))
    w_blocks = Window.orderBy("_block")
    offsets = totals.select(
        "_block", (F.sum("_bt").over(w_blocks) - F.col("_bt")).alias("_off")
    )
    return (
        local.join(offsets, "_block")
        .withColumn(
            "bin_id",
            F.floor(
                (F.col("_off") + F.col("_local_cum") - F.col("size_chars")) / target
            ).cast("bigint"),
        )
        .select("file_id", "size_chars", "bin_id")
    )


@register(
    "documents_compaction_plan",
    oracle=f"""
WITH manifest AS (
    SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
            % {COMPACT_N_FILES}) AS file_id,
           sum(n_chars)::BIGINT AS size_chars
    FROM documents GROUP BY 1
)
SELECT file_id, size_chars,
       floor((sum(size_chars) OVER (ORDER BY file_id) - size_chars) * 1.0
             / {COMPACT_TARGET})::BIGINT AS bin_id
FROM manifest
""",
)
def q_documents_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse housekeeping [Q]: documents hash-bucketed into 64
    pseudo-files (manifest = file_id + total chars), then bin-packed into
    ~8 KB compaction groups by the two-pass distributed prefix sum. The
    oracle is the naive single-window cumulative sum — parity proves the
    block-decomposed scan exact."""
    docs = load_table(spark, sf_dir, "documents")
    file_id = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % COMPACT_N_FILES
    )
    manifest = docs.groupBy(file_id.alias("file_id")).agg(
        F.sum("n_chars").cast("bigint").alias("size_chars")
    )
    return compaction_plan(manifest)


@register(
    "events_grouping_sets",
    oracle="""
SELECT event_type,
       date_trunc('day', ts)::TIMESTAMP AS day,
       count(*)::BIGINT AS n_events,
       round(sum(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value,
       grouping(event_type)::BIGINT * 2 + grouping(date_trunc('day', ts))::BIGINT
           AS grouping_id
FROM events
GROUP BY GROUPING SETS ((event_type), (date_trunc('day', ts)), ())
""",
)
def q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-relational [Q]: explicit GROUPING SETS — per-type totals,
    per-day totals, and the grand total in ONE pass with a grouping_id
    disambiguator (the general form CUBE/ROLLUP specialize; Spark expands
    the sets without rescanning the input, value sums in exact DECIMAL).
    The grouping_id column is what downstream consumers key on to split
    the union back apart — gating it pins the bit order cross-engine."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day"), "value"
    )
    g = ev.groupingSets(
        [[F.col("event_type")], [F.col("day")], []],
        F.col("event_type"),
        F.col("day"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total_value"),
        F.grouping_id().cast("bigint").alias("grouping_id"),
    )
    return g.select(
        "event_type", "day", "n_events", "total_value", "grouping_id"
    )
