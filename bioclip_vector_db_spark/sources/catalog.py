"""Table catalog over the parquet lakehouse.

The reference scans Hugging Face datasets / WebDataset tar shards
(reference: src/bioclip_vector_db/vector_db.py:63-86, O1/O2 in SURVEY.md);
here every table is a parquet source read declaratively so Catalyst gets
predicate pushdown, column pruning, and partition pruning for free.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

#: All driver-fixture tables (TESTDATA.md) — TPC-H-ish star schema plus
#: events (stream analog), documents (text corpus), embeddings (vector corpus).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Scans stay columnar + prunable.

    The ``events`` fixture stores TIMESTAMP(NANOS), which Spark's parquet
    reader rejects by default. The legacy conf is a *runtime* SQL conf, so it
    is set here — on whichever session runs the query (the driver supplies
    its own SparkSession; configuring only our session factory is not
    enough). The nanos column is converted to a proper TIMESTAMP (micros;
    the fixture's values are micro-precision, so the cast is lossless).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Timestamp literals, window/date_trunc math, and parquet timestamp
    # reads all happen in the session timezone; every fixture timestamp is
    # naive and every DuckDB oracle treats it as such, so pin UTC on the
    # calling session unconditionally (a driver-supplied session may carry
    # any JVM default — and pinning only on the events path would make
    # other tables' parity depend on query ORDER within a session).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with its TIMESTAMP(NANOS) column made usable —
    shared by the batch catalog and the streaming reader
    (streaming/events.py) so both read the table identically."""
    set_events_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return convert_event_ts(df)


def infer_events_schema(spark: SparkSession, sf_dir: str, glob_pat: str):
    """Schema for the events file-stream source from the parquet footers
    directly — no Spark batch-read analysis pass (file-index build + footer
    job + schema merge cost ~0.11 s per call; 12 call sites, two per
    stream-stream join query). Returns ``None`` whenever the footers carry
    anything outside the small type whitelist that is PROVEN to map the way
    Spark's own parquet inference does under the events confs
    (``nanosAsLong``, NTZ inference) — the caller then falls back to the
    batch reader, so a type gap costs the old inference pass, never parity.
    """
    import glob as _glob

    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        files = [
            f
            for f in sorted(_glob.glob(os.path.join(sf_dir, glob_pat)))
            if os.path.isfile(f) and not os.path.basename(f)[0] in "._"
        ]
        if not files:
            return None
        # Partitioned layouts (subdirectories) add partition columns the
        # footer cannot see — leave those to the batch reader.
        with os.scandir(sf_dir) as it:
            if any(e.is_dir() and e.name[0] not in "._" for e in it):
                return None
        first = pq.ParquetFile(files[0])
        # INT96 carries no logical-type annotation: Spark reads it as
        # TIMESTAMP regardless of the nanosAsLong conf, while arrow reports
        # timestamp[ns] — indistinguishable from TIMESTAMP(NANOS) here.
        meta = first.metadata.schema
        if any(meta.column(i).physical_type == "INT96" for i in range(len(meta))):
            return None
        arrow_schema = first.schema_arrow
        for f in files[1:]:
            if not pq.read_schema(f).equals(arrow_schema, check_metadata=False):
                return None  # batch reader picks one footer; don't guess which

        nanos_as_long = (
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
        )
        infer_ntz = (
            spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
            == "true"
        )
        simple = {
            pa.int8(): T.ByteType(),
            pa.int16(): T.ShortType(),
            pa.int32(): T.IntegerType(),
            pa.int64(): T.LongType(),
            pa.float32(): T.FloatType(),
            pa.float64(): T.DoubleType(),
            pa.string(): T.StringType(),
            pa.bool_(): T.BooleanType(),
            pa.date32(): T.DateType(),
            pa.binary(): T.BinaryType(),
        }
        fields = []
        for af in arrow_schema:
            t = af.type
            if pa.types.is_timestamp(t):
                # NANOS is tested before the zone: Spark maps
                # TIMESTAMP(NANOS, isAdjustedToUTC=*) alike.
                if t.unit == "ns":
                    if not nanos_as_long:
                        return None  # Spark errors on TIMESTAMP(NANOS) here
                    spark_t = T.LongType()
                elif t.tz is not None:
                    spark_t = T.TimestampType()
                else:
                    spark_t = T.TimestampNTZType() if infer_ntz else T.TimestampType()
            else:
                spark_t = simple.get(t)
                if spark_t is None:
                    return None
            fields.append(T.StructField(af.name, spark_t, True))
        return T.StructType(fields)
    except Exception as exc:
        logging.getLogger(__name__).debug(
            "infer_events_schema(%s): footer read failed, falling back to "
            "Spark's own inference: %r",
            sf_dir,
            exc,
        )
        return None


def set_events_confs(spark: SparkSession) -> None:
    """Runtime confs the events fixture needs on WHATEVER session runs the
    query (the driver supplies its own; configuring only our session
    factory is not enough)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def convert_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to TIMESTAMP whatever the fixture carries — the
    regenerated testdata has switched units across rounds. nanos BIGINT
    converts via integer DIV (float division loses microsecond precision
    at ~1.7e18 magnitudes, past double's 53 bits); timestamp[us] without a
    zone arrives as TIMESTAMP_NTZ, which watermarks reject — cast to
    TIMESTAMP, value-preserving under the pinned UTC session zone."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register fixture tables as temp views so operators can be written in SQL."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
