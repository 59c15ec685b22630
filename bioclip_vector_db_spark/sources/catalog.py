"""Table catalog over the parquet lakehouse.

The reference scans Hugging Face datasets / WebDataset tar shards
(reference: src/bioclip_vector_db/vector_db.py:63-86, O1/O2 in SURVEY.md);
here every table is a parquet source read declaratively so Catalyst gets
predicate pushdown, column pruning, and partition pruning for free.
"""

from __future__ import annotations

import json
import logging
import os

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_log = logging.getLogger(__name__)

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
    """The events table with its TIMESTAMP(NANOS) column made usable. The
    streaming reader (streaming/events.read_events_stream) applies the
    same confs and conversion, so both read the table identically."""
    set_events_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return convert_event_ts(df)


def stream_schema(spark: SparkSession, path: str, glob: str = "*.parquet") -> StructType:
    """The schema ``spark.read.option("pathGlobFilter", glob).parquet(path)``
    infers, derived on the driver with no Spark job: every matching
    file's footer goes through Spark's own
    ``ParquetFileFormat.readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` built from the session's SQL confs
    (nanosAsLong, NTZ inference, INT96, binaryAsString), so the answer is
    the batch reader's by construction. Names starting with ``_`` or
    ``.`` are skipped, as Spark's file index skips them.

    Two layouts take the batch reader's own inference, and the reason is
    logged: a partitioned directory (its partition columns are in no
    footer) and files whose converted schemas differ (which footer the
    batch reader picks is its own choice). A directory with no matching
    file, or an unreadable footer, raises.
    """
    # Classes are named in full: walking ``spark._jvm.org.apache...`` costs
    # one py4j round trip per name segment.
    def jvm_class(name: str) -> JavaClass:
        return JavaClass(name, spark._jvm._gateway_client)

    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    root = jvm_class("org.apache.hadoop.fs.Path")(path)
    pattern = jvm_class("org.apache.hadoop.fs.GlobPattern")(glob)
    files, partitioned = [], False
    for status in root.getFileSystem(conf).listStatus(root):
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if status.isDirectory():
            partitioned = True
        elif pattern.matches(name):
            files.append(status)
    if partitioned:
        reason = "partitioned directory"
    elif not files:
        raise FileNotFoundError(f"no file matching {glob!r} under {path}")
    else:
        parquet = "org.apache.spark.sql.execution.datasources.parquet."
        converter = jvm_class(parquet + "ParquetToSparkSchemaConverter")(state.conf())
        read_footer = jvm_class(parquet + "ParquetFooterReader").readFooter
        to_schema = jvm_class(parquet + "ParquetFileFormat").readSchemaFromFooter
        skip_row_groups = jvm_class(
            "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS
        input_file = jvm_class("org.apache.parquet.hadoop.util.HadoopInputFile")
        footer = jvm_class("org.apache.parquet.hadoop.Footer")
        schemas = {
            to_schema(
                footer(
                    status.getPath(),
                    read_footer(input_file.fromStatus(status, conf), skip_row_groups),
                ),
                converter,
            )
            .asNullable()  # as the batch reader's relation makes it
            .json()
            for status in files
        }
        if len(schemas) == 1:
            return StructType.fromJson(json.loads(schemas.pop()))
        reason = f"footers convert to {len(schemas)} different schemas"
    _log.info(
        "stream_schema(%s, %r): %s; taking the batch reader's schema",
        path,
        glob,
        reason,
    )
    return spark.read.option("pathGlobFilter", glob).parquet(path).schema


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    glob: str = "*.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The package's one file-stream reader: ``spark.readStream`` over the
    parquet files under ``path`` whose names match ``glob``, with the
    schema from :func:`stream_schema`. ``max_files_per_trigger`` caps the
    files each micro-batch takes (Spark's ``maxFilesPerTrigger``)."""
    reader = spark.readStream.schema(stream_schema(spark, path, glob)).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


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
