"""End-to-end ingest pipeline — the reference's entry point 1 as ONE job.

The reference's ``BioclipVectorDatabase.load_database()`` (reference:
src/bioclip_vector_db/vector_db.py:182-187 dispatching to the local-shard
loop at :150-180 / web loop at :120-142) is a sequential Python loop:
decode -> parse taxon tags -> embed -> dedup-check -> buffered partitioned
store. Here the same lifecycle is one declarative DataFrame composition —
each stage is an operator from this package, and Catalyst fuses the
map-side stages (parse, embed prep, null filter) into the shard scan:

    tar shards (O2) -> group samples -> taxon parse (O8) -> embed UDF (O9)
      -> null/error filter (O13) -> dedup by key vs existing corpus (O12)
      -> k-means train (O17/O18) -> assign (O19) -> faiss ids (O20)
      -> partitioned corpus + leader + id_mapping writes (O3-O6)

Unlike the reference's trainer there is no record-dropping window
(SURVEY.md §1.4): training is fit-then-transform over the full frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.embedding import embed_documents
from .operators.indexing import build_index
from .operators.taxon import OUT_COLS, parse_taxon_tags
from .sources.webdataset import group_samples, read_webdataset

CAPTION_MEMBER = "taxontag_com.txt"
IMAGE_MEMBER = "jpg"


def load_shard_samples(spark: SparkSession, shard_dir: str) -> DataFrame:
    """O2: tar shards -> one row per sample with image payload + caption."""
    samples = group_samples(read_webdataset(spark, shard_dir))
    return samples.select(
        F.col("key"),
        F.col("members")[IMAGE_MEMBER].alias("image"),
        F.decode(F.col("members")[CAPTION_MEMBER], "utf-8").alias("tag"),
    )


def ingest_webdataset(
    spark: SparkSession,
    shard_dir: str,
    output_dir: str,
    *,
    existing_ids: DataFrame | None = None,
    k: int | None = None,
) -> dict[str, DataFrame]:
    """The full offline build over a shard directory. Returns build_index's
    tables + metrics; the indexed corpus rows carry the parsed taxon
    struct columns as metadata.

    ``existing_ids`` (a single-column ``key`` frame) enables the
    reference's resume path: already-ingested keys are anti-joined away
    BEFORE the embedding UDF runs, so no model work is spent on them
    (vector_db.py:124-133 — the dedup-before-embed ordering is explicit
    here because Catalyst won't reorder across a nondeterministic UDF).
    """
    samples = load_shard_samples(spark, shard_dir)
    if existing_ids is not None:
        samples = samples.join(existing_ids, "key", "left_anti")  # O12
    parsed = parse_taxon_tags(samples, "tag")  # O8
    embedded = embed_documents(parsed, text_col="raw_tag")  # O9 (stub kernel)
    clean = embedded.filter(  # O13
        F.col("key").isNotNull() & F.col("embedding").isNotNull()
    )
    vectors = clean.select(
        F.xxhash64("key").alias("vec_id"),
        "embedding",
        F.lit(0).alias("label"),
        "key",
        *OUT_COLS,
    )
    return build_index(vectors, output_dir, k=k)
