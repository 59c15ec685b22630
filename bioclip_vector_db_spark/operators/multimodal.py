"""X6/O2: multimodal (binary) columns — opaque payloads with typed metadata.

The reference's source rows carry image tensors next to caption strings
(reference: src/bioclip_vector_db/vector_db.py:74-80 WebDataset tuples of
``(__key__, jpg, taxontag_com.txt)``; T5 in SURVEY.md §1.2). In Spark the
payload is a ``BinaryType`` column plus a metadata struct — one row is one
multimodal record, and every transform is either a Catalyst expression over
the bytes (hashing, sizing) or an Arrow ``mapInPandas`` batch function
(decode / feature-extract / resize), never a driver-side loop.

The image/audio decode libraries are not in this container, so the decode
stage is a clearly-marked deterministic STUB (`decode_stub`): it derives
fake dimensions from the first payload bytes. The Spark-side plumbing —
binary schema, Arrow batch iteration, per-row error status (the reference
nulls failed decodes, vector_db.py:134-137) — is real and tested; swapping
in PIL/ffmpeg means replacing `_fake_decode` only.

O2 (WebDataset tar-shard scan) maps to ``spark.read.format("binaryFile")``,
exposed as `read_binary_dir` and exercised in tests with generated files:
each shard member becomes a (path, modTime, length, content) row, and glob
pushdown keeps partition listing parallel at 100-TB shard counts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.registry import register
from ..sources.catalog import load_table

#: Decoded-stub output schema: fake dims + per-row status.
DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("status", T.StringType()),
    ]
)


def read_binary_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """O2: binary-file scan — (path, modificationTime, length, content)
    rows, one per file/shard member."""
    return spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)


def to_binary_corpus(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """X6: lift a text corpus into the multimodal layout: opaque binary
    payload + typed metadata struct in one row."""
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text").alias("modality"),
            F.length(payload).cast("bigint").alias("n_bytes"),
            F.sha2(payload, 256).alias("payload_sha"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int | None, int | None, int | None, str]:
    """STUB for the real image decode (PIL/torchvision are not available in
    this container). Deterministic dims from the first two payload bytes;
    empty payloads report a decode error like the reference's null-filter
    path (vector_db.py:134-137)."""
    if payload is None or len(payload) < 2:
        return None, None, None, "decode_error"
    return payload[0] % 64 + 1, payload[1] % 64 + 1, 3, "ok"


def decode_stub(corpus: DataFrame) -> DataFrame:
    """The decode stage as Arrow ``mapInPandas``: batched columnar transfer,
    one output row per input row — the exact shape a real GPU decode/
    embed stage uses (batch size = Arrow batch, reference's --batch_size
    analog, vector_db.py:226-231)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(_fake_decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": decoded.map(lambda t: t[0]),
                    "height": decoded.map(lambda t: t[1]),
                    "channels": decoded.map(lambda t: t[2]),
                    "status": decoded.map(lambda t: t[3]),
                }
            )

    return corpus.mapInPandas(decode_batches, DECODE_SCHEMA)


FEATURE_BINS = 16

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("bin", T.IntegerType()),
        T.StructField("n", T.LongType()),
    ]
)


def extract_features(corpus: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads as Arrow ``mapInPandas``:
    a 16-bin byte-value histogram per payload — a real (not stubbed)
    content feature; a model-based extractor would swap in here with the
    same batch shape."""

    def histogram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, bins, counts = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    # Failed/absent payloads produce no features — the
                    # null-record path (vector_db.py:134-137), matching
                    # decode_stub's per-row error contract.
                    continue
                arr = np.frombuffer(bytes(payload), dtype=np.uint8) % FEATURE_BINS
                hist = np.bincount(arr, minlength=FEATURE_BINS)
                ids.extend([doc_id] * FEATURE_BINS)
                bins.extend(range(FEATURE_BINS))
                counts.extend(int(x) for x in hist)
            yield pd.DataFrame({"doc_id": ids, "bin": bins, "n": counts})

    return corpus.mapInPandas(histogram, FEATURE_SCHEMA)


FRAME_SIZE = 8
FRAME_STRIDE = 64

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


def sample_frames(corpus: DataFrame) -> DataFrame:
    """Frame sampling over binary payloads: every FRAME_STRIDE bytes, take
    a FRAME_SIZE-byte frame (only complete frames) — the video-frame-sample
    batch stage, digesting each frame so downstream work is constant-size
    per frame regardless of payload size."""
    import hashlib

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # null-record path, as in extract_features
                data = bytes(payload)
                i = 0
                while i * FRAME_STRIDE + FRAME_SIZE <= len(data):
                    frame = data[i * FRAME_STRIDE : i * FRAME_STRIDE + FRAME_SIZE]
                    ids.append(doc_id)
                    idxs.append(i)
                    shas.append(hashlib.md5(frame).hexdigest())
                    i += 1
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_sha": shas})

    return corpus.mapInPandas(frames, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Declared queries
# ---------------------------------------------------------------------------


@register(
    "multimodal_binary_manifest",
    oracle="""
SELECT doc_id,
       'text' AS modality,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS payload_sha
FROM documents
WHERE doc_id % 10 = 0
""",
)
def q_multimodal_binary_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 [Q]: the multimodal manifest — binary payloads with typed
    metadata; sizes and digests computed over the bytes, proving the
    binary column round-trips exactly."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    corpus = to_binary_corpus(docs)
    return corpus.select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.payload_sha").alias("payload_sha"),
    )


@register(
    "multimodal_feature_extract",
    oracle=f"""
WITH chars AS (
    SELECT doc_id, ascii(substr(text, i, 1)) % {FEATURE_BINS} AS bin
    FROM documents, unnest(generate_series(1, length(text))) AS u(i)
    WHERE doc_id % 10 = 0
),
bins AS (SELECT unnest(generate_series(0, {FEATURE_BINS - 1})) AS bin),
docs AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0)
SELECT d.doc_id, b.bin::INT AS bin, count(c.bin)::BIGINT AS n
FROM docs d CROSS JOIN bins b
LEFT JOIN chars c ON c.doc_id = d.doc_id AND c.bin = b.bin
GROUP BY d.doc_id, b.bin
""",
)
def q_multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 [Q]: byte-histogram feature extraction over binary payloads via
    mapInPandas; payloads are UTF-8 ASCII text here, so the oracle can
    recompute the histogram character-wise."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return extract_features(to_binary_corpus(docs))


@register(
    "multimodal_frame_sample",
    oracle=f"""
SELECT doc_id,
       (i - 1)::INT AS frame_idx,
       md5(substr(text, (i - 1) * {FRAME_STRIDE} + 1, {FRAME_SIZE})) AS frame_sha
FROM documents,
     unnest(generate_series(1, greatest((length(text) - {FRAME_SIZE}) // {FRAME_STRIDE} + 1, 0)))
         AS u(i)
WHERE doc_id % 10 = 0
  AND (i - 1) * {FRAME_STRIDE} + {FRAME_SIZE} <= length(text)
""",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 [Q]: frame sampling over binary payloads (every FRAME_STRIDE
    bytes, one FRAME_SIZE frame, digested) via mapInPandas."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return sample_frames(to_binary_corpus(docs))


@register(
    "multimodal_decode_stub",
    oracle="""
SELECT doc_id,
       CASE WHEN length(text) < 2 THEN NULL
            ELSE ascii(substr(text, 1, 1)) % 64 + 1 END AS width,
       CASE WHEN length(text) < 2 THEN NULL
            ELSE ascii(substr(text, 2, 1)) % 64 + 1 END AS height,
       CASE WHEN length(text) < 2 THEN NULL ELSE 3 END AS channels,
       CASE WHEN length(text) < 2 THEN 'decode_error' ELSE 'ok' END AS status
FROM documents
WHERE doc_id % 10 = 0
""",
)
def q_multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6/O10 [Q]: the mapInPandas decode stage over the binary corpus.
    The oracle mirrors the deterministic stub (payload bytes are the UTF-8
    text, so DuckDB reads them via ascii()); a real decoder would demote
    this to a rows-only [W] check."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return decode_stub(to_binary_corpus(docs))


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup (X6 x X2): aHash over payload bytes
# ---------------------------------------------------------------------------

#: aHash window: the hash is computed over this many leading payload
#: bytes (the stand-in for the 8x8 grayscale thumbnail a real image
#: aHash averages; shorter payloads are excluded like decode errors).
PHASH_BYTES = 64


def payload_ahash(
    df: DataFrame, *, text_col: str = "text", extra: "dict[str, F.Column] | None" = None
) -> DataFrame:
    """``(doc_id, ahash[, extra...])`` — average-hash fingerprints over the
    binary corpus: bit i is payload byte i vs the mean of the PHASH_BYTES-
    byte window (exactly the public image aHash on the container's
    deterministic fake pixels; a real decode swaps the byte source, not
    the dataflow). The mean divides an integer sum by 64.0 — a power of
    two, so the division is exact in both engines and the hash is
    hash-gateable bit-for-bit. Docs shorter than the window are excluded
    (the decode-error path).

    Shape (r17, third variant): TWO stacked narrow projections — the mean
    once as a column, then the 64 bit-cases referencing it — so the whole
    hash is per-row codegen'd work with ZERO shuffles. History of the
    other two forms, kept because each failure mode is a repo-wide lesson:
    - posexplode -> mean aggregate -> join back -> bit concat (r9–r16):
      correct and codegen'd, but costs two corpus-sized exchanges plus a
      join for per-row arithmetic — at 100 TB that is two full shuffles
      of the payload table for nothing (guide §2.4). Measured at sf0.1:
      the consuming query ran 9 Exchanges / 5 Joins vs 1 / 1 now,
      bit-identical output.
    - single giant expression with the mean INLINED into all 64 branches:
      ~12k-node tree; analyzer/optimizer/codegen walk it per plan op —
      measured 3.5–4.2 s vs 1.2–1.4 s for the whole query (worse than the
      exchanges it removed). Same trap as a lambda-captured fold, one
      layer up: catalyst does not CSE across the copies at plan level.
      The two-projection split keeps one copy of the mean (~700 nodes
      total) and CollapseProject's duplicate-expression guard keeps it
      from being re-inlined.

    ``extra``: additional named expressions over the input row (e.g. a
    payload fingerprint) computed in the SAME projection — the caller
    would otherwise need a corpus self-join to re-attach the payload
    (exactly the join this form deletes). A key may not reuse a column
    this function selects (``doc_id``, ``ahash``, ``_mean``, ``text_col``)
    nor contain a dot or a backtick, which the second projection would
    read as a nested path or a broken quote; such keys raise
    ValueError."""
    if "`" in text_col:
        raise ValueError("payload_ahash: text_col must not contain backticks")
    extra = extra or {}
    reserved = {"doc_id", "ahash", "_mean", text_col}
    for name in extra:
        if name in reserved or "." in name or "`" in name:
            raise ValueError(
                f"payload_ahash: extra key {name!r} is reserved or contains "
                "a dot or backtick"
            )
    bs = [
        f"ascii(substr(`{text_col}`, {i}, 1))" for i in range(1, PHASH_BYTES + 1)
    ]
    mean_e = F.expr("(" + " + ".join(bs) + f") / {float(PHASH_BYTES)!r}D")
    bits_e = F.expr(
        "concat("
        + ", ".join(f"CASE WHEN {b} >= `_mean` THEN '1' ELSE '0' END" for b in bs)
        + ")"
    )
    stage1 = df.filter(F.length(text_col) >= PHASH_BYTES).select(
        "doc_id",
        F.col(text_col),
        mean_e.alias("_mean"),
        *[e.alias(n) for n, e in extra.items()],
    )
    return stage1.select("doc_id", bits_e.alias("ahash"), *extra.keys())


@register(
    "multimodal_phash_near_dup",
    oracle=f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents WHERE length(text) >= {PHASH_BYTES}
    UNION ALL
    SELECT doc_id + 40000, text FROM documents
    WHERE doc_id < 50 AND length(text) >= {PHASH_BYTES}
),
bytes AS (
    SELECT doc_id, text,
           [{", ".join(f"ascii(substr(text, {i}, 1))" for i in range(1, 65))}] AS bs
    FROM corpus
),
hashed AS (
    SELECT doc_id, text,
           array_to_string(
               list_transform(bs, x -> CASE WHEN x >= list_sum(bs) / {PHASH_BYTES}.0
                                       THEN '1' ELSE '0' END), '') AS ahash
    FROM bytes
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       (md5(a.text) = md5(b.text)) AS same_payload
FROM hashed a JOIN hashed b ON a.ahash = b.ahash AND a.doc_id < b.doc_id
""",
)
def q_multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6xX2 [Q]: perceptual-hash near-duplicate detection over the
    binary corpus — the image-dedup op of a multimodal training
    pipeline: 64-bit aHash fingerprints, candidates form ONLY inside
    equal-hash buckets (never all-pairs, same shape as the embedding
    simhash family), verified here by exact-payload comparison. Corpus
    is the re-ingest scenario (a re-keyed copy of doc_id < 50), so
    planted duplicates collide at hamming 0 and verify same_payload."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") < 50).withColumn(
            "doc_id", F.col("doc_id") + 40000
        )
    ).filter(F.length("text") >= PHASH_BYTES)
    # The fingerprint rides the hash projection (extra=): the old
    # payload_ahash(corpus).join(corpus, "doc_id") re-shuffled the whole
    # corpus just to re-attach the payload it had dropped (r17; guide
    # §2.4 — query plan went 9 Exchanges / 5 Joins -> 1 / 1).
    hashed = payload_ahash(corpus, extra={"_fp": F.md5("text")})
    a = hashed.select(
        F.col("doc_id").alias("a_id"), "ahash", F.col("_fp").alias("a_fp")
    )
    b = hashed.select(
        F.col("doc_id").alias("b_id"), "ahash", F.col("_fp").alias("b_fp")
    )
    return (
        a.join(b, "ahash")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", (F.col("a_fp") == F.col("b_fp")).alias("same_payload"))
    )
