"""O9/O10: the model-inference UDF surface — Arrow-batched pandas UDFs.

The reference embeds images with BioCLIP inside its ingest loop (reference:
src/bioclip_vector_db/vector_db.py:102-118 single, :168-173 batched, with
L2 normalization at :112-114; CHW->HWC preprocessing at :144-148). Model
weights don't belong in a correctness-checked engine, so the UDF here is a
STAND-IN with the real plumbing:

- Arrow ``pandas_udf`` (columnar batches over the JVM/Python boundary —
  the same shape ``predict_batch_udf`` uses for real model serving; on a
  cluster the model handle would be a per-executor broadcast/singleton);
- deterministic output: an md5-nibble pseudo-embedding, L2-normalized like
  the reference's — so the full UDF path has an EXACT DuckDB oracle and the
  downstream operators (partitioning, KNN) can run on its output;
- the same kernel is also exposed as a pure-Catalyst expression
  (``pseudo_embedding_sql``) — the two are hash-identical, which is itself
  a declared invariant (the UDF boundary does not change results).

Swapping in a real model = replacing ``_md5_embed`` with a model call; the
schema, batching, normalization, and null handling stay as-is.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..plans.registry import register
from ..sources.catalog import load_table

EMBED_DIM = 8


def _md5_embed(text: str) -> list[float]:
    """Deterministic pseudo-embedding: first EMBED_DIM md5 nibbles,
    centered at 7.5, L2-normalized (normalization mirrors
    vector_db.py:112-114 ``normalize=True``)."""
    h = hashlib.md5(text.encode("utf-8")).hexdigest()
    v = [int(c, 16) - 7.5 for c in h[:EMBED_DIM]]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


@pandas_udf(T.ArrayType(T.DoubleType()))
def embed_text_udf(texts: pd.Series) -> pd.Series:
    """O9: the batched embedding transform as an Arrow pandas UDF.
    None in -> None out (the reference nulls failed records and filters
    them downstream, O13)."""
    return texts.map(lambda t: None if t is None else _md5_embed(t))


def pseudo_embedding_sql(text: Column) -> Column:
    """The same kernel as pure Catalyst expressions (no Python): used to
    assert the UDF boundary is semantics-preserving."""
    h = F.md5(text)
    nibs = F.transform(
        F.sequence(F.lit(1), F.lit(EMBED_DIM)),
        lambda i: F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1 - 7.5,
    )
    norm = F.sqrt(F.aggregate(nibs, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(nibs, lambda x: x / norm)


def embed_documents(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Attach the embedding column — the Spark restatement of the
    reference's embed-then-store ingest stage. The embed UDF runs once per
    row whatever filters the caller puts on the column."""
    # A nondeterministic no-op over the UDF's output stops the optimizer
    # from copying the deterministic embed call into a filter on the
    # column (a caller's null check, or the one inferred from a
    # posexplode), which would embed every row twice.
    emb = embed_text_udf(F.col(text_col))
    return docs.withColumn("embedding", F.when(F.spark_partition_id() >= 0, emb))


_EMBED_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0
),
nibs AS (
    SELECT doc_id, i,
           strpos('0123456789abcdef', substr(h, i, 1)) - 1 - 7.5 AS v
    FROM docs, unnest(generate_series(1, {EMBED_DIM})) AS u(i)
),
norms AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM nibs GROUP BY doc_id)
SELECT n.doc_id, (n.i - 1)::INT AS dim_idx, round(n.v / m.nrm, 9) AS component
FROM nibs n JOIN norms m USING (doc_id)
"""


@register("embedding_udf_stub", oracle=_EMBED_ORACLE)
def q_embedding_udf_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 [Q]: run the Arrow pandas-UDF embedding over a document slice and
    posexplode to scalar rows (the driver's hasher can't canonicalize raw
    arrays). The oracle recomputes the kernel in pure SQL — exact match
    proves the UDF path is deterministic and batch-shape-correct."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    emb = embed_documents(docs.select("doc_id", "text"))
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim_idx", "c")
    ).select("doc_id", "dim_idx", F.round("c", 9).alias("component"))


# ---------------------------------------------------------------------------
# Real-model swap-in wiring (O9): predict_batch_udf behind an env flag
# ---------------------------------------------------------------------------

#: Env flag selecting the encoder. Unset/"stub" = the deterministic md5
#: kernel (CI, this container — no model weights by the public-knowledge
#: constraint); "hf:<model-name>" = a HuggingFace sentence-transformers
#: encoder, loadable only where that library and its weights exist.
EMBED_MODEL_ENV = "SPARK_GRAFT_EMBED_MODEL"


def _stub_loader(dim: int):
    """Deterministic encoder with the exact per-executor-singleton shape a
    real model loader has: called ONCE per python worker; the returned
    closure encodes text batches to UNnormalized (n, dim) float arrays
    (normalization is the wiring's job — part of the output contract)."""

    if dim > 32:
        # One md5 hexdigest holds 32 nibbles; slicing past it would
        # silently yield short rows and surface as the generic shape
        # error downstream. Fail here, at loader construction.
        raise ValueError(
            f"_stub_loader supports dim <= 32 (one md5 hexdigest), got {dim}; "
            "use a real model (hf:<name>) for wider embeddings"
        )

    def load():
        import numpy as np

        def encode(texts: "list[str]") -> "np.ndarray":
            rows = []
            for t in texts:
                h = hashlib.md5(str(t).encode("utf-8")).hexdigest()
                rows.append([int(c, 16) - 7.5 for c in h[:dim]])
            return np.asarray(rows, dtype=np.float64)

        return encode

    return load


def _hf_loader(model_name: str):
    """HF-style encoder loader (sentence-transformers). Import happens
    INSIDE the loader — on the executor, once per worker — and is gated:
    this container carries no model libraries, so selecting a real model
    here raises a clear error instead of an import traceback mid-task.
    The output width is not the loader's concern: make_encoder_udf
    enforces the (n, dim) shape contract on whatever the model returns."""

    def load():
        try:
            from sentence_transformers import SentenceTransformer
        except ImportError as e:  # pragma: no cover - lib absent here
            raise RuntimeError(
                f"{EMBED_MODEL_ENV}=hf:{model_name} needs sentence-transformers "
                "installed on every executor (not present in this environment)"
            ) from e
        model = SentenceTransformer(model_name)

        def encode(texts: "list[str]"):
            return model.encode(list(texts), normalize_embeddings=False)

        return encode

    return load


def resolve_model_loader(dim: int = EMBED_DIM):
    """Pick the encoder loader from $SPARK_GRAFT_EMBED_MODEL."""
    import os

    spec = os.environ.get(EMBED_MODEL_ENV, "stub")
    if spec in ("", "stub"):
        return _stub_loader(dim)
    if spec.startswith("hf:"):
        return _hf_loader(spec[3:])
    raise ValueError(f"unrecognized {EMBED_MODEL_ENV}={spec!r} (want 'stub' or 'hf:<name>')")


def make_encoder_udf(model_loader=None, *, dim: int = EMBED_DIM, batch_size: int = 64):
    """The REAL model-serving wiring for O9: a ``predict_batch_udf``
    around any HF-style encoder. This is the documented swap-in path —
    the deterministic stub and a real model run through the IDENTICAL
    plumbing; only the loader differs (env-selected via
    resolve_model_loader, off in CI).

    predict_batch_udf is Spark's model-inference surface: the loader runs
    once per python worker (per-executor model singleton — weights are
    NOT per-batch or per-row), inputs arrive as numpy batches of
    ``batch_size`` regardless of Arrow batch sizing, and the output is a
    columnar array column. The wiring enforces the output contract the
    reference's embed stage guarantees (vector_db.py:112-114): shape
    (n, dim) and L2-normalized rows — asserted here, gated again
    relationally by assert_embedding_contract."""
    import numpy as np

    from pyspark.ml.functions import predict_batch_udf

    loader = model_loader or resolve_model_loader(dim)

    def make_predict_fn():
        encode = loader()

        def predict(inputs: "np.ndarray") -> "np.ndarray":
            vecs = np.asarray(encode(list(inputs)), dtype=np.float64)
            if vecs.shape != (len(inputs), dim):
                raise ValueError(
                    f"encoder returned shape {vecs.shape}, want ({len(inputs)}, {dim})"
                )
            norms = np.linalg.norm(vecs, axis=1, keepdims=True)
            if not (norms > 0).all():
                raise ValueError("encoder returned a zero vector")
            return vecs / norms

        return predict

    return predict_batch_udf(
        make_predict_fn,
        return_type=T.ArrayType(T.DoubleType()),
        batch_size=batch_size,
    )


def assert_embedding_contract(
    df: DataFrame, col: str = "embedding", *, dim: int = EMBED_DIM
) -> DataFrame:
    """Attach the O9 output-contract checks as assert_true columns: any
    row violating size==dim or |L2 norm - 1| <= 1e-9 fails the JOB loudly
    (the same fail-loud discipline as the winnowing overflow guard)
    instead of silently corrupting every downstream distance."""
    vec = F.col(col).cast("array<double>")
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    guard = F.assert_true(
        (F.size(vec) == dim) & (F.abs(norm - 1.0) <= 1e-9),
        F.concat(
            F.lit(f"embedding contract violated (dim={dim}): size="),
            F.size(vec).cast("string"),
            F.lit(", norm="),
            norm.cast("string"),
        ),
    )
    # The guard rides the output column itself (same coalesce-through
    # discipline as the winnowing overflow assert) — a dropped side
    # column would be pruned away and never evaluate.
    return df.withColumn(col, F.when(guard.isNull(), F.col(col)))


#: Per-dimension mean-shift threshold for the drift gate.
DRIFT_DELTA = 0.01


@register(
    "embeddings_dim_drift",
    oracle=f"""
WITH pos AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding)::DOUBLE AS val
    FROM embeddings
),
halves AS (
    SELECT dim,
           avg(CASE WHEN vec_id < 250 THEN val END) AS mean_a,
           avg(CASE WHEN vec_id >= 250 THEN val END) AS mean_b
    FROM pos GROUP BY dim
)
SELECT dim::BIGINT AS dim,
       round(mean_a, 6) AS mean_a,
       round(mean_b, 6) AS mean_b,
       round(abs(mean_a - mean_b), 6) AS delta,
       round(abs(mean_a - mean_b), 6) > {DRIFT_DELTA} AS drifted
FROM halves
""",
)
def q_embeddings_dim_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-drift monitor [Q]: per-dimension mean of the first half of
    the corpus (vec_id < 250, the 'baseline' batch) vs the second (the
    'arriving' batch), with a rounded mean-shift flag — the input-drift
    check a serving pipeline runs before trusting a new embedding batch
    against an index built on the old distribution (the operational
    trigger for kmeans_refresh).

    Scale shape: one posexplode + one (dim)-keyed aggregate computing
    BOTH halves' means via conditional aggregation — a single pass, no
    self-join; 64 result rows regardless of corpus size. The drift flag
    compares round-6 values, so the boundary decision is taken on
    identical doubles in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
    )
    halves = pos.groupBy("dim").agg(
        F.avg(F.when(F.col("vec_id") < 250, F.col("val"))).alias("mean_a"),
        F.avg(F.when(F.col("vec_id") >= 250, F.col("val"))).alias("mean_b"),
    )
    delta = F.round(F.abs(F.col("mean_a") - F.col("mean_b")), 6)
    return halves.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        delta.alias("delta"),
        (delta > DRIFT_DELTA).alias("drifted"),
    )
