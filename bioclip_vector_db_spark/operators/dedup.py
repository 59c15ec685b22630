"""X1/X2: content dedup + near-duplicate detection over the documents and
embeddings corpora — the LLM-data-pipeline generalization of the reference's
dedup-by-id upsert guard (reference: src/bioclip_vector_db/vector_db.py:
124-132, O12 in SURVEY.md).

Three mechanisms, all blocking/bucketed — NEVER all-pairs:

1. **Exact content dedup** (X1): ``sha2(text, 256)`` group + keep-first.
   One hash-shuffle on the digest; at 100 TB the digest is 64 bytes/row
   regardless of document size, and the window is per-digest (group sizes =
   duplicate multiplicity, never skewed beyond the true dup count).

2. **MinHash banded LSH** (X2): shingle -> K minhashes -> B band signatures
   -> equi-join on (band, signature) -> exact Jaccard verify on candidates
   only. Work is O(corpus) for signatures and O(candidates) for verify; no
   pair is ever formed outside a shared bucket. Minhash k is the
   lexicographic min over the doc's shingles of SLICE k of ``md5(shingle)``
   (one digest supplies all K hash functions — see minhash_signatures);
   md5 is deterministic and byte-identical in Spark and DuckDB, so the
   whole pipeline (not a toy projection of it) has an exact SQL oracle.

3. **SimHash bucketing for embeddings**: P fixed hyperplanes (sign patterns
   derived from md5 at module import — deterministic, no RNG) -> P-bit
   signature -> equi-join on signature -> exact cosine verify. The
   embedding-space analog of 2; candidates are bucket-mates only.

The fixture corpora have no exact text dups and no high-cosine embedding
pairs (verified at sf0.01), so the exact/simhash queries model the
reference's re-ingest scenario: the corpus unioned with a re-keyed copy of a
slice of itself — exactly what an idempotent ingest job sees on retry.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import dot_product, lit_array
from ..plans.registry import register, transient_persist
from ..sources.catalog import load_table

# ---------------------------------------------------------------------------
# X1: exact content dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per content digest.

    ``dropDuplicates`` on the digest would be nondeterministic about WHICH
    row survives; keep-lowest-id makes survivorship reproducible (and
    matches the reference's first-writer-wins upsert semantics).

    Survivor selection is a map-side-combinable ``min(id)`` aggregation +
    semi-join on (digest, id) — not a rank window: a pathological dup
    group (a billion empty documents) partially folds on every mapper
    instead of sort-scanning through one window task. Both joins key on
    the digest the shuffle already uses.
    """
    hashed = df.withColumn("content_hash", F.sha2(F.col(text_col), 256))
    firsts = hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return hashed.join(firsts, ["content_hash", id_col], "left_semi")


# ---------------------------------------------------------------------------
# X2: MinHash banded LSH near-dup
# ---------------------------------------------------------------------------

#: DEFAULT MinHash/LSH parameters: 3-word shingles; 6 hashes in 2 bands of
#: 3 — catches Jaccard >= ~0.8 with high probability while keeping bucket
#: cardinality tiny. These are DEFAULTS, not constants: every stage
#: threads (shingle_width, n_hashes, n_bands) through, and the oracle SQL
#: is generated from the same arguments (nd_ctes_sql), so a tuned
#: configuration — a real pipeline picks (K, B) from the target Jaccard
#: via the 1-(1-t^(K/B))^B S-curve — is gated by the same parity harness
#: as the default (dedup_near_minhash_wide registers one such tuning).
SHINGLE_WIDTH = 3
N_HASHES = 6
N_BANDS = 2
ROWS_PER_BAND = N_HASHES // N_BANDS


def doc_shingles(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = SHINGLE_WIDTH,
) -> DataFrame:
    """Distinct word ``width``-grams per document:
    ``(doc_id, shingle)``. Pure Catalyst: split -> slice windows -> explode.

    The input is repartitioned by id first: the corpus often arrives as few
    large files (one, for the fixture), and the explode+hash work downstream
    is CPU-bound — a cheap pre-shuffle of the raw text rows parallelizes it
    across every core/executor instead of running one task per input file.
    That same hash-by-doc_id partitioning is then REUSED by every
    per-doc aggregation downstream (signatures, set sizes): no further
    doc-keyed exchange. Shingle dedup is per-document, so it runs map-side
    via ``array_distinct`` — never a corpus-wide DISTINCT shuffle.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(n_parts, F.col(id_col))
    toks = F.split(F.col(text_col), " ")
    w = width
    shingles = F.when(
        F.size(toks) >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (w - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, w)),
            )
        ),
    ).otherwise(F.array())
    return df.select(F.col(id_col).alias("doc_id"), F.explode(shingles).alias("shingle"))


#: Hex width of each minhash slice. One md5 per shingle supplies all
#: N_HASHES hash functions as disjoint digest slices ("one-permutation"
#: style): 6x fewer digest computations than per-seed hashing, and each
#: 20-bit slice is still far below any collision concern for per-doc
#: shingle-set minima.
MINHASH_SLICE = 5

#: How many hash functions one md5 digest supplies.
SLICES_PER_DIGEST = 32 // MINHASH_SLICE

# The default configuration must fit in one digest (the g=0 fast path).
assert N_HASHES * MINHASH_SLICE <= 32, "minhash slices overrun the md5 digest"


def _shingle_digest(group: int) -> Column:
    """Digest ``group`` of the shingle: the plain md5 for group 0 (the
    historical layout — default-config signatures and oracles are
    byte-stable), a seeded ``md5('{g}:' || shingle)`` for each further
    group of SLICES_PER_DIGEST hash functions. Mirrored verbatim in
    _digest_sql."""
    if group == 0:
        return F.md5(F.col("shingle"))
    return F.md5(F.concat(F.lit(f"{group}:"), F.col("shingle")))


def minhash_signatures(
    shingles: DataFrame, *, n_hashes: int = N_HASHES, with_set_size: bool = False
) -> DataFrame:
    """Per-doc minhash vector: for hash h, the lexicographic min over the
    doc's shingles of digest slice h (seeded digests extend past one
    md5's 6 slices). One map-side-combinable aggregation; the signature
    is a few bytes per doc no matter how large the doc.
    ``with_set_size`` additionally emits the doc's shingle-set size as
    ``n_shingles`` — it rides the SAME aggregation for free (streaming
    near-dup ingest stores it so the verify stage never re-aggregates a
    stored doc's set size; r17)."""
    aggs = []
    for h in range(n_hashes):
        g, i = divmod(h, SLICES_PER_DIGEST)
        aggs.append(
            F.min(
                F.substring(_shingle_digest(g), 1 + i * MINHASH_SLICE, MINHASH_SLICE)
            ).alias(f"mh{h}")
        )
    if with_set_size:
        aggs.append(F.count(F.lit(1)).alias("n_shingles"))
    return shingles.groupBy("doc_id").agg(*aggs)


def lsh_band_buckets(
    signatures: DataFrame,
    *,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """Explode signatures into ``(doc_id, band, sig)`` bucket keys —
    one md5 over each band's concatenated minhashes. ``carry`` names
    extra signature columns to keep on every bucket row (e.g. the
    n_shingles set size the streaming store persists)."""
    rows_per_band = n_hashes // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(
                        *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                    )
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select("doc_id", *carry, F.explode(bands).alias("bk")).select(
        "doc_id", *carry, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_width: int = SHINGLE_WIDTH,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """The full X2 pipeline: shingle -> minhash -> band buckets -> candidate
    equi-join -> exact Jaccard verify. Returns ``(a_id, b_id, jaccard)`` for
    bucket-mate pairs with Jaccard >= threshold.

    (n_hashes, n_bands) tune the LSH S-curve
    ``P(candidate) = 1 - (1 - j^(K/B))^B``; shingle_width sets what
    "similar" measures. Every configuration has an exact SQL oracle
    generated from the SAME numbers (nd_ctes_sql).

    The physical plan is hash-join-on-bucket + hash-join-on-shingle: no
    BroadcastNestedLoopJoin, no all-pairs stage anywhere (the fix for the
    quadratic self-join flagged in round 1).
    """
    if n_hashes % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide n_hashes={n_hashes}")
    # The shingle set feeds three branches (buckets, sizes, verify x2);
    # persist it so the explode runs once, not per branch. (Persisted
    # blocks are evicted LRU by the block manager; a long-lived session
    # hammering these repeatedly can spark.catalog.clearCache().)
    sh = transient_persist(
        doc_shingles(df, text_col=text_col, id_col=id_col, width=shingle_width)
    )
    buckets = lsh_band_buckets(
        minhash_signatures(sh, n_hashes=n_hashes), n_hashes=n_hashes, n_bands=n_bands
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    inter = (
        cands.join(sh.select(F.col("doc_id").alias("a_id"), "shingle"), "a_id")
        .join(
            sh.select(F.col("doc_id").alias("b_id2"), F.col("shingle").alias("shingle_b")),
            (F.col("b_id") == F.col("b_id2")) & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _score_jaccard(inter, sh, threshold)


def near_dup_clusters(pairs: DataFrame, *, max_rounds: int = 50) -> DataFrame:
    """Distributed connected components over near-dup pairs: every doc
    appearing in at least one pair gets ``cluster_id`` = the smallest
    doc_id reachable through the pair graph. Pairwise output alone cannot
    drive dedup at scale — A~B and B~C must collapse as ONE group even
    when A~C was never emitted; this produces those groups.

    Spark-first formulation: min-label propagation with pointer jumping.
    Each round (a) takes the min label over graph neighbors — one shuffle
    join edges->labels plus a groupBy — and (b) replaces every label with
    its label's label (one self-join): the pointer-jumping step that
    short-circuits chains, giving O(log diameter) rounds instead of
    O(diameter). Every round is eagerly localCheckpoint-ed — iterative
    self-joins otherwise grow the lineage exponentially and re-derive all
    prior rounds on every action. The driver loop only orchestrates
    (round count + one scalar `changed` count per round); all per-round
    work is distributed, and the edge set is near-dup-pair-sized — LSH
    has already reduced it orders of magnitude below the corpus, so the
    per-round shuffles are small at any corpus scale.

    Returns ``(id, cluster_id)``. Reference scope: the reference dedups
    by exact id only (src/bioclip_vector_db/vector_db.py:141-150);
    clustering is part of the X2 extension surface.
    """
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("cluster_id")
    )
    from pyspark.sql import Observation

    for _ in range(max_rounds):
        nbr = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("cluster_id").alias("dl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dl").alias("nbr_label"))
            .select(F.col("src").alias("id"), "nbr_label")
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.col("cluster_id").alias("old_label"),
            F.least("cluster_id", F.coalesce("nbr_label", "cluster_id")).alias(
                "mid_label"
            ),
        )
        # Pointer jumping: follow one hop through the label table. The
        # min label is always some member's id, so the left join misses
        # only when mid_label is already a root — keep it then.
        # The convergence probe rides the eager checkpoint's own job as an
        # observed metric instead of a second count() job per round —
        # each round is now exactly one action (r16 optimization; at any
        # scale this removes one full pass over the label table per
        # round). sum() over an empty round is NULL -> treated as
        # converged, same as the old count()==0.
        obs = Observation()
        jumped = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("id").alias("jid"), F.col("mid_label").alias("jlabel")
                ),
                F.col("s.mid_label") == F.col("jid"),
                "left",
            )
            .select(
                F.col("s.id").alias("id"),
                F.col("s.old_label").alias("old_label"),
                F.coalesce("jlabel", F.col("s.mid_label")).alias("cluster_id"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("cluster_id") < F.col("old_label"), 1).otherwise(0)
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = jumped.select("id", "cluster_id")
        # observed_or: an EMPTY round (empty edge set) never materializes
        # the metric (functions/observe.py) — converged either way. The
        # empty_check verifies that precondition on jumped's checkpointed
        # rows: a metric lost for any OTHER reason re-raises instead of
        # silently declaring convergence (r16 VERDICT item 6).
        from ..functions.observe import observed_or

        if not observed_or(obs, "changed", 0, empty_check=jumped.isEmpty):
            break
    return labels


def decontaminate_ngrams(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least one word ``SHINGLE_WIDTH``-gram with any held-out evaluation
    document — the standard n-gram-overlap contamination check an LLM
    data pipeline runs before training.

    Returns ``(doc_id, n_shared, first_eval_id)``: the contaminated
    train doc, how many distinct n-grams it shares with the eval set,
    and the smallest contaminating eval doc id.

    Scale shape: the eval side is benchmark-sized (thousands of docs
    against a 100-TB corpus), so its shingle set is broadcast and the
    check is a map-side hash semi-join over the train shingles — no
    shuffle of the corpus, one aggregation keyed by the (already small)
    contaminated subset.
    """
    tr = doc_shingles(train)
    ev = doc_shingles(eval_docs).select(
        "shingle", F.col("doc_id").alias("eval_id")
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").cast("bigint").alias("n_shared"),
            F.min("eval_id").alias("first_eval_id"),
        )
    )


def _score_jaccard(inter: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Shared verify tail for both X2 variants: join per-doc shingle-set
    sizes onto pair intersection counts, compute rounded Jaccard, filter.
    One formula, one rounding — the two near-dup queries cannot diverge."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_sz"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_sz"), "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("inter") / (F.col("a_sz") + F.col("b_sz") - F.col("inter")), 9
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash bucketing for embedding-cosine near-dup
# ---------------------------------------------------------------------------

SIMHASH_PLANES = 16
_EMB_DIM = 64


def _plane_signs(p: int, dim: int = _EMB_DIM) -> list[int]:
    """Deterministic +-1 hyperplane components from md5 — no RNG, so the
    exact same planes are inlined into the DuckDB oracle."""
    out = []
    for d in range(dim):
        nib = hashlib.md5(f"{p},{d}".encode()).hexdigest()[0]
        out.append(-1 if nib in "01234567" else 1)
    return out


PLANES: list[list[int]] = [_plane_signs(p) for p in range(SIMHASH_PLANES)]


def simhash_signature(vec: Column) -> Column:
    """P-bit signature string: bit p = sign of the projection on plane p."""
    # F.lit(list): one py4j call per plane instead of 64 (same folded
    # literal in the optimized plan; pure driver-side construction cost).
    bits = [
        F.when(
            F.round(
                dot_product(vec, lit_array(float(s) for s in PLANES[p])), 9
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in range(SIMHASH_PLANES)
    ]
    return F.concat(*bits)


def embedding_signatures(vectors: DataFrame) -> DataFrame:
    """``(vec_id, embedding, sig)`` — the simhash LSH INDEX over a vector
    table. Like the IVF partition assignment, this is an index-BUILD
    artifact: signatures depend only on the embedding, so they are
    computed once per corpus and probed by every bucketing query (and a
    re-keyed re-ingest copy inherits its original's signature by id
    remap, never by recomputation). The per-session cache lives in
    knn._DERIVED_CACHE via cached_embedding_signatures."""
    return vectors.select(
        F.col("vec_id"),
        F.col("embedding"),
        simhash_signature(F.col("embedding")).alias("sig"),
    )


def cached_embedding_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature index for the fixture embeddings table, cached per
    (session, sf_dir) exactly like knn.assigned_corpus: the 16-plane
    projection fold is interpreted (no codegen for HOFs), so it is paid
    once per corpus, not once per query."""
    from .knn import _cached

    return _cached(
        spark,
        sf_dir,
        "emb_simhash_sig",
        lambda: embedding_signatures(
            load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        ),
    )


def embedding_near_dups(
    vectors: DataFrame, threshold: float = 0.95, *, sig: "DataFrame | None" = None
) -> DataFrame:
    """Bucket vectors by simhash signature, verify exact cosine within
    buckets only. Returns ``(a_id, b_id, similarity)``.

    ``sig``: a precomputed ``embedding_signatures`` table for exactly
    these vectors (the prebuilt-LSH-index serving path); computed and
    persisted ad hoc when absent."""
    # Persist: higher-order-function expressions are interpreted (not
    # codegen'd), so computing the 16-plane signature once — instead of on
    # both sides of the self-join — halves the dominant cost.
    if sig is None:
        sig = transient_persist(embedding_signatures(vectors))
    a = sig.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"), F.col("sig")
    )
    b = sig.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec"), F.col("sig")
    )
    return (
        a.join(b, ["sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("similarity", F.round(dot_product(F.col("a_vec"), F.col("b_vec")), 9))
        .filter(F.col("similarity") >= threshold)
        .select("a_id", "b_id", "similarity")
    )


#: Bands for the banded threshold join: 2 bands of 8 bits. A pair is a
#: candidate when ANY band agrees — the OR-of-ANDs LSH amplification that
#: lifts recall vs requiring all 16 bits equal, while each band still cuts
#: the candidate space to in-bucket pairs (256 buckets per band here;
#: band width is the knob that scales bucket selectivity with the corpus).
N_SIG_BANDS = 2

assert SIMHASH_PLANES % N_SIG_BANDS == 0

def embedding_threshold_join(
    vectors: DataFrame,
    threshold: float = 0.3,
    *,
    bands: int = N_SIG_BANDS,
    sig: "DataFrame | None" = None,
) -> DataFrame:
    """X4, the scale-safe form: global pairwise similarity threshold join
    via banded simhash bucketing + in-bucket exact verify.

    The exact kernel (knn.similarity_self_join) is all-pairs by definition
    and dies at 100x; this plan is O(corpus) signatures + O(bucket pairs)
    verify — every join an equi-join (band, key), never a cross join.
    Candidate recall is the LSH tradeoff: a qualifying pair is found iff it
    agrees on at least one band (probability -> 1 as similarity -> 1);
    the exact kernel remains the recall-1 reference on bounded slices.
    Returns ``(a_id, b_id, similarity)`` with similarity > threshold.

    Recall is QUANTIFIED, not assumed (tests/test_recall_gates.py):
    measured at sf0.01 against the exact twin at threshold 0.3, recall is
    0.04 / 0.43 / 0.97 / 1.0 for bands = 2 / 4 / 8 / 16, while pairs at
    sim >= 0.95 — the ones near-dup dedup acts on — are always found even
    at bands=2. Low absolute thresholds sit on the flat part of the LSH
    S-curve (per-bit agreement ~0.6 at sim 0.3): raising ``bands`` buys
    recall with larger buckets (band width 16/bands bits -> bucket count
    2^(16/bands) per band), the knob a caller tunes to its threshold.
    """
    width = SIMHASH_PLANES // bands
    if sig is None:
        sig = transient_persist(embedding_signatures(vectors))
    sig = sig.select("vec_id", "sig")
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring("sig", b * width + 1, width).alias("key"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select("vec_id", F.explode(band_structs).alias("bk")).select(
        "vec_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    v = vectors.select("vec_id", "embedding")
    return (
        cands.join(v.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec")), "a_id")
        .join(v.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec")), "b_id")
        .withColumn("similarity", F.round(dot_product(F.col("a_vec"), F.col("b_vec")), 9))
        .filter(F.col("similarity") > threshold)
        .select("a_id", "b_id", "similarity")
    )


# ---------------------------------------------------------------------------
# Scale-adaptive multi-probe simhash threshold join (X4, high-recall path)
# ---------------------------------------------------------------------------

#: High-recall configuration: 96 hyperplanes as 12 bands x 8 bits, probing
#: every key within hamming 2 of each band key. Bucket cardinality per band
#: stays 2^8 = 256 (NEVER collapses to a handful of buckets the way coarse
#: 2-bit bands did); recall at low thresholds is bought with probe radius
#: and band count, not bucket coarseness. Measured recall at threshold 0.3:
#: 0.992 at sf0.001, 0.999 at sf0.01 (gated >= 0.95 in
#: tests/test_recall_gates.py).
#:
#: Scale adaptivity: band width w is the log-corpus knob — hold the probe
#: ratio h/w and grow w with log2(n) so expected bucket occupancy n/2^w
#: stays bounded; probe count C(w,<=h) grows ~2^(0.81w), strictly slower
#: than bucket count 2^w, so per-band candidate selectivity IMPROVES as the
#: corpus grows. This is the classic sub-quadratic LSH construction
#: (candidates ~ n^(1+rho), rho = ln(p1)/ln(p2) ~ 0.70 at threshold 0.3 for
#: p1 ~ 0.61 qualifying vs p2 = 0.5 bulk per-bit agreement); a fixed-w
#: config is one point on that curve sized for the fixture corpus.
MP_PLANES = 96
MP_BANDS = 12
MP_BAND_WIDTH = MP_PLANES // MP_BANDS
MP_PROBE_HAMMING = 2

MP_PLANES_LIST: list[list[int]] = [_plane_signs(p) for p in range(MP_PLANES)]


def _probe_masks(width: int, h: int) -> list[int]:
    """All XOR masks of popcount <= h over a width-bit key. A pair whose
    band keys differ by hamming d <= h matches on exactly ONE mask (the
    XOR of the two keys), so probing is equi-join-only and never
    double-counts within a band."""
    return [m for m in range(1 << width) if bin(m).count("1") <= h]


def _band_key_expr(vec: Column, band: int, width: int) -> Column:
    """Integer band key: bit i of band b is the sign of the projection on
    plane b*width+i (same md5-derived planes and round-9 guard as
    simhash_signature, so the DuckDB oracle reproduces it bit-exactly).
    The projection stays a HOF fold on purpose: this runs once per corpus
    at index-build time (cached_embedding_band_keys). Expanding the fold
    into a flat element_at tree was tried and REVERTED both here and in
    the verify stage: 12 bands x 8 bits x 64 dims overwhelms janino
    (heap OOM), and even the 64-term verify form falls out of
    whole-stage codegen, where the interpreted fallback re-evaluates the
    array cast per term with no CSE — ~100x slower than this fold."""
    key = F.lit(0)
    for i in range(width):
        plane = MP_PLANES_LIST[band * width + i]
        # F.lit(list): one py4j call per plane instead of 64 (identical
        # folded literal; driver-side construction cost only).
        proj = F.round(dot_product(vec, lit_array(float(s) for s in plane)), 9)
        key = key + F.when(proj >= 0, F.lit(1 << (width - 1 - i))).otherwise(F.lit(0))
    return key.cast("int")


def embedding_band_keys(
    vectors: DataFrame, *, bands: int = MP_BANDS, width: int = MP_BAND_WIDTH
) -> DataFrame:
    """``(vec_id, keys)`` — the multi-probe LSH index over a vector
    table: one width-bit integer key per band, kept as an ARRAY so the
    join can both explode per-band bucket rows AND evaluate the
    first-matching-band test without a second lookup. Like
    embedding_signatures this is an index-BUILD artifact (a function of
    the embedding alone), computed once per corpus and probed by every
    query."""
    return vectors.select(
        "vec_id",
        F.array(
            *[_band_key_expr(F.col("embedding"), b, width) for b in range(bands)]
        ).alias("keys"),
    )


def cached_embedding_band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-probe band-key index for the fixture embeddings table,
    cached per (session, sf_dir) like cached_embedding_signatures: the
    64-plane projection fold is interpreted (no codegen for HOFs), so it
    is paid once per corpus, not once per query."""
    from .knn import _cached

    return _cached(
        spark,
        sf_dir,
        f"emb_mp_keys_{MP_BANDS}x{MP_BAND_WIDTH}",
        lambda: embedding_band_keys(
            load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        ),
    )


def embedding_threshold_join_multiprobe(
    vectors: DataFrame,
    threshold: float = 0.3,
    *,
    bands: int = MP_BANDS,
    width: int = MP_BAND_WIDTH,
    probe_hamming: int = MP_PROBE_HAMMING,
    keys: "DataFrame | None" = None,
) -> DataFrame:
    """X4, the high-recall scale path: multi-probe banded-simhash
    threshold join. Probe side explodes each band key to its hamming
    <= probe_hamming neighborhood (C(width, <=h) XOR masks — a CONSTANT
    per-row factor), build side keeps canonical keys, candidates form by
    (band, key) equi-join only; exact cosine verify on candidates.

    Versus the retired 8x2-bit coarse-band config (a quadratic candidate
    generator: 4 buckets per band => Theta(n^2) in-bucket pairs by
    construction), bucket cardinality here stays 2^width per band and the
    probe radius is the recall knob — see the MP_* constants for the
    scale-adaptivity rule. Returns ``(a_id, b_id, similarity)`` with
    similarity > threshold.
    """
    if keys is None:
        keys = transient_persist(embedding_band_keys(vectors, bands=bands, width=width))
    masks = _probe_masks(width, probe_hamming)
    rows = keys.select("vec_id", F.posexplode("keys").alias("band", "key"))
    probes = rows.select(
        F.col("vec_id").alias("a_id"),
        "band",
        F.explode(lit_array(masks)).alias("mask"),
        "key",
    ).select(
        "a_id", "band", F.col("key").bitwiseXOR(F.col("mask")).alias("pkey")
    )
    bside = rows.select(
        F.col("vec_id").alias("b_id"), "band", F.col("key").alias("pkey")
    )
    # Duplicate candidates (a pair matching several bands) are removed by
    # a plain distinct: measured duplication is mild (~2.2x), and the
    # map-side alternative (carry both key arrays, keep only the first
    # matching band) was tried and REVERTED — the interpreted
    # slice/zip_with filter over millions of joined rows costs far more
    # than the distinct's shuffle (20s vs 3.7s at sf0.1).
    cands = (
        probes.join(bside, ["band", "pkey"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    v = vectors.select("vec_id", "embedding")
    return (
        cands.join(
            v.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec")),
            "a_id",
        )
        .join(
            v.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec")),
            "b_id",
        )
        .withColumn(
            "similarity",
            F.round(dot_product("a_vec", "b_vec", dim=_EMB_DIM), 9),
        )
        .filter(F.col("similarity") > threshold)
        .select("a_id", "b_id", "similarity")
    )


# ---------------------------------------------------------------------------
# Oracle SQL fragments
# ---------------------------------------------------------------------------

def shingles_cte_sql(width: int = SHINGLE_WIDTH) -> str:
    """The ``shingles`` CTE over ``doc_corpus`` for a given width —
    the SQL twin of doc_shingles."""
    return f"""
corpus_toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM doc_corpus
),
shingles AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+{width - 1}], ' ') AS shingle
    FROM corpus_toks, unnest(generate_series(1, greatest(len(t) - {width - 1}, 0))) AS u(i)
)
"""


def _digest_sql(group: int) -> str:
    """SQL twin of _shingle_digest."""
    return "md5(shingle)" if group == 0 else f"md5('{group}:' || shingle)"


def _minhash_exprs_sql(n_hashes: int = N_HASHES) -> str:
    exprs = []
    for h in range(n_hashes):
        g, i = divmod(h, SLICES_PER_DIGEST)
        exprs.append(
            f"min(substr({_digest_sql(g)}, {1 + i * MINHASH_SLICE}, {MINHASH_SLICE})) AS mh{h}"
        )
    return ",\n           ".join(exprs)


def _band_rows_sql(n_hashes: int = N_HASHES, n_bands: int = N_BANDS) -> str:
    rows_per_band = n_hashes // n_bands
    return " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS sig FROM sigs".format(
            b=b,
            cat=" || ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(n_bands)
    )


def nd_ctes_sql(
    *,
    shingle_width: int = SHINGLE_WIDTH,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    threshold: float = 0.8,
) -> str:
    """CTE chain ending in ``nd`` = the verified MinHash near-dup pairs
    for THIS parameterization — the oracle is generated from the same
    numbers the Spark pipeline runs, so tuned (K, B, width)
    configurations are parity-gated identically to the default."""
    return f"""doc_corpus AS (SELECT doc_id, text FROM documents),
{shingles_cte_sql(shingle_width).strip()},
sigs AS (
    SELECT doc_id, {_minhash_exprs_sql(n_hashes)}
    FROM shingles GROUP BY doc_id
),
buckets AS ({_band_rows_sql(n_hashes, n_bands)}),
cands AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
    SELECT c.a_id, c.b_id, count(*) AS i
    FROM cands c
    JOIN shingles sa ON sa.doc_id = c.a_id
    JOIN shingles sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
    GROUP BY c.a_id, c.b_id
),
nd AS (
    SELECT i.a_id, i.b_id,
           round(i.i * 1.0 / (za.sz + zb.sz - i.i), 9) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a_id
    JOIN sizes zb ON zb.doc_id = i.b_id
    WHERE round(i.i * 1.0 / (za.sz + zb.sz - i.i), 9) >= {threshold}
)"""


_SHINGLES_CTE = shingles_cte_sql()

#: Shared CTE chain ending in ``nd`` = the verified MinHash near-dup
#: pairs — composed by the pairs, survivorship, and clusters oracles.
_ND_CTES = nd_ctes_sql()

_NEAR_DUP_ORACLE = f"""
WITH {_ND_CTES}
SELECT a_id, b_id, jaccard FROM nd
"""

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_ND_CTES},
edges AS (
    SELECT a_id AS src, b_id AS dst FROM nd
    UNION
    SELECT b_id AS src, a_id AS dst FROM nd
),
reach AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster_id
FROM reach GROUP BY src
"""


def _plane_sql_literal(p: int) -> str:
    return "[" + ", ".join(f"{s:.1f}" for s in PLANES[p]) + "]"


_SIMHASH_BITS_SQL = " || ".join(
    f"(CASE WHEN round(list_dot_product(embedding::DOUBLE[], {_plane_sql_literal(p)}), 9) >= 0 "
    "THEN '1' ELSE '0' END)"
    for p in range(SIMHASH_PLANES)
)

def threshold_join_oracle_sql(
    bands: int = N_SIG_BANDS, threshold: float = 0.3
) -> str:
    """SQL twin of embedding_threshold_join for a given band count —
    oracle generated from the same numbers as the Spark plan, so every
    point on the recall/bucket-size curve is parity-gated identically."""
    width = SIMHASH_PLANES // bands
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"substr(sig, {b * width + 1}, {width}) AS key FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH sigs AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec, {_SIMHASH_BITS_SQL} AS sig
    FROM embeddings
),
buckets AS ({band_rows}),
cands AS (
    SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       round(list_dot_product(sa.vec, sb.vec), 9) AS similarity
FROM cands c
JOIN sigs sa ON sa.vec_id = c.a_id
JOIN sigs sb ON sb.vec_id = c.b_id
WHERE round(list_dot_product(sa.vec, sb.vec), 9) > {threshold}
"""


_THRESHOLD_JOIN_ORACLE = threshold_join_oracle_sql()


def _band_key_sql(band: int, width: int) -> str:
    """SQL twin of _band_key_expr for one band."""
    terms = []
    for i in range(width):
        plane = MP_PLANES_LIST[band * width + i]
        lit = "[" + ", ".join(f"{s:.1f}" for s in plane) + "]"
        terms.append(
            f"(CASE WHEN round(list_dot_product(vec, {lit}), 9) >= 0 "
            f"THEN {1 << (width - 1 - i)} ELSE 0 END)"
        )
    return " + ".join(terms)


def mp_threshold_join_oracle_sql(
    *,
    bands: int = MP_BANDS,
    width: int = MP_BAND_WIDTH,
    probe_hamming: int = MP_PROBE_HAMMING,
    threshold: float = 0.3,
) -> str:
    """SQL twin of embedding_threshold_join_multiprobe. The oracle forms
    candidates with an explicit per-band hamming predicate
    (bit_count(xor(keys)) <= h) — semantically identical to the Spark
    side's XOR-mask probe explode (a pair matches a probe mask iff its
    band keys differ by hamming <= h), stated declaratively because the
    oracle runs at fixture scale where a theta-join is fine."""
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_band_key_sql(b, width)} AS key FROM vecs"
        for b in range(bands)
    )
    return f"""
WITH vecs AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
keys AS ({band_rows}),
cands AS (
    SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
    FROM keys a JOIN keys b
      ON a.band = b.band
     AND bit_count(xor(a.key, b.key)) <= {probe_hamming}
     AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       round(list_dot_product(va.vec, vb.vec), 9) AS similarity
FROM cands c
JOIN vecs va ON va.vec_id = c.a_id
JOIN vecs vb ON vb.vec_id = c.b_id
WHERE round(list_dot_product(va.vec, vb.vec), 9) > {threshold}
"""

_EMB_NEAR_DUP_ORACLE = f"""
WITH vec_corpus AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 50
),
sigs AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec, {_SIMHASH_BITS_SQL} AS sig
    FROM vec_corpus
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.vec, b.vec), 9) AS similarity
FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.vec, b.vec), 9) >= 0.95
"""


# ---------------------------------------------------------------------------
# Declared queries
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_content",
    oracle="""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
),
hashed AS (SELECT doc_id, sha256(text) AS content_hash FROM corpus),
ranked AS (
    SELECT doc_id, content_hash,
           row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS r
    FROM hashed
)
SELECT doc_id, content_hash FROM ranked WHERE r = 1
""",
)
def q_dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 [Q]: content-hash dedup of a re-ingested corpus (documents plus a
    re-keyed copy of doc_id < 100) — the idempotent-retry scenario; the
    original (lowest-id) row survives each digest group."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reingest = docs.filter(F.col("doc_id") < 100).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    corpus = docs.unionByName(reingest)
    return exact_dedup(corpus).select("doc_id", "content_hash")


#: Document-frequency cap for the exact Jaccard join's blocking shingles.
#: A shingle present in more than this many documents (a hot phrase —
#: boilerplate, licenses, navigation chrome) is dropped from BOTH the
#: intersection and the set-size accounting before any join: its bucket
#: would otherwise go quadratic (df² candidate pairs) under real-corpus
#: skew. Standard practice in shingle-join dedup; the cap is the knob
#: trading a bounded similarity perturbation (hot shingles carry almost no
#: discriminating signal) for a hard per-bucket work bound. The fixture
#: corpus' max df is 7 (sf0.01), so the default cap leaves fixture results
#: byte-identical while the plan bound is real.
MAX_SHINGLE_DF = 32


def capped_shingles(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_width: int = SHINGLE_WIDTH,
    max_shingle_df: "int | None" = MAX_SHINGLE_DF,
) -> DataFrame:
    """The exact-Jaccard candidate universe: per-doc shingles with hot
    shingles (document frequency above ``max_shingle_df``) removed.
    Factored out of jaccard_pairs so the adversarial-skew stress
    instrument (tools/scale_stress.py) measures the OPERATOR'S real
    post-cap intermediate — if the cap ever stopped being applied, the
    measured worst bucket would exceed the cap in the record — instead
    of recomputing the cap itself (a tautology that could not detect
    such a regression)."""
    if max_shingle_df is None:
        return doc_shingles(df, text_col=text_col, id_col=id_col, width=shingle_width)
    # Exploded view of the posting table jaccard_pairs actually consumes
    # (r17: the cap moved from aggregate+semi-join to a size filter on
    # the grouped posting lists) — the instrument keeps measuring the
    # operator's REAL intermediate, not an independent recomputation.
    return shingle_postings(
        df,
        text_col=text_col,
        id_col=id_col,
        shingle_width=shingle_width,
        max_shingle_df=max_shingle_df,
    ).select(F.explode("ids").alias("doc_id"), "shingle")


def shingle_postings(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_width: int = SHINGLE_WIDTH,
    max_shingle_df: "int | None" = MAX_SHINGLE_DF,
) -> DataFrame:
    """Per-shingle posting lists ``(shingle, ids)`` with the hot-shingle
    cap as a size filter: ONE shingle-keyed exchange builds the sorted
    distinct doc list per shingle AND applies the document-frequency cap
    (``size(ids) <= max_shingle_df`` — same predicate the old
    aggregate + left-semi join enforced in a second pass over the
    exploded rows). The cap bounds every list at ``max_shingle_df`` ids,
    so downstream map-side pair expansion is C(cap, 2)-bounded per
    shingle — the skew discipline is unchanged, it just rides the same
    exchange now (guide §2.3/§2.4)."""
    sh = doc_shingles(df, text_col=text_col, id_col=id_col, width=shingle_width)
    postings = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids")
    )
    if max_shingle_df is not None:
        postings = postings.filter(F.size("ids") <= max_shingle_df)
    return postings


def _posting_pairs(ids: Column) -> Column:
    """All ordered (a < b) pairs of a SORTED distinct id array, expanded
    map-side (no self-join): struct array of (a_id, b_id)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_width: int = SHINGLE_WIDTH,
    max_shingle_df: "int | None" = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join — recall-1 baseline for X2
    over the capped shingle universe.

    Blocking is the shingle itself: a pair is formed only when two docs
    SHARE a shingle, so disjoint documents never meet. Sub-quadratic
    whenever shingles are selective; hot shingles are the skew risk,
    removed by the ``max_shingle_df`` cap.

    Capped form (optimization round 17, guide §2.3/§2.4): posting lists.
    ONE shingle-keyed exchange groups each shingle's sorted distinct doc
    set and applies the cap as a size filter (shingle_postings); the a<b
    doc pairs expand MAP-SIDE from each C(cap,2)-bounded list and
    partially aggregate before the pair shuffle. The old form shuffled
    the capped shingle table into a self-join (plus a separate cap
    aggregation + semi-join pass) and shuffled raw joined rows to the
    pair groupBy. Uncapped (``max_shingle_df=None``, the recall-gate /
    eval configuration) keeps the self-join: an UNBOUNDED posting list
    would concentrate a hot shingle's whole posting set in one row —
    the join form spreads it across tasks and AQE's skew split handles
    it, which is the right at-scale shape when no cap bounds the list.
    MinHash-LSH (near_dup_pairs) remains the scale path; this is the
    recall-1 reference the LSH recall gate measures against.
    """
    if max_shingle_df is not None:
        postings = transient_persist(
            shingle_postings(
                df,
                text_col=text_col,
                id_col=id_col,
                shingle_width=shingle_width,
                max_shingle_df=max_shingle_df,
            )
        )
        inter = (
            postings.select(F.explode(_posting_pairs(F.col("ids"))).alias("pr"))
            .select("pr.a_id", "pr.b_id")
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sh = postings.select(F.explode("ids").alias("doc_id"), "shingle")
        return _score_jaccard(inter, sh, threshold)
    sh = transient_persist(
        doc_shingles(df, text_col=text_col, id_col=id_col, width=shingle_width)
    )
    a = sh.select(F.col("doc_id").alias("a_id"), "shingle")
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("shingle").alias("shingle_b"))
    inter = (
        a.join(b, (F.col("shingle") == F.col("shingle_b")) & (F.col("a_id") < F.col("b_id")))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _score_jaccard(inter, sh, threshold)


_JACCARD_ORACLE = f"""
WITH doc_corpus AS (SELECT doc_id, text FROM documents),
{_SHINGLES_CTE.strip()},
kept AS (
    SELECT s.doc_id, s.shingle FROM shingles s
    JOIN (SELECT shingle FROM shingles GROUP BY shingle
          HAVING count(*) <= {MAX_SHINGLE_DF}) k USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
    FROM kept a JOIN kept b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.a_id, i.b_id,
       round(i.i * 1.0 / (za.sz + zb.sz - i.i), 9) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.a_id
JOIN sizes zb ON zb.doc_id = i.b_id
WHERE round(i.i * 1.0 / (za.sz + zb.sz - i.i), 9) >= 0.8
"""


@register("dedup_near_jaccard_exact", oracle=_JACCARD_ORACLE)
def q_dedup_near_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 [Q]: EXACT n-gram Jaccard near-dup pairs (shingle-equi-join
    blocking, no LSH approximation) — the recall-1 twin of
    dedup_near_minhash; comparing the two quantifies LSH recall."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return jaccard_pairs(docs, 0.8)


# ---------------------------------------------------------------------------
# X1b: exact substring dedup (duplicate-span detection)
# ---------------------------------------------------------------------------

#: Minimum duplicated run length, in tokens. The distributed analog of
#: the suffix-array minimum-match-length parameter in Lee et al. 2022,
#: "Deduplicating Training Data Makes Language Models Better" (public
#: method; their single-node suffix array becomes a sharded n-gram-hash
#: pipeline here): every duplicated token run of length >= this value is
#: found EXACTLY (all of its width-grams are duplicated), shorter repeats
#: are ignored by design.
MIN_MATCH_TOKENS = 8

#: Keep gate: drop documents whose duplicated-span cover exceeds this
#: fraction of their tokens.
SUBSTRING_DUP_MAX_FRAC = 0.2


def _token_ngram_positions(
    df: DataFrame, *, width: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(doc_id, pos, h)`` for every token position: h = md5 of the
    width-gram starting there (1-based pos). Digests keep shuffle bytes
    constant per position no matter how long the tokens are."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    toks = F.split(F.col(text_col), " ")
    grams = F.when(
        F.size(toks) >= width,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (width - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, width))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col).alias("doc_id"), F.posexplode(grams).alias("pos0", "h"))
        .select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "h")
    )


def duplicate_spans(
    df: DataFrame,
    *,
    width: int = MIN_MATCH_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated token spans per document — the substring-dedup
    primitive document-level MinHash/SimHash cannot express (two globally
    distinct documents sharing one long boilerplate run).

    Pipeline: position n-grams -> digest groupBy keeps digests occurring
    at >= 2 (doc, pos) locations corpus-wide -> semi-join positions back
    -> per-doc gaps-and-islands merge of overlapping [pos, pos+width-1]
    covers. Returns ``(doc_id, span_start, span_end, span_tokens)``,
    1-based inclusive token positions.

    Scale shape: the explode is O(tokens) rows of constant width (16-byte
    digest); the dup-digest aggregation and semi-join are both keyed on
    the digest (one shuffle keying, reused); the island windows partition
    by doc_id and only ever see a document's OWN duplicated positions.
    No stage is quadratic in corpus size — the suffix array this replaces
    is superlinear single-node memory.
    """
    pos = _token_ngram_positions(df, width=width, text_col=text_col, id_col=id_col)
    dup_h = (
        pos.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("h")
    )
    dup = pos.join(dup_h, "h", "left_semi")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "_new",
        F.when(
            F.coalesce(F.col("pos") - F.lag("pos").over(w_doc), F.lit(width + 1))
            > width,
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn("_isl", F.sum("_new").over(w_doc))
    return (
        islands.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + width - 1).cast("bigint").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_tokens"),
        )
    )


def substring_dedup_stats(
    df: DataFrame,
    *,
    width: int = MIN_MATCH_TOKENS,
    max_dup_frac: float = SUBSTRING_DUP_MAX_FRAC,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span accounting + keep gate: every doc,
    its token count, how many tokens sit under some duplicated span of
    >= width tokens, the fraction, and the gate verdict."""
    spans = duplicate_spans(df, width=width, text_col=text_col, id_col=id_col)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").cast("bigint").alias("dup_tokens")
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .withColumn("dup_tokens", F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint"))
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("dup_tokens") / F.col("n_tokens"), 9),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("keep_substring", F.col("dup_frac") <= max_dup_frac)
    )


def remove_duplicate_spans(
    df: DataFrame,
    *,
    width: int = MIN_MATCH_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The Lee-et-al. CLEANING transformation: keep the globally-first
    occurrence of every duplicated run, cut the covered tokens of every
    other occurrence, and reconstruct the cleaned text.

    Survivorship is per n-gram: occurrence 1 of digest h in (doc_id, pos)
    order survives; positions covered by occurrences >= 2 are removed.
    Deterministic and engine-agnostic, so the whole transformation — not
    a summary of it — has an exact SQL oracle.

    Returns ``(doc_id, n_tokens, removed_tokens, clean_text)`` for every
    document (clean docs pass through with removed_tokens=0).

    Scale shape: survivor selection is a map-side-combinable
    ``min(struct(doc_id, pos))`` aggregation keyed on the digest — NOT a
    rank window: a universal boilerplate gram (license header in every
    doc) would funnel its whole occurrence list through one window task,
    while the struct-min folds it partially on every mapper. Removed
    positions explode to at most the removed token count; reconstruction
    is a per-doc map-side array filter over a collected per-doc
    removed-position set (bounded by the doc's own length). Nothing is
    quadratic in corpus size and no stage keys on a value with
    unbounded-multiplicity task skew.
    """
    pos = _token_ngram_positions(df, width=width, text_col=text_col, id_col=id_col)
    # Globally-first occurrence per duplicated digest, by (doc_id, pos).
    firsts = pos.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("_first"),
        F.count(F.lit(1)).alias("_n"),
    )
    losers = (
        pos.join(firsts.filter(F.col("_n") > 1), "h")
        .filter(
            (F.col("doc_id") != F.col("_first.doc_id"))
            | (F.col("pos") != F.col("_first.pos"))
        )
        .select("doc_id", "pos")
    )
    # Merge each doc's losing covers into islands, then expand to the
    # removed position set (same gaps-and-islands as duplicate_spans).
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = losers.withColumn(
        "_new",
        F.when(
            F.coalesce(F.col("pos") - F.lag("pos").over(w_doc), F.lit(width + 1))
            > width,
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn("_isl", F.sum("_new").over(w_doc))
    spans = islands.groupBy("doc_id", "_isl").agg(
        F.min("pos").alias("_s"), (F.max("pos") + width - 1).alias("_e")
    )
    removed = (
        spans.select("doc_id", F.explode(F.sequence("_s", "_e")).alias("rpos"))
        .groupBy("doc_id")
        .agg(F.collect_set("rpos").alias("_removed"))
    )
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    joined = base.join(removed, "doc_id", "left").withColumn(
        "_removed", F.coalesce(F.col("_removed"), F.array().cast("array<bigint>"))
    )
    kept = F.filter(
        F.transform(
            F.col("_t"),
            lambda tok, i: F.struct((i + 1).cast("bigint").alias("i"), tok.alias("tok")),
        ),
        lambda s: ~F.array_contains(F.col("_removed"), s["i"]),
    )
    return joined.select(
        "doc_id",
        F.size("_t").cast("bigint").alias("n_tokens"),
        F.size("_removed").cast("bigint").alias("removed_tokens"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["tok"])).alias("clean_text"),
    )


def _substring_spans_ctes(width: int) -> str:
    """CTE chain ending in ``spans`` — the SQL twin of duplicate_spans,
    generated from the same width."""
    return f"""corpus AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
    SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+{width - 1}], ' ')) AS h
    FROM corpus, unnest(generate_series(1, greatest(len(t) - {width - 1}, 0))) AS u(i)
),
duph AS (SELECT h FROM pos GROUP BY h HAVING count(*) > 1),
dup AS (SELECT p.doc_id, p.pos FROM pos p JOIN duph USING (h)),
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER w IS NULL
                  OR pos - lag(pos) OVER w > {width} THEN 1 ELSE 0 END AS n
    FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
    SELECT doc_id, pos,
           sum(n) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
    FROM flagged
),
spans AS (
    SELECT doc_id, min(pos)::BIGINT AS span_start,
           (max(pos) + {width - 1})::BIGINT AS span_end,
           (max(pos) + {width - 1} - min(pos) + 1)::BIGINT AS span_tokens
    FROM islands GROUP BY doc_id, isl
)"""


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH {_substring_spans_ctes(MIN_MATCH_TOKENS)}
SELECT doc_id, span_start, span_end, span_tokens FROM spans
""",
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1b [Q]: maximal duplicated token spans (>= MIN_MATCH_TOKENS run
    length, corpus-wide occurrence >= 2) per document — the Lee-et-al.
    substring-dedup primitive as a sharded n-gram-digest pipeline."""
    return duplicate_spans(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_exact_substring",
    oracle=f"""
WITH {_substring_spans_ctes(MIN_MATCH_TOKENS)},
perdoc AS (SELECT doc_id, sum(span_tokens)::BIGINT AS dup_tokens FROM spans GROUP BY doc_id)
SELECT c.doc_id, len(c.t)::BIGINT AS n_tokens,
       coalesce(p.dup_tokens, 0)::BIGINT AS dup_tokens,
       CASE WHEN len(c.t) > 0
            THEN round(coalesce(p.dup_tokens, 0) * 1.0 / len(c.t), 9)
            ELSE 0.0 END AS dup_frac,
       CASE WHEN len(c.t) > 0
            THEN round(coalesce(p.dup_tokens, 0) * 1.0 / len(c.t), 9)
            ELSE 0.0 END <= {SUBSTRING_DUP_MAX_FRAC} AS keep_substring
FROM corpus c LEFT JOIN perdoc p USING (doc_id)
""",
)
def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1b [Q]: per-document duplicated-span accounting and keep gate —
    the whole-corpus summary of dedup_substring_spans (docs with no
    duplicated run appear with dup_tokens=0, keep=true)."""
    return substring_dedup_stats(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_substring_clean",
    oracle=f"""
WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
    SELECT doc_id, i AS pos,
           md5(array_to_string(t[i:i+{MIN_MATCH_TOKENS - 1}], ' ')) AS h
    FROM corpus, unnest(generate_series(1, greatest(len(t) - {MIN_MATCH_TOKENS - 1}, 0))) AS u(i)
),
occ AS (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
           count(*) OVER (PARTITION BY h) AS n
    FROM pos
),
losers AS (SELECT doc_id, pos FROM occ WHERE n > 1 AND rn > 1),
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER w IS NULL
                  OR pos - lag(pos) OVER w > {MIN_MATCH_TOKENS} THEN 1 ELSE 0 END AS nw
    FROM losers WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
    SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
    FROM flagged
),
spans2 AS (
    SELECT doc_id, min(pos) AS s, max(pos) + {MIN_MATCH_TOKENS - 1} AS e
    FROM islands GROUP BY doc_id, isl
),
removedpos AS (SELECT doc_id, unnest(generate_series(s, e)) AS rpos FROM spans2),
removed AS (SELECT doc_id, list(DISTINCT rpos) AS rp FROM removedpos GROUP BY doc_id)
SELECT c.doc_id, len(c.t)::BIGINT AS n_tokens,
       coalesce(len(r.rp), 0)::BIGINT AS removed_tokens,
       coalesce(array_to_string(
           list_transform(
               list_filter(
                   list_zip(c.t, range(1, len(c.t) + 1)),
                   x -> NOT list_contains(coalesce(r.rp, []), x[2])
               ),
               x -> x[1]
           ), ' '), '') AS clean_text
FROM corpus c LEFT JOIN removed r USING (doc_id)
""",
)
def q_dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1b [Q]: the Lee-et-al. cleaning transformation itself — keep each
    duplicated run's globally-first occurrence, cut every other
    occurrence's covered tokens, and return the reconstructed clean_text
    per document. The ENTIRE transformation (survivorship, island merge,
    token filtering) hash-matches the SQL oracle, not just its summary."""
    return remove_duplicate_spans(load_table(spark, sf_dir, "documents"))


from .text import QUALITY_SQL as _QUALITY_SQL  # noqa: E402  (no cycle: text imports nothing from dedup)


@register(
    "dedup_survivorship",
    oracle=f"""
WITH pairs AS (SELECT * FROM ({_NEAR_DUP_ORACLE.strip()})),
quality AS ({_QUALITY_SQL.strip()})
SELECT p.a_id, p.b_id, p.jaccard,
       CASE WHEN qa.quality > qb.quality THEN p.a_id
            WHEN qb.quality > qa.quality THEN p.b_id
            ELSE least(p.a_id, p.b_id) END AS keep_id
FROM pairs p
JOIN quality qa ON qa.doc_id = p.a_id
JOIN quality qb ON qb.doc_id = p.b_id
""",
)
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 survivorship policy [Q]: near-dup pairs resolved by QUALITY,
    not arrival order — for each verified MinHash pair, keep the
    higher-quality document (text.quality_scores; ties break to the lower
    id). The policy layer a real training-data dedup applies on top of
    candidate generation: swap the score column to prefer longest,
    newest, or most-licensed instead."""
    from .knn import _cached
    from .text import quality_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # The pairs table is the dedup pipeline's ARTIFACT — the policy layer
    # consumes it, it does not re-run candidate generation (the
    # dedup_near_minhash gate measures that pipeline fresh).
    pairs = _cached(spark, sf_dir, "near_dup_pairs_08", lambda: near_dup_pairs(docs, 0.8))
    q = quality_scores(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    qa = q.select(F.col("doc_id").alias("a_id"), F.col("quality").alias("a_q"))
    qb = q.select(F.col("doc_id").alias("b_id"), F.col("quality").alias("b_q"))
    return (
        pairs.join(qa, "a_id")
        .join(qb, "b_id")
        .select(
            "a_id",
            "b_id",
            "jaccard",
            F.when(F.col("a_q") > F.col("b_q"), F.col("a_id"))
            .when(F.col("b_q") > F.col("a_q"), F.col("b_id"))
            .otherwise(F.least("a_id", "b_id"))
            .alias("keep_id"),
        )
    )


@register("dedup_near_minhash", oracle=_NEAR_DUP_ORACLE)
def q_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 [Q]: MinHash banded-LSH near-dup pairs over documents, exact
    Jaccard >= 0.8 verified within buckets only. The full scalable pipeline
    has an exact oracle because the minhash primitive (lexicographic min of
    md5) is engine-agnostic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return near_dup_pairs(docs, 0.8)


#: A non-default LSH tuning, parity-gated like the default: 2-word
#: shingles (finer similarity granularity), K=12 hashes (two seeded md5
#: digests) in B=4 bands of 3 — an S-curve with its half-recall point near
#: j=0.63 instead of 0.79, the shape a pipeline targeting a lower dedup
#: threshold would pick. Threshold stays 0.8; only candidate generation
#: and the shingle universe differ from dedup_near_minhash.
WIDE_MINHASH = dict(shingle_width=2, n_hashes=12, n_bands=4)


@register(
    "dedup_near_minhash_wide",
    oracle=f"""
WITH {nd_ctes_sql(**WIDE_MINHASH)}
SELECT a_id, b_id, jaccard FROM nd
""",
)
def q_dedup_near_minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 [Q]: MinHash near-dup pairs under a NON-DEFAULT (width, K, B)
    tuning — proves the parameterization end-to-end: seeded multi-digest
    hash families on the Spark side, the oracle generated from the same
    numbers (nd_ctes_sql), both gated by the registry parity test."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return near_dup_pairs(docs, 0.8, **WIDE_MINHASH)


@register("dedup_near_clusters", oracle=_CLUSTERS_ORACLE)
def q_dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 [Q]: connected components over the verified MinHash near-dup
    pairs — each doc in a pair mapped to its group's smallest doc_id
    (min-label propagation + pointer jumping; the DuckDB twin is a
    recursive-CTE transitive closure). Pairwise near-dup output undercounts
    duplication whenever A~B and B~C without A~C; groups are what
    survivorship actually collapses."""
    from .knn import _cached

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _cached(
        spark, sf_dir, "near_dup_pairs_08", lambda: near_dup_pairs(docs, 0.8)
    )
    return near_dup_clusters(pairs).select(F.col("id").alias("doc_id"), "cluster_id")


_CLUSTER_SURVIVORS_ORACLE = f"""
WITH RECURSIVE {_ND_CTES},
edges AS (
    SELECT a_id AS src, b_id AS dst FROM nd
    UNION
    SELECT b_id AS src, a_id AS dst FROM nd
),
reach AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
),
quality AS ({{quality_sql}}),
ranked AS (
    SELECT c.cluster_id, c.doc_id,
           row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY round(q.quality, 9) DESC, c.doc_id ASC
           ) AS rn,
           count(*) OVER (PARTITION BY c.cluster_id) AS n_members
    FROM clusters c JOIN quality q ON q.doc_id = c.doc_id
)
SELECT cluster_id::BIGINT AS cluster_id, doc_id AS keep_id,
       n_members::BIGINT AS n_members
FROM ranked WHERE rn = 1
"""


@register(
    "dedup_cluster_survivors",
    oracle=_CLUSTER_SURVIVORS_ORACLE.format(quality_sql=_QUALITY_SQL.strip()),
)
def q_dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1xX2 [Q]: the end of the dedup pipeline — per near-dup CLUSTER,
    keep the single highest-quality member (ties to the lowest id) and
    report group size. Pairwise survivorship (dedup_survivorship) picks a
    winner per PAIR, which double-keeps across A~B, B~C chains; cluster
    survivorship is what a production dedup actually deletes against.
    One shuffle keyed by cluster_id after the (cached) pair + component
    computation; group sizes are dup multiplicities, never corpus-scale."""
    from pyspark.sql import Window

    from .knn import _cached
    from .text import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    pairs = _cached(
        spark,
        sf_dir,
        "near_dup_pairs_08",
        lambda: near_dup_pairs(docs.select("doc_id", "text"), 0.8),
    )
    # The component table is itself a pipeline intermediate (the clusters
    # gate measures computing it fresh); survivorship reuses it the same
    # way it reuses the pair table.
    clusters = _cached(
        spark, sf_dir, "near_dup_clusters_08", lambda: near_dup_clusters(pairs)
    ).select(F.col("id").alias("doc_id"), "cluster_id")
    q = quality_scores(docs).select("doc_id", F.round("quality", 9).alias("q9"))
    # Keep-best as ONE map-side-combinable aggregation — min of
    # (-quality, doc_id) is highest-quality-then-lowest-id — instead of a
    # cluster-keyed rank window: a viral near-dup cluster with millions
    # of members folds partially on every mapper, never through a single
    # window task (same skew argument as exact_dedup's survivor).
    return (
        clusters.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.min(
                F.struct((-F.col("q9")).alias("nq"), F.col("doc_id").alias("doc_id"))
            ).alias("_best"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
        .select("cluster_id", F.col("_best.doc_id").alias("keep_id"), "n_members")
    )


#: Sources held out as the "benchmark" slice for the decontamination gate.
EVAL_SOURCES = ("src0", "src1")

_SHINGLE_HI = SHINGLE_WIDTH - 1

_DECONTAM_ORACLE = f"""
WITH train_corpus AS (
    SELECT doc_id, text FROM documents
    WHERE source NOT IN {tuple(EVAL_SOURCES)!r}
),
eval_corpus AS (
    SELECT doc_id, text FROM documents WHERE source IN {tuple(EVAL_SOURCES)!r}
),
train_toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM train_corpus),
train_shingles AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+{_SHINGLE_HI}], ' ') AS shingle
    FROM train_toks,
         unnest(generate_series(1, greatest(len(t) - {_SHINGLE_HI}, 0))) AS u(i)
),
eval_toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM eval_corpus),
eval_shingles AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+{_SHINGLE_HI}], ' ') AS shingle
    FROM eval_toks,
         unnest(generate_series(1, greatest(len(t) - {_SHINGLE_HI}, 0))) AS u(i)
)
SELECT t.doc_id,
       count(DISTINCT t.shingle)::BIGINT AS n_shared,
       min(e.doc_id) AS first_eval_id
FROM train_shingles t
JOIN eval_shingles e ON e.shingle = t.shingle
GROUP BY t.doc_id
"""


@register("dedup_decontaminate", oracle=_DECONTAM_ORACLE)
def q_dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X5 [Q]: n-gram benchmark decontamination — training docs (all
    sources outside EVAL_SOURCES) sharing at least one word trigram with
    the held-out eval slice, with the shared-shingle count and the
    smallest contaminating eval doc id. The eval shingle set is broadcast:
    the corpus-side check is map-side, no corpus shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    train = docs.filter(~F.col("source").isin(*EVAL_SOURCES)).select("doc_id", "text")
    ev = docs.filter(F.col("source").isin(*EVAL_SOURCES)).select("doc_id", "text")
    return decontaminate_ngrams(train, ev)


def clean_corpus_pipeline(docs: DataFrame) -> DataFrame:
    """The END-TO-END training-data cleaning pass a user actually runs —
    every stage an operator from this module/text.py, composed as ONE
    declarative DataFrame plan:

        exact dedup (keep lowest id per sha256)
          -> drop eval-contaminated docs (broadcast n-gram check)
          -> quality gate (stopword/symbol ratios)
          -> repetition gate (within-doc dup fractions)
          -> exact-substring clean (cut non-first duplicated runs)

    Input: ``(doc_id, text, source)``; output ``(doc_id, n_tokens,
    removed_tokens, clean_text)`` for every surviving document.

    Scale shape: each stage keeps its own scale design (digest-keyed
    dedup shuffle, broadcast eval side, map-side gates, digest-keyed span
    windows); the inter-stage glue is doc_id equi-joins of boolean flags
    — co-keyed, trivially small next to the n-gram stages. Exact dedup
    runs FIRST so the substring stage never sees two byte-identical
    copies (which would otherwise erase both docs' full spans).
    """
    from .text import quality_scores, repetition_scores

    survivors = exact_dedup(docs).select("doc_id", "text", "source")
    train = survivors.filter(~F.col("source").isin(*EVAL_SOURCES)).select(
        "doc_id", "text"
    )
    ev = docs.filter(F.col("source").isin(*EVAL_SOURCES)).select("doc_id", "text")
    contaminated = decontaminate_ngrams(train, ev).select("doc_id")
    decont = train.join(contaminated, "doc_id", "left_anti")
    q = quality_scores(decont).select("doc_id", "keep")
    r = repetition_scores(decont).select("doc_id", "keep_repetition")
    gated = (
        decont.join(q, "doc_id")
        .join(r, "doc_id")
        .filter(F.col("keep") & F.col("keep_repetition"))
        .select("doc_id", "text")
    )
    return remove_duplicate_spans(gated)


@register("similarity_threshold_join_bucketed", oracle=_THRESHOLD_JOIN_ORACLE)
def q_similarity_threshold_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 [Q], scale-safe gate: banded-simhash threshold join over the FULL
    embeddings table (no slice), similarity > 0.3. The gated plan is the one
    that survives 100x — equi-joins on (band, key) buckets plus an id-keyed
    verify; the exact all-pairs kernel (similarity_threshold_join) stays as
    the bounded recall-1 twin."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return embedding_threshold_join(
        emb, 0.3, sig=cached_embedding_signatures(spark, sf_dir)
    )


@register(
    "similarity_threshold_join_highrecall",
    oracle=mp_threshold_join_oracle_sql(),
)
def q_similarity_threshold_join_highrecall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 [Q]: the high-recall end of the threshold-join knob, re-based
    (round 7) on scale-adaptive multi-probe LSH: 96 planes as 12 bands x
    8 bits, probing hamming <= 2 per band. Measured recall 0.99+ at
    threshold 0.3 (gated >= 0.95, tests/test_recall_gates.py) with bucket
    cardinality 256 per band — the retired 8x2-bit coarse-band config
    (4 buckets/band => Theta(n^2) candidates by construction) is gone;
    recall is bought with probe radius at constant bucket cardinality,
    the construction whose candidate stage scales sub-quadratically when
    band width grows with log(corpus) (see MP_* constants)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return embedding_threshold_join_multiprobe(
        emb, 0.3, keys=cached_embedding_band_keys(spark, sf_dir)
    )


@register("embedding_near_dup_simhash", oracle=_EMB_NEAR_DUP_ORACLE)
def q_embedding_near_dup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via simhash bucketing [Q]: the corpus plus
    a re-keyed copy of vec_id < 50; identical vectors land in the same
    16-bit bucket and verify at cosine 1.0.

    The signature index is the cached per-corpus artifact; the re-ingest
    copy INHERITS its originals' signatures by id remap (signatures are a
    function of the embedding alone) — re-ingest never re-projects."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    reingest = emb.filter(F.col("vec_id") < 50).withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    sig_base = cached_embedding_signatures(spark, sf_dir)
    sig = sig_base.unionByName(
        sig_base.filter(F.col("vec_id") < 50).withColumn(
            "vec_id", F.col("vec_id") + 10000
        )
    )
    return embedding_near_dups(emb.unionByName(reingest), 0.95, sig=sig)


# ---------------------------------------------------------------------------
# Text SimHash: 48-bit shingle fingerprints + banded hamming near-dup
# ---------------------------------------------------------------------------

#: 48 bits (12 md5 hex chars — BIGINT-safe in both engines) over SHINGLES,
#: not words: the fixture's docs share most of a small vocabulary, so
#: word-set simhash degenerates (hundreds of hamming-0 collisions);
#: shingle-set simhash separates cleanly (near-dup pairs land at <=3,
#: unrelated docs at >=10). 4 bands x 12 bits: hamming<=3 over 4 bands
#: pigeonholes at least one clean band.
SIMHASH_TEXT_BITS = 48
SIMHASH_TEXT_BANDS = 4
SIMHASH_TEXT_BAND_BITS = SIMHASH_TEXT_BITS // SIMHASH_TEXT_BANDS
SIMHASH_TEXT_MAX_HAMMING = 3


def text_simhash(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc 48-bit SimHash over the distinct shingle set: bit b is set
    iff more shingles have bit b of md5(shingle) set than clear (sum of
    +/-1 votes > 0 — the deterministic tie rule). One explode + one
    groupBy with map-side combine; the fingerprint is 6 bytes per doc
    regardless of length."""
    sh = doc_shingles(df, text_col=text_col, id_col=id_col).withColumn(
        "h", F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10).cast("bigint")
    )
    # Expressions built as F.expr SQL strings, not per-node Column calls:
    # the two 48-bit loops cost ~450 py4j round trips (~3 s of pure
    # driver-side construction per invocation, measured); the parsed
    # trees are byte-identical in the optimized plan (verified A/B).
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"v{b}")
        for b in range(SIMHASH_TEXT_BITS)
    ]
    agg = sh.groupBy("doc_id").agg(*votes)
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2 ** b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_TEXT_BITS)
    )
    return agg.select("doc_id", F.expr(fp).alias("simhash"))


def text_simhash_pairs(
    df: DataFrame, *, max_hamming: int = SIMHASH_TEXT_MAX_HAMMING
) -> DataFrame:
    """Near-dup pairs by banded SimHash: candidates share at least one of
    4 8-bit bands (a pair within hamming distance 3 must agree on >= 1
    band), verified by exact hamming distance over the XOR. Equi-join on
    (band, value) — never all-pairs."""
    band_mask = (1 << SIMHASH_TEXT_BAND_BITS) - 1
    fps = transient_persist(text_simhash(df))
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * SIMHASH_TEXT_BAND_BITS)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("val"),
                    )
                    for i in range(SIMHASH_TEXT_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("bigint")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


_TEXT_SIMHASH_SQL = """
sh_hashed AS (
    SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h FROM shingles
),
sh_votes AS (
    SELECT doc_id,
           {votes}
    FROM sh_hashed GROUP BY doc_id
),
fps AS (
    SELECT doc_id, ({fp}) AS simhash FROM sh_votes
)
""".format(
    votes=",\n           ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_TEXT_BITS)
    ),
    fp=" + ".join(
        f"(CASE WHEN v{b} > 0 THEN {2**b}::BIGINT ELSE 0 END)"
        for b in range(SIMHASH_TEXT_BITS)
    ),
)

_TEXT_SIMHASH_ORACLE = f"""
WITH doc_corpus AS (SELECT doc_id, text FROM documents),
{_SHINGLES_CTE.strip()},
{_TEXT_SIMHASH_SQL.strip()},
bands AS (
    SELECT doc_id, simhash, b.band,
           (simhash >> (b.band * {SIMHASH_TEXT_BAND_BITS})) & {(1 << SIMHASH_TEXT_BAND_BITS) - 1} AS val
    FROM fps CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_TEXT_BANDS - 1})) AS band) b
),
cands AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           a.simhash AS fp_a, b.simhash AS fp_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT a_id, b_id, bit_count(xor(fp_a, fp_b))::BIGINT AS hamming
FROM cands
WHERE bit_count(xor(fp_a, fp_b)) <= {SIMHASH_TEXT_MAX_HAMMING}
"""


@register("dedup_near_simhash_text", oracle=_TEXT_SIMHASH_ORACLE)
def q_dedup_near_simhash_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 [Q]: TEXT SimHash near-dup — the third dedup family next to
    MinHash-Jaccard and embedding-cosine: 48-bit majority-vote fingerprint
    over the distinct shingle set, 4x12-bit banded candidate join
    (hamming<=3 pigeonholes a shared band), exact hamming verify.
    Fingerprints are 6 bytes per doc; candidates only form inside
    (band, value) buckets — never all-pairs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_simhash_pairs(docs)


from .text import _ALL_STOPWORDS as _STOPWORDS_FOR_PIPELINE  # noqa: E402


@register(
    "documents_clean_pipeline",
    oracle=f"""
WITH hashed AS (SELECT doc_id, text, source, sha256(text) AS content_hash FROM documents),
ranked AS (
    SELECT doc_id, text, source,
           row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS r
    FROM hashed
),
train AS (
    SELECT doc_id, text FROM ranked
    WHERE r = 1 AND source NOT IN ({", ".join(f"'{s}'" for s in EVAL_SOURCES)})
),
evdocs AS (
    SELECT doc_id, text FROM documents
    WHERE source IN ({", ".join(f"'{s}'" for s in EVAL_SOURCES)})
),
tr_toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM train),
tr_sh AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+{SHINGLE_WIDTH - 1}], ' ') AS shingle
    FROM tr_toks, unnest(generate_series(1, greatest(len(t) - {SHINGLE_WIDTH - 1}, 0))) AS u(i)
),
ev_toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM evdocs),
ev_sh AS (
    SELECT DISTINCT array_to_string(t[i:i+{SHINGLE_WIDTH - 1}], ' ') AS shingle
    FROM ev_toks, unnest(generate_series(1, greatest(len(t) - {SHINGLE_WIDTH - 1}, 0))) AS u(i)
),
contaminated AS (SELECT DISTINCT s.doc_id FROM tr_sh s JOIN ev_sh e USING (shingle)),
decont AS (
    SELECT d.doc_id, d.text FROM train d
    LEFT JOIN contaminated c USING (doc_id) WHERE c.doc_id IS NULL
),
qw AS (
    SELECT doc_id, text,
           list_filter(string_split(text, ' '), w -> w != '') AS ws
    FROM decont
),
qgate AS (
    SELECT doc_id,
           len(ws) >= 5
           AND round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
                     / length(text), 9) < 0.1
           AND round(len(list_filter(ws, x -> list_contains(
                   [{", ".join(f"'{s}'" for s in _STOPWORDS_FOR_PIPELINE)}], lower(x)))) * 1.0
                     / len(ws), 9) >= 0.02 AS keep
    FROM qw
),
rw AS (
    SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS d_words, ws
    FROM qw
),
rg3 AS (
    SELECT b.doc_id, count(*) AS n,
           count(DISTINCT array_to_string(ws[i:i+2], ' ')) AS d
    FROM rw b, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    GROUP BY b.doc_id
),
rgate AS (
    SELECT w.doc_id,
           (CASE WHEN w.n_words > 0
                 THEN round(1.0 - w.d_words * 1.0 / w.n_words, 9) ELSE 0.0 END) <= 0.7
           AND coalesce(round(1.0 - g3.d * 1.0 / g3.n, 9), 0.0) <= 0.3 AS keep_repetition
    FROM rw w LEFT JOIN rg3 g3 USING (doc_id)
),
gated AS (
    SELECT d.doc_id, d.text FROM decont d
    JOIN qgate q USING (doc_id) JOIN rgate r USING (doc_id)
    WHERE q.keep AND r.keep_repetition
),
corpus AS (SELECT doc_id, string_split(text, ' ') AS t FROM gated),
pos AS (
    SELECT doc_id, i AS pos,
           md5(array_to_string(t[i:i+{MIN_MATCH_TOKENS - 1}], ' ')) AS h
    FROM corpus, unnest(generate_series(1, greatest(len(t) - {MIN_MATCH_TOKENS - 1}, 0))) AS u(i)
),
occ AS (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
           count(*) OVER (PARTITION BY h) AS n
    FROM pos
),
losers AS (SELECT doc_id, pos FROM occ WHERE n > 1 AND rn > 1),
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER w IS NULL
                  OR pos - lag(pos) OVER w > {MIN_MATCH_TOKENS} THEN 1 ELSE 0 END AS nw
    FROM losers WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
    SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
    FROM flagged
),
spans2 AS (
    SELECT doc_id, min(pos) AS s, max(pos) + {MIN_MATCH_TOKENS - 1} AS e
    FROM islands GROUP BY doc_id, isl
),
removedpos AS (SELECT doc_id, unnest(generate_series(s, e)) AS rpos FROM spans2),
removed AS (SELECT doc_id, list(DISTINCT rpos) AS rp FROM removedpos GROUP BY doc_id)
SELECT c.doc_id, len(c.t)::BIGINT AS n_tokens,
       coalesce(len(r.rp), 0)::BIGINT AS removed_tokens,
       coalesce(array_to_string(
           list_transform(
               list_filter(
                   list_zip(c.t, range(1, len(c.t) + 1)),
                   x -> NOT list_contains(coalesce(r.rp, []), x[2])
               ),
               x -> x[1]
           ), ' '), '') AS clean_text
FROM corpus c LEFT JOIN removed r USING (doc_id)
""",
)
def q_documents_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X5 FLAGSHIP [Q]: the full training-data cleaning pass — exact
    dedup -> benchmark decontamination -> quality gate -> repetition gate
    -> exact-substring span removal — composed as one DataFrame plan and
    hash-matched end-to-end against a single SQL oracle."""
    return clean_corpus_pipeline(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    )


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank over the near-dup graph (X2, iterative numeric)
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def pagerank_fixed(pairs: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """Damped PageRank, a FIXED number of synchronous iterations, over the
    undirected near-dup pair graph — the iterative-numeric representative
    (connected components covers label propagation; this covers weighted
    value iteration). Each iteration: rank(v) <- round(0.15/N + 0.85 *
    sum(rank(u)/deg(u) over neighbors u), 9) — the per-iteration ROUND is
    what makes a floating-point fixpoint loop cross-engine exact (both
    engines feed identical inputs into every iteration; the same
    convention as every rounded ranking in this repo). Fixed iteration
    count, not convergence-tested: deterministic plan depth, and at scale
    each iteration is one edge-keyed shuffle + one vertex aggregation
    (the loop unrolls into a linear chain of joins — lineage stays
    bounded because the rank table is tiny: one DOUBLE per vertex)."""
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst")).unionByName(
        pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    ).distinct()
    verts = edges.select(F.col("src").alias("id")).distinct()
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n = verts.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = verts.crossJoin(F.broadcast(n)).select(
        "id", F.round(F.lit(1.0) / F.col("n"), 9).alias("rank")
    )
    for _ in range(iters):
        contrib = (
            edges.join(ranks.select(F.col("id").alias("src"), "rank"), "src")
            .join(deg.select(F.col("id").alias("src"), "deg"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        ranks = (
            verts.join(contrib, "id", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "id",
                F.round(
                    F.lit(1 - PAGERANK_DAMPING) / F.col("n")
                    + F.lit(PAGERANK_DAMPING) * F.coalesce("inflow", F.lit(0.0)),
                    9,
                ).alias("rank"),
            )
        )
    return ranks


def _pagerank_oracle_sql(iters: int = PAGERANK_ITERS) -> str:
    prev = "r0"
    steps = [
        """
edges AS (
    SELECT a_id AS src, b_id AS dst FROM nd
    UNION
    SELECT b_id AS src, a_id AS dst FROM nd
),
verts AS (SELECT DISTINCT src AS id FROM edges),
deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n FROM verts),
r0 AS (SELECT id, round(1.0 / n.n, 9) AS rank FROM verts CROSS JOIN n)"""
    ]
    for i in range(1, iters + 1):
        steps.append(f"""
c{i} AS (
    SELECT e.dst AS id, sum(r.rank / d.deg) AS inflow
    FROM edges e
    JOIN {prev} r ON r.id = e.src
    JOIN deg d ON d.id = e.src
    GROUP BY e.dst
),
r{i} AS (
    SELECT v.id,
           round({1 - PAGERANK_DAMPING} / n.n
                 + {PAGERANK_DAMPING} * coalesce(c.inflow, 0.0), 9) AS rank
    FROM verts v LEFT JOIN c{i} c ON c.id = v.id CROSS JOIN n
)""")
        prev = f"r{i}"
    return (
        "WITH "
        + _ND_CTES
        + ","
        + ",".join(steps)
        + f"\nSELECT id AS doc_id, rank FROM {prev}"
    )


@register("dedup_pagerank", oracle=_pagerank_oracle_sql())
def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 [Q]: 3-iteration damped PageRank over the verified MinHash
    near-dup graph — ranks the most-connected duplicates (the docs whose
    removal dissolves the most near-dup mass), the weighted companion to
    the connected-components clusters. Per-iteration rounding makes the
    float fixpoint loop hash-exact cross-engine."""
    from .knn import _cached

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _cached(
        spark, sf_dir, "near_dup_pairs_08", lambda: near_dup_pairs(docs, 0.8)
    )
    return pagerank_fixed(pairs).select(F.col("id").alias("doc_id"), "rank")


# ---------------------------------------------------------------------------
# X2: semantic dedup (cluster-partitioned embedding near-dup, SemDeDup-style)
# ---------------------------------------------------------------------------

#: Seed-centroid floor, target cluster cardinality, and cosine threshold
#: for the registered gate. K seed rows stand in for trained centroids so
#: the WHOLE pipeline (assignment included) has an exact SQL twin;
#: production callers pass indexing.trained_centroids. K is
#: SCALE-ADAPTIVE — max(K_MIN, ceil(n / TARGET_CLUSTER)) — so expected
#: cluster cardinality (and with it the within-cluster pair stage) stays
#: bounded as the corpus grows; a fixed k would make the pair join
#: quadratic at 100x exactly the way the retired 8x2-bit threshold-join
#: config was.
SEMDEDUP_K_MIN = 8
SEMDEDUP_TARGET_CLUSTER = 64
SEMDEDUP_TAU = 0.3
#: Decide-tail depth cap on the APPROXIMATE (routed) tiers: each vector
#: is compared only against its cluster's top-CAP exemplars (rank <= CAP)
#: instead of EVERY better-ranked member. The k = ceil(n/TARGET_CLUSTER)
#: contract bounds expected depth at ~64, so 4x contract depth leaves the
#: cap inert on any well-clustered corpus (exact parity whenever cluster
#: depth <= CAP+1); a SKEWED corpus that piles a hot cluster far past
#: contract depth gets the pair join linearized from O(depth^2) to
#: O(depth * CAP) per cluster, with a ONE-SIDED decision change: capped
#: decide can only UNDER-remove (removed_capped is a subset of
#: removed_exact), never spuriously drop a unique (SCALING.md section 2.1
#: measured the uncapped tail at 4.07x/doubling in a deep-cluster regime).
SEMDEDUP_DECIDE_CAP = 4 * SEMDEDUP_TARGET_CLUSTER

#: Decide-kernel crossover on the routed tiers: the arrow cogroup decide
#: runs when the corpus (counted n, or the seed rule's k x target-cluster
#: estimate) is at least this many rows. Below it the expr pair join is
#: cheaper than the cogroup's two extra Python stages (measured: the
#: 8.5k-row eval corpus pays ~1 s for the arrow stages where the pair join
#: is ~0.1 s); above it the GEMM decide's measured ladder advantage (5.6x
#: at n~1e6, 28x at n~8.4e6) dominates. The bound sits an order of
#: magnitude below the smallest decade where that advantage was measured.
DECIDE_ARROW_MIN_ROWS = 100_000


def _semdedup_vectors(vectors: DataFrame) -> DataFrame:
    """The ``(vec_id, embedding array<double>)`` projection every
    assignment tier reads."""
    return vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _seed_centroids(v: DataFrame, k: int) -> DataFrame:
    """Seed rule: the corpus rows with ``vec_id < k`` stand in as the
    ``(cid, cvec)`` centroid table, so the whole pipeline has an exact SQL
    twin."""
    return v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )


def _assign_centroids(
    v: DataFrame,
    centroids: DataFrame,
    tier: str,
    *,
    n_cents: "int | None" = None,
    n_vec: "int | None" = None,
    collected: "tuple | None" = None,
) -> DataFrame:
    """``(vec_id, embedding, cid, csim)``: each vector's argmax rounded
    cosine centroid, ties to the lowest cid, by the named tier — the one
    place a tier name becomes a kernel:

    - ``'expr'``: the exact broadcast fold below (every oracle-gated plan);
    - ``'flat'``: the exact blocked GEMM (knn_numpy, BLAS summation order);
    - ``'routed'``: the in-memory two-tier kernel (approximate);
    - ``'distributed'``: knn_routed's tier, no driver-resident table.

    ``n_cents``/``n_vec`` are the distributed tier's sizing hints;
    ``collected`` is the ``(ids, matrix)`` pair of the centroid table
    when the caller already holds it (the in-memory tiers collect it
    otherwise)."""
    if tier == "distributed":
        from .knn_routed import routed_best_centroid_distributed

        return routed_best_centroid_distributed(
            v, centroids, n_centroids=n_cents, n_vectors=n_vec
        )
    if tier in ("flat", "routed"):
        from .knn_numpy import (
            _blocked_best_centroid,
            _collect_centroids,
            _routed_best_centroid,
        )

        if collected is None:
            collected = _collect_centroids(centroids, "cid", "cvec")
        if tier == "routed":
            return _routed_best_centroid(v, collected)
        return _blocked_best_centroid(
            v,
            collected,
            vec_col="embedding",
            similarity=True,
            out_field=T.StructField("cid", T.LongType()),
            score_field="csim",
        )
    if tier != "expr":
        raise ValueError(f"unknown assignment tier {tier!r}")
    # Assignment argmax INSIDE the scan, zero row expansion — the same
    # collapsed-struct fold knn.assign_partitions uses: the centroid table
    # becomes ONE row holding an array of (cid, cvec) structs, broadcast,
    # and array_max picks the best centroid per vector in a single
    # projection (an n x k crossJoin + vec_id window would shuffle all
    # n x k rows WITH the embedding payload, SCALING.md section 2.1).
    # Lexicographic struct max over (csim, -cid) = highest csim, ties to
    # lowest cid; csim is rounded to 9 dp BEFORE the comparison, same as
    # the oracle. An EMPTY centroid table (an empty corpus, or seed
    # derivation against non-0-based vec_ids) must yield an empty result:
    # without the size filter every vector joins an empty array,
    # array_max(empty) = NULL, and the whole corpus would come back
    # kept=true under a NULL cluster.
    cents1 = centroids.groupBy().agg(
        F.collect_list(F.struct(F.col("cid"), F.col("cvec"))).alias("_cents")
    ).filter(F.size("_cents") > 0)
    best = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda x: F.struct(
                F.round(dot_product(F.col("embedding"), x["cvec"]), 9).alias("csim"),
                (-x["cid"]).alias("nc"),
                x["cid"].alias("cid"),
            ),
        )
    )
    return (
        v.join(F.broadcast(cents1))
        .withColumn("_best", best)
        .select(
            "vec_id",
            "embedding",
            F.col("_best.cid").alias("cid"),
            F.col("_best.csim").alias("csim"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    *,
    k: "int | None" = None,
    threshold: float = SEMDEDUP_TAU,
    centroids: "DataFrame | None" = None,
) -> DataFrame:
    """Cluster-partitioned semantic dedup over an embedding corpus — the
    public SemDeDup method (Abbas et al. 2023, arXiv:2303.09540): assign
    every vector to its nearest centroid, form candidate pairs ONLY within
    a cluster, and drop every vector that has a closer-to-centroid
    neighbor above the cosine threshold.

    Semantics (deterministic, order-free):
    - assignment: argmax rounded cosine to the centroid table, ties to the
      lowest centroid id;
    - exemplar rank: within a cluster, by similarity-to-centroid DESC then
      vec_id ASC (row_number — no ties);
    - a vector is REMOVED iff some same-cluster vector with a better
      (lower) rank is within ``threshold`` cosine — per qualifying pair,
      the worse-ranked member is marked; survivors are ``kept = true``.

    Returns one row per input vector: (vec_id, cluster_id, rank, kept).

    Centroids: without ``centroids`` the SEED RULE stands in — the first
    k corpus rows by vec_id, with k = ``k`` or max(8, ceil(n / 64)) from
    one count, so expected cluster cardinality stays ~64 and the
    within-cluster pair work stays linear in n at every scale. Production
    callers pass ``centroids=indexing.train_kmeans_centroids(...)``
    (``cid``, ``cvec``); that table is collected once.

    The assignment tier follows from the centroid count alone
    (LARGE_NLIST_THRESHOLD = 1024, knn_routed.DISTRIBUTED_K_THRESHOLD =
    1e6):

    ======================  ===============  ========  ================
    centroids               assignment       cap       decide
    ======================  ===============  ========  ================
    seed, k <= 1024         expr fold        none      expr
    seed, 1024 < k <= 1e6   routed, memory   256       by size (below)
    seed, k > 1e6           distributed      256       by size
    supplied, <= 1024 rows  expr fold        none      expr
    supplied, > 1024 rows   routed, memory   256       arrow
    ======================  ===============  ========  ================

    - *expr fold*: exact, the plan of every oracle-gated query; no n x k
      row expansion anywhere.
    - *routed, memory* (knn_numpy): ~sqrt(8k) super-centroid groups,
      each vector scored against its top-8 groups' members, O(n sqrt(k)
      d) instead of the flat O(n k d). APPROXIMATE: recall ~1.0 on
      trained centroids (tests/test_semantic_routing.py); over seed rows
      it tracks the corpus's clusterability, so the seed rule warns.
    - *distributed* (knn_routed): the same routing with the centroid
      table kept a DataFrame end to end and a calibrated probe margin.
    - *cap*: SEMDEDUP_DECIDE_CAP, one-sided (see _semantic_dedup_decide).
    - *decide by size*: ``'arrow'`` (per-cluster cogroup GEMM, same
      removed set) when the counted n, or the seed rule's k x 64
      estimate, reaches DECIDE_ARROW_MIN_ROWS; ``'expr'`` below.

    Scale shape: the only shuffle keys are cluster_id (rank window, pair
    join), both O(n) rows; no stage is all-pairs over the corpus
    (plan-guarded in tests/test_plans.py)."""
    from .knn_numpy import LARGE_NLIST_THRESHOLD, _collect_centroids
    from .knn_routed import DISTRIBUTED_K_THRESHOLD

    v = _semdedup_vectors(vectors)
    n_vec = collected = None
    if centroids is None:
        if k is None:
            # One scalar count — small-by-contract driver round trip; the
            # oracle computes the identical k with a scalar subquery.
            n_vec = v.count()
            k = max(SEMDEDUP_K_MIN, -(-n_vec // SEMDEDUP_TARGET_CLUSTER))
        centroids = _seed_centroids(v, k)
        if k <= LARGE_NLIST_THRESHOLD:
            tier = "expr"
        else:
            tier = "routed" if k <= DISTRIBUTED_K_THRESHOLD else "distributed"
            import warnings

            warnings.warn(
                "semantic_dedup: k exceeds LARGE_NLIST_THRESHOLD with default "
                "seed-rule centroids — assignment switches to an APPROXIMATE "
                "routed tier, whose trained-centroid recall guarantee does not "
                "cover raw seed rows (measured keep/drop drift ~0.16% on an "
                "unstructured corpus). Supply trained centroids "
                "(indexing.train_kmeans_centroids) for gated recall.",
                stacklevel=2,
            )
    else:
        collected = _collect_centroids(centroids, "cid", "cvec")
        # The caller's k is ignored here, and the sizing hints and the
        # k x 64 decide estimate stay seed-rule only.
        k = None
        tier = "routed" if len(collected[0]) > LARGE_NLIST_THRESHOLD else "expr"
    assigned = _assign_centroids(
        v, centroids, tier, n_cents=k, n_vec=n_vec, collected=collected
    )
    return _decide_for_tier(assigned, threshold, tier, n_vec=n_vec, k=k)


def _decide_for_tier(
    assigned: DataFrame,
    threshold: float,
    tier: str,
    *,
    n_vec: "int | None" = None,
    k: "int | None" = None,
) -> DataFrame:
    """semantic_dedup's decide tail for an assignment tier: the exact
    tiers ('expr', 'flat') get the uncapped 'expr' decide; the routed
    tiers get SEMDEDUP_DECIDE_CAP and the 'arrow' decide when the counted
    ``n_vec``, or else the seed rule's ``k`` x TARGET_CLUSTER estimate,
    reaches DECIDE_ARROW_MIN_ROWS — or when neither is known (supplied
    centroids)."""
    if tier in ("expr", "flat"):
        return _semantic_dedup_decide(assigned, threshold)
    if n_vec is not None:
        arrow = n_vec >= DECIDE_ARROW_MIN_ROWS
    elif k is not None:
        # The ESTIMATE holds only under the seed contract: a small
        # explicit k over a large corpus lands on 'expr' where 'arrow' is
        # much faster (same results), so say so.
        arrow = k * SEMDEDUP_TARGET_CLUSTER >= DECIDE_ARROW_MIN_ROWS
        if not arrow:
            import logging

            logging.getLogger(__name__).info(
                "semantic_dedup picked the 'expr' decide from the k-contract "
                "ESTIMATE (k=%d * %d < %d)",
                k,
                SEMDEDUP_TARGET_CLUSTER,
                DECIDE_ARROW_MIN_ROWS,
            )
    else:
        arrow = True
    return _semantic_dedup_decide(
        assigned,
        threshold,
        depth_cap=SEMDEDUP_DECIDE_CAP,
        kernel="arrow" if arrow else "expr",
        n_hint=n_vec,
        k_hint=k,
    )


#: Auto salt sizing for the arrow decide's per-(cluster, salt) cogroup
#: key: the applyInArrow full-key materialization bound is the same one
#: the routed assignment tier sizes to (knn_routed.
#: _TARGET_ROWS_PER_GROUP_TASK) — a cluster deeper than this many rows
#: splits its a-side across ceil(depth/target) salts, with the (capped)
#: witness side replicated per salt.
_DECIDE_TARGET_ROWS_PER_TASK = 100_000


def _decide_removed_arrow(
    ranked: DataFrame,
    threshold: float,
    depth_cap: "int | None",
    n_hint: "int | None",
    k_hint: "int | None",
) -> DataFrame:
    """Exists-form removal decision as a per-cluster cogroup GEMM: a
    vector is removed iff SOME better-ranked same-cluster member scores
    round-9 dot > threshold against it — exactly _semantic_dedup_decide's
    rule (rank is a strict total order, so the pair form and the exists
    form name the same removed set).

    Shape: the a-side (every ranked row) and the witness side (rows with
    rank <= depth_cap when capped, all rows when exact) cogroup on
    (cid, salt); each key runs ONE tiled ``A @ W.T`` BLAS product with
    the threshold-and-rank mask folded in numpy — no pair row is ever
    materialized, each embedding crosses the shuffle once per side
    (plus witness x salts replicas), and per-pair arithmetic leaves the
    interpreted expression domain. Early-exits witness tiles once every
    a-row is decided.

    Memory: applyInArrow materializes each key's whole a-side fan-in
    before the kernel runs — the same binding bound as the routed
    assignment cogroup — so when the caller's (n, k) hints predict mean
    cluster depth above _DECIDE_TARGET_ROWS_PER_TASK, the a-side salts
    by vec_id into ceil(depth/target)-way keys and the witness side
    replicates per salt (each a-row still meets every witness exactly
    once, so no distinct is needed and results are salt-invariant —
    gated). The witness side itself is bounded by depth_cap on the
    capped tiers; an UNCAPPED skewed cluster keeps the witness fan-in
    bound at the cluster depth, the same exposure the expr form has
    through its join key."""
    import pyarrow as pa

    from .knn_numpy import _TILE_ELEMS, _list_matrix

    salts = 1
    if n_hint and k_hint and n_hint > 0 and k_hint > 0:
        salts = max(
            1, math.ceil((n_hint / k_hint) / _DECIDE_TARGET_ROWS_PER_TASK)
        )
    a = ranked.select("cid", "vec_id", "embedding", "rank")
    # Witness columns renamed: both cogroup sides derive from the same
    # ranked Dataset, and shared attribute ids trip Spark's ambiguous-
    # self-join analysis (the expr path dodges it the same way with its
    # a_*/b_* renames).
    w = ranked.select(
        F.col("cid").alias("w_cid"),
        F.col("embedding").alias("w_emb"),
        F.col("rank").alias("w_rank"),
    )
    if depth_cap is not None:
        w = w.filter(F.col("w_rank") <= depth_cap)
    if salts > 1:
        a = a.withColumn(
            "_sd_salt", F.pmod(F.col("vec_id"), F.lit(salts)).cast("int")
        )
        w = w.withColumn(
            "_sd_salt",
            F.explode(
                F.sequence(
                    F.lit(0).cast("int"), F.lit(int(salts - 1)).cast("int")
                )
            ),
        )
    else:
        a = a.withColumn("_sd_salt", F.lit(0))
        w = w.withColumn("_sd_salt", F.lit(0))

    out_arrow = pa.schema([pa.field("vec_id", pa.int64())])

    def decide(left: pa.Table, right: pa.Table) -> pa.Table:
        if not left.num_rows or not right.num_rows:
            # Witness-only keys decide nothing. A-only keys cannot occur:
            # rank 1 survives any cap and witnesses replicate to every
            # salt, so only an empty input reaches this guard.
            return out_arrow.empty_table()
        A = _list_matrix(left.column("embedding"))
        a_rank = (
            left.column("rank").to_numpy(zero_copy_only=False).astype(np.int64)
        )
        a_id = (
            left.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
        )
        W = _list_matrix(right.column("w_emb"))
        w_rank = (
            right.column("w_rank").to_numpy(zero_copy_only=False).astype(np.int64)
        )
        n_rows = A.shape[0]
        removed = np.zeros(n_rows, dtype=bool)
        wblock = max(1, _TILE_ELEMS // max(n_rows, 1))
        for s in range(0, W.shape[0], wblock):
            blk = A @ W[s : s + wblock].T  # a x wblock
            np.round(blk, 9, out=blk)
            hit = (blk > threshold) & (
                w_rank[s : s + wblock][None, :] < a_rank[:, None]
            )
            removed |= hit.any(axis=1)
            if removed.all():
                break
        return pa.Table.from_arrays(
            [pa.array(a_id[removed], type=pa.int64())], schema=out_arrow
        )

    cands = (
        a.groupBy("cid", "_sd_salt")
        .cogroup(w.groupBy("w_cid", "_sd_salt"))
        .applyInArrow(decide, "vec_id long")
    )
    # Each a-row lives in exactly one (cid, salt) key and emits <= 1 row
    # — already distinct by construction.
    return cands.withColumn("_removed", F.lit(True))


def _semantic_dedup_decide(
    assigned: DataFrame,
    threshold: float,
    depth_cap: "int | None" = None,
    kernel: str = "expr",
    n_hint: "int | None" = None,
    k_hint: "int | None" = None,
) -> DataFrame:
    """Shared SemDeDup tail over an assigned ``(vec_id, embedding, cid,
    csim)`` table: cluster-keyed exemplar rank, within-cluster pair join,
    keep/drop decision — identical for every assignment kernel.

    ``depth_cap=None`` (the oracle-gated default) runs the exact
    all-pairs form: every unordered within-cluster pair over the cosine
    threshold marks its worse-ranked member removed. The pair join is
    quadratic in CLUSTER depth — linear in n only under SemDeDup's
    k = ceil(n/64) contract, which a skewed real corpus need not honor
    (SCALING.md §2.1 measured 4.07x/doubling in a deep-cluster
    regime).

    ``depth_cap=R`` prunes the BETTER-RANKED comparison side to each
    cluster's top-R exemplars before the join, using the equivalent
    exists-form of the decision rule: a vector is removed iff SOME
    better-ranked same-cluster member within the threshold exists (rank
    is a row_number — strict total order, so "worse member of each
    qualifying pair" and "has a better-ranked qualifying neighbor" name
    the same set). Capping the witness side keeps that rule EXACT for
    every cluster of depth <= R+1 (all better-ranked members then have
    rank <= R) and makes it one-sided beyond: a removal always has a
    top-R witness or none, so removed_capped is a SUBSET of
    removed_exact — the cap can only keep extra rows, never drop a
    unique. Per-cluster pair work falls from O(depth^2) to
    O(depth * R); the b-side shrinks to at most k*R rows total.
    Both properties are gated in tests/test_semantic_dedup_cap.py.

    ``kernel='arrow'`` computes the SAME removed set (capped or exact)
    as a per-cluster cogroup GEMM — see _decide_removed_arrow; 'expr'
    (default) keeps the original pair join. ``n_hint``/``k_hint`` size
    the arrow kernel's salting; sizing-only, never correctness."""
    if kernel not in ("expr", "arrow"):
        raise ValueError(f"decide kernel must be 'expr' or 'arrow', got {kernel!r}")
    rw = Window.partitionBy("cid").orderBy(F.col("csim").desc(), F.col("vec_id").asc())
    ranked = transient_persist(
        assigned.withColumn("rank", F.row_number().over(rw).cast("bigint"))
    )
    if kernel == "arrow":
        if depth_cap is not None and depth_cap < 1:
            raise ValueError(
                f"depth_cap must be a positive int or None, got {depth_cap!r}"
            )
        removed = _decide_removed_arrow(
            ranked, threshold, depth_cap, n_hint, k_hint
        )
        return ranked.join(removed, "vec_id", "left").select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cluster_id"),
            "rank",
            F.coalesce(~F.col("_removed"), F.lit(True)).alias("kept"),
        )
    a = ranked.select(
        "cid",
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        F.col("rank").alias("a_rank"),
    )
    b = ranked.select(
        "cid",
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        F.col("rank").alias("b_rank"),
    )
    if depth_cap is None:
        removed = (
            a.join(b, "cid")
            .filter(F.col("a_id") < F.col("b_id"))
            .filter(
                F.round(dot_product(F.col("a_vec"), F.col("b_vec")), 9) > threshold
            )
            .select(
                F.when(F.col("a_rank") > F.col("b_rank"), F.col("a_id"))
                .otherwise(F.col("b_id"))
                .alias("vec_id")
            )
            .distinct()
            .withColumn("_removed", F.lit(True))
        )
    else:
        if depth_cap < 1:
            raise ValueError(
                f"depth_cap must be a positive int or None, got {depth_cap!r}"
            )
        removed = (
            a.join(b.filter(F.col("b_rank") <= depth_cap), "cid")
            .filter(F.col("b_rank") < F.col("a_rank"))
            .filter(
                F.round(dot_product(F.col("a_vec"), F.col("b_vec")), 9) > threshold
            )
            .select(F.col("a_id").alias("vec_id"))
            .distinct()
            .withColumn("_removed", F.lit(True))
        )
    return ranked.join(removed, "vec_id", "left").select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cluster_id"),
        "rank",
        F.coalesce(~F.col("_removed"), F.lit(True)).alias("kept"),
    )


_SEMANTIC_DEDUP_ORACLE = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
seeds AS (
    SELECT vec_id AS cid, vec AS cvec FROM v
    WHERE vec_id < (
        SELECT greatest(
            {SEMDEDUP_K_MIN},
            ceil(count(*) / {SEMDEDUP_TARGET_CLUSTER}.0)
        )::BIGINT FROM v
    )
),
assigned AS (
    SELECT vec_id, vec, cid, csim FROM (
        SELECT v.vec_id, v.vec, s.cid,
               round(list_dot_product(v.vec, s.cvec), 9) AS csim,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY round(list_dot_product(v.vec, s.cvec), 9) DESC, s.cid
               ) AS rn
        FROM v CROSS JOIN seeds s
    ) WHERE rn = 1
),
ranked AS (
    SELECT vec_id, vec, cid, csim,
           row_number() OVER (
               PARTITION BY cid ORDER BY csim DESC, vec_id
           )::BIGINT AS rank
    FROM assigned
),
removed AS (
    SELECT DISTINCT
           CASE WHEN a.rank > b.rank THEN a.vec_id ELSE b.vec_id END AS vec_id
    FROM ranked a JOIN ranked b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
     AND round(list_dot_product(a.vec, b.vec), 9) > {SEMDEDUP_TAU}
)
SELECT r.vec_id, r.cid::BIGINT AS cluster_id, r.rank,
       (rm.vec_id IS NULL) AS kept
FROM ranked r LEFT JOIN removed rm ON rm.vec_id = r.vec_id
"""


#: semantic_dedup_routed_eval corpus constants: REP rotations of the
#: first BASE fixture vectors (dimension-roll per copy — a rotation
#: keeps within-copy geometry exact and makes cross-copy dots
#: incoherent), interleaved ids so the seed rule picks every copy's
#: anchors. n = BASE*REP = 8,500 and k = EVAL_K = 520 at EVERY sf (the
#: corpus is sf-independent by construction); the approximate tiers are
#: named explicitly, since the seed rule keeps k <= 1024 on the exact
#: fold.
SEMDEDUP_EVAL_BASE = 500
SEMDEDUP_EVAL_REP = 17
SEMDEDUP_EVAL_K = 520


def _semantic_eval_corpus(emb: DataFrame) -> DataFrame:
    base = emb.filter(F.col("vec_id") < SEMDEDUP_EVAL_BASE).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    d = F.size("embedding")
    return base.select(
        F.col("vec_id"),
        F.explode(lit_array(range(SEMDEDUP_EVAL_REP))).alias("copy"),
        "embedding",
    ).select(
        (F.col("vec_id") * SEMDEDUP_EVAL_REP + F.col("copy"))
        .cast("long")
        .alias("vec_id"),
        F.when(F.col("copy") == 0, F.col("embedding"))
        .otherwise(
            F.concat(
                F.slice("embedding", F.col("copy") + 1, d - F.col("copy")),
                F.slice("embedding", 1, F.col("copy")),
            )
        )
        .alias("embedding"),
    )


_SEMDEDUP_ROUTED_EVAL_ORACLE = f"""
SELECT (SELECT count(*) * {SEMDEDUP_EVAL_REP} FROM embeddings
        WHERE vec_id < {SEMDEDUP_EVAL_BASE})::BIGINT AS n_vectors,
       true AS drift_le_6pct,
       true AS spurious_drop_le_1pct,
       true AS dist_drift_le_6pct,
       true AS dist_spurious_drop_le_1pct
"""


@register("semantic_dedup_routed_eval", oracle=_SEMDEDUP_ROUTED_EVAL_ORACLE)
def q_semantic_dedup_routed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 [W]: the routed (approximate) assignment tiers' contract,
    enforced where the DRIVER's harness sees it: approximate + BLAS
    can't be hash-exact row-wise, so, mirroring the knn_recall_eval
    pattern, this row asserts the approximation BOUND in-plan instead of
    the rows. Build a deterministic 8,500-vector corpus (17
    dimension-rotations of the first 500 fixture vectors — rotations
    preserve within-copy geometry exactly), seed k=520 centroids, assign
    with the flat exact GEMM, the in-memory two-tier routed kernel AND
    the DISTRIBUTED routed tier (router sampling, map-side centroid
    grouping, salted cogroup GEMM, struct-merge global argmax), decide
    each with semantic_dedup's tail for that tier, and emit one summary
    row whose booleans encode the gated bounds:

    - in-memory keep/drop drift <= 6% (measured 4.27% on this corpus —
      shallow ~16-deep cells, same regime as the trained-centroid
      pytest gate; the contract-depth figure is 0.16%, SCALING.md §2.1)
      and spurious drops <= 1% (measured 0.24% — routing misses
      overwhelmingly KEEP extra rows rather than drop uniques);
    - distributed-tier drift <= 6% / spurious <= 1% (measured 4.34% /
      0.24% — same regime: the tiers share the router family and differ
      only in WHERE the bottom-tier argmax runs).

    The DuckDB twin emits the expected constants, so any recall
    regression past a bound flips a boolean and fails the driver's
    hash-exact gate — the approximation contract of BOTH approximate
    tiers is harness-visible, not pytest-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = transient_persist(_semantic_eval_corpus(emb))

    def kept(tier):
        v = _semdedup_vectors(corpus)
        k = SEMDEDUP_EVAL_K
        assigned = _assign_centroids(v, _seed_centroids(v, k), tier, n_cents=k)
        return _decide_for_tier(assigned, SEMDEDUP_TAU, tier, k=k)

    flat = kept("flat").select("vec_id", F.col("kept").alias("kept_flat"))
    routed = kept("routed").select("vec_id", F.col("kept").alias("kept_routed"))
    dist = kept("distributed").select("vec_id", F.col("kept").alias("kept_dist"))
    j = flat.join(routed, "vec_id").join(dist, "vec_id")
    n = F.count(F.lit(1))

    def bounds(col, prefix):
        drift = F.sum(
            F.when(F.col("kept_flat") != F.col(col), 1).otherwise(0)
        )
        spurious = F.sum(
            F.when(F.col("kept_flat") & ~F.col(col), 1).otherwise(0)
        )
        return [
            (drift * 100 <= n * 6).alias(f"{prefix}drift_le_6pct"),
            (spurious * 100 <= n * 1).alias(f"{prefix}spurious_drop_le_1pct"),
        ]

    return j.agg(
        n.cast("bigint").alias("n_vectors"),
        *bounds("kept_routed", ""),
        *bounds("kept_dist", "dist_"),
    )


@register("semantic_dedup", oracle=_SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 [Q]: SemDeDup over the embeddings corpus — scale-adaptive seed
    centroid count (max(8, ceil(n/64)), computed identically by the SQL
    twin's scalar subquery), cosine threshold 0.3; returns every vector's
    cluster, exemplar rank, and keep/drop decision (the full per-vector
    decision table, not just the drop set, so the oracle pins the
    negatives too)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb)


# ---------------------------------------------------------------------------
# Triangle counting over the near-dup graph (degree-ordered orientation)
# ---------------------------------------------------------------------------

def triangle_counts(
    edges: DataFrame,
    *,
    a_col: str = "a_id",
    b_col: str = "b_id",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge set
    — the clustering-structure probe a dedup pipeline runs on its
    near-dup graph (dense triangle neighborhoods = template/boilerplate
    families; an edge in zero triangles = likely spurious LSH pairing).

    Distributed shape: the classic DEGREE-ORDERED orientation. Each
    undirected edge is directed from its lower-(degree, id) endpoint to
    the higher; every triangle then has exactly one node with two
    out-edges, so enumerating (wedge join on the pivot) + (closure
    semi-join against the undirected edge set) counts each triangle once.
    The orientation bounds every node's out-degree by O(sqrt(|E|)) — the
    wedge join's fan-out is sum(out_deg^2) <= |E|^1.5 REGARDLESS of how
    skewed the raw degree distribution is (a web-scale near-dup graph has
    boilerplate hubs with millions of neighbors; orienting away from hubs
    is what keeps the join from exploding). All three steps are hash
    equi-joins on node keys.

    The output (node, count) is orientation-INVARIANT, so the DuckDB
    oracle counts triangles with the naive ordered-edge 3-way join —
    parity proves the orientation logic, it doesn't assume it.
    """
    # The edge set feeds FOUR consumers (degree counting twice via union,
    # the orientation join, and the closure semi-join). Edges are usually
    # an expensive subtree (here: the multi-probe LSH join) — materialize
    # the id-pair projection once or every consumer recomputes it.
    #
    # LAZY localCheckpoint, not persist (optimization round 17, guide
    # §3.3/§5 "materialising an intermediate truncates the plan"): every
    # DataFrame operation analyzes its WHOLE logical tree eagerly in the
    # JVM, so the ~20-op graph phase built over the un-truncated LSH
    # subtree re-ran the analyzer over that large tree per op (measured
    # 3.0 s of pure driver time at sf0.1), and at execution every AQE
    # stage round re-planned it again. The lazy checkpoint replaces the
    # subtree with a leaf BEFORE the graph phase is built — measured
    # same-session A/B (3 reps each): persist 10.7-11.5 s total vs
    # checkpoint 6.9-7.7 s, identical 1921 output rows. Storage level is
    # the same MEMORY_AND_DISK class as persist; the traded property is
    # lineage (an executor loss mid-query fails the job loudly instead
    # of recomputing — acceptable for an intra-query intermediate, and
    # blocks are reclaimed by the ContextCleaner once the DataFrame is
    # released, so no CacheManager entry leaks either).
    # Canonicalize defensively (least/greatest + distinct + self-loop
    # drop): the math below requires a distinct a<b undirected edge set,
    # and a caller passing symmetrized or duplicated pairs would inflate
    # degrees and multiply per-triangle counts SILENTLY (ADVICE r7 — the
    # contract used to live only in a test docstring). The distinct is
    # edge-set-sized, cheap next to the wedge join, and a no-op shuffle
    # reuse when the input is already canonical.
    # ``assume_canonical=True``: the caller guarantees a distinct a<b edge
    # set with no self-loops (e.g. the LSH threshold joins, whose output
    # is a distinct candidate set filtered to a_id < b_id), so the
    # defensive canonicalize would re-shuffle the edges for a no-op — one
    # whole exchange + aggregation pass over the edge set saved at any
    # scale (r16 optimization). Default stays the defensive form.
    if assume_canonical:
        und = edges.select(
            F.col(a_col).alias("u"), F.col(b_col).alias("v")
        ).localCheckpoint(eager=False)
    else:
        und = (
            edges.select(
                F.least(F.col(a_col), F.col(b_col)).alias("u"),
                F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("u_deg"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("v_deg"))
    keyed = und.join(du, "u").join(dv, "v")
    u_first = (F.col("u_deg") < F.col("v_deg")) | (
        (F.col("u_deg") == F.col("v_deg")) & (F.col("u") < F.col("v"))
    )
    oriented = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("v_deg")).otherwise(F.col("u_deg")).alias("dst_deg"),
    )
    e1 = oriented.select("src", F.col("dst").alias("w1"), F.col("dst_deg").alias("d1"))
    e2 = oriented.select("src", F.col("dst").alias("w2"), F.col("dst_deg").alias("d2"))
    wedges = e1.join(e2, "src").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("w1") < F.col("w2")))
    )
    closure = und.select(
        F.least("u", "v").alias("cu"), F.greatest("u", "v").alias("cv")
    )
    tri = wedges.join(
        closure,
        (F.least("w1", "w2") == F.col("cu")) & (F.greatest("w1", "w2") == F.col("cv")),
        "semi",
    )
    return (
        tri.select(
            F.explode(F.array("src", "w1", "w2")).alias("vec_id")
        )
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


@register(
    "dedup_near_triangles",
    oracle=f"""
WITH edges AS (
    SELECT a_id, b_id FROM ({mp_threshold_join_oracle_sql()}) t
),
tri AS (
    SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
    FROM edges e1
    JOIN edges e2 ON e2.a_id = e1.b_id
    JOIN edges e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
)
SELECT node AS vec_id, count(*)::BIGINT AS n_triangles
FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
GROUP BY node
""",
)
def q_dedup_near_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph structure [Q]: per-vector triangle participation in the
    multi-probe LSH similarity graph (similarity > 0.3) — degree-ordered
    distributed triangle counting whose result the naive-oracle parity
    proves orientation-correct."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    edges = embedding_threshold_join_multiprobe(
        emb, 0.3, keys=cached_embedding_band_keys(spark, sf_dir)
    )
    # The multiprobe join's output is a distinct a_id < b_id pair set by
    # construction — skip triangle_counts' defensive re-canonicalize.
    return triangle_counts(edges, assume_canonical=True)


@register(
    "documents_similar_topk",
    oracle=f"""
WITH {nd_ctes_sql(threshold=0.1)},
sym AS (
    SELECT a_id AS src, b_id AS other, jaccard FROM nd
    UNION ALL
    SELECT b_id AS src, a_id AS other, jaccard FROM nd
)
SELECT src AS doc_id, other AS similar_doc_id, jaccard,
       rank::BIGINT AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY src ORDER BY jaccard DESC, other) AS rank
    FROM sym
) WHERE rank <= 3
""",
)
def q_documents_similar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-items serving [Q]: for every document, its top-3 most
    similar neighbors (exact Jaccard >= 0.1 over the MinHash-LSH
    candidate set) — the "related items" list a dedup triage UI or a
    recommendation backfill materializes from the near-dup graph.

    Scale notes: the pair list is the LSH-bounded near_dup_pairs output
    (never all-pairs); symmetrization is a union of two projections of
    the SAME pair table (no second pipeline run — the pairs DataFrame
    feeds both branches); per-doc top-3 is a WindowGroupLimit-pruned
    rank, shuffling O(pairs), keeping O(docs x 3)."""
    # Lazy localCheckpoint, not persist: truncates the MinHash pipeline's
    # logical tree before the symmetrize-union + window are built over it
    # (two consumers x repeated whole-tree analysis per op; same mechanism
    # and A/B evidence as triangle_counts above).
    pairs = near_dup_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.1
    ).localCheckpoint(eager=False)
    sym = pairs.select(
        F.col("a_id").alias("doc_id"),
        F.col("b_id").alias("similar_doc_id"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("b_id").alias("doc_id"),
            F.col("a_id").alias("similar_doc_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("similar_doc_id").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Vector-lifecycle flagship: dedup -> index -> search as ONE plan
# ---------------------------------------------------------------------------

def _vector_pipeline_oracle() -> str:
    """Composed oracle: SemDeDup keep set -> centroid build on the KEPT
    corpus -> IVF assignment/routing/search, one CTE chain."""
    from .knn import CENTROIDS_CTE

    sem_ctes = _SEMANTIC_DEDUP_ORACLE.rsplit("SELECT r.vec_id", 1)[0].strip()
    assert sem_ctes.startswith("WITH ") and sem_ctes.endswith(")")
    cent = CENTROIDS_CTE.strip().replace("FROM embeddings", "FROM kept_emb")
    return f"""
{sem_ctes},
kept_emb AS (
    SELECT e.vec_id, e.embedding, e.label
    FROM embeddings e LEFT JOIN removed rm ON rm.vec_id = e.vec_id
    WHERE rm.vec_id IS NULL
),
{cent},
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
),
assign_scored AS (
    SELECT e.vec_id, e.embedding, c.partition_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid), 9),
                        c.partition_id) AS r
    FROM kept_emb e CROSS JOIN centroids c
),
corpus AS (
    SELECT vec_id, embedding, partition_id FROM assign_scored WHERE r = 1
),
routed AS (
    SELECT query_id, qv, partition_id FROM (
        SELECT q.query_id, q.qv, c.partition_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(1.0 - list_dot_product(q.qv, c.centroid), 9),
                            c.partition_id) AS probe_rank
        FROM q CROSS JOIN centroids c
    ) WHERE probe_rank <= 3
),
scored AS (
    SELECT r.query_id, co.partition_id, co.vec_id AS neighbor_id,
           round(1.0 - list_dot_product(r.qv, co.embedding::DOUBLE[]), 9) AS distance
    FROM routed r JOIN corpus co ON r.partition_id = co.partition_id
),
local_topn AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id, partition_id
            ORDER BY distance, neighbor_id) AS local_rank
        FROM scored
    ) WHERE local_rank <= 10
)
SELECT query_id, neighbor_id, partition_id, distance, rank FROM (
    SELECT query_id, neighbor_id, partition_id, distance,
           row_number() OVER (PARTITION BY query_id ORDER BY distance, neighbor_id) AS rank
    FROM local_topn
) WHERE rank <= 100
"""


@register("vector_ingest_pipeline", oracle=_vector_pipeline_oracle())
def q_vector_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (vector side) [Q]: the reference's whole lifecycle as ONE
    composed plan with ONE oracle — SemDeDup the raw corpus, rebuild the
    per-label centroid index over the SURVIVORS only, assign survivors to
    partitions, then serve the fixture query set through the standard
    two-tier IVF search (nprobe=3, top_n=10, limit=100). The documents
    twin is documents_clean_pipeline; together they gate that the
    engine's stages COMPOSE, not just pass in isolation.

    Scale notes: every stage keeps its own gated plan shape — SemDeDup's
    within-cluster-only pairs, the (nlist x dim)-keyed centroid mean, the
    broadcast-routed partition-pruned search — and the composition adds
    no new shuffle beyond its stages' own (the keep-filter is a broadcast
    anti join of the removed set)."""
    from .knn import assign_partitions, centroids_from, ivf_search, _fixture_queries

    emb = load_table(spark, sf_dir, "embeddings")
    decision = semantic_dedup(emb)
    removed = decision.filter(~F.col("kept")).select("vec_id")
    # kept feeds BOTH the centroid rebuild and the partition assignment —
    # materialize it or the whole SemDeDup subtree runs twice (at real
    # scale this materialization is the cleaned-corpus write between
    # stages). LAZY localCheckpoint, not persist (r17): the downstream
    # centroid/assign/search stages are ~30 DataFrame ops that each
    # re-analyzed the whole SemDeDup subtree (r16 A/B'd the EAGER
    # checkpoint — a wash, it only moved the work; the lazy form
    # truncates the analyzed tree without materializing anything early —
    # same mechanism and evidence as triangle_counts).
    kept = emb.join(removed, "vec_id", "left_anti").localCheckpoint(eager=False)
    cents = centroids_from(kept).localCheckpoint(eager=False)
    assigned = assign_partitions(kept, cents)
    return ivf_search(
        _fixture_queries(spark, sf_dir),
        assigned.select("vec_id", "embedding", "partition_id"),
        cents,
        nprobe=3,
        top_n=10,
        global_limit=100,
    )


# ---------------------------------------------------------------------------
# LSH quality evaluation as a registered query (metrics under the oracle)
# ---------------------------------------------------------------------------

#: Eval-slice bound and threshold for the minhash evaluation gate.
MINHASH_EVAL_MAX_ID = 250
MINHASH_EVAL_TAU = 0.5


def _minhash_eval_oracle() -> str:
    slice_pred = f"doc_id < {MINHASH_EVAL_MAX_ID}"
    nd = nd_ctes_sql(threshold=MINHASH_EVAL_TAU).replace(
        "doc_corpus AS (SELECT doc_id, text FROM documents)",
        f"doc_corpus AS (SELECT doc_id, text FROM documents WHERE {slice_pred})",
        1,
    )
    return f"""
WITH {nd},
exact_pairs AS (
    SELECT i.a_id, i.b_id
    FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) i
    JOIN sizes za ON za.doc_id = i.a_id
    JOIN sizes zb ON zb.doc_id = i.b_id
    WHERE round(i.i * 1.0 / (za.sz + zb.sz - i.i), 9) >= {MINHASH_EVAL_TAU}
),
lsh_pairs AS (SELECT a_id, b_id FROM nd),
m AS (
    SELECT
        (SELECT count(*) FROM exact_pairs e
         WHERE EXISTS (SELECT 1 FROM lsh_pairs l
                       WHERE l.a_id = e.a_id AND l.b_id = e.b_id))::BIGINT AS tp,
        (SELECT count(*) FROM exact_pairs e
         WHERE NOT EXISTS (SELECT 1 FROM lsh_pairs l
                           WHERE l.a_id = e.a_id AND l.b_id = e.b_id))::BIGINT AS fn,
        (SELECT count(*) FROM lsh_pairs l
         WHERE NOT EXISTS (SELECT 1 FROM exact_pairs e
                           WHERE e.a_id = l.a_id AND e.b_id = l.b_id))::BIGINT AS fp
)
SELECT tp, fn, fp,
       round(tp * 1.0 / (tp + fn), 6) AS recall,
       round(tp * 1.0 / (tp + fp), 6) AS precision
FROM m
"""


@register("dedup_minhash_eval", oracle=_minhash_eval_oracle())
def q_dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-as-operator [Q]: MinHash-LSH pair quality measured
    against the uncapped exact-Jaccard reference on a bounded eval slice
    (doc_id < 250, threshold 0.5) — tp/fn/fp plus rounded recall and
    precision as ONE oracle-gated row. The pytest recall gates
    (tests/test_recall_gates.py) assert thresholds; this query puts the
    measurement itself under cross-engine parity, the way a production
    pipeline reports its dedup quality on a sampled slice each run.

    Precision is structurally 1.0 (LSH candidates are verified with the
    same exact Jaccard before thresholding) — the gate pins that too:
    fp > 0 would mean the verify stage broke."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MINHASH_EVAL_MAX_ID
    )
    return minhash_confusion(docs)


def minhash_confusion(docs: DataFrame) -> DataFrame:
    """tp/fn/fp + recall/precision of MinHash LSH vs the uncapped exact
    Jaccard reference over ``docs`` — one full-outer join, one
    conditional aggregate, exactly one output row even when the slice
    has ZERO pairs on either side (counts 0, ratios NULL)."""
    exact = jaccard_pairs(docs, MINHASH_EVAL_TAU, max_shingle_df=None).select(
        "a_id", "b_id", F.lit(1).alias("_e")
    )
    lsh = near_dup_pairs(docs, MINHASH_EVAL_TAU).select(
        "a_id", "b_id", F.lit(1).alias("_l")
    )
    # One full-outer join + one conditional aggregate: the whole confusion
    # matrix in a single distributed pass, no driver-side counting.
    # coalesce(sum, 0): an eval slice with ZERO pairs on both sides (seen
    # at sf0.1) makes the join empty, where sum() yields NULL but the
    # oracle's scalar count(*) subqueries yield 0 — counts must stay 0
    # and only recall/precision go NULL (0/0).
    j = exact.join(lsh, ["a_id", "b_id"], "full_outer")
    return j.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("_e").isNotNull() & F.col("_l").isNotNull(), 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint").alias("tp"),
        F.coalesce(
            F.sum(
                F.when(F.col("_e").isNotNull() & F.col("_l").isNull(), 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint").alias("fn"),
        F.coalesce(
            F.sum(
                F.when(F.col("_e").isNull() & F.col("_l").isNotNull(), 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint").alias("fp"),
    ).select(
        "tp",
        "fn",
        "fp",
        # try_divide: a zero-pair slice gives 0/0, which must be NULL like
        # the oracle's x/0 (ANSI mode would throw DIVIDE_BY_ZERO).
        F.round(F.try_divide(F.col("tp"), F.col("tp") + F.col("fn")), 6).alias(
            "recall"
        ),
        F.round(F.try_divide(F.col("tp"), F.col("tp") + F.col("fp")), 6).alias(
            "precision"
        ),
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
WITH RECURSIVE {_ND_CTES},
edges AS (
    SELECT a_id AS src, b_id AS dst FROM nd
    UNION
    SELECT b_id AS src, a_id AS dst FROM nd
),
reach AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
    SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster_id
    FROM reach GROUP BY src
),
csizes AS (
    SELECT cluster_id, count(*)::BIGINT AS cluster_size
    FROM clusters GROUP BY cluster_id
)
SELECT cluster_size, count(*)::BIGINT AS n_clusters,
       (cluster_size * count(*))::BIGINT AS docs_covered
FROM csizes GROUP BY cluster_size
""",
)
def q_dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup reporting [Q]: the cluster-size histogram — how many
    duplicate groups exist at each size and how many documents they
    cover, the one-line summary a dedup run reports (pair counts
    undercount; the histogram is what tells you whether duplication is a
    few huge template families or many near-pairs, which changes the
    survivorship savings estimate). A counts-of-counts rollup on the
    gated connected-components output."""
    from .knn import _cached

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _cached(
        spark, sf_dir, "near_dup_pairs_08", lambda: near_dup_pairs(docs, 0.8)
    )
    clusters = near_dup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("bigint").alias(
            "docs_covered"
        ),
    )
