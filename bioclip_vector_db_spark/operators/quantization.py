"""O21: scalar quantization of embedding vectors.

The reference stores vectors as fp16 inside FAISS (``SQfp16`` in the index
factory string, reference: src/bioclip_vector_db/storage/storage_impl.py:87)
to halve index memory. Spark SQL has no fp16, so the engine offers int8
scalar quantization instead (4x smaller than fp32, vs the reference's 2x):

- ``quantize_i8``: clamp to [-1, 1] (valid for L2-normalized embeddings,
  the corpus invariant — vector_db.py:112-114) and scale to [-127, 127]
  bytes, as a pure Catalyst ``transform``;
- ``dequantize_i8``: the inverse, for rescoring;
- the serving pattern that makes lossy storage safe: COARSE search on the
  quantized vectors (integer dot products over 1/4 the bytes), then EXACT
  rescore of the small candidate set with the fp32 vectors — the standard
  SQ/ADC + refine layout, here two Catalyst stages where the second only
  touches ``refine_k`` rows per query.

At 100 TB the quantized corpus is the hot scan (25% of the bytes => 4x the
scan throughput); the fp32 rescore reads only the candidate rows back via
an id join against the (co-partitioned) full-precision table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import cosine_distance, dot_product, lit_array
from ..plans.registry import register
from ..sources.catalog import load_table

I8_SCALE = 127


def quantize_i8(vec: Column) -> Column:
    """ARRAY<numeric> in [-1,1] -> ARRAY<TINYINT> in [-127,127]."""
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.round(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x)) * I8_SCALE).cast(
            "tinyint"
        ),
    )


def dequantize_i8(qvec: Column) -> Column:
    """ARRAY<TINYINT> -> ARRAY<DOUBLE>, the lossy inverse."""
    return F.transform(qvec, lambda x: x.cast("double") / I8_SCALE)


def quantized_distance(qa: Column, qb: Column) -> Column:
    """1 - (integer dot / scale^2): the coarse distance over quantized
    vectors. Integer multiply-accumulate — products are cast to INT up
    front (byte*byte would overflow)."""
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.round(F.lit(1.0) - dot.cast("double") / (I8_SCALE * I8_SCALE), 9)


def knn_quantized_rescore(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    coarse_k: int = 20,
    k: int = 5,
) -> DataFrame:
    """Coarse int8 top-``coarse_k`` per query, exact fp32 rescore to
    top-``k``. ``queries``: (query_id, qv); ``corpus``: (vec_id, embedding).
    """
    q = F.broadcast(
        queries.select("query_id", "qv", quantize_i8(F.col("qv")).alias("q_qv"))
    )
    c = corpus.select("vec_id", "embedding", quantize_i8(F.col("embedding")).alias("q_emb"))
    coarse = c.join(q).select(
        "query_id",
        "qv",
        "vec_id",
        "embedding",
        quantized_distance(F.col("q_qv"), F.col("q_emb")).alias("coarse_distance"),
    )
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.col("coarse_distance").asc(), F.col("vec_id").asc()
    )
    cands = coarse.withColumn("coarse_rank", F.row_number().over(w_coarse)).filter(
        F.col("coarse_rank") <= coarse_k
    )
    rescored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_distance(F.col("qv"), F.col("embedding")).alias("distance"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
    return rescored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


_QUANT_SQL = (
    f"list_transform(embedding::DOUBLE[], "
    f"x -> round(greatest(-1.0, least(1.0, x)) * {I8_SCALE})::INT)"
)

_RESCORE_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, {_QUANT_SQL} AS q_qv
    FROM embeddings WHERE vec_id < 5
),
c AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb, {_QUANT_SQL} AS q_emb
    FROM embeddings WHERE vec_id >= 5
),
coarse AS (
    SELECT q.query_id, q.qv, c.vec_id, c.emb,
           round(1.0 - list_dot_product(q.q_qv, c.q_emb) / {I8_SCALE * I8_SCALE}.0, 9)
               AS coarse_distance
    FROM q CROSS JOIN c
),
cands AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY coarse_distance, vec_id) AS coarse_rank
        FROM coarse
    ) WHERE coarse_rank <= 20
),
rescored AS (
    SELECT query_id, vec_id AS neighbor_id,
           round(1.0 - list_dot_product(qv, emb), 9) AS distance
    FROM cands
)
SELECT query_id, neighbor_id, distance, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id) AS rank
    FROM rescored
) WHERE rank <= 5
"""


@register("knn_quantized_rescore", oracle=_RESCORE_ORACLE)
def q_knn_quantized_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21 [Q]: int8 coarse search + exact fp32 rescore — the scalar-
    quantization serving pattern (the engine's answer to the reference's
    SQfp16 storage), 5 fixture queries vs the rest of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    return knn_quantized_rescore(queries, corpus, coarse_k=20, k=5)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

#: 64-dim fixture embeddings -> 4 subspaces x 16 dims; one codebook entry
#: per label (10 codes) keeps the codebooks deterministic and
#: SQL-derivable, standing in for per-subspace k-means exactly as
#: fixture_centroids stands in for the trained coarse quantizer.
PQ_M = 4
PQ_SUB_DIM = 16


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 via dot products — ``(aa - 2ab) + bb`` with this exact
    association in BOTH engines, so the float result is bit-identical."""
    return (dot_product(a, a) - 2 * dot_product(a, b)) + dot_product(b, b)


def pq_codebooks(vectors: DataFrame) -> DataFrame:
    """``(code, mean_vec)`` — per-label mean embedding (unnormalized; PQ
    codebooks live in raw subvector space). Slicing per subspace happens at
    encode/ADC time so one table serves all subspaces."""
    pos = vectors.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    means = pos.groupBy("label", "pos").agg(F.avg("val").alias("v"))
    return (
        means.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(
            F.col("label").cast("int").alias("code"),
            F.expr("transform(pv, x -> x.v)").alias("mean_vec"),
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    *,
    m: int = PQ_M,
    sub_dim: int = PQ_SUB_DIM,
) -> DataFrame:
    """Add ``pq_code_0..m-1`` columns: per subspace, the argmin-L2 code.

    Same shape as assign_partitions' collapsed-argmin: the codebook table
    (codes x dim doubles — KBs) collapses to ONE broadcast row and each
    subspace's argmin is an ``array_min`` over a scored struct array —
    map-side, zero row expansion, no shuffle. A PQ codebook holds at most
    a few hundred codes (FAISS's PQ{m}x8 has 256), where this fold is the
    right kernel; knn_numpy.pq_encode_numpy is the blocked-GEMM encoder
    for larger books, called directly (the two assign identical codes —
    round-9 argmin, ties to the smallest code).
    """
    cb = F.broadcast(
        codebooks.agg(
            F.array_sort(F.collect_list(F.struct("code", "mean_vec"))).alias("cb")
        )
    )

    # Factory closures, NOT default-arg lambdas: PySpark infers the HOF
    # lambda's arity from its parameter count, so extra defaulted params
    # read as element/index slots.
    def scored_for(s: int):
        lo = s * sub_dim + 1
        sub_v = F.slice(F.col("embedding").cast("array<double>"), lo, sub_dim)

        def score(c):
            return F.struct(
                F.round(_l2sq(sub_v, F.slice(c["mean_vec"], lo, sub_dim)), 9).alias(
                    "d"
                ),
                c["code"].alias("code"),
            )

        return F.transform(F.col("cb"), score)

    out = corpus.crossJoin(cb)
    for s in range(m):
        out = out.withColumn(f"pq_code_{s}", F.array_min(scored_for(s))["code"])
    return out.drop("cb")


def pq_adc_search(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    *,
    k: int = 10,
    m: int = PQ_M,
    sub_dim: int = PQ_SUB_DIM,
) -> DataFrame:
    """Top-``k`` per query by asymmetric distance: the query stays fp32,
    corpus rows are just their ``m`` codes, and the distance is the sum of
    per-subspace L2² between the query slice and the coded centroid —
    reconstructed via an ``element_at(filter(codebook))`` lookup on the
    same broadcast row the encoder used. Storage per corpus row is m bytes
    instead of dim floats (64x here); the scan never touches raw vectors.
    """
    rows = encoded.crossJoin(F.broadcast(queries.select("query_id")))
    scored = adc_score(rows, adc_lut(queries, codebooks, m=m, sub_dim=sub_dim), m=m).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "adc_distance",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_distance").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def adc_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    *,
    m: int = PQ_M,
    sub_dim: int = PQ_SUB_DIM,
) -> DataFrame:
    """The ADC lookup table — the textbook PQ trick: per (query, subspace,
    code) the squared-L2 between the query slice and that code's centroid
    slice. queries x m x n_codes rows (tiny by construction), computed
    ONCE; the candidate scan then never touches vectors at all."""
    cb = F.broadcast(
        codebooks.agg(
            F.array_sort(F.collect_list(F.struct("code", "mean_vec"))).alias("cb")
        )
    )

    def entries_for(s: int):
        lo = s * sub_dim + 1
        sub_q = F.slice(F.col("qv").cast("array<double>"), lo, sub_dim)

        def entry(c):
            return F.struct(
                F.lit(s).alias("s"),
                c["code"].alias("code"),
                _l2sq(sub_q, F.slice(c["mean_vec"], lo, sub_dim)).alias("d"),
            )

        return F.transform(F.col("cb"), entry)

    all_entries = F.flatten(F.array(*[entries_for(s) for s in range(m)]))
    return (
        queries.crossJoin(cb)
        .select("query_id", F.explode(all_entries).alias("e"))
        .select("query_id", F.col("e.s").alias("s"), F.col("e.code").alias("code"), F.col("e.d").alias("d"))
    )


#: Above this many subspaces the wide ADC form (one broadcast join per
#: subspace) hits Catalyst's superlinear analysis wall — a 64-join chain
#: takes MINUTES to plan (measured; DuckDB's 64-way join twin dies the
#: same way), while m=16 plans in seconds. Past it, adc_score switches
#: to the gather kernel: the LUT (queries x m x codes — tiny by
#: construction) collects to a broadcast ndarray and each Arrow batch
#: gathers + left-folds its m terms vectorized — zero joins at ANY m,
#: the layout FAISS's standard PQ64x8 actually uses at 512-dim.
ADC_WIDE_MAX_M = 16


def adc_score(rows: DataFrame, lut: DataFrame, *, m: int = PQ_M) -> DataFrame:
    """Attach ``adc_distance`` to rows carrying ``query_id`` +
    ``pq_code_0..m-1``: m broadcast hash joins against the LUT (codegen'd
    lookups, no per-row vector math), summed in fixed subspace order
    (LEFT-associated, mirrored exactly by the oracle generator — float
    addition is not associative) and rounded to 9 — float-identical to
    scoring against the codebook directly, so flat-PQ and IVF-PQ share
    one metric.

    ``m`` picks the kernel: the wide join form up to ADC_WIDE_MAX_M
    (codegen'd, zero Python), the gather kernel above it (see
    _adc_score_gather — same collected-LUT doubles, same left fold, so the
    two kernels agree bit-for-bit on the terms; pinned by
    tests/test_quantization.py)."""
    if m > ADC_WIDE_MAX_M:
        return _adc_score_gather(rows, lut, m)
    for s in range(m):
        lut_s = lut.filter(F.col("s") == s).select(
            "query_id",
            F.col("code").alias(f"pq_code_{s}"),
            F.col("d").alias(f"_d{s}"),
        )
        rows = rows.join(F.broadcast(lut_s), ["query_id", f"pq_code_{s}"])
    total = F.col("_d0")
    for s in range(1, m):
        total = total + F.col(f"_d{s}")
    adc = F.round(total, 9)
    return rows.withColumn("adc_distance", adc).drop(*[f"_d{s}" for s in range(m)])


def _adc_score_gather(rows: DataFrame, lut: DataFrame, m: int) -> DataFrame:
    """Large-m ADC scoring: collect the LUT (queries x m x codes doubles —
    the textbook-tiny table adc_lut builds), broadcast it as one ndarray,
    and per Arrow batch gather each row's m terms and LEFT-fold them in
    subspace order — the identical association (and the identical
    JVM-computed term doubles, since the LUT is collected, not
    recomputed) as the wide join form, so the kernels agree on every
    distance. Map-side only: no joins, no shuffle, plan size constant in
    m."""
    import numpy as np

    lrows = lut.collect()
    qids = sorted({r["query_id"] for r in lrows})
    codes = sorted({r["code"] for r in lrows})
    qpos = {q: i for i, q in enumerate(qids)}
    cpos = {c: i for i, c in enumerate(codes)}
    L = np.full((len(qids), m, len(codes)), np.nan)
    # Filled-cell mask kept ALONGSIDE the values: a NaN in L is ambiguous
    # between "np.full filler (no LUT row for this cell)" and "a stored
    # NaN distance (e.g. a NaN query embedding)" — the two need opposite
    # diagnoses (codebook mismatch vs bad input), so the error branch
    # below consults the mask instead of guessing (r11 ADVICE).
    Lfilled = np.zeros((len(qids), m, len(codes)), dtype=bool)
    for r in lrows:
        L[qpos[r["query_id"]], r["s"], cpos[r["code"]]] = r["d"]
        Lfilled[qpos[r["query_id"]], r["s"], cpos[r["code"]]] = True
    bc = rows.sparkSession.sparkContext.broadcast(
        (qpos, np.array(codes), L, Lfilled)
    )
    out_schema = T.StructType(
        list(rows.schema.fields) + [T.StructField("adc_distance", T.DoubleType())]
    )

    def gather(batches):
        import numpy as np

        bqpos, bcodes, bL, bLfilled = bc.value

        def code_index(arr, s):
            # searchsorted on an unknown code silently lands on a wrong
            # LUT slot (or one past the end) — verify the hit is exact
            # and fail loudly naming the offender instead of scoring
            # with a neighbor's distances.
            ci = np.searchsorted(bcodes, arr)
            hit = np.minimum(ci, len(bcodes) - 1)
            bad = (ci >= len(bcodes)) | (bcodes[hit] != arr)
            if bad.any():
                raise ValueError(
                    f"pq_code_{s} value(s) {sorted(set(arr[bad].tolist()))[:5]} "
                    "not present in the ADC LUT (codebook/encoding mismatch)"
                )
            return ci

        for pdf in batches:
            if not len(pdf):
                continue
            mapped = pdf["query_id"].map(bqpos)
            if mapped.isna().any():
                missing = sorted(set(pdf["query_id"][mapped.isna()].tolist()))[:5]
                raise ValueError(
                    f"query_id value(s) {missing} have no rows in the ADC LUT "
                    "(rows and lut were built from different query sets)"
                )
            qi = mapped.to_numpy(dtype=np.int64)
            total = bL[qi, 0, code_index(pdf["pq_code_0"].to_numpy(), 0)]
            for s in range(1, m):
                ci = code_index(pdf[f"pq_code_{s}"].to_numpy(), s)
                total = total + bL[qi, s, ci]
            if np.isnan(total).any():
                # code_index proved the code exists SOMEWHERE in the LUT,
                # but the (query_id, s, code) CELL can still be the
                # np.full NaN filler when that code never appeared for
                # that particular query/subspace slot — a silent NaN
                # adc_distance instead of the loud error these guards
                # exist for (r10 ADVICE). Name the first offending
                # (query_id, s, code) triples per cause. The filled-cell mask
                # distinguishes an UNFILLED cell (codebook/encoding
                # mismatch) from a cell that holds a genuinely STORED
                # NaN distance (a NaN query embedding poisons every dot
                # product) — the two get different diagnoses (r11
                # ADVICE).
                # EVERY NaN row is classified; only the reported examples
                # are capped at 5 PER CATEGORY — capping the scan itself
                # (the old [:5] window) hid a co-occurring cause whose
                # first offender sat past row five behind the dominant
                # one: the serialized-diagnosis pattern the r12 rule
                # forbids, merely moved to the window boundary (r13
                # ADVICE). This is the error path (we raise below), so
                # the full scan costs nothing in the hot path.
                missing, stored_nan, cancelled = [], [], []
                for i in np.nonzero(np.isnan(total))[0]:
                    if (
                        len(missing) >= 5
                        and len(stored_nan) >= 5
                        and len(cancelled) >= 5
                    ):
                        # All three report windows are full — the rest of
                        # the scan can add nothing to the message, and on
                        # a large fully-poisoned batch the remaining rows
                        # cost an O(rows*m) Python loop for no diagnostic
                        # gain (r14 ADVICE). Every CATEGORY is still
                        # guaranteed its first offenders: a category's
                        # window can only be full because it already has
                        # 5 examples.
                        break
                    found_nan_cell = False
                    for s in range(m):
                        ci = np.searchsorted(
                            bcodes, pdf[f"pq_code_{s}"].to_numpy()[i : i + 1]
                        )[0]
                        if np.isnan(bL[qi[i], s, ci]):
                            triple = (
                                pdf["query_id"].iloc[i],
                                s,
                                int(pdf[f"pq_code_{s}"].iloc[i]),
                            )
                            if bLfilled[qi[i], s, ci]:
                                if len(stored_nan) < 5:
                                    stored_nan.append(triple)
                            elif len(missing) < 5:
                                missing.append(triple)
                            found_nan_cell = True
                            break
                    if not found_nan_cell and len(cancelled) < 5:
                        cancelled.append(pdf["query_id"].iloc[i])
                # The two diagnoses can co-occur (a NaN query AND a
                # codebook mismatch in the same offender window); raising
                # on one would hide the other until it was fixed (r12
                # ADVICE) — report every list that is non-empty in ONE
                # error.
                parts = []
                if stored_nan:
                    parts.append(
                        "ADC LUT holds a stored NaN distance for "
                        f"(query_id, subspace, code) triple(s) {stored_nan} "
                        "— a NaN query embedding or codebook vector "
                        "poisoned the LUT build (the cells exist; their "
                        "values are NaN)"
                    )
                if missing:
                    parts.append(
                        "ADC LUT has no entry for (query_id, subspace, "
                        f"code) triple(s) {missing} — the LUT and the "
                        "encoded rows were built from different codebooks"
                    )
                if cancelled:
                    # A NaN SUM with no NaN cell for that row:
                    # opposite-sign infinite LUT cells (an inf component
                    # in a query embedding or codebook vector) cancel to
                    # NaN in the fold. Reported per-ROW alongside the
                    # other two, not only when they are absent — a mixed
                    # offender window must surface every co-occurring
                    # cause in the one error (r13 review), and without
                    # this branch a cancellation-only batch raised an
                    # empty, diagnosis-free ValueError("").
                    offenders = sorted(set(cancelled))
                    parts.append(
                        "ADC per-row distance sum is NaN for query_id(s) "
                        f"{offenders} although no single LUT cell is NaN — "
                        "opposite-sign non-finite cells (inf + -inf) cancel "
                        "in the subspace fold; check the query embeddings "
                        "and codebook for inf components"
                    )
                raise ValueError("; AND ".join(parts))
            out = pdf.copy()
            out["adc_distance"] = total
            yield out

    # Final round-to-9 happens JVM-side with the SAME F.round the wide
    # kernel uses (BigDecimal HALF_UP on the decimal rendering) — np
    # .round is scale-multiply half-even and can disagree in the 9th
    # decimal on totals whose rendering ends in 5 at the 10th, which
    # would flip ranks across the ADC_WIDE_MAX_M auto boundary. The
    # kernel therefore emits the RAW left-fold total (bit-identical to
    # the wide form's pre-round sum) and the projection rounds it.
    return rows.mapInPandas(gather, out_schema).withColumn(
        "adc_distance", F.round(F.col("adc_distance"), 9)
    )


_PQ_MEANV_SQL = """
meanv AS (
    SELECT label::INT AS code, list(v ORDER BY pos) AS mean_vec
    FROM (
        SELECT label, pos, avg(val::DOUBLE) AS v
        FROM (
            SELECT label,
                   unnest(generate_series(1, len(embedding))) AS pos,
                   unnest(embedding) AS val
            FROM embeddings
        ) GROUP BY label, pos
    ) GROUP BY label
)
"""


def _pq_l2sq_sql(a: str, b: str) -> str:
    return (
        f"((list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b}))"
        f" + list_dot_product({b}, {b}))"
    )


def _pq_term_sql(s: int, sub_dim: int = PQ_SUB_DIM) -> str:
    lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
    return _pq_l2sq_sql(f"q.qv[{lo}:{hi}]", f"m{s}.mean_vec[{lo}:{hi}]")


def pq_adc_oracle_sql(
    m: int = PQ_M, sub_dim: int = PQ_SUB_DIM, k: int = 10
) -> str:
    """SQL twin of (pq_encode -> pq_adc_search) for any subspace layout —
    the generator the param-fuzz gate sweeps over divisor pairs of the
    embedding dim; the registered query pins the default 4x16. The ADC
    term sum is LEFT-associated to mirror adc_score exactly (float
    addition is not associative)."""
    enc_cols = ",\n           ".join(
        f"max(CASE WHEN s = {s} THEN code END) AS c{s}" for s in range(m)
    )
    joins = "\n    ".join(
        f"JOIN meanv m{s} ON m{s}.code = e.c{s}" for s in range(m)
    )
    total = _pq_term_sql(0, sub_dim)
    for s in range(1, m):
        total = f"({total}\n                 + {_pq_term_sql(s, sub_dim)})"
    sub = f"s.s*{sub_dim}+1 : s.s*{sub_dim}+{sub_dim}"
    return f"""
WITH {_PQ_MEANV_SQL.strip()},
corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5
),
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
),
enc_scored AS (
    SELECT c.vec_id, s.s, m.code,
           row_number() OVER (
               PARTITION BY c.vec_id, s.s
               ORDER BY round({_pq_l2sq_sql(f"c.v[{sub}]", f"m.mean_vec[{sub}]")}, 9), m.code) AS r
    FROM corpus c
    CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS s) s
    CROSS JOIN meanv m
),
enc AS (
    SELECT vec_id,
           {enc_cols}
    FROM enc_scored WHERE r = 1 GROUP BY vec_id
),
adc AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({total}, 9) AS adc_distance
    FROM q CROSS JOIN enc e
    {joins}
)
SELECT query_id, neighbor_id, adc_distance, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_distance, neighbor_id) AS rank
    FROM adc
) WHERE rank <= {k}
"""


@register("knn_pq_adc", oracle=pq_adc_oracle_sql())
def q_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21 extension [Q]: product quantization — 4x16-dim subspaces, 10
    codes each (per-label subvector means as the deterministic codebook) —
    with asymmetric-distance top-10 search. The FAISS-family quantizer the
    reference's SQfp16 string does NOT include; at 100 TB the coded corpus
    is m bytes/row (64x smaller than fp32), the scan's working set."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _cached_codebooks(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    encoded = _cached_encoded_corpus(spark, sf_dir).filter(F.col("vec_id") >= 5).select(
        "vec_id", *[f"pq_code_{s}" for s in range(PQ_M)]
    )
    return pq_adc_search(queries, encoded, cb, k=10)


def _cached_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ codebook — a built artifact (like the trained centroids):
    derived once per (session, sf_dir), not per search."""
    from .knn import _cached

    return _cached(
        spark,
        sf_dir,
        "pq_codebooks",
        lambda: pq_codebooks(load_table(spark, sf_dir, "embeddings")),
    )


def _cached_encoded_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ-coded corpus WITH partition assignment — the other half of
    the built IVFPQ index (on a deployment this is a table build_index
    writes; serving scans codes, it never re-encodes). Cached per
    (session, sf_dir) like assigned_corpus."""
    from .knn import _cached, assigned_corpus

    return _cached(
        spark,
        sf_dir,
        "pq_encoded_corpus",
        lambda: pq_encode(assigned_corpus(spark, sf_dir), _cached_codebooks(spark, sf_dir)).select(
            "vec_id",
            "partition_id",
            *[f"pq_code_{s}" for s in range(PQ_M)],
        ),
    )


def _ivf_pq_oracle() -> str:
    from .knn import CENTROIDS_CTE

    return f"""
WITH {CENTROIDS_CTE.strip()},
{_PQ_MEANV_SQL.strip()},
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
    FROM embeddings e CROSS JOIN centroids c
),
corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS v, partition_id
    FROM assign_scored WHERE r = 1
),
enc_scored AS (
    SELECT c.vec_id, c.partition_id, s.s, m.code,
           row_number() OVER (
               PARTITION BY c.vec_id, s.s
               ORDER BY round({_pq_l2sq_sql(
                   "c.v[s.s*16+1 : s.s*16+16]", "m.mean_vec[s.s*16+1 : s.s*16+16]"
               )}, 9), m.code) AS r
    FROM corpus c
    CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s) s
    CROSS JOIN meanv m
),
enc AS (
    SELECT vec_id, any_value(partition_id) AS partition_id,
           max(CASE WHEN s = 0 THEN code END) AS c0,
           max(CASE WHEN s = 1 THEN code END) AS c1,
           max(CASE WHEN s = 2 THEN code END) AS c2,
           max(CASE WHEN s = 3 THEN code END) AS c3
    FROM enc_scored WHERE r = 1 GROUP BY vec_id
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
adc AS (
    SELECT r.query_id, e.vec_id AS neighbor_id, e.partition_id,
           round((({_pq_term_sql(0).replace("q.qv", "r.qv")}
                 + {_pq_term_sql(1).replace("q.qv", "r.qv")})
                 + {_pq_term_sql(2).replace("q.qv", "r.qv")})
                 + {_pq_term_sql(3).replace("q.qv", "r.qv")}, 9) AS adc_distance
    FROM routed r
    JOIN enc e ON e.partition_id = r.partition_id
    JOIN meanv m0 ON m0.code = e.c0
    JOIN meanv m1 ON m1.code = e.c1
    JOIN meanv m2 ON m2.code = e.c2
    JOIN meanv m3 ON m3.code = e.c3
)
SELECT query_id, neighbor_id, partition_id, adc_distance, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_distance, neighbor_id) AS rank
    FROM adc
) WHERE rank <= 10
"""


@register("ivf_pq_search", oracle=_ivf_pq_oracle())
def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ [Q]: the full FAISS-IVFPQ layout — coarse routing to
    nprobe=3 partitions (O22/O23), then ADC over the PQ codes of ONLY the
    probed partitions' rows. Per-query work is nprobe/nlist of the corpus
    at m bytes per row: the scan cost 100-TB serving actually pays. Shares
    route_queries with ivf_search and adc_distance_expr with knn_pq_adc,
    so neither routing nor the metric can drift between layouts."""
    from .knn import fixture_centroids, route_queries

    emb = load_table(spark, sf_dir, "embeddings")
    cent = fixture_centroids(spark, sf_dir)
    cb_tbl = _cached_codebooks(spark, sf_dir)
    encoded = _cached_encoded_corpus(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    routed = route_queries(queries, cent, nprobe=3)
    cands = encoded.join(
        F.broadcast(routed.select("query_id", "partition_id")), "partition_id"
    )
    scored = adc_score(cands, adc_lut(queries, cb_tbl)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "partition_id",
        "adc_distance",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_distance").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= 10
    )


# ---------------------------------------------------------------------------
# Random-projection (JL) coarse search + exact rescore
# ---------------------------------------------------------------------------

#: Projected dimensionality for the Johnson-Lindenstrauss coarse stage.
RP_DIMS = 16
#: Plane-id offset keeping the projection planes disjoint from every LSH
#: family's (dedup simhash 0..15, multiprobe 0..95, rebalance 1001).
_RP_PLANE_BASE = 3000


def _rp_planes() -> "list[list[int]]":
    from .dedup import _plane_signs

    return [_plane_signs(_RP_PLANE_BASE + d) for d in range(RP_DIMS)]


def rp_project(vec: Column) -> Column:
    """Project a 64-d vector to RP_DIMS via a fixed +-1 sign matrix (the
    md5-derived deterministic stand-in for a Gaussian JL matrix — sign
    matrices carry the same distance-preservation guarantee). Unscaled on
    purpose: the coarse stage only RANKS projected inner products, and a
    constant 1/sqrt(RP_DIMS) factor cannot change a ranking."""
    # F.lit(list) instead of F.array(*[F.lit(s) ...]): one py4j round trip
    # per plane instead of 64 — constant-folding makes the optimized plan
    # identical, but the old form cost ~1.4s of pure driver-side Column
    # construction per rp_project call (measured; knn_rp_rescore builds two).
    return F.array(
        *[
            F.round(dot_product(vec, lit_array(float(s) for s in plane)), 9)
            for plane in _rp_planes()
        ]
    )


def knn_rp_rescore(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    coarse_k: int = 20,
    k: int = 5,
) -> DataFrame:
    """Random-projection coarse top-``coarse_k`` (inner products in
    RP_DIMS instead of 64 — a 4x cheaper scan that needs no training,
    unlike PQ), exact full-dimension rescore to top-``k``. The third
    point on the engine's compression curve: SQ (cheap transform, full
    dim), RP (projection, no training), PQ (trained codebooks, ADC)."""
    q = F.broadcast(
        queries.select("query_id", "qv", rp_project(F.col("qv")).alias("q_rp"))
    )
    c = corpus.select("vec_id", "embedding", rp_project(F.col("embedding")).alias("c_rp"))
    coarse = c.join(q).select(
        "query_id",
        "qv",
        "vec_id",
        "embedding",
        F.round(F.lit(1.0) - dot_product(F.col("q_rp"), F.col("c_rp")), 9).alias(
            "coarse_distance"
        ),
    )
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.col("coarse_distance").asc(), F.col("vec_id").asc()
    )
    cands = coarse.withColumn("coarse_rank", F.row_number().over(w_coarse)).filter(
        F.col("coarse_rank") <= coarse_k
    )
    rescored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_distance(F.col("qv"), F.col("embedding")).alias("distance"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("neighbor_id").asc()
    )
    return rescored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def _rp_sql() -> str:
    planes = _rp_planes()
    lits = ", ".join(
        "round(list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(f"{s:.1f}" for s in plane)
        + "]), 9)"
        for plane in planes
    )
    return f"[{lits}]"


_RP_ORACLE = f"""
WITH proj AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec, {_rp_sql()} AS rp
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, vec AS qv, rp AS q_rp FROM proj WHERE vec_id < 5),
c AS (SELECT vec_id, vec, rp FROM proj WHERE vec_id >= 5),
coarse AS (
    SELECT q.query_id, c.vec_id, q.qv, c.vec,
           round(1.0 - list_dot_product(q.q_rp, c.rp), 9) AS coarse_distance
    FROM q CROSS JOIN c
),
cands AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY coarse_distance, vec_id) AS coarse_rank
        FROM coarse
    ) WHERE coarse_rank <= 20
),
rescored AS (
    SELECT query_id, vec_id AS neighbor_id,
           round(1.0 - list_dot_product(qv, vec), 9) AS distance
    FROM cands
)
SELECT query_id, neighbor_id, distance, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id) AS rank
    FROM rescored
) WHERE rank <= 5
"""


@register("knn_rp_rescore", oracle=_RP_ORACLE)
def q_knn_rp_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21-extension [Q]: Johnson-Lindenstrauss random-projection coarse
    search (16-d sign projections, training-free) + exact rescore — 5
    fixture queries vs the rest of the corpus, same shape as the int8
    and PQ rescore gates."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    return knn_rp_rescore(queries, corpus)


#: Fixed-point scale for per-vector distortion terms (quantize-before-sum).
PQ_DISTORTION_SCALE = 10**9


@register(
    "pq_distortion",
    oracle=f"""
WITH {_PQ_MEANV_SQL.strip()},
corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
best AS (
    SELECT vec_id, s, min(d) AS d FROM (
        SELECT c.vec_id, s.s,
               round({_pq_l2sq_sql(
                   "c.v[s.s*16+1 : s.s*16+16]", "m.mean_vec[s.s*16+1 : s.s*16+16]"
               )}, 9) AS d
        FROM corpus c
        CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s) s
        CROSS JOIN meanv m
    ) GROUP BY vec_id, s
)
SELECT s::BIGINT AS subspace,
       count(*)::BIGINT AS n_vectors,
       round(sum(floor(d * {PQ_DISTORTION_SCALE})::BIGINT)
             / ({PQ_DISTORTION_SCALE}.0 * count(*)), 9) AS mean_distortion
FROM best GROUP BY s
""",
)
def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer quality dashboard [Q]: per-subspace mean PQ
    reconstruction error — each vector's squared distance to its nearest
    codeword per 16-dim subspace, floor-quantized to a 1e9 integer before
    the rollup (order-proof), averaged per subspace. The number an
    operator watches to size n_codes: distortion that stops falling as
    codes grow means the subspace is saturated; a subspace whose
    distortion dwarfs the others wants its own budget (the same
    index-health role inertia plays for the coarse quantizer).

    Scale shape: one corpus x (m x n_codes) broadcast scoring pass —
    identical to encoding — then an m-row rollup."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _cached_codebooks(spark, sf_dir)
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    best = None
    for s in range(PQ_M):
        lo = s * PQ_SUB_DIM + 1
        sub = v.select(
            "vec_id", F.slice("v", lo, PQ_SUB_DIM).alias("sub")
        ).crossJoin(
            F.broadcast(
                cb.select(F.slice("mean_vec", lo, PQ_SUB_DIM).alias("cw"))
            )
        )
        d = F.round(_l2sq(F.col("sub"), F.col("cw")), 9)
        part = sub.groupBy("vec_id").agg(F.min(d).alias("d")).select(
            "vec_id", F.lit(s).alias("s"), "d"
        )
        best = part if best is None else best.unionByName(part)
    return best.groupBy(F.col("s").cast("bigint").alias("subspace")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(
            F.sum(F.floor(F.col("d") * PQ_DISTORTION_SCALE).cast("bigint"))
            / (F.lit(float(PQ_DISTORTION_SCALE)) * F.count(F.lit(1))),
            9,
        ).alias("mean_distortion"),
    )
