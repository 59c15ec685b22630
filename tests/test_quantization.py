"""O21 scalar quantization: oracle parity + round-trip error bound +
recall of the coarse+rescore pattern vs exact search."""

from __future__ import annotations

from pyspark.sql import functions as F

from bioclip_vector_db_spark.operators import knn, quantization as qz
from bioclip_vector_db_spark.plans.registry import ORACLES, QUERIES, load_all_plans
from bioclip_vector_db_spark.sources.catalog import load_table

from .conftest import assert_matches_oracle

load_all_plans()


def test_oracle_parity(spark, sf_dir, duck):
    assert_matches_oracle(
        QUERIES["knn_quantized_rescore"](spark, sf_dir),
        duck,
        ORACLES["knn_quantized_rescore"],
    )


def test_roundtrip_error_bounded(spark, sf_dir):
    """Quantize-dequantize error is at most 1/(2*127) per component."""
    emb = load_table(spark, sf_dir, "embeddings")
    err = emb.select(
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                qz.dequantize_i8(qz.quantize_i8(F.col("embedding"))),
                lambda a, b: F.abs(a - b),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("e")
    ).agg(F.max("e")).collect()[0][0]
    assert err <= 0.5 / qz.I8_SCALE + 1e-12


def test_rescore_recall_matches_exact(spark, sf_dir):
    """With coarse_k comfortably above k, the int8-coarse + fp32-rescore
    top-5 equals the exact brute-force top-5 on this corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in qz.knn_quantized_rescore(queries, corpus, coarse_k=20, k=5).collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn.knn_join(queries, corpus, k=5).collect()
    }
    assert got == want


def test_pq_adc_oracle_parity(spark, sf_dir, duck):
    assert_matches_oracle(
        QUERIES["knn_pq_adc"](spark, sf_dir),
        duck,
        ORACLES["knn_pq_adc"],
    )


def test_pq_encode_no_row_expansion(spark, sf_dir):
    """PQ encoding must stay a map-side argmin over the collapsed broadcast
    codebook — no window, no corpus x codes expansion."""
    from bioclip_vector_db_spark.operators.quantization import pq_codebooks, pq_encode
    from bioclip_vector_db_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id % 2 = 0")
    plan = (
        pq_encode(emb, pq_codebooks(load_table(spark, sf_dir, "embeddings")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row codebook join


def test_ivf_pq_oracle_parity(spark, sf_dir, duck):
    assert_matches_oracle(
        QUERIES["ivf_pq_search"](spark, sf_dir),
        duck,
        ORACLES["ivf_pq_search"],
    )


def test_ivf_pq_prunes_to_probed_partitions(spark, sf_dir):
    """IVF-PQ candidates must come only from routed partitions: with
    nprobe=3 of 10 partitions, every result row's partition_id is one of
    its query's 3 probes."""
    from bioclip_vector_db_spark.operators.knn import fixture_centroids, route_queries
    from bioclip_vector_db_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = {
        (r.query_id, r.partition_id)
        for r in route_queries(queries, fixture_centroids(spark, sf_dir), 3).collect()
    }
    for r in QUERIES["ivf_pq_search"](spark, sf_dir).collect():
        assert (r.query_id, r.partition_id) in probes


def test_pq_encode_kernels_agree(spark, sf_dir):
    """Expression and blocked-BLAS PQ encoders must assign IDENTICAL codes
    (round-9-before-argmin, ties to smallest code, in both)."""
    from bioclip_vector_db_spark.operators.knn_numpy import pq_encode_numpy
    from bioclip_vector_db_spark.operators.quantization import (
        PQ_M,
        PQ_SUB_DIM,
        pq_codebooks,
        pq_encode,
    )
    from bioclip_vector_db_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb)
    cols = ["vec_id"] + [f"pq_code_{s}" for s in range(PQ_M)]
    blas_df = pq_encode_numpy(emb, cb, m=PQ_M, sub_dim=PQ_SUB_DIM)
    expr = {r[0]: tuple(r[1:]) for r in pq_encode(emb, cb).select(*cols).collect()}
    blas = {r[0]: tuple(r[1:]) for r in blas_df.select(*cols).collect()}
    assert expr == blas


def test_adc_gather_kernel_matches_wide(spark, sf_dir):
    """The gather kernel folds the SAME collected LUT doubles in the SAME
    left-to-right subspace order as the wide join form, so the two must
    agree on every (query, neighbor, adc_distance) row — pinned here at
    m=8 where the wide form is still cheap to plan."""
    from bioclip_vector_db_spark.operators import quantization as pq

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq.pq_codebooks(emb)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    enc = pq.pq_encode(emb.filter(F.col("vec_id") >= 5), cb, m=8, sub_dim=8).select(
        "vec_id", *[f"pq_code_{s}" for s in range(8)]
    )
    rows = enc.crossJoin(queries.select("query_id"))
    lut = pq.adc_lut(queries, cb, m=8, sub_dim=8)
    cols = ["query_id", "vec_id", "adc_distance"]
    wide = {tuple(r) for r in pq.adc_score(rows, lut, m=8).select(*cols).collect()}
    gathered = {
        tuple(r) for r in pq._adc_score_gather(rows, lut, 8).select(*cols).collect()
    }
    assert wide == gathered and len(wide) == 5 * enc.count()


def test_adc_gather_kernel_scales_to_pq64(spark, sf_dir):
    """m=64 (FAISS's standard PQ64 layout at byte-per-dim) is where both
    the wide join chain AND the SQL twin take minutes just to PLAN — the
    gather kernel's plan is constant-size in m, so the layout becomes a
    normal query. No oracle can run at this m, so the differential
    reference is a driver-side numpy recomputation of the exact ADC
    definition (gather + left fold over the same LUT rows) on the
    collected fixture."""
    import numpy as np

    from bioclip_vector_db_spark.operators import quantization as pq
    from bioclip_vector_db_spark.operators.knn_numpy import pq_encode_numpy

    m, sub_dim, k = 64, 1, 5
    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq.pq_codebooks(emb)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # Encode via the numpy kernel: the expr encoder is ALSO a 64-fold
    # plan (one argmin projection per subspace) — same Catalyst wall.
    enc = pq_encode_numpy(
        emb.filter(F.col("vec_id") >= 5), cb, m=m, sub_dim=sub_dim
    ).select("vec_id", *[f"pq_code_{s}" for s in range(m)])
    got = sorted(
        tuple(r)
        for r in pq.pq_adc_search(
            queries, enc, cb, k=k, m=m, sub_dim=sub_dim
        ).collect()
    )

    # Driver-side reference: same LUT rows, same gather, same left fold.
    lut = {
        (r["query_id"], r["s"], r["code"]): r["d"]
        for r in pq.adc_lut(queries, cb, m=m, sub_dim=sub_dim).collect()
    }
    codes = {r["vec_id"]: [r[f"pq_code_{s}"] for s in range(m)] for r in enc.collect()}
    qids = [r["query_id"] for r in queries.select("query_id").collect()]
    expect = []
    for q in qids:
        scored = []
        for vid, cs in codes.items():
            total = lut[(q, 0, cs[0])]
            for s in range(1, m):
                total = total + lut[(q, s, cs[s])]
            # Round HALF_UP on the shortest decimal rendering — the same
            # convention as the operator's JVM-side F.round (BigDecimal
            # HALF_UP over Double.toString). np.round is half-even and
            # can flip the 9th decimal on totals ending in 5 at the
            # 10th, making this reference rarely disagree with the
            # kernel (ADVICE r9).
            from decimal import ROUND_HALF_UP, Decimal

            rounded = float(
                Decimal(repr(total)).quantize(
                    Decimal("1e-9"), rounding=ROUND_HALF_UP
                )
            )
            scored.append((rounded, vid))
        scored.sort()
        expect.extend(
            (q, vid, d, rank + 1) for rank, (d, vid) in enumerate(scored[:k])
        )
    assert got == sorted(expect)


def _tiny_lut_and_rows(spark, m=4):
    """Hand-built LUT (one query, codes {0,1}) + matching code rows for
    gather-kernel misuse tests."""
    lut = spark.createDataFrame(
        [(1, s, c, float(s) + c / 10.0) for s in range(m) for c in (0, 1)],
        "query_id long, s int, code int, d double",
    )
    rows = spark.createDataFrame(
        [(1, 7, 0, 1, 0, 1)],
        "query_id long, vec_id long, pq_code_0 int, pq_code_1 int, "
        "pq_code_2 int, pq_code_3 int",
    )
    return lut, rows


def test_adc_gather_unknown_query_id_fails_loud(spark):
    """A query_id absent from the LUT used to surface as an opaque NaN ->
    int64 cast error (ADVICE r9); the kernel now names the offending
    ids and the cause."""
    import pytest

    lut, rows = _tiny_lut_and_rows(spark)
    bad = rows.withColumn("query_id", F.lit(99).cast("long"))
    with pytest.raises(Exception, match="no rows in the ADC LUT"):
        qz._adc_score_gather(bad, lut, 4).collect()


def test_adc_gather_unknown_code_fails_loud(spark):
    """An unknown pq_code used to make searchsorted silently score with
    a NEIGHBOR's LUT slot (ADVICE r9) — wrong distances, no error. Both
    the out-of-range and the in-range-but-absent case must now raise,
    naming the subspace and values."""
    import pytest

    lut, rows = _tiny_lut_and_rows(spark)
    with pytest.raises(Exception, match="not present in the ADC LUT"):
        qz._adc_score_gather(rows.withColumn("pq_code_2", F.lit(7)), lut, 4).collect()
    # Sanity: the untampered rows still score (guards reject misuse, not use).
    got = qz._adc_score_gather(rows, lut, 4).collect()
    assert len(got) == 1 and got[0]["adc_distance"] is not None


def test_adc_gather_missing_lut_cell_fails_loud(spark):
    """A code present SOMEWHERE in the LUT but absent for a specific
    (query_id, s) slot passes code_index's global-membership check yet
    gathers the np.full NaN filler — silently yielding NaN adc_distance
    (r10 ADVICE). The kernel must detect the NaN fold and name the
    offending (query_id, subspace, code) triple."""
    import pytest

    lut, rows = _tiny_lut_and_rows(spark)
    # Drop exactly the (query 1, s=2, code=1) cell: code 1 stays globally
    # known (other subspaces still list it), rows reference it at s=2.
    holey = lut.filter(~((F.col("s") == 2) & (F.col("code") == 1)))
    bad = rows.withColumn("pq_code_2", F.lit(1))
    with pytest.raises(Exception, match="no entry for .query_id, subspace, code"):
        qz._adc_score_gather(bad, holey, 4).collect()
    # Sanity: the untampered rows still score against the holey LUT when
    # they never touch the missing cell.
    got = qz._adc_score_gather(rows, holey, 4).collect()
    assert len(got) == 1 and got[0]["adc_distance"] is not None


def test_adc_gather_stored_nan_diagnosed_distinctly(spark):
    """A genuinely STORED NaN LUT distance (a NaN query embedding poisons
    every dot product) is a different failure than an unfilled cell, and
    used to be misreported as 'built from different codebooks' (r11
    ADVICE). The filled-cell mask must route it to the stored-NaN
    diagnosis — and leave the missing-cell message for actual holes."""
    import pytest

    lut, rows = _tiny_lut_and_rows(spark)
    # Overwrite the (query 1, s=2, code=1) cell's VALUE with NaN — the
    # cell exists (mask=filled), its distance is NaN.
    poisoned = lut.withColumn(
        "d",
        F.when(
            (F.col("s") == 2) & (F.col("code") == 1),
            F.lit(float("nan")),
        ).otherwise(F.col("d")),
    )
    bad = rows.withColumn("pq_code_2", F.lit(1))
    with pytest.raises(Exception, match="stored NaN distance"):
        qz._adc_score_gather(bad, poisoned, 4).collect()
    # Rows never touching the poisoned cell still score normally.
    got = qz._adc_score_gather(rows, poisoned, 4).collect()
    assert len(got) == 1 and got[0]["adc_distance"] is not None


def test_adc_gather_inf_cancellation_diagnosed(spark):
    """A NaN per-row SUM with no NaN LUT cell — opposite-sign infinite
    cells (an inf component in a query embedding makes every dot with it
    +/-inf) cancel in the subspace fold. The offender rescan classifies
    per CELL, so both offender lists stay empty and the combined
    diagnostic used to raise a message-free ValueError('') (r13 review);
    it must instead name the query and the cancellation cause."""
    import pytest

    lut, rows = _tiny_lut_and_rows(spark)
    noisy = lut.withColumn(
        "d",
        F.when(
            (F.col("s") == 2) & (F.col("code") == 1), F.lit(float("inf"))
        )
        .when(
            (F.col("s") == 3) & (F.col("code") == 1), F.lit(float("-inf"))
        )
        .otherwise(F.col("d")),
    )
    # Default rows already read pq_code_3 = 1 (-inf); route s=2 to the
    # +inf cell too, so the fold is finite + finite + inf + (-inf) = NaN.
    bad = rows.withColumn("pq_code_2", F.lit(1))
    with pytest.raises(Exception, match="cancel in the subspace fold"):
        qz._adc_score_gather(bad, noisy, 4).collect()


def test_adc_gather_mixed_causes_report_in_one_error(spark):
    """A batch where one row's NaN comes from a MISSING LUT cell and
    another's from inf/-inf CANCELLATION must name both causes in the
    one error — the cancellation diagnosis originally fired only when
    the other offender lists were empty, so a mixed offender window
    serialized the diagnoses across pipeline re-runs (r13 review), the
    exact pattern the r12 co-occurrence rule forbids."""
    import pytest

    lut, _ = _tiny_lut_and_rows(spark)
    tampered = lut.filter(
        ~((F.col("s") == 2) & (F.col("code") == 1))
    ).withColumn(
        "d",
        F.when(
            (F.col("s") == 0) & (F.col("code") == 1), F.lit(float("inf"))
        )
        .when(
            (F.col("s") == 3) & (F.col("code") == 1), F.lit(float("-inf"))
        )
        .otherwise(F.col("d")),
    )
    rows2 = spark.createDataFrame(
        [
            # row A: hits the dropped (s=2, code=1) cell -> missing-cell
            (1, 7, 0, 0, 1, 0),
            # row B: hits (s=0, code=1)=+inf and (s=3, code=1)=-inf
            (1, 8, 1, 0, 0, 1),
        ],
        "query_id long, vec_id long, pq_code_0 int, pq_code_1 int, "
        "pq_code_2 int, pq_code_3 int",
    ).coalesce(1)
    with pytest.raises(Exception) as ei:
        qz._adc_score_gather(rows2, tampered, 4).collect()
    msg = str(ei.value)
    assert "different codebooks" in msg
    assert "cancel in the subspace fold" in msg


def test_adc_gather_cause_past_offender_window_still_reported(spark):
    """The offender rescan used to classify only the FIRST FIVE NaN rows:
    when those five were all inf/-inf cancellations, a co-occurring
    missing-cell cause in row six onward stayed hidden until the
    cancellation was fixed — the serialized-diagnosis pattern the r12
    rule forbids, moved to the window boundary (r13 ADVICE). Every NaN
    row is now classified (only the reported examples are capped per
    category), so a sixth-row missing-cell cause must appear in the one
    error alongside the cancellations."""
    import pytest

    lut, _ = _tiny_lut_and_rows(spark)
    tampered = lut.filter(
        ~((F.col("s") == 2) & (F.col("code") == 1))
    ).withColumn(
        "d",
        F.when(
            (F.col("s") == 0) & (F.col("code") == 1), F.lit(float("inf"))
        )
        .when(
            (F.col("s") == 3) & (F.col("code") == 1), F.lit(float("-inf"))
        )
        .otherwise(F.col("d")),
    )
    data = [
        # rows 1-5: cancellation — (s=0, code=1)=+inf + (s=3, code=1)=-inf
        (1, 10 + j, 1, 0, 0, 1)
        for j in range(5)
    ] + [
        # row 6: hits the dropped (s=2, code=1) cell -> missing-cell cause,
        # past the old [:5] scan window.
        (1, 99, 0, 0, 1, 0),
    ]
    rows2 = spark.createDataFrame(
        data,
        "query_id long, vec_id long, pq_code_0 int, pq_code_1 int, "
        "pq_code_2 int, pq_code_3 int",
    ).coalesce(1)
    with pytest.raises(Exception) as ei:
        qz._adc_score_gather(rows2, tampered, 4).collect()
    msg = str(ei.value)
    assert "different codebooks" in msg, msg
    assert "cancel in the subspace fold" in msg, msg
