"""SemDeDup decide-tail depth cap (r13 verdict item 1).

The decide stage's within-cluster pair join is quadratic in CLUSTER
DEPTH — linear in corpus size only while the k = ceil(n/64) contract
holds, and a skewed real corpus won't honor a contract (the M=512
ladder measured merge_tail at 4.07x/doubling once its seed-saturated
regime grew cluster depth with M, SCALING.md section 2.1). The cap
prunes the better-ranked witness side to each cluster's top-R
exemplars, with two gated properties:

- ROW-EXACT PARITY on-contract: every cluster of depth <= R+1 decides
  identically (all better-ranked members of such a cluster have rank
  <= R, so no witness is pruned);
- ONE-SIDED beyond: a capped removal always has a top-R witness that
  the exact form also sees, so removed_capped is a SUBSET of
  removed_exact — skew can only make the cap keep extra rows, never
  spuriously drop a unique.

semantic_dedup engages the cap exactly on the routed (approximate)
tiers and leaves every exact path untouched; the gates below call its
private steps (_assign_centroids on the exact fold, then
_semantic_dedup_decide) to set the cap and decide kernel directly.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

import bioclip_vector_db_spark.operators.dedup as dd
from bioclip_vector_db_spark.operators.dedup import (
    SEMDEDUP_DECIDE_CAP,
    _assign_centroids,
    _seed_centroids,
    _semantic_dedup_decide,
    _semdedup_vectors,
    semantic_dedup,
)


def _vec(d, **components):
    v = [0.0] * d
    for dim, val in components.items():
        v[int(dim[1:])] = float(val)
    return v


@pytest.fixture(scope="module")
def crafted(spark):
    """Five vectors, two explicit centroids, one over-threshold pair —
    engineered so the pair's witness sits at rank 3: a cap of R=2 prunes
    it (m4 kept), a cap of R=3 sees it (identical to exact).

    Geometry (d=8, threshold 0.5): each member is a_i*e0 + noise in a
    PRIVATE dimension, so every cross dot is a_i*a_j <= 0.455 < tau —
    except m3/m4, which share noise dim e2 and dot to 0.897 > tau.
    csim = dot with c0 = a_i, so ranks are m1 < m2 < m3 < m4 (depth 4);
    m5 lives alone in cluster 1.
    """
    d = 8
    rows = [
        (1, _vec(d, e0=0.70, e3=1.0)),
        (2, _vec(d, e0=0.65, e4=1.0)),
        (3, _vec(d, e0=0.30, e2=0.9)),
        (4, _vec(d, e0=0.29, e2=0.9)),
        (5, _vec(d, e7=0.8)),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, _vec(d, e0=1.0)), (1, _vec(d, e7=1.0))],
        "cid long, cvec array<double>",
    )
    return corpus, cents


def _assigned(corpus, cents=None):
    """The exact fold's assignment over ``cents`` (default: the seed
    rule's k=8)."""
    v = _semdedup_vectors(corpus)
    if cents is None:
        cents = _seed_centroids(v, 8)
    return _assign_centroids(v, cents, "expr")


def _run(corpus, cents, cap, kernel="expr", threshold=0.5):
    return {
        r["vec_id"]: (r["cluster_id"], r["rank"], r["kept"])
        for r in _semantic_dedup_decide(
            _assigned(corpus, cents), threshold, depth_cap=cap, kernel=kernel
        ).collect()
    }


def test_exact_fixture_semantics(crafted):
    """Sanity-pin the fixture before testing the cap against it: the one
    over-threshold pair is (m3, m4) and exact decide removes the
    worse-ranked m4."""
    corpus, cents = crafted
    exact = _run(corpus, cents, None)
    assert exact == {
        1: (0, 1, True),
        2: (0, 2, True),
        3: (0, 3, True),
        4: (0, 4, False),
        5: (1, 1, True),
    }


def test_cap_parity_at_depth_boundary(crafted):
    """Depth 4 with cap R=3: every better-ranked witness has rank <= 3,
    so the capped decision table is ROW-IDENTICAL to exact — the
    on-contract parity guarantee at its exact boundary (depth = R+1)."""
    corpus, cents = crafted
    assert _run(corpus, cents, 3) == _run(corpus, cents, None)


def test_cap_prunes_one_sided_past_boundary(crafted):
    """Cap R=2 prunes m4's only witness (m3, rank 3): m4 flips to kept
    and NOTHING else changes — under-removal only, cluster/rank columns
    untouched."""
    corpus, cents = crafted
    exact = _run(corpus, cents, None)
    capped = _run(corpus, cents, 2)
    assert capped[4] == (0, 4, True) and exact[4] == (0, 4, False)
    assert {k: v for k, v in capped.items() if k != 4} == {
        k: v for k, v in exact.items() if k != 4
    }


def test_cap_subset_property_random_corpus(spark):
    """On a 240-vector random corpus under the default seed rule (k=8,
    expected depth ~30): a cap ABOVE max depth is row-identical to
    exact, and a tight cap's removed set is a strict subset — the
    one-sided guarantee on unengineered data, where many over-threshold
    pairs exist at every rank."""
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(240, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(240)],
        "vec_id long, embedding array<double>",
    )

    def run(cap):
        rows = _run(corpus, None, cap, threshold=0.2)
        return {v: kept for v, (_, _, kept) in rows.items()}

    exact = run(None)
    assert run(240) == exact  # cap >= depth: parity
    tight = run(2)
    removed_exact = {v for v, kept in exact.items() if not kept}
    removed_tight = {v for v, kept in tight.items() if not kept}
    assert removed_tight < removed_exact  # strict subset: one-sided, engaged
    assert removed_tight  # and the capped form still removes real dups


def test_auto_policy_engages_on_routed_tiers_only(spark, monkeypatch):
    """semantic_dedup's tier rule resolves the cap to SEMDEDUP_DECIDE_CAP
    exactly when the assignment tier is approximate (in-memory routed or
    distributed) and to None on the exact fold, and picks the decide
    kernel by size on the routed tiers: 'arrow' when the counted n or
    the seed rule's k x 64 estimate reaches DECIDE_ARROW_MIN_ROWS, or
    when centroids are supplied. Thresholds are lowered so the routed
    tiers engage at fixture scale; spied at the assignment and decide
    calls — no materialization needed, the tail is built eagerly."""
    import warnings

    from bioclip_vector_db_spark.operators import knn_numpy, knn_routed

    seen = []
    real_assign = dd._assign_centroids
    real_decide = dd._semantic_dedup_decide
    tiers = []

    def spy_assign(v, centroids, tier, **kw):
        tiers.append(tier)
        return real_assign(v, centroids, tier, **kw)

    def spy(assigned, threshold, depth_cap=None, kernel="expr", **kw):
        seen.append((tiers[-1], depth_cap, kernel))
        return real_decide(assigned, threshold, depth_cap=depth_cap, kernel=kernel, **kw)

    monkeypatch.setattr(dd, "_assign_centroids", spy_assign)
    monkeypatch.setattr(dd, "_semantic_dedup_decide", spy)
    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(i, rng.normal(size=8).tolist()) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    cents = corpus.limit(8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )

    semantic_dedup(corpus)  # seed rule, counted k = 8
    semantic_dedup(corpus, centroids=cents)  # supplied, 8 rows
    assert seen == [("expr", None, "expr")] * 2

    seen.clear()
    monkeypatch.setattr(knn_numpy, "LARGE_NLIST_THRESHOLD", 4)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        semantic_dedup(corpus)  # counted n = 64
        semantic_dedup(corpus, k=8)  # estimate 8 x 64
        monkeypatch.setattr(knn_routed, "DISTRIBUTED_K_THRESHOLD", 6)
        semantic_dedup(corpus, k=8)
        # Both size signals sit far below DECIDE_ARROW_MIN_ROWS: the
        # cheap expr pair join runs.
        assert seen == [
            ("routed", SEMDEDUP_DECIDE_CAP, "expr"),
            ("routed", SEMDEDUP_DECIDE_CAP, "expr"),
            ("distributed", SEMDEDUP_DECIDE_CAP, "expr"),
        ]

        seen.clear()
        # Above the crossover the same routed tiers take the arrow
        # cogroup decide — exercised by shrinking the bound rather than
        # building a 1e5-row corpus.
        monkeypatch.setattr(dd, "DECIDE_ARROW_MIN_ROWS", 64)
        semantic_dedup(corpus)
        semantic_dedup(corpus, k=8)
        monkeypatch.setattr(dd, "DECIDE_ARROW_MIN_ROWS", 100_000)
        # Supplied centroids carry no size signal: arrow regardless.
        semantic_dedup(corpus, centroids=cents)
    assert seen == [
        ("distributed", SEMDEDUP_DECIDE_CAP, "arrow"),
        ("distributed", SEMDEDUP_DECIDE_CAP, "arrow"),
        ("routed", SEMDEDUP_DECIDE_CAP, "arrow"),
    ]


def test_cap_validates(spark, crafted):
    corpus, cents = crafted
    with pytest.raises(ValueError, match="depth_cap"):
        _run(corpus, cents, 0)


# ---------------------------------------------------------------------------
# arrow cogroup decide (r15 verdict item 2)
# ---------------------------------------------------------------------------


def test_arrow_decide_identical_on_crafted(crafted):
    """The cogroup-GEMM decide must reproduce the expr pair join's full
    decision table — exact mode and both cap regimes (witness pruned /
    witness visible)."""
    corpus, cents = crafted
    for cap in (None, 2, 3):
        assert _run(corpus, cents, cap, "arrow") == _run(
            corpus, cents, cap, "expr"
        ), f"cap={cap}"


def test_arrow_decide_identical_on_random_corpus(spark):
    """Unengineered data, many over-threshold pairs at every rank: the
    removed SETS must be identical between kernels, capped and exact."""
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(240, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(240)],
        "vec_id long, embedding array<double>",
    )

    def run(cap, kernel):
        return _run(corpus, None, cap, kernel, threshold=0.2)

    for cap in (None, 2, 240):
        assert run(cap, "arrow") == run(cap, "expr"), f"cap={cap}"


def test_arrow_decide_salt_invariance(spark, monkeypatch):
    """Force the deep-cluster salting path (target rows per task shrunk
    far below the fixture's cluster depth, hints supplied): each a-row
    still meets every witness exactly once, so the decision table is
    byte-identical to the unsalted run — and the plan actually cogroups
    in Arrow."""
    rng = np.random.default_rng(13)
    mat = rng.normal(size=(240, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(240)],
        "vec_id long, embedding array<double>",
    )
    cents = corpus.limit(4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    assigned_df = _assigned(corpus, cents)
    base = {
        r["vec_id"]: (r["cluster_id"], r["rank"], r["kept"])
        for r in _semantic_dedup_decide(assigned_df, 0.2, kernel="arrow").collect()
    }
    # The (n, k) hints size the salts; shrink the per-task target so the
    # fixture's ~60-deep clusters split.
    monkeypatch.setattr(dd, "_DECIDE_TARGET_ROWS_PER_TASK", 8)
    salted = _semantic_dedup_decide(
        assigned_df, 0.2, kernel="arrow", n_hint=240, k_hint=4
    )
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan
    got = {
        r["vec_id"]: (r["cluster_id"], r["rank"], r["kept"])
        for r in salted.collect()
    }
    assert got == base
