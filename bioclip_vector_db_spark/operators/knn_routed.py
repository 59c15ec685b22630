"""Distributed two-tier routed centroid assignment — no driver-resident
centroid table.

The in-memory routed kernel (knn_numpy._routed_best_centroid) assigns in
O(n sqrt(k) d) but collects and broadcasts the full k x d centroid
table. Under SemDeDup's k = ceil(n/64) contract that table outgrows any
driver (n = 1e11 -> k ~ 1.6e9, ~6 TB at 512-d). This tier removes the
bound:

- only the ROUTER is driver-resident: g = min(sample,
  ceil(sqrt(ROUTE_PROBES*k))) normalized group means built from a
  hash-strided SAMPLE of the centroid table (<= _ROUTER_SAMPLE_CAP
  rows collected — a constant, never O(k)). Because g is bounded by
  the sample, the router broadcast is bounded too: <= cap x d =
  268 MB at 512-d, at ANY k — and the cap costs little even at the
  extreme contract point (k = 1.6e9: capped g = 65,536 vs the
  unbounded optimum sqrt(8k) = 113k gives 65,536 + 8*(k/g) ~ 261k
  dots/vector vs the optimal 2*sqrt(8k) ~ 226k — a 15% FLOPs
  deviation, not a regime change);
- the bottom tier stays a DataFrame: each centroid row is assigned to
  its router group MAP-SIDE (argmax against the broadcast router),
  giving a (group_id, cid, cvec) table that is shuffled by group_id —
  never collected;
- each vector routes map-side to its top-ROUTE_PROBES LIVE groups
  (groups that own >= 1 centroid), pruned by a probe margin calibrated
  from the data, is exploded to the surviving rows, and the per-group
  argbest is a cogroup GEMM between the routed vectors and the group's
  member centroids, keyed on (group id, salt) — salts sized per group
  from the sampled routing distribution so the MAX key stays near the
  per-task target;
- all three Python stages run Arrow-native (``mapInArrow`` /
  ``cogroup().applyInArrow``): the vector values buffer feeds the GEMM
  operand directly, with no per-row Python object boxing;
- the global argbest is one groupBy(vec_id) struct-max over the
  candidate rows (no embedding payload), joined back to the input.

The work is split in two steps. _decide_route runs the driver-side
decisions (router, live groups, margin, per-group salts) and returns
them as one _Route record; _assign_routed builds the plan that consumes
it. Nothing else is settable: every decision derives from the data.

Cost model vs the in-memory routed kernel: identical GEMM work,
O(n sqrt(probes*k) d) FLOPs, plus a shuffle the in-memory kernel does
not have — O(probes * n * d) bytes for the routed vector explode and
O(salts * k * d) for the member side. That shuffle is LINEAR in n (the
flat kernel's collect was the super-linear driver term), which is the
trade that removes the driver bound; engage this tier only above it
(semantic_dedup's seed rule picks it past DISTRIBUTED_K_THRESHOLD).

Approximation contract: same class as the in-memory routed kernel —
the probed-group union need not contain the true argbest centroid;
recall is gated on structured data by tests/test_semantic_routing.py
and the keep/drop drift bound is gated end-to-end on semantic_dedup.
Deterministic end to end: hash-strided samples, strided-init Lloyd,
argmax over fixed layouts, ties to the smallest id at every stage
(group assignment, within-group argbest, global merge).

Reference parity note: the reference loads its whole FAISS index on one
process (storage_impl.py) — at 100 TB no single process can; this tier
is the Spark-native answer SCALING.md §2.1 names.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .knn_numpy import (
    ROUTE_PROBES,
    _SUPER_KMEANS_ITERS,
    _best_centroid_core,
    _list_matrix,
    _pa_cast,
    _super_centroids,
    _tiled_top_groups,
)

#: Above this many centroids the driver-collect tiers (flat and
#: in-memory routed both broadcast the full k x d table) give way to
#: this module: 1M rows x 512-d doubles is ~4 GB collected — the
#: practical edge of broadcast-variable territory. semantic_dedup's seed
#: rule escalates here from its numeric k.
DISTRIBUTED_K_THRESHOLD = 1_000_000

#: Centroid rows sampled (hash-strided, deterministic) to build the
#: router. Bounds the ONLY driver-side centroid collect at a constant:
#: the router needs g = ceil(sqrt(ROUTE_PROBES*k)) anchors, and
#: cap^2/probes >= k holds to k ~ 5e8 at this cap; past that every
#: sampled row is an anchor — coarser but still ~sqrt(k) anchors, and
#: never O(k) driver bytes.
_ROUTER_SAMPLE_CAP = 65_536

#: Driver-side Lloyd refine budget in multiply-adds: sample x g x d x
#: iters beyond this skips the FULL refine and uses strided sample rows
#: as anchors (routing quality degrades gracefully; the recall gates run
#: well inside the refined regime).
_ROUTER_LLOYD_BUDGET = 2e10

#: Constant budget (multiply-adds) the strided-anchor FALLBACK still
#: spends refining its anchors: a few mini-batch Lloyd passes over an
#: evenly-strided subsample of the router sample, sized so rows x g x d
#: x passes stays under this bound — independent of n, k and the main
#: budget. Raw strided anchors drift far more end to end (SCALING.md
#: §2.1); the bounded refine recovers most of the refined router's
#: quality wherever the subsample covers the sample. Deterministic: the
#: subsample is strided, assignment argmax takes the first maximum, and
#: anchors update to plain means.
_ROUTER_FALLBACK_REFINE_MADDS = 2e9
_ROUTER_FALLBACK_REFINE_PASSES = 2

#: Per-task target for the vector fan-in rows of one (group, salt)
#: cogroup key. The binding per-task memory bound is the cogroup itself,
#: not the tiled score GEMM: applyInArrow materializes the key's whole
#: vector fan-in as one Arrow table before the kernel runs. At 512-d
#: float64, 1e5 rows is ~0.4 GB as the GEMM operand plus the Arrow input
#: table, a ~1 GB/task envelope inside a standard 4-8 GB executor.
#: Results are salt-invariant, so erring low on this target only adds
#: keys.
_TARGET_ROWS_PER_GROUP_TASK = 100_000

#: The probe margin is the (1 - _CALIBRATE_TARGET_MISS) quantile of the
#: winner-group routing-score gap over a sample of the ACTUAL vectors —
#: the smallest margin predicted to route all but that fraction of the
#: workload to its true winner's group. 0.5% predicted routing miss sits
#: 12x inside the 6% end-to-end drift bound the eval row gates (routing
#: misses also overwhelmingly KEEP extra rows rather than drop uniques).
_CALIBRATE_TARGET_MISS = 0.005
#: Floor on the calibrated margin: a quantile over a finite sample must
#: not degenerate to ties-only probing when the sampled gaps all read 0
#: (strongly clustered data routes its whole sample to rank-0). 0.02 on
#: the round-9 cosine scale is 10x under the margin measured
#: decision-identical to fixed probing on the planted corpus (0.2;
#: SCALING.md §2.1).
_CALIBRATE_MARGIN_FLOOR = 0.02
#: Vector rows sampled (hash-strided, deterministic) as calibration
#: queries; bounds the collect at a constant (~16 MB at 512-d) at ANY
#: corpus size.
_CALIBRATE_VECTOR_SAMPLE_CAP = 4096
#: Driver-BLAS budget (multiply-adds) for the calibration GEMMs; caps
#: the query subset so calibration stays a bounded driver-side cost at
#: any sample/router size (<= a few seconds of dgemm at the caps).
_CALIBRATE_MADDS_BUDGET = 2e10

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("_rt_vid", T.LongType()),
        T.StructField("_rt_cand", T.LongType()),
        T.StructField("_rt_score", T.DoubleType()),
    ]
)
_CAND_ARROW = to_arrow_schema(_CAND_SCHEMA)


@dataclass(frozen=True, eq=False)
class _Route:
    """The driver-side decisions of one distributed assignment — every
    input the plan takes besides the two tables:

    - ``router``: the g x d unit-normalized routing anchors;
    - ``live``: ascending ids of the groups that own >= 1 centroid (the
      only groups a vector is routed to, so no vector is left without
      candidates);
    - ``margin``: the probe margin on the round-9 routing scale, or
      None for fixed top-ROUTE_PROBES probing;
    - ``salts``: cogroup salt count per group id (int64[g], >= 1);
    - ``members``: the persisted ``(_rt_gid, cid, cvec)`` table, every
      centroid tagged with its router group."""

    router: np.ndarray
    live: np.ndarray
    margin: "float | None"
    salts: np.ndarray
    members: DataFrame


def _auto_salts(n_vectors: int, probes_eff: int, g_live: int) -> int:
    """ceil(mean fan-in per live group / _TARGET_ROWS_PER_GROUP_TASK):
    the base (floor) salt count of every group. At the 100-TB point
    (n = 1e11, probes = 8, g capped at 65,536) this is 123 salts."""
    if g_live <= 0:
        return 1
    mean_fan_in = n_vectors * max(1, probes_eff) / g_live
    return max(1, math.ceil(mean_fan_in / _TARGET_ROWS_PER_GROUP_TASK))


def _group_salt_counts(
    vec_sample: "np.ndarray", S: "np.ndarray", live: "np.ndarray", n_vectors: int
) -> "np.ndarray":
    """Salt count per group id: the _auto_salts base, raised for hot
    groups from the sampled routing distribution. The per-task memory
    bound is the MAX cogroup key, and a corpus whose hot region is
    under-represented by its centroids routes a large share of vectors
    to ONE group, so a mean-based count alone leaves that key unbounded.
    Each live group's routed share in the (<= 4,096-row) calibration
    sample estimates its unpruned fan-in share * n * p, and its salt
    count is raised to ceil(fan-in / target) wherever that exceeds the
    base.

    Residual: a group whose true share is below sampling resolution
    (~1/|sample| ~ 0.02%) keeps the base count, so its max key is
    bounded by ~n * 0.0002 * p / base — at the 100-TB point (n = 1e11,
    base 123) ~1.3e6 rows, 13x target. Samples under 64 rows keep the
    uniform base."""
    p = min(ROUTE_PROBES, len(live))
    salts = np.full(S.shape[0], _auto_salts(n_vectors, p, len(live)), dtype=np.int64)
    if len(vec_sample) < 64 or len(live) == 0:
        return salts
    idx = _tiled_top_groups(vec_sample, S[live], p)  # rows x p live-indices
    counts = np.bincount(live[idx].ravel(), minlength=S.shape[0])
    est_fan = counts * (n_vectors * p / idx.size)
    return np.maximum(
        salts, np.ceil(est_fan / _TARGET_ROWS_PER_GROUP_TASK).astype(np.int64)
    )


def _sample_router_matrix(centroids: DataFrame, k: int) -> "np.ndarray":
    """Deterministic <= _ROUTER_SAMPLE_CAP-row sample of centroid vectors
    (hash-strided on the id so the sample is a property of the DATA, not
    of partitioning or row order; id-sorted-then-limited so the result
    is reproducible AND the cap is exact, not expected-value). The one
    collect in this module that touches centroid VECTORS — bounded by
    the cap, never by k."""
    stride = max(1, math.ceil(k / _ROUTER_SAMPLE_CAP))
    samp = centroids.select("cid", "cvec")
    if stride > 1:
        samp = samp.filter(F.pmod(F.xxhash64(F.col("cid")), F.lit(stride)) == 0)
    rows = samp.orderBy("cid").limit(_ROUTER_SAMPLE_CAP).collect()
    if not rows:
        # A hash stride can miss every id of a small pathological id
        # set: the first cap rows keep the router deterministic and
        # capped instead of failing.
        rows = (
            centroids.select("cid", "cvec")
            .orderBy("cid")
            .limit(_ROUTER_SAMPLE_CAP)
            .collect()
        )
    return np.array([r[1] for r in rows], dtype=np.float64)


def _build_router(sample: "np.ndarray", k: int) -> "np.ndarray":
    """g ~ ceil(sqrt(ROUTE_PROBES*k)) unit-normalized routing anchors
    from the sample: Lloyd-refined via _super_centroids when the driver
    FLOPs budget allows (same strided init / oversize split /
    normalization as the in-memory tier); otherwise strided sample rows
    refined by a constant-cost mini-batch Lloyd
    (_ROUTER_FALLBACK_REFINE_MADDS), which costs nothing that scales
    with n or k."""
    s, d = sample.shape
    g = min(s, max(2, math.ceil(math.sqrt(ROUTE_PROBES * k))))
    if s * g * d * _SUPER_KMEANS_ITERS <= _ROUTER_LLOYD_BUDGET:
        S, _ = _super_centroids(sample, g=g)
        return S
    S = sample[np.linspace(0, s - 1, g).astype(np.int64)].copy()
    passes = _ROUTER_FALLBACK_REFINE_PASSES
    rows = int(_ROUTER_FALLBACK_REFINE_MADDS // max(1, g * d * passes))
    if rows >= 2:
        # Evenly-strided mini-batch over the id-sorted sample; the
        # assignment is _super_centroids' argmin-Euclidean-as-argmax.
        # Anchors that win no mini-batch rows keep their strided init,
        # so with rows << g the refine degrades toward the raw strided
        # router instead of degenerating.
        mb = sample[np.linspace(0, s - 1, min(s, rows)).astype(np.int64)]
        for _ in range(passes):
            scores = mb @ S.T - 0.5 * (S * S).sum(axis=1)
            assign = scores.argmax(axis=1)
            for j in np.unique(assign):
                S[j] = mb[assign == j].mean(axis=0)
    norms = np.linalg.norm(S, axis=1, keepdims=True)
    return S / np.where(norms < 1e-12, 1.0, norms)


def _sample_vector_matrix(vectors: DataFrame, n: int) -> "np.ndarray":
    """Deterministic <= _CALIBRATE_VECTOR_SAMPLE_CAP-row sample of the
    WORKLOAD vectors (hash-strided on vec_id, id-sorted-then-limited —
    the same data-property sampling as _sample_router_matrix). One
    bounded job over the vector plan."""
    stride = max(1, math.ceil(n / _CALIBRATE_VECTOR_SAMPLE_CAP))
    samp = vectors.select("vec_id", "embedding")
    if stride > 1:
        samp = samp.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(stride)) == 0)
    rows = samp.orderBy("vec_id").limit(_CALIBRATE_VECTOR_SAMPLE_CAP).collect()
    if not rows:
        return np.empty((0, 0), dtype=np.float64)
    return np.array([r[1] for r in rows], dtype=np.float64)


def _calibrate_margin(
    vec_sample: "np.ndarray",
    cent_sample: "np.ndarray",
    S: "np.ndarray",
    live: "np.ndarray",
) -> "float | None":
    """Data-derived probe margin — driver-side, deterministic,
    madds-bounded.

    The question the margin answers: when a vector's true argmax
    centroid lives in a probed runner-up group, how far does that
    group's routing score trail the best group's? Calibration measures
    exactly that on a capped sample of the REAL workload: each sampled
    vector's winner is found against the centroid sample (the full
    table when k <= the router cap; a strided subset beyond, where the
    in-sample winner still reflects the ambiguity structure), and the
    winner-group's routing-score gap to the vector's best group is
    collected on the selector's own round-9 scale. The margin is the
    (1 - _CALIBRATE_TARGET_MISS) quantile of those gaps, rounded UP
    onto the round-9 grid, floored at _CALIBRATE_MARGIN_FLOOR.

    Synthetic calibration queries (centroid-sample rows with self
    excluded, toward-neighbor mixtures) overstate ambiguity: midpoints
    between random centroids produce winner-gaps no real clustered
    vector exhibits, and erase the row cut the margin exists for.

    Returns None (= fixed probing) when pruning cannot help: the probes
    cover every live group, or the samples are too small for a
    quantile. Vectors whose winner group is OUTSIDE the fixed top-p set
    are excluded — fixed probing misses those too; the margin decides
    which of the fixed probes to drop, so its contract is relative to
    fixed probing, not to exactness.

    Routing selects top-p and applies the margin over LIVE groups only,
    so gaps and in-probe membership are measured against S[live]: a
    dead group could otherwise outrank a winner's group and skew the
    quantile population. Winner groups are assigned against the FULL
    router, as _group_members assigns them."""
    if vec_sample.size == 0 or cent_sample.size == 0:
        return None
    s, d = cent_sample.shape
    grp_full = _best_centroid_core(
        cent_sample, np.arange(S.shape[0]), S, similarity=True
    )[0]
    g = len(live)
    p = min(ROUTE_PROBES, g)
    if p >= g or len(vec_sample) < 64:
        return None
    live_pos = np.full(S.shape[0], -1, dtype=np.int64)
    live_pos[live] = np.arange(g, dtype=np.int64)
    S = S[live]
    grp = live_pos[grp_full]
    n_q = int(
        min(
            len(vec_sample),
            max(64, _CALIBRATE_MADDS_BUDGET // max(1, (s + g) * d)),
        )
    )
    q = vec_sample[np.linspace(0, len(vec_sample) - 1, n_q).astype(np.int64)]
    # Winner among the centroid sample per query, by the family's
    # round-9 / first-max / smallest-id argbest.
    best_j = _best_centroid_core(q, np.arange(s), cent_sample, similarity=True)[0]
    wg = grp[best_j]
    # A winner's group owns that centroid, so it is live; -1 can only
    # come from a sampled centroid outside the grouped table.
    ok = wg >= 0
    q, wg, n_q = q[ok], wg[ok], int(ok.sum())
    if n_q < 64:
        return None
    r = q @ S.T
    np.round(r, 9, out=r)
    rw = r[np.arange(n_q), wg]
    gap = r.max(axis=1) - rw
    # Reachable under fixed top-p probing (argpartition membership —
    # the stats need the set, not the selector's exact tie order).
    in_probe = (np.argpartition(-r, p - 1, axis=1)[:, :p] == wg[:, None]).any(
        axis=1
    )
    gaps = gap[in_probe & np.isfinite(gap)]
    if len(gaps) < 64:
        return None
    m = float(np.quantile(gaps, 1.0 - _CALIBRATE_TARGET_MISS))
    # Round UP onto the round-9 score grid so a gap exactly at the
    # quantile stays inside the margin.
    m = math.ceil(m * 1e9) / 1e9
    return max(m, _CALIBRATE_MARGIN_FLOOR)


def _group_members(centroids: DataFrame, S: "np.ndarray") -> DataFrame:
    """``(_rt_gid, cid, cvec)``: every centroid row tagged map-side with
    its best router group (first maximum = smallest group id); the id
    and vector columns pass through untouched. Never collected."""
    bc_router = centroids.sparkSession.sparkContext.broadcast(S)
    schema = T.StructType(
        [T.StructField("_rt_gid", T.IntegerType())] + list(centroids.schema.fields)
    )
    arrow = to_arrow_schema(schema)

    def assign_groups_arrow(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        bS = bc_router.value
        for rb in batches:
            if not rb.num_rows:
                continue
            i_id = rb.schema.get_field_index("cid")
            i_cv = rb.schema.get_field_index("cvec")
            gid = _best_centroid_core(
                _list_matrix(rb.column(i_cv)), np.arange(bS.shape[0]), bS, similarity=True
            )[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(gid.astype(np.int32), type=pa.int32()),
                    _pa_cast(rb.column(i_id), arrow.field(1).type),
                    _pa_cast(rb.column(i_cv), arrow.field(2).type),
                ],
                schema=arrow,
            )

    return centroids.mapInArrow(assign_groups_arrow, schema)


def _decide_route(
    vectors: DataFrame,
    centroids: DataFrame,
    n_centroids: "int | None" = None,
    n_vectors: "int | None" = None,
) -> "_Route | None":
    """The driver-side step: router, live groups, calibrated margin and
    per-group salts over ``vectors`` (``vec_id``, ``embedding``) and
    ``centroids`` (``cid``, ``cvec``). None when the centroid table is
    empty. Runs one count per table unless its positive hint is given,
    the capped router-sample collect, the live-group collect (<= g
    scalars) and the capped vector-sample collect; each call calibrates
    from its own sample, so a rewritten input is always seen."""
    from ..plans.registry import transient_persist

    # Persisted once: the count, the router sample and the member
    # grouping would otherwise each re-run the caller's centroid lineage.
    centroids = transient_persist(centroids.select("cid", "cvec"))
    # Hints are sizing-only and trusted only when positive: a wrong
    # positive value skews g or the salt counts, never an answer (the
    # grouping and argbest read the real tables).
    k = n_centroids if n_centroids is not None and n_centroids > 0 else centroids.count()
    if k == 0:
        return None
    sample = _sample_router_matrix(centroids, k)
    if len(sample) == 0:
        return None  # a positive hint over an empty table
    S = _build_router(sample, k)
    members = transient_persist(_group_members(centroids, S))
    live = np.array(
        sorted(r[0] for r in members.select("_rt_gid").distinct().collect()),
        dtype=np.int64,
    )
    n = n_vectors if n_vectors is not None and n_vectors > 0 else vectors.count()
    vec_sample = _sample_vector_matrix(vectors, n)
    return _Route(
        router=S,
        live=live,
        margin=_calibrate_margin(vec_sample, sample, S, live),
        salts=_group_salt_counts(vec_sample, S, live, n),
        members=members,
    )


def _route_rows(
    emb: "np.ndarray",
    vids: "np.ndarray",
    S_live: "np.ndarray",
    live: "np.ndarray",
    salts: "np.ndarray",
    margin: "float | None",
):
    """One batch's routing: each row's top-ROUTE_PROBES live groups,
    pruned to those whose round-9 routing score is within ``margin`` of
    the row's best. Returns the exploded ``(row index, group id, salt)``
    arrays; the salt of a row is its vec_id modulo its group's count.

    The pruned set is a subset of the fixed one and always holds the
    best-routed group (column 0 of the selector's total order), kept
    unconditionally: a NaN embedding fails every margin comparison and
    would otherwise vanish from the output."""
    idx = _tiled_top_groups(emb, S_live, ROUTE_PROBES)  # b x p, best-first
    b, p = idx.shape
    row_idx = np.repeat(np.arange(b), p)
    gids = live[idx].ravel()
    if margin is not None:
        sc = np.einsum("bd,bpd->bp", emb, S_live[idx])
        np.round(sc, 9, out=sc)
        keep = sc >= sc.max(axis=1, keepdims=True) - margin
        keep[:, 0] = True
        row_idx, gids = row_idx[keep.ravel()], gids[keep.ravel()]
    return row_idx, gids, (vids[row_idx] % salts[gids]).astype(np.int32)


def _route_vectors(vectors: DataFrame, route: _Route) -> DataFrame:
    """``(vec_id, embedding, _rt_gid, _rt_salt)``: one row per vector and
    probed group that survives the margin — the cogroup's left side.
    Counting it gives the candidate count; grouping it by
    ``(_rt_gid, _rt_salt)`` gives the per-key fan-in."""
    bc = vectors.sparkSession.sparkContext.broadcast(
        (route.router[route.live], route.live, route.salts)
    )
    margin = route.margin
    schema = T.StructType(
        [
            next(f for f in vectors.schema.fields if f.name == "vec_id"),
            next(f for f in vectors.schema.fields if f.name == "embedding"),
            T.StructField("_rt_gid", T.IntegerType()),
            T.StructField("_rt_salt", T.IntegerType()),
        ]
    )
    arrow = to_arrow_schema(schema)

    def route_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        S_live, live, salts = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            vid_arr = _pa_cast(rb.column(0), arrow.field(0).type)
            vec_arr = _pa_cast(rb.column(1), arrow.field(1).type)
            emb = _list_matrix(vec_arr)
            vids = vid_arr.to_numpy(zero_copy_only=False)
            row_idx, gids, salt = _route_rows(emb, vids, S_live, live, salts, margin)
            # Emit in slices whose gathered values stay under int32 list
            # offsets: take() builds its output ListArray with int32
            # offsets, which overflow once len(row_idx) * d exceeds 2^31.
            # One slice in any realistic batch (d=512 -> ~4.2M exploded
            # rows/slice).
            step = max(1, (2**31 - 64) // max(1, emb.shape[1]))
            for s0 in range(0, len(row_idx), step):
                sl = slice(s0, s0 + step)
                take = pa.array(row_idx[sl], type=pa.int64())
                yield pa.RecordBatch.from_arrays(
                    [
                        vid_arr.take(take),
                        # The input list rows, exact values and element
                        # type, gathered with no Python boxing.
                        vec_arr.take(take),
                        pa.array(gids[sl].astype(np.int32), type=pa.int32()),
                        pa.array(salt[sl], type=pa.int32()),
                    ],
                    schema=arrow,
                )

    return vectors.select("vec_id", "embedding").mapInArrow(route_arrow, schema)


def _per_group_best(left: pa.Table, right: pa.Table) -> pa.Table:
    """Argbest of one (group, salt) cogroup key: every routed vector
    (``left``) against the key's member centroids (``right``), by
    _best_centroid_core over the id-sorted members — round-9 scores,
    first maximum = smallest cid, score tiles bounded by _TILE_ELEMS.
    The key's whole vector fan-in is already materialized by
    applyInArrow; _TARGET_ROWS_PER_GROUP_TASK sizes the salts to bound
    it."""
    if not left.num_rows or not right.num_rows:
        # Right-only keys: a group/salt no vector probed. Left-only keys
        # cannot occur: vectors route over live groups, and every salt
        # replica of a live group has members.
        return _CAND_ARROW.empty_table()
    cids = right.column("cid").to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.argsort(cids, kind="stable")
    best_id, best_v = _best_centroid_core(
        _list_matrix(left.column("embedding")),
        cids[order],
        _list_matrix(right.column("cvec"))[order],
        similarity=True,
    )
    vids = left.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
    return pa.Table.from_arrays(
        [
            pa.array(vids, type=pa.int64()),
            pa.array(best_id, type=pa.int64()),
            pa.array(best_v, type=pa.float64()),
        ],
        schema=_CAND_ARROW,
    )


def _assign_routed(vectors: DataFrame, route: _Route) -> DataFrame:
    """The plan that consumes a _Route: routed vectors cogroup with the
    member centroids on (group, salt), then one struct-max per vec_id
    (highest score, ties to the smallest cid) joined back to the input
    rows as ``cid`` and ``csim``."""
    spark = vectors.sparkSession
    if bool((route.salts[route.live] == 1).all()):
        member_side = route.members.withColumn("_rt_salt", F.lit(0))
    else:
        # Each group's members are replicated by ITS salt count through a
        # <= g-row broadcast (gid, count) table and sequence(), so the
        # plan stays O(1) in the salt counts and only hot groups pay
        # extra member copies.
        salt_df = spark.createDataFrame(
            [(int(gid), int(route.salts[gid])) for gid in route.live.tolist()],
            "_rt_gid int, _rt_ns int",
        )
        member_side = (
            route.members.join(F.broadcast(salt_df), "_rt_gid")
            .withColumn(
                "_rt_salt", F.explode(F.sequence(F.lit(0), F.col("_rt_ns") - 1))
            )
            .drop("_rt_ns")
            .select("_rt_gid", "cid", "cvec", "_rt_salt")
        )
    cands = (
        _route_vectors(vectors, route)
        .groupBy("_rt_gid", "_rt_salt")
        .cogroup(member_side.groupBy("_rt_gid", "_rt_salt"))
        .applyInArrow(_per_group_best, _CAND_SCHEMA)
    )
    best = cands.groupBy("_rt_vid").agg(
        F.max(
            F.struct(
                F.col("_rt_score").alias("s"),
                (-F.col("_rt_cand")).alias("nid"),
            )
        ).alias("_rt_best")
    )
    best = best.select(
        F.col("_rt_vid"),
        (-F.col("_rt_best.nid")).alias("_rt_out"),
        F.col("_rt_best.s").alias("_rt_sc"),
    )
    out_cols = [F.col(f.name) for f in vectors.schema.fields] + [
        F.col("_rt_out").cast("long").alias("cid"),
        F.col("_rt_sc").alias("csim"),
    ]
    return vectors.join(best, vectors["vec_id"] == best["_rt_vid"], "inner").select(
        *out_cols
    )


def routed_best_centroid_distributed(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    n_centroids: "int | None" = None,
    n_vectors: "int | None" = None,
) -> DataFrame:
    """SemDeDup's 'distributed' assignment tier (module docstring has the
    full shape): ``vectors`` (unique ``vec_id``, ``embedding``) plus
    ``cid`` and ``csim``, each vector's approximate argmax round-9
    centroid over ``centroids`` (``cid``, ``cvec``), ties to the
    smallest cid. ``vec_id`` must be unique: the global merge keys on
    it and the result is joined back by it.

    ``n_centroids``/``n_vectors`` are the counts when the caller holds
    them (semantic_dedup's seed rule derives k numerically); each skips
    one count job. They size the router and the salts only, so a wrong
    positive value never changes an answer, and a value <= 0 is treated
    as unknown. Empty centroids give an empty output."""
    route = _decide_route(vectors, centroids, n_centroids, n_vectors)
    if route is None:
        return vectors.sparkSession.createDataFrame(
            [],
            T.StructType(
                list(vectors.schema.fields)
                + [
                    T.StructField("cid", T.LongType()),
                    T.StructField("csim", T.DoubleType()),
                ]
            ),
        )
    return _assign_routed(vectors, route)
