"""Vectorized KNN kernel: blocked numpy matrix products via ``mapInArrow``.

SURVEY.md §4.2 calls this swap out explicitly: the Catalyst
``aggregate(zip_with(...))`` similarity kernel is JVM-side but per-row and
interpreted (higher-order functions don't enter whole-stage codegen); when
a profile shows the dot product itself dominating, the same logical plan
can score each Arrow batch as ONE ``E @ Q.T`` BLAS call.

Every stage has one transport: Arrow in, a shared numeric ``*_core``,
Arrow out. The vector values buffer feeds the GEMM operand directly via
``_list_matrix`` and id/vector columns pass through as Arrow arrays, so
no row is boxed as a Python object on either side of a ``mapInArrow``
stage. The ``*_core`` functions own every numeric rule (float64
matrices, tiled round-9 GEMMs, tie order); the closures only move
columns in and out.

Shape (identical distribution semantics to ``knn.knn_join``):
1. the query side is small by contract (the reference serves one vector per
   request; batch mode broadcasts a bounded query set) — it ships to every
   task as a captured numpy matrix, the closure analog of a broadcast join;
2. each corpus Arrow batch emits only its local top-k per query
   (``argpartition``, O(b) per query) — the map-side pre-limit that
   WindowGroupLimit provides in the expression version;
3. a final window over #tasks x k x #queries candidate rows picks the
   global top-k. Shuffle volume is O(k) per query per task, never O(corpus).

Numeric note: BLAS accumulation order differs from the expression fold, so
distances can differ in the last ulp — results are rank-identical on
separated data but NOT guaranteed hash-identical, which is why this kernel
backs the library/tests rather than an oracle-gated query.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("distance", T.DoubleType()),
    ]
)

#: Above this many centroids the interpreted ``transform``/``array_min``
#: fold loses to a blocked GEMM: per row it costs nlist x dim interpreted
#: multiply-adds (no codegen for higher-order functions), which at the
#: reference's nlist = floor(10*sqrt(N)) contract
#: (/root/reference/src/bioclip_vector_db/storage/storage_impl.py:78-82;
#: nlist=31,622 at N=1e7, 316,227 at N=1e9) is ~16M interpreted ops per
#: 512-d vector already at N=1e7, plus a >100 MB single-row broadcast
#: struct. knn.assign_partitions / knn.route_queries switch kernels here,
#: on the centroid count their caller passes.
LARGE_NLIST_THRESHOLD = 1024

#: Cap on the centroid-block size of the scoring GEMM: the b x cblock
#: distance tile stays ~64 MB of doubles regardless of nlist, so executor
#: memory is bounded by (batch x block), never (batch x nlist).
_TILE_ELEMS = 8_000_000


def _list_matrix(col: "pa.Array | pa.ChunkedArray") -> "np.ndarray":
    """(n, d) float64 matrix from an Arrow list<float|double> column with
    NO per-row Python boxing. flatten() honors slice offsets, so this
    reads the values buffer directly; a ragged or null-bearing vector
    column fails the reshape loudly (the embedding contract is fixed-d,
    non-null)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    vals = col.flatten().to_numpy(zero_copy_only=False)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    return vals.astype(np.float64, copy=False).reshape(n, -1)


def _pa_cast(arr: "pa.Array | pa.ChunkedArray", typ: "pa.DataType") -> "pa.Array":
    """Column coerced to the target Arrow type (combining chunks): list
    child-field NAMES differ between hand-built arrays ('item') and
    Spark's schema ('element'), and Spark's Arrow-UDF boundary checks the
    declared schema — the cast is metadata-only for same-layout types."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr if arr.type == typ else arr.cast(typ)


def _rb_append(
    rb: "pa.RecordBatch", out_arrow: "pa.Schema", extras: "list[pa.Array]"
) -> "pa.RecordBatch":
    """Input RecordBatch columns passed through UNTOUCHED (cast to the
    declared output types — metadata-only for same-layout lists) plus the
    kernel's appended result arrays. The input columns are by construction
    the leading fields of the output schema (every kernel here emits
    ``input fields + [result, score?]``), so field(i) aligns by position."""
    n_in = rb.num_columns
    cols = [_pa_cast(rb.column(i), out_arrow.field(i).type) for i in range(n_in)]
    cols += [
        _pa_cast(a, out_arrow.field(n_in + j).type) for j, a in enumerate(extras)
    ]
    return pa.RecordBatch.from_arrays(cols, schema=out_arrow)


def _collect_centroids(centroids: DataFrame, pid_col: str, vec_col: str):
    """Centroid matrix sorted by partition id -> (pids int64[k], C float64[k,d]).

    Driver-side collect is the point: the centroid table is nlist x dim
    (~130 MB at the reference's nlist = 10*sqrt(N) design point) —
    broadcast-variable territory, not join territory. Ascending-pid
    order makes every argmin-first tiebreak below equal the expression
    kernel's lexicographic (d, pid) min. Above
    knn_routed.DISTRIBUTED_K_THRESHOLD rows (SemDeDup's k = n/64
    contract at extreme n) this collect is itself the scale problem —
    the distributed tier (knn_routed.py) replaces it with a capped
    router sample and never materializes the table on the driver.
    """
    # Sorted on the driver: an orderBy would add a range-partitioning
    # sample job and an exchange to a collect of nlist rows.
    rows = sorted(centroids.select(pid_col, vec_col).collect(), key=lambda r: r[0])
    pids = np.array([r[0] for r in rows], dtype=np.int64)
    cmat = np.array([r[1] for r in rows], dtype=np.float64)
    return pids, cmat


def _best_centroid_core(
    emb: "np.ndarray",
    bids: "np.ndarray",
    bC: "np.ndarray",
    similarity: bool,
):
    """Numeric core of the flat blocked-GEMM argbest. Blocks ascend by
    id, within a block arg{min,max} takes the FIRST extremum, cross-block
    updates require a strict improvement, scores round to 9 dp BEFORE
    comparison. Returns (best_id int64[b], best_v float64[b])."""
    b = emb.shape[0]
    k = len(bids)
    cblock = max(1, min(k, _TILE_ELEMS // max(b, 1)))
    best_v = np.full(b, -np.inf if similarity else np.inf)
    best_id = np.zeros(b, dtype=np.int64)
    for s in range(0, k, cblock):
        blk = emb @ bC[s : s + cblock].T  # b x cblock
        if not similarity:
            blk = 1.0 - blk
        np.round(blk, 9, out=blk)
        # first extremum = smallest id within the block
        j = blk.argmax(axis=1) if similarity else blk.argmin(axis=1)
        v = blk[np.arange(b), j]
        upd = (v > best_v) if similarity else (v < best_v)
        best_v[upd] = v[upd]
        best_id[upd] = bids[s + j[upd]]
    return best_id, best_v


def _append_best_centroid(
    vectors: DataFrame,
    ids: "np.ndarray",
    payload: tuple,
    core,
    *,
    vec_col: str,
    out_field: "T.StructField",
    score_field: "str | None",
) -> DataFrame:
    """The one ``mapInArrow`` wrapper of the in-memory argbest kernels:
    the input rows pass through untouched, plus ``out_field`` (the best
    centroid id) and, when named, ``score_field`` (its round-9 score),
    where ``core(emb, *payload)`` returns ``(best_id, best_v)`` for one
    Arrow batch's matrix. ``payload`` is broadcast once. An empty
    centroid table gives an empty output: without that guard every row
    would get id 0 and an infinite score."""
    fields = list(vectors.schema.fields) + [out_field]
    if score_field is not None:
        fields.append(T.StructField(score_field, T.DoubleType()))
    out_schema = T.StructType(fields)
    if len(ids) == 0:
        return vectors.sparkSession.createDataFrame([], out_schema)
    bc = vectors.sparkSession.sparkContext.broadcast(payload)
    out_np_type = np.int32 if isinstance(out_field.dataType, T.IntegerType) else np.int64
    out_arrow = to_arrow_schema(out_schema)
    vec_idx = [f.name for f in vectors.schema.fields].index(vec_col)

    def score_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        args = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            best_id, best_v = core(_list_matrix(rb.column(vec_idx)), *args)
            extras = [pa.array(best_id.astype(out_np_type))]
            if score_field is not None:
                extras.append(pa.array(best_v, type=pa.float64()))
            yield _rb_append(rb, out_arrow, extras)

    return vectors.mapInArrow(score_arrow, out_schema)


def _blocked_best_centroid(
    vectors: DataFrame,
    collected: tuple,
    *,
    vec_col: str,
    similarity: bool,
    out_field: "T.StructField",
    score_field: "str | None" = None,
) -> DataFrame:
    """Flat exact argbest against the ``(ids, matrix)`` pair of
    _collect_centroids: argmin cosine distance (assign_partitions_numpy)
    or argmax dot similarity (SemDeDup's 'flat' tier). Each Arrow batch
    is scored by _best_centroid_core: scores round to 9 decimals before
    comparison, exactly like the expression kernels, and ties break
    toward the smallest id. Map-side only: no join, no shuffle, no row
    expansion."""
    ids, cmat = collected
    return _append_best_centroid(
        vectors,
        ids,
        (ids, cmat),
        lambda emb, bids, bC: _best_centroid_core(emb, bids, bC, similarity),
        vec_col=vec_col,
        out_field=out_field,
        score_field=score_field,
    )


def assign_partitions_numpy(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    pid_col: str = "partition_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """O19 nearest-centroid assignment as a blocked GEMM — the large-nlist
    kernel ``knn.assign_partitions`` runs when its caller passes ``nlist``
    above LARGE_NLIST_THRESHOLD.

    Round-9-then-argmin distances, ties to the smallest pid — identical
    winners to the expression fold; see _blocked_best_centroid for the
    shared core. Output is the input plus ``partition_id``. Always
    exact-flat: an IVF layout is a persisted artifact whose search recall
    it determines, and the two-tier routed kernel agreed with the exact
    argmin on only 48-73% of an unstructured 64-d corpus (SCALING.md
    §2.1)."""
    return _blocked_best_centroid(
        vectors,
        _collect_centroids(centroids, pid_col, centroid_vec_col),
        vec_col=vec_col,
        similarity=False,
        out_field=T.StructField(pid_col, T.IntegerType()),
    )


#: Super-centroid groups probed per vector. Fixed probes + g =
#: sqrt(probes * k) groups minimizes per-vector work g + probes * k / g
#: at 2 sqrt(probes * k); raising it trades wall for recall exactly like
#: IVF's nprobe.
ROUTE_PROBES = 8

#: Lloyd iterations for the driver-side mini k-means that groups the
#: centroid table. The supers only need to be a decent routing partition,
#: not converged clusters.
_SUPER_KMEANS_ITERS = 8


def _super_centroids(cmat: "np.ndarray", g: "int | None" = None):
    """Deterministic driver-side grouping of the (id-sorted) centroid
    matrix into g = ceil(sqrt(ROUTE_PROBES * k)) groups: Lloyd's k-means with
    evenly-strided init (no RNG — same input, same groups, so routed
    results are reproducible run-to-run). Returns (S, members): the
    non-empty groups' mean matrix g' x d and, per group, the ascending
    row-indices of its member centroids (ascending row-index == ascending
    centroid id, preserving the smallest-id tiebreak within a group).

    ``g`` overrides the group count — the distributed tier
    (knn_routed.py) builds its router from a SAMPLE of the centroid
    table, so the group count must come from the FULL table's k, not
    from len(cmat).

    Cost is O(k * g * d) = O(k^1.5 d) BLAS on the driver — sub-second at
    the stress decades (k <= 2,000) and bounded by the same
    centroid-table-fits-on-the-driver contract _collect_centroids already
    imposes on the flat kernel (the distributed tier bounds it by the
    sample cap instead)."""
    k = cmat.shape[0]
    g = min(k, max(2, g if g is not None else math.ceil(math.sqrt(ROUTE_PROBES * k))))
    S = cmat[np.linspace(0, k - 1, g).astype(np.int64)].copy()
    assign = None
    for _ in range(_SUPER_KMEANS_ITERS):
        # argmin Euclidean == argmax (c . s - ||s||^2 / 2)
        scores = cmat @ S.T - 0.5 * (S * S).sum(axis=1)
        assign = scores.argmax(axis=1)
        for j in range(g):
            m = assign == j
            if m.any():
                S[j] = cmat[m].mean(axis=0)
    members = [np.nonzero(assign == j)[0] for j in range(g)]
    # Split oversized groups: a group's routing score concentrates like
    # 1/sqrt(size) (mean of near-orthogonal members), so Lloyd's natural
    # imbalance (sizes 2..20 at k=600) makes the LARGEST groups exactly
    # the ones whose members can't be routed to — the empirically
    # measured miss mode. Chunking any group above ~1.5x the target size
    # (ascending member order, so within-chunk ids still ascend) bounds
    # the weakest routing signal at a constant factor of the average.
    cap = max(2, math.ceil(1.5 * k / g))
    split: list[np.ndarray] = []
    for m in members:
        if len(m) == 0:
            continue
        for s in range(0, len(m), cap):
            split.append(m[s : s + cap])
    S = np.stack([cmat[m].mean(axis=0) for m in split])
    # Unit-normalize the routing means: the probe compares scores ACROSS
    # groups, and an unnormalized mean scales each group's score by
    # ||mean|| ~ 1/sqrt(size) — biasing the probe toward small groups'
    # noise. Normalization is safe because S is only ever used for
    # RELATIVE routing ranks, never as an output value.
    norms = np.linalg.norm(S, axis=1, keepdims=True)
    S = S / np.where(norms < 1e-12, 1.0, norms)
    return S, split


def _tiled_top_groups(emb: "np.ndarray", S: "np.ndarray", p: int) -> "np.ndarray":
    """Top-``p`` routing-group ids per row of ``emb`` by raw dot against
    the (normalized) group-mean matrix ``S`` — TILED over super-centroid
    blocks so the b x g score matrix never materializes whole (r11
    ADVICE: at SemDeDup's design point k ~ 1e7 -> g ~ 11,000 groups, an
    untiled ``emb @ S.T`` is ~880 MB of doubles per 10k-row Arrow
    batch). Peak memory is the b x gblock tile, bounded by _TILE_ELEMS
    exactly like _blocked_best_centroid's scoring GEMM.

    Selection is a TOTAL order — (round-9 score desc, group id asc) —
    applied both within each tile (stable descending argsort: column
    index ascends with group id, so equal scores keep the smaller gid)
    and to the pooled candidates (lexsort). This makes the returned set
    a pure function of (emb row, S, p): any element of the true global
    top-p under the total order is within its own tile's top-p, so
    per-tile truncation can never evict it — the result is INVARIANT to
    the tile width and therefore to the Arrow batch size that feeds it
    (r12 ADVICE: the previous argpartition selection resolved boundary
    ties by tile layout, so exact-duplicate embeddings — SemDeDup's
    normal input — could probe different groups under different batch
    shapes). Scores are rounded to 9 dp BEFORE comparison, the family's
    standard tie contract — necessary here, not just conventional:
    BLAS evaluates the same mathematical dot with shape-dependent
    summation order, so exact ties differ in the last ulp ACROSS tiles
    and no selection rule alone could make raw scores tile-invariant.
    Returns an int64 (b, p) array of group ids, best-first within a
    row."""
    b, g = emb.shape[0], S.shape[0]
    p = min(p, g)
    gblock = max(p, min(g, _TILE_ELEMS // max(b, 1)))
    cand_s: list[np.ndarray] = []
    cand_g: list[np.ndarray] = []
    for s in range(0, g, gblock):
        blk = emb @ S[s : s + gblock].T  # b x gblock
        np.round(blk, 9, out=blk)
        t = min(p, blk.shape[1])
        # Stable argsort on the negated scores: descending by score,
        # ascending column (== ascending gid) among equals.
        idx = np.argsort(-blk, axis=1, kind="stable")[:, :t]
        cand_s.append(np.take_along_axis(blk, idx, axis=1))
        cand_g.append(idx + s)
    sall = np.concatenate(cand_s, axis=1)  # b x (t*tiles)
    gall = np.concatenate(cand_g, axis=1)
    if sall.shape[1] == p:
        return gall  # single exact-width tile: already the answer
    # Pooled (score desc, gid asc) — last lexsort key is primary.
    order = np.lexsort((gall, -sall), axis=1)[:, :p]
    return np.take_along_axis(gall, order, axis=1)


def _invert_top_to_rows(top: "np.ndarray"):
    """Invert a (b, p) row->probed-groups table to per-group row lists in
    ONE O(b*p log(b*p)) pass (r11 ADVICE: the per-group ``(top == j)``
    scan was O(b*g) per batch — an 11k-iteration Python loop over mostly
    absent groups at the design point). Yields ``(group_id, rows_idx)``
    for exactly the groups PRESENT in ``top``; rows_idx ascends (row
    order within equal keys survives the stable sort because the
    flattened layout is row-major), preserving the ascending-row
    invariant the update step's fancy indexing relies on."""
    b, p = top.shape
    flat_rows = np.repeat(np.arange(b, dtype=np.int64), p)
    flat_grp = top.ravel()
    order = np.argsort(flat_grp, kind="stable")
    sg = flat_grp[order]
    sr = flat_rows[order]
    uniq, starts = np.unique(sg, return_index=True)
    bounds = np.append(starts, len(sg))
    for ui in range(len(uniq)):
        yield int(uniq[ui]), sr[bounds[ui] : bounds[ui + 1]]


def _routed_best_core(
    emb: "np.ndarray",
    bids: "np.ndarray",
    bC: "np.ndarray",
    bS: "np.ndarray",
    bmem: "list[np.ndarray]",
    p: int,
):
    """Numeric core of the two-tier routed argmax. Tiled routing scores
    + one-pass top->rows inversion: per batch this is O(b sqrt(k) d)
    GEMM + O(b p log(b p)) sort, never O(b g) per-group scans or a whole
    b x g tile. Returns (best_id int64[b], best_v float64[b])."""
    b = emb.shape[0]
    top = _tiled_top_groups(emb, bS, p)  # b x p group ids
    best_v = np.full(b, -np.inf)
    best_id = np.full(b, np.iinfo(np.int64).max, dtype=np.int64)
    for j, rows_idx in _invert_top_to_rows(top):
        mem = bmem[j]
        blk = emb[rows_idx] @ bC[mem].T  # hits x |group|
        np.round(blk, 9, out=blk)
        # first maximum = smallest id within the group (members ascend
        # by id)
        jj = blk.argmax(axis=1)
        v = blk[np.arange(len(rows_idx)), jj]
        cand = bids[mem[jj]]
        cur_v = best_v[rows_idx]
        cur_id = best_id[rows_idx]
        # Groups are NOT id-ordered, so cross-group ties need the
        # explicit smallest-id rule the flat kernel gets for free from
        # ascending-id blocks.
        upd = (v > cur_v) | ((v == cur_v) & (cand < cur_id))
        tgt = rows_idx[upd]
        best_v[tgt] = v[upd]
        best_id[tgt] = cand[upd]
    return best_id, best_v


def _routed_best_centroid(vectors: DataFrame, collected: tuple) -> DataFrame:
    """SemDeDup's in-memory 'routed' tier over the ``(ids, matrix)`` pair
    of _collect_centroids: route each ``embedding`` to its
    top-ROUTE_PROBES super-centroid groups (one b x g GEMM), then take
    the argmax only against the routed groups' members — O(n sqrt(k) d)
    where the flat kernel is O(n k d). Appends ``cid`` and ``csim`` with
    the flat kernel's round-9-then-compare and smallest-id rules, applied
    over the PROBED candidate set: the result equals the flat kernel's
    whenever the true best centroid's group is probed (recall-gated on
    structured inputs — SemDeDup's centroids are k-means means of the
    data being assigned, so each vector's best group dominates the
    routing scores)."""
    ids, cmat = collected
    # An empty table never reaches the core (empty in, empty out).
    groups = _super_centroids(cmat) if len(ids) else (None, None)
    return _append_best_centroid(
        vectors,
        ids,
        (ids, cmat, *groups),
        lambda emb, bids, bC, bS, bmem: _routed_best_core(
            emb, bids, bC, bS, bmem, ROUTE_PROBES
        ),
        vec_col="embedding",
        out_field=T.StructField("cid", T.LongType()),
        score_field="csim",
    )


def route_queries_numpy(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    pid_col: str = "partition_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """O22 top-``nprobe`` centroid routing as a blocked GEMM — the
    large-nlist kernel ``knn.route_queries`` runs when its caller passes
    ``nlist`` above LARGE_NLIST_THRESHOLD.

    The expression form expands each query to nlist scored rows and window-
    ranks them; here each Arrow batch keeps a per-block top-nprobe candidate
    set (argpartition, O(cblock) per query) and emits exactly nprobe rows
    per query — no row expansion, no window shuffle. Ordering matches the
    expression kernel: round-9 distances, (distance, pid) ascending.
    Returns ``(query_id, qv, partition_id, probe_rank)``.
    """
    pids, cmat = _collect_centroids(centroids, pid_col, centroid_vec_col)
    bc = queries.sparkSession.sparkContext.broadcast((pids, cmat))
    out_schema = T.StructType(
        [
            next(f for f in queries.schema.fields if f.name == query_id_col),
            next(f for f in queries.schema.fields if f.name == query_vec_col),
            T.StructField(pid_col, T.IntegerType()),
            T.StructField("probe_rank", T.LongType()),
        ]
    )

    def _route_topn_core(qmat: "np.ndarray", bpids: "np.ndarray", bC: "np.ndarray"):
        """Numeric core. Returns the (b, take) int32 pid matrix in exact
        (d, pid) lexicographic order per row."""
        b = qmat.shape[0]
        k = len(bpids)
        take = min(nprobe, k)
        cblock = max(take, min(k, _TILE_ELEMS // max(b, 1)))
        cand_d: list[np.ndarray] = []
        cand_p: list[np.ndarray] = []
        for s in range(0, k, cblock):
            dblk = 1.0 - qmat @ bC[s : s + cblock].T  # b x cblock
            np.round(dblk, 9, out=dblk)
            t = min(take, dblk.shape[1])
            # Stable per-block (distance, pid) truncation: column index
            # ascends with pid (bpids is pid-sorted, the block slice is
            # contiguous) and a stable argsort keeps ascending-column
            # order among equal distances — so a boundary tie can never
            # evict a smaller-pid centroid before the global (d, pid)
            # lexsort below sees it. argpartition picked an arbitrary
            # member among >t boundary ties, diverging from the expr
            # kernel exactly at the reference's nlist=31,622 design
            # point (neighborhood_server.py:181-185 routing order).
            idx = np.argsort(dblk, axis=1, kind="stable")[:, :t]  # b x t
            cand_d.append(np.take_along_axis(dblk, idx, axis=1))
            cand_p.append(bpids[s + idx])
        dall = np.concatenate(cand_d, axis=1)  # b x (t*blocks)
        pall = np.concatenate(cand_p, axis=1)
        # Exact (d, pid) lexicographic order over the candidate pool.
        order = np.lexsort((pall, dall), axis=1)[:, :take]
        return np.take_along_axis(pall, order, axis=1).astype(np.int32)

    out_arrow = to_arrow_schema(out_schema)

    def route_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bpids, bC = bc.value
        take = min(nprobe, len(bpids))
        for rb in batches:
            b = rb.num_rows
            if not b:
                continue
            qmat = _list_matrix(rb.column(1))
            sel = _route_topn_core(qmat, bpids, bC)
            # The query id/vector columns replicate via Arrow take on a
            # repeated row index — no per-row Python list of vectors.
            rep = pa.array(np.repeat(np.arange(b, dtype=np.int64), take))
            yield pa.RecordBatch.from_arrays(
                [
                    _pa_cast(rb.column(0), out_arrow.field(0).type).take(rep),
                    _pa_cast(rb.column(1), out_arrow.field(1).type).take(rep),
                    pa.array(sel.ravel(), type=pa.int32()),
                    pa.array(
                        np.tile(np.arange(1, take + 1, dtype=np.int64), b),
                        type=pa.int64(),
                    ),
                ],
                schema=out_arrow,
            )

    return queries.select(query_id_col, query_vec_col).mapInArrow(
        route_arrow, out_schema
    )


#: knn_join_numpy collects the query side to the driver to build the
#: broadcast GEMM operand — correct only for BOUNDED query sets. Above
#: this many query rows the collect would risk driver memory instead of
#: failing fast; the distributed knn_join / q_knn_batch_join path has no
#: such bound and should be used instead.
KNN_JOIN_NUMPY_MAX_QUERIES = 100_000


def knn_join_numpy(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine join with a BLAS inner loop.
    Returns ``(query_id, neighbor_id, distance, rank)`` like ``knn_join``.

    The query side is collected to the driver (the GEMM operand is
    broadcast to every Arrow batch), so it must be small by contract:
    more than KNN_JOIN_NUMPY_MAX_QUERIES rows raises ValueError naming
    the distributed alternative rather than OOMing the driver. The
    bound is checked with a ``limit(cap+1)`` probe — one cheap scan
    that stops early, never a full count of an oversized side."""
    cap = KNN_JOIN_NUMPY_MAX_QUERIES
    probe = queries.select(query_id_col, query_vec_col).limit(cap + 1)
    qrows = probe.collect()
    if len(qrows) > cap:
        raise ValueError(
            f"knn_join_numpy collects the query side to the driver and is "
            f"capped at {cap} query rows (got more); use the distributed "
            "knn_join (operators/knn.py) or the registered q_knn_batch_join "
            "path for large query sets"
        )
    if not qrows:
        spark = queries.sparkSession
        empty = spark.createDataFrame([], _CAND_SCHEMA)
        return empty.withColumn("rank", F.lit(None).cast("bigint"))
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)  # q x d

    def _knn_block_core(emb: "np.ndarray", ids: "np.ndarray"):
        """Numeric core. Per corpus batch: local top-k per query
        (argpartition, O(b) per query). Returns flat (query_id,
        neighbor_id, distance) arrays."""
        dist = 1.0 - emb @ qmat.T  # b x q
        top = min(k, emb.shape[0])
        out_q, out_n, out_d = [], [], []
        for j in range(len(qids)):
            idx = np.argpartition(dist[:, j], top - 1)[:top]
            out_q.append(np.full(top, qids[j]))
            out_n.append(ids[idx])
            out_d.append(np.round(dist[idx, j], 9))
        return (
            np.concatenate(out_q),
            np.concatenate(out_n),
            np.concatenate(out_d),
        )

    cand_arrow = to_arrow_schema(_CAND_SCHEMA)

    def score_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            emb = _list_matrix(rb.column(1))
            ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            oq, on, od = _knn_block_core(emb, ids)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(oq, type=pa.int64()),
                    pa.array(on, type=pa.int64()),
                    pa.array(od, type=pa.float64()),
                ],
                schema=cand_arrow,
            )

    cands = corpus.select(corpus_id_col, corpus_vec_col).mapInArrow(
        score_arrow, _CAND_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def pq_encode_numpy(
    corpus: DataFrame,
    codebooks: DataFrame,
    *,
    m: int,
    sub_dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding as blocked GEMMs — the large-codebook twin of
    ``quantization.pq_encode``'s expression fold, called directly.

    Per Arrow batch and subspace, squared-L2 to every code is one
    ``sub @ csub.T`` BLAS call plus row/col norms; distances are rounded
    to 9 decimals before the argmin (ties -> smallest code: the codebook
    is sorted ascending and argmin takes the first minimum), matching the
    expression kernel's ``array_min`` ordering. Map-side only — no join,
    no shuffle, no row expansion. At a real 256-code book this replaces
    m x 256 x sub_dim interpreted multiply-adds per row.
    """
    rows = codebooks.select("code", "mean_vec").orderBy("code").collect()
    codes = np.array([r[0] for r in rows], dtype=np.int64)
    cmat = np.array([r[1] for r in rows], dtype=np.float64)  # k x dim
    bc = corpus.sparkSession.sparkContext.broadcast((codes, cmat))
    out_schema = T.StructType(
        list(corpus.schema.fields)
        + [T.StructField(f"pq_code_{s}", T.IntegerType()) for s in range(m)]
    )

    def _pq_codes_core(emb: "np.ndarray", bcodes, bC):
        """Numeric core. Returns the m per-subspace int32 code arrays."""
        out = []
        for s in range(m):
            sub = emb[:, s * sub_dim : (s + 1) * sub_dim]
            csub = bC[:, s * sub_dim : (s + 1) * sub_dim]
            d = (
                (sub * sub).sum(axis=1)[:, None]
                - 2.0 * (sub @ csub.T)
                + (csub * csub).sum(axis=1)[None, :]
            )
            np.round(d, 9, out=d)
            out.append(bcodes[d.argmin(axis=1)].astype(np.int32))
        return out

    out_arrow = to_arrow_schema(out_schema)
    vec_idx = [f.name for f in corpus.schema.fields].index(vec_col)

    def enc_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bcodes, bC = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            emb = _list_matrix(rb.column(vec_idx))
            extras = [
                pa.array(col, type=pa.int32())
                for col in _pq_codes_core(emb, bcodes, bC)
            ]
            yield _rb_append(rb, out_arrow, extras)

    return corpus.mapInArrow(enc_arrow, out_schema)
