"""Numpy references for every answer the benchmark checks.

Each reference restates the program's documented rule independently of
Spark. Distances follow the engine's parity convention (``1 - dot``
rounded to 9 decimals, ties broken by the smaller id), and comparisons
allow a small tolerance because BLAS and Spark's sequential fold sum in
different orders.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

DIST_TOL = 1e-6


def list_column(table, name: str) -> np.ndarray:
    """A fixed-length ``list<double>`` column as an ``(n, dim)`` array."""
    col = table.column(name).combine_chunks()
    flat = col.flatten().to_numpy()
    return flat.reshape(len(col), -1) if len(col) else flat.reshape(0, 0)


@dataclass
class Index:
    ids: np.ndarray
    emb: np.ndarray
    pids: np.ndarray
    faiss_ids: np.ndarray
    cent_ids: np.ndarray
    cents: np.ndarray


def read_index(index_dir: str) -> Index:
    """The corpus and centroid tables exactly as written to disk."""
    corpus = pq.read_table(
        f"{index_dir}/corpus", columns=["vec_id", "embedding", "partition_id", "faiss_id"]
    )
    cent = pq.read_table(f"{index_dir}/centroids")
    order = np.argsort(cent.column("partition_id").to_numpy(), kind="stable")
    return Index(
        ids=corpus.column("vec_id").to_numpy(),
        emb=list_column(corpus, "embedding"),
        pids=corpus.column("partition_id").to_numpy().astype(np.int64),
        faiss_ids=corpus.column("faiss_id").to_numpy(),
        cent_ids=cent.column("partition_id").to_numpy().astype(np.int64)[order],
        cents=list_column(cent, "centroid")[order],
    )


def distances(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    return np.round(1.0 - x @ q, 9)


def ranked(ids: np.ndarray, dist: np.ndarray) -> np.ndarray:
    """Positions sorted by (distance, id)."""
    return np.lexsort((ids, dist))


def ivf_search_ref(
    index: Index, q: np.ndarray, nprobe: int, top_n: int, limit: int = 100
) -> tuple[list[tuple[int, float]], "float | None"]:
    """Two-tier IVF top-k: route to the ``nprobe`` nearest centroids, take
    ``top_n`` per probed partition, merge by (distance, id), keep
    ``limit``. Also returns the distance of the first merged candidate
    cut by ``limit`` (None when nothing was cut), for tie handling."""
    cd = distances(index.cents, q)
    probed = index.cent_ids[ranked(index.cent_ids, cd)[:nprobe]]
    merged: list[tuple[float, int]] = []
    for p in probed:
        mask = index.pids == p
        ids, d = index.ids[mask], distances(index.emb[mask], q)
        for i in ranked(ids, d)[:top_n]:
            merged.append((float(d[i]), int(ids[i])))
    merged.sort()
    cut = merged[limit][0] if len(merged) > limit else None
    return [(i, d) for d, i in merged[:limit]], cut


def ranking_mismatch(
    got: list[tuple[int, float]],
    ref: list[tuple[int, float]],
    cut: "float | None" = None,
    tol: float = DIST_TOL,
) -> "str | None":
    """None when ``got`` equals ``ref`` up to float tolerance: distances
    agree within ``tol`` position by position, and ids agree as sets
    within every run of near-equal distances (the order inside such a run
    depends on the last bits of the sum). The run touching the end may
    differ when ``cut`` ties with it."""
    if len(got) != len(ref):
        return f"{len(got)} rows, expected {len(ref)}"
    gd = np.array([d for _, d in got], dtype=float)
    rd = np.array([d for _, d in ref], dtype=float)
    if len(rd) and np.max(np.abs(gd - rd)) > tol:
        i = int(np.argmax(np.abs(gd - rd)))
        return f"distance at rank {i + 1}: {gd[i]!r}, expected {rd[i]!r}"
    start = 0
    while start < len(ref):
        end = start + 1
        while end < len(ref) and rd[end] - rd[start] <= tol:
            end += 1
        g = {i for i, _ in got[start:end]}
        r = {i for i, _ in ref[start:end]}
        tied_with_cut = end == len(ref) and cut is not None and cut - rd[start] <= tol
        if g != r and not tied_with_cut:
            return f"ids at ranks {start + 1}-{end}: {sorted(g)}, expected {sorted(r)}"
        start = end
    return None


def assignment_mismatches(
    x: np.ndarray, pids: np.ndarray, cent_ids: np.ndarray, cents: np.ndarray, tol: float = DIST_TOL
) -> int:
    """Rows whose stored partition is not (within ``tol``) the nearest."""
    d = np.round(1.0 - x @ cents.T, 9)
    pos = np.searchsorted(cent_ids, pids)
    chosen = d[np.arange(len(x)), pos]
    return int(np.sum(chosen > d.min(axis=1) + tol))


def best_centroid(x: np.ndarray, cids: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """SemDeDup assignment: argmax of the rounded dot to the centroids,
    ties to the smallest centroid id (``cids`` ascending)."""
    return cids[np.argmax(np.round(x @ cents.T, 9), axis=1)]


def semantic_decide_ref(
    ids: np.ndarray,
    x: np.ndarray,
    cluster: np.ndarray,
    cids: np.ndarray,
    cents: np.ndarray,
    threshold: float,
) -> dict[int, tuple[int, int, bool]]:
    """SemDeDup's keep/drop rule over a given assignment ``cluster``:

    - rank within a cluster: rounded dot to the cluster's centroid
      descending, then vec_id ascending;
    - a vector is removed iff a better-ranked member of its cluster has a
      rounded dot with it strictly above ``threshold``.

    Returns ``{vec_id: (cluster_id, rank, kept)}``."""
    pos = np.searchsorted(cids, cluster)
    csim = np.round(np.einsum("ij,ij->i", x, cents[pos]), 9)
    out: dict[int, tuple[int, int, bool]] = {}
    for c in np.unique(cluster):
        members = np.flatnonzero(cluster == c)
        members = members[np.lexsort((ids[members], -csim[members]))]
        pair = np.round(x[members] @ x[members].T, 9) > threshold
        for r, m in enumerate(members):
            out[int(ids[m])] = (int(c), r + 1, not bool(pair[r, :r].any()))
    return out


def shingles(text: str, width: int) -> set[str]:
    """Distinct word ``width``-grams of a single-space separated text."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)}


def jaccard(a: str, b: str, width: int) -> float:
    sa, sb = shingles(a, width), shingles(b, width)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0
