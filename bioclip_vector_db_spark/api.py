"""API-parity layer: the reference's serving surface over a built index.

A user of the reference talks to two things: the storage contract
(reference: src/bioclip_vector_db/storage/storage_interface.py:13-94 —
``add_embedding`` / ``batch_add_embeddings`` / ``query`` / ``reset`` /
``flush``) and the search server (query/neighborhood_server.py:303-350 —
``POST /search {query_vector, top_n, nprobe}``, ``GET /health``; fanned out
by client/nearest_neighbor_client.py:34-95). This module exposes the same
verbs over the Spark-built index tables, so switching engines is a change
of import, not of call shape:

- there are no per-record inserts — ``add_batch`` appends a DataFrame and
  the buffered-writer mechanics (O3) are the parquet writer's job;
- the HTTP envelope is out of scope (SURVEY.md §2.4 O32): ``search``
  returns the merged-neighbor rows the server's JSON ``merged_neighbors``
  field carries, already globally merged (O27/O28 — the multi-server
  fan-out collapses into partitions of one DataFrame).

One ``search`` request has the reference server's shape
(neighborhood_server.py:181-225): the engine collects the centroid table
(the leader index, nlist x dim) once when it opens, routes each request
to its ``nprobe`` partitions on the driver against that matrix, and only
then touches partition data — one statically pruned scan of the probed
partitions, at most 2 Spark jobs per request. ``search`` rejects a query
whose length differs from the index dimension, a non-finite component,
and ``top_n < 1`` or ``nprobe < 1`` with ``ValueError``.

``search_batch`` answers a query table the same way, like the reference
leader's batched search: it collects ``(query_id, qv)`` once, routes every
row on the driver in one vectorized pass, and hands the routed rows to
one statically pruned corpus scan as a JVM local relation. Its bound is
the query table on the driver. ``knn.ivf_search`` already brings nprobe
copies of it there, vectors included, to broadcast its routed rows, so
this collects 1/nprobe of what the distributed plan did. Both verbs route
with one function per rule: the exact expression-kernel fold up to
LARGE_NLIST_THRESHOLD centroids, the blocked-GEMM rule above it — the
kernel ``knn.route_queries`` picks from the same count.
"""

from __future__ import annotations

import copy
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.vector import PARITY_SCALE, cosine_distance_sql, sql_array
from .operators import knn_numpy
# The distributed form stays a name of this module: perfbench's tracer
# wraps api.ivf_search as a layer span.
from .operators.knn import ivf_search  # noqa: F401
from .operators.knn import search_routed
from .operators.knn_numpy import (
    _TILE_ELEMS,
    LARGE_NLIST_THRESHOLD,
    _collect_centroids,
    _list_matrix,
)

#: The reference's request/limit defaults (neighborhood_server.py:312,
#: :417-421; nearest_neighbor_client.py:13).
DEFAULT_TOP_N = 10
DEFAULT_NPROBE = 1
GLOBAL_MAX_NEIGHBORS = 100

_PARITY_QUANTUM = Decimal(1).scaleb(-PARITY_SCALE)


def _spark_round(x: float) -> float:
    """Spark's ``round(x, PARITY_SCALE)`` on a DOUBLE: HALF_UP on the
    decimal string of ``x`` (``BigDecimal.valueOf``). ``repr`` is the
    shortest round-trip string; the JVM's ``Double.toString`` can carry a
    longer one for the same double, which rounds differently only if a
    HALF_UP boundary falls between the two strings."""
    return float(Decimal(repr(x)).quantize(_PARITY_QUANTUM, rounding=ROUND_HALF_UP))


def _route_exact(pids: np.ndarray, cmat: np.ndarray, qmat: np.ndarray, take: int) -> np.ndarray:
    """The expression kernel's routing rule (``knn.route_queries`` up to
    LARGE_NLIST_THRESHOLD centroids) for every row of ``qmat``: distance
    ``1 - dot`` with the dot a left fold from 0.0 in dim order (the
    ``aggregate(zip_with(...))`` order; ``qmat @ cmat.T`` sums in BLAS
    order and can differ in the last ulp), rounded like Spark, ties to
    the smaller partition id (``pids`` ascend)."""
    acc = np.zeros((len(qmat), len(pids)))
    for j in range(cmat.shape[1]):
        acc += qmat[:, j : j + 1] * cmat[:, j]
    dist = np.array([_spark_round(v) for v in (1.0 - acc).ravel().tolist()]).reshape(acc.shape)
    return pids[np.argsort(dist, axis=1, kind="stable")[:, :take]]


def _route(pids: np.ndarray, cmat: np.ndarray, qmat: np.ndarray, nprobe: int) -> np.ndarray:
    """The (b, min(nprobe, nlist)) int32 partition ids each row of
    ``qmat`` probes, nearest first, by the rule ``knn.route_queries``
    picks for this centroid count. Rows go in blocks of at most
    _TILE_ELEMS distances."""
    take = min(nprobe, len(pids))
    gemm = len(pids) > LARGE_NLIST_THRESHOLD
    out = np.empty((len(qmat), take), dtype=np.int32)
    step = max(1, _TILE_ELEMS // max(len(pids), 1))
    for s in range(0, len(qmat), step):
        block = qmat[s : s + step]
        out[s : s + step] = (
            knn_numpy._route_topn_core(block, pids, cmat, nprobe)
            if gemm
            else _route_exact(pids, cmat, block, take)
        )
    return out


def _check_limits(top_n: int, nprobe: int) -> None:
    if top_n < 1 or nprobe < 1:
        raise ValueError(f"top_n and nprobe must be >= 1, got {top_n} and {nprobe}")


def _query_matrix(qids: pa.Array, qv: pa.Array, dim: int) -> np.ndarray:
    """The (b, dim) float64 matrix of a ``qv`` column. Raises ValueError
    naming the first query whose vector is null, is not ``dim`` long, or
    has a null or non-finite component: the expression kernel would give
    that row a null or non-finite distance."""
    lens = pc.list_value_length(qv).to_numpy(zero_copy_only=False)
    bad = np.flatnonzero(~(lens == dim))
    if bad.size:
        i = int(bad[0])
        if not qv[i].is_valid:
            raise ValueError(f"query_id {qids[i].as_py()}: qv is null")
        raise ValueError(
            f"query_id {qids[i].as_py()}: qv has length {int(lens[i])}, "
            f"the index dimension is {dim}"
        )
    if not len(qv):
        return np.empty((0, dim))
    qmat = _list_matrix(qv)
    bad = np.flatnonzero(~np.isfinite(qmat).all(axis=1))
    if bad.size:
        raise ValueError(f"query_id {qids[int(bad[0])].as_py()}: qv has a non-finite component")
    return qmat


def _in_list(pids) -> str:
    """A static partition filter over ``pids``; never renders ``IN ()``."""
    return f"partition_id IN ({', '.join(map(str, pids))})" if len(pids) else "false"


class VectorSearchEngine:
    """Serving-path facade over the three index tables build_index writes."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.centroids = spark.read.parquet(f"{index_dir}/centroids")
        # The leader index in memory, like the reference server: nlist x
        # dim, sorted by partition id. Appends never re-fit it, so it
        # lives as long as the index.
        self._centroid_ids, self._centroid_matrix = _collect_centroids(
            self.centroids, "partition_id", "centroid"
        )
        self.corpus = spark.read.parquet(f"{index_dir}/corpus")
        self.id_mapping = spark.read.parquet(f"{index_dir}/id_mapping")

    def _read_grown_tables(self) -> None:
        """Re-read the two tables appends grow: a parquet read lists its
        files once, so rows appended later need a new read. Appends never
        change a table's schema, so the re-read takes the one inferred at
        open and runs no footer-inference job."""
        self.corpus = self.spark.read.schema(self.corpus.schema).parquet(
            f"{self.index_dir}/corpus"
        )
        self.id_mapping = self.spark.read.schema(self.id_mapping.schema).parquet(
            f"{self.index_dir}/id_mapping"
        )

    # -- search (POST /search analog) ------------------------------------

    def search(
        self,
        query_vector: list[float],
        top_n: int = DEFAULT_TOP_N,
        nprobe: int = DEFAULT_NPROBE,
    ) -> DataFrame:
        """One query vector -> merged neighbors ``(id, distance)`` rows,
        routed to ``nprobe`` partitions, ``top_n`` per partition, globally
        merged ascending by distance (O22-O28).

        Routing runs on the driver against the centroid matrix loaded at
        open, by the rule ``knn.route_queries`` picks for that centroid
        count. The plan is one scan statically pruned to the probed
        partitions: per-partition ``row_number() <= top_n`` over
        (distance, neighbor_id), the first GLOBAL_MAX_NEIGHBORS by
        (distance, neighbor_id), returned ordered by (distance, id) — the
        rows ``ivf_search`` gives, in at most 2 Spark jobs. Its steps are
        SQL strings, one py4j call each.

        Raises ``ValueError`` when the query length differs from the index
        dimension, a component is not finite, or ``top_n``/``nprobe`` < 1.
        """
        q = np.asarray(query_vector, dtype=np.float64)
        dim = self._centroid_matrix.shape[-1]
        if q.ndim != 1 or len(q) != dim:
            raise ValueError(f"query has shape {q.shape}, the index dimension is {dim}")
        if not np.isfinite(q).all():
            raise ValueError("query has a non-finite component")
        _check_limits(top_n, nprobe)
        probes = _route(self._centroid_ids, self._centroid_matrix, q[None, :], nprobe)[0]
        distance = cosine_distance_sql(sql_array(q.tolist()), "embedding")
        hits = (
            self.corpus.where(_in_list(probes.tolist()))
            .selectExpr("partition_id", "vec_id AS neighbor_id", f"{distance} AS distance")
            .selectExpr(
                "*",
                "row_number() OVER (PARTITION BY partition_id ORDER BY distance, neighbor_id)"
                " AS local_rank",
            )
            .where(f"local_rank <= {int(top_n)}")
            .orderBy("distance", "neighbor_id")
            .limit(GLOBAL_MAX_NEIGHBORS)
        )
        # O25 id remap: hits carry vec_id, whose original_id is its string
        # form by construction (build_id_mapping) — the join degenerates to
        # a cast here; against an external id space it would be
        # hits.join(id_mapping, ["partition_id", "faiss_id"]).
        return hits.selectExpr("CAST(neighbor_id AS STRING) AS id", "distance").orderBy(
            "distance", "id"
        )

    def search_batch(self, queries: DataFrame, top_n: int = DEFAULT_TOP_N, nprobe: int = DEFAULT_NPROBE) -> DataFrame:
        """X3: the same search lifted to a query table ``(query_id, qv)``.
        Returns ``(query_id, neighbor_id, partition_id, distance, rank)``:
        the rows, types and row order of ``knn.ivf_search`` with
        ``global_limit=GLOBAL_MAX_NEIGHBORS``.

        The query table is collected once (bounded by the driver: the
        distributed plan already collected nprobe times as much to
        broadcast its routed rows) and routed on the driver like
        ``search``. The routed rows reach the corpus scan as a broadcast
        JVM local relation, the scan is statically pruned to the union of
        the probed partitions, and ``knn.search_routed`` ranks them, the
        tail ``ivf_search`` runs after its own routing. An empty query
        table gives an empty frame of the same schema.

        Raises ``ValueError`` naming the first query whose ``qv`` is
        null, differs in length from the index dimension, or has a
        non-finite component, and when ``top_n``/``nprobe`` < 1.
        """
        _check_limits(top_n, nprobe)
        asked = queries.select("query_id", "qv")
        table = asked.toArrow()
        qids, qv = (table.column(i).combine_chunks() for i in range(2))
        qmat = _query_matrix(qids, qv, self._centroid_matrix.shape[-1])
        probes = _route(self._centroid_ids, self._centroid_matrix, qmat, nprobe)
        rep = pa.array(np.repeat(np.arange(len(qmat)), probes.shape[1]))
        routed = self.spark.createDataFrame(
            pa.table(
                [qids.take(rep), qv.take(rep), pa.array(probes.ravel(), pa.int32())],
                names=["query_id", "qv", "partition_id"],
            ),
            T.StructType(
                [*asked.schema.fields, T.StructField("partition_id", T.IntegerType(), False)]
            ),
        )
        return search_routed(
            self.corpus.where(_in_list(np.unique(probes).tolist())), routed,
            top_n=top_n, global_limit=GLOBAL_MAX_NEIGHBORS,
        )

    def search_radius(self, queries: DataFrame, radius: float) -> DataFrame:
        """Range query over the built index: every neighbor within cosine
        distance ``radius`` — exact by the spread-bound pruning proof
        (operators.knn.radius_search; the oracle gate is the brute-force
        scan). ``queries`` carries (query_id, qv)."""
        from .operators.knn import radius_search

        return radius_search(queries, self.corpus, self.centroids, radius)

    def search_diverse(
        self,
        queries: DataFrame,
        k: int = 5,
        pool: int = 20,
    ) -> DataFrame:
        """MMR-diversified top-k: exact top-``pool`` candidates per query,
        greedily re-ranked for diversity (operators.knn.mmr_rerank —
        integer-quantized scores, per-query Arrow greedy)."""
        from .operators.knn import mmr_rerank

        return mmr_rerank(
            queries, self.corpus.select("vec_id", "embedding"), k=k, pool=pool
        )

    # -- health (GET /health analog) --------------------------------------

    def health(self) -> dict:
        """O29: totals + per-partition counts + dimension consistency
        (neighborhood_server.py:228-241)."""
        agg = self.corpus.agg(
            F.count(F.lit(1)).alias("total"),
            F.countDistinct(F.size("embedding")).alias("n_dims"),
            F.countDistinct("partition_id").alias("n_partitions"),
        ).collect()[0]
        return {
            "status": "healthy" if agg.n_dims == 1 else "unhealthy",
            "total_embeddings": agg.total,
            "partitions_loaded": agg.n_partitions,
            "dimension_consistent": agg.n_dims == 1,
        }

    # -- storage-contract verbs -------------------------------------------

    def query(self, original_id: str) -> DataFrame:
        """Point lookup by original id (StorageInterface.query /
        get_metadata-by-original_id, metadata_storage.py:153-173)."""
        return self.id_mapping.filter(F.col("original_id") == original_id)

    def add_batch(self, vectors: DataFrame) -> "VectorSearchEngine":
        """batch_add_embeddings analog, INCREMENTAL: new rows are
        deduplicated against the stored ids (O12), assigned against the
        EXISTING centroids (no re-fit — the reference never retrains its
        quantizer after the initial fit either, storage_impl.py:103-111),
        given faiss_ids continuing each partition's dense sequence (O20),
        and appended as new per-partition files. The writes are
        O(|batch|): ``partitionBy`` append only creates files under the
        touched partition directories. The existence check is not: its
        anti-join reads the ``vec_id`` column of the whole stored corpus,
        so an append's read cost grows with the index.

        Equivalence contract (tests/test_api.py): with centroids fixed and
        batch ids above the stored ids, append-then-search ==
        rebuild-then-search, byte for byte.
        """
        from .operators.indexing import append_to_index

        append_to_index(self.spark, self.index_dir, vectors, self.centroids)
        grown = copy.copy(self)  # shares the centroids: appends never re-fit
        grown._read_grown_tables()
        return grown

    def reset(self, force: bool = False) -> None:
        """StorageInterface.reset analog (storage_impl.py:56-64): drop the
        index tables; refuses without ``force`` like the reference.

        Takes the same ``.write_lock`` as the write ops (see
        operators.indexing._single_writer), so a reset cannot rip the
        directories out from under an in-flight append/delete rewrite.
        The lock FILE itself is preserved (only the tables are removed):
        deleting it would orphan the inode a blocked writer is waiting
        on, letting a later writer lock a different inode at the same
        path — two \"exclusive\" holders."""
        if not force:
            raise ValueError("reset requires force=True")
        import os
        import shutil

        from .operators.indexing import invalidate_append_state
        from .streaming.staging import process_lock

        if not os.path.isdir(self.index_dir):
            return
        with process_lock(os.path.join(self.index_dir, ".write_lock")):
            invalidate_append_state(self.index_dir)
            for child in os.listdir(self.index_dir):
                if child == ".write_lock":
                    continue
                path = os.path.join(self.index_dir, child)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.unlink(path)

    def close(self) -> None:
        """Serving-tier shutdown: drain every thread's registered
        transient persists (plans/registry.release_all_transients) so a
        long-lived driver whose worker threads churned does not retain
        their JVM-side cache entries (r11 ADVICE). Quiescent-only by the
        drain's contract — call after the last in-flight query on ANY
        thread has completed, exactly like a server's graceful-stop
        hook. The engine object stays usable afterwards (the tables are
        plain reads, not cached state)."""
        from .plans.registry import release_all_transients

        release_all_transients()
