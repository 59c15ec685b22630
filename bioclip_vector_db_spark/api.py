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
and ``top_n < 1`` or ``nprobe < 1`` with ``ValueError``. ``search_batch``
stays a distributed plan: its query table is unbounded, so its routing
must scale with it rather than run on the driver.
"""

from __future__ import annotations

import copy
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.vector import PARITY_SCALE, cosine_distance, lit_array
from .operators.knn import ivf_search, seed_kernel_choice
from .operators.knn_numpy import _collect_centroids

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


def _probe_partitions(
    pids: np.ndarray, cmat: np.ndarray, q: np.ndarray, nprobe: int
) -> list[int]:
    """The ``nprobe`` partitions ``knn.route_queries`` (expression kernel)
    picks for ``q``, computed on the driver: distance ``1 - dot`` with the
    dot a left fold from 0.0 in dim order (the ``aggregate(zip_with(...))``
    order; ``cmat @ q`` sums in BLAS order and can differ in the last ulp),
    rounded like Spark, ties to the smaller partition id."""
    acc = np.zeros(len(pids))
    for j, qj in enumerate(q):
        acc += cmat[:, j] * qj
    ranked = sorted(zip(map(_spark_round, (1.0 - acc).tolist()), pids.tolist()))
    return [pid for _, pid in ranked[:nprobe]]


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
        seed_kernel_choice(self.centroids, len(self._centroid_ids))
        self._read_grown_tables()

    def _read_grown_tables(self) -> None:
        """(Re-)read the two tables appends grow: a parquet read lists its
        files once, so rows appended later need a new read."""
        self.corpus = self.spark.read.parquet(f"{self.index_dir}/corpus")
        self.id_mapping = self.spark.read.parquet(f"{self.index_dir}/id_mapping")

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
        open, by the exact rule of ``knn.route_queries`` (expression
        kernel). The plan is one scan statically pruned to the probed
        partitions: per-partition ``row_number() <= top_n`` over
        (distance, neighbor_id), the first GLOBAL_MAX_NEIGHBORS by
        (distance, neighbor_id), returned ordered by (distance, id) — the
        rows ``ivf_search`` gives, in at most 2 Spark jobs.

        Raises ``ValueError`` when the query length differs from the index
        dimension, a component is not finite, or ``top_n``/``nprobe`` < 1.
        """
        q = np.asarray(query_vector, dtype=np.float64)
        dim = self._centroid_matrix.shape[-1]
        if q.ndim != 1 or len(q) != dim:
            raise ValueError(f"query has shape {q.shape}, the index dimension is {dim}")
        if not np.isfinite(q).all():
            raise ValueError("query has a non-finite component")
        if top_n < 1 or nprobe < 1:
            raise ValueError(f"top_n and nprobe must be >= 1, got {top_n} and {nprobe}")
        probes = _probe_partitions(self._centroid_ids, self._centroid_matrix, q, nprobe)
        scored = self.corpus.filter(F.col("partition_id").isin(probes)).select(
            "partition_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_distance(lit_array(q.tolist()), F.col("embedding")).alias("distance"),
        )
        by_distance = (F.col("distance").asc(), F.col("neighbor_id").asc())
        w = Window.partitionBy("partition_id").orderBy(*by_distance)
        hits = (
            scored.withColumn("local_rank", F.row_number().over(w))
            .filter(F.col("local_rank") <= top_n)
            .orderBy(*by_distance)
            .limit(GLOBAL_MAX_NEIGHBORS)
        )
        # O25 id remap: hits carry vec_id, whose original_id is its string
        # form by construction (build_id_mapping) — the join degenerates to
        # a cast here; against an external id space it would be
        # hits.join(id_mapping, ["partition_id", "faiss_id"]).
        return hits.select(
            F.col("neighbor_id").cast("string").alias("id"), "distance"
        ).orderBy(F.col("distance").asc(), F.col("id").asc())

    def search_batch(self, queries: DataFrame, top_n: int = DEFAULT_TOP_N, nprobe: int = DEFAULT_NPROBE) -> DataFrame:
        """X3: the same search lifted to a query table. Routing stays a
        distributed plan (``knn.ivf_search``): the query table has no size
        bound, so it is never collected to the driver."""
        return ivf_search(
            queries, self.corpus, self.centroids, nprobe=nprobe, top_n=top_n,
            global_limit=GLOBAL_MAX_NEIGHBORS,
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
        and appended as new per-partition files. Cost is O(|batch|) plus
        one tiny max-per-partition aggregate over the stored corpus —
        independent of corpus size at the write layer, since
        ``partitionBy`` append only creates files under the touched
        partition directories.

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
