"""Serving-tier concurrency gate: many queries in flight on ONE session.

A Spark-backed serving tier (api.py's facade, or any notebook user) runs
registered queries from multiple driver threads against the same
SparkSession. The engine's module-level state makes three claims that
have never been exercised under real contention:

- ``plans/registry._TRANSIENT_TLS``: the transient registry is
  THREAD-LOCAL (r11) — release_transient() unpersists only what the
  calling thread registered. It used to be one global list, and the
  old docstring claimed cross-thread unpersist was safe ("a later
  action just recomputes"); this very gate falsified that: under the
  4-thread mix below, semantic_dedup intermittently returned an EMPTY
  result (silently — no task error) when a sibling thread unpersisted
  its in-flight `ranked` table mid-collect. Each thread here calls
  release after its query exactly like tools/check_correctness.py does
  per query;
- ``knn._DERIVED_CACHE``: two threads may race to build the same
  derived table — last write wins, both values equivalent;
- Spark itself: concurrent job submission on one session is supported.

The gate runs a diverse query set serially (ground truth), then twice
concurrently (4 worker threads, shuffled submission order, per-thread
release_transient), and requires every concurrent result to be
row-identical to the serial one. Streaming queries and queries that
write filesystem artifacts are excluded — they own temp dirs and
checkpoints with their own isolation story (tests/test_streaming.py,
test_ingest_e2e.py cover those lifecycles).
"""

from __future__ import annotations

import random
from concurrent.futures import ThreadPoolExecutor

from bioclip_vector_db_spark.plans.registry import (
    QUERIES,
    load_all_plans,
    release_transient,
)

load_all_plans()

#: Read-only analytic queries spanning the operator families that share
#: module-level caches: IVF serving (derived centroid/assignment caches),
#: MinHash dedup (shingle/signature transients), SemDeDup (kernel
#: dispatch + collapsed-centroid broadcast), text IR, and a TPC-H agg.
CONCURRENT_QUERIES = [
    "ivf_search",
    "knn_bruteforce",
    "dedup_near_jaccard_exact",
    "semantic_dedup",
    "documents_bm25_search",
    "text_quality_score",
    "documents_winnowing",
    "tpch_shipping_priority",
]


def _canon(rows):
    return sorted(tuple(str(x) for x in r) for r in rows)


def _run_one(spark, sf_dir, name):
    try:
        return name, _canon(QUERIES[name](spark, sf_dir).collect())
    finally:
        # Per-thread release (r11): drains only THIS thread's transients.
        # The old global registry let this call unpersist a sibling
        # thread's in-flight cache — the measured silent-empty-result
        # race this gate caught.
        release_transient()


def test_concurrent_queries_match_serial(spark, sf_dir):
    serial = {}
    for name in CONCURRENT_QUERIES:
        serial[name] = _run_one(spark, sf_dir, name)[1]
        assert serial[name], f"{name} returned no rows serially"

    rng = random.Random(0xC0CC)
    for round_no in range(2):
        order = CONCURRENT_QUERIES[:]
        rng.shuffle(order)
        with ThreadPoolExecutor(max_workers=4) as pool:
            results = dict(
                pool.map(lambda n: _run_one(spark, sf_dir, n), order)
            )
        for name in CONCURRENT_QUERIES:
            assert results[name] == serial[name], (
                f"round {round_no}: {name} diverged under concurrency"
            )


def test_index_writers_serialize(spark, sf_dir, tmp_path):
    """Write-path single-writer contract (r9 verdict item 3): append and
    delete racing on ONE index dir must be equivalent to some serial
    order — never a lost update. Without _single_writer's
    <index_dir>/.write_lock, the delete's rewrite (planned against the
    pre-append corpus snapshot) can dynamic-overwrite the appended files
    out of existence, or the append can double-allocate faiss_ids the
    delete just renumbered.

    Both orders leave: vec_ids == initial - victims + batch, faiss_ids
    dense per partition, corpus/id_mapping row-identical in keys — so
    those invariants pin the serialized outcome without fixing which
    writer won the lock first."""
    from concurrent.futures import ThreadPoolExecutor as _TPE

    from pyspark.sql import functions as F

    from bioclip_vector_db_spark.operators import indexing
    from bioclip_vector_db_spark.operators.knn import fixture_centroids
    from bioclip_vector_db_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    cent = fixture_centroids(spark, sf_dir)
    initial = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    victims = [r["vec_id"] for r in initial.limit(6).collect()]
    victims_df = spark.createDataFrame([(v,) for v in victims], "vec_id long")

    idx = str(tmp_path / "index")
    indexing.append_to_index(spark, idx, initial, cent)

    with _TPE(2) as pool:
        f_append = pool.submit(indexing.append_to_index, spark, idx, batch, cent)
        f_delete = pool.submit(indexing.delete_ids, spark, idx, victims_df)
        f_append.result()
        f_delete.result()

    corpus = spark.read.parquet(f"{idx}/corpus")
    mapping = spark.read.parquet(f"{idx}/id_mapping")

    want_ids = (
        {r["vec_id"] for r in initial.select("vec_id").collect()}
        | {r["vec_id"] for r in batch.select("vec_id").collect()}
    ) - set(victims)
    got_ids = {r["vec_id"] for r in corpus.select("vec_id").collect()}
    assert got_ids == want_ids, "a writer's rewrite was lost"

    # Dense 0-based faiss_ids per partition in both tables, keys identical.
    per_part = {}
    for r in corpus.select("partition_id", "faiss_id").collect():
        per_part.setdefault(r["partition_id"], []).append(r["faiss_id"])
    for p, ids in per_part.items():
        assert sorted(ids) == list(range(len(ids))), f"partition {p} ids not dense"
    c_keys = sorted(
        tuple(r) for r in corpus.select("partition_id", "faiss_id").collect()
    )
    m_keys = sorted(
        tuple(r) for r in mapping.select("partition_id", "faiss_id").collect()
    )
    assert c_keys == m_keys


def test_cross_process_write_invalidates_append_cache(spark, sf_dir, tmp_path):
    """Cross-process record freshness: the write lock serializes writers
    but the per-process append record (indexing._AppendState) survives
    between ops — if ANOTHER process appends or deletes (renumbering
    faiss_ids on disk) between this process's appends, stale next ids
    would double-allocate faiss_ids despite the lock. _single_writer
    bumps an on-disk ``.write_gen`` token per write and drops the
    process's record when the on-disk token differs from the record's.

    Two branches: (control) a poisoned record with NO foreign write IS
    consulted — proving the record is load-bearing and the generation
    stamp is the only defense; (fix) the same poisoned record plus a
    foreign generation token is discarded and the append re-seeds from
    the stored corpus, keeping faiss_ids dense."""
    import dataclasses
    import os
    import shutil

    from pyspark.sql import functions as F

    from bioclip_vector_db_spark.operators import indexing
    from bioclip_vector_db_spark.operators.knn import fixture_centroids
    from bioclip_vector_db_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    cent = fixture_centroids(spark, sf_dir)
    first = emb.filter(F.col("vec_id") % 3 == 0)
    second = emb.filter(F.col("vec_id") % 3 == 1)
    idx = str(tmp_path / "index")

    def dense_per_partition():
        per_part = {}
        corpus = spark.read.parquet(f"{idx}/corpus")
        for r in corpus.select("partition_id", "faiss_id").collect():
            per_part.setdefault(r["partition_id"], []).append(r["faiss_id"])
        return {
            p: sorted(ids) == list(range(len(ids))) for p, ids in per_part.items()
        }

    def poison() -> None:
        state = indexing._append_state(idx)
        assert state is not None, "append must store its record"
        indexing._set_append_state(
            idx,
            dataclasses.replace(
                state, next_ids={p: n + 1000 for p, n in state.next_ids.items()}
            ),
        )

    # --- control: poisoned record, no foreign write -> record consulted ---
    indexing.append_to_index(spark, idx, first, cent)
    poison()
    indexing.append_to_index(spark, idx, second, cent)
    assert not all(dense_per_partition().values()), (
        "poisoned next ids were NOT consulted — the control no longer "
        "demonstrates the hazard the generation stamp exists for"
    )

    # --- fix: poisoned record + foreign generation token -> re-seeded ---
    shutil.rmtree(idx)
    indexing.invalidate_append_state(idx)
    indexing.append_to_index(spark, idx, first, cent)
    poison()
    # Every write op bumps .write_gen under the lock via _single_writer,
    # so a foreign token on disk IS what a concurrent process's append or
    # delete leaves behind.
    with open(os.path.join(idx, ".write_gen"), "w") as f:
        f.write("foreign-process-write")
    indexing.append_to_index(spark, idx, second, cent)
    density = dense_per_partition()
    assert all(density.values()), f"stale record double-allocated ids: {density}"
    got = {r["vec_id"] for r in spark.read.parquet(f"{idx}/corpus").collect()}
    want = {r["vec_id"] for r in first.collect()} | {
        r["vec_id"] for r in second.collect()
    }
    assert got == want
    indexing.invalidate_append_state(idx)


def test_release_transient_is_thread_scoped(spark, sf_dir):
    """The r11 contract change behind the 4-thread gate's former flake:
    release_transient() on thread B must NOT unpersist what thread A
    registered (cross-thread unpersist of an in-flight plan made Spark
    silently serve an empty cached result ~15% of sessions). Pinned
    synchronously: register on a worker thread, release on this thread,
    assert the worker's DataFrame is still persisted; then release on
    the worker and assert it is gone."""
    import threading

    from bioclip_vector_db_spark.plans import registry
    from bioclip_vector_db_spark.sources.catalog import load_table

    df = load_table(spark, sf_dir, "region")
    registered = {}

    def worker_register():
        registered["df"] = registry.transient_persist(df)

    def worker_release():
        registry.release_transient()

    t = threading.Thread(target=worker_register)
    t.start(); t.join()
    assert registered["df"].storageLevel.useMemory, "persist did not stick"

    # Releasing from THIS thread (which registered nothing) must be a
    # no-op for the worker's registration.
    registry.release_transient()
    assert registered["df"].storageLevel.useMemory, (
        "release_transient crossed threads — the unpersist race is back"
    )

    # The registering thread's list is per-thread state, not per-object:
    # a release on a DIFFERENT thread can't drain it either.
    t2 = threading.Thread(target=worker_release)
    t2.start(); t2.join()
    assert registered["df"].storageLevel.useMemory

    # The worker thread is gone without releasing — the quiescent
    # teardown drain is the sanctioned way to reclaim its persists
    # (safe here: nothing is in flight).
    registry.release_all_transients()
    assert not registered["df"].storageLevel.useMemory, (
        "release_all_transients failed to reclaim a dead worker's persist"
    )


def test_release_all_transients_prunes_dead_lists(spark, sf_dir):
    """r11 ADVICE: _ALL_TRANSIENT_LISTS retained one (empty) list per
    thread ever created, forever — a slow leak on a serving driver with
    churning worker threads. The drain must prune emptied lists, and a
    thread that registers again afterwards must be re-indexed (its TLS
    list object survives the prune)."""
    import threading

    from bioclip_vector_db_spark.plans import registry
    from bioclip_vector_db_spark.sources.catalog import load_table

    df = load_table(spark, sf_dir, "region")
    for _ in range(5):
        t = threading.Thread(target=lambda: registry.transient_persist(df))
        t.start(); t.join()
    registry.release_all_transients()
    with registry._TRANSIENT_LOCK:
        assert not any(
            len(l) == 0 for l in registry._ALL_TRANSIENT_LISTS
        ), "drain retained emptied per-thread lists"

    # Re-registration on THIS thread must re-index the pruned TLS list,
    # or the next drain would silently miss it.
    kept = registry.transient_persist(df)
    with registry._TRANSIENT_LOCK:
        # identity check — DataFrame.__eq__ builds a Column, never use `in`
        assert any(
            any(x is kept for x in l) for l in registry._ALL_TRANSIENT_LISTS
        )
    registry.release_all_transients()
    assert not kept.storageLevel.useMemory, (
        "re-registered transient invisible to the drain after pruning"
    )
