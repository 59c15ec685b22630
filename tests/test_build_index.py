"""O3-O7 offline build: partitioned writes, reload, storage-level pruning.

The reference's build writes partition_{id}.npy + local_{id}.index +
leader.index + a SQLite sidecar (reference: faiss_utils.py:128-160,
metadata_storage.py:46-57); here one job writes the partitionBy(partition_id)
corpus (the IVF layout IS the index), the centroid table, and the id_mapping
sidecar — and a filter on partition_id prunes at the STORAGE level.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bioclip_vector_db_spark.operators import knn
from bioclip_vector_db_spark.operators.indexing import build_index
from bioclip_vector_db_spark.sources.catalog import load_table


def test_build_index_layout_and_search(spark, sf_dir, tmp_path):
    out = str(tmp_path / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    built = build_index(emb, out, k=5)

    # O3/O5/O6: three tables on disk; the corpus is hive-partitioned. The
    # two dotfiles are the write lock and generation every write op takes.
    assert sorted(os.listdir(out)) == [
        ".write_gen", ".write_lock", "centroids", "corpus", "id_mapping"
    ]

    # O16/O31: counters observed on the write job itself.
    m = built["metrics"]
    assert m["n_records"] == emb.count()
    assert 1 <= m["n_partitions_used"] <= 5
    assert m["total_sec"] > 0
    parts = [d for d in os.listdir(f"{out}/corpus") if d.startswith("partition_id=")]
    assert 1 <= len(parts) <= 5

    corpus = spark.read.parquet(f"{out}/corpus")
    centroids = spark.read.parquet(f"{out}/centroids")
    id_mapping = spark.read.parquet(f"{out}/id_mapping")

    # Nothing lost in the build (the reference's trainer DROPS records in
    # two paths — SURVEY.md §1.4; ours must not).
    assert corpus.count() == emb.count()
    assert id_mapping.count() == emb.count()
    assert centroids.count() == 5

    # O23 as storage: a partition_id filter must prune at the scan
    # (PartitionFilters on the hive layout, not a post-scan filter).
    pruned = corpus.filter(F.col("partition_id") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(partition_id" in plan

    # Search over the RELOADED layout equals search over the in-memory
    # pipeline (round-trip preserves the serving semantics).
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn.ivf_search(queries, corpus, centroids, nprobe=5, top_n=10).collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn.ivf_search(
            queries, built["corpus"], built["centroids"], nprobe=5, top_n=10
        ).collect()
    }
    assert got == want


def test_append_dedups_within_batch(spark, sf_dir, tmp_path):
    """O12: duplicates arriving WITHIN one micro-batch must collapse to a
    single row/faiss_id, not just duplicates of already-stored ids — the
    reference's existence check runs per-id before every insert
    (vector_db.py:141-150), so an in-batch twin can never double-insert.
    Also re-checks the stored-id anti-join and the dense-id invariant
    across a second append that mixes stored dups, in-batch dups, and
    genuinely new ids."""
    from bioclip_vector_db_spark.operators.indexing import append_to_index

    out = str(tmp_path / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    cents = knn.fixture_centroids(spark, sf_dir)

    first = emb.filter(F.col("vec_id") < 20)
    batch1 = first.unionAll(first.filter(F.col("vec_id") < 5))  # 5 in-batch dups
    append_to_index(spark, out, batch1, cents)
    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.count() == 20
    assert corpus.select("vec_id").distinct().count() == 20

    second = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 40))
    batch2 = second.unionAll(second.filter(F.col("vec_id") >= 35))  # stored+in-batch dups
    append_to_index(spark, out, batch2, cents)
    corpus = spark.read.parquet(f"{out}/corpus")
    mapping = spark.read.parquet(f"{out}/id_mapping")
    assert corpus.count() == 40 and mapping.count() == 40
    assert corpus.select("vec_id").distinct().count() == 40
    # Dense faiss_id per partition: 0..n-1 with no gaps or repeats.
    dense = corpus.groupBy("partition_id").agg(
        F.count("*").alias("n"),
        F.countDistinct("faiss_id").alias("nd"),
        F.min("faiss_id").alias("lo"),
        F.max("faiss_id").alias("hi"),
    )
    for r in dense.collect():
        assert (r.n, r.lo, r.hi) == (r.nd, 0, r.n - 1)


def test_reset_overwrite(spark, sf_dir, tmp_path):
    """O7: a rebuild into the same location fully replaces the previous
    index (the reference's reset(force=True) + re-init)."""
    out = str(tmp_path / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    build_index(emb.filter(F.col("vec_id") < 100), out, k=2)
    build_index(emb.filter(F.col("vec_id") < 50), out, k=2)
    assert spark.read.parquet(f"{out}/corpus").count() == 50
    assert spark.read.parquet(f"{out}/id_mapping").count() == 50
