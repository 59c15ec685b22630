"""Scale-stress harness for the embedding/dedup operator family.

The fixture corpora only give the embedding family a 4x spread
(500 -> 2,000 vectors), and at those sizes per-stage scheduling overhead
swamps the data-dependent cost — tools/check_scaling.py can't see the
growth law. This tool measures the quantity that IS the growth law:
LOAD-BEARING ROW COUNTS (LSH candidates, verified edges, scored pairs)
on a deterministic M-times replicated corpus, plus wall time as a
secondary signal. Counts are noise-free: they are the number of rows the
shuffles and verify stages must move, i.e. exactly what explodes or
doesn't at 100 TB.

Corpus construction (never touches /root/testdata):
- embeddings: M copies of the sf0.1 table; copy c != 0 is re-normalized
  v + sigma*N(0,1) with sigma=1.0 (seeded per copy), which drives the
  copy's cosine to its source down to ~0.12 — far below every gate
  threshold — so the replicas behave like fresh draws from the same
  distribution rather than an artificial M-clique per vector.
- documents: M copies with every 3rd token suffixed by the copy index —
  no run of unchanged tokens reaches shingle width, so sibling copies
  share (almost) no shingles and the MinHash candidate rate measures
  bucket selectivity, not planted similarity. (A 7-token stride was
  tried first: runs of 6 unchanged tokens left sibling Jaccard ~0.16,
  whose band-collision tail grew candidates linearly in M — an artifact
  of the corpus, visible as exactly M-1 sibling candidates per doc, not
  an engine behavior.)

What to expect (and what a regression looks like):
- mp_join candidates: the multi-probe config is one point on the LSH
  curve (candidates ~ n^(1+rho), rho ~ 0.73 at threshold 0.3 — the
  operator docstring derives it); at FIXED width-8 bands the per-pair
  collision rate is a constant ~0.85, so candidates grow ~quadratically
  until the width knob is turned. The candidates-per-pair column holding
  ~0.85 while n grows 4x is the "config is the knob, generator is sound"
  evidence; a SUPER-quadratic count would be a bug.
- semantic_dedup pair rows: k grows with n by contract, so
  pairs-per-vector must stay O(target cluster size) — flat per-vector
  pair work while n grows is the SemDeDup scale claim, verified here.
- minhash candidates: bucket-mate pairs per doc must stay bounded (no
  hot-bucket blowup) on a corpus with no planted dups.
- ivf_search scored rows: ~nprobe/nlist of the corpus per query, with
  nlist grown alongside n (the index contract), so scored-per-query
  stays ~flat.

Adversarial skew instruments (round-9 verdict item 3) — uniform
replication can't exercise the hot-key defenses, so these PLANT one:
- skew_shingle: a fixed 3-token phrase appended to 50% of documents —
  one shingle owns half the corpus. Measures the MAX_SHINGLE_DF cap:
  worst kept bucket must stay <= the cap while the avoided quadratic
  pair bound (sum over hot buckets of C(df,2)) explodes with M; the
  drop accounting (hot shingles + dropped instances) is in the record,
  not silent.
- skew_winnow: a fixed 24-token sentence appended to 50% of documents —
  its interior winnowing fingerprints each own half the corpus.
  Measures WINNOW_MAX_DF the same way on the overlap join.
- skew_join: a synthetic probe table where ONE key owns 50% of all rows
  joined against a 1,000-key build side. Measures salted_equi_join
  (worst per-(key, salt) bucket ~ hot/salts; row parity with the plain
  join asserted) and AQE's skew-join split on the unsalted sort-merge
  join (thresholds lowered to fixture scale; the executed plan must
  show skew=true).

Usage:
    python tools/scale_stress.py                 # M = 1 2 4
    python tools/scale_stress.py --m 1 2 4 8 --ops mp_join,triangles
Prints one JSON line per (op, M) and, when the base is the matrix's
sf0.1, MERGES results into SCALE_STRESS.json by (op, m) — extended
decades and skew legs from separate invocations accumulate instead of
clobbering the matrix. Runs over another base (SPARK_GRAFT_SF_DIR) only
print.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ID_STRIDE = 10_000_000


def build_corpora(
    workdir: str, m: int, need_docs: bool = True
) -> tuple[str, str]:
    """Write the M-times replicated embeddings/documents parquet files.
    ``need_docs=False`` skips the documents replica (the per-token Python
    rewrite dominates corpus build at big decades — minutes of driver
    time an embeddings-only ladder never reads)."""
    emb_path = os.path.join(workdir, f"embeddings_m{m}.parquet")
    doc_path = os.path.join(workdir, f"documents_m{m}.parquet")
    if not os.path.exists(emb_path):
        base = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet")).to_pandas()
        vecs = np.stack(base["embedding"].to_numpy())  # (n, d) float32
        parts = []
        for c in range(m):
            if c == 0:
                v = vecs
            else:
                rng = np.random.RandomState(1234 + c)
                v = vecs + rng.standard_normal(vecs.shape).astype(np.float32)
                v = v / np.linalg.norm(v, axis=1, keepdims=True)
            parts.append(
                pd.DataFrame(
                    {
                        "vec_id": base["vec_id"] + c * ID_STRIDE,
                        "embedding": list(v.astype(np.float32)),
                        "label": base["label"],
                    }
                )
            )
        out = pd.concat(parts, ignore_index=True)
        schema = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        )
        pq.write_table(pa.Table.from_pandas(out, schema=schema, preserve_index=False), emb_path)
    if need_docs and not os.path.exists(doc_path):
        base = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pandas()
        parts = []
        for c in range(m):
            df = base.copy()
            df["doc_id"] = df["doc_id"] + c * ID_STRIDE
            if c:
                df["text"] = df["text"].map(
                    lambda t, c=c: " ".join(
                        w + str(c) if i % 3 == 1 else w
                        for i, w in enumerate(t.split(" "))
                    )
                )
            parts.append(df)
        out = pd.concat(parts, ignore_index=True)
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), doc_path)
    return emb_path, doc_path


def seed_assign(emb, tier: str, *, k: "int | None" = None, n: "int | None" = None):
    """Seed-rule SemDeDup assignment with the tier NAMED ('flat',
    'routed', 'distributed') — semantic_dedup picks its tier from k alone,
    so legs that pin one call its private steps. k defaults to the
    operator's own max(K_MIN, ceil(n / TARGET_CLUSTER)). Returns
    (assigned, k)."""
    from bioclip_vector_db_spark.operators import dedup as D

    if k is None:
        k = max(D.SEMDEDUP_K_MIN, -(-n // D.SEMDEDUP_TARGET_CLUSTER))
    v = D._semdedup_vectors(emb)
    assigned = D._assign_centroids(
        v, D._seed_centroids(v, k), tier, n_cents=k, n_vec=n
    )
    return assigned, k


def seed_tier(emb, tier: str, *, k=None, n=None):
    """semantic_dedup with the tier named: seed_assign, then the
    operator's own decide tail for that tier."""
    from bioclip_vector_db_spark.operators import dedup as D

    assigned, k = seed_assign(emb, tier, k=k, n=n)
    return D._decide_for_tier(assigned, D.SEMDEDUP_TAU, tier, n_vec=n, k=k)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--m", nargs="+", type=int, default=[1, 2, 4])
    ap.add_argument(
        "--ops",
        default=(
            "mp_join,triangles,semantic_dedup,minhash_pairs,ivf_search,knn_brute,"
            "skew_shingle,skew_winnow,skew_join"
        ),
    )
    ap.add_argument("--keep-workdir", action="store_true")
    args = ap.parse_args()
    ops = set(args.ops.split(","))

    from pyspark.sql import functions as F

    from bioclip_vector_db_spark.session import get_spark
    from bioclip_vector_db_spark.plans.registry import release_transient
    from bioclip_vector_db_spark.operators import dedup as D
    from bioclip_vector_db_spark.operators.dedup import (
        doc_shingles,
        embedding_band_keys,
        embedding_threshold_join_multiprobe,
        lsh_band_buckets,
        minhash_signatures,
        near_dup_pairs,
        semantic_dedup,
        triangle_counts,
        transient_persist,
    )
    from bioclip_vector_db_spark.operators.indexing import train_kmeans_centroids
    from bioclip_vector_db_spark.operators.knn import (
        assign_partitions,
        knn_join,
        route_queries,
    )
    from bioclip_vector_db_spark.functions.vector import cosine_distance

    spark = get_spark("scale-stress")
    workdir = tempfile.mkdtemp(prefix="bvds_scale_stress_")
    results: list[dict] = []

    def emit(op: str, m: int, n: int, wall: float, **counts) -> None:
        rec = {"op": op, "m": m, "n_input": n, "wall_s": round(wall, 2), **counts}
        results.append(rec)
        print(json.dumps(rec), flush=True)
        # Merge incrementally: a ladder leg that crashes the JVM (r16:
        # the expr decide twin OOMed at M=2048) must not lose every
        # PRIOR leg's committed row — end-of-run-only merging did.
        _merge_results(results)

    try:
        for m in args.m:
            need_docs = bool(ops & {"mp_join", "triangles", "minhash_pairs", "skew_shingle", "skew_winnow"})
            emb_path, doc_path = build_corpora(workdir, m, need_docs=need_docs)
            emb = spark.read.parquet(emb_path).select("vec_id", "embedding")
            docs = (
                spark.read.parquet(doc_path).select("doc_id", "text")
                if need_docs
                else None
            )
            n_emb = emb.count()
            n_doc = docs.count() if need_docs else 0
            keys = None
            if ops & {"mp_join", "triangles"}:
                # Build the LSH band-key index untimed, like bench.py —
                # but ONLY for the ops that read it: the per-vector
                # simhash banding is a full-corpus pass, and on the
                # single-row-group replicated parquet it runs as ONE task
                # (minutes of dead preamble for a dist-tier ladder that
                # never touches `keys`; found hung at M=256, r16).
                keys = transient_persist(embedding_band_keys(emb))
                keys.count()

            if "mp_join" in ops or "triangles" in ops:
                t0 = time.perf_counter()
                masks = D._probe_masks(D.MP_BAND_WIDTH, D.MP_PROBE_HAMMING)
                rows = keys.select("vec_id", F.posexplode("keys").alias("band", "key"))
                probes = rows.select(
                    F.col("vec_id").alias("a_id"),
                    "band",
                    F.explode(F.array(*[F.lit(x) for x in masks])).alias("mask"),
                    "key",
                ).select(
                    "a_id", "band", F.col("key").bitwiseXOR(F.col("mask")).alias("pkey")
                )
                bside = rows.select(
                    F.col("vec_id").alias("b_id"), "band", F.col("key").alias("pkey")
                )
                n_cand = (
                    probes.join(bside, ["band", "pkey"])
                    .filter(F.col("a_id") < F.col("b_id"))
                    .select("a_id", "b_id")
                    .distinct()
                    .count()
                )
                t_cand = time.perf_counter() - t0
                t0 = time.perf_counter()
                edges = transient_persist(
                    embedding_threshold_join_multiprobe(emb, 0.3, keys=keys)
                )
                n_edges = edges.count()
                t_edges = time.perf_counter() - t0
                pairs_total = n_emb * (n_emb - 1) / 2
                emit(
                    "mp_join",
                    m,
                    n_emb,
                    t_cand + t_edges,
                    candidates=n_cand,
                    cand_per_pair=round(n_cand / pairs_total, 4),
                    edges=n_edges,
                )
                if "triangles" in ops:
                    t0 = time.perf_counter()
                    n_tri = triangle_counts(edges).count()
                    emit(
                        "triangles", m, n_edges, time.perf_counter() - t0, out_rows=n_tri
                    )

            if "semantic_dedup" in ops:
                t0 = time.perf_counter()
                sd = transient_persist(semantic_dedup(emb))
                n_out = sd.count()
                n_removed = sd.filter(~F.col("kept")).count()
                emit(
                    "semantic_dedup",
                    m,
                    n_emb,
                    time.perf_counter() - t0,
                    out_rows=n_out,
                    removed=n_removed,
                )

            if "semantic_dedup_numpy" in ops:
                # The numpy assignment kernels at the same scale: k grows
                # with n, so the expr fold's n x k x dim interpreted
                # compute is the superlinear term they remove. Up to
                # LARGE_NLIST_THRESHOLD centroids this runs the flat
                # exact GEMM; above it the in-memory two-tier routed
                # kernel, cutting the flat O(n^2 d / 64) to
                # O(n sqrt(k) d). The record self-documents which regime
                # each row ran in (routed_assignment), and keeps the
                # removed count so the routed rows' decision drift vs
                # the flat rows is adjudicable.
                from bioclip_vector_db_spark.operators.knn_numpy import (
                    LARGE_NLIST_THRESHOLD,
                )

                k_sd = max(D.SEMDEDUP_K_MIN, -(-n_emb // D.SEMDEDUP_TARGET_CLUSTER))
                tier = "routed" if k_sd > LARGE_NLIST_THRESHOLD else "flat"
                t0 = time.perf_counter()
                sd = transient_persist(seed_tier(emb, tier, n=n_emb))
                n_out = sd.count()
                n_removed = sd.filter(~F.col("kept")).count()
                emit(
                    "semantic_dedup_numpy",
                    m,
                    n_emb,
                    time.perf_counter() - t0,
                    out_rows=n_out,
                    removed=n_removed,
                    k=k_sd,
                    routed_assignment=tier == "routed",
                )

            if "semantic_dedup_dist" in ops:
                # The DISTRIBUTED bottom tier at the same scale as the
                # semantic_dedup_numpy decades — same O(n sqrt(8k) d)
                # FLOPs as the in-memory routed kernel, but the centroid
                # table is never collected (only the capped router
                # sample is), at the price of a linear O(8 n d)-byte
                # routed-explode shuffle. Removed-count recorded so
                # decision drift vs the flat/routed rows is adjudicable
                # from the record.
                t0 = time.perf_counter()
                assigned, k_sd = seed_assign(emb, "distributed", n=n_emb)
                sd = transient_persist(
                    D._decide_for_tier(
                        assigned, D.SEMDEDUP_TAU, "distributed", n_vec=n_emb, k=k_sd
                    )
                )
                n_out = sd.count()
                n_removed = sd.filter(~F.col("kept")).count()
                emit(
                    "semantic_dedup_dist",
                    m,
                    n_emb,
                    time.perf_counter() - t0,
                    out_rows=n_out,
                    removed=n_removed,
                    k=k_sd,
                )

            if "decide_ab" in ops:
                # r15 verdict item 2 A/B: the decide tail's expr pair join
                # vs the arrow cogroup GEMM on the SAME distributed
                # assignment (persisted once, so only the decide differs).
                # removed sets must be identical; walls attribute the cut.
                from bioclip_vector_db_spark.operators.dedup import (
                    SEMDEDUP_DECIDE_CAP,
                    SEMDEDUP_TAU,
                    _semantic_dedup_decide,
                )

                assigned, k_sd = seed_assign(emb, "distributed", n=n_emb)
                assigned = transient_persist(assigned)
                assigned.count()  # pin assignment untimed

                def run_decide(kern):
                    t0 = time.perf_counter()
                    out = transient_persist(
                        _semantic_dedup_decide(
                            assigned,
                            SEMDEDUP_TAU,
                            depth_cap=SEMDEDUP_DECIDE_CAP,
                            kernel=kern,
                            n_hint=n_emb,
                            k_hint=k_sd,
                        )
                    )
                    # Set identity via a distributed checksum (count, sum,
                    # hash-sum) — a million-row removed set must not be
                    # collected to the driver at big decades; pytest gates
                    # exact set equality at fixture scale.
                    chk = (
                        out.filter(~F.col("kept"))
                        .agg(
                            F.count("*").alias("n"),
                            F.sum(F.col("vec_id").cast("decimal(38,0)")).alias(
                                "s"
                            ),
                            # bit_xor: order-independent, overflow-free
                            # (a plain sum of xxhash64 trips ANSI long
                            # overflow immediately).
                            F.expr("bit_xor(xxhash64(vec_id))").alias("h"),
                        )
                        .collect()[0]
                    )
                    return (
                        (chk["n"], chk["s"], chk["h"]),
                        time.perf_counter() - t0,
                    )

                rm_a, w_a = run_decide("arrow")
                # The expr twin runs SECOND and guarded: its pair join
                # OOMed the fixture JVM at M=2048 (r16) — record the
                # arrow leg plus the failure instead of losing the leg.
                try:
                    rm_e, w_e = run_decide("expr")
                except Exception as e:  # noqa: BLE001 — leg-level record
                    emit(
                        "decide_ab",
                        m,
                        n_emb,
                        w_a,
                        k=k_sd,
                        wall_expr_s=None,
                        wall_arrow_s=round(w_a, 2),
                        removed_rows=rm_a[0],
                        removed_identical=None,
                        expr_error=type(e).__name__,
                    )
                else:
                    emit(
                        "decide_ab",
                        m,
                        n_emb,
                        w_e + w_a,
                        k=k_sd,
                        wall_expr_s=round(w_e, 2),
                        wall_arrow_s=round(w_a, 2),
                        removed_rows=rm_e[0],
                        removed_identical=bool(rm_e == rm_a),
                    )

            if "dist_deep" in ops:
                # r13 verdict item 1, the DELIBERATELY SKEWED leg: k is
                # pinned at 64 (SemDeDup's k = n/64 contract deliberately
                # broken) so cluster depth = n/64 grows with M — the
                # regime a skewed real corpus produces and the ladder's
                # seed-saturated tail only brushes. With the decide cap
                # (on the routed tiers, 256 = 4x contract depth)
                # per-cluster pair work is O(depth * 256), so the capped
                # wall must double per doubling while the EXACT twin's
                # pair join doubles its per-pair count TWICE per
                # doubling. The exact twin runs at the largest M for the
                # one-sided parity check: removed_capped must be a
                # subset of removed_exact, with the drift fraction (pure
                # under-removal) in the record.
                from bioclip_vector_db_spark.operators.dedup import (
                    SEMDEDUP_DECIDE_CAP,
                )

                t0 = time.perf_counter()
                sd_c = transient_persist(seed_tier(emb, "distributed", k=64))
                n_out = sd_c.count()
                wall_c = time.perf_counter() - t0
                rem_c = sd_c.filter(~F.col("kept"))
                n_rem_c = rem_c.count()
                extra = {}
                if m == max(args.m):
                    t0 = time.perf_counter()
                    assigned, _ = seed_assign(emb, "distributed", k=64)
                    sd_e = transient_persist(
                        D._semantic_dedup_decide(assigned, D.SEMDEDUP_TAU)
                    )
                    sd_e.count()
                    wall_e = time.perf_counter() - t0
                    rem_e = sd_e.filter(~F.col("kept"))
                    n_rem_e = rem_e.count()
                    n_outside = (
                        rem_c.select("vec_id")
                        .join(rem_e.select("vec_id"), "vec_id", "left_anti")
                        .count()
                    )
                    extra = dict(
                        wall_exact_s=round(wall_e, 2),
                        removed_exact=n_rem_e,
                        capped_subset_of_exact=bool(n_outside == 0),
                        drift_under_removed=n_rem_e - n_rem_c,
                        drift_frac=round((n_rem_e - n_rem_c) / n_out, 5),
                    )
                emit(
                    "dist_deep",
                    m,
                    n_emb,
                    wall_c,
                    out_rows=n_out,
                    removed_capped=n_rem_c,
                    k=64,
                    depth=n_emb // 64,
                    decide_cap=SEMDEDUP_DECIDE_CAP,
                    **extra,
                )

            if "dist_skew_route" in ops:
                # 80% of vectors blended hard toward ONE anchor so they
                # all route to its group, while the centroid table stays
                # the seed rule over the ORIGINAL (spread) corpus — the
                # stale-index case that under-represents the hot region
                # (k-means or seed centroids over the skewed corpus
                # itself would both spread WITH the data). The per-group
                # salt escalation must keep the measured MAX (group,
                # salt) fan-in near the per-task target where mean-based
                # sizing alone would leave hot_share * n rows in one key.
                # Measured on the route step with fixed probing (margin
                # None, the max fan-in); the assignment then runs on the
                # same record.
                import dataclasses

                from bioclip_vector_db_spark.operators import knn_routed

                target = knn_routed._TARGET_ROWS_PER_GROUP_TASK
                k_sr = max(8, -(-n_emb // 64))
                cent = emb.filter(F.col("vec_id") < k_sr).select(
                    F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
                )
                c0 = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
                c0n = [float(x) for x in c0]
                blend = F.zip_with(
                    F.array(*[F.lit(x) for x in c0n]),
                    F.col("embedding"),
                    lambda a, b: 0.9 * a + 0.1 * b,
                )
                norm = F.sqrt(
                    F.aggregate(
                        blend, F.lit(0.0), lambda acc, x: acc + x * x
                    )
                )
                hot = emb.select(
                    "vec_id",
                    F.when(
                        F.col("vec_id") % 5 != 0,
                        F.transform(blend, lambda x: x / norm),
                    )
                    .otherwise(F.col("embedding"))
                    .alias("embedding"),
                )
                t0 = time.perf_counter()
                route = dataclasses.replace(
                    knn_routed._decide_route(hot, cent, k_sr, n_emb), margin=None
                )
                fan = (
                    knn_routed._route_vectors(hot, route)
                    .groupBy("_rt_gid", "_rt_salt")
                    .count()
                    .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"))
                    .collect()[0]
                )
                a = transient_persist(
                    knn_routed._assign_routed(hot, route).select("vec_id", "cid")
                )
                n_out = a.count()
                wall = time.perf_counter() - t0
                live_salts = route.salts[route.live]
                emit(
                    "dist_skew_route",
                    m,
                    n_emb,
                    wall,
                    out_rows=n_out,
                    k=k_sr,
                    hot_share=0.8,
                    target_rows_per_task=target,
                    salts_base=int(live_salts.min()),
                    max_salts=int(live_salts.max()),
                    max_key_rows=int(fan["mx"]),
                    mean_key_rows=round(float(fan["mean"]), 1),
                    bounded_2x_target=bool(fan["mx"] <= 2 * target),
                )

            if "pq64_adc" in ops:
                # FAISS's standard PQ64 byte-per-dim layout end-to-end at
                # the replicated scale: numpy-kernel encode (the expr
                # encoder is a 64-fold plan — the Catalyst wall the
                # gather kernel exists to avoid) + gather-kernel ADC
                # top-10 for 5 queries. Both stages are map-side linear
                # scans whose plan size is constant in m; wall must grow
                # ~linearly in n.
                from bioclip_vector_db_spark.operators.knn_numpy import pq_encode_numpy
                from bioclip_vector_db_spark.operators.quantization import (
                    pq_adc_search,
                    pq_codebooks,
                )

                t0 = time.perf_counter()
                # pq_codebooks keys on label (the deterministic per-label
                # codebook the [Q] gates use) — re-read it alongside.
                emb_l = spark.read.parquet(emb_path).select(
                    "vec_id", "embedding", "label"
                )
                cb = transient_persist(pq_codebooks(emb_l))
                queries = emb.filter(F.col("vec_id") < 5).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qv"),
                )
                enc = pq_encode_numpy(
                    emb.filter(F.col("vec_id") >= 5), cb, m=64, sub_dim=1
                ).select("vec_id", *[f"pq_code_{s}" for s in range(64)])
                out = pq_adc_search(queries, enc, cb, k=10, m=64, sub_dim=1)
                n_out = out.count()
                emit(
                    "pq64_adc",
                    m,
                    n_emb,
                    time.perf_counter() - t0,
                    out_rows=n_out,
                    scored=5 * (n_emb - 5),
                )

            if "minhash_pairs" in ops:
                t0 = time.perf_counter()
                sh = transient_persist(doc_shingles(docs))
                buckets = lsh_band_buckets(minhash_signatures(sh))
                a = buckets.alias("a")
                b = buckets.alias("b")
                n_cand = (
                    a.join(
                        b,
                        (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.sig") == F.col("b.sig"))
                        & (F.col("a.doc_id") < F.col("b.doc_id")),
                    )
                    .select(F.col("a.doc_id"), F.col("b.doc_id"))
                    .distinct()
                    .count()
                )
                n_pairs = near_dup_pairs(docs).count()
                emit(
                    "minhash_pairs",
                    m,
                    n_doc,
                    time.perf_counter() - t0,
                    candidates=n_cand,
                    cand_per_doc=round(n_cand / n_doc, 3),
                    pairs=n_pairs,
                )

            if "ivf_search" in ops:
                # Index contract: nlist grows with the corpus (~64/cluster).
                nlist = max(8, math.ceil(n_emb / 64))
                t0 = time.perf_counter()
                cent = train_kmeans_centroids(emb, nlist, max_iter=5).localCheckpoint()
                t_train = time.perf_counter() - t0
                # assign_partitions keeps the input columns (embedding included)
                assigned = transient_persist(assign_partitions(emb, cent, nlist=nlist))
                assigned.count()
                queries = emb.filter(F.col("vec_id") % 97 == 0).select(
                    F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
                )
                n_q = queries.count()
                t0 = time.perf_counter()
                routed = route_queries(queries, cent, nprobe=3, nlist=nlist)
                scored = assigned.join(
                    routed.select("query_id", "qv", "partition_id"), "partition_id"
                ).select(
                    "query_id",
                    cosine_distance(F.col("qv"), F.col("embedding")).alias("d"),
                )
                n_scored = scored.count()
                emit(
                    "ivf_search",
                    m,
                    n_emb,
                    time.perf_counter() - t0,
                    nlist=nlist,
                    n_queries=n_q,
                    scored=n_scored,
                    scored_per_query=round(n_scored / max(n_q, 1), 1),
                    train_s=round(t_train, 2),
                )

            if "assign" in ops:
                # assign_partitions has the same n x k GEMM shape as
                # SemDeDup assignment (k = nlist, grown with the corpus by
                # the index contract): time the flat exact kernel at a
                # seed-centroid table on the worst-case (unstructured
                # 64-d) corpus.
                from bioclip_vector_db_spark.operators.knn_numpy import (
                    assign_partitions_numpy,
                )

                nlist = max(8, math.ceil(n_emb / 64))
                cent = emb.filter(F.col("vec_id") < nlist).select(
                    F.col("vec_id").cast("int").alias("partition_id"),
                    F.col("embedding").alias("centroid"),
                ).localCheckpoint()
                t0 = time.perf_counter()
                flat = transient_persist(assign_partitions_numpy(emb, cent))
                flat.count()
                t_flat = time.perf_counter() - t0
                emit("assign", m, n_emb, t_flat, nlist=nlist, wall_flat_s=round(t_flat, 2))

            if "knn_brute" in ops:
                queries = emb.filter(F.col("vec_id") % 97 == 0).select(
                    F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
                )
                n_q = queries.count()
                t0 = time.perf_counter()
                n_out = knn_join(queries, emb, k=10).count()
                emit(
                    "knn_brute",
                    m,
                    n_emb,
                    time.perf_counter() - t0,
                    n_queries=n_q,
                    scored=n_q * n_emb,
                    out_rows=n_out,
                )

            if "skew_shingle" in ops:
                from bioclip_vector_db_spark.operators.dedup import (
                    capped_shingles,
                    jaccard_pairs,
                )

                hot_docs = docs.withColumn(
                    "text",
                    F.when(
                        F.col("doc_id") % 2 == 0,
                        F.concat(F.col("text"), F.lit(" zzhot aaahot bbbhot")),
                    ).otherwise(F.col("text")),
                )
                t0 = time.perf_counter()
                sh = transient_persist(doc_shingles(hot_docs))
                dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
                cap = D.MAX_SHINGLE_DF
                pair = lambda c: (c * (c - 1) / 2)  # noqa: E731
                agg = dfc.agg(
                    F.max("df").alias("max_df"),
                    F.count(F.when(F.col("df") > cap, 1)).alias("hot_shingles"),
                    F.sum(F.when(F.col("df") > cap, F.col("df"))).alias(
                        "dropped_instances"
                    ),
                    F.sum(F.when(F.col("df") > cap, pair(F.col("df")))).alias(
                        "avoided_pair_bound"
                    ),
                    F.sum(F.when(F.col("df") <= cap, pair(F.col("df")))).alias(
                        "kept_pair_bound"
                    ),
                ).first()
                # worst_kept_bucket is measured from the OPERATOR'S own
                # post-cap stage (capped_shingles, the exact table
                # jaccard_pairs joins) — if the cap silently stopped
                # being applied in the operator, this number would
                # exceed the cap in the record; a df<=cap filter over
                # the raw table could not detect that.
                worst_kept = (
                    capped_shingles(hot_docs)
                    .groupBy("shingle")
                    .agg(F.count(F.lit(1)).alias("df"))
                    .agg(F.max("df"))
                    .first()[0]
                )
                n_pairs = jaccard_pairs(hot_docs, 0.8).count()
                emit(
                    "skew_shingle",
                    m,
                    n_doc,
                    time.perf_counter() - t0,
                    max_df=int(agg["max_df"]),
                    worst_kept_bucket=int(worst_kept),
                    cap=int(cap),
                    cap_respected=bool(worst_kept <= cap),
                    hot_shingles=int(agg["hot_shingles"]),
                    dropped_instances=int(agg["dropped_instances"] or 0),
                    avoided_pair_bound=int(agg["avoided_pair_bound"] or 0),
                    kept_pair_bound=int(agg["kept_pair_bound"] or 0),
                    pairs=n_pairs,
                )

            if "skew_winnow" in ops:
                from bioclip_vector_db_spark.operators import text as T
                from bioclip_vector_db_spark.operators.text import (
                    winnowing_fingerprints,
                )

                hot_sentence = " ".join(f"hotw{i}" for i in range(24))
                hot_docs = docs.withColumn(
                    "text",
                    F.when(
                        F.col("doc_id") % 2 == 0,
                        F.concat(F.col("text"), F.lit(" " + hot_sentence)),
                    ).otherwise(F.col("text")),
                )
                t0 = time.perf_counter()
                wn = transient_persist(
                    winnowing_fingerprints(hot_docs)
                    .select("doc_id", "fingerprint")
                    .distinct()
                )
                cap = T.WINNOW_MAX_DF
                dfc = wn.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("df"))
                pair = lambda c: (c * (c - 1) / 2)  # noqa: E731
                agg = dfc.agg(
                    F.max("df").alias("max_df"),
                    F.count(F.when(F.col("df") > cap, 1)).alias("hot_fps"),
                    F.sum(F.when(F.col("df") > cap, F.col("df"))).alias(
                        "dropped_instances"
                    ),
                    F.sum(F.when(F.col("df") > cap, pair(F.col("df")))).alias(
                        "avoided_pair_bound"
                    ),
                ).first()
                # The candidate universe comes from the OPERATOR'S own
                # post-cap stage (text.capped_fingerprints, the table the
                # overlap join consumes) — so worst_kept_bucket is
                # evidence the cap was applied, not a df<=cap filter
                # restating it (see skew_shingle).
                pruned = T.capped_fingerprints(wn)
                worst_kept = (
                    pruned.groupBy("fingerprint")
                    .agg(F.count(F.lit(1)).alias("df"))
                    .agg(F.max("df"))
                    .first()[0]
                )
                a = pruned.select(F.col("doc_id").alias("a_id"), "fingerprint")
                b = pruned.select(F.col("doc_id").alias("b_id"), "fingerprint")
                n_overlap = (
                    a.join(b, "fingerprint")
                    .filter(F.col("a_id") < F.col("b_id"))
                    .groupBy("a_id", "b_id")
                    .agg(F.count(F.lit(1)).alias("n_shared"))
                    .filter(F.col("n_shared") >= T.WINNOW_MIN_SHARED)
                    .count()
                )
                emit(
                    "skew_winnow",
                    m,
                    n_doc,
                    time.perf_counter() - t0,
                    max_df=int(agg["max_df"]),
                    worst_kept_bucket=int(worst_kept),
                    cap=int(cap),
                    cap_respected=bool(worst_kept <= cap),
                    hot_fingerprints=int(agg["hot_fps"]),
                    dropped_instances=int(agg["dropped_instances"] or 0),
                    avoided_pair_bound=int(agg["avoided_pair_bound"] or 0),
                    overlap_pairs=n_overlap,
                )

            if "skew_join" in ops:
                from bioclip_vector_db_spark.functions.skew import (
                    SALT_COL,
                    default_salt,
                    salted_equi_join,
                )

                n_rows = 200_000 * m
                n_keys = 1_000
                salts = 8
                probe = spark.range(n_rows).select(
                    F.when(F.col("id") % 2 == 0, F.lit(0))
                    .otherwise(F.pmod(F.hash(F.col("id")), F.lit(n_keys)))
                    .cast("long")
                    .alias("k"),
                    F.col("id").alias("v"),
                )
                build = spark.range(n_keys).select(
                    F.col("id").alias("k"), (F.col("id") * 2).alias("w")
                )
                expected = probe.join(build, "k").count()
                t0 = time.perf_counter()
                got = salted_equi_join(probe, build, "k", salts=salts).count()
                t_salted = time.perf_counter() - t0
                worst_pre = (
                    probe.groupBy("k").count().agg(F.max("count")).first()[0]
                )
                worst_post = (
                    probe.withColumn(SALT_COL, default_salt("k", salts))
                    .groupBy("k", SALT_COL)
                    .count()
                    .agg(F.max("count"))
                    .first()[0]
                )
                # AQE skew-split on the UNSALTED sort-merge join, thresholds
                # lowered to fixture scale (the defaults are sized for real
                # 256MB partitions; the hot partition here lz4-compresses to
                # tens of KB — 64KiB was measured NOT to trigger at M=1);
                # broadcast disabled so the join is SMJ. The probed action
                # must execute THIS DataFrame's queryExecution — a bare
                # .count() plans its own query and leaves isFinalPlan=false —
                # so the join is wrapped in a 1-row aggregate and collected.
                aqe_confs = {
                    "spark.sql.autoBroadcastJoinThreshold": "-1",
                    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
                    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
                }
                prev = {k: spark.conf.get(k, None) for k in aqe_confs}
                try:
                    for k, v in aqe_confs.items():
                        spark.conf.set(k, v)
                    plain = probe.join(build, "k").groupBy().count()
                    plain.collect()
                    plan = plain._jdf.queryExecution().executedPlan().toString()
                    aqe_split = "skew=true" in plan
                finally:
                    for k, v in prev.items():
                        if v is None:
                            spark.conf.unset(k)
                        else:
                            spark.conf.set(k, v)
                emit(
                    "skew_join",
                    m,
                    n_rows,
                    t_salted,
                    hot_key_rows=int(worst_pre),
                    worst_salted_bucket=int(worst_post),
                    salts=salts,
                    rows_match=bool(got == expected),
                    joined_rows=int(got),
                    aqe_skew_split=bool(aqe_split),
                )

            release_transient()
    finally:
        # Shutdown drain (r11 ADVICE teardown wiring): release anything
        # registered on non-main threads and prune the registry index.
        from bioclip_vector_db_spark.plans.registry import release_all_transients

        release_all_transients()
        if not args.keep_workdir:
            shutil.rmtree(workdir, ignore_errors=True)

    _merge_results(results)


#: The base scale the committed SCALE_STRESS.json matrix is measured on.
MATRIX_SF = "sf0.1"


def _merge_results(
    results: "list[dict]",
    out_path: str = os.path.join(REPO, "SCALE_STRESS.json"),
    sf_dir: str = SF_DIR,
) -> bool:
    """Merge emitted rows into the committed matrix by (op, m). Called
    after every emit AND at end-of-run — idempotent, last-writer-wins
    per key. Rows are keyed without the base scale, so only a run over
    the matrix's own base (MATRIX_SF) merges; any other base prints a
    notice and leaves the file alone. A prior file that cannot be read
    raises instead of being replaced by this run's rows alone. Returns
    whether the file was written."""
    if os.path.basename(os.path.normpath(sf_dir)) != MATRIX_SF:
        print(
            f"not merging into {out_path}: base {sf_dir} is not the "
            f"matrix's {MATRIX_SF}",
            file=sys.stderr,
        )
        return False
    merged: dict[tuple, dict] = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            try:
                prior = json.load(fh)
                for rec in prior:
                    merged[(rec["op"], rec["m"])] = rec
            except (json.JSONDecodeError, KeyError, TypeError) as e:
                raise RuntimeError(
                    f"{out_path} is unreadable ({e}); fix or move it before merging"
                ) from e
    for rec in results:
        merged[(rec["op"], rec["m"])] = rec
    with open(out_path, "w") as fh:
        json.dump(
            sorted(merged.values(), key=lambda r: (r["m"], r["op"])), fh, indent=1
        )
        fh.write("\n")  # stable trailing newline: diffs stay reviewable
    return True


if __name__ == "__main__":
    main()
