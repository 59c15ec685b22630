"""The benchmark's metric catalogue: what each run reports, with units.

``BENCHMARK.json`` at the repository root lists the same names; the tests
check that the two agree.
"""

from __future__ import annotations

import re

#: The operation kinds of each workload.
WORKLOAD_OPS = {
    "online": ("search", "search_batch", "add_batch", "fresh_search"),
    "offline": ("ingest", "build", "semdedup", "minhash"),
}

#: What fills the generic ``opN_p50_s`` slots, in order: every workload
#: must report every end-to-end metric. Offline's fourth slot is its whole
#: timed pass: near_dup_pairs alone (about 1.5 s) spread 15-26% from run
#: to run on a shared 4-core host, too wide for a bound of 0.25; it stays
#: in the record.
WORKLOAD_SLOTS = {
    "online": WORKLOAD_OPS["online"],
    "offline": ("ingest", "build", "semdedup", "pass"),
}

OP_KINDS = tuple(k for ops in WORKLOAD_OPS.values() for k in ops)

#: (name, unit, better, bound): reported with ``--trace 0``.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("op1_p50_s", "s", "lower", 0.25),
    ("op2_p50_s", "s", "lower", 0.25),
    ("op3_p50_s", "s", "lower", 0.25),
    ("op4_p50_s", "s", "lower", 0.25),
)

#: Per-layer metrics over the traced run's spans (median seconds per call;
#: 0 when the workload never calls the layer).
SPAN_METRICS = (
    "session.start_s",
    "api.open_s",
    "api.search.construct_s",
    "api.search.collect_s",
    "api.search_batch_s",
    "api.add_batch_s",
    "knn.ivf_search.construct_s",
    "knn.route_queries.construct_s",
    "knn.assign_partitions.construct_s",
    "webdataset.read.construct_s",
    "taxon.parse.construct_s",
    "embedding.embed.construct_s",
    "dedup.semantic.construct_s",
    "dedup.minhash.construct_s",
)

#: Per-layer values the workloads read off the program's outputs.
OUTPUT_METRICS = (
    ("indexing.build.train_s", "s", "lower"),
    ("indexing.build.write_s", "s", "lower"),
    ("indexing.corpus_files", "count", "lower"),
    ("indexing.bytes_per_input_byte", "ratio", "lower"),
    ("dedup.semantic.assign_agreement", "ratio", "higher"),
    ("dedup.semantic.dropped", "count", "higher"),
    ("dedup.minhash.pairs", "count", "higher"),
    ("trace.overhead_ratio", "ratio", "lower"),
)

#: Spark status-store figures per operation (median over the run's
#: operations of that kind; 0 when the workload has none).
SPARK_FIELDS = (
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("shuffle_read_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("task_busy_ratio", "ratio", "higher"),
    ("driver_gap_s", "s", "lower"),
)

#: (name, unit, better): reported with ``--trace 1``.
PER_LAYER = (
    tuple((name, "s", "lower") for name in SPAN_METRICS)
    + OUTPUT_METRICS
    + tuple(
        (f"spark.{field}.{op}", unit, better)
        for field, unit, better in SPARK_FIELDS
        for op in OP_KINDS
    )
)

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
