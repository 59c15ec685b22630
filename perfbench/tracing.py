"""Spans, layer wrappers and the Spark status-store harvest.

All of it is switched on only for a traced run (``--trace 1``); untraced
runs time the same operations with nothing but ``perf_counter`` around
them. Spans are recorded from the benchmark's own files, around calls into
each layer's public functions: the wrappers replace the module attribute
the caller looks the function up through, and are removed at the end.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time

from metrics import OP_KINDS, SPARK_FIELDS
from stats import median

#: (module, attribute, span name). ``attribute`` may be ``Class.method``.
LAYER_WRAPPERS = (
    ("bioclip_vector_db_spark.api", "VectorSearchEngine.__init__", "api.open"),
    ("bioclip_vector_db_spark.api", "ivf_search", "knn.ivf_search.construct"),
    ("bioclip_vector_db_spark.operators.knn", "route_queries", "knn.route_queries.construct"),
    (
        "bioclip_vector_db_spark.operators.indexing",
        "assign_partitions",
        "knn.assign_partitions.construct",
    ),
    ("bioclip_vector_db_spark.pipeline", "read_webdataset", "webdataset.read.construct"),
    ("bioclip_vector_db_spark.pipeline", "parse_taxon_tags", "taxon.parse.construct"),
    ("bioclip_vector_db_spark.pipeline", "embed_documents", "embedding.embed.construct"),
)


class Tracer:
    """Times operations; when ``enabled``, also records spans and harvests
    Spark's status store after each operation, outside its timed window."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._request: "int | None" = None
        self._patched: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()
        self._recording = enabled
        self._sc = None

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self._recording:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self._request,
            "start_s": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()

    def span_medians(self) -> dict[str, float]:
        by_name: dict[str, list[float]] = {}
        for s in self.spans:
            if "end_s" in s:
                by_name.setdefault(s["name"], []).append(s["end_s"] - s["start_s"])
        return {name: median(v) for name, v in by_name.items()}

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- layer wrappers ----------------------------------------------------

    def install(self) -> None:
        if not self.enabled:
            return
        for module, attr, name in LAYER_WRAPPERS:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = getattr(owner, leaf)
            setattr(owner, leaf, self._wrap(original, name))
            self._patched.append((owner, leaf, original))

    def uninstall(self) -> None:
        while self._patched:
            owner, leaf, original = self._patched.pop()
            setattr(owner, leaf, original)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- operations --------------------------------------------------------

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def op(self, kind: str, fn, *, traced: bool = True):
        """Run one operation; returns ``(seconds, result)``. With tracing on
        (and ``traced``), its Spark jobs carry a job group of their own and
        are harvested right after it ends."""
        trace = self.enabled and traced
        if trace:
            group = f"perfbench-op-{len(self.ops)}"
            self._request = len(self.ops)
            self._sc.setJobGroup(group, kind)
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            if trace:
                with self.span(f"op.{kind}"):
                    result = fn()
            else:
                self._recording = False
                result = fn()
        finally:
            seconds = time.perf_counter() - t0
            self._recording = self.enabled
            if trace:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._request = None
                self.ops.append(
                    {"kind": kind, "traced": True, "seconds": seconds,
                     **harvest(self._sc, group, wall0, seconds)}
                )
            elif self.enabled:
                self.ops.append({"kind": kind, "traced": False, "seconds": seconds})
        return seconds, result

    def spark_medians(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for kind in OP_KINDS:
            recs = [r for r in self.ops if r["kind"] == kind and r["traced"]]
            for field, _, _ in SPARK_FIELDS:
                out[f"spark.{field}.{kind}"] = median(r[field] for r in recs) if recs else 0
        return out

    def overhead_ratio(self) -> float:
        """Traced over untraced median latency, minus one, summed over the
        operation kinds run both ways."""
        traced = untraced = 0.0
        for kind in OP_KINDS:
            t = [r["seconds"] for r in self.ops if r["kind"] == kind and r["traced"]]
            u = [r["seconds"] for r in self.ops if r["kind"] == kind and not r["traced"]]
            if t and u:
                traced += median(t)
                untraced += median(u)
        return traced / untraced - 1.0 if untraced else 0.0


def harvest(sc, group: str, wall0: float, seconds: float) -> dict:
    """Jobs, stages, tasks, shuffle and spill bytes, task busy ratio and
    driver gap of the jobs in ``group``, read from the status store.

    A stage counts when it ran inside the operation's window: stages a job
    skipped, or that ran for an earlier operation, are left out. The driver
    gap is the operation's wall time not covered by any job."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    start_ms, end_ms = wall0 * 1000.0, (wall0 + seconds) * 1000.0
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    intervals, stage_ids = [], set()
    for j in job_ids:
        job = store.job(j)
        sub, comp = job.submissionTime(), job.completionTime()
        if sub.isDefined():
            end = comp.get().getTime() if comp.isDefined() else end_ms
            intervals.append((sub.get().getTime(), end))
        it = job.stageIds().iterator()
        while it.hasNext():
            stage_ids.add(it.next())
    out = {field: 0 for field, _, _ in SPARK_FIELDS}
    out["jobs"] = len(job_ids)
    run_ms = 0
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        sub = st.submissionTime()
        if str(st.status()) == "SKIPPED" or not sub.isDefined():
            continue
        if sub.get().getTime() < int(start_ms):
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        run_ms += st.executorRunTime()
    cores = sc.defaultParallelism
    out["task_busy_ratio"] = run_ms / (seconds * 1000.0 * cores) if seconds > 0 else 0.0
    out["driver_gap_s"] = max(0.0, seconds - union_ms(intervals) / 1000.0)
    return out


def union_ms(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
