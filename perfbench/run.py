#!/usr/bin/env python3
"""Benchmark of the engine's two halves, as a user runs them.

    python3 perfbench/run.py --workload online --seed 1 --seconds 10 --trace 0

runs one workload (``online`` or ``offline``, see workloads.py; ``all``
runs each in its own process) from any working directory, against the
``bioclip_vector_db_spark`` package beside this directory. Inputs are
generated from ``--seed`` into ``.perfbench/tmp/`` under the repository
root, which is removed at exit.

Standard output ends with two JSON lines. The first is the full record:
what ran (``local[N]``, commit, versions, seed, input sizes, load average)
and every metric by its descriptive name. The last holds ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
metrics.END_TO_END with ``--trace 0``, the per-layer metrics of
metrics.PER_LAYER with ``--trace 1``. A traced run also writes its spans
to ``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bioclip_vector_db_spark"

sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, SPAN_METRICS, WORKLOAD_OPS, WORKLOAD_SLOTS  # noqa: E402
from stats import median, tail  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_OPS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Python workers import the package from the repository root, and
    Spark, the JVM and Python keep their scratch files under ``work``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    # The inputs are small: a 4 GB heap (the program's default is 8 GB)
    # keeps the JVM's footprint modest without adding GC pressure.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData" pyspark-shell'
    )
    sys.path.insert(0, ROOT)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the session started, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def commit() -> "str | None":
    """HEAD of the checkout; None when it is not a git repository itself."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_sha256() -> str:
    """Hash of the package's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def named_metrics(workload: str, res, setup_s: float, rss_mb: float) -> dict:
    """Every metric under its descriptive name, with its unit."""
    lat, sizes = res.latencies, res.sizes
    p50 = {k: median(v) for k, v in lat.items()}

    def rate(kind, items):
        return items / p50[kind] if p50.get(kind) else None

    out = {
        "setup_s": (setup_s, "s"),
        "failed_ratio": (len(res.failures) / res.attempted, "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    if workload == "online":
        out.update(
            search_p50_s=(p50.get("search"), "s"),
            search_tail_s=(tail(lat.get("search", [])), "s"),
            batch_search_qps=(rate("search_batch", sizes["batch_queries"]), "1/s"),
            append_p50_s=(p50.get("add_batch"), "s"),
            fresh_search_p50_s=(p50.get("fresh_search"), "s"),
        )
    else:
        out.update(
            ingest_rows_per_s=(rate("ingest", sizes["n_samples"]), "1/s"),
            build_vectors_per_s=(rate("build", sizes["n_build"]), "1/s"),
            semdedup_vectors_per_s=(rate("semdedup", sizes["sem_base"] + sizes["sem_copies"]), "1/s"),
            minhash_docs_per_s=(rate("minhash", sizes["n_docs"] + sizes["doc_copies"]), "1/s"),
        )
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "tmp", f"run-{os.getpid()}")
    prepare_env(work)
    from tracing import Tracer
    from workloads import Context, WORKLOADS

    t_run = time.perf_counter()
    load_before = os.getloadavg()
    tracer = Tracer(args.trace == 1)
    spark = None
    try:
        from bioclip_vector_db_spark.session import get_spark

        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        session_s = time.perf_counter() - t0
        tracer.attach(spark)
        tracer.install()
        res = WORKLOADS[args.workload](Context(spark, tracer, args.seed, args.seconds, work))
        sc = spark.sparkContext
        stamp = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "spark": spark.version,
            "python": platform.python_version(),
        }
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    finally:
        tracer.uninstall()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = session_s + median(res.setup_reps_s) + res.warmup_s
    stamp.update(
        commit=commit(),
        source_sha256=source_sha256(),
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        sizes=res.sizes,
        load_before=load_before,
        load_after=os.getloadavg(),
    )
    named = named_metrics(args.workload, res, setup_s, rss_mb)
    slots = WORKLOAD_SLOTS[args.workload]
    if args.trace:
        layer = dict.fromkeys((name for name, _, _ in PER_LAYER), 0)
        spans = tracer.span_medians()
        layer.update({name: spans.get(name[: -len("_s")], 0) for name in SPAN_METRICS})
        layer["session.start_s"] = session_s
        layer.update(res.layer)
        layer.update(tracer.spark_medians())
        layer["trace.overhead_ratio"] = tracer.overhead_ratio()
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit, _ in PER_LAYER}
        spans_dir = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write_spans(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        values = {
            "setup_s": setup_s,
            **{f"op{i + 1}_p50_s": median(res.latencies.get(k, [])) for i, k in enumerate(slots)},
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _, _ in END_TO_END}
    record = {
        "workload": args.workload,
        "stamp": stamp,
        "phases_s": {
            "session": session_s,
            "setup_reps": res.setup_reps_s,
            "warmup": res.warmup_s,
            "measure": res.measure_s,
            "total": time.perf_counter() - t_run,
        },
        "latencies_s": res.latencies,
        "op_slots": {f"op{i + 1}": k for i, k in enumerate(slots)},
        "named_metrics": named,
        "failures": res.failures,
    }
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": not res.failures,
                "attempted": res.attempted,
                "failed": len(res.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for workload in WORKLOAD_OPS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        sys.stderr.write(proc.stderr)
        if proc.returncode != 0:
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        print(lines[-2])
        last = json.loads(lines[-1])
        summary["correct"] &= last["correct"]
        summary["attempted"] += last["attempted"]
        summary["failed"] += last["failed"]
        summary["metrics"].update({f"{workload}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
