"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload geo_pipeline --seed 1 --seconds 60 --trace 0

Run it from the repository root (the package's pandas-UDF stages fail on
Python workers from another working directory). A run generates its
inputs from ``--seed`` under ``.perfbench/`` in the working directory,
starts one local Spark session, times one operation (the first in the
fresh JVM), then a fixed number of operations in a closed loop
(``--seconds`` caps that phase on a very slow host), checks every
output, and prints a JSON line of metrics last. ``--trace 1`` turns on
the Spark event log and spans for the same operations and prints the
per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

import numpy as np

import measure
from workloads import TEXT_STAGES, WORKLOADS, CheckFailed

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "solarpaneldatawrangler_spark"
CPUS = 4
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "items_per_s": "1/s",
}

# the modules that issue jobs on the listed workloads; jobs from any
# other module count under "other"
MODULES = [
    "pipeline",
    "pipeline_text",
    "operators.clustering",
    "sources.geojson",
    "streaming.admission",
    "perfbench",
    "other",
]
ENGINE = [
    "spark.jobs", "spark.tasks", "spark.driver_only_s", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.python_eval_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
]
# the spans the workloads open around calls into the package
SPANS = [
    "pipeline.simplify.build", "pipeline.to_tile_space.build", "pipeline.enumerate.build",
    "pipeline.classify.build", "pipeline.cluster.build", "pipeline.report.build",
    "geometry.union_rings", "pipeline.sink.exec",
    "plans.build", "plans.exec",
    "streaming.admission", "pipeline_text.build", "pipeline_text.sink",
]

# every per-layer metric a traced run prints, whatever the workload; a
# layer the workload does not reach reads 0
PER_LAYER = (
    # first_op_s is a layer metric: one sample per run, it did not repeat
    # within a tenth across seeds
    ["first_op_s", "session.get_spark_s", "session.first_job_s", "trace.timed_ops_s",
     "trace.op_self_s",
     # VmHWM of the Python driver plus the JVM: it follows G1's adaptive
     # heap sizing, which spread it by up to 0.27 across seeds, too much
     # for an end-to-end bound
     "peak_rss_mb"]
    + [f"{s}{suffix}" for s in SPANS for suffix in ("_s", "_jobs")]
    + ["grid.inside_ratio", "spatial.antijoin_keep_ratio", "clustering.s", "clustering.build_jobs",
       "dedup.fp_files_probed_ratio", "dedup.sig_bytes_probed_ratio", "dedup.store_write_s",
       "dedup.store_generations", "dedup.store_files", "durable_bytes_per_doc",
       "streaming.admitted_ratio", "streaming.batch_s.0", "streaming.batch_s.1"]
    + [f"pipeline_text.rows_after.{s}" for s in TEXT_STAGES]
    + ["sources.scan_bytes", "sources.scan_s", "sources.sink_bytes", "sources.sink_s"]
    + [f"module_job_s.{m}" for m in MODULES]
    + ENGINE
)


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_bytes", "bytes_per_doc")):
        return "bytes"
    if name.endswith(("_s", ".s")) or ".batch_s." in name or name.startswith("module_job_s."):
        return "s"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def environment(root: str, spark) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "java": java,
        "python": platform.python_version(),
        "commit": commit,
        "SPARK_GRAFT_CACHE_TABLES": "unset",
    }


def jvm_pid() -> int:
    """Pid of the JVM the PySpark gateway launched."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=20)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    package_dir = os.path.join(root, PACKAGE)
    if not os.path.isfile(os.path.join(package_dir, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    if "SPARK_GRAFT_CACHE_TABLES" in os.environ:
        print("perfbench: SPARK_GRAFT_CACHE_TABLES must be unset", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    t_process = measure.process_start_epoch()
    run_dir = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        return run(args, root, package_dir, run_dir, t_process)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it


def run(args, root: str, package_dir: str, run_dir: str, t_process: float) -> int:
    tmp = os.path.join(run_dir, "tmp")
    # keep every file Spark and Python write inside the run directory;
    # the catalog's import-time oracles train on the generated tables
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_ORACLE_SF_DIR=os.path.join(run_dir, "star"),
    )
    tracer = measure.Tracer()
    workload = WORKLOADS[args.workload](np.random.default_rng(args.seed), run_dir, tracer)
    spark = None
    attempted = failed = 0
    try:
        workload.generate()
        from solarpaneldatawrangler_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        }
        event_dir = os.path.join(run_dir, "eventlog")
        if args.trace:
            os.makedirs(event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.time()
        spark = get_spark(f"perfbench-{args.workload}", cpus=CPUS, extra_conf=conf)
        t1 = time.time()
        spark.range(1).count()
        t2 = time.time()
        workload.prepare(spark)
        setup_s = time.time() - t_process
        sc = spark.sparkContext
        if args.trace:
            tracer.sc = sc
            measure.install_attribution(sc, package_dir + os.sep, BENCH_DIR + os.sep)
        env = environment(root, spark)
        phase = {}
        t = time.perf_counter()
        workload.expect()
        phase["expect_s"] = time.perf_counter() - t
        t = time.perf_counter()

        lat, items, traced_spans = [], 0, []

        def one(i: int, traced: bool) -> tuple[float, int] | None:
            nonlocal attempted, failed
            attempted += 1
            tracer.enabled = traced
            n0 = len(tracer.spans)
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    n = workload.op(i)
            except CheckFailed:
                raise
            except Exception:
                failed += 1
                traceback.print_exc()
                return None
            finally:
                tracer.enabled = False
            dt = time.perf_counter() - t
            if traced:
                traced_spans.append(n0)
            workload.after_op(i)
            return dt, n

        first = one(0, False)
        i = 1
        # untimed ops that carry the JVM past the steepest part of its
        # warm-up, so the timed ops sample its steady state
        for _ in range(workload.warmup_ops):
            one(i, False)
            i += 1
        capped = False
        steal0 = measure.cpu_ticks()
        # a fixed number of timed ops, so every run reports the same
        # statistics; --seconds only caps them on a very slow host
        deadline = time.perf_counter() + args.seconds
        for _ in range(workload.timed_ops):
            if time.perf_counter() > deadline:
                capped = True
                break
            r = one(i, bool(args.trace))
            i += 1
            if r is not None:
                lat.append(r[0])
                items += r[1]
        steal1 = measure.cpu_ticks()
        phase["ops_s"] = time.perf_counter() - t
        t = time.perf_counter()
        if first is None or not lat:
            print("perfbench: no timed operation succeeded", file=sys.stderr)
            return 1
        workload.check()
        phase["check_s"] = time.perf_counter() - t
        rss_kb = measure.vm_hwm_kb() + measure.vm_hwm_kb(jvm_pid())
    except CheckFailed as e:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
        result = {"correct": False, "attempted": max(1, attempted), "failed": failed,
                  "metrics": {}}
        print(json.dumps(result))
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)

    tail = measure.tail(lat)
    if tail is not None and tail[1] < 50:
        # below twenty samples the rule's percentile falls under the
        # median; the maximum stands in for the tail
        tail = None
    info = {"workload": args.workload, "seed": args.seed, "ops_timed": len(lat),
            "timed_ops_s": sum(lat),
            "first_op_s": round(first[0], 3),
            "op_s": [round(x, 3) for x in lat],
            "capped_by_seconds": capped,
            "tail_percentile": tail[1] if tail else 100.0,
            "tail_samples_beyond": tail[2] if tail else 0,
            "cpu_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "phase_s": {k: round(v, 2) for k, v in phase.items()},
            "peak_rss_mb": rss_kb / 1024.0,
            "environment": env,
            **workload.info()}
    if args.trace:
        log = measure.read_event_log(event_dir)
        metrics = traced_metrics(tracer, traced_spans, log.jobs)
        metrics.update(workload.layer_metrics(log))
        metrics["session.get_spark_s"] = t1 - t0
        metrics["session.first_job_s"] = t2 - t1
        metrics["first_op_s"] = first[0]
        # the tracing overhead is this minus timed_ops_s of an untraced
        # run with the same seed
        metrics["trace.timed_ops_s"] = sum(lat)
        metrics["peak_rss_mb"] = rss_kb / 1024.0
        out = {k: {"value": metrics.get(k, 0.0), "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "op_s_p50": measure.median(lat),
            "op_s_tail": tail[0] if tail else max(lat),
            "items_per_s": items / sum(lat),
        }
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    print(json.dumps(info))
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def traced_metrics(tracer, op_span_ids, jobs) -> dict[str, float]:
    """Per-layer metrics, summed over the traced operations, from the
    spans of each traced op and the jobs its spans launched. Every span
    S below an op gives ``S_s`` (its duration) and ``S_jobs`` (the jobs
    launched inside it)."""
    per_op: list[dict[str, float]] = []
    span_ids = {str(s.id) for s in tracer.spans}
    for sid in op_span_ids:
        op = tracer.spans[sid]
        inner = [s for s in tracer.spans if s.id in tracer.descendants(sid) and s.id != sid]
        by_id = {str(s.id): s for s in inner}
        # a streaming query's jobs carry the query's own job group; in a
        # closed loop they belong to the innermost span running when they
        # start
        op_jobs = [
            j for j in jobs
            if j.group in by_id or j.group == str(sid)
            or (j.group not in span_ids and op.start <= j.start <= op.end)
        ]
        m: dict[str, float] = {}

        def add(k, v):
            m[k] = m.get(k, 0.0) + v

        for s in inner:
            add(f"{s.name}_s", s.duration)
        for j in op_jobs:
            span = by_id.get(j.group)
            if span is None:
                around = [s for s in inner if s.start <= j.start <= s.end]
                span = max(around, key=lambda s: s.start, default=None)
            while span is not None:  # a job counts for its span and every enclosing one
                add(f"{span.name}_jobs", 1)
                span = by_id.get(str(span.parent))
            if j.module == "operators.clustering":
                add("clustering.s", j.duration)
                add("clustering.build_jobs", 1)
            mod = j.module if j.module in MODULES else "other"
            add(f"module_job_s.{mod}", j.duration)
            add("spark.jobs", 1)
            add("spark.tasks", j.tasks)
            add("spark.executor_run_s", j.run_s)
            add("spark.executor_cpu_s", j.cpu_s)
            add("spark.gc_s", j.gc_s)
            add("spark.python_eval_s", j.python_s)
            add("spark.shuffle_read_bytes", j.shuffle_read)
            add("spark.shuffle_write_bytes", j.shuffle_write)
            add("spark.spill_bytes", j.spill)
            add("sources.scan_bytes", j.input_bytes)
            add("sources.scan_s", j.scan_run_s)
            add("sources.sink_bytes", j.output_bytes)
            add("sources.sink_s", j.sink_run_s)
        busy = measure.covered((op.start, op.end), [(j.start, j.end) for j in op_jobs])
        m["spark.driver_only_s"] = op.duration - busy
        m["trace.op_self_s"] = tracer.self_time(op)
        per_op.append(m)
    keys = set().union(*per_op) if per_op else set()
    return {k: sum(m.get(k, 0.0) for m in per_op) for k in keys}


if __name__ == "__main__":
    sys.exit(main())
