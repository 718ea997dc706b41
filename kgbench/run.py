"""KG-construction benchmark: one workload run, one JSON result line.

Run from the repository root:

    python3 kgbench/run.py --workload crawl_catchup --seed 1 --seconds 5 --trace 0

Workloads: crawl_catchup, graph_queries (see kgbench/README.md). With
``--trace 0`` the result's metrics are the end-to-end metrics; with
``--trace 1`` the Spark event log is on, every measured op is traced, and the
metrics are the per-layer ones. A traced crawl_catchup run is not correct
unless its spans cover at least ``MIN_COVERAGE`` of the ops' wall time. The
last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
diagnostics (host-speed probe before and after, per-op times, problems).
Everything the run writes goes under ``.kgbench_work/`` in the repository and
is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {"op_cpu_s": "s", "setup_s": "s"}
MIN_COVERAGE = 0.9


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the program write inside ``work``
    (must run before the JVM starts and before ``tempfile`` is first used)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _stop_spark(spark, tree) -> None:
    """Stop the session and the JVM, and wait for every process the run
    started (the JVM and the Python worker daemon) to end."""
    from pyspark import SparkContext

    pids = tree.pids()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()  # no more calls into the JVM, not even from finalizers
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "scikg_spark", "pipeline",
                                       "runner.py")):
        print("kgbench: no scikg_spark package next to kgbench/; run it from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kgbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    sys.path.insert(0, ROOT)
    from scikg_spark.pipeline.session import get_spark

    tree = spans.ProcTree()
    probe_before = workloads.host_probe_mops()
    conf = None
    if args.trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
    try:
        with (spans.RssSampler(tree) if args.trace
              else contextlib.nullcontext()) as rss:
            t0 = time.perf_counter()
            spark = get_spark(extra_conf=conf)
            session_s = time.perf_counter() - t0
            cores = spark.sparkContext.defaultParallelism
            tracer = spans.Tracer(spark, tree) if args.trace else None
            try:
                res = workloads.run_workload(
                    args.workload, spark, work, args.seed, args.seconds,
                    tracer, session_s)
            finally:
                _stop_spark(spark, tree)
        probe_after = workloads.host_probe_mops()
        if args.trace:
            (log,) = glob.glob(os.path.join(evdir, "*"))
            metrics = layer_metrics(res, tracer, spans.read_event_log(log),
                                    cores, session_s)
            metrics["session.peak_rss_mb"] = rss.peak_mb
            units = LAYER_UNITS
            if (args.workload == "crawl_catchup"
                    and metrics["trace.span_coverage"] < MIN_COVERAGE):
                res["problems"].append(
                    f"spans cover {metrics['trace.span_coverage']:.3f} of op "
                    f"wall time, below {MIN_COVERAGE}")
        else:
            metrics = {k: res[k] for k in END_TO_END}
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    diag = {k: res[k] for k in ("session_s", "workload_setup_s", "op_times_s",
                                "op_cpu_times_s", "check_s", "problems")}
    diag.update(host_probe_mops_before=probe_before,
                host_probe_mops_after=probe_after)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "correct": res["failed"] == 0 and not res["problems"],
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


def _layer_units() -> dict[str, str]:
    span_units = {"wall_s": "s", "cpu_s": "s", "jobs": "count",
                  "tasks": "count", "failed_tasks": "count",
                  "shuffle_mb": "MB", "out_mb": "MB", "busy_ratio": "ratio"}
    units = {f"{s}.{c}": span_units[c]
             for s in spans.SPANS for c in spans.COUNTERS}
    units.update({"stage1.py_rows_out": "rows", "fused.py_rows_out": "rows",
                  "stage3.phrases": "count", "stage3.lsh_candidates": "count",
                  "stage3.lsh_useful_ratio": "ratio",
                  "stage3.cc_edges": "count", "stage3.entities": "count",
                  "stage4.rows_written_per_new_tuple": "rows/tuple"})
    for q in workloads.KG_QUERIES:
        units.update({f"kg.{q}.wall_ms": "ms", f"kg.{q}.jobs": "count",
                      f"kg.{q}.shuffle_mb": "MB"})
    units.update({f"core.{f}_us": "us" for f in checks.CORE_FUNCS})
    units.update({"op.wall_s": "s",
                  "session.start_s": "s", "session.peak_rss_mb": "MB",
                  "trace.overhead_ratio": "ratio",
                  "trace.span_coverage": "ratio"})
    return units


def layer_metrics(res, tracer, events, cores, session_s) -> dict[str, float]:
    """Every per-layer metric; a layer the workload's ops never call reads 0."""
    n_ops = len(res["op_times_s"])
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out.update(spans.span_counters(tracer, events, cores, n_ops))
    kg = {}
    for s in tracer.spans:
        if s.op is not None and s.name.startswith("kg."):
            ev = events.get(s.group, {})
            k = kg.setdefault(s.name, [0.0, 0.0, 0.0])
            k[0] += (s.t1 - s.t0) * 1e3
            k[1] += ev.get("jobs", 0.0)
            k[2] += ev.get("shuffle_mb", 0.0)
    for name, (wall_ms, jobs, shuffle) in kg.items():
        out[f"{name}.wall_ms"] = wall_ms / n_ops
        out[f"{name}.jobs"] = jobs / n_ops
        out[f"{name}.shuffle_mb"] = shuffle / n_ops
    out.update(res["layers"])
    roots = [s for s in tracer.spans if s.name == "runner"]
    op_wall = sum(s.t1 - s.t0 for s in roots)
    if op_wall:
        out["trace.span_coverage"] = sum(s.child_wall for s in roots) / op_wall
        out["trace.overhead_ratio"] = tracer.overhead_s / op_wall
    out["op.wall_s"] = res["op_s"]
    out["session.start_s"] = session_s
    unknown = set(out) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return out


LAYER_UNITS = _layer_units()

if __name__ == "__main__":
    sys.exit(main())
