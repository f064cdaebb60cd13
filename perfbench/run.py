#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload analytics_sf01 --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):

- analytics_sf01: registry reads at sf0.1, bound by plan execution;
- iterative_sf001: HeroQL programs, PageRank and a streaming query at
  sf0.01, bound by fixed per-call costs (parsing, eager checkpoints,
  micro-batches, job overhead);
- txn_orders: snapshot-database transactions beside snapshot reads.

The input tables are copies of the engine's reference testdata, kept
under perfbench/data/; `--seed` fixes the op order of each timed pass
and the mutation keys. Every run checks the program's outputs (DuckDB
oracles, or a pandas replay of the transactions) outside the timed
passes.

`--trace 0` prints the end-to-end metrics; `--trace 1` runs the same
loop with per-layer tracing and prints the per-layer table (see
perfbench/tracing.py). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")

#: name -> (input directory under perfbench/data, ops or None for txn_orders)
WORKLOADS = {
    "analytics_sf01": ("sf0.1", ["tpch_q18", "dedup_minhash_lsh", "agg_group_having"]),
    "iterative_sf001": ("sf0.01", ["heroql_rules", "heroql_pipeline", "graph_pagerank",
                                   "stream_tumbling_agg"]),
    "txn_orders": ("sf0.1", None),
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s"}
TXN_METRICS = {
    "txn.commit_p50_ms": ("commit_p50_ms", "ms"),
    "txn.read_p50_ms": ("read_p50_ms", "ms"),
    "txn.space_amp": ("space_amp", "ratio"),
}
#: metrics that only some passes produce; their median is over those passes
SPARSE_METRICS = {"database.maintenance_s"}
INITIAL_HEAP = "3g"  # the maximum stays the engine's spark.driver.memory (8g)
REQUIRED_FILES = ("herodb_spark/__init__.py", "__spark_entry__.py", "tests/harness.py", "bench.py")


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def pin_env(run_dir: str, trace: bool) -> None:
    """Environment for the Spark JVM and its Python workers. Must run
    before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Spark's Python workers import herodb_spark by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        # keep every job and stage of a pass in the status store
        confs.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    # no JVM of the run writes perf data under the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # a fixed initial heap: grown from the default 1/64 of RAM, the heap
    # resized at different moments in every run
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{INITIAL_HEAP}"
    args = ["--driver-java-options", java_opts]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(out, session_s: float, probes: list[float], rss: tuple, extra: dict) -> tuple[dict, dict]:
    """(metric -> value, op -> metric -> value) from the traced passes."""
    from tracing import OP_METRICS, pass_totals

    totals = [pass_totals(recs) for recs in out.traced_passes]
    metrics = {}
    for key in OP_METRICS:
        vals = [t[key] for t in totals]
        if key in SPARSE_METRICS:
            vals = [v for v in vals if v]
        metrics[key] = _median(vals)
    by_op: dict[str, dict] = {}
    for recs in out.traced_passes:
        for r in recs:
            for key in OP_METRICS:
                by_op.setdefault(r["op"], {}).setdefault(key, []).append(r.get(key, 0.0))
    ops = {op: {k: _median(v) for k, v in m.items()} for op, m in by_op.items()}
    metrics.update({
        "session.start_s": session_s,
        "proc.jvm_rss_mb": rss[0],
        "proc.py_rss_mb": rss[1],
        "box.probe_s": probes[0],
        "trace.overhead_s": trace_overhead(out),
    })
    for name, (key, _unit) in TXN_METRICS.items():
        metrics[name] = extra.get(key, 0.0)
    return metrics, ops


def trace_overhead(out) -> float:
    """Traced minus untraced pass time, summed per op over the ops that
    run in every pass (txn_orders' periodic maintenance would otherwise
    land in one side only). The first timed pass is still on the
    warm-up curve, so the untraced side leaves it out."""
    total = 0.0
    for name, traced in out.traced_lat.items():
        untraced = out.lat.get(name, [])
        if len(traced) == len(out.traced_walls) and len(untraced) == len(out.walls):
            total += _median(traced) - _median(untraced[1:])
    return total


def per_layer_units() -> dict:
    from tracing import OP_METRICS

    units = {}
    for key in OP_METRICS + ["session.start_s", "proc.jvm_rss_mb", "proc.py_rss_mb",
                             "box.probe_s", "trace.overhead_s"]:
        suffix = key.rsplit("_", 1)[-1]
        units[key] = {"s": "s", "ms": "ms", "mb": "MB"}.get(suffix, "count")
    units["spark.exec.max_over_median_task"] = "ratio"
    units["database.write_amp"] = "ratio"
    units.update({name: unit for name, (_key, unit) in TXN_METRICS.items()})
    return units


def print_trace_table(metrics: dict, ops: dict, units: dict, walls: tuple) -> None:
    print(f"per-layer (median over traced passes; untraced pass_s {walls[0]:.3f} s, "
          f"traced pass_s {walls[1]:.3f} s, tracing overhead {metrics['trace.overhead_s']:+.3f} s "
          "over the ops of every pass)")
    for key, value in metrics.items():
        parts = [f"{op}={m[key]:.4g}" for op, m in ops.items() if m.get(key)]
        print(f"  {key:34s} {value:12.4f} {units[key]:6s} {' '.join(parts)}")


def run(args, age0: float, data_dir: str, run_dir: str) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from herodb_spark.session import get_spark

    import __spark_entry__  # noqa: F401  (operator modules, before tracing wraps them)
    import workloads as W

    names = WORKLOADS[args.workload][1]
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - age0
    gateway = spark.sparkContext._gateway
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    try:
        tracer = None
        probes = []
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        if names is None:
            wl = W.TxnOrders(spark, data_dir, run_dir, args.seed,
                             tracer=tracer)
        else:
            wl = W.ReadOnly(spark, data_dir, names, args.seed)
        out = W.drive(spark, wl, args.seconds, tracer)
        extra = wl.extra_metrics(out)
        rss = (vm_hwm_mb(jvm_pid), vm_hwm_mb("self"))
        if args.trace or args.probe:
            import bench

            probes.append(bench.probe_once(spark))
    finally:
        spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    setup_s = out.setup_end - age0
    print(f"workload {args.workload} seed {args.seed}: {len(out.walls)} untraced + "
          f"{len(out.traced_walls)} traced timed passes, {out.attempted} ops attempted, "
          f"{out.failed} failed (error_rate {out.failed / max(1, out.attempted):.4f})")
    for e in out.errors:
        print(f"  FAILED {e}")
    if out.check_s:
        print("  checked first calls: " + ", ".join(f"{k} {v:.2f} s" for k, v in out.check_s.items()))
    summary = {
        "setup_s": setup_s,
        "pass_s": _median(out.walls),
        # ops of every pass: txn_orders' periodic maintenance stays out
        "op_geomean_s": W.geomean([statistics.median(v) for v in out.lat.values()
                                   if len(v) == len(out.walls)]),
    }
    for name, v in sorted(out.lat.items()):
        print(f"  op {name:28s} median {statistics.median(v):8.3f} s over {len(v)}")
    if extra:
        print(f"  txn: commit p50 {extra['commit_p50_ms']:.1f} ms, "
              f"read p50 {extra['read_p50_ms']:.1f} ms ({extra['samples']} rounds); "
              f"space_amp {extra['space_amp']:.3f}")
    if probes:
        print(f"  box.probe_s samples: {' '.join(f'{p:.3f}' for p in probes)}")
    if args.trace:
        units = per_layer_units()
        values, ops = per_layer(out, session_s, probes, rss, extra)
        print_trace_table(values, ops, units, (_median(out.walls[1:]), _median(out.traced_walls)))
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        for k, v in summary.items():
            print(f"  {k:14s} {v:12.4f} {END_TO_END[k]}")
        print(f"  peak_rss_mb    {sum(rss):12.1f} MB (JVM {rss[0]:.1f} + Python {rss[1]:.1f}; "
              "a traced-run metric, see README)")
        metrics = {k: {"value": summary[k], "unit": END_TO_END[k]} for k in END_TO_END}
    return {"correct": out.failed == 0, "attempted": out.attempted,
            "failed": out.failed, "metrics": metrics}


def main(argv=None) -> int:
    age0 = time.perf_counter() - process_age()
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--probe", action="store_true",
                    help="after the measurements, print one box-speed probe sample "
                         "(bench.probe_once; a contention diagnostic, never a metric; "
                         "traced runs always take it, steady.py asks for it)")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a herodb_spark checkout (missing {missing})",
              file=sys.stderr)
        return 2
    data_dir = os.path.join(DATA, WORKLOADS[args.workload][0])
    if not os.path.isdir(data_dir):
        print(f"perfbench: input tables missing ({data_dir})", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        pin_env(run_dir, bool(args.trace))
        result = run(args, age0, data_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
