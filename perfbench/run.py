"""Benchmark of strat_backtest_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Generates the workload's inputs
from ``--seed`` under ``.perfbench_work/``, starts Spark on
``local[<nproc>]`` through ``session.get_spark``, runs one warm-up
operation, then runs the workload's operation in a closed loop with one
client for ``--seconds``, checks the collected outputs against DuckDB oracles and
prints one JSON result as the last line of stdout. The line before it is
a record of the settings, sizes, load regime and check counts.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
Spark's event log, alternates a layer-by-layer run with the normal
operation, and reports the per-layer metrics instead. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the loop measures at least this many operations, so that no figure
# rests on one operation that a slow stretch of the host landed on
MIN_OPS = 2

LAYERS = (
    "sources", "signals", "kernel", "portfolio", "metrics", "optimize",
    "dedup.minhash", "dedup.lsh", "dedup.cc", "dedup.simhash",
)
END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "items_per_s": "items/s", "python_rss_mb": "MB",
}


def _unit(stat: str) -> str:
    if stat.endswith("_s"):
        return "s"
    return "bytes" if stat.endswith("_bytes") else "count"


def per_layer_units() -> dict:
    from spans import STATS

    units = {"session.start_s": "s"}
    for layer in LAYERS:
        for stat in STATS:
            if (layer, stat) != ("optimize", "rows_out"):  # no output table
                units[f"{layer}.{stat}"] = _unit(stat)
    units.update({
        "kernel.groups": "count", "kernel.orders": "count", "kernel.events": "count",
        "optimize.jobs_per_score": "jobs/score",
        "dedup.lsh.kept_per_candidate": "ratio",
        "trace.op_p50_s": "s", "trace.items_per_s": "items/s",
        "trace.layer_sum_s": "s", "trace.fusion_gap_s": "s",
    })
    return units


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (tests)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "strat_backtest_spark", "__init__.py")):
        print(f"perfbench: no strat_backtest_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        # before the program is imported: session.py reads its
        # defaults at import time
        knobs = pin_environment(work, bool(args.trace))
        sys.path[:0] = [ROOT, HERE]
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        return run(args, WORKLOADS[args.workload], work, knobs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


def pin_environment(work: str, trace: bool) -> dict:
    """Session knobs the program reads, set before Spark starts. Spark's
    scratch, temp files and event log stay inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(4096, _mem_total_mb() // 3)
    local, tmp, events = (os.path.join(work, d) for d in ("local", "tmp", "eventlog"))
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    submit = []
    if trace:
        submit = [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return {**env, "eventlog_dir": events}


def run(args, workload_cls, work: str, knobs: dict) -> int:
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "load_start": load_regime(), "knobs": knobs,
    }
    wl = workload_cls(work, args.seed, args.smoke)
    record["sizes"] = wl.sizes()
    phases = {}  # wall time of each part of the run, for the time budget
    t = time.perf_counter()
    wl.generate()
    phases["generate_s"] = time.perf_counter() - t

    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]  # in case it was read before
    from strat_backtest_spark.session import get_spark

    # ready to measure: the session (JVM start, context, one Python
    # worker per core), then one operation, which pays JIT, codegen and
    # any lazy first-use work
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=knobs["SPARK_GRAFT_CPUS"])
    start_s = time.perf_counter() - t0
    start_workers(spark)
    phases["session_s"] = session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.op(spark, -1)
    phases["warmup_s"] = warmup_s = time.perf_counter() - t0

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        if hasattr(wl, "trace_children"):
            wl.trace_children(tracer)
    fused_layer = "optimize" if hasattr(wl, "trace_children") else "op"

    results, failed_ops, iterations = [], 0, 0
    ticks = _cpu_ticks()
    t = time.perf_counter()
    deadline = t + args.seconds
    while len(results) < MIN_OPS or time.perf_counter() < deadline:
        try:
            if tracer is None:
                res = wl.op(spark, len(results) + failed_ops)
            else:
                wl.split(spark, tracer)
                iterations += 1
                with tracer.span("fused", fused_layer):
                    res = wl.op(spark, len(results) + failed_ops)
            results.append(res)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            failed_ops += 1
            if failed_ops > 3 and len(results) < MIN_OPS:
                break  # too little succeeds: the loop condition would never end

    # steal above a few percent means other guests slowed this run
    record["measure_cpu"] = cpu_shares(ticks, _cpu_ticks())
    record["contended"] = (
        record["load_start"]["contended"] or record["measure_cpu"]["steal"] > 0.05
    )
    record["peak_rss_mb"] = rss = tree_peak_rss_mb()
    app_id = spark.sparkContext.applicationId
    phases["measure_s"] = time.perf_counter() - t
    t = time.perf_counter()
    shutdown(spark)
    phases["shutdown_s"] = time.perf_counter() - t
    record["load_end"] = {"loadavg_1m": os.getloadavg()[0]}

    t = time.perf_counter()
    check = wl.check([r.output for r in results]) if results else None
    phases["check_s"] = time.perf_counter() - t
    bad = len(check.bad_ops) if check else 0
    record.update(
        ops=len(results), failed_ops=failed_ops, mismatched_ops=bad,
        checked=check.checked if check else 0, item=wl.unit,
        check_notes=check.notes if check else {},
    )
    lat = [x for r in results for x in r.latencies]
    e2e = {
        "setup_s": session_s + warmup_s,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "items_per_s": (  # over operations, like op_p50_s
            statistics.median([r.items / r.wall_s for r in results]) if results else 0.0
        ),
        # the JVM's peak RSS is recorded but not a metric: G1 sizes the
        # heap by GC timing, so it varied 1.3-2.7 GB on identical runs
        "python_rss_mb": rss["driver"] + rss["workers"],
    }
    record.update(
        latencies=lat, session_start_s=start_s, phases=phases,
    )
    if args.trace:
        metrics = layer_metrics(
            tracer, knobs["eventlog_dir"], app_id, iterations, wl, e2e,
            start_s,
            sum(len(r.latencies) for r in results) if fused_layer == "optimize" else 0,
        )
        units = per_layer_units()
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": bool(results) and check.checked > 0 and bad == 0 and failed_ops == 0,
        "attempted": len(results) + failed_ops,
        "failed": failed_ops + bad,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def start_workers(spark) -> None:
    """One Python task per core, so a fresh context starts its workers."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").collect()


def layer_metrics(tracer, eventlog_dir, app_id, iterations, wl, e2e, start_s, scores) -> dict:
    """Every per-layer metric of a traced run; 0 for layers the workload
    does not run."""
    stats = tracer.layer_stats(eventlog_dir, app_id, iterations)
    from spans import STATS

    out = {"session.start_s": start_s}
    layer_sum = 0.0
    for layer in LAYERS:
        s = stats.get(("fused" if layer == "optimize" else "split", layer), {})
        for stat in STATS:
            out[f"{layer}.{stat}"] = s.get(stat, 0)
        out.pop("optimize.rows_out", None)
        if layer in wl.split_layers():
            layer_sum += s.get("build_s", 0.0) + s.get("exec_s", 0.0)
    n = max(iterations, 1)
    rows = tracer.rows
    # stats are per iteration; scores counts the score calls of all
    # fused operations (0 where the operation is not an optimizer)
    fused_jobs = n * sum(s["jobs"] for (phase, _), s in stats.items() if phase == "fused")
    candidates = rows.get("dedup.lsh.candidates", 0)
    out.update({
        "kernel.groups": rows.get("kernel.groups", 0) / n,
        "kernel.orders": rows.get("kernel.orders", 0) / n,
        "kernel.events": rows.get("kernel.events", 0) / n,
        "optimize.jobs_per_score": fused_jobs / scores if scores else 0,
        "dedup.lsh.kept_per_candidate": (
            rows.get("dedup.lsh", 0) / candidates if candidates else 0
        ),
        "trace.op_p50_s": e2e["op_p50_s"],
        "trace.items_per_s": e2e["items_per_s"],
        "trace.layer_sum_s": layer_sum,
        "trace.fusion_gap_s": e2e["op_p50_s"] - layer_sum,
    })
    return out


def load_regime() -> dict:
    """Load average, Spark JVMs already running, CPU busy share and the
    page-cache regime of the Spark jars, so that a contended run is
    flagged, not compared."""
    jvms = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                jvms += b"SparkSubmit" in fh.read()
        except OSError:
            pass
    before = _cpu_ticks()
    time.sleep(0.25)
    busy = cpu_shares(before, _cpu_ticks())["busy"]
    return {
        "loadavg_1m": os.getloadavg()[0], "spark_jvms": jvms,
        "cpu_busy_share": busy, "cpu_probe_mloops_per_s": _cpu_probe(),
        "page_cache": _preread_jars(), "contended": jvms > 0 or busy > 0.25,
    }


def _cpu_probe() -> float:
    """Million iterations per second of a fixed single-core Python loop.
    A host whose cores are shared with other guests reads lower here
    even when it shows no steal; compare it across runs."""
    t = time.perf_counter()
    n = 0
    for i in range(2_000_000):
        n += i
    return 2.0 / (time.perf_counter() - t)


def _cpu_ticks() -> list:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_shares(before: list, after: list) -> dict:
    """Host CPU shares between two ``_cpu_ticks`` samples. Steal is time
    the hypervisor gave to other guests while this one wanted to run."""
    d = [y - x for x, y in zip(before, after)]
    total = max(sum(d), 1)
    return {"busy": 1 - (d[3] + d[4]) / total, "steal": d[7] / total}


def _preread_jars() -> dict:
    """Read the pyspark jars: warm-cache reads run at GB/s, cold at disk
    speed. The read also warms the cache for the JVM start."""
    import pyspark

    root = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    t0, n = time.perf_counter(), 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(dirpath, f), "rb") as fh:
                while chunk := fh.read(1 << 22):
                    n += len(chunk)
    mbs = n / 1e6 / max(time.perf_counter() - t0, 1e-9)
    regime = "warm" if mbs > 1000 else ("cold" if mbs < 300 else "mixed")
    return {"mb": round(n / 1e6, 1), "mb_per_s": round(mbs), "regime": regime}


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def tree_peak_rss_mb() -> dict:
    """Peak RSS (VmHWM) in MB of this process and all its descendants,
    summed per kind: the Python driver, the Spark JVM and its Python
    workers (pages shared by forked workers count in each)."""
    children: dict[int, list] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "n_workers": 0}
    todo = [(os.getpid(), "driver")]
    while todo:
        pid, kind = todo.pop()
        todo += [(c, "jvm" if kind == "driver" else "workers") for c in children.get(pid, [])]
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb = next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
        out[kind] += kb / 1024
        out["n_workers"] += kind == "workers"
    return out


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
