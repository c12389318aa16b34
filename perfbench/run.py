"""Layered benchmark of the time2feat_spark engine.

    python3 perfbench/run.py --workload live_reads --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One process generates the load: Spark
``local[4]`` and one client thread. The seed makes every input; the
engine only sees the generated files, written under
``.perfbench_run/`` in the checkout. Every output is checked outside
the timed sections.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the
separate traced run: the benchmark records spans around each call into
a layer, Spark writes its event log to a local directory, and a
single-batch layer pass runs in this process; it prints the per-layer
metrics and writes the spans to ``.perfbench_run/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

CORES = 4
PREPARE_REPS = 3


def metric_units(root: str, key: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` lists."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def _descendants(root_pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def python_workers() -> list[int]:
    """Spark's Python daemon and the workers it forked: the Python
    processes below this one (the JVM between them is not Python)."""
    out = []
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    out.append(pid)
        except OSError:
            continue
    return out


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb(pids: list[int]) -> float:
    best = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return best


def start_spark(work: str, eventlog: str | None):
    from time2feat_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "time2feat_spark")):
        print("perfbench: run from the root of a checkout that holds the "
              "time2feat_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)

    from perfbench import layers, report, stats
    from perfbench.spans import Tracer, install_hooks, remove_hooks
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench_run")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    eventlog = os.path.join(work, "eventlog") if args.trace else None

    t0 = time.perf_counter()
    spark = start_spark(work, eventlog)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        prep = []
        for _ in range(PREPARE_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        hooks = install_hooks(tracer) if args.trace else []
        try:
            once_s = wl.setup()
            setup_s = session_s + stats.median(prep) + once_s
            reset_peak_rss(python_workers())
            ops = wl.run(args.seconds)
        finally:
            remove_hooks(hooks)
        rss = peak_rss_mb(python_workers())
        t0 = time.perf_counter()
        results = wl.check()
        check_s = time.perf_counter() - t0
        # tier_points plans on a Column, which needs the live session
        batch = layers.run(args.seed) if args.trace else {}
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
    stop_s = time.perf_counter() - t0

    # each check verifies the output of one timed operation
    failed = sum(1 for _n, ok, _d in results if not ok)
    attempted = sum(1 for o in ops if not o.info.get("aggregate"))
    for name, ok, detail in results:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    main_s = [o.wall_s for o in ops if o.kind == wl.main_kind]
    queries = [o.wall_s * 1000 for o in ops if o.kind != wl.main_kind]
    e2e = {
        "setup_s": setup_s,
        "op_s": stats.median(main_s),
        "query_p50_ms": stats.median(queries),
        "peak_rss_mb": rss,
    }
    print(f"{args.workload} setup: session {session_s:.2f} s, input median of "
          f"{PREPARE_REPS} {stats.median(prep):.2f} s, once-only {once_s:.2f} s; "
          f"then checks {check_s:.2f} s, stop {stop_s:.2f} s")
    report.print_details(args.workload, wl, ops, queries)
    if args.trace:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
        from perfbench import eventlog as evlog

        log = evlog.read_dir(eventlog)
        units = metric_units(root, "per_layer")
        metrics = report.layer_metrics(list(units), wl, ops, tracer, log,
                                       batch, CORES)
    else:
        metrics, units = e2e, metric_units(root, "end_to_end")
    shutil.rmtree(work, ignore_errors=True)
    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} are "
              "measured or listed in BENCHMARK.json, not both", file=sys.stderr)
        return 3
    for name, unit in units.items():
        print(f"{args.workload} {name} = {_fmt(metrics[name])} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
