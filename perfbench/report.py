"""Turns a run's operations, spans and Spark event log into the printed
report and the per-layer metrics.

Every per-layer metric is printed on every workload. Timings of the
single-batch layer pass, of Spark tasks and of the traced operation are
measured on every workload; a layer that a workload does not call
reports 0.
"""

from __future__ import annotations

import os

from . import eventlog, inputs, stats
from .spans import self_times
from .workloads import CURATION

READ_KINDS = [kind for kind, _weight in inputs.READ_KINDS]
LADDER_PARTS = ["prepass", "write", "reread", "watermark_scan"]


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    files = size = 0
    for d, _sub, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def print_details(workload: str, wl, ops, queries_ms: list[float]) -> None:
    """Human-readable lines before the JSON result."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.wall_s * 1000)
    for kind, walls in sorted(by_kind.items()):
        print(f"{workload} op {kind}: n={len(walls)} p50={stats.median(walls):.1f} ms")
    t = stats.tail(queries_ms)
    print(f"{workload} queries: n={len(queries_ms)} "
          + (f"p{t[0]:g}={t[1]:.1f} ms" if t else "no percentile above p50 "
             f"has {stats.MIN_ABOVE} samples above it"))
    pts = wl.input_points()
    if pts:
        files, size = _dir_stats(wl.out)
        base = int(wl.base.column("n_tok").to_numpy().sum())
        print(f"{workload} base build (cold LadderJob.run, in setup_s): {wl.build_s:.2f} s, "
              f"build_pts_per_s = {base / wl.build_s:.6g} pts/s")
        print(f"{workload} stored_bytes_per_pt = {size / pts:.6g} B/pt ({files} files)")


def layer_metrics(names: list[str], wl, ops, tracer, log: eventlog.Log,
                  batch: dict, cores: int) -> dict:
    """Every per-layer metric in ``names``; a layer the workload does not
    call keeps 0."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def root(sid):
        while by_id[sid]["parent"] is not None:
            sid = by_id[sid]["parent"]
        return sid

    def dur(s):
        return s["end"] - s["start"]

    roots = [s for s in spans if s["parent"] is None]
    under: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            under.setdefault(root(s["id"]), []).append(s)
    jobs_of: dict[int, list] = {}
    for j in log.jobs.values():
        sid = eventlog.span_of(j)
        if sid is not None and sid in by_id:
            jobs_of.setdefault(root(sid), []).append(j)
    all_jobs = [j for js in jobs_of.values() for j in js]
    sp = log.summary(all_jobs, cores)

    m = {name: 0.0 for name in names}
    m.update(batch)
    m.update({f"spark.{k}": v for k, v in sp.items() if f"spark.{k}" in m})

    root_wall = sum(dur(s) for s in roots)
    m["trace.spans"] = len(spans)
    m["trace.bookkeeping_frac"] = tracer.overhead_s / root_wall if root_wall else 0.0
    m["trace.op_s"] = stats.median([o.wall_s for o in ops if o.kind == wl.main_kind])

    # the appends' LadderJob runs: per-run medians (the base build is a
    # cold full run in set-up, so it stays out)
    appends = [s for s in roots if s["name"] == "ladder_job.run"
               and s["op"].startswith("append-")]
    if appends:
        selfs = self_times(spans)

        def per_run(*names):
            # top-most spans of these names only, so nesting is not counted twice
            return stats.median([
                sum(dur(s) for s in under.get(r["id"], []) if s["name"] in names
                    and by_id[s["parent"]]["name"] not in names)
                for r in appends])

        for part in LADDER_PARTS:
            m[f"ladder_job.{part}_s"] = per_run(f"ladder_job.{part}")
        m["checkpoint.snapshot_id_s"] = per_run("checkpoint.snapshot_id")
        m["checkpoint.manifest_s"] = per_run("checkpoint.manifest")
        # the part of a run no child span covers: LadderJob's own Python
        m["ladder_job.self_share"] = stats.median(
            [selfs[r["id"]] / dur(r) for r in appends])
        m["ladder_job.spark_jobs"] = stats.median(
            [len(jobs_of.get(r["id"], [])) for r in appends])
        m["ladder_job.runs"] = len(appends)
        m["ladder_job.units"] = stats.median(
            [o.info["units"] for o in ops if o.kind == "append"])
        files, size = _dir_stats(wl.out)
        m["ladder_job.files_written"] = files
        m["ladder_job.stored_bytes_per_pt"] = size / wl.input_points()

    reads = [s for s in roots
             if s["name"].startswith("router.") and s["op"].startswith("read-")]
    if reads:
        for k in READ_KINDS:
            mine = [dur(s) * 1000 for s in reads if s["name"] == f"router.{k}"]
            m[f"router.{k}_p50_ms"] = stats.median(mine)
            m[f"router.{k}_n"] = len(mine)
        m["router.reads"] = len(reads)
        rs = log.summary([j for s in reads for j in jobs_of.get(s["id"], [])], cores)
        returned = sum(o.info.get("rows", 0) for o in ops if o.kind in READ_KINDS)
        m["router.rows_read_per_row_returned"] = rs["records_read"] / max(1, returned)
        m["router.files_read_per_read"] = rs["files_read"] / len(reads)

    queries = [s for s in roots
               if s["name"].startswith("curation.") and s["op"].startswith("pass-")]
    if queries:
        for q in CURATION:
            mine = [s for s in queries if s["name"] == f"curation.{q}"]
            m[f"curation.{q}_s"] = stats.median([dur(s) for s in mine])
            m[f"curation.{q}.shuffle_bytes"] = log.summary(
                [j for s in mine for j in jobs_of.get(s["id"], [])], cores
            )["shuffle_write_bytes"] / len(mine)
    return m
