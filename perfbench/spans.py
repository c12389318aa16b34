"""In-memory spans recorded by the benchmark around calls into each layer.

A span is (id, op, parent, name, start, end). All spans of one timed
operation share ``op``. Spans are kept in a list and written out once,
at the end of the run. When a span opens, the Spark job description is
set to its id, so the event-log reader can attribute every Spark job to
the innermost span that launched it.

Spans inside ``LadderJob.run`` come from ``install_hooks``: in a traced
run only, the benchmark wraps the functions ``LadderJob`` calls into
other layers (checkpoint, rollup, the parquet write and the two
``first()`` actions), so the engine's own code is not edited.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, spark=None, enabled: bool = True):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op = None
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    def _describe(self, sid) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(
                None if sid is None else f"span:{sid}"
            )

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        if op is not None:
            self.op = op
        sid = len(self.spans)
        rec = {
            "id": sid,
            "op": self.op,
            "parent": self.stack[-1] if self.stack else None,
            "name": name,
            "start": 0.0,
            "end": 0.0,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._describe(sid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self._describe(self.stack[-1] if self.stack else None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def inside(self, name: str) -> bool:
        return any(self.spans[s]["name"] == name for s in self.stack)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover
    (the union of the children's intervals, clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, hi = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, hi), min(b, s["end"])
            if b > a:
                covered += b - a
                hi = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _wrap(tracer: Tracer, fn, namer):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        name = namer(args)  # may ask the JVM: counted as bookkeeping
        tracer.overhead_s += time.perf_counter() - t0
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def _first_name(args) -> str:
    # LadderJob.run calls first() twice per unit: the re-read of the
    # written output (columns w, p, b) and the watermark scan (max doc_id)
    cols = args[0].columns
    return "ladder_job.reread" if cols == ["w", "p", "b"] else (
        "ladder_job.watermark_scan" if cols == ["max(doc_id)"] else "spark.first"
    )


def install_hooks(tracer: Tracer) -> list:
    """Wrap the calls LadderJob makes into other layers with spans;
    returns the (owner, attr, original) list ``remove_hooks`` restores."""
    from pyspark.sql import DataFrameWriter

    from time2feat_spark.plans import checkpoint, ladder_job

    # the concrete DataFrame class of this session (Spark 4 splits the
    # public class from its classic implementation)
    frame = type(tracer.spark.range(0))

    def write_name(_args):
        return "ladder_job.write" if tracer.inside("ladder_job.run") else "spark.write"

    hooks = [
        (ladder_job, "snapshot_id", lambda a: "checkpoint.snapshot_id"),
        (ladder_job.LadderJob, "_unit_stats", lambda a: "ladder_job.prepass"),
        (checkpoint.Manifest, "append", lambda a: "checkpoint.manifest"),
        (checkpoint.Manifest, "records", lambda a: "checkpoint.manifest"),
        (ladder_job, "rollup_sequences", lambda a: "rollup.plan"),
        (ladder_job, "assemble", lambda a: "rollup.plan"),
        (DataFrameWriter, "parquet", write_name),
        (frame, "first", _first_name),
    ]
    saved = []
    for owner, attr, namer in hooks:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, orig, namer))
    return saved


def remove_hooks(saved: list) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)
