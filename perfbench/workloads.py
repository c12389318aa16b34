"""The benchmark's workloads. Each drives the engine's public entry points
from one client thread and returns its timed operations and its output
checks; ``run.py`` turns them into metrics.

* ``live_reads``: a base ladder built in set-up by ``LadderJob(...).run()``
  with default settings, then a closed loop of seeded dashboard reads
  with an incremental append (``run(incremental=True)``) after every k
  reads (router, Gorilla decode, Spark planning, per-unit job cost).
* ``curation_queries``: passes of seven JVM- and shuffle-heavy curation
  queries of ``__spark_entry__.queries()`` over a seeded corpus shaped
  like the engine's sf0.1 test tables, each checked against its oracle.

Set-up ends with an untimed warm-up of the timed operations, so the
JVM's JIT warm-up and plan compilation stay out of the timings. Both
then run whole cycles (half-cycles of the read mix, passes), at least
two, and start another only while it should end within ``--seconds``.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np

from . import checks, inputs

#: base table: 50 generator rows of the Zipf-head source (~50k points);
#: every append lands 2 more rows. LadderJob's fixed cost per source unit
#: (about 8 Spark jobs, run one after another) dominates its wall time on
#: a 4-core machine at any size that fits in one run, so one unit keeps
#: an append at ~2 s.
BASE_DOCS = 50
INCREMENT_DOCS = 2
#: a closed loop of k reads, then one append: each half of the 12-read
#: mix holds 3 appends
READS_PER_APPEND = 2
#: timed half-cycles of the mix, and curation passes, a run holds at least
MIN_CYCLES = 2
#: appends in the set-up warm-up, after the base build
WARM_APPENDS = 3
#: reads span the documents' time range [T0, T0 + 2048 s)
READ_SPAN_S = 2048
SAMPLE_DOCS = 3

#: a quarter of the sf0.1 tables' rows: a cold pass over all of them
#: takes ~50 s on a shared 4-core machine, too long for 48 runs of the
#: benchmark to end within 3420 s
CORPUS = {"n_docs": 1250, "n_vecs": 500, "n_events": 25_000, "n_users": 375}
#: the set-up warm-up pass runs on a tenth of the corpus: it compiles the
#: same plans at a fraction of a cold pass's cost
WARM_CORPUS = {k: v // 10 for k, v in CORPUS.items()}

CURATION = [
    "minhash_near_dups",
    "semantic_dedup",
    "hll_tier_1h",
    "tfidf_top_terms",
    "bm25_dbterms",
    "pmi_collocations",
    "heavy_hitters_tokens",
]


def _fits(t_start: float, done: int, seconds: float) -> bool:
    """Whether one more of ``done`` equal cycles, begun at ``t_start``,
    should end within ``seconds``."""
    spent = time.perf_counter() - t_start
    return spent + spent / done <= seconds


class Op:
    """One timed operation: its kind and wall seconds. ``info`` holds the
    counts the report uses (rows returned, units run) and flags
    ``aggregate``: the sum of other operations, not one of its own."""

    def __init__(self, kind: str, wall_s: float, info: dict | None = None):
        self.kind, self.wall_s, self.info = kind, wall_s, info or {}


class LiveReads:
    main_kind = "append"

    def __init__(self, spark, work: str, seed: int, tracer):
        from time2feat_spark.operators.rollup import RollupConfig

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.cfg = RollupConfig()
        self.input = os.path.join(work, "sequences")
        self.out = os.path.join(work, "ladder")
        self.reads: list[tuple[dict, object, int]] = []
        #: run_id of each LadderJob run -> the points each unit must hold
        self.expected: dict[str, dict[str, int]] = {}

    def prepare(self) -> None:
        """Repeatable set-up: write the seeded base table."""
        shutil.rmtree(self.input, ignore_errors=True)
        self.base, self.next_row = inputs.sequence_rows(self.seed, 0, BASE_DOCS)
        inputs.write_table(self.input, "part-base", self.base)
        self.tables = [self.base]

    def _ladder_run(self, op: str, incremental: bool) -> dict:
        with self.tracer.span("ladder_job.run", op=op):
            res = self.job.run(incremental=incremental)
        pts: dict[str, int] = {}
        for tb in self.tables:
            for src, n in zip(tb.column("source").to_pylist(),
                              tb.column("n_tok").to_pylist()):
                pts[src] = pts.get(src, 0) + n * (1 + len(self.cfg.tiers))
        self.expected[res["run_id"]] = pts
        return res

    def setup(self) -> float:
        """Once-only set-up: build the base ladder (a cold full
        ``LadderJob.run``, which also starts the Python workers), then
        warm up with one untimed read of each kind and ``WARM_APPENDS``
        appends between them; returns the wall seconds of both."""
        from time2feat_spark.plans.ladder_job import LadderJob

        self.mix = inputs.read_mix(self.seed, inputs.LADDER_SOURCES, READ_SPAN_S)
        self.job = LadderJob(self.spark, self.input, self.out)
        t0 = time.perf_counter()
        self._ladder_run("build", incremental=False)
        self.build_s = time.perf_counter() - t0
        # a dashboard session is long-lived, so its reads and appends are
        # measured warm
        for i, (kind, _w) in enumerate(inputs.READ_KINDS):
            self._read(next(rd for rd in self.mix if rd["kind"] == kind),
                       f"warm-{kind}")
            if i < WARM_APPENDS:
                self._append(f"warm-append-{i}")
        return time.perf_counter() - t0

    def run(self, seconds: float) -> list[Op]:
        # whole halves of the mix, so every run holds the read kinds in
        # the same proportions, with an append after every k reads
        half = len(self.mix) // 2
        ops = []
        t_phase = time.perf_counter()
        done = n_reads = 0
        while done < MIN_CYCLES or _fits(t_phase, done, seconds):
            first = done % 2 * half
            for i, rd in enumerate(self.mix[first:first + half], first):
                got, wall = self._read(rd, f"read-{done}-{i}")
                ops.append(Op(rd["kind"], wall, {"rows": len(got)}))
                # the input the read saw, for the output check
                self.reads.append((rd, got, len(self.tables)))
                n_reads += 1
                if n_reads % READS_PER_APPEND == 0:
                    ops.append(self._append(f"append-{n_reads}"))
            done += 1
        return ops

    def _append(self, op: str) -> Op:
        """Land an increment in the input, then make it visible."""
        t0 = time.perf_counter()
        tb, self.next_row = inputs.sequence_rows(self.seed, self.next_row, INCREMENT_DOCS)
        inputs.write_table(self.input, f"part-{len(self.tables):05d}", tb)
        self.tables.append(tb)
        res = self._ladder_run(op, incremental=True)
        return Op("append", time.perf_counter() - t0, {"units": len(res["processed"])})

    def _read(self, rd: dict, op: str):
        """One dashboard read, collected; returns (rows, wall seconds)."""
        from time2feat_spark.plans import router

        args = (self.job, rd["start_ms"], rd["end_ms"], rd["resolution_sec"])
        t0 = time.perf_counter()
        with self.tracer.span(f"router.{rd['kind']}", op=op):
            if rd["kind"] == "quantile":
                df = router.quantile_range(*args, sources=rd["sources"])
            elif rd["kind"] == "tiered":
                df = router.route_range_tiered(*args, sources=rd["sources"])[1]
            else:
                df = router.aggregate_range(*args, sources=rd["sources"])[1]
            got = df.toPandas()
        return got, time.perf_counter() - t0

    def check(self) -> list[checks.Check]:
        import pyarrow as pa

        from time2feat_spark.plans.checkpoint import Manifest

        everything = pa.concat_tables(self.tables)
        n_tok = everything.column("n_tok").to_numpy().astype(np.int64)
        out = checks.ladder_conservation(self.spark, self.out, n_tok, self.cfg)
        out += checks.manifest_points(Manifest(self.out).records(), self.expected)
        # generator row i is doc_{i:08d}
        ids = [int(d.split("_")[1]) for d in self.base.column("doc_id").to_pylist()]
        rows = random.Random(self.seed).sample(ids, SAMPLE_DOCS)
        out += checks.ladder_sample(self.spark, self.out, rows, self.seed, self.cfg)
        seen = set()
        for rd, got, n_tables in self.reads:
            key = (rd["kind"], rd["sources"] is None)
            if key in seen:
                continue
            seen.add(key)
            pts = checks.points_frame(pa.concat_tables(self.tables[:n_tables]), self.cfg)
            ok, detail = checks.read_matches(pts, rd, got, self.cfg)
            out.append((f"read.{rd['kind']}.{'all' if key[1] else 'sources'}", ok, detail))
        return out

    def input_points(self) -> int:
        return sum(int(t.column("n_tok").to_numpy().sum()) for t in self.tables)


class Curation:
    main_kind = "pass"

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.data = os.path.join(work, "curation")
        self.warm_data = os.path.join(work, "curation_warm")
        self.results: dict = {}

    def prepare(self) -> None:
        """Repeatable set-up: write the seeded corpus and the warm-up one."""
        for path, size in ((self.data, CORPUS), (self.warm_data, WARM_CORPUS)):
            shutil.rmtree(path, ignore_errors=True)
            inputs.write_curation_tables(path, self.seed, **size)

    def setup(self) -> float:
        """Once-only set-up: an untimed pass over the warm-up corpus in
        this fresh session, which starts the Python workers and pays the
        JVM's warm-up and every plan's compilation; returns its seconds."""
        t0 = time.perf_counter()
        self._pass(self.warm_data, "warm")
        return time.perf_counter() - t0

    def run(self, seconds: float) -> list[Op]:
        """Warm passes over the queries."""
        ops = []
        t_phase = time.perf_counter()
        n = 0
        while n < MIN_CYCLES or _fits(t_phase, n, seconds):
            ops += self._pass(self.data, f"pass-{n}")
            n += 1
        return ops

    def _pass(self, data: str, op: str) -> list[Op]:
        """The seven queries in a fixed order, each collected."""
        import __spark_entry__ as entry

        queries = entry.queries()
        ops = []
        t_pass = time.perf_counter()
        for name in CURATION:
            t0 = time.perf_counter()
            with self.tracer.span(f"curation.{name}", op=op):
                self.results[name] = queries[name](self.spark, data).toPandas()
            ops.append(Op(name, time.perf_counter() - t0))
        ops.append(Op("pass", time.perf_counter() - t_pass, {"aggregate": True}))
        return ops

    def oracle_sql(self) -> dict[str, str]:
        """The queries' DuckDB oracles; ``minhash_near_dups``' all-pairs
        self-join is left to ``checks.near_duplicate_pairs``, which gives
        the same rows in a small share of the time."""
        import __spark_entry__ as entry

        return {
            "semantic_dedup": entry._sql_semantic_dedup(self.data),
            "hll_tier_1h": entry._sql_hll_tier_1h(),
            "tfidf_top_terms": entry.SQL_TFIDF_TOP_TERMS,
            "bm25_dbterms": entry._sql_bm25_dbterms(),
            "pmi_collocations": entry.SQL_PMI_COLLOCATIONS,
            "heavy_hitters_tokens": entry.SQL_HEAVY_HITTERS_TOKENS,
        }

    def check(self) -> list[checks.Check]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings", "events"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data, t)}.parquet'")
            wants = {name: con.sql(sql).df() for name, sql in self.oracle_sql().items()}
            wants["minhash_near_dups"] = checks.near_duplicate_pairs(
                con.sql("SELECT doc_id, text FROM documents").df())
            out = []
            for name in CURATION:
                got, want = self.results.get(name), wants[name]
                ok = got is not None and checks.digest(got) == checks.digest(want)
                out.append((f"curation.{name}", ok,
                            f"{None if got is None else len(got)} rows vs {len(want)}"))
            return out
        finally:
            con.close()

    def input_points(self) -> int:
        return 0


WORKLOADS = {"live_reads": LiveReads, "curation_queries": Curation}
