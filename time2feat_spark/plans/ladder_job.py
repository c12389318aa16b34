"""Resumable tier-ladder job: the production entry point of the engine.

Work is split into per-source units (the input's natural partition key;
at 100 TB the input table is partitioned by source, so each unit's scan
is partition-pruned). Each unit is rolled up, salted, written to its own
output partition directory (idempotent overwrite), and checkpointed in
the manifest with lineage + metrics. A re-run skips units whose
checkpoint matches the current input snapshot — kill the job after k
units and the next run completes only the missing ones, yielding the
identical table (tests/test_resume.py).

Skew (north_rule "explicit salting for skewed sources"): the Zipf-heavy
source holds ~35% of rows; a cheap pre-pass histogram sizes a per-unit
salt ``pmod(xxhash64(doc_id), k)`` used as the repartition key before
the write, so one hot source still writes through many parallel tasks
and bounded-size files.

Incremental mode realizes the continuous-aggregate semantics as
restartable batch (SURVEY.md §2.9): sequences are append-only with
monotonically increasing doc_id, so each unit's rollup watermark is its
high-water doc_id; the next run processes only ids past the watermark
and appends the new windows. Ids are ordered by (length, string), so a
decimal suffix may outgrow its zero padding: ``doc_100000000`` sorts
after ``doc_99999999``.

Each unit costs one Spark action, its write. The job observes its own
counters on the way (``DataFrame.observe``): on the increment, its rows,
high-water doc_id and points; on the output, windows, Gorilla bytes and
points per tier. Every tier must hold exactly the increment's points,
else the run raises before the unit's 'done' record lands. A 'done'
record's ``rows_in`` is the increment it wrote; ``windows_out``,
``points`` and ``bytes_compressed`` are the unit's totals after the
run: an overwrite records what it wrote, an append adds what it wrote
to the previous 'done' record. Retention and compaction keep their own
manifest records and do not change these totals.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from ..operators.rollup import RollupConfig, assemble, rollup_sequences
from .checkpoint import Manifest, UnitRecord, snapshot_id


def _past(wm: str, widest: int) -> Column:
    """doc_id after ``wm`` in id order: a longer id is later, ids of one
    length compare as strings. ``widest`` is the unit's longest doc_id:
    unless it exceeds ``wm``, the filter is ``doc_id > wm`` on ids of
    wm's length, a conjunct parquet row-group statistics prune on, so an
    append reads only the row groups that hold new ids."""
    n = F.length("doc_id")
    same = (n == len(wm)) & (F.col("doc_id") > wm)
    return same | (n > len(wm)) if widest > len(wm) else same


class LadderJob:
    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        out_root: str,
        cfg: RollupConfig | None = None,
        rows_per_task: int = 20_000,
    ):
        self.spark = spark
        self.input_path = input_path
        self.out_root = out_root
        self.cfg = cfg or RollupConfig()
        self.rows_per_task = rows_per_task
        self.manifest = Manifest(out_root)

    def _unit_stats(self, df: DataFrame) -> list[tuple[str, int, int]]:
        """Pre-pass histogram: (source, rows, longest doc_id) — drives
        units, salt size and the increment filter."""
        rows = (
            df.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"), F.max(F.length("doc_id")).alias("w"))
            .collect()
        )
        return sorted((r["source"], r["n"], r["w"]) for r in rows)

    def run(
        self,
        incremental: bool = False,
        max_units: int | None = None,
        compact: bool = False,
        files_per_partition: int = 1,
    ) -> dict:
        """Process all pending units; returns run metrics. ``max_units``
        stops early (used by resume tests to simulate a crash).

        ``compact=True`` runs small-file compaction over the units this
        run actually wrote, as a post-pass: incremental appends and
        salted writes are the small-file generators, so the production
        entry point owns the fix (each rewrite is verified row-count-
        equal before the swap and recorded in the manifest)."""
        run_id = uuid.uuid4().hex[:8]
        snap = snapshot_id(self.input_path)
        seq = self.spark.read.parquet(self.input_path)
        units = self._unit_stats(seq)
        latest, last_done = self.manifest.unit_state()
        tiers = ["raw"] if self.cfg.include_raw else []
        tiers += [t for t, _ in self.cfg.tiers]

        processed, skipped = [], []
        for source, n_rows, widest in units:
            unit = f"source={source}"
            cur = latest.get(unit)
            if cur and cur.status == "done" and cur.input_snapshot_id == snap:
                skipped.append(unit)
                continue
            if max_units is not None and len(processed) >= max_units:
                break
            t0 = time.time()
            part = seq.where(F.col("source") == source)
            # a dangling 'started' tombstone means a prior run died after
            # (possibly partially) appending this unit's increment — the
            # only safe resume is a full rebuild of the unit (idempotent
            # overwrite), never another append on top of unknown state
            dangling = cur is not None and cur.status == "started"
            prev = last_done.get(unit) if incremental and not dangling else None
            wm = prev.rollup_watermark if prev else ""
            if prev:
                part = part.where(_past(wm, widest))
            # record intent BEFORE mutating output: crash between the data
            # write and the 'done' record leaves this tombstone behind
            self.manifest.append(
                UnitRecord(
                    run_id=run_id,
                    unit=unit,
                    input_snapshot_id=snap,
                    partition_range=f"{source}",
                    rollup_watermark=wm,
                    rows_in=0,
                    windows_out=0,
                    points=0,
                    bytes_compressed=0,
                    wall_ms=0,
                    status="started",
                )
            )
            seen_in, seen_out = Observation(), Observation()
            part = part.observe(
                seen_in,
                F.count(F.lit(1)).alias("rows"),
                F.max(F.struct(F.length("doc_id"), "doc_id")).alias("hi"),
                F.sum("n_tok").alias("points"),
            )
            salt_k = max(1, -(-n_rows // self.rows_per_task))
            flat = rollup_sequences(
                part.repartition(salt_k, F.pmod(F.xxhash64("doc_id"), F.lit(salt_k))),
                self.cfg,
            )
            # window_day partition level makes retention a directory/
            # Iceberg-partition DROP instead of a data rewrite
            out = (
                assemble(flat, self.cfg)
                .drop("source")
                .withColumn(
                    "window_day",
                    F.floor(F.unix_millis("window_start") / F.lit(86_400_000))
                    .cast("long"),
                )
                .observe(
                    seen_out,
                    F.count(F.lit(1)).alias("windows"),
                    F.sum("count").alias("points"),
                    F.sum(
                        F.coalesce(F.length("val_gorilla"), F.lit(0))
                        + F.coalesce(F.length("ts_gorilla"), F.lit(0))
                    ).alias("bytes"),
                    *[
                        F.sum(F.when(F.col("tier") == t, F.col("count"))).alias(t)
                        for t in tiers
                    ],
                )
            )
            out.write.mode("append" if prev else "overwrite").partitionBy(
                "tier", "window_day"
            ).parquet(f"{self.out_root}/source={source}")
            # sums are null when the increment is empty
            got_in, got_out = seen_in.get, seen_out.get
            pts = got_in["points"] or 0
            held = {t: got_out[t] or 0 for t in tiers}
            if any(n != pts for n in held.values()):
                # the 'started' tombstone stays: the next run rebuilds
                raise RuntimeError(
                    f"{unit}: tier points not conserved, the increment holds"
                    f" {pts} points but tiers hold {held}"
                )
            # an append adds to the unit's totals, an overwrite restarts them
            w0, p0, b0 = (
                (prev.windows_out, prev.points, prev.bytes_compressed)
                if prev else (0, 0, 0)
            )
            rec = UnitRecord(
                run_id=run_id,
                unit=unit,
                input_snapshot_id=snap,
                partition_range=f"{source}",
                rollup_watermark=got_in["hi"][1] if got_in["hi"] else wm,
                rows_in=got_in["rows"],
                windows_out=w0 + got_out["windows"],
                points=p0 + (got_out["points"] or 0),
                bytes_compressed=b0 + (got_out["bytes"] or 0),
                wall_ms=int((time.time() - t0) * 1000),
            )
            self.manifest.append(rec)
            processed.append(unit)

        result = {
            "run_id": run_id,
            "snapshot": snap,
            "processed": processed,
            "skipped": skipped,
            "pending": len(units) - len(processed) - len(skipped),
        }
        if compact:
            from .compaction import compact_source

            compacted = {}
            for unit in processed:
                source = unit.split("=", 1)[1]
                t0 = time.time()
                res = compact_source(
                    self.spark, self.out_root, source, files_per_partition
                )
                compacted[source] = res
                if res["rows"] is not None:  # an actual rewrite happened
                    # unit key is namespaced so unit_state() (which keys
                    # on the latest record per unit) never mistakes a
                    # compaction record for unit state
                    self.manifest.append(
                        UnitRecord(
                            run_id=run_id,
                            unit=f"compaction:source={source}",
                            input_snapshot_id=snap,
                            partition_range=(
                                f"files {res['files_before']}"
                                f"->{res['files_after']}"
                            ),
                            rollup_watermark="",
                            rows_in=res["rows"],
                            windows_out=res["rows"],
                            points=0,
                            bytes_compressed=0,
                            wall_ms=int((time.time() - t0) * 1000),
                            status="compacted",
                        )
                    )
            result["compaction"] = compacted
        return result

    def maintain(
        self,
        policy=None,
        files_per_partition: int = 1,
        now_ms: int | None = None,
    ) -> dict:
        """One maintenance pass over the output table: retention first
        (pure window_day partition drops — cheaper to delete before
        rewriting), then small-file compaction of every source tree.
        Both steps are idempotent and manifest-logged; this is the
        cron-able entry point a deployment schedules between runs."""
        from .compaction import compact_all
        from .retention import RetentionPolicy, enforce_retention

        policy = policy or RetentionPolicy()
        now = int(time.time() * 1000) if now_ms is None else now_ms
        ret = enforce_retention(self.out_root, policy, now)
        comp = compact_all(
            self.spark, self.out_root, files_per_partition
        )
        return {"retention": ret, "compaction": comp}

    def read_output(self) -> DataFrame:
        return self.spark.read.option("basePath", self.out_root).parquet(
            self.out_root
        )

    def read_tier_range(
        self,
        tier: str,
        start_ms: int,
        end_ms: int,
        sources: list[str] | None = None,
    ) -> DataFrame:
        """Windows of one tier whose window_start falls in
        [start_ms, end_ms). The time bound is applied TWICE: once on the
        `window_day` PARTITION column (resolved against the directory
        listing at planning time — days outside the range are never
        opened; at 100 TB this is the difference between reading two
        days and scanning a year) and once exactly on window_start.
        `sources` adds source-partition pruning the same way."""
        lo_day = start_ms // 86_400_000
        hi_day = (end_ms - 1) // 86_400_000
        df = self.read_output().where(
            (F.col("tier") == tier)
            & F.col("window_day").between(lo_day, hi_day)
            & (F.unix_millis("window_start") >= start_ms)
            & (F.unix_millis("window_start") < end_ms)
        )
        if sources is not None:
            df = df.where(F.col("source").isin(sources))
        return df
