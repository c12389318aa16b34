"""Single-batch layer pass, in the Spark driver process, single-threaded.

One seeded sequences batch and one events batch go through the engine's
batch functions one layer at a time: Arrow -> pandas, ``stats_ragged``
once per feature family, Gorilla encode per tier, Gorilla decode of the
finest windowed tier, ``gapfill_grid`` per group, the whole
``rollup_sequences_pdf`` / ``rollup_points_pdf`` batches, and the
per-batch decode that ``tier_points`` runs for the router. No engine
code is edited; the functions are called as the engine's Python UDFs
call them.
"""

from __future__ import annotations

import re
import time

import numpy as np

from time2feat_spark.functions.gapfill import gapfill_grid
from time2feat_spark.functions.gorilla import (
    decode_ts_blocks,
    decode_val_blocks,
    encode_ts_blocks,
    encode_val_blocks,
)
from time2feat_spark.generator import gen_arrow
from time2feat_spark.operators.rollup import (
    RollupConfig,
    rollup_points_pdf,
    rollup_sequences_pdf,
    stats_ragged,
    tier_points,
)

from . import inputs

FAMILIES = ["basic", "quantiles", "autocorr", "change_quantiles",
            "duplicates", "fft", "trend_shape"]

_BASIC = {"variance", "std", "abs_energy", "root_mean_square", "skewness",
          "kurtosis", "variation_coefficient", "absolute_maximum"}
_PATTERNS = [
    ("quantiles", r"median|q\d\d"),
    ("autocorr", r"autocorr_lag\d+|c3_lag\d+|time_reversal_asymmetry_lag\d+"),
    ("change_quantiles", r"change_q_.*"),
    ("duplicates", r"has_duplicate.*|.*reoccurring.*|value_count_0"
                   r"|ratio_value_number_to_time_series_length"),
    ("fft", r"fft_.*|energy_ratio_chunk\d+"),
]

#: seeded batch sizes: ~100k sequence points; 20k events over 4 days,
#: which the 1-minute locf grid turns into ~90k points
SEQ_DOCS = 100
EVENTS = 20_000
GAPFILL = ("locf", 60_000)


def family(feature: str) -> str:
    if feature in _BASIC:
        return "basic"
    for fam, pat in _PATTERNS:
        if re.fullmatch(pat, feature):
            return fam
    return "trend_shape"


class _TierFrame:
    """Stands in for a tier table: ``tier_points`` builds its plan on it
    and hands back the per-batch function it gives ``mapInPandas``."""

    def __init__(self, schema):
        self.schema = schema

    def where(self, _cond):
        return self

    def select(self, *_cols):
        return self

    def mapInPandas(self, fn, _schema):
        return fn


def _tier_points_decoder():
    """``tier_points``' per-batch decode, as the router's Python workers
    run it on batches of (source, doc_id, tier, count, blocks) rows."""
    from pyspark.sql.types import StringType, StructField, StructType

    keys = ["source", "doc_id"]
    return tier_points(
        _TierFrame(StructType([StructField(k, StringType()) for k in keys])), keys)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def _tier_windows(n_tok: np.ndarray, offsets: np.ndarray, tt: int):
    """Window [start, end) offsets of one tier, as rollup_sequences_pdf
    lays them out."""
    nw = (n_tok + tt - 1) // tt
    nw_off = np.concatenate(([0], np.cumsum(nw)))
    doc_of_w = np.repeat(np.arange(len(n_tok)), nw)
    j = np.arange(int(nw_off[-1])) - np.repeat(nw_off[:-1], nw)
    starts = offsets[:-1][doc_of_w] + j * tt
    return starts, np.minimum(starts + tt, offsets[1:][doc_of_w])


def sequences_pass(seed: int) -> dict:
    cfg = RollupConfig()
    i0 = 10_000_000 + (seed % 1000) * SEQ_DOCS  # outside every workload's ids
    tb = gen_arrow(i0, i0 + SEQ_DOCS, seed)
    pdf, t_a2p = _timed(tb.to_pandas)
    n_tok = pdf["n_tok"].to_numpy().astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(n_tok)))
    flat = np.concatenate(list(pdf["tokens"])).astype(np.float64)
    pos = np.arange(len(flat)) - np.repeat(offsets[:-1], n_tok)
    ts = cfg.t0_ms + pos * cfg.tick_ms
    pts = len(flat)

    rolled, t_batch = _timed(rollup_sequences_pdf, pdf, cfg)
    fine = rolled[rolled["tier"] == cfg.tiers[0][0]].reset_index(drop=True)
    decode = _tier_points_decoder()
    decoded, t_tier_points = _timed(lambda: list(decode(iter([fine]))))
    if sum(len(d) for d in decoded) != pts:
        raise AssertionError("tier_points lost points of the batch")

    # per-tier windows; the raw tier is one block per document
    tiers = [(name, *_tier_windows(n_tok, offsets, sec * 1000 // cfg.tick_ms))
             for name, sec in cfg.tiers]
    out = {f"kernels.{f}_s": 0.0 for f in FAMILIES}
    by_family: dict[str, list[str]] = {f: [] for f in FAMILIES}
    for feat in cfg.features:
        by_family[family(feat)].append(feat)
    t_kernels = 0.0
    for _name, starts, ends in tiers:
        t_kernels += _timed(stats_ragged, flat, starts, ends, cfg.features)[1]
        for fam, feats in by_family.items():
            out[f"kernels.{fam}_s"] += _timed(stats_ragged, flat, starts, ends, feats)[1]

    enc_ts = enc_val = 0.0
    ts_bytes = val_bytes = 0
    encoded_pts = 0
    blocks = [offsets] + [np.append(s, pts) for _n, s, _e in tiers]
    for boffs in blocks:
        tb_ts, t = _timed(encode_ts_blocks, ts, boffs)
        enc_ts += t
        tb_val, t = _timed(encode_val_blocks, flat, boffs)
        enc_val += t
        ts_bytes += sum(len(b) for b in tb_ts)
        val_bytes += sum(len(b) for b in tb_val)
        encoded_pts += pts
        if boffs is blocks[1]:  # finest windowed tier: what reads decode
            fine_ts, fine_val, fine_counts = tb_ts, tb_val, np.diff(boffs)

    dec_ts, t_dts = _timed(decode_ts_blocks, fine_ts, fine_counts)
    dec_val, t_dval = _timed(decode_val_blocks, fine_val, fine_counts)
    rows = np.repeat(np.arange(len(fine_counts)), fine_counts)
    cols = np.arange(pts) - np.repeat(blocks[1][:-1], fine_counts)
    if not (np.array_equal(dec_ts[rows, cols], ts)
            and np.array_equal(dec_val[rows, cols], flat)):
        raise AssertionError("Gorilla round trip changed the batch")

    out.update({
        "kernels.batch_s": t_kernels,
        "kernels.pts_per_s": pts * len(tiers) / t_kernels,
        "gorilla.encode_ts_s": enc_ts,
        "gorilla.encode_val_s": enc_val,
        "gorilla.decode_ts_s": t_dts,
        "gorilla.decode_val_s": t_dval,
        "gorilla.ts_bytes_per_pt": ts_bytes / pts,
        "gorilla.val_bytes_per_pt": val_bytes / pts,
        "gorilla.encodes_per_pt": encoded_pts / pts,
        "rollup.arrow_to_pandas_s": t_a2p,
        "rollup.sequences_batch_s": t_batch,
        "rollup.sequences_batch_self_s": t_batch - t_kernels - enc_ts - enc_val,
        "rollup.tier_points_s": t_tier_points,
    })
    return out


def points_pass(seed: int) -> dict:
    ev = inputs.gen_events(EVENTS, seed)
    ev["_chunk"] = ev["ts"] // inputs.DAY_MS
    cfg = RollupConfig(include_raw=False, gapfill=GAPFILL)
    _, t_batch = _timed(rollup_points_pdf, ev, cfg, ["key", "_chunk"], "ts", "value")

    srt = ev.sort_values(["key", "_chunk", "ts", "value"])
    grp = srt.groupby(["key", "_chunk"], sort=False).ngroup().to_numpy()
    ts = srt["ts"].to_numpy()
    vals = srt["value"].to_numpy()
    cuts = np.concatenate(([0], np.nonzero(np.diff(grp))[0] + 1, [len(grp)]))
    t0 = time.perf_counter()
    filled = sum(
        len(gapfill_grid(ts[a:b], vals[a:b], GAPFILL[1], GAPFILL[0])[0])
        for a, b in zip(cuts[:-1], cuts[1:])
    )
    return {
        "gapfill.grid_s": time.perf_counter() - t0,
        "gapfill.groups": len(cuts) - 1,
        "gapfill.fill_ratio": filled / len(ev),
        "rollup.points_batch_s": t_batch,
    }


def run(seed: int) -> dict:
    return {**sequences_pass(seed), **points_pass(seed)}
