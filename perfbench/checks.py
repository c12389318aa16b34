"""Output checks. Each returns a list of (name, ok, detail); they run
outside every timed section."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from time2feat_spark.generator import gen_pandas
from time2feat_spark.operators.rollup import RollupConfig, rollup_sequences_pdf

Check = tuple[str, bool, str]
RTOL = 1e-9  # float sums re-associate across Spark partitions


# ------------------------------------------------------------- ladder


def ladder_conservation(spark, out_root: str, n_tok: np.ndarray,
                        cfg: RollupConfig) -> list[Check]:
    """Every tier's sum(count) equals the input's points; each tier's
    window count equals sum(ceil(n_tok / width)); raw has one row per
    document."""
    from pyspark.sql import functions as F

    got = {
        r["tier"]: (int(r["w"]), int(r["p"]))
        for r in spark.read.option("basePath", out_root).parquet(out_root)
        .groupBy("tier").agg(F.count(F.lit(1)).alias("w"), F.sum("count").alias("p"))
        .collect()
    }
    pts = int(n_tok.sum())
    want = {"raw": (len(n_tok), pts)}
    for name, sec in cfg.tiers:
        width = sec * 1000 // cfg.tick_ms
        want[name] = (int(((n_tok + width - 1) // width).sum()), pts)
    return [
        (f"ladder.tier_{t}", got.get(t) == w, f"got {got.get(t)} want {w}")
        for t, w in want.items()
    ]


def manifest_points(records, expected: dict[str, dict[str, int]]) -> list[Check]:
    """After every LadderJob run (the base build and each append), each
    unit's manifest record counts exactly the points its source's input
    rows hold in every tier."""
    bad, seen = [], 0
    for r in records:
        if r.status != "done" or r.run_id not in expected:
            continue
        seen += 1
        want = expected[r.run_id].get(r.unit.split("=", 1)[1])
        if r.points != want:
            bad.append(f"{r.run_id}/{r.unit}: {r.points} != {want}")
    runs = len(expected)
    return [("ladder.points_after_every_run", not bad and seen >= runs,
             f"{seen} unit records over {runs} runs; {bad[:3]}")]


def ladder_sample(spark, out_root: str, doc_rows: list[int], seed: int,
                  cfg: RollupConfig) -> list[Check]:
    """The written windows of sampled documents equal, bit for bit,
    ``rollup_sequences_pdf`` run single-threaded on the generator rows."""
    from pyspark.sql import functions as F

    want = pd.concat(
        [rollup_sequences_pdf(gen_pandas(i, i + 1, seed), cfg) for i in doc_rows],
        ignore_index=True,
    )
    cols = ["count", "sum", "min", "max", "mean"] + [f"feat_{f}" for f in cfg.features]
    got = (
        spark.read.option("basePath", out_root).parquet(out_root)
        .where(F.col("doc_id").isin(list(want["doc_id"].unique())))
        .select(
            "source", "doc_id", "tier",
            F.unix_millis("window_start").alias("window_start_ms"),
            "count", "sum", "min", "max", "mean",
            *[F.col(f"feat.{f}").alias(f"feat_{f}") for f in cfg.features],
            "ts_gorilla", "val_gorilla", "fill_method",
        )
        .toPandas()
    )
    key = ["doc_id", "tier", "window_start_ms"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    ok = len(got) == len(want) and (got[key + ["source", "fill_method"]].astype(str)
                                    .equals(want[key + ["source", "fill_method"]].astype(str)))
    bad = []
    if ok:
        for c in cols:
            if not np.array_equal(got[c].to_numpy(np.float64),
                                  want[c].to_numpy(np.float64), equal_nan=True):
                bad.append(c)
        for c in ("ts_gorilla", "val_gorilla"):
            if [bytes(b) for b in got[c]] != [bytes(b) for b in want[c]]:
                bad.append(c)
    return [("ladder.sample_bit_identical", ok and not bad,
             f"{len(got)} rows vs {len(want)}; differing columns {bad}")]


# -------------------------------------------------------------- reads


def points_frame(tb, cfg: RollupConfig) -> pd.DataFrame:
    """Every raw point of the generator rows: source, doc_id, ts_ms, value."""
    pdf = tb.to_pandas()
    n_tok = pdf["n_tok"].to_numpy().astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(n_tok)))
    pos = np.arange(offsets[-1]) - np.repeat(offsets[:-1], n_tok)
    return pd.DataFrame({
        "source": np.repeat(pdf["source"].to_numpy(), n_tok),
        "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n_tok),
        "ts_ms": cfg.t0_ms + pos * cfg.tick_ms,
        "value": np.concatenate(list(pdf["tokens"])).astype(np.float64),
    })


def _in_range(pts: pd.DataFrame, read: dict) -> pd.DataFrame:
    sel = (pts["ts_ms"] >= read["start_ms"]) & (pts["ts_ms"] < read["end_ms"])
    if read["sources"] is not None:
        sel &= pts["source"].isin(read["sources"])
    return pts[sel]


def _close(a, b) -> bool:
    return np.allclose(np.asarray(a, np.float64), np.asarray(b, np.float64),
                       rtol=RTOL, atol=0.0, equal_nan=True)


def read_matches(pts: pd.DataFrame, read: dict, got: pd.DataFrame,
                 cfg: RollupConfig) -> tuple[bool, str]:
    """Compare one read's collected result with a numpy recomputation."""
    sel = _in_range(pts, read)
    res_ms = read["resolution_sec"] * 1000
    key = ["source", "doc_id", "bucket_start_ms"]
    if read["kind"] == "tiered":
        width = max(s for _n, s in cfg.tiers if s <= read["resolution_sec"]) * 1000
        win = (sel["ts_ms"] // width) * width
        want_rows = sel.assign(w=win).groupby(["doc_id", "w"]).ngroups
        ok = len(got) == want_rows and int(got["count"].sum()) == len(sel)
        return ok, f"{len(got)} windows / {int(got['count'].sum())} pts vs {want_rows} / {len(sel)}"
    b = sel.assign(bucket_start_ms=(sel["ts_ms"] // res_ms) * res_ms)
    g = b.groupby(key)["value"]
    if read["kind"] == "quantile":
        want = pd.DataFrame({
            "count": g.size(),
            **{f"q_{str(q).replace('.', '_')}": g.quantile(q) for q in (0.5, 0.95, 0.99)},
        }).reset_index()
        fcols = ["q_0_5", "q_0_95", "q_0_99"]
    else:
        want = pd.DataFrame({"count": g.size(), "sum": g.sum(), "min": g.min(),
                             "max": g.max()}).reset_index()
        want["mean"] = want["sum"] / want["count"]
        fcols = ["sum", "min", "max", "mean"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    if len(got) != len(want):
        return False, f"{len(got)} rows vs {len(want)}"
    ok = (got[key].astype(str).equals(want[key].astype(str))
          and np.array_equal(got["count"].to_numpy(np.int64), want["count"].to_numpy(np.int64))
          and all(_close(got[c], want[c]) for c in fcols))
    return ok, f"{len(got)} rows"


# ----------------------------------------------------------- curation


def _duckdb_round(x: np.ndarray, digits: int) -> np.ndarray:
    """DuckDB's round() of a positive double: half away from zero."""
    m = 10.0 ** digits
    return np.floor(x * m + 0.5) / m


def near_duplicate_pairs(docs: pd.DataFrame, k: int = 5, min_jaccard: float = 0.5,
                         block: int = 512) -> pd.DataFrame:
    """The exact answer ``minhash_near_dups``' oracle SQL computes:
    (id_a, id_b, jaccard) for every document pair whose sets of distinct
    ``k``-character shingles have Jaccard >= ``min_jaccard``, rounded as
    the SQL rounds. A shingle-incidence matrix product, so all pairs of
    the corpus take seconds where DuckDB's self-join takes a minute."""
    ids = docs["doc_id"].to_numpy()
    vocab: dict[str, int] = {}
    rows, cols = [], []
    for r, text in enumerate(docs["text"]):
        for g in {text[i:i + k] for i in range(len(text) - k + 1)}:
            rows.append(r)
            cols.append(vocab.setdefault(g, len(vocab)))
    inc = np.zeros((len(ids), len(vocab)), np.float32)
    inc[rows, cols] = 1.0
    size = inc.sum(axis=1).astype(np.int64)
    parts = []
    for a in range(0, len(ids), block):
        inter = (inc[a:a + block] @ inc.T).astype(np.int64)
        ra, rb = np.nonzero(inter)
        ra, rb = ra[ids[a + ra] < ids[rb]], rb[ids[a + ra] < ids[rb]]
        i = inter[ra, rb]
        j = i * 1.0 / (size[a + ra] + size[rb] - i)
        keep = j >= min_jaccard
        parts.append(pd.DataFrame({"id_a": ids[a + ra][keep], "id_b": ids[rb][keep],
                                   "jaccard": _duckdb_round(_duckdb_round(j[keep], 7), 4)}))
    return pd.concat(parts, ignore_index=True)



def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return int(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(v)
    return str(v)


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive, type-strict digest of a result: columns by name,
    rows sorted, NaN == NULL, ints and floats kept apart."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_canon(v) for v in row))
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()
