"""Seeded inputs. The same seed always yields the same rows and the same
read mix; the engine only ever sees the files written here.

* sequences: rows of the engine's own generator (``generator.gen_arrow``)
  with the workload seed: ragged 64-2048 tokens, Zipf-skewed sources;
* long-format events ``(key, ts, value)`` for the points path: Zipf key
  skew, irregular and partly duplicated timestamps, rows out of order,
  and keys that go silent for a while;
* the curation corpus: ``documents``, ``embeddings`` and ``events``
  tables with the column types of the engine's test tables;
* the dashboard read mix over a built ladder.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from time2feat_spark.generator import gen_arrow
from time2feat_spark.operators.rollup import T0_MS

DAY_MS = 86_400_000


#: the most frequent (Zipf head) source: one source is one LadderJob
#: unit, and every incremental run revisits every unit
LADDER_SOURCES = ["src_0"]


def sequence_rows(seed: int, start: int, n_rows: int,
                  sources: list[str] = LADDER_SOURCES) -> tuple[pa.Table, int]:
    """The first ``n_rows`` generator rows at or after row ``start`` whose
    source is in ``sources``, and the generator row to continue from.
    Rows keep the generator's increasing doc_ids, so an increment read
    later always lies above every earlier watermark."""
    pool = gen_arrow(start, start + 10 * n_rows + 100, seed)
    idx = np.nonzero(np.isin(pool.column("source").to_numpy(zero_copy_only=False),
                             sources))[0][:n_rows]
    if len(idx) < n_rows:
        raise ValueError(f"seed {seed}: only {len(idx)} rows of {sources}")
    return pool.take(idx), start + int(idx[-1]) + 1


def write_table(path: str, name: str, tb: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(tb, os.path.join(path, f"{name}.parquet"))


# ------------------------------------------------------------- events


def gen_events(n: int, seed: int, n_keys: int = 16, days: int = 4) -> pd.DataFrame:
    """``n`` events (key, ts, value) over ``days`` days from 2024-01-01."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    key_idx = rng.choice(n_keys, size=n, p=w / w.sum())
    span = days * DAY_MS
    ts = T0_MS + np.sort(rng.integers(0, span, size=n))
    # every key goes silent for one stretch of 1/16 to 1/4 of the span
    gap_len = rng.integers(span // 16, span // 4, size=n_keys)
    gap_lo = T0_MS + rng.integers(0, span - span // 4, size=n_keys)
    keep = ~((ts >= gap_lo[key_idx]) & (ts < gap_lo[key_idx] + gap_len[key_idx]))
    ts, key_idx = ts[keep], key_idx[keep]
    # 5% of events repeat an earlier timestamp of the same stream
    dup = rng.random(len(ts)) < 0.05
    ts[1:][dup[1:]] = ts[:-1][dup[1:]]
    key_idx[1:][dup[1:]] = key_idx[:-1][dup[1:]]
    value = np.round(rng.lognormal(3.0, 1.0, size=len(ts)), 2)
    order = rng.permutation(len(ts))  # rows arrive out of order
    return pd.DataFrame(
        {
            "key": np.array([f"k{k:02d}" for k in range(n_keys)])[key_idx[order]],
            "ts": ts[order].astype(np.int64),
            "value": value[order],
        }
    )


# ----------------------------------------------------------- curation

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def write_curation_tables(path: str, seed: int, n_docs: int = 5000,
                          n_vecs: int = 2000, n_events: int = 100_000,
                          n_users: int = 1500) -> None:
    """documents / embeddings / events parquet files under ``path``.

    The defaults follow the engine's sf0.1 test tables: 5000 documents of
    10-100 words drawn uniformly from the same 30-word vocabulary, 5%
    of them another document's text plus " dup", 20 sources in turn;
    2000 unit 64-d embeddings in 10 weak clusters (centre norm ~0.07);
    100k events, uniform over 30 days, 1500 users, 5 event types, values
    exponential with mean 50."""
    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)

    n_words = rng.integers(10, 101, size=n_docs)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in n_words]
    for i in np.nonzero(rng.random(n_docs) < 0.05)[0]:
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(path, "documents.parquet"))

    centers = rng.normal(scale=0.07, size=(10, 64))
    label = rng.integers(0, 10, size=n_vecs)
    x = centers[label] + rng.normal(size=(n_vecs, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(x.astype(np.float32)),
                                  type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(path, "embeddings.parquet"))

    ts_us = T0_MS * 1000 + np.sort(rng.integers(0, 30 * DAY_MS * 1000, size=n_events))
    ev = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n_events)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n_events)),
            "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
        }
    )
    pq.write_table(ev, os.path.join(path, "events.parquet"))


# ----------------------------------------------------------- read mix

#: (kind, weight): most dashboard panels read rollup windows; fewer drill
#: down to decoded points. Every kind runs with and without a sources
#: filter, so one cycle of the mix holds 2 * sum(weights) reads.
READ_KINDS = [
    ("aggregate_tier", 2),   # resolution a tier divides: tier windows
    ("tiered", 2),           # route_range_tiered: per-day tier plan
    ("aggregate_points", 1),  # resolution no tier divides: Gorilla decode
    ("quantile", 1),         # exact quantiles: Gorilla decode + percentile
]

_TIER_RES = [60, 120, 300, 600, 900]
_POINT_RES = [15, 20, 30]
_QUANT_RES = [300, 600]


def read_mix(seed: int, sources: list[str], span_s: int) -> list[dict]:
    """One seeded cycle of dashboard reads over the ladder's time span
    ``[T0, T0 + span_s)``. Each read is a dict: kind, start_ms, end_ms,
    resolution_sec and sources (None = all). Ranges sit on the
    resolution grid, as the router requires. The cycle is two halves
    that hold each kind equally often."""
    rng = np.random.default_rng(seed)
    reads = []
    for kind, weight in READ_KINDS:
        for _ in range(weight):
            for filtered in (False, True):
                res = int(rng.choice(
                    _POINT_RES if kind == "aggregate_points"
                    else _QUANT_RES if kind == "quantile" else _TIER_RES
                ))
                n_buckets = max(1, span_s // res)
                lo = int(rng.integers(0, max(1, n_buckets // 2)))
                hi = int(rng.integers(lo + 1, n_buckets + 1))
                srcs = None
                if filtered:
                    k = int(rng.integers(1, min(4, len(sources)) + 1))
                    srcs = sorted(rng.choice(sources, size=k, replace=False).tolist())
                reads.append(
                    {
                        "kind": kind,
                        "start_ms": T0_MS + lo * res * 1000,
                        "end_ms": T0_MS + hi * res * 1000,
                        "resolution_sec": res,
                        "sources": srcs,
                    }
                )
    # two halves of the same kind composition, each in a seeded order: a
    # run that stops after any whole half reads the kinds in the mix's
    # proportions
    halves: list[list[dict]] = [[], []]
    for kind, _w in READ_KINDS:
        mine = [r for r in reads if r["kind"] == kind]
        for j, i in enumerate(rng.permutation(len(mine))):
            halves[j % 2].append(mine[i])
    return [h[i] for h in halves for i in rng.permutation(len(h))]
