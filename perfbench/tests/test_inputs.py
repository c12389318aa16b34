import json
import os

import numpy as np
import pandas as pd

from perfbench import inputs, layers
from time2feat_spark.functions.kernels import ROLLUP_FEATURES

SOURCES = [f"src_{i}" for i in range(16)]


def test_events_are_the_same_for_a_seed_and_differ_across_seeds():
    a, b = inputs.gen_events(5000, 7), inputs.gen_events(5000, 7)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(inputs.gen_events(5000, 8))


def test_events_have_skew_duplicates_disorder_and_gaps():
    ev = inputs.gen_events(20_000, 3)
    counts = ev["key"].value_counts()
    assert counts.iloc[0] > 4 * counts.iloc[-1]  # Zipf key skew
    assert ev.duplicated(["key", "ts"]).sum() > 0  # repeated timestamps
    assert not ev["ts"].is_monotonic_increasing  # out of order
    hot = np.sort(ev.loc[ev["key"] == counts.index[0], "ts"].to_numpy())
    assert np.diff(hot).max() > 6 * 3600 * 1000  # a silent stretch


def test_read_mix_is_the_same_for_a_seed():
    a = inputs.read_mix(11, SOURCES, 2048)
    assert json.dumps(a) == json.dumps(inputs.read_mix(11, SOURCES, 2048))
    assert json.dumps(a) != json.dumps(inputs.read_mix(12, SOURCES, 2048))


def test_read_mix_covers_every_kind_with_and_without_sources_on_the_grid():
    mix = inputs.read_mix(5, SOURCES, 2048)
    assert len(mix) == 2 * sum(w for _k, w in inputs.READ_KINDS)
    seen = {(r["kind"], r["sources"] is None) for r in mix}
    assert seen == {(k, f) for k, _w in inputs.READ_KINDS for f in (True, False)}
    for r in mix:
        res_ms = r["resolution_sec"] * 1000
        assert r["start_ms"] % res_ms == 0 and r["end_ms"] % res_ms == 0
        assert r["start_ms"] < r["end_ms"]


def test_read_mix_halves_hold_each_kind_equally_often():
    mix = inputs.read_mix(5, SOURCES, 2048)
    half = len(mix) // 2
    for part in (mix[:half], mix[half:]):
        kinds = [r["kind"] for r in part]
        assert {k: kinds.count(k) for k, _w in inputs.READ_KINDS} == dict(inputs.READ_KINDS)


def test_curation_tables_are_the_same_for_a_seed(tmp_path):
    import pyarrow.parquet as pq

    for d in ("a", "b"):
        inputs.write_curation_tables(str(tmp_path / d), 9, n_docs=50,
                                     n_vecs=40, n_events=200, n_users=20)
    for t in ("documents", "embeddings", "events"):
        a = pq.read_table(os.path.join(tmp_path, "a", f"{t}.parquet"))
        assert a.equals(pq.read_table(os.path.join(tmp_path, "b", f"{t}.parquet")))


def test_feature_families_partition_the_rollup_features():
    fams = {layers.family(f) for f in ROLLUP_FEATURES}
    assert fams == set(layers.FAMILIES)
