from perfbench import stats


def test_tail_picks_highest_percentile_with_ten_samples_above():
    pct, value, n = stats.tail([float(i) for i in range(1, 101)])
    # p95 has only 5 samples above it; p90 (value 90) has exactly 10
    assert (pct, value, n) == (90.0, 90.0, 100)


def test_tail_reports_sample_count_and_falls_back_to_median():
    assert stats.tail([float(i) for i in range(1, 21)]) == (50.0, 10.0, 20)


def test_tail_none_when_too_few_samples():
    assert stats.tail([float(i) for i in range(1, 20)]) is None
    assert stats.tail([]) is None


def test_tail_ignores_ties_at_the_percentile():
    # 15 samples equal the p90 value: none of them count as above it
    samples = [1.0] * 85 + [5.0] * 15
    assert stats.tail(samples) == (75.0, 1.0, 100)

