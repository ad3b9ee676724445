"""The timing-summary rule: median, the highest standard percentile with at
least ten samples beyond it, and the sample count."""

from perfbench.stats import summarize, tail_percentile


def test_too_few_samples_have_no_tail():
    assert tail_percentile(0) is None
    assert tail_percentile(19) is None
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"median": 2.0, "p": None, "p_value": None, "n": 3}


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(199) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_tail_value_leaves_ten_samples_above():
    for n in (20, 40, 57, 100, 200, 1000):
        vals = [float(i) for i in range(n)]
        s = summarize(vals[::-1])
        assert s["n"] == n
        assert sum(v > s["p_value"] for v in vals) >= 10
        # the next standard percentile up would leave fewer than ten
        assert s["p"] == max(p for p in (50, 75, 90, 95, 99, 99.9)
                             if sum(v > vals[round(p * n / 100) - 1]
                                    for v in vals) >= 10)
