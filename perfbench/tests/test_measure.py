"""Unit tests for the benchmark's statistics (no Spark needed)."""

import math
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from measure import BoxSample, median, op_latency, tree_cpu_s  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    xs = [float(x) for x in range(1, 101)]  # one kind, median 50.5
    p50, tail, pct, n = op_latency({"q": xs})
    assert (n, pct) == (100, 90.0)
    assert p50 == pytest.approx(50.5) and tail == pytest.approx(90.0)
    assert sum(1 for x in xs if x > tail) == 10


def test_p50_weighs_every_kind_the_same():
    # geometric mean of the kinds' medians (2 and 8), whatever the counts
    p50, _, _, n = op_latency({"fast": [1.0, 2.0, 3.0] * 7, "slow": [8.0]})
    assert n == 22
    assert math.isclose(p50, 4.0)


def test_tail_is_taken_over_latency_relative_to_its_kind():
    # each kind has one slow op in three; the fast kind's slow op is
    # 1.5x its median, the slow kind's 1.2x
    fast = [1.0, 1.0, 1.5] * 6
    slow = [10.0, 10.0, 12.0] * 6
    p50, tail, pct, n = op_latency({"fast": fast, "slow": slow})
    assert n == 36 and math.isclose(pct, 100 * 26 / 36)
    # 12 ratios above 1 (six 1.2, six 1.5): index 25 of the sorted ratios is 1.2
    assert math.isclose(p50, math.sqrt(10.0))
    assert math.isclose(tail, p50 * 1.2)


def test_tail_is_never_below_p50():
    rng = random.Random(3)
    for _ in range(300):
        by_kind = {
            k: [rng.lognormvariate(rng.uniform(-6, 1), rng.uniform(0, 1.5))
                for _ in range(rng.randint(1, 12))]
            for k in range(rng.randint(1, 7))
        }
        p50, tail, pct, n = op_latency(by_kind)
        assert tail >= p50 * (1 - 1e-12), (by_kind, p50, tail)
        assert pct >= 50.0


def test_tail_needs_ten_samples_beyond_the_median():
    # below 22 samples no percentile above the median has ten beyond it
    p50, tail, pct, n = op_latency({"q": [float(x) for x in range(1, 22)]})
    assert (pct, n) == (50.0, 21) and tail == p50 == pytest.approx(11.0)
    p50, tail, pct, n = op_latency({"q": [float(x) for x in range(1, 23)]})
    assert (pct, n) == (100 * 12 / 22, 22)
    assert p50 == pytest.approx(11.5) and tail == pytest.approx(12.0)
    assert op_latency({}) == (0.0, 0.0, 0.0, 0)


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([]) == 0.0


def test_proc_readers():
    a = BoxSample()
    sum(i * i for i in range(200_000))
    b = BoxSample()
    assert 0.0 <= b.steal_frac(a) <= 1.0
    assert b.load1 >= 0.0
    assert tree_cpu_s() > 0.0
