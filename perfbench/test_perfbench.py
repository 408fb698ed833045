"""Checks of the benchmark itself: the numpy references against
hand-computed values, the generator's determinism, and one tiny run of
every workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference as ref  # noqa: E402


def test_time_domain_by_hand():
    td = ref.time_domain(np.array([800.0, 810.0, 790.0, 800.0]))
    # diffs 10, -20, 10
    assert td["mean_nni"] == 800.0
    assert td["sdnn"] == pytest.approx(math.sqrt(200.0 / 3.0))
    assert td["rmssd"] == pytest.approx(math.sqrt(200.0))
    assert td["sdsd"] == pytest.approx(math.sqrt(200.0))
    assert td["median_nni"] == 800.0
    assert td["range_nni"] == 20.0
    assert (td["nni_50"], td["nni_20"]) == (0, 0)
    assert td["max_hr"] == pytest.approx(60000.0 / 790.0)
    assert td["mean_hr"] == pytest.approx(
        (75.0 + 60000.0 / 810.0 + 60000.0 / 790.0 + 75.0) / 4.0)


def test_clean_nn_by_hand():
    rri = np.array([800.0, 0.0, 820.0, 2500.0, 800.0, 1000.0, 790.0])
    # 0 and 2500 are outliers, filled as 810 and 810; 1000 is > 20 %
    # above 800 and 790 is > 20 % below 1000: both dropped
    assert ref.clean_nn(rri).tolist() == [800.0, 810.0, 820.0, 810.0, 800.0]


def test_sliding_windows_by_hand():
    q = ref.Q15_US
    ts = np.array([0, q // 2, q + 1, 4 * q])
    nn = np.array([800.0, 900.0, 700.0, 800.0])
    w = ref.sliding_time_domain(ts, nn)
    assert sorted(w) == [-3 * q, -2 * q, -q, 0, q, 2 * q, 3 * q, 4 * q]
    n, mean, sdnn, rmssd, nni_50 = w[0]  # beats 0..2; beat 3 starts at 4q
    assert (n, mean, nni_50) == (3, 800.0, 2)
    assert rmssd == pytest.approx(math.sqrt((100.0**2 + 200.0**2) / 2))
    assert w[4 * q][:2] == (1, 800.0) and w[4 * q][2] is None


def test_hourly_and_sampen_count_by_hand():
    h = ref.HOUR_US
    out = ref.hourly_stream(np.array([1, 2, h, h + 5]),
                            np.array([1000.0, 0.0, 600.0, 1200.0]))
    assert out[0] == (1, 1000.0, None, 60.0)
    assert out[h][:3] == (2, 900.0, pytest.approx(math.sqrt(180000.0)))
    assert [ref.sampen_count(n) for n in (2000, 2001, 4500)] == [2000, 1001, 1500]


def test_text_references_by_hand():
    assert ref.jaccard("a b c d", "a b c e") == pytest.approx(1 / 3)
    assert ref.cosine(np.array([1.0, 0.0]), np.array([1.0, 1.0])) == \
        pytest.approx(math.sqrt(0.5))
    vecs = np.array([[1, 0], [1, 0.1], [0, 1], [-1, 0]], np.float32)
    top = ref.knn(vecs, np.arange(4), [0], 2)[0]
    assert [c for c, _ in top] == [1, 2]


def test_generator_is_seeded():
    a = gen.cohort(5, 3, (300, 400))
    b = gen.cohort(5, 3, (300, 400))
    c = gen.cohort(6, 3, (300, 400))
    assert all(np.array_equal(x.rri, y.rri) for x, y in zip(a, b))
    assert not np.array_equal(a[0].rri[:50], c[0].rri[:50])
    big = gen.cohort(1, 4, (5000, 5000))
    rri = np.concatenate([r.rri for r in big])
    assert (rri == 0).any() and (rri > 2000).any()
    assert ((rri > 0) & (rri < 300)).any()
    assert all(np.all(np.diff(r.ts_us) >= 0) for r in big)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["hrv_long", "hrv_short"])
def test_tiny_run(workload, trace):
    """One cold and one warm pass at a tiny size. A traced run also runs
    the probes (stream on hrv_long, text layers on hrv_short), whose
    output checks make the run incorrect when they fail."""
    spec = json.load(open(os.path.join(os.path.dirname(HERE),
                                       "BENCHMARK.json")))
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--size", "tiny"],
        capture_output=True, text=True, timeout=170)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True, out.stderr[-2000:]
    # 5 ops + the direct kernel check per pass; the known fault
    # (hrv_pipeline_full) fails in every pass
    passes = 3 if trace else 2
    assert (res["attempted"], res["failed"]) == (6 * passes, passes)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert list(res["metrics"]) == names
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
