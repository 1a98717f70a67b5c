"""Unit tests of the benchmark's engine-free helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import run  # noqa: E402
import spread  # noqa: E402


# --- percentile / sample-count rule -------------------------------------------


@pytest.mark.parametrize("n, want", [
    (0, None), (1, None), (19, None), (20, 50), (21, 52), (50, 80),
    (99, 89), (100, 90), (1000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert harness.tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) / 100 >= harness.MIN_BEYOND


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert harness.percentile(xs, 0) == 1.0
    assert harness.percentile(xs, 100) == 5.0
    assert harness.median(xs) == 3.0
    assert harness.percentile(xs, 90) == pytest.approx(4.6)
    assert harness.median([1.0, 2.0]) == 1.5
    with pytest.raises(ValueError):
        harness.percentile([], 50)


# --- /proc VmHWM reader ------------------------------------------------------------


def _fake_proc(root, pid, ppid, hwm_kb=None, comm="java"):
    d = root / str(pid)
    d.mkdir()
    (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
    lines = ["Name:\tx\n", "VmPeak:\t  999999 kB\n"]
    if hwm_kb is not None:
        lines.append(f"VmHWM:\t{hwm_kb:>8} kB\n")
    lines.append("VmRSS:\t     123 kB\n")
    (d / "status").write_text("".join(lines))


def test_vmhwm_reader(tmp_path):
    _fake_proc(tmp_path, 10, 1, 2048)
    _fake_proc(tmp_path, 11, 10)  # kernel-thread style: no VmHWM line
    assert harness.read_vmhwm_kb(10, str(tmp_path)) == 2048
    assert harness.read_vmhwm_kb(11, str(tmp_path)) == 0
    assert harness.read_vmhwm_kb(12, str(tmp_path)) == 0  # gone


def test_peak_rss_sums_the_process_tree(tmp_path):
    _fake_proc(tmp_path, 100, 1, 50_000, comm="python3")  # the driver itself
    _fake_proc(tmp_path, 101, 100, 1024 * 1024, comm="java (gateway)")
    _fake_proc(tmp_path, 102, 101, 512 * 1024, comm="python3")  # daemon
    _fake_proc(tmp_path, 103, 102, 512 * 1024, comm="python3")  # worker
    _fake_proc(tmp_path, 200, 1, 9_999_999, comm="other")
    assert sorted(harness.descendants(100, str(tmp_path))) == [101, 102, 103]
    rss = harness.peak_rss_by_process(100, str(tmp_path))
    assert sum(mb for _pid, _comm, mb in rss) == 2048.0


def test_vmhwm_of_this_process_is_positive():
    assert harness.read_vmhwm_kb(os.getpid()) > 0


# --- metric names ---------------------------------------------------------------------


@pytest.mark.parametrize("name", [
    "wall_s", "session.core_util", "spatial.pip.interior_frac", "query.knn_grid_s",
    "a-b", "0x",
])
def test_valid_metric_names(name):
    assert harness.valid_metric_name(name)


@pytest.mark.parametrize("name", [
    "", ".hidden", "_x", "per/s", "two words", "ü", "x" * 65, None,
])
def test_invalid_metric_names(name):
    assert not harness.valid_metric_name(name)


# --- summary line ----------------------------------------------------------------------


def test_summary_shape():
    out = harness.summary(12, 0, {"wall_s": (1.25, "s"), "peak_rss_mb": (900, "MB")})
    assert tuple(out) == harness.SUMMARY_KEYS
    assert out["correct"] is True and out["attempted"] == 12 and out["failed"] == 0
    assert out["metrics"]["wall_s"] == {"value": 1.25, "unit": "s"}
    assert isinstance(out["metrics"]["peak_rss_mb"]["value"], float)
    assert json.loads(json.dumps(out)) == out
    assert harness.summary(3, 1, {"wall_s": (1.0, "s")})["correct"] is False


@pytest.mark.parametrize("attempted, failed, metrics", [
    (0, 0, {"wall_s": (1.0, "s")}),
    (2, 3, {"wall_s": (1.0, "s")}),
    (1, 0, {"bad name": (1.0, "s")}),
    (1, 0, {"wall_s": (float("nan"), "s")}),
])
def test_summary_rejects(attempted, failed, metrics):
    with pytest.raises(ValueError):
        harness.summary(attempted, failed, metrics)


# --- output digest ------------------------------------------------------------------------


def test_digest_ignores_row_and_column_order_and_dtype_width():
    a = pd.DataFrame({"k": pd.Series([1, 2, 3], dtype="int32"), "v": [0.5, -0.0, 2.0]})
    b = pd.DataFrame({"v": [2.0, 0.5, 0.0], "k": pd.Series([3, 1, 2], dtype="int64")})
    assert harness.digest(a) == harness.digest(b)
    c = b.copy()
    c.loc[0, "v"] = 2.5
    assert harness.digest(c) != harness.digest(b)
    assert harness.digest(b.iloc[:2])[0] == 2


def test_digest_normalizes_timestamp_units():
    ts = pd.to_datetime(["2024-01-01 00:00:01", "2024-01-02 00:00:00"])
    a = pd.DataFrame({"t": ts.astype("datetime64[us]")})
    b = pd.DataFrame({"t": ts.astype("datetime64[ns]")})
    assert harness.digest(a) == harness.digest(b)


# --- BENCHMARK.json agrees with the runner --------------------------------------------------


def test_benchmark_json_matches_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert harness.valid_metric_name(m["name"])
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_spread_is_iqr_over_median():
    med, sp = spread.spreads([10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0, 10.0, 11.0, 9.0])
    assert med == 10.0
    assert sp == pytest.approx((11.0 - 9.0) / 10.0)
