"""Spark-free unit tests of the benchmark's arithmetic and /proc readers.

    python3 -m pytest perfbench/tests/test_units.py -q
"""

import datetime as dt
import math
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import hostprobe  # noqa: E402
import stats  # noqa: E402
from canon import frame_digest  # noqa: E402
from tracing import Tracer  # noqa: E402


# -- geomean of per-op medians ----------------------------------------------------


def test_geomean_of_medians_weighs_each_op_once():
    per_op = {"a": [1.0, 100.0, 1.0], "b": [4.0, 4.0, 5.0]}
    # medians 1 and 4 -> geomean 2, whatever the outlier in "a"
    assert stats.geomean_of_medians(per_op) == pytest.approx(2.0)


def test_geomean_of_medians_is_scale_free():
    per_op = {"fast": [0.1, 0.1], "slow": [10.0, 10.0]}
    doubled_fast = {"fast": [0.2, 0.2], "slow": [10.0, 10.0]}
    doubled_slow = {"fast": [0.1, 0.1], "slow": [20.0, 20.0]}
    ratio_fast = stats.geomean_of_medians(doubled_fast) / stats.geomean_of_medians(per_op)
    ratio_slow = stats.geomean_of_medians(doubled_slow) / stats.geomean_of_medians(per_op)
    assert ratio_fast == pytest.approx(ratio_slow) == pytest.approx(math.sqrt(2))


def test_geomean_of_medians_empty():
    assert stats.geomean_of_medians({}) == 0.0
    assert stats.geomean_of_medians({"a": []}) == 0.0


# -- span self time ------------------------------------------------------------------


def _span(i, name, start, end, parent):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op": "x"}


def test_self_time_subtracts_children():
    spans = [
        _span(0, "op", 0.0, 10.0, None),
        _span(1, "build", 1.0, 3.0, 0),
        _span(2, "exec", 3.0, 9.0, 0),
        _span(3, "batch", 4.0, 6.0, 2),
    ]
    st = stats.self_times(spans)
    assert st == pytest.approx({"op": 2.0, "build": 2.0, "exec": 4.0, "batch": 2.0})


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        _span(0, "job", 0.0, 10.0, None),
        _span(1, "verb", 2.0, 6.0, 0),
        _span(2, "verb", 4.0, 8.0, 0),  # overlaps the first: union is 2..8
        _span(3, "batch", 9.0, 12.0, 0),  # runs past its parent: clipped to 9..10
    ]
    st = stats.self_times(spans)
    assert st["job"] == pytest.approx(10.0 - 6.0 - 1.0)
    assert st["verb"] == pytest.approx(8.0)


def test_self_times_sum_to_root_duration():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("a"):
            time.sleep(0.01)
            with tr.span("b"):
                time.sleep(0.01)
        with tr.span("c"):
            time.sleep(0.01)
    root = tr.spans[0]
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
    assert sum(stats.self_times(tr.spans).values()) == pytest.approx(
        root["end"] - root["start"]
    )


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        tr.add("streaming.batch", 0.0, 1.0, None)
    assert tr.spans == []


# -- job-id deltas ---------------------------------------------------------------------


def test_job_range_counts_past_retention():
    # 1500 jobs after 1000 were already retained: a count of the status
    # store's (retention-capped) job list would read negative here
    assert len(stats.job_range(1000, 2500)) == 1500
    assert list(stats.job_range(7, 10)) == [7, 8, 9]
    assert len(stats.job_range(5, 5)) == 0


def test_job_range_rejects_backwards_ids():
    with pytest.raises(ValueError):
        stats.job_range(10, 9)


# -- /proc readers ---------------------------------------------------------------------


def test_parse_stat_handles_spaces_and_parens_in_name():
    tick = os.sysconf("SC_CLK_TCK")
    fields = ["S", "42"] + ["0"] * 9 + [str(tick), str(2 * tick), str(3 * tick), str(4 * tick)]
    line = "1234 (a (weird) name) " + " ".join(fields + ["0"] * 30)
    ppid, cpu = hostprobe.parse_stat(line)
    assert ppid == 42
    assert cpu == pytest.approx(10.0)


def test_descendants_walks_the_whole_tree():
    table = {1: (0, 0.0), 10: (1, 0.0), 11: (10, 0.0), 12: (10, 0.0), 13: (12, 0.0),
             20: (1, 0.0), 99: (98, 0.0)}
    assert sorted(hostprobe.descendants(table, 10)) == [10, 11, 12, 13]
    assert hostprobe.descendants(table, 555) == []


def test_tree_cpu_includes_a_busy_child():
    code = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.6: pass\ntime.sleep(5)"
    before = hostprobe.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.monotonic() + 30
        while hostprobe.tree_cpu_s() - before < 0.5 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert hostprobe.tree_cpu_s() - before >= 0.5
        assert child.pid in hostprobe.descendants(hostprobe.process_table(), os.getpid())
    finally:
        child.kill()
        child.wait(timeout=30)


def test_peak_rss_sums_children():
    own = hostprobe.peak_rss_mb(os.getpid())
    child = subprocess.Popen(
        [sys.executable, "-c", "b=bytearray(200*1024*1024)\nb=None\nimport time\ntime.sleep(30)"]
    )
    try:
        deadline = time.monotonic() + 30
        while hostprobe.peak_rss_mb() < own + 150 and time.monotonic() < deadline:
            time.sleep(0.05)
        # the child freed its buffer, but its peak stays counted
        assert hostprobe.peak_rss_mb() >= own + 150
    finally:
        child.kill()
        child.wait(timeout=30)


def test_host_share():
    share = hostprobe.host_share((100, 10, 1000), (150, 20, 1100))
    assert share == pytest.approx({"busy_pct": 50.0, "steal_pct": 10.0})


# -- result digests -------------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert frame_digest(a) == frame_digest(b)
    assert frame_digest(a) != frame_digest(a.assign(x=[1, 3]))


def test_canonical_values():
    from canon import canon_value

    assert canon_value(dt.date(2024, 1, 2)) == "2024-01-02"
    assert canon_value(pd.Timestamp("2024-01-02")) == "2024-01-02T00:00:00"
    assert canon_value(0.1 + 0.2) == "0.30000000000000004"  # full precision
    assert canon_value(None) == canon_value(float("nan")) == "∅"
    assert canon_value([1, None]) == "[1,∅]"
