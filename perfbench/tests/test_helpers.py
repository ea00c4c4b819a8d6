"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from common import in_child  # noqa: E402
from host import heap_after_gc_peak_mb, steal_share  # noqa: E402
from spans import Span, Tracer, self_time  # noqa: E402
from stats import MIN_BEYOND, median, percentile  # noqa: E402
from wl_ingest import commit_times, due_times, event_lags, file_batches, lateness  # noqa: E402

# --- percentile rule ---------------------------------------------------


def test_percentile_needs_ten_samples_beyond_it():
    values = list(range(1000))
    assert percentile(values, 99) == 989  # rank 990 leaves exactly 10 beyond
    with pytest.raises(ValueError):
        percentile(list(range(999)), 99)  # rank 990 leaves 9 beyond
    assert percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        percentile(list(range(100)), 91)


def test_median_is_always_reported():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert MIN_BEYOND == 10


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


# --- span self time ----------------------------------------------------


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", "", parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    # two overlapping children cover [1, 5]; one sticks out past the
    # parent and covers only [8, 10] of it
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_records_parents_and_self_time():
    tr = Tracer(enabled=True)
    with tr.span("outer", "op1"):
        with tr.span("inner", "op1"):
            pass
    outer, inner = tr.by_name("outer")[0], tr.by_name("inner")[0]
    assert inner.parent == outer.span_id and outer.parent is None
    assert tr.self_times("outer")[0] == pytest.approx(outer.duration - inner.duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == [] and tr.cost_s == 0.0


# --- seeded inputs -----------------------------------------------------


def test_bursts_are_byte_identical_for_a_seed(tmp_path):
    cities = gen.city_catalog(500, seed=7)
    a, sa = gen.burst_lines(cities, 3, 1_717_200_000, seed=7)
    b, sb = gen.burst_lines(gen.city_catalog(500, seed=7), 3, 1_717_200_000, seed=7)
    gen.write_burst(tmp_path / "a.jsonl", a)
    gen.write_burst(tmp_path / "b.jsonl", b)
    assert (tmp_path / "a.jsonl").read_bytes() == (tmp_path / "b.jsonl").read_bytes()
    assert sa == sb
    c, _ = gen.burst_lines(cities, 3, 1_717_200_000, seed=8)
    assert c != a


def test_burst_truth_matches_its_lines():
    cities = gen.city_catalog(4000, seed=1)
    lines, st = gen.burst_lines(cities, 0, 1_717_200_000, seed=1)
    parsed, corrupt = [], 0
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            corrupt += 1
    assert corrupt == st.n_corrupt > 0
    assert len(lines) == st.n_lines == len(cities)
    assert sum(n for n, _ in st.per_city.values()) == len(parsed)
    temp = sum(round(m.get("main", {}).get("temp", 0) * 100) for m in parsed)
    assert temp == sum(s for _, s in st.per_city.values())


def test_table_subset_matches_full_set(tmp_path):
    gen.write_tables(str(tmp_path / "all"), 0.001, seed=5)
    gen.write_tables(str(tmp_path / "docs"), 0.001, seed=5, names=("documents",))
    full = (tmp_path / "all" / "documents.parquet").read_bytes()
    assert full == (tmp_path / "docs" / "documents.parquet").read_bytes()
    assert sorted(os.listdir(tmp_path / "all")) == sorted(f"{t}.parquet" for t in gen.TABLES)


# --- open-loop accounting ----------------------------------------------


def test_lateness_and_lag_count_from_the_due_time():
    due = due_times(100.0, 4, 1.5)
    assert due == [100.0, 101.5, 103.0, 104.5]
    # the generator stalled 0.7 s before the third release
    released = [100.0, 101.5, 103.7, 104.5]
    assert lateness(due, released) == pytest.approx([0.0, 0.0, 0.7, 0.0])
    committed = [101.0, 102.5, 104.9, None]
    lags = event_lags(due, committed, [2, 2, 3, 5])
    # the stalled burst's lag includes the stall; the uncommitted
    # burst contributes no samples (it counts as failed instead)
    assert lags == pytest.approx([1.0, 1.0, 1.0, 1.0, 1.9, 1.9, 1.9])


def test_batch_membership_from_checkpoint_logs(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    entry = lambda name, b: json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": b})  # noqa: E731
    (src / "9.compact").write_text("v1\n" + "\n".join(entry(f"f{i}", i) for i in range(10)) + "\n")
    (src / "10").write_text("v1\n" + entry("f10", 10) + "\n" + entry("f11", 10) + "\n")
    (src / ".10.crc").write_text("x")
    got = file_batches(str(src))
    assert got["f3"] == 3 and got["f10"] == 10 and got["f11"] == 10 and len(got) == 12
    commits = tmp_path / "commits"
    commits.mkdir()
    (commits / "10").write_text("v1\n{}\n")
    os.utime(commits / "10", (1000.0, 1234.5))
    assert commit_times(str(commits)) == {10: 1234.5}


def test_steal_share_from_cpu_line_deltas():
    before = [100, 0, 100, 1000, 0, 0, 0, 0, 0, 0]
    after = [200, 0, 150, 1100, 0, 0, 0, 50, 0, 0]
    assert steal_share(before, after) == pytest.approx(50 / 300)


def test_heap_after_gc_peak_reads_the_log_up_to_the_cutoff(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s][info][gc] Using G1\n"
        "[1.500s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 24M->5M(256M) 3.1ms\n"
        "[4.000s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 900M->2G(3G) 9.0ms\n"
        "[6.000s][info][gc] GC(2) Pause Full (System.gc()) 3G->3G(4G) 90.0ms\n"
        "[2.000s][info][gc] GC(3) Pause Remark 700K->512K(256M) 1.0ms\n"
    )
    assert heap_after_gc_peak_mb(str(log), 5.0) == 2048.0  # GC(2) ran after the cutoff
    assert heap_after_gc_peak_mb(str(log), 1.0) == 0.0


# --- forked input generation -------------------------------------------


def test_in_child_returns_the_result_and_reports_failure():
    parent = os.getpid()
    assert in_child(lambda: os.getpid()) != parent
    with pytest.raises(RuntimeError, match="ZeroDivisionError"):
        in_child(lambda: 1 / 0)
