"""Unit tests for the benchmark's pure helpers: the tail-percentile rule,
the /proc process-tree reader, the host-speed probe, span arithmetic and
metric naming.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import hostprobe  # noqa: E402
import proctree  # noqa: E402
import stats  # noqa: E402
from spans import Span, layer_metrics, self_times  # noqa: E402


# -- tail-percentile rule -------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = stats.tail(xs)
    assert (value, pct) == (90.0, 90.0)
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_free_and_uses_rank():
    xs = [float(i) for i in range(25, 0, -1)]  # 25..1, descending
    value, pct = stats.tail(xs)
    assert value == 15.0 and pct == pytest.approx(60.0)


def test_tail_smallest_sample_count_above_the_median():
    xs = [float(i) for i in range(1, 22)]  # 1..21
    value, pct = stats.tail(xs)
    assert value == 11.0 and pct == pytest.approx(100 * 11 / 21)
    assert sum(x > value for x in xs) == 10


@pytest.mark.parametrize("n", [1, 5, 10, 11, 20])
def test_tail_falls_back_to_max_without_ten_samples_above_the_median(n):
    xs = [float((7 * i) % 23) for i in range(n)]
    assert stats.tail(xs) == (max(xs), 100.0)


def test_tail_and_median_reject_empty():
    with pytest.raises(ValueError):
        stats.tail([])
    with pytest.raises(ValueError):
        stats.median([])


# -- process-tree reader ---------------------------------------------------

def _stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    # fields 3.. of /proc/<pid>/stat: state ppid pgrp session tty tpgid
    # flags minflt cminflt majflt cmajflt utime stime cutime cstime ...
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime]
    rest += [0] * 37
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest)


def test_parse_stat_survives_spaces_and_parens_in_comm():
    st = proctree.parse_stat(_stat_line(42, "odd (name) x", 7, 10, 5, 3, 2))
    assert (st.pid, st.ppid, st.comm) == (42, 7, "odd (name) x")
    assert st.own_ticks == 15
    assert st.cpu_ticks == 20


def _fake_proc(tmp_path, procs):
    for pid, comm, ppid, ticks, hwm_kb in procs:
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat_line(pid, comm, ppid, *ticks))
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


TREE = [
    # pid, comm, ppid, (utime, stime, cutime, cstime), VmHWM kB
    (100, "python3", 1, (100, 50, 30, 20), 200 * 1024),
    (101, "java", 100, (400, 100, 0, 0), 2048 * 1024),
    (102, "python3", 101, (20, 10, 60, 10), 100 * 1024),  # worker daemon
    (103, "python3", 102, (5, 5, 0, 0), 50 * 1024),
    (200, "bash", 1, (999, 999, 0, 0), 999 * 1024),  # not in the tree
]


def test_descendants_follow_ppid_links(tmp_path):
    procs = proctree.read_all(_fake_proc(tmp_path, TREE))
    assert sorted(proctree.descendants(procs, 100)) == [100, 101, 102, 103]
    assert proctree.descendants(procs, 999) == []


def test_cpu_split_attributes_driver_jvm_and_workers(tmp_path):
    procs = proctree.read_all(_fake_proc(tmp_path, TREE))
    split = proctree.cpu_split(procs, 100)
    tck = proctree.CLK_TCK
    assert split["driver"] == pytest.approx(150 / tck)  # own time only
    assert split["jvm"] == pytest.approx(500 / tck)
    # workers keep the CPU of the children they reaped
    assert split["pyworker"] == pytest.approx((100 + 10) / tck)


def test_peak_rss_sums_tree_high_water_marks(tmp_path):
    proc = _fake_proc(tmp_path, TREE)
    assert proctree.peak_rss_mb(100, proc) == pytest.approx(200 + 2048 + 100 + 50)


def test_reader_works_on_this_process():
    procs = proctree.read_all()
    assert os.getpid() in procs
    assert proctree.cpu_split(procs, os.getpid())["driver"] >= 0.0


# -- host-speed probe --------------------------------------------------------

def test_cpu_factor_is_median_probe_cpu_over_quiet():
    q = hostprobe.QUIET_CPU_S
    assert hostprobe.cpu_factor([q, 2 * q, 2 * q, 9 * q]) == pytest.approx(2.0)


def test_at_quiet_speed_removes_steal_then_scales():
    # no steal: only the factor applies
    assert hostprobe.at_quiet_speed(4.0, 0.0, 4, 2.0) == pytest.approx(2.0)
    # a tenth of 4 CPUs x 4 s reported stolen
    w = hostprobe.STEAL_WEIGHT
    assert hostprobe.at_quiet_speed(4.0, 1.6, 4, 1.0) == pytest.approx(4.0 / (1 + 0.1 * w))
    assert hostprobe.at_quiet_speed(4.0, 1.6, 4, 2.0) == pytest.approx(2.0 / (1 + 0.1 * w))


def test_probe_samples_and_leaves_no_process_behind():
    probe = hostprobe.HostProbe(2)
    try:
        wall, cpu = probe.sample()
        assert wall > 0 and cpu > 0
        assert probe.cpus == [cpu] and probe.walls == [wall]
    finally:
        probe.close()
    assert proctree.tree_pids(os.getpid()) == []
    probe.close()  # closing twice is harmless


# -- spans -------------------------------------------------------------------

def _span(i, name, start, end, parent=None, **counts):
    return Span(i, name, start, end, parent, 0, "", dict(counts))


def test_self_time_subtracts_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "queries.build", 0.0, 4.0, 0),
        _span(2, "catalog.load_tables", 1.0, 2.5, 1),
        _span(3, "spark.run", 4.0, 9.0, 0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(1.0)
    assert st["queries.build"] == pytest.approx(2.5)
    assert st["catalog.load_tables"] == pytest.approx(1.5)


def test_layer_metrics_count_each_job_once_and_nest_build_jobs():
    spans = [
        _span(0, "op", 0.0, 10.0, jobs=1.0, task_skew=1.5),
        _span(1, "queries.build", 0.0, 4.0, 0, jobs=2.0),
        _span(2, "catalog.load_tables", 1.0, 2.0, 1, jobs=1.0),
        _span(3, "spark.run", 4.0, 9.0, 0, jobs=3.0, task_skew=4.0, output_mb=2.0),
        _span(4, "session.release", 9.0, 9.5, 0, blocks=2.0),
    ]
    m = layer_metrics(spans)
    assert m["spark.jobs"] == 7.0
    assert m["queries.build_jobs"] == 3.0
    assert m["catalog.load_tables_calls"] == 1.0
    assert m["queries.build_s"] == pytest.approx(4.0)
    assert m["queries.build_self_s"] == pytest.approx(3.0)
    assert m["spark.task_skew"] == 4.0
    assert m["session.blocks_left"] == 2.0
    assert m["sinks.bytes_written_mb"] == 0.0  # not under a sinks span


# -- metric naming and the result line --------------------------------------

@pytest.mark.parametrize("name", ["setup_s", "catalog.load_tables_calls", "spark.gc_s", "9x"])
def test_good_names(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "x" * 65, "p50/s"])
def test_bad_names(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_metric_rejects_bad_units_and_non_finite_values():
    assert stats.metric(1, "rows/s") == {"value": 1.0, "unit": "rows/s"}
    with pytest.raises(ValueError):
        stats.metric(1.0, "rows per s")
    with pytest.raises(ValueError):
        stats.metric(float("nan"), "s")


def test_result_line_shape():
    line = stats.result_line(True, 3, 0, {"pass_s": stats.metric(1.5, "s")})
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {})


def test_benchmark_json_names_match_what_the_run_emits():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    import run

    layer = [m["name"] for m in spec["per_layer"]]
    assert layer == [n for n, _ in run.PER_LAYER] + ["peak_rss_mb", "trace.overhead_s"]
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    for m in spec["end_to_end"] + spec["per_layer"]:
        stats.check_name(m["name"])
        stats.metric(1.0, m["unit"])


# -- ingest generator ----------------------------------------------------------

def test_covid_batch_is_seeded_and_plants_every_reject_reason(tmp_path):
    import numpy as np

    import gen_covid

    a = gen_covid.write_batch(str(tmp_path / "a"), np.random.default_rng(7), 2_000, 4)
    b = gen_covid.write_batch(str(tmp_path / "b"), np.random.default_rng(7), 2_000, 4)
    assert (a.clean, a.quarantined) == (b.clean, b.quarantined)
    assert set(a.quarantined) == set(gen_covid.DIRTY)
    assert min(a.quarantined.values()) >= 4  # each reason in each of 4 files
    assert a.rows == a.clean + sum(a.quarantined.values()) + a.malformed
    files = sorted(tmp_path.glob("a/*.csv"))
    lines = [ln for f in files for ln in f.read_text().splitlines()[1:]]
    assert len(files) == 4 and len(lines) == a.rows
    assert sum(ln.count(",") != 2 for ln in lines) == a.malformed
