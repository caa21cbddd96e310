"""Tests of the benchmark's pure logic: /proc parsing and the process
tree split, the warm-up plateau and trend, span self-time arithmetic
and the comparison of two sets of runs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import compare  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402
from spans import Span, innermost, self_times, union_length  # noqa: E402

T = procstat.TICK


def stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0, start=100):
    # fields 3..22: state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime priority nice
    # num_threads itrealvalue starttime
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime,
            20, 0, 1, 0, start, 1000, 10]
    return f"{pid} ({comm}) " + " ".join(map(str, rest)) + "\n"


# -- /proc parsing --------------------------------------------------------


def test_pid_stat_with_spaces_and_parentheses_in_the_name():
    p = procstat.parse_pid_stat(stat_line(42, "py (worker) 2", 7, 30, 5, 100, 20, 999))
    assert (p.pid, p.comm, p.ppid) == (42, "py (worker) 2", 7)
    assert (p.own_ticks, p.reaped_ticks, p.cpu_ticks) == (35, 120, 155)
    assert p.start_ticks == 999


def test_proc_stat_busy_and_steal():
    text = (
        "cpu  100 5 30 1000 7 2 3 40 11 0\n"
        "cpu0 50 2 15 500 3 1 1 20 5 0\n"
        "intr 123\n"
    )
    h = procstat.parse_proc_stat(text)
    assert h.busy_ticks == 100 + 5 + 30 + 2 + 3  # idle, iowait and steal left out
    assert h.steal_ticks == 40


def test_proc_stat_without_cpu_line():
    with pytest.raises(ValueError):
        procstat.parse_proc_stat("intr 1\n")


def test_vm_hwm():
    status = "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t  2048 kB\nVmRSS:\t 1024 kB\n"
    assert procstat.parse_vm_hwm_mb(status) == 2.0
    with pytest.raises(ValueError):
        procstat.parse_vm_hwm_mb("Name:\tx\n")


def tree():
    lines = [
        stat_line(10, "python3", 1, 50, 10, cutime=900),  # driver, reaped children
        stat_line(11, "java", 10, 400, 100, cutime=30),  # JVM, reaped launcher
        stat_line(12, "python", 11, 5, 5, cutime=70),  # daemon, reaped workers
        stat_line(13, "python", 12, 20, 0),  # worker
        stat_line(14, "python", 12, 10, 0),  # worker
        stat_line(20, "other", 1, 5000, 0),  # outside the run
    ]
    return {p.pid: p for p in map(procstat.parse_pid_stat, lines)}


def test_descendants():
    procs = tree()
    assert procstat.descendants(procs, 10) == {10, 11, 12, 13, 14}
    assert procstat.descendants(procs, 12) == {12, 13, 14}
    assert procstat.descendants(procs, 99) == set()


def jvm_threads(c2=100, c1=40):
    lines = [
        stat_line(11, "java", 10, 10, 5),
        stat_line(31, "C2 CompilerThre", 10, c2, 0),
        stat_line(32, "C1 CompilerThre", 10, c1, 0),
        stat_line(33, "Executor task l", 10, 200, 10),
    ]
    return list(map(procstat.parse_pid_stat, lines))


def test_split_tree():
    t = procstat.split_tree(tree(), jvm_threads(), 10, 11, procstat.HostCpu(10_000, 300))
    assert t.driver_s == pytest.approx(60 / T)  # the driver's reaped children left out
    assert t.jit_s == pytest.approx(140 / T)
    assert t.jvm_s == pytest.approx(530 / T)
    assert t.workers_s == pytest.approx((80 + 20 + 10) / T)
    assert t.workers == 3
    assert t.total_s == pytest.approx((60 + 530 + 110) / T)


def test_tree_difference_and_cpu_outside_the_tree():
    procs = tree()
    before = procstat.split_tree(procs, jvm_threads(), 10, 11, procstat.HostCpu(10_000, 300))
    procs[11] = procstat.parse_pid_stat(stat_line(11, "java", 10, 450, 110, cutime=30))
    procs[13] = procstat.parse_pid_stat(stat_line(13, "python", 12, 40, 0))
    after = procstat.split_tree(
        procs, jvm_threads(c2=120), 10, 11, procstat.HostCpu(10_100, 325)
    )
    d = after.minus(before)
    assert d["jit_cpu_s"] == pytest.approx(20 / T)
    assert d["jvm_cpu_s"] == pytest.approx(60 / T)
    assert d["workers_cpu_s"] == pytest.approx(20 / T)
    assert d["driver_cpu_s"] == 0
    assert d["cpu_s"] == pytest.approx(80 / T)  # the JIT's CPU included
    assert d["steal_s"] == pytest.approx(25 / T)
    assert d["other_cpu_s"] == pytest.approx(20 / T)  # 100 busy - 80 own


def test_live_readings():
    procs = procstat.read_all()
    assert os.getpid() in procstat.descendants(procs, os.getppid())
    me = procstat.read_all(f"/proc/{os.getpid()}/task")
    assert os.getpid() in me  # the main thread
    assert procstat.since_process_start() > 0


# -- warm-up and trend ----------------------------------------------------

# CPU-seconds per warm pass of the whole process tree, measured on a
# workload whose JIT levelled off on the fourth warm pass.
WARMING = [24.4, 20.9, 19.0, 18.5, 18.6, 18.2]


@pytest.mark.parametrize("n, expected", [(1, False), (2, False), (3, False), (4, True)])
def test_levelled_off_on_a_measured_warm_up(n, expected):
    assert stats.levelled_off(WARMING[:n]) is expected


def test_levelled_off_tolerates_noise_upwards():
    assert stats.levelled_off([10.0, 10.4])
    assert stats.levelled_off([10.0, 9.6])
    assert not stats.levelled_off([10.0, 9.4])


def test_relative_slope():
    assert stats.relative_slope([10.0, 10.0, 10.0]) == 0.0
    assert stats.relative_slope([12.0, 11.0, 10.0, 9.0, 8.0]) == pytest.approx(-0.1)
    # one slow pass is an outlier, not a trend
    assert stats.relative_slope([10.0, 10.0, 15.0, 10.0, 10.0]) == 0.0
    assert stats.relative_slope([5.0]) == 0.0


def test_spread_is_the_quartile_distance_over_the_median():
    values = [9.0, 10.0, 10.5, 11.0, 12.0, 10.2, 9.8, 10.1, 10.4, 30.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.spread(values) == pytest.approx((q3 - q1) / q2)
    assert stats.quartiles(values) == (q1, q2, q3)


# -- span arithmetic ------------------------------------------------------


def span(start, end, parent=None, layer="l"):
    return Span("s", layer, start, end, parent, 0)


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_length([(1, 4), (0, 2)]) == 4


def test_self_time_subtracts_children_once():
    spans = [
        span(0, 10),  # root
        span(2, 5, parent=0),
        span(3, 4, parent=1),
        span(4, 7, parent=0),  # overlaps the first child: a batch thread
    ]
    s = self_times(spans, 0, len(spans))
    assert s[0] == pytest.approx(10 - 5)  # children cover [2, 7]
    assert s[1] == pytest.approx(3 - 1)
    assert s[2] == pytest.approx(1)
    assert s[3] == pytest.approx(3)


def test_self_times_add_up_to_the_root_when_children_nest():
    spans = [span(0, 8), span(1, 3, 0), span(1.5, 2, 1), span(4, 8, 0)]
    assert sum(self_times(spans, 0, 4).values()) == pytest.approx(8)


def test_self_time_clips_children_outside_the_parent():
    spans = [span(0, 4), span(3, 6, parent=0)]
    assert self_times(spans, 0, 2)[0] == pytest.approx(3)


def test_self_times_of_a_slice_only():
    spans = [span(0, 1), span(2, 6), span(3, 4, parent=1)]
    assert self_times(spans, 1, 3) == {1: pytest.approx(3), 2: pytest.approx(1)}


def test_innermost():
    spans = [span(0, 10), span(2, 5, 0), span(3, 4, 1)]
    assert innermost(spans, 3.5) is spans[2]
    assert innermost(spans, 4.5) is spans[1]
    assert innermost(spans, 7) is spans[0]
    assert innermost(spans, 11) is None


# -- comparing sets -------------------------------------------------------

SPEC = {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1}


def test_sets_agree_within_the_bound():
    a = [10.0, 10.1, 9.9, 10.05, 9.95]
    b = [10.4, 10.5, 10.3, 10.45, 10.35]
    m = compare.compare_metric(a, b, SPEC)
    assert m["change"] == pytest.approx(0.04)
    assert m["agree"]


def test_sets_disagree_when_the_median_moves_past_the_bound():
    a = [10.0, 10.1, 9.9]
    assert not compare.compare_metric(a, [8.5, 8.6, 8.4], SPEC)["agree"]
    assert not compare.compare_metric(a, [11.5, 11.6, 11.4], SPEC)["agree"]


def test_sets_disagree_when_a_set_spreads_past_the_bound():
    a = [8.0, 9.0, 10.0, 11.0, 12.0]
    m = compare.compare_metric(a, a, SPEC)
    assert m["change"] == 0 and not m["agree"]
    assert not compare.compare_metric(a, a, {**SPEC, "name": "setup_s"})["agree"]
