"""Run bookkeeping: op keys, the tracing-overhead estimate, resident memory
and CPU time."""

from __future__ import annotations

import os

import pytest

from perfbench.run import (
    _stat_ticks, op_keys, op_median, overhead, resident_pages, tree_cpu_s,
)


def test_op_keys_name_the_same_op_alike_in_every_pass():
    a = op_keys(["mor", "cow", "cow", "mor"])
    b = op_keys(["cow", "mor", "mor", "cow"])
    assert sorted(a) == sorted(b) == [("cow", 0), ("cow", 1), ("mor", 2), ("mor", 3)]
    assert a == [("mor", 2), ("cow", 0), ("cow", 1), ("mor", 3)]


def test_alternating_halves_cover_every_op_both_ways():
    keys = [k for _, k in op_keys(["q1", "q2", "q3"])]
    traced = {(p, k) for p in (1, 2) for k in keys if (k + p) % 2 == 0}
    assert {k for _, k in traced} == set(keys)
    assert all(((k + 1) % 2 == 0) != ((k + 2) % 2 == 0) for k in keys)


def test_overhead_is_the_geometric_mean_ratio():
    plain = [{"key": 0, "latency_s": 1.0}, {"key": 1, "latency_s": 4.0}]
    traced = [{"key": 0, "latency_s": 1.21}, {"key": 1, "latency_s": 4.0}]
    assert overhead(traced, plain) == pytest.approx(0.1)
    # an op seen only one way carries no ratio
    assert overhead(traced + [{"key": 2, "latency_s": 9.0}], plain) == pytest.approx(0.1)
    assert overhead([], plain) == 0.0


def test_op_median_takes_each_ops_median_first():
    recs = [
        {"key": k, "latency_s": v}
        for k, v in [(0, 1.0), (0, 3.0), (1, 2.5), (1, 2.5), (2, 9.0), (2, 1.0)]
    ]
    # per-op medians 2.0, 2.5, 5.0
    assert op_median(recs) == 2.5


def test_a_child_sharing_its_parents_memory_counts_once():
    jvm = "900 400 20 1 0 500 0\n"
    tree = {1: None, 2: 1, 3: 2, 4: 2, 5: 4}
    statm = {
        1: "100 50 5 1 0 60 0\n",
        2: jvm,
        3: jvm,  # spawned by the JVM, not yet exec'd
        4: "10 7 3 1 0 4 0\n",
        5: "100 50 5 1 0 60 0\n",  # the same figures as 1, but not its child
    }
    assert resident_pages(tree, statm) == 50 + 400 + 7 + 50


def test_stat_ticks_reads_fields_after_a_command_name_with_spaces(tmp_path):
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime ...
    stat = tmp_path / "stat"
    stat.write_text("77 (C2 CompilerThre) S 1 1 1 0 -1 0 0 0 0 0 30 12 5 2 20 0 1\n")
    assert _stat_ticks(str(stat), slice(11, 13)) == ("C2 CompilerThre", 42)
    assert _stat_ticks(str(stat), slice(11, 15)) == ("C2 CompilerThre", 49)


def test_a_python_tree_has_no_jit_time():
    total, jit = tree_cpu_s(os.getpid())
    assert total > 0 and jit == 0
