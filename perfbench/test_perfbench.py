"""Tests for the benchmark's own arithmetic: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import procstat  # noqa: E402
import spread  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, attribute, clip, self_ms, union_ms  # noqa: E402


def test_percentile_reports_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100
    p90 = stats.percentile(values, 90)
    assert p90 == {"value": 90.0, "n": 100, "beyond": 10}
    assert stats.percentile(values, 50)["value"] == 50.0
    assert stats.percentile([7.0], 90) == {"value": 7.0, "n": 1, "beyond": 0}
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_highest_trusted_percentile_keeps_ten_samples_beyond():
    assert stats.highest_trusted_percentile(100) == 90.0
    assert stats.highest_trusted_percentile(1000) == 99.0
    assert stats.highest_trusted_percentile(10) is None
    p = stats.highest_trusted_percentile(22)
    assert stats.percentile(list(range(22)), p)["beyond"] >= 10
    assert stats.percentile(list(range(22)), p + 1)["beyond"] < 10


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    vals = [9.0, 10.0, 10.0, 10.0, 11.0, 10.0, 10.0, 9.0, 11.0, 10.0]
    assert 0.0 < stats.quartile_spread(vals) < 0.2


def test_set_comparison_signs_by_direction():
    assert spread.worse([10.0, 10.0], [12.0, 12.0], "lower") == pytest.approx(0.2)
    assert spread.worse([10.0, 10.0], [12.0, 12.0], "higher") == pytest.approx(-0.2)
    assert spread.worse([2.0, 4.0, 6.0], [1.5, 3.0, 9.0], "higher") == pytest.approx(0.25)


def test_union_of_overlapping_job_spans():
    assert union_ms([]) == 0.0
    assert union_ms([(0.0, 1.0), (0.5, 1.5), (3.0, 4.0)]) == pytest.approx(2500.0)
    assert union_ms([(0.0, 2.0), (0.5, 1.0)]) == pytest.approx(2000.0)  # nested
    assert union_ms([(1.0, 2.0), (2.0, 3.0)]) == pytest.approx(2000.0)  # touching
    assert clip([(0.0, 2.0), (5.0, 6.0)], 1.0, 5.5) == [(1.0, 2.0), (5.0, 5.5)]


def test_jobs_attributed_to_innermost_span_at_submission():
    op = Span(1, "op", 0.0, 10.0)
    build = Span(2, "plans.build", 0.0, 4.0, parent=1)
    load = Span(3, "sources.load_table", 1.0, 2.0, parent=2)
    action = Span(4, "spark.action", 4.0, 10.0, parent=1)
    spans = [op, build, load, action]
    assert attribute(spans, 1.5) is load  # the schema job inside load_table
    assert attribute(spans, 3.0) is build
    assert attribute(spans, 4.0) is action  # end is exclusive, start inclusive
    assert attribute(spans, 11.0) is None


def test_self_time_subtracts_children_once():
    build = Span(1, "plans.build", 0.0, 4.0)
    kids = [Span(2, "sources.load_table", 1.0, 2.0, parent=1),
            Span(3, "sources.load_table", 1.5, 3.0, parent=1)]
    assert self_ms(build, [build] + kids) == pytest.approx(2000.0)


def test_tracer_wraps_and_restores():
    class Mod:
        @staticmethod
        def f(a, b):
            return a + b

    original = Mod.f
    t = Tracer()
    t.wrap(Mod, "f", "layer.f", arg=lambda a, kw: a[0])
    with t.span("outer"):
        assert Mod.f(1, 2) == 3
    t.unwrap_all()
    assert Mod.f is original
    inner, outer = t.spans
    assert (inner.name, inner.attrs, inner.parent) == ("layer.f", {"arg": 1}, outer.id)


def _fake_proc(tmp_path, procs):
    for pid, comm, ppid, ticks in procs:
        d = tmp_path / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(t) for t in ticks] + ["0"] * 30
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")
    return str(tmp_path)


def test_tree_cpu_splits_driver_jvm_and_workers(tmp_path):
    hz = procstat.CLK_TCK
    proc = _fake_proc(tmp_path, [
        (100, "python3", 1, [2 * hz, 1 * hz, 50 * hz, 50 * hz]),  # root: reaped JVM left out
        (200, "java", 100, [30 * hz, 5 * hz, 0, 0]),
        (300, "python3", 200, [1 * hz, 0, 4 * hz, 1 * hz]),  # daemon + reaped workers
        (301, "python3", 300, [2 * hz, 0, 0, 0]),  # a live worker
        (400, "java", 1, [99 * hz, 0, 0, 0]),  # another JVM, not ours
        (500, "weird) name", 100, [0, 0, 0, 0]),  # comm with a paren and space
    ])
    cpu = procstat.tree_cpu(100, proc)
    assert cpu == {"driver_py": 3.0, "jvm": 35.0, "pyworker": 8.0}
    assert procstat.tree_cpu(999, proc) == {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    assert sorted(procstat.tree_pids(100, proc)) == [100, 200, 300, 301, 500]


def test_oracle_compare_accepts_float_noise_only():
    assert check.compare((("a", 0.1 + 0.2),), (("a", 0.3),))
    assert not check.compare((33.18,), (33.17,))  # a last-digit difference fails
    assert not check.compare((12.0,), (13.0,))
    assert not check.compare(("a", 1), ("b", 1))
    assert not check.compare((1.0, 2.0), (1.0,))
