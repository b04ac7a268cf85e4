"""Span self-time math and function wrapping."""

from __future__ import annotations

import sys
import types

from perfbench.spans import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0.0, 10.0) == 0.0
    assert covered([(1, 3), (2, 5), (7, 8)], 0.0, 10.0) == 5.0
    # clipped to the window, empty and inverted intervals ignored
    assert covered([(-5, 2), (9, 20), (4, 4), (6, 5)], 0.0, 10.0) == 3.0
    # nested intervals count once
    assert covered([(1, 9), (2, 3), (4, 5)], 0.0, 10.0) == 8.0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, 1, "op", 0.0, 10.0, None),
        Span(1, 1, "plans.build", 1.0, 4.0, 0),
        Span(2, 1, "spark.job", 2.0, 3.0, 1),
        Span(3, 1, "spark.action", 3.5, 9.0, 0),
        # two overlapping jobs under the action: their union is 4.0..8.0
        Span(4, 1, "spark.job", 4.0, 7.0, 3),
        Span(5, 1, "spark.job", 6.0, 8.0, 3),
    ]
    st = self_times(spans)
    # the build (1..4) and the action (3.5..9) overlap: their union is 1..9
    assert st[0] == 10.0 - 8.0
    assert st[1] == 3.0 - 1.0
    assert st[3] == 5.5 - 4.0
    assert (st[2], st[4], st[5]) == (1.0, 3.0, 2.0)
    assert all(v >= 0 for v in st.values())


def test_add_span_nests_under_innermost_container():
    tr = Tracer()
    tr.spans = [
        Span(0, 7, "op", 0.0, 10.0, None),
        Span(1, 7, "plans.build", 1.0, 4.0, 0),
        Span(2, 8, "op", 0.0, 10.0, None),
    ]
    assert tr.add_span(7, "spark.job", 2.0, 3.0).parent == 1
    assert tr.add_span(7, "spark.job", 5.0, 6.0).parent == 0
    # a job that outlives every span of its op becomes a root
    assert tr.add_span(7, "spark.job", 9.0, 11.0).parent is None


def test_inactive_tracer_records_nothing():
    tr = Tracer()
    with tr.span("op"):
        pass
    assert tr.spans == []


def test_wrap_functions_covers_direct_imports_and_methods():
    pkg = types.ModuleType("fakepkg")
    pkg.__path__ = []
    lib = types.ModuleType("fakepkg.llm")
    user = types.ModuleType("fakepkg.queries")
    exec(
        "def score(x):\n    return x + 1\n"
        "def _private(x):\n    return x\n"
        "def gen():\n    yield 1\n"
        "class Sink:\n    def merge(self, x):\n        return score(x)\n",
        lib.__dict__,
    )
    for obj in (lib.score, lib._private, lib.gen, lib.Sink):
        obj.__module__ = "fakepkg.llm"
    user.score = lib.score  # ``from .llm import score``
    mods = {"fakepkg": pkg, "fakepkg.llm": lib, "fakepkg.queries": user}
    sys.modules.update(mods)
    original, private, generator = lib.score, lib._private, lib.gen
    try:
        tr = Tracer()
        assert tr.wrap_functions("fakepkg", ("llm",), skip=set()) == 1
        assert user.score is lib.score is not original
        assert lib._private is private and lib.gen is generator
        tr.active = True
        tr.op = 3
        with tr.span("op"):
            assert lib.Sink().merge(1) == 2
            assert user.score(5) == 6
        names = [(s.name, s.parent) for s in tr.spans]
        assert names == [
            ("op", None), ("llm.Sink.merge", 0), ("llm.score", 1), ("llm.score", 0),
        ]
        tr.active = False
        assert lib.score(1) == 2 and len(tr.spans) == 4
        tr.unwrap()
        assert lib.score is original and user.score is original
    finally:
        for name in mods:
            sys.modules.pop(name, None)
