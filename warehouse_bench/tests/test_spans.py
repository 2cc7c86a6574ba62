"""Span nesting, self time and the tracer's job-group calls."""

from __future__ import annotations

import time

from warehouse_bench.spans import Patch, Tracer


class FakeContext:
    def __init__(self):
        self.groups: list[str | None] = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.groups.append(value)


def test_self_time_excludes_children():
    sc = FakeContext()
    tr = Tracer(sc)
    tr.op = 0
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.05)
    by = tr.by_name()
    assert by["outer"]["total_s"] >= by["inner"]["total_s"] >= 0.05
    assert abs(by["outer"]["self_s"] - (by["outer"]["total_s"] - by["inner"]["total_s"])) < 1e-9
    # each span sets its own group on entry and restores the parent's on exit
    assert sc.groups == ["span0", "span1", "span0", None]


def test_wrap_and_patch_undo():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer(FakeContext())
    seen = []
    patch = Patch()
    patch.attr(Mod, "f", tr.wrap("mod.f", Mod.f, lambda out, a, k: seen.append(out)))
    tr.op = 3
    assert Mod.f(1) == 2
    patch.undo()
    assert Mod.f(1) == 2 and len(tr.spans) == 1 and seen == [2]
    assert tr.spans[0].name == "mod.f" and tr.spans[0].op == 3
    assert "mod.f" in tr.by_name()
