import sys
import threading
import types

import pytest

from perfbench.trace import PACKAGE, Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("root", 0.0, 10.0, None, 0),
        Span("a", 1.0, 4.0, 0, 0),
        Span("b", 3.0, 6.0, 0, 0),  # overlaps a: counted once
        Span("a.child", 2.0, 3.0, 1, 0),
        Span("other", 20.0, 21.0, None, 1),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0, 1.0])


@pytest.fixture
def fake_package(monkeypatch):
    """A package with a function bound in two namespaces."""
    def f(x):
        return x + 1

    mods = {}
    for name in ("", ".inner", ".user", ".other"):
        m = types.ModuleType(PACKAGE + name)
        monkeypatch.setitem(sys.modules, PACKAGE + name, m)
        mods[name] = m
    mods[".inner"].f = f
    mods[".user"].f = f
    mods[".other"].f = f
    return mods, f


def test_wrap_rebinds_every_namespace_and_unwraps(fake_package):
    mods, f = fake_package
    t = Tracer()
    t.wrap("inner", "f", "inner.f")
    t.begin_op(3)
    assert mods[".user"].f(1) == 2 and mods[".inner"].f(2) == 3
    t.end_op()
    assert [(s.name, s.op) for s in t.spans] == [("inner.f", 3), ("inner.f", 3)]
    t.unwrap()
    assert mods[".user"].f is f and mods[".inner"].f is f


def test_wrap_only_in_leaves_other_bindings(fake_package):
    mods, f = fake_package
    t = Tracer()
    t.wrap("inner", "f", "inner.f", only_in=("user",))
    assert mods[".user"].f is not f
    assert mods[".inner"].f is f and mods[".other"].f is f
    t.unwrap()


def test_nested_spans_record_parents_per_thread():
    t = Tracer()

    def outer():
        t.call("inner", lambda: None)
        th = threading.Thread(target=lambda: t.call("thread", lambda: None))
        th.start()
        th.join(5)
        assert not th.is_alive()

    t.call("outer", outer, attrs_fn=lambda a, k, out: {"n": 1})
    by = {s.name: s for s in t.spans}
    assert by["inner"].parent == 0
    assert by["thread"].parent is None  # another thread has its own stack
    assert by["outer"].attrs == {"n": 1}
