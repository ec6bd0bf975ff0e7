import sys
import types

import pytest

import tracing
from tracing import Span


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children():
    spans = [
        Span(0, None, "s", "plans", "plans", 0.0, 10.0),
        Span(1, 0, "s", "operators.graph", "a", 1.0, 3.0),
        Span(2, 0, "s", "operators.dedup", "b", 5.0, 6.0),
        Span(3, 2, "s", "sources.load_table", "c", 5.2, 5.7),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(0.5)
    assert st[3] == pytest.approx(0.5)


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(0, None, None, "p", "p", 0.0, 10.0),
        Span(1, 0, None, "c", "c1", 2.0, 6.0),
        Span(2, 0, None, "c", "c2", 4.0, 8.0),
        Span(3, 0, None, "c", "c3", 9.5, 12.0),  # clipped at the parent's end
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 0.5)


def test_tracer_nests_spans_and_reports_layers():
    clock, seen = FakeClock(), []
    tr = tracing.Tracer(clock=clock, on_layer=seen.append, sample="w:q:0")
    with tr.span("plans", "plans.q"):
        clock.t = 1.0
        with tr.span("operators.graph"):
            clock.t = 4.0
        clock.t = 5.0
    assert [(s.layer, s.parent, s.start, s.end) for s in tr.spans] == [
        ("plans", None, 0.0, 5.0),
        ("operators.graph", 0, 1.0, 4.0),
    ]
    assert tr.spans[0].name == "plans.q"
    assert all(s.sample == "w:q:0" for s in tr.spans)
    assert seen == ["plans", "operators.graph", "plans", None]
    assert tracing.self_times(tr.spans) == {0: 2.0, 1: 3.0}


def test_span_closes_when_the_call_raises():
    tr = tracing.Tracer(clock=FakeClock())
    with pytest.raises(KeyError):
        with tr.span("plans"):
            raise KeyError("x")
    assert tr.spans[0].end == 0.0 and tr._stack == []


@pytest.fixture
def fake_engine():
    ops = types.ModuleType("fakeeng.ops")
    exec(
        "def public(x):\n    return _private(x) + 1\n"
        "def _private(x):\n    return x * 2\n"
        "def outer(x):\n    return public(x)\n",
        ops.__dict__,
    )
    for fn in (ops.public, ops._private, ops.outer):
        fn.__module__ = "fakeeng.ops"
    plan = types.ModuleType("fakeeng.plan")
    plan.public, plan.alias = ops.public, ops.outer
    sys.modules.update({"fakeeng.ops": ops, "fakeeng.plan": plan})
    yield ops, plan
    del sys.modules["fakeeng.ops"], sys.modules["fakeeng.plan"]


def test_install_wraps_public_functions_wherever_bound(fake_engine):
    ops, plan = fake_engine
    original = ops.public
    tr = tracing.Tracer(clock=FakeClock())
    restore = tracing.install(tr, {"fakeeng.ops": "operators.ops"}, prefixes=("fakeeng",))
    assert plan.alias(3) == 7
    assert plan.public(1) == 3
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("operators.ops.outer", None),
        ("operators.ops.public", 0),  # the module-global call is wrapped too
        ("operators.ops.public", None),
    ]
    restore()
    assert ops.public is original and plan.public is original


def test_install_can_restrict_to_named_functions(fake_engine):
    ops, plan = fake_engine
    tr = tracing.Tracer(clock=FakeClock())
    restore = tracing.install(
        tr, {"fakeeng.ops": "sources.x"}, names={"public"}, prefixes=("fakeeng",)
    )
    plan.alias(1)
    restore()
    assert [s.name for s in tr.spans] == ["sources.x.public"]
