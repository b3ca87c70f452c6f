import types

import pytest

from perfbench.trace import Span, Tracer, layer_self_times, reconcile, self_times


def tree():
    # timed [0, 10]: drop [1, 5] -> run [2, 4.5] -> write [3, 4]; drop [6, 9.5]
    return [
        Span("timed", 0.0, 10.0),
        Span("drop", 1.0, 5.0, parent=0),
        Span("run", 2.0, 4.5, parent=1),
        Span("write", 3.0, 4.0, parent=2),
        Span("drop", 6.0, 9.5, parent=0),
    ]


def test_self_time_subtracts_direct_children():
    assert self_times(tree()) == pytest.approx([2.5, 1.5, 1.5, 1.0, 3.5])


def test_layer_sums_reconcile_with_wall():
    spans = tree()
    layers = layer_self_times(spans, 0)
    assert layers == pytest.approx({"timed": 2.5, "drop": 5.0, "run": 1.5, "write": 1.0})
    assert sum(layers.values()) == pytest.approx(spans[0].duration)
    # the loop's own gaps (2.5 of 10 s) are the unreconciled part
    assert reconcile(spans, 0) == pytest.approx(0.75)


def test_tracer_nests_spans_and_wraps_module_calls():
    mod = types.SimpleNamespace(work=lambda x: x + 1)
    tr = Tracer()
    restore = tr.wrap(mod, "work", "layer.work")
    with tr.span("op", run="op:0"):
        assert mod.work(1) == 2
    restore()
    assert mod.work(1) == 2 and len(tr.spans) == 2
    op, work = tr.spans
    assert (work.name, work.parent, work.run) == ("layer.work", 0, "op:0")
    assert op.start <= work.start <= work.end <= op.end
