import sys
import threading
import types

import pytest

from perfbench.trace import Tracer, layer_self_ms, self_times


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "name": f"s{i}", "layer": layer,
            "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [span(1, None, 0.0, 10.0), span(2, 1, 1.0, 4.0), span(3, 1, 6.0, 7.0),
             span(4, 2, 2.0, 3.0)]
    st = self_times(spans)
    assert st == pytest.approx({1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0})


def test_overlapping_and_overhanging_children_count_once():
    spans = [span(1, None, 0.0, 10.0), span(2, 1, 2.0, 6.0), span(3, 1, 4.0, 8.0),
             span(4, 1, 9.0, 12.0)]
    assert self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_layer_self_ms_sums_by_layer():
    spans = [span(1, None, 0.0, 1.0, "client"), span(2, 1, 0.25, 0.75, "queries"),
             span(3, 2, 0.5, 0.75, "catalog")]
    out = layer_self_ms(spans)
    assert out == pytest.approx({"client": 500.0, "queries": 250.0, "catalog": 250.0})


def test_instrument_wraps_every_reference_and_restores():
    pkg = types.ModuleType("fakepkg")
    a = types.ModuleType("fakepkg.a")
    b = types.ModuleType("fakepkg.b")

    def leaf(x):
        return x + 1

    a.leaf = leaf
    b.leaf = leaf  # as after ``from .a import leaf``
    b.outer = lambda x: b.leaf(x) * 2
    sys.modules.update({"fakepkg": pkg, "fakepkg.a": a, "fakepkg.b": b})
    try:
        tr = Tracer()
        tr.instrument("fakepkg", {"a": ("leaf",), "b": ("outer",)}, {"a": "A", "b": "B"})
        with tr.span("request", "client"):
            assert b.outer(1) == 4
        names = {s["name"]: s for s in tr.spans}
        assert set(names) == {"request", "b.outer", "a.leaf"}
        assert names["a.leaf"]["parent"] == names["b.outer"]["id"]
        assert names["b.outer"]["parent"] == names["request"]["id"]
        tr.restore()
        assert a.leaf is leaf and b.leaf is leaf
    finally:
        for m in ("fakepkg", "fakepkg.a", "fakepkg.b"):
            sys.modules.pop(m)


def test_parents_are_per_thread():
    tr = Tracer()
    barrier = threading.Barrier(2)

    def client(name):
        with tr.span(name, "client"):
            barrier.wait(timeout=5)
            with tr.span(name + ".child", "x"):
                pass

    threads = [threading.Thread(target=client, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=5)
        assert not t.is_alive()
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["a.child"]["parent"] == by_name["a"]["id"]
    assert by_name["b.child"]["parent"] == by_name["b"]["id"]
