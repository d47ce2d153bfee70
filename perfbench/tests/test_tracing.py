import pytest

import tracing


def span(sid, parent, start, end, name="x"):
    return {"id": sid, "name": name, "parent": parent, "op": 0,
            "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert tracing.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert tracing.covered([], 0, 10) == 0
    assert tracing.covered([(11, 12)], 0, 10) == 0


def test_self_time_is_duration_minus_children_cover():
    spans = [span("a", None, 0.0, 10.0),
             span("b", "a", 1.0, 4.0),
             span("c", "a", 3.0, 6.0),      # overlaps b: cover is 1..6
             span("d", "b", 1.5, 2.0),      # grandchild: not a's child
             span("e", None, 20.0, 21.0)]
    st = tracing.self_times(spans)
    assert st["a"] == pytest.approx(5.0)
    assert st["b"] == pytest.approx(2.5)
    assert st["c"] == pytest.approx(3.0)
    assert st["d"] == pytest.approx(0.5)
    assert st["e"] == pytest.approx(1.0)


def test_tracer_records_parents_ops_and_nothing_when_disabled():
    tr = tracing.Tracer()
    tr.op = 7
    with tr.span("outer") as o:
        with tr.span("inner") as i:
            pass
    assert i["parent"] == o["id"] and o["parent"] is None
    assert {s["op"] for s in tr.spans} == {7}
    assert o["start"] <= i["start"] <= i["end"] <= o["end"]

    off = tracing.Tracer(enabled=False)
    with off.span("x") as rec:
        assert rec is None
    assert off.spans == []


def test_instrument_wraps_public_functions_and_restores():
    import types

    mod = types.ModuleType("fake_layer")
    exec("def work(x):\n    return x + 1\n\ndef _private():\n    return 0\n",
         mod.__dict__)
    original = mod.work
    tr = tracing.Tracer()
    restore = tracing.instrument(tr, {"fake": mod})
    assert mod.work(1) == 2 and mod._private() == 0
    assert [s["name"] for s in tr.spans] == ["fake.work"]
    assert mod.work.__qualname__ == "work"
    restore()
    assert mod.work is original
