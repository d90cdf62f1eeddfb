import pytest

from perfbench.spans import Tracer, covered, self_times


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "op": None, "start": start, "end": end, "parent": parent, "run": "r"}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_child_cover_once():
    spans = [_span(0, 0, 10), _span(1, 1, 3, 0), _span(2, 2, 5, 0), _span(3, 4, 4.5, 2)]
    st = self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(0.5)


def test_tracer_nests_and_is_silent_when_off():
    t = Tracer(True, "r")
    with t.span("outer"):
        with t.span("inner", op="x"):
            pass
    by = {s["name"]: s for s in t.spans}
    assert by["inner"]["parent"] == by["outer"]["id"] and by["outer"]["parent"] is None
    assert t.op_windows() == {"x": [(by["inner"]["start"], by["inner"]["end"])]}
    off = Tracer(False, "r")
    with off.span("outer", op="x"):
        pass
    assert off.spans == []
