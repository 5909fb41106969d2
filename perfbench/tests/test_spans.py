"""Self time: a span's duration minus the union of its children."""

import pytest

from spans import Span, Tracer, covered, self_time_by_layer, self_times


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2.0
    assert covered([(0, 2), (1, 3)]) == 3.0
    assert covered([(1, 3), (0, 4), (5, 6)]) == 5.0


def _spans():
    return [
        Span(0, "op", "pipeline", 0.0, 10.0, None, "r"),
        Span(1, "stage", "plans.stages", 1.0, 7.0, 0, "r"),
        Span(2, "stub", "ml.stubs", 2.0, 4.0, 1, "r"),
        Span(3, "kernel", "kernels", 3.0, 5.0, 1, "r"),  # overlaps the stub
        Span(4, "late", "kernels", 8.0, 12.0, 0, "r"),  # runs past its parent
    ]


def test_self_times():
    st = self_times(_spans())
    assert st[0] == pytest.approx(10.0 - 6.0 - 2.0)  # child 4 clipped to [8, 10]
    assert st[1] == pytest.approx(6.0 - 3.0)  # children cover [2, 5]
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(4.0)


def test_self_time_by_layer():
    by_layer = self_time_by_layer(_spans())
    assert by_layer == pytest.approx(
        {"pipeline": 2.0, "plans.stages": 3.0, "ml.stubs": 2.0, "kernels": 6.0}
    )


def test_tracer_nests_and_disables():
    tr = Tracer("run")
    with tr.span("a", "x"):
        with tr.span("b", "y"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("a", None), ("b", 0)]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer("run", enabled=False)
    with off.span("a", "x"):
        pass
    assert off.spans == []
