"""Span bookkeeping and self-time arithmetic."""

import threading

from ragbench.trace import Span, Tracer, covered, durations, self_times


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


def test_covered_is_the_union_clipped_to_the_window():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4  # overlap counted once
    assert covered([(1, 2), (4, 6)], 0, 10) == 3
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4  # clipped at both ends
    assert covered([(3, 3), (7, 6)], 0, 10) == 0  # empty intervals


def test_self_time_subtracts_children_only_once():
    spans = [
        _span(1, "ingest", 0.0, 10.0),
        _span(2, "parse", 1.0, 4.0, parent=1),
        _span(3, "embed", 3.0, 7.0, parent=1),  # overlaps parse
        _span(4, "gateway", 4.0, 6.0, parent=3),
        _span(5, "ingest", 20.0, 21.0),  # same name sums
    ]
    own = self_times(spans)
    assert own["ingest"] == (10.0 - 6.0) + 1.0
    assert own["parse"] == 3.0
    assert own["embed"] == 4.0 - 2.0
    assert own["gateway"] == 2.0


def test_self_times_of_disjoint_children_add_up_to_the_root():
    spans = [
        _span(1, "root", 0.0, 10.0),
        _span(2, "a", 1.0, 3.0, parent=1),
        _span(3, "b", 5.0, 9.0, parent=1),
        _span(4, "c", 6.0, 7.0, parent=3),
    ]
    assert sum(self_times(spans).values()) == 10.0


def test_durations_sum_per_name_and_scope_by_ancestor():
    spans = [
        _span(1, "phase.ingest", 0.0, 10.0),
        _span(2, "embed", 1.0, 4.0, parent=1),
        _span(3, "phase.refresh", 20.0, 30.0),
        _span(4, "ingest", 21.0, 29.0, parent=3),
        _span(5, "embed", 22.0, 24.0, parent=4),  # refresh is a grandparent
        _span(6, "embed", 40.0, 41.0),
    ]
    assert durations(spans)["embed"] == 3.0 + 2.0 + 1.0
    inside = durations(spans, within="phase.refresh")
    assert inside == {"ingest": 8.0, "embed": 2.0}


def test_tracer_nests_per_thread_and_keeps_request_ids():
    tr = Tracer(True, run_id="run")

    def worker(req):
        with tr.span("query", request=req):
            with tr.span("embed"):
                pass

    with tr.span("phase"):
        threads = [threading.Thread(target=worker, args=(f"q{i}",)) for i in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()
    by_id = {s.span_id: s for s in tr.spans}
    queries = [s for s in tr.spans if s.name == "query"]
    assert len(queries) == 4
    assert all(s.parent is None for s in queries)  # another thread's stack
    for s in tr.spans:
        if s.name == "embed":
            parent = by_id[s.parent]
            assert parent.name == "query" and s.request == parent.request
    assert [s for s in tr.spans if s.name == "phase"][0].request == "run"


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []
