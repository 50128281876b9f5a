"""Span self-time arithmetic."""

import threading

from trace import Span, Tracer, self_times


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "request", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 3.0, 0, "r"),
        Span(2, "b", 2.0, 5.0, 0, "r"),  # overlaps a: union 1..5
        Span(3, "c", 7.0, 8.0, 0, "r"),
        Span(4, "d", 7.5, 7.9, 3, "r"),  # grandchild: only c's self time shrinks
    ]
    st = self_times(spans)
    assert abs(st[0] - 5.0) < 1e-12
    assert abs(st[1] - 2.0) < 1e-12
    assert abs(st[3] - 0.6) < 1e-12
    assert abs(st[4] - 0.4) < 1e-12
    assert abs(sum(st.values()) - 10.0 - 1.0) < 1e-12  # a and b overlap by 1


def test_tracer_parents_are_per_thread_and_off_records_nothing():
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []

    tr = Tracer(True)

    def work(rid):
        with tr.span("request", rid):
            with tr.span("inner"):
                pass

    threads = [threading.Thread(target=work, args=(f"r{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    by_id = {s.id: s for s in tr.spans}
    inner = [s for s in tr.spans if s.name == "inner"]
    assert len(inner) == 4
    for s in inner:
        parent = by_id[s.parent]
        assert parent.name == "request" and parent.rid == s.rid
    assert len(self_times(tr.spans)) == 8
