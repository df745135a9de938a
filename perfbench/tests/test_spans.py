import threading

import pytest

from spans import Span, Tracer, covered, outermost, self_times


def span(sid, name, start, end, parent=None):
    return Span(sid=sid, name=name, start=start, parent=parent, op=None, thread=0, end=end)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_union_of_direct_children():
    spans = [
        span(0, "task", 0.0, 10.0),
        span(1, "save", 1.0, 3.0, parent=0),
        span(2, "send", 2.0, 5.0, parent=0),  # overlaps save: counted once
        span(3, "inner", 2.5, 4.5, parent=2),  # grandchild: not subtracted from task
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(6.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(1.0)
    assert own[3] == pytest.approx(2.0)


def test_open_span_has_no_self_time():
    assert self_times([span(0, "task", 0.0, None)]) == {}


def test_outermost_counts_nested_same_name_once():
    spans = [
        span(0, "bk.write", 0.0, 4.0),
        span(1, "other", 1.0, 3.0, parent=0),
        span(2, "bk.write", 1.5, 2.0, parent=1),  # subclass calling its base
        span(3, "bk.write", 5.0, 6.0),
    ]
    assert [s.sid for s in outermost(spans, "bk.write")] == [0, 3]


def test_tracer_links_parents_and_inherits_op():
    t = Tracer()
    with t.span("task", op="job@2024-01-01") as outer:
        with t.span("save") as inner:
            pass
    assert inner.parent == outer.sid
    assert inner.op == "job@2024-01-01"
    assert outer.end >= inner.end >= inner.start >= outer.start


def test_tracer_stacks_are_per_thread():
    t = Tracer()
    seen = {}
    with t.span("main"):
        th = threading.Thread(target=lambda: seen.setdefault("s", t.begin("worker")))
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    assert seen["s"].parent is None


def test_counted_spans_store_counter_deltas_and_result_counts():
    totals = {"jobs": 0}

    def counter():
        return dict(totals)

    t = Tracer(counter=counter, counted=["save"])

    def save():
        totals["jobs"] += 3
        return 7

    wrapped = t.traced("save", save, on_result=lambda s, r: s.counts.update(rows=r))
    assert wrapped() == 7
    assert t.spans[0].counts == {"rows": 7, "jobs": 3}


class Target:
    def inst(self, x):
        return x + 1

    @classmethod
    def cls(cls, x):
        return x + 2

    @staticmethod
    def stat(x):
        return x + 3


def test_wrap_method_keeps_method_kind_and_uninstall_restores():
    originals = dict(Target.__dict__)
    t = Tracer()
    for name in ("inst", "cls", "stat"):
        t.wrap_method(Target, name, f"target.{name}")
    assert Target().inst(1) == 2
    assert Target.cls(1) == 3
    assert Target.stat(1) == 4
    assert [s.name for s in t.spans] == ["target.inst", "target.cls", "target.stat"]
    t.uninstall()
    for name in ("inst", "cls", "stat"):
        assert Target.__dict__[name] is originals[name]


def test_wrapped_exception_still_closes_span():
    t = Tracer()

    def boom():
        raise RuntimeError("x")

    with pytest.raises(RuntimeError):
        t.traced("boom", boom)()
    assert t.spans[0].end is not None
