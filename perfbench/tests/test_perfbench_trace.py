"""Span bookkeeping and self time, without Spark."""

from __future__ import annotations

import threading
import types

import pytest

from perfbench.trace import Patches, Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered(0.0, 10.0, []) == 0.0
    assert covered(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]) == pytest.approx(4.0)
    # intervals reaching outside the span are clipped to it
    assert covered(2.0, 5.0, [(0.0, 3.0), (4.0, 9.0)]) == pytest.approx(2.0)
    assert covered(0.0, 1.0, [(2.0, 3.0)]) == 0.0


def test_self_time_subtracts_only_direct_children():
    spans = [
        Span(0, "job", 1, None, 0.0, 10.0),
        Span(1, "pickle", 1, 0, 1.0, 3.0),
        Span(2, "execute", 1, 0, 4.0, 8.0),
        Span(3, "inner", 1, 2, 5.0, 6.0),  # grandchild of job
        Span(4, "decode", 1, None, 4.5, 5.5),  # other thread: no parent
    ]
    st = self_times(spans)
    assert st["job"] == pytest.approx(4.0)
    assert st["execute"] == pytest.approx(3.0)
    assert st["inner"] == pytest.approx(1.0)
    assert st["decode"] == pytest.approx(1.0)
    assert st["pickle"] == pytest.approx(2.0)


def test_self_time_sums_per_name():
    spans = [Span(0, "a", 0, None, 0.0, 1.0), Span(1, "a", 1, None, 2.0, 4.0)]
    assert self_times(spans) == {"a": pytest.approx(3.0)}


def test_tracer_links_parents_per_thread_and_tags_job():
    tr = Tracer()
    tr.job = 7
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
        seen = {}

        def on_thread():
            with tr.span("other") as sp:
                seen["sp"] = sp

        t = threading.Thread(target=on_thread)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert inner.parent == outer.id
    assert outer.parent is None
    assert seen["sp"].parent is None  # parent links follow one thread's stack
    assert {s.job for s in tr.spans} == {7}
    assert len(tr.spans) == 3
    assert tr.totals()["outer"] >= tr.totals()["inner"]


def test_span_closes_on_exception():
    tr = Tracer()
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError("x")
    assert [s.name for s in tr.spans] == ["boom"]
    assert tr.spans[0].end >= tr.spans[0].start
    with tr.span("after") as sp:
        pass
    assert sp.parent is None


def test_patches_wrap_and_restore():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer()
    p = Patches()

    def make(fn):
        def wrapper(*a):
            with tr.span("f"):
                return fn(*a)

        return wrapper

    p.wrap(mod, "f", make)
    assert mod.f(1) == 2
    assert [s.name for s in tr.spans] == ["f"]
    p.restore()
    assert mod.f is orig


def test_write_round_trips(tmp_path):
    import json

    tr = Tracer()
    with tr.span("a"):
        tr.count("bytes", 5)
    path = tmp_path / "spans.json"
    tr.write(str(path))
    doc = json.loads(path.read_text())
    assert doc["counters"] == {"bytes": 5}
    assert doc["spans"][0]["name"] == "a"
    assert "a" in doc["self_s"]
