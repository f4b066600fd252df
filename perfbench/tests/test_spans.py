"""Span self-time arithmetic and wrapper bookkeeping."""

import sys
import types

import pytest

import spans
import stats
from spans import Span, Tracer


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert spans.union_length([(2, 3), (0, 1)]) == pytest.approx(2.0)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    s = [
        Span(0, None, "query", 0.0, 10.0),
        Span(1, 0, "query.build", 0.0, 6.0),
        Span(2, 1, "pysink.merge", 1.0, 4.0),
        Span(3, 1, "util.local_relation_df", 3.0, 5.0),  # overlaps its sibling
        Span(4, 1, "util.spread", 5.5, 7.0),  # runs past its parent's end
        Span(5, 0, "query.materialize", 6.0, 10.0),
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(0.0)
    assert st[1] == pytest.approx(6.0 - 4.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[5] == pytest.approx(4.0)
    for q in s:
        q.query = "1:q"
    layers = spans.layer_self_times(s)
    assert layers[("1:q", "util")] == pytest.approx(2.0 + 1.5)
    assert layers[("1:q", "query.build")] == pytest.approx(1.5)
    assert ("1:q", "query") not in layers


def test_wrapper_records_only_when_enabled_and_passes_results_through():
    tr = Tracer()
    wrapped = tr.wrapper("util", lambda x: x * 2, lambda t, a, k, r: t.count("n", r))
    assert wrapped(2) == 4 and tr.spans == []
    tr.enabled = True
    root = tr.start_query("0:q")
    assert wrapped(3) == 6
    tr.end_query(root)
    assert [s.name for s in tr.spans] == ["query", "util.<lambda>"]
    assert tr.spans[1].parent == root.id and tr.spans[1].query == "0:q"
    assert tr.counters[("0:q", "n")] == 6


def test_wrap_modules_patches_every_holder_and_restores():
    pkg = types.ModuleType("fakepkg")
    layer = types.ModuleType("fakepkg.layer")
    user = types.ModuleType("fakepkg.user")
    exec("def public(x):\n    return x + 1\ndef _private(x):\n    return x\n", layer.__dict__)
    layer.public.__module__ = layer._private.__module__ = "fakepkg.layer"
    user.public = layer.public
    original = layer.public
    sys.modules.update({"fakepkg": pkg, "fakepkg.layer": layer, "fakepkg.user": user})
    try:
        tr = Tracer()
        assert tr.wrap_modules({"layer": "fakepkg.layer"}, "fakepkg") == 1
        assert layer.public is user.public is not original
        assert layer._private.__name__ == "_private"
        tr.enabled = True
        assert user.public(1) == 2
        assert [s.name for s in tr.spans] == ["layer.public"]
        tr.unwrap_all()
        assert layer.public is user.public is original
    finally:
        for m in ("fakepkg", "fakepkg.layer", "fakepkg.user"):
            sys.modules.pop(m, None)


def test_tail_keeps_ten_samples_beyond_it():
    xs = list(range(1, 101))
    value, pct, n = stats.tail(xs)
    assert (pct, n) == (90.0, 100)
    assert sum(1 for x in xs if x > value) >= 10
    assert stats.tail([1.0, 2.0, 3.0])[1] == 50.0
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
