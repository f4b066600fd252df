"""End-to-end figures come from untraced timed passes only, and per-query
medians feed p50 and geomean."""

import math

import pytest

import run


def _pass(n, total, times, traced=False, t0=0.0):
    qs = [
        {"query": q, "s": s, "wall_start": t0 + i, "wall_end": t0 + i + s}
        for i, (q, s) in enumerate(times.items())
    ]
    return {"pass": n, "warmup": n == 0, "traced": traced, "total_s": total, "queries": qs}


def test_end_to_end_uses_untraced_timed_passes():
    passes = [
        _pass(0, 100.0, {"a": 50.0, "b": 50.0}),  # warm-up: ignored
        _pass(1, 3.0, {"a": 1.0, "b": 2.0}, t0=1000.0),
        _pass(2, 99.0, {"a": 9.0, "b": 90.0}, traced=True),  # traced: ignored
        _pass(3, 5.0, {"a": 3.0, "b": 2.0}, t0=2000.0),
    ]
    progress = [
        {"timestamp": "1970-01-01T00:16:40.500Z", "durationMs": {"triggerExecution": 250}},
        {"timestamp": "1970-01-01T00:00:01.000Z", "durationMs": {"triggerExecution": 9000}},
    ]
    setup = {"samples_s": [3.0, 1.0, 2.0]}
    out, extra = run.end_to_end(setup, passes, 1234.0, progress)
    assert out["pass_s"] == pytest.approx(4.0)
    assert out["setup_s"] == pytest.approx(2.0)
    # per-query medians: a=2.0, b=2.0
    assert out["query_p50_s"] == pytest.approx(2.0)
    assert out["query_geomean_s"] == pytest.approx(math.sqrt(2.0 * 2.0))
    assert extra["query_samples"] == 4 and extra["query_tail_percentile"] == 50.0
    # only the progress event inside an untraced query window counts
    assert extra["microbatch_p50_s"] == pytest.approx(0.25)
    assert extra["jvm_peak_rss_mb"] == 1234.0
    assert set(out) == set(run.E2E_UNITS)
    assert set(extra) <= set(run.EXTRA_UNITS)


def test_drift_flags_large_changes_between_first_and_last_timed_pass():
    passes = [
        _pass(0, 9.0, {"a": 9.0, "b": 9.0}),
        _pass(1, 2.0, {"a": 1.0, "b": 1.0}),
        _pass(2, 2.5, {"a": 1.5, "b": 1.1}),
    ]
    d = run.drift(passes)
    assert d["a"]["flag"] and not d["b"]["flag"]
    assert d["a"]["change"] == pytest.approx(0.5)
