"""bench.py's measurement policy (no Spark session): the untagged-drift
decision, the stdout-line fitting and converge()'s spread rule — plus
the plan-fingerprint normalizer on a streaming leg."""

from __future__ import annotations

import json
from types import SimpleNamespace

import bench

from .conftest import SF_DIR

FPV = bench._FINGERPRINT_VERSION


def _prev(fps, versions, sf=0.01, fpv=FPV):
    return {
        "sf": sf,
        "fingerprint_version": fpv,
        "plan_fingerprints": fps,
        "leg_scopes": {k: {"plan": v, "note": ""} for k, v in versions.items()},
    }


def test_drift_flags_moved_fingerprint_with_unchanged_version():
    prev = _prev({"a": "f1", "b": "f2", "c": "f3"}, {"a": 2})
    scopes = {"a": (2, "same version")}
    assert bench.untagged_plan_drift(
        prev, {"a": "NEW", "b": "NEW", "c": "f3"}, 0.01, scopes
    ) == ["a", "b"]  # "b" unlisted on both sides: version 1 == 1


def test_drift_ignores_a_bumped_version():
    prev = _prev({"a": "f1", "b": "f2"}, {"a": 2})
    scopes = {"a": (3, "bumped"), "b": (2, "newly listed")}
    assert bench.untagged_plan_drift(
        prev, {"a": "NEW", "b": "NEW"}, 0.01, scopes
    ) == []


def test_drift_skips_another_sf_or_fingerprint_version():
    fps = {"a": "f1"}
    moved = {"a": "NEW"}
    assert bench.untagged_plan_drift(_prev(fps, {}), moved, 0.01, {}) == ["a"]
    assert bench.untagged_plan_drift(_prev(fps, {}, sf=0.1), moved, 0.01, {}) == []
    assert bench.untagged_plan_drift(
        _prev(fps, {}, fpv=FPV - 1), moved, 0.01, {}
    ) == []
    assert bench.untagged_plan_drift({}, moved, 0.01, {}) == []


def test_stdout_line_sheds_detail_then_cheapest_legs():
    timings = {f"leg{i:02d}": 1.0 + i for i in range(40)}
    timings["csv_write_rows_per_sec"] = 123456.7
    full = bench.stdout_line(10.0, timings, 0.01, budget=10_000)
    payload = json.loads(full)
    assert payload["detail"] == "bench_detail.json"
    assert "queries_omitted" not in payload
    assert "csv_write_rows_per_sec" not in payload["queries"]
    assert list(payload) == ["metric", "value", "unit", "queries", "sf", "detail"]

    # one byte short of the full line: the detail pointer goes, no leg does
    line = bench.stdout_line(10.0, timings, 0.01, budget=len(full) - 1)
    payload = json.loads(line)
    assert "detail" not in payload and "queries_omitted" not in payload
    assert len(payload["queries"]) == 40

    # tighter: the cheapest legs drop and are counted
    budget = len(full) - 100
    line = bench.stdout_line(10.0, timings, 0.01, budget=budget)
    payload = json.loads(line)
    assert len(line) <= budget
    n = payload["queries_omitted"]
    assert n > 0 and len(payload["queries"]) == 40 - n
    assert sorted(payload["queries"]) == [f"leg{i:02d}" for i in range(n, 40)]


def test_converge_stops_on_the_trailing_window(monkeypatch):
    clock = SimpleNamespace(t=0.0)
    monkeypatch.setattr(
        bench, "time", SimpleNamespace(perf_counter=lambda: clock.t)
    )
    # warmup, then one early outlier followed by steady runs: the
    # trailing 3-run window is inside the 1.5x band after 4 runs, well
    # before the 2 + 6 cap an all-runs spread rule would run to
    steps = iter([5.0, 3.0, 1.0, 1.0, 1.0] + [1.0] * 10)

    def fn():
        clock.t += next(steps)

    durs, still_descending = bench.converge(fn, 2, spread_extra=6)
    assert durs == [3.0, 1.0, 1.0, 1.0]
    assert not still_descending


def test_streaming_c4_gate_fingerprint_is_stable(spark):
    """The memory sink's query name is c4g_<uuid8>: two evaluations of
    the unchanged leg must fingerprint identically."""
    import excelstream_spark.plans.streaming_ops  # noqa: F401
    from excelstream_spark.plans.catalog import CATALOG

    spec = CATALOG["streaming_c4_gate"]
    first = bench._plan_fingerprint(spec.fn(spark, SF_DIR))
    assert bench._plan_fingerprint(spec.fn(spark, SF_DIR)) == first
