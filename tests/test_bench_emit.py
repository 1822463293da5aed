"""bench.py output contract, without Spark: the last stdout line is the
slim JSON line the caller parses, kept under ``_SLIM_LINE_CAP`` by the
documented degrade order, and a non-numeric ``SPARK_GRAFT_CPUS`` has
no control anchor instead of crashing."""
from __future__ import annotations

import json

import pytest

import bench


def _emit_last_line(monkeypatch, tmp_path, capsys, full: dict) -> dict:
    # _emit writes BENCH_RESULT.json next to bench.py's __file__
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    bench._emit(full)
    assert (tmp_path / "BENCH_RESULT.json").exists()
    line = capsys.readouterr().out.rstrip("\n").split("\n")[-1]
    assert len(line) <= bench._SLIM_LINE_CAP
    return json.loads(line)


def _full(queries: dict) -> dict:
    return {
        "metric": "headline_queries_total_wall_clock",
        "value": 12.5,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "reps": 3,
        "value_min_sum": 12.0,
        "quiet": True,
    }


def test_slim_line_quantizes_seconds_before_shedding_audit_fields(
    monkeypatch, tmp_path, capsys
):
    # 2 decimals overflow the cap; 1 decimal on >= 1 s values fits, so
    # the audit fields must survive
    queries = {f"q{i:03d}": 2.04 for i in range(180)}
    slim = _emit_last_line(monkeypatch, tmp_path, capsys, _full(queries))
    assert slim["reps"] == 3 and slim["value_min_sum"] == 12.0
    assert slim["queries"] == {k: 2 for k in queries}


def test_slim_line_over_cap_prints_metric_value_unit(
    monkeypatch, tmp_path, capsys
):
    queries = {f"a_long_query_name_{i:04d}": 0.5 for i in range(300)}
    slim = _emit_last_line(monkeypatch, tmp_path, capsys, _full(queries))
    assert slim == {
        "metric": "headline_queries_total_wall_clock",
        "value": 12.5,
        "unit": "sec",
    }


@pytest.mark.parametrize(
    "cpus, anchor",
    [("32", bench.CONTROL_BASELINE_TOTALS["32"]), ("7", None), ("*", None)],
)
def test_control_anchor_accepts_non_numeric_cpus(cpus, anchor):
    assert bench._control_anchor(cpus) == anchor
