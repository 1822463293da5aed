"""The ``(col, op, value)`` comparison table behind txlog's file
pruning, checked against brute force over small integer stats ranges
(no Spark session: the file tests read only the log's stats entries)."""

from __future__ import annotations

import operator

import pytest

from metadata_driven_data_pipeline_spark.sinks import txlog

_ROW_TEST = {
    "==": operator.eq,
    "=": operator.eq,
    ">=": operator.ge,
    ">": operator.gt,
    "<=": operator.le,
    "<": operator.lt,
}
_VALUES = range(-1, 5)
_RANGES = [(lo, hi) for lo in range(4) for hi in range(lo, 4)]


def _holds(x, op, value) -> bool:
    if op == "in":
        return x in value
    return _ROW_TEST[op](x, value)


def _cases():
    for op in _ROW_TEST:
        for v in _VALUES:
            yield op, v
    for vals in ([], [-1], [1], [0, 3], [-1, 5], [1, 2, 4]):
        yield "in", vals


def _entry(lo, hi, nulls=0, rows=10) -> dict:
    return {"rows": rows, "stats": {"k": {"min": lo, "max": hi, "nulls": nulls}}}


def test_ops_table_covers_every_op():
    assert set(txlog._OPS) == set(_ROW_TEST) | {"in"}


@pytest.mark.parametrize("lo,hi", _RANGES)
def test_file_tests_match_brute_force(lo, hi):
    xs = range(lo, hi + 1)
    for op, v in _cases():
        some = any(_holds(x, op, v) for x in xs)
        every = all(_holds(x, op, v) for x in xs)
        case = (lo, hi, op, v)
        assert txlog._file_may_match(_entry(lo, hi), "k", op, v) == some, case
        # all-match is exact for the comparisons; for ``in`` it proves
        # only a single-valued file (the stats say nothing of the gaps
        # between values of a non-integer column)
        exact = every and (op != "in" or lo == hi)
        assert txlog._file_all_match(_entry(lo, hi), "k", op, v) == exact, case
        # a NULL row (or an unknown null count) never satisfies a
        # comparison: all-match is never proven, may-match is unchanged
        for nulls in (1, None):
            e = _entry(lo, hi, nulls)
            assert not txlog._file_all_match(e, "k", op, v), case
            assert txlog._file_may_match(e, "k", op, v) == some, case


def test_file_tests_are_conservative_without_usable_stats():
    for op, v in _cases():
        # no stats for the column: keep the file, prove nothing
        assert txlog._file_may_match({"rows": 3, "stats": {}}, "k", op, v)
        assert not txlog._file_all_match({"rows": 3, "stats": {}}, "k", op, v)
        # an all-NULL file satisfies no comparison; an unknown null
        # count may still hold values
        all_null = {"rows": 3, "stats": {"k": {"nulls": 3}}}
        assert not txlog._file_may_match(all_null, "k", op, v)
        assert not txlog._file_all_match(all_null, "k", op, v)
        unknown = {"rows": 3, "stats": {"k": {"nulls": None}}}
        assert txlog._file_may_match(unknown, "k", op, v)
    for op in _ROW_TEST:
        # a NULL or incomparable predicate value decides nothing
        for v in (None, "x"):
            assert txlog._file_may_match(_entry(0, 3), "k", op, v)
            assert not txlog._file_all_match(_entry(0, 3), "k", op, v)
    assert txlog._file_may_match(_entry(0, 3), "k", "in", [1, None])
    assert not txlog._file_all_match(_entry(1, 1), "k", "in", [1, None])


def test_check_where_messages():
    txlog._check_where([], "scan")
    with pytest.raises(ValueError, match="unsupported delete op: !="):
        txlog._check_where([("k", "!=", 1)], "delete", "use overwrite")
    with pytest.raises(ValueError, match="update requires a predicate; x"):
        txlog._check_where([], "update", "x")
