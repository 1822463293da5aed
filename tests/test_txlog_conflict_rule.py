"""The one conflict rule of the txlog commit driver (``_Plan.stale``),
checked branch by branch over synthetic snapshots: no Spark session, no
files. A plan made against ``BASE`` removes ``a``, may match a new file
whose key range reaches below 10, staged the columns ``k``/``value``
and assigned ids from the ``id`` watermark."""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from metadata_driven_data_pipeline_spark.sinks import txlog


def _schema(value_physical: str | None) -> str:
    meta = {txlog._PHYSICAL_KEY: value_physical} if value_physical else {}
    return StructType(
        [
            StructField("k", LongType()),
            StructField("value", StringType(), metadata=meta),
            StructField("id", LongType()),
        ]
    ).json()


def _entry(path: str, lo: int, hi: int, **extra) -> dict:
    return {"path": path, "rows": 2, "stats": {"k": {"min": lo, "max": hi}}, **extra}


FILES = {"a": _entry("a", 1, 5), "b": _entry("b", 10, 20)}


def _snap(
    version: int,
    files: dict | None = None,
    constraints: dict | None = None,
    value_physical: str | None = "v",
    id_high: int = 7,
) -> txlog.Snapshot:
    return txlog.Snapshot(
        "/t",
        version,
        _schema(value_physical),
        dict(FILES if files is None else files),
        {},
        constraints={"pos": "k > 0"} if constraints is None else constraints,
        identity={"id": {"start": 1, "high": id_high}},
    )


BASE = _snap(3)

CASES = {
    "same version": (_snap(3), False),
    "unrelated commit": (_snap(4), False),
    "swapped entry in remove": (
        _snap(4, FILES | {"a": _entry("a", 1, 5, dv={"path": "_dv/x"})}),
        True,
    ),
    "swap on a file not removed": (
        _snap(4, FILES | {"b": _entry("b", 10, 20, dv={"path": "_dv/x"})}),
        False,
    ),
    "removed file gone": (_snap(4, {"b": FILES["b"]}), True),
    "new file may match": (_snap(4, FILES | {"c": _entry("c", 3, 30)}), True),
    "new file cannot match": (
        _snap(4, FILES | {"c": _entry("c", 40, 50)}),
        False,
    ),
    "constraints changed": (_snap(4, constraints={}), True),
    "mapping drifted": (_snap(4, value_physical=None), True),
    "assigned identity drifted": (_snap(4, id_high=12), True),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_plan_is_stale_only_on_a_conflicting_commit(case):
    cur, expected = CASES[case]
    plan = txlog._Plan(
        BASE,
        remove=["a"],
        may_match=lambda e: e["stats"]["k"]["min"] < 10,
        columns=["k", "value"],
        id_assigned=["id"],
    )
    assert plan.stale(cur) is expected


def test_plan_without_conflict_fields_is_stale_only_on_constraints():
    """A metadata-only plan stages nothing: only the constraint set can
    make it stale (its per-claim checks live in its payload builder)."""
    plan = txlog._Plan(BASE)
    assert not plan.stale(_snap(4, {}, value_physical=None, id_high=99))
    assert plan.stale(_snap(4, constraints={}))
