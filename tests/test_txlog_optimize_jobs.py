"""Pins the rewrite-job shape of ``txlog.optimize`` in every mode: how
many ``_stage_adds`` jobs run, with which ``partition_by``, and how many
output files each partition value gets.

Two small tables are built once per module and copied per case:

- ``flat``: two one-file appends, then a deletion-vector delete that
  masks 60% of the first file;
- ``parted``: partitioned on ``p`` — a ``hot`` value (two files of wide
  rows), ``a`` and ``b`` (two tiny files each) and ``c`` (one tiny
  file).
"""

import math
import shutil
import uuid

import pytest

from metadata_driven_data_pipeline_spark.sinks import txlog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("optimize_jobs")
    flat = str(base / "flat")
    for lo, v in ((0, "a"), (1000, "b")):
        df = spark.createDataFrame(
            [(lo + i, v) for i in range(100)], "k int, v string"
        )
        txlog.append(spark, df.coalesce(1), flat)
    txlog.delete(spark, flat, [("k", "<", 60)], deletion_vectors=True)

    parted = str(base / "parted")
    for batch in range(2):
        rows = [(batch * 100 + i, uuid.uuid4().hex * 4, "hot") for i in range(100)]
        rows += [(batch, "x", "a"), (batch, "y", "b")]
        df = spark.createDataFrame(rows, "k int, payload string, p string")
        txlog.append(spark, df.coalesce(1), parted, partition_by=["p"])
    df = spark.createDataFrame([(0, "z", "c")], "k int, payload string, p string")
    txlog.append(spark, df, parted, partition_by=["p"])
    return {"flat": flat, "parted": parted}


def _hot_target(snap):
    """Half the hot value's bytes: hot splits, a/b/c stay cold."""
    return _value_bytes(snap, "hot") // 2


def _value_bytes(snap, value):
    return sum(
        e.get("bytes", 0)
        for e in snap.files.values()
        if (e.get("partition") or {}).get("p") == value
    )


def _hot_files(snap):
    return math.ceil(_value_bytes(snap, "hot") / _hot_target(snap))


# (table, optimize kwargs — a callable gets the snapshot, expected
#  partition_by per job, expected new files per value — a callable gets
#  the snapshot; flat files count under None)
CASES = {
    "flat_default": ("flat", {}, [[]], {None: 1}),
    "partitioned_cold": ("parted", {}, [["p"]], {"a": 1, "b": 1, "c": 1, "hot": 1}),
    "partitioned_hot": (
        "parted",
        lambda s: {"target_bytes": _hot_target(s)},
        [["p"], ["p"]],
        lambda s: {"a": 1, "b": 1, "c": 1, "hot": _hot_files(s)},
    ),
    "zorder_global": ("parted", {"zorder_by": ["k"]}, [[]], {None: 1}),
    "zorder_within_partitions": (
        "parted",
        lambda s: {
            "target_bytes": _hot_target(s),
            "zorder_by": ["k"],
            "within_partitions": True,
        },
        [["p"], ["p"]],
        lambda s: {"a": 1, "b": 1, "c": 1, "hot": _hot_files(s)},
    ),
    # c's lone file is left alone: packing needs two files per value
    "small_file_bytes": (
        "parted",
        {"small_file_bytes": 1 << 30},
        [["p"]],
        {"a": 1, "b": 1, "hot": 1},
    ),
    # nothing is small; only the 60%-masked file is rewritten
    "mask_fraction": (
        "flat",
        {"small_file_bytes": 1, "mask_fraction": 0.5},
        [[]],
        {None: 1},
    ),
}


@pytest.mark.parametrize("mode", list(CASES))
def test_optimize_job_shape_per_mode(spark, tables, tmp_path, monkeypatch, mode):
    table, kwargs, want_jobs, want_files = CASES[mode]
    root = str(tmp_path / table)
    shutil.copytree(tables[table], root)
    before = _rows(txlog.read_table(spark, root))
    snap0 = txlog.load_snapshot(root)
    if callable(kwargs):
        kwargs = kwargs(snap0)
    if callable(want_files):
        want_files = want_files(snap0)

    jobs = []
    stage_adds = txlog._stage_adds

    def counting(spark, df, root, schema, partition_by=None, op=None):
        jobs.append(list(partition_by or []))
        return stage_adds(spark, df, root, schema, partition_by, op)

    monkeypatch.setattr(txlog, "_stage_adds", counting)
    rep = txlog.optimize(spark, root, **kwargs)
    assert not rep.get("skipped")
    assert jobs == want_jobs

    snap1 = txlog.load_snapshot(root)
    per_value = {}
    for rel, e in snap1.files.items():
        if rel in snap0.files:
            continue
        value = (e.get("partition") or {}).get("p")
        per_value[value] = per_value.get(value, 0) + 1
        if value is not None:
            assert f"p={value}" in rel.split("/")
    assert per_value == want_files
    assert _rows(txlog.read_table(spark, root)) == before
