"""Row-level UPDATE (sinks/txlog.py:update — r8): SET expressions over
matching rows as one atomic commit, with a rewrite lane and a
deletion-vector lane (mask old row versions + append only the updated
rows — the Delta DV-update shape). Pinned here:

- both lanes produce identical results; stats-proven no-match files
  are never opened;
- DV lane: untouched data files keep their mtimes, a boundary-file
  update writes O(updated rows), time travel below reads pre-update
  values, and read_row_changes sees the delete+insert pair;
- rows already masked by an earlier delete can never be matched and
  resurrected by a later update;
- predicate columns may themselves be SET (match set decided against
  pre-update values once);
- SET on a partition column of partitioned files raises (the row would
  have to move directories);
- NULL-predicate rows are untouched; unknown SET columns raise;
- a concurrent commit that swaps a touched entry forces a replan
  (entry identity);
- the Spark jobs each row-level DML lane runs (delete, update and
  replace_where share one plan), and that a no-match plan leaves no
  staged file or sidecar behind.
"""

from __future__ import annotations

import os

import pytest

from metadata_driven_data_pipeline_spark.sinks import txlog

from conftest import count_jobs, in_job_group


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, root, n_files=3, rows_per_file=100):
    df = spark.range(0, n_files * rows_per_file).selectExpr(
        "id", "cast(id as double) as v"
    )
    for i in range(n_files):
        txlog.append(
            spark,
            df.filter(
                f"id >= {i * rows_per_file} and id < {(i + 1) * rows_per_file}"
            ).repartition(1),
            root,
        )


def test_update_lanes_agree_and_skip_unmatched_files(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    _mk(spark, ra)
    _mk(spark, rb)
    where = [("id", ">=", 150), ("id", "<", 160)]
    res_dv = txlog.update(
        spark, ra, where, {"v": "v * 2"}, deletion_vectors=True
    )
    res_rw = txlog.update(spark, rb, where, {"v": "v * 2"})
    assert res_dv["rows_updated"] == res_rw["rows_updated"] == 10
    assert res_dv["files_rewritten"] == 0 and res_dv["files_masked"] == 1
    assert res_rw["files_rewritten"] == 1  # only the may-match file
    assert _rows(txlog.read_table(spark, ra)) == _rows(
        txlog.read_table(spark, rb)
    )


def test_dv_update_writes_only_updated_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    mt0 = {
        p: os.path.getmtime(os.path.join(root, p))
        for p in txlog.load_snapshot(root).files
    }
    res = txlog.update(
        spark,
        root,
        [("id", ">=", 50), ("id", "<", 55)],
        {"v": "v + 0.5"},
        deletion_vectors=True,
    )
    assert res["rows_updated"] == 5
    assert res["rows_written"] == 5  # only the updated rows were written
    snap = txlog.load_snapshot(root)
    # every pre-existing file byte-identical; new files carry ONLY the
    # 5 updated rows
    for p, mt in mt0.items():
        assert p in snap.files
        assert os.path.getmtime(os.path.join(root, p)) == mt
    new_files = [e for p, e in snap.files.items() if p not in mt0]
    assert sum(e["rows"] for e in new_files) == 5
    out = txlog.read_table(spark, root)
    assert out.count() == 300
    assert _rows(out.filter("id = 52").select("v")) == [(52.5,)]
    # time travel below the update reads pre-update values
    assert _rows(
        txlog.read_table(spark, root, version=3)
        .filter("id = 52")
        .select("v")
    ) == [(52.0,)]
    # CDC: the update is its delete+insert pair
    cdc = txlog.read_row_changes(spark, root, 3)
    assert cdc.filter("_change_type='delete'").count() == 5
    assert _rows(
        cdc.filter("_change_type='insert' and id = 52").select("v")
    ) == [(52.5,)]


def test_update_never_resurrects_masked_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    txlog.delete(spark, root, [("id", "==", 60)], deletion_vectors=True)
    res = txlog.update(
        spark,
        root,
        [("id", ">=", 58), ("id", "<", 63)],
        {"v": "v + 1000"},
        deletion_vectors=True,
    )
    assert res["rows_updated"] == 4  # 58, 59, 61, 62 — never 60
    out = txlog.read_table(spark, root)
    assert out.count() == 299
    assert out.filter("id = 60").count() == 0
    assert out.filter("v >= 1000").count() == 4


def test_update_predicate_column_settable(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root, n_files=1)
    # SET the predicate column INTO the predicate range: the match set
    # is decided once against pre-update values, so no re-matching loop
    res = txlog.update(
        spark, root, [("v", "<", 10.0)], {"v": "v + 5"},
        deletion_vectors=True,
    )
    assert res["rows_updated"] == 10
    out = txlog.read_table(spark, root)
    # 0..9 became 5..14; original 5..9 exist twice now in value space
    assert out.filter("v < 5").count() == 0
    assert out.filter("v >= 5 and v < 10").count() == 5


def test_update_null_rows_untouched_and_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 50.0)], "id int, v double"
        ).coalesce(1),
        root,
    )
    res = txlog.update(spark, root, [("v", ">=", 0.0)], {"v": "v * 10"})
    assert res["rows_updated"] == 2
    assert _rows(txlog.read_table(spark, root)) == [
        (1, 50.0),
        (2, None),
        (3, 500.0),
    ]
    with pytest.raises(ValueError, match="not in table schema"):
        txlog.update(spark, root, [("id", "==", 1)], {"nope": "1"})
    with pytest.raises(ValueError, match="requires a predicate"):
        txlog.update(spark, root, [], {"v": "1"})


def test_update_partition_column_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, p string"),
        root,
        partition_by=["p"],
    )
    with pytest.raises(ValueError, match="partition column"):
        txlog.update(spark, root, [("k", "==", 1)], {"p": "'z'"})


def test_update_replans_on_concurrent_entry_swap(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)

    class RaceOnce:
        def __init__(self, inner):
            self.inner = inner
            self.fired = False

        def put_if_absent(self, target, payload):
            if not self.fired and payload.get("op") == "update":
                self.fired = True
                txlog.delete(
                    spark, root, [("id", "==", 52)],
                    deletion_vectors=True,
                )
            return self.inner.put_if_absent(target, payload)

        def delete_if_exists(self, target):
            return self.inner.delete_if_exists(target)

    prev = txlog.set_claim_backend(RaceOnce(txlog.LocalFSClaimBackend()))
    try:
        res = txlog.update(
            spark,
            root,
            [("id", ">=", 50), ("id", "<", 55)],
            {"v": "v * 2"},
            deletion_vectors=True,
        )
    finally:
        txlog.set_claim_backend(prev)
    # the replan re-matched against the post-delete snapshot: 52 gone
    assert res["rows_updated"] == 4
    out = txlog.read_table(spark, root)
    assert out.count() == 299
    assert out.filter("id = 52").count() == 0
    got = sorted(r["v"] for r in out.filter("id >= 50 and id < 55").collect())
    assert got == [100.0, 102.0, 106.0, 108.0]


_MATCH = [("id", ">=", 150), ("id", "<", 160)]
_NO_MATCH = [("id", "==", 150.5)]  # inside file 2's [min, max], no row


@pytest.mark.parametrize(
    "op, dv, where, was, jobs",
    [
        ("delete", False, _MATCH, 1, 1),
        ("delete", False, _NO_MATCH, 1, 1),
        ("delete", True, _MATCH, 4, 4),
        ("delete", True, _NO_MATCH, 3, 2),
        ("update", False, _MATCH, 3, 1),
        ("update", False, _NO_MATCH, 2, 1),
        ("update", True, _MATCH, 5, 5),
        ("update", True, _NO_MATCH, 4, 2),
        ("replace_where", False, _MATCH, 3, 2),
    ],
)
def test_row_dml_job_count_per_lane(spark, tmp_path, op, dv, where, was, jobs):
    """Spark jobs per row-level DML lane on the 3-file, 300-row ``_mk``
    table, counted by job group. ``was`` is the count under this
    fixture before delete, update and replace_where shared one plan:
    delete rewrite 1 (no match 1), delete DV 4 (3), update rewrite 3
    (2), update DV 5 (4), replace_where 3. Update's rewrite lane now
    counts its matches with an observe() on its one write instead of a
    separate count(). The DV lanes skip their per-file count read when
    an observe() on the sidecar write shows no new position, and
    replace_where checks its scope in its staging write instead of in a
    job of its own. A plan that matches no live row is a skipped no-op
    that leaves neither a staged data file nor a deletion-vector sidecar
    behind (the DV lanes used to leave a sidecar, and a rewrite-lane
    delete committed an unchanged copy of the file)."""
    root = str(tmp_path / "t")
    _mk(spark, root)

    def listing():
        return {
            d: sorted(os.listdir(os.path.join(root, d)))
            if os.path.isdir(os.path.join(root, d))
            else []
            for d in ("data", "_dv")
        }

    before = listing()
    call = {
        "delete": lambda: txlog.delete(spark, root, where, deletion_vectors=dv),
        "update": lambda: txlog.update(
            spark, root, where, {"v": "v * 2"}, deletion_vectors=dv
        ),
        "replace_where": lambda: txlog.replace_where(
            spark,
            spark.range(150, 160).selectExpr("id", "cast(id * 3 as double) as v").coalesce(1),
            root,
            where,
        ),
    }[op]
    res, n = count_jobs(spark, call)
    assert n == jobs <= was
    rows = res["rows_updated" if op == "update" else "rows_deleted"]
    if where is _MATCH:
        assert rows == 10 and not res["skipped"]
    else:
        assert rows == 0 and res["skipped"] and res["version"] == 3
        assert listing() == before


def test_dv_update_reads_its_boundary_file_once(spark, tmp_path):
    """A deletion-vector update writes its matched rows twice, as the SET
    rows and as the sidecar. They are cached, so ten matched rows of a
    1,000-row file cost one scan of the file: the stages of the
    update's job group read about 1,000 records (about 2,000 before the
    cache), in the same 5 Spark jobs."""
    root = str(tmp_path / "t")
    _mk(spark, root, n_files=1, rows_per_file=1000)
    where = [("id", ">=", 100), ("id", "<", 110)]
    res, group = in_job_group(
        spark,
        lambda: txlog.update(
            spark, root, where, {"v": "v * 2"}, deletion_vectors=True
        ),
    )
    sc = spark.sparkContext
    # stage metrics reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    records = sum(store.lastStageAttempt(s).inputRecords() for s in stages)
    assert res["rows_updated"] == 10 and len(jobs) == 5
    assert 1000 <= records < 1100, records
    assert _rows(txlog.read_table(spark, root).filter("id in (99, 100, 109)")) == [
        (99, 99.0), (100, 200.0), (109, 218.0)
    ]
