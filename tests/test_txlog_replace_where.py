"""replaceWhere scoped overwrite (r8, VERDICT r7 'what's missing' #3):
one atomic commit deletes every row matching the predicate and inserts
the new batch. Pinned here:

- untouched partitions never move (same path AND same mtime);
- stats/partition-proven all-match files drop metadata-only;
- boundary (may-match) files rewrite only surviving rows;
- a batch with rows outside the scope raises before anything commits,
  and its aborted staging write leaves no file behind;
- re-running the same backfill converges (idempotent);
- time travel below the replace still sees the old partition.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.sinks import txlog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _df(spark, rows, schema="k int, p string"):
    return spark.createDataFrame(rows, schema).coalesce(1)


def _mtimes(root):
    snap = txlog.load_snapshot(root)
    return {
        rel: os.path.getmtime(os.path.join(root, rel))
        for rel in snap.files
    }


def test_replace_partition_untouched_files_never_move(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(
        spark,
        _df(spark, [(1, "a"), (2, "a")]),
        root,
        partition_by=["p"],
    )
    txlog.append(
        spark, _df(spark, [(3, "b"), (4, "c")]), root, partition_by=["p"]
    )
    mt0 = _mtimes(root)
    res = txlog.replace_where(
        spark,
        _df(spark, [(10, "a"), (11, "a"), (12, "a")]),
        root,
        [("p", "==", "a")],
        partition_by=["p"],
    )
    assert res["rows_deleted"] == 2 and res["files_dropped"] == 1
    assert res["files_rewritten"] == 0  # partition-proven, no boundary
    got = txlog.read_table(spark, root)
    assert _rows(got) == [(3, "b"), (4, "c"), (10, "a"), (11, "a"), (12, "a")]
    # every surviving pre-replace file is bit-identical in place
    mt1 = _mtimes(root)
    for rel, t in mt0.items():
        if rel in mt1:
            assert mt1[rel] == t, f"{rel} was rewritten"
    # the b/c file survived (it was one file holding both partitions? no:
    # partition_by writes one file per value — both b and c files remain)
    survivors = set(mt0) & set(mt1)
    assert len(survivors) == 2


def test_replace_where_boundary_rewrite(spark, tmp_path):
    """Files NOT provably all-match are read once and surviving rows
    rewritten — a flat (unpartitioned) table replaced on a value range."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "old") for i in range(10)], "k int, v string"
    ).coalesce(1)
    txlog.append(spark, df, root)  # one file spanning k=0..9
    res = txlog.replace_where(
        spark,
        spark.createDataFrame([(7, "new"), (8, "new")], "k int, v string"),
        root,
        [("k", ">=", 7)],
    )
    assert res["files_rewritten"] == 1 and res["files_dropped"] == 0
    assert res["rows_deleted"] == 3  # k=7,8,9
    got = txlog.read_table(spark, root)
    assert _rows(got) == [(i, "old") for i in range(7)] + [
        (7, "new"), (8, "new")
    ]


def test_replace_where_rejects_out_of_scope_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _df(spark, [(1, "a")]), root, partition_by=["p"])
    v0 = txlog.load_snapshot(root).version
    with pytest.raises(ValueError, match="do NOT satisfy"):
        txlog.replace_where(
            spark,
            _df(spark, [(2, "a"), (3, "b")]),  # (3,"b") is out of scope
            root,
            [("p", "==", "a")],
        )
    # NULL predicate rows are out of scope too (tri-valued logic)
    with pytest.raises(ValueError, match="do NOT satisfy"):
        txlog.replace_where(
            spark, _df(spark, [(2, None)]), root, [("p", "==", "a")]
        )
    assert txlog.load_snapshot(root).version == v0  # nothing committed


def test_out_of_scope_replace_where_leaves_no_files(spark, tmp_path):
    """The scope is checked in the batch's staging write: the aborted
    write commits nothing and leaves neither a staging directory under
    the root nor a part file under ``data/``."""
    root = str(tmp_path / "t")
    txlog.append(spark, _df(spark, [(1, "a"), (2, "b")]), root)

    def listing():
        return sorted(os.listdir(root)), sorted(
            os.listdir(os.path.join(root, txlog.DATA_DIR))
        )

    before, v0 = listing(), txlog.load_snapshot(root).version
    with pytest.raises(ValueError, match="do NOT satisfy"):
        txlog.replace_where(
            spark, _df(spark, [(3, "a"), (4, "b")]), root, [("p", "==", "a")]
        )
    assert listing() == before
    assert txlog.load_snapshot(root).version == v0


def test_replace_where_idempotent_rerun_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(
        spark, _df(spark, [(1, "a"), (2, "b")]), root, partition_by=["p"]
    )  # v1
    batch = _df(spark, [(10, "a")])
    txlog.replace_where(spark, batch, root, [("p", "==", "a")],
                        partition_by=["p"])  # v2
    txlog.replace_where(spark, batch, root, [("p", "==", "a")],
                        partition_by=["p"])  # v3: re-run converges
    got = txlog.read_table(spark, root)
    assert _rows(got) == [(2, "b"), (10, "a")]
    # below the replace the old partition content is intact
    v1 = txlog.read_table(spark, root, version=1)
    assert _rows(v1) == [(1, "a"), (2, "b")]
    assert txlog.history(root)[-1]["op"] == "replace_where"


def test_replace_where_bootstrap_creates_table(spark, tmp_path):
    root = str(tmp_path / "t")
    res = txlog.replace_where(
        spark, _df(spark, [(1, "a")]), root, [("p", "==", "a")]
    )
    assert res["rows_deleted"] == 0
    assert _rows(txlog.read_table(spark, root)) == [(1, "a")]


def test_replace_where_conflicts_with_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """A concurrent append landing a may-match file between plan and
    claim forces a replan — the new file's matching rows must be
    deleted too, or the 'replace' silently keeps them."""
    root = str(tmp_path / "t")
    txlog.append(spark, _df(spark, [(1, "a"), (2, "b")]), root,
                 partition_by=["p"])

    real_claim = txlog._try_claim
    fired = {}

    def claim_with_race(r, version, payload):
        if not fired and payload.get("op") == "replace_where":
            fired["x"] = True
            txlog.append(spark, _df(spark, [(5, "a")]), root,
                         partition_by=["p"])
            return False
        return real_claim(r, version, payload)

    monkeypatch.setattr(txlog, "_try_claim", claim_with_race)
    txlog.replace_where(
        spark, _df(spark, [(10, "a")]), root, [("p", "==", "a")],
        partition_by=["p"],
    )
    monkeypatch.undo()
    got = txlog.read_table(spark, root)
    # the concurrently-appended (5,"a") was inside the replaced scope:
    # the replan deleted it — the table converges to batch ∪ out-of-scope
    assert _rows(got) == [(2, "b"), (10, "a")]
