"""Deletion vectors (r8, VERDICT r7 'what's missing' #2): point DELETEs
mask rows in a parquet sidecar instead of rewriting data files. Pinned
here:

- deleting a handful of rows from a multi-file table rewrites ZERO data
  files (same paths AND same mtimes), yet every read lane — JVM legs,
  scan, Python DataSource batch/CDF — excludes the masked rows;
- results are IDENTICAL to rewrite-mode delete (the mask is a pure
  physical optimization);
- time travel below the delete reads the files unmasked;
- a second delete on the same file CONSOLIDATES (old ∪ new positions in
  one new sidecar) and vacuum reclaims the superseded sidecar while
  keeping the referenced one;
- a file whose mask reaches every physical row is dropped outright;
- NULL-predicate rows are kept (tri-valued DELETE semantics);
- OPTIMIZE folds masks into the rewritten files and a concurrent DV
  delete forces optimize to replan (entry identity, not path presence —
  a same-path entry swap must not let the compacted copy resurrect
  masked rows);
- restore below the delete un-masks; restore after the sidecar was
  vacuumed raises instead of committing a dangling reference;
- column rename (metadata-only) leaves masks valid — positions are
  keyed by file path, not by column names.

Reference parity: the reference engine has no table format at all
(plain JSON/parquet on MinIO, ``pipeline/sink.py``); this tier and its
DV shape follow the public Delta Lake deletion-vector design.
"""

from __future__ import annotations

import glob
import os

import pytest

from metadata_driven_data_pipeline_spark.sinks import txlog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mtimes(root):
    snap = txlog.load_snapshot(root)
    return {
        rel: os.path.getmtime(os.path.join(root, rel))
        for rel in snap.files
    }


def _mk(spark, root, n_files=3, rows_per_file=100):
    for i in range(n_files):
        txlog.append(
            spark,
            spark.range(i * rows_per_file, (i + 1) * rows_per_file)
            .selectExpr("id", "id % 3 as k")
            .coalesce(1),
            root,
        )


def test_dv_delete_rewrites_zero_data_files(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    mt0 = _mtimes(root)
    res = txlog.delete(
        spark, root, [("id", ">=", 50), ("id", "<", 55)],
        deletion_vectors=True,
    )
    assert res["rows_deleted"] == 5
    assert res["files_rewritten"] == 0 and res["files_dropped"] == 0
    assert res["files_masked"] == 1
    assert res["rows_written"] == 0  # the swapped entry is not a write
    mt1 = _mtimes(root)
    assert set(mt1) == set(mt0), "data file set changed"
    assert all(mt1[p] == mt0[p] for p in mt0), "a data file was rewritten"
    out = txlog.read_table(spark, root)
    assert out.count() == 295
    assert out.filter("id >= 50 and id < 55").count() == 0


def test_dv_matches_rewrite_mode_results(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    _mk(spark, ra)
    _mk(spark, rb)
    where = [("id", ">=", 42), ("id", "<", 260)]
    res_dv = txlog.delete(spark, ra, where, deletion_vectors=True)
    res_rw = txlog.delete(spark, rb, where)
    assert res_dv["rows_deleted"] == res_rw["rows_deleted"] == 218
    # the fully-covered middle file drops metadata-only in BOTH modes
    assert res_dv["files_dropped"] == res_rw["files_dropped"] == 1
    assert _rows(txlog.read_table(spark, ra)) == _rows(
        txlog.read_table(spark, rb)
    )


def test_dv_time_travel_below_delete_reads_unmasked(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    txlog.delete(
        spark, root, [("id", "==", 7)], deletion_vectors=True
    )
    assert txlog.read_table(spark, root).count() == 299
    assert txlog.read_table(spark, root, version=3).count() == 300
    assert (
        txlog.read_table(spark, root, version=3)
        .filter("id == 7")
        .count()
        == 1
    )


def test_dv_consolidation_and_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    txlog.delete(
        spark, root, [("id", ">=", 10), ("id", "<", 15)],
        deletion_vectors=True,
    )
    txlog.delete(
        spark, root, [("id", ">=", 20), ("id", "<", 25)],
        deletion_vectors=True,
    )
    assert len(glob.glob(root + "/_dv/dv-*")) == 2
    out = txlog.read_table(spark, root)
    assert out.count() == 290
    assert out.filter("(id >= 10 and id < 15) or (id >= 20 and id < 25)").count() == 0
    # entry references ONE consolidated sidecar carrying all 10 positions
    snap = txlog.load_snapshot(root)
    dvs = [e["dv"] for e in snap.files.values() if e.get("dv")]
    assert len(dvs) == 1 and dvs[0]["rows"] == 10
    # horizon=1: the superseded sidecar is reclaimed, the referenced kept
    txlog.vacuum(root, keep_versions=1, min_age_seconds=0)
    kept = glob.glob(root + "/_dv/dv-*")
    assert [os.path.relpath(p, root) for p in kept] == [dvs[0]["path"]]
    assert txlog.read_table(spark, root).count() == 290


def test_dv_fully_masked_file_drops(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    # stats say may-match for the boundary file (50..99 overlap), but
    # the predicate actually covers every row of the middle file too —
    # mask the first file's tail, DROP the middle file outright
    res = txlog.delete(
        spark, root, [("id", ">=", 50), ("id", "<", 200)],
        deletion_vectors=True,
    )
    assert res["rows_deleted"] == 150
    assert res["files_dropped"] == 1  # 100..199: stats-proven all-match
    assert res["files_masked"] == 1
    assert txlog.read_table(spark, root).count() == 150
    # mask a file to completion: drop, don't keep an all-masked husk
    res2 = txlog.delete(
        spark, root, [("id", ">=", 0), ("id", "<", 50)],
        deletion_vectors=True,
    )
    snap = txlog.load_snapshot(root)
    assert res2["rows_deleted"] == 50
    assert len(snap.files) == 1
    assert not any(e.get("dv") for e in snap.files.values())


def test_dv_null_rows_kept(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 50.0)], "id int, v double"
        ).coalesce(1),
        root,
    )
    # widen stats so the file is may-match, not all-match
    res = txlog.delete(
        spark, root, [("v", ">=", 0.0)], deletion_vectors=True
    )
    assert res["rows_deleted"] == 2
    assert _rows(txlog.read_table(spark, root)) == [(2, None)]


def test_dv_datasource_batch_and_cdf(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    txlog.delete(
        spark, root, [("id", ">=", 50), ("id", "<", 55)],
        deletion_vectors=True,
    )
    ds = spark.read.format("txlog").load(root)
    assert ds.count() == 295
    assert ds.filter("id >= 50 and id < 55").count() == 0
    # CDF default mode: the delete commit re-emits the file's LIVE rows
    cdf = spark.read.format("txlog").option("sinceVersion", 3).load(root)
    assert cdf.count() == 95
    # skipChangeCommits: a DV delete removes (entry swap) → skipped
    none = (
        spark.read.format("txlog")
        .option("sinceVersion", 3)
        .option("skipChangeCommits", "true")
        .load(root)
    )
    assert none.count() == 0
    # JVM change feed agrees
    assert txlog.read_changes(spark, root, since_version=3).count() == 95


def test_dv_partitioned_table(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame(
            [(i, "a" if i < 50 else "b") for i in range(100)],
            "id int, p string",
        ),
        root,
        partition_by=["p"],
    )
    mt0 = _mtimes(root)
    res = txlog.delete(
        spark, root, [("id", ">=", 10), ("id", "<", 12)],
        deletion_vectors=True,
    )
    assert res["rows_deleted"] == 2 and res["files_rewritten"] == 0
    mt1 = _mtimes(root)
    assert all(mt1[p] == mt0[p] for p in mt1 if p in mt0)
    out = txlog.read_table(spark, root)
    assert out.count() == 98
    assert _rows(out.filter("p = 'a'").selectExpr("count(1)")) == [(48,)]
    # partition predicate still prunes via scan stats after the mask
    df, rep = txlog.scan(spark, root, [("p", "==", "b")])
    assert rep["files_scanned"] < rep["files_total"]
    assert df.count() == 50


def test_dv_optimize_folds_mask_and_replans_on_race(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    txlog.delete(
        spark, root, [("id", "==", 5)], deletion_vectors=True
    )
    txlog.optimize(spark, root)
    snap = txlog.load_snapshot(root)
    assert not any(e.get("dv") for e in snap.files.values())
    out = txlog.read_table(spark, root)
    assert out.count() == 299 and out.filter("id == 5").count() == 0

    # race: a DV delete lands between optimize's plan and its claim —
    # the same-path ENTRY SWAP must conflict optimize into a replan,
    # or the compacted copy resurrects the masked rows
    class RaceOnce:
        def __init__(self, inner):
            self.inner = inner
            self.fired = False

        def put_if_absent(self, target, payload):
            if not self.fired and payload.get("op") == "optimize":
                self.fired = True
                txlog.delete(
                    spark, root, [("id", "==", 17)],
                    deletion_vectors=True,
                )
            return self.inner.put_if_absent(target, payload)

        def delete_if_exists(self, target):
            return self.inner.delete_if_exists(target)

    prev = txlog.set_claim_backend(RaceOnce(txlog.LocalFSClaimBackend()))
    try:
        txlog.optimize(spark, root)
    finally:
        txlog.set_claim_backend(prev)
    out = txlog.read_table(spark, root)
    assert out.count() == 298
    assert out.filter("id in (5, 17)").count() == 0


def test_dv_restore_unmasks_and_guards_vacuumed_sidecar(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root)
    txlog.delete(
        spark, root, [("id", "==", 42)], deletion_vectors=True
    )  # v4
    txlog.restore(spark, root, 3)  # back below the delete
    out = txlog.read_table(spark, root)
    assert out.count() == 300 and out.filter("id == 42").count() == 1
    # forward again: restore to the masked snapshot re-applies the mask
    txlog.restore(spark, root, 4)
    assert txlog.read_table(spark, root).count() == 299
    # vacuum the sidecar out from under a pre-delete target: restoring
    # TO the masked version must raise once its sidecar is gone
    txlog.restore(spark, root, 3)
    txlog.vacuum(root, keep_versions=1, min_age_seconds=0)
    assert not glob.glob(root + "/_dv/dv-*")
    with pytest.raises(ValueError, match="deletion-vector sidecar"):
        txlog.restore(spark, root, 4)


def test_dv_survives_column_rename(spark, tmp_path):
    root = str(tmp_path / "t")
    _mk(spark, root, n_files=1)
    txlog.delete(
        spark, root, [("id", "==", 3)], deletion_vectors=True
    )
    txlog.rename_column(root, "id", "ident")
    out = txlog.read_table(spark, root)
    assert out.columns == ["ident", "k"]
    assert out.count() == 99 and out.filter("ident == 3").count() == 0
    # and a delete over the RENAMED column masks through the mapping
    txlog.delete(
        spark, root, [("ident", "==", 4)], deletion_vectors=True
    )
    assert txlog.read_table(spark, root).count() == 98
