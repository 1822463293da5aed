"""Transaction-log table format (sinks/txlog.py): ACID commits, snapshot
isolation, time travel, stats-pruned scans, file-pruned MERGE, atomic
OPTIMIZE, vacuum retention, exactly-once txn appends, concurrency."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.sinks import txlog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, pairs):
    # one partition → one data file per commit (deterministic file counts)
    return spark.createDataFrame(pairs, "k int, v string").coalesce(1)


def test_append_read_roundtrip_and_accumulate(spark, tmp_path):
    root = str(tmp_path / "t")
    r1 = txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)
    assert r1["version"] == 1 and r1["rows_written"] == 2
    r2 = txlog.append(spark, _mk(spark, [(3, "c")]), root)
    assert r2["version"] == 2
    got = _rows(txlog.read_table(spark, root))
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_time_travel_and_history(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.append(spark, _mk(spark, [(2, "b")]), root)
    txlog.overwrite(spark, _mk(spark, [(9, "z")]), root)
    assert _rows(txlog.read_table(spark, root, version=1)) == [(1, "a")]
    assert _rows(txlog.read_table(spark, root, version=2)) == [
        (1, "a"),
        (2, "b"),
    ]
    assert _rows(txlog.read_table(spark, root)) == [(9, "z")]
    hist = txlog.history(root)
    assert [h["op"] for h in hist] == ["append", "append", "overwrite"]
    assert hist[2]["files_removed"] >= 1


def test_snapshot_isolation_under_overwrite(spark, tmp_path):
    """A reader's pinned snapshot keeps reading its own (immutable) files
    even after a concurrent overwrite commits — until vacuum reclaims."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)
    snap = txlog.load_snapshot(root)
    df = snap.read(spark)
    txlog.overwrite(spark, _mk(spark, [(7, "new")]), root)
    assert _rows(df) == [(1, "a"), (2, "b")]  # old files still on disk
    assert _rows(txlog.read_table(spark, root)) == [(7, "new")]


def test_schema_mismatch_append_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    bad = spark.createDataFrame([(1, "a", 2.0)], "k int, v string, x double")
    with pytest.raises(ValueError, match="schema mismatch"):
        txlog.append(spark, bad, root)


def test_merge_upserts_and_prunes_files(spark, tmp_path):
    """MERGE rewrites ONLY files whose key range overlaps the batch;
    update rows win order ties; unmatched keys append."""
    root = str(tmp_path / "t")
    low = spark.createDataFrame(
        [(i, "old", 1) for i in range(0, 50)], "k int, v string, seq int"
    ).coalesce(1)
    high = spark.createDataFrame(
        [(i, "old", 1) for i in range(1000, 1050)], "k int, v string, seq int"
    ).coalesce(1)
    txlog.append(spark, low, root)
    txlog.append(spark, high, root)

    # batch key range [5, 2000] spans both files — both get rewritten
    updates = spark.createDataFrame(
        [(5, "upd", 1), (2000, "ins", 1)], "k int, v string, seq int"
    )
    res = txlog.merge(spark, updates, root, ["k"], "seq")
    assert res["version"] == 3

    got = dict(
        (r["k"], r["v"]) for r in txlog.read_table(spark, root).collect()
    )
    assert got[5] == "upd"  # same seq → update wins the tie
    assert got[2000] == "ins"
    assert got[6] == "old" and got[1000] == "old"
    assert len(got) == 101


def test_merge_file_pruning_skips_disjoint_files(spark, tmp_path):
    root = str(tmp_path / "t")
    low = spark.createDataFrame(
        [(i, "old", 1) for i in range(0, 50)], "k int, v string, seq int"
    ).coalesce(1)
    high = spark.createDataFrame(
        [(i, "old", 1) for i in range(1000, 1050)], "k int, v string, seq int"
    ).coalesce(1)
    txlog.append(spark, low, root)
    txlog.append(spark, high, root)
    high_files = {
        p
        for p, e in txlog.load_snapshot(root).files.items()
        if e["stats"]["k"]["min"] >= 1000
    }
    updates = spark.createDataFrame(
        [(5, "upd", 2), (7, "upd", 2)], "k int, v string, seq int"
    )
    res = txlog.merge(spark, updates, root, ["k"], "seq")
    assert res["files_rewritten"] == 1  # only the low file
    snap = txlog.load_snapshot(root)
    assert high_files <= set(snap.files)  # untouched file survives as-is
    got = dict(
        (r["k"], r["v"]) for r in txlog.read_table(spark, root).collect()
    )
    assert got[5] == "upd" and got[7] == "upd" and got[1049] == "old"


def test_merge_bootstrap_creates_table(spark, tmp_path):
    root = str(tmp_path / "t")
    updates = spark.createDataFrame(
        [(1, "a", 2), (1, "b", 1)], "k int, v string, seq int"
    )
    txlog.merge(spark, updates, root, ["k"], "seq")
    assert _rows(txlog.read_table(spark, root)) == [(1, "a", 2)]


def test_scan_skips_files_by_stats(spark, tmp_path):
    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        txlog.append(
            spark,
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 100)], "k int, v string"
            ).coalesce(1),
            root,
        )
    df, rep = txlog.scan(spark, root, where=[("k", "==", 250)])
    assert rep["files_total"] == 4 and rep["files_scanned"] == 1
    assert rep["rows_skipped"] == 300
    assert _rows(df) == [(250, "v250")]
    # range + in predicates, still correct vs a plain filter
    df2, rep2 = txlog.scan(spark, root, where=[("k", ">=", 350)])
    assert rep2["files_scanned"] == 1
    assert df2.count() == 50
    df3, rep3 = txlog.scan(spark, root, where=[("k", "in", [10, 310])])
    assert rep3["files_scanned"] == 2 and df3.count() == 2


def test_scan_prunes_all_null_file_keeps_missing_stats(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(None, "x"), (None, "y")], "k int, v string"),
        root,
    )
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    df, rep = txlog.scan(spark, root, where=[("k", ">=", 0)])
    assert rep["files_scanned"] < rep["files_total"]  # all-NULL file pruned
    assert _rows(df) == [(1, "a")]
    # a file entry stripped of stats must be kept (conservative)
    snap = txlog.load_snapshot(root)
    rel = next(iter(snap.files))
    entry = dict(snap.files[rel])
    entry["stats"] = {}
    assert txlog._file_may_match(entry, "k", "==", 123)


def test_optimize_compacts_atomically(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(6):
        txlog.append(spark, _mk(spark, [(i, f"v{i}")]), root)
    before = txlog.load_snapshot(root)
    assert len(before.files) == 6
    res = txlog.optimize(spark, root, target_bytes=1 << 30)
    snap = txlog.load_snapshot(root)
    assert len(snap.files) == 1 and res["files_before"] == 6
    assert _rows(txlog.read_table(spark, root)) == [
        (i, f"v{i}") for i in range(6)
    ]
    # pre-optimize snapshot still readable (files immutable until vacuum)
    assert len(_rows(before.read(spark))) == 6


def test_optimize_zorder_tightens_scan(spark, tmp_path):
    root = str(tmp_path / "t")
    import random

    rng = random.Random(7)
    rows = [(rng.randrange(1000), rng.randrange(1000)) for _ in range(4000)]
    df = spark.createDataFrame(rows, "x int, y int").repartition(8)
    txlog.append(spark, df, root)
    _, rep0 = txlog.scan(spark, root, where=[("x", "<=", 60)])
    assert rep0["files_scanned"] == rep0["files_total"]  # random layout: no pruning
    txlog.optimize(spark, root, target_bytes=8_000, zorder_by=["x", "y"])
    dfz, repz = txlog.scan(spark, root, where=[("x", "<=", 60)])
    assert repz["files_total"] > 2
    assert repz["files_scanned"] < repz["files_total"]
    assert dfz.count() == sum(1 for x, _ in rows if x <= 60)


def test_vacuum_reclaims_outside_retention(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.overwrite(spark, _mk(spark, [(2, "b")]), root)
    txlog.overwrite(spark, _mk(spark, [(3, "c")]), root)
    old = txlog.load_snapshot(root, version=1)
    res = txlog.vacuum(root, keep_versions=2, min_age_seconds=0)
    assert res["deleted"] == 1  # v1's file gone; v2 retained, v3 live
    assert _rows(txlog.read_table(spark, root, version=2)) == [(2, "b")]
    assert _rows(txlog.read_table(spark, root)) == [(3, "c")]
    assert not all(os.path.exists(p) for p in old.file_paths())


def test_txn_append_is_exactly_once(spark, tmp_path):
    root = str(tmp_path / "t")
    r1 = txlog.append(spark, _mk(spark, [(1, "a")]), root, txn=("app", 0))
    r2 = txlog.append(spark, _mk(spark, [(1, "a")]), root, txn=("app", 0))
    r3 = txlog.append(spark, _mk(spark, [(2, "b")]), root, txn=("app", 1))
    assert not r1["skipped"] and r2["skipped"] and not r3["skipped"]
    assert txlog.read_table(spark, root).count() == 2
    # a different app's watermark is independent
    r4 = txlog.append(spark, _mk(spark, [(3, "c")]), root, txn=("other", 0))
    assert not r4["skipped"]


def test_concurrent_appends_both_land(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(0, "seed")]), root)
    errs = []

    def work(tag):
        try:
            txlog.append(
                spark, _mk(spark, [(tag, f"w{tag}")]), root
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in (1, 2, 3, 4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert txlog.read_table(spark, root).count() == 5
    assert txlog.load_snapshot(root).version == 5  # distinct versions claimed


def test_reader_ignores_inflight_tmp_payloads(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    # a crashed writer's partial payload must be invisible to readers
    with open(os.path.join(root, txlog.LOG_DIR, ".tmp-crashed.json"), "w") as f:
        f.write('{"version": 99, "add"')  # truncated JSON
    assert _rows(txlog.read_table(spark, root)) == [(1, "a")]
    assert txlog.load_snapshot(root).version == 1


def test_checkpoint_written_and_equivalent(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(12):
        txlog.append(spark, _mk(spark, [(i, f"v{i}")]), root)
    cp = os.path.join(root, txlog.LOG_DIR, txlog._checkpoint_name(10))
    assert os.path.exists(cp)
    with open(cp) as f:
        payload = json.load(f)
    assert len(payload["add"]) == 10
    # snapshot folded from the checkpoint equals the full table
    assert txlog.read_table(spark, root).count() == 12
    assert txlog.read_table(spark, root, version=11).count() == 11


def test_change_data_feed(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.append(spark, _mk(spark, [(2, "b")]), root)
    txlog.append(spark, _mk(spark, [(3, "c")]), root)
    ch = txlog.read_changes(spark, root, since_version=1)
    got = sorted(
        (r["k"], r["_commit_version"], r["_commit_op"]) for r in ch.collect()
    )
    assert got == [(2, 2, "append"), (3, 3, "append")]
    empty = txlog.read_changes(spark, root, since_version=3)
    assert empty.count() == 0 and "_commit_version" in empty.columns


def test_empty_append_and_empty_table_read(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.overwrite(spark, _mk(spark, []), root)
    df = txlog.read_table(spark, root)
    assert df.count() == 0 and df.columns == ["k", "v"]
    with pytest.raises(ValueError, match="no commits"):
        txlog.read_table(spark, str(tmp_path / "missing"))


def test_write_sink_txlog_modes(spark, tmp_path):
    from metadata_driven_data_pipeline_spark.sinks.writer import write_sink

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k int, v string, seq int"
    )
    out = write_sink(base, {"path": root, "table": "txlog", "saveMode": "append"})
    assert out["records_written"] == 2 and out["table_version"] == 1
    upd = spark.createDataFrame([(2, "B", 2)], "k int, v string, seq int")
    out2 = write_sink(
        upd,
        {
            "path": root,
            "table": "txlog",
            "merge": {"keys": ["k"], "orderBy": "seq"},
        },
    )
    assert out2["table_version"] == 2
    got = dict((r["k"], r["v"]) for r in txlog.read_table(spark, root).collect())
    assert got == {1: "a", 2: "B"}


def test_streaming_txlog_sink_exactly_once_across_checkpoint_loss(
    spark, tmp_path
):
    """The txn watermark makes appends exactly-once even when the
    STREAMING checkpoint is lost (batch ids restart at 0 and the same
    input re-batches): replayed commits are no-ops."""
    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        run_txlog_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").coalesce(
        1
    ).write.mode("overwrite").json(str(src))
    root = str(tmp_path / "table")
    stream = (
        spark.readStream.schema("k int, v string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    run_txlog_sink(stream, str(tmp_path / "chk1"), root, app_id="ingest")
    assert txlog.read_table(spark, root).count() == 2
    # checkpoint loss: fresh checkpoint dir, same source, same app_id
    run_txlog_sink(stream, str(tmp_path / "chk2"), root, app_id="ingest")
    assert txlog.read_table(spark, root).count() == 2  # no duplicates
    snap = txlog.load_snapshot(root)
    assert snap.txns["ingest"] >= 0


def test_read_source_txlog_roundtrip(spark, tmp_path):
    """Declarative parity: a pipeline can WRITE a txlog table through the
    sink spec and READ it back through the source spec — with time
    travel and stats-pruned predicates — no code outside metadata."""
    from metadata_driven_data_pipeline_spark.sinks.writer import write_sink
    from metadata_driven_data_pipeline_spark.sources.reader import read_source

    root = str(tmp_path / "t")
    write_sink(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        {"path": root, "table": "txlog", "saveMode": "append"},
    )
    write_sink(
        spark.createDataFrame([(3, "c")], "k int, v string"),
        {"path": root, "table": "txlog", "saveMode": "append"},
    )
    res = read_source(spark, {"name": "t", "path": root, "table": "txlog"})
    assert res.status == "success" and res.df.count() == 3
    v1 = read_source(
        spark, {"name": "t", "path": root, "table": "txlog", "version": 1}
    )
    assert v1.df.count() == 2
    filt = read_source(
        spark,
        {"name": "t", "path": root, "table": "txlog", "where": [["k", ">=", 3]]},
    )
    assert [r["v"] for r in filt.df.collect()] == ["c"]
    # optional missing table → skipped, not raised
    miss = read_source(
        spark,
        {
            "name": "gone",
            "path": str(tmp_path / "missing"),
            "table": "txlog",
            "required": False,
        },
    )
    assert miss.status == "skipped"


# ------------------------------------------------------------- delete


def _mk_range(spark, lo, hi, v="x"):
    return spark.createDataFrame(
        [(i, v) for i in range(lo, hi)], "k int, v string"
    ).coalesce(1)


def test_delete_rewrites_only_boundary_files(spark, tmp_path):
    """Three clustered files [0,10) [10,20) [20,30); delete k<15: file 1
    is dropped by pure metadata (stats prove all-match), file 2 is
    rewritten, file 3 is never touched."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk_range(spark, 0, 10), root)
    txlog.append(spark, _mk_range(spark, 10, 20), root)
    txlog.append(spark, _mk_range(spark, 20, 30), root)
    rep = txlog.delete(spark, root, [("k", "<", 15)])
    assert rep["files_dropped"] == 1
    assert rep["files_rewritten"] == 1
    assert rep["rows_deleted"] == 15
    got = sorted(r["k"] for r in txlog.read_table(spark, root).collect())
    assert got == list(range(15, 30))
    # untouched file is still the ORIGINAL file object in the snapshot
    snap = txlog.load_snapshot(root)
    assert any(e["stats"]["k"]["min"] == 20 for e in snap.files.values())


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    """DELETE removes rows where the predicate is TRUE; a NULL in the
    tested column makes the predicate NULL, not TRUE — the row stays."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (None, "n"), (9, "z")], "k int, v string"
    ).coalesce(1)
    txlog.append(spark, df, root)
    rep = txlog.delete(spark, root, [("k", "<", 5)])
    assert rep["rows_deleted"] == 1
    got = {tuple(r) for r in txlog.read_table(spark, root).collect()}
    assert got == {(9, "z"), (None, "n")}


def test_delete_no_match_is_noop_commit_free(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk_range(spark, 0, 10), root)
    rep = txlog.delete(spark, root, [("k", ">", 100)])
    assert rep["skipped"] and rep["rows_deleted"] == 0
    assert txlog.load_snapshot(root).version == 1  # no new commit


def test_delete_preserves_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk_range(spark, 0, 10), root)
    txlog.delete(spark, root, [("k", ">=", 5)])
    assert txlog.read_table(spark, root).count() == 5
    assert txlog.read_table(spark, root, version=1).count() == 10
    assert [h["op"] for h in txlog.history(root)] == ["append", "delete"]


def test_delete_requires_predicate_and_table(spark, tmp_path):
    root = str(tmp_path / "t")
    with pytest.raises(ValueError, match="not a txlog table"):
        txlog.delete(spark, root, [("k", "<", 1)])
    txlog.append(spark, _mk_range(spark, 0, 3), root)
    with pytest.raises(ValueError, match="requires a predicate"):
        txlog.delete(spark, root, [])
    with pytest.raises(ValueError, match="unsupported delete op"):
        txlog.delete(spark, root, [("k", "!=", 1)])


# ---------------------------------------------------- schema evolution


def test_append_merge_schema_adds_nullable_column(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)
    wider = spark.createDataFrame(
        [(3, "c", 1.5)], "k int, v string, score double"
    ).coalesce(1)
    # without merge_schema: rejected (unchanged contract)
    with pytest.raises(ValueError, match="schema mismatch"):
        txlog.append(spark, wider, root)
    txlog.append(spark, wider, root, merge_schema=True)
    got = txlog.read_table(spark, root)
    assert got.schema["score"].nullable
    rows = {r["k"]: r["score"] for r in got.collect()}
    assert rows == {1: None, 2: None, 3: 1.5}
    # time travel to v1 keeps the ORIGINAL two-column schema
    v1 = txlog.read_table(spark, root, version=1)
    assert v1.columns == ["k", "v"]


def test_append_merge_schema_batch_missing_column_reads_null(spark, tmp_path):
    root = str(tmp_path / "t")
    wide = spark.createDataFrame(
        [(1, "a", 1.0)], "k int, v string, score double"
    ).coalesce(1)
    txlog.append(spark, wide, root)
    narrow = _mk(spark, [(2, "b")])
    txlog.append(spark, narrow, root, merge_schema=True)
    rows = {r["k"]: r["score"] for r in txlog.read_table(spark, root).collect()}
    assert rows == {1: 1.0, 2: None}


def test_append_type_change_always_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    bad = spark.createDataFrame([(1.5, "a")], "k double, v string")
    with pytest.raises(ValueError, match="type mismatch"):
        txlog.append(spark, bad, root, merge_schema=True)


def test_evolved_table_stats_pruning_still_sound(spark, tmp_path):
    """Old files carry no stats for the evolved column → conservative
    keep on scan; a delete on the new column must not drop old-file rows
    (their value is NULL, the predicate is never TRUE)."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)
    wider = spark.createDataFrame(
        [(3, "c", 9.0)], "k int, v string, score double"
    ).coalesce(1)
    txlog.append(spark, wider, root, merge_schema=True)
    df, rep = txlog.scan(spark, root, where=[("score", ">=", 5.0)])
    assert rep["files_scanned"] == rep["files_total"] == 2
    assert [r["k"] for r in df.collect()] == [3]
    rep2 = txlog.delete(spark, root, [("score", ">=", 5.0)])
    assert rep2["rows_deleted"] == 1
    got = sorted(r["k"] for r in txlog.read_table(spark, root).collect())
    assert got == [1, 2]


def test_write_sink_txlog_merge_schema_option(spark, tmp_path):
    from metadata_driven_data_pipeline_spark.sinks.writer import write_sink

    root = str(tmp_path / "t")
    write_sink(
        _mk(spark, [(1, "a")]),
        {"path": root, "table": "txlog", "saveMode": "append"},
    )
    wider = spark.createDataFrame(
        [(2, "b", 7.0)], "k int, v string, score double"
    ).coalesce(1)
    # without the option the evolution is still rejected
    with pytest.raises(ValueError, match="schema mismatch"):
        write_sink(
            wider, {"path": root, "table": "txlog", "saveMode": "append"}
        )
    out = write_sink(
        wider,
        {
            "path": root,
            "table": "txlog",
            "saveMode": "append",
            "mergeSchema": True,
        },
    )
    assert out["table_version"] == 2
    rows = {r["k"]: r["score"] for r in txlog.read_table(spark, root).collect()}
    assert rows == {1: None, 2: 7.0}


def test_delete_replans_on_conflicting_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """A commit that lands between delete's plan and its claim, adding a
    file that MAY match the predicate, must force a replan — the retry
    deletes from the new snapshot, so the late-arriving matching rows are
    removed too (serializable outcome: append THEN delete)."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)

    real_stage = txlog._stage_files
    fired = {"done": False}

    def stage_with_race(spark_, df, root_):
        out = real_stage(spark_, df, root_)
        if not fired["done"]:
            fired["done"] = True
            # concurrent writer appends an overlapping (may-match) file
            # AFTER the delete planned its candidates
            monkeypatch.setattr(txlog, "_stage_files", real_stage)
            txlog.append(spark_, _mk(spark_, [(3, "late")]), root_)
            monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
        return out

    monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
    rep = txlog.delete(spark, root, [("k", ">=", 2)])
    monkeypatch.setattr(txlog, "_stage_files", real_stage)
    assert rep["rows_deleted"] == 2  # k=2 AND the late k=3
    assert _rows(txlog.read_table(spark, root)) == [(1, "a")]


def test_delete_everything_in_maymatch_file_leaves_valid_table(spark, tmp_path):
    """A may-match file whose rows ALL actually match (stats not tight
    enough to prove it) rewrites to an empty file set — the commit
    removes without adding, and the table stays readable."""
    root = str(tmp_path / "t")
    # spanning files (min<max): an `in` predicate can never be stats-proven
    # all-match, so both files take the rewrite path yet keep zero rows
    txlog.append(spark, _mk(spark, [(1, "a"), (9, "b")]), root)
    txlog.append(spark, _mk(spark, [(2, "c"), (8, "d")]), root)
    rep = txlog.delete(spark, root, [("k", "in", [1, 2, 8, 9])])
    assert rep["rows_deleted"] == 4 and rep["files_dropped"] == 0
    assert rep["files_rewritten"] == 2
    got = txlog.read_table(spark, root)
    assert got.count() == 0
    assert got.columns == ["k", "v"]  # schema survives an emptied table


# -------------------------------------------------------------- restore


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE is a metadata commit, not a history rewrite: the rolled-
    back state is current, the bad commit stays auditable, and the
    restore itself can be time-travelled past."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.append(spark, _mk(spark, [(2, "b")]), root)
    txlog.overwrite(spark, _mk(spark, [(9, "oops")]), root)  # bad deploy
    rep = txlog.restore(spark, root, version=2)
    assert rep["restored_to"] == 2 and rep["version"] == 4
    assert rep["rows_written"] == 0  # pure metadata: no data file written
    assert _rows(txlog.read_table(spark, root)) == [(1, "a"), (2, "b")]
    # the bad state is still readable at its version (auditable)
    assert _rows(txlog.read_table(spark, root, version=3)) == [(9, "oops")]
    assert [h["op"] for h in txlog.history(root)] == [
        "append", "append", "overwrite", "restore",
    ]


def test_restore_recovers_pre_delete_and_pre_evolution_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (5, "e")]), root)
    wider = spark.createDataFrame(
        [(7, "g", 1.0)], "k int, v string, s double"
    ).coalesce(1)
    txlog.append(spark, wider, root, merge_schema=True)
    txlog.delete(spark, root, [("k", ">=", 5)])
    rep = txlog.restore(spark, root, version=1)
    got = txlog.read_table(spark, root)
    assert got.columns == ["k", "v"]  # pre-evolution schema restored
    assert _rows(got) == [(1, "a"), (5, "e")]
    assert rep["version"] == 4  # append, evolve-append, delete, restore


def test_restore_past_vacuum_horizon_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.overwrite(spark, _mk(spark, [(2, "b")]), root)
    txlog.vacuum(root, keep_versions=1, min_age_seconds=0)
    with pytest.raises(ValueError, match="vacuumed"):
        txlog.restore(spark, root, version=1)
    # a never-committed version now fails at snapshot load (ADVICE r6:
    # no silent clamp to a different snapshot's data)
    with pytest.raises(ValueError, match="no snapshot v99"):
        txlog.restore(spark, root, version=99)


def test_delete_keeps_concurrently_evolved_schema(spark, tmp_path, monkeypatch):
    """Review fix: a commit must carry the CURRENT schema, not the
    plan-time one. A merge_schema append that lands mid-delete (disjoint
    keys, so no conflict replan) keeps its evolved schema after the
    delete commits."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)

    real_stage = txlog._stage_files
    fired = {"done": False}

    def stage_with_race(spark_, df, root_):
        out = real_stage(spark_, df, root_)
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(txlog, "_stage_files", real_stage)
            wide = spark_.createDataFrame(
                [(500, "w", 9.0)], "k int, v string, score double"
            ).coalesce(1)
            txlog.append(spark_, wide, root_, merge_schema=True)
            monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
        return out

    monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
    # point predicate: the concurrent file (k=500) can't match -> no replan
    txlog.delete(spark, root, [("k", "==", 2)])
    monkeypatch.setattr(txlog, "_stage_files", real_stage)
    got = txlog.read_table(spark, root)
    assert "score" in got.columns  # evolution survived the delete commit
    rows = {r["k"]: r["score"] for r in got.collect()}
    assert rows == {1: None, 500: 9.0}


def test_optimize_keeps_concurrently_evolved_schema(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)

    real_stage = txlog._stage_files
    fired = {"done": False}

    def stage_with_race(spark_, df, root_):
        out = real_stage(spark_, df, root_)
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(txlog, "_stage_files", real_stage)
            wide = spark_.createDataFrame(
                [(500, "w", 9.0)], "k int, v string, score double"
            ).coalesce(1)
            txlog.append(spark_, wide, root_, merge_schema=True)
            monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
        return out

    monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
    txlog.optimize(spark, root, target_bytes=1 << 30)
    monkeypatch.setattr(txlog, "_stage_files", real_stage)
    got = txlog.read_table(spark, root)
    assert "score" in got.columns
    assert got.count() == 3  # concurrent append's file survived compaction


def test_vacuum_age_guard_protects_inflight_staged_files(spark, tmp_path):
    """Review fix: a writer's just-staged (not yet committed) data/ file
    must survive a concurrent vacuum inside the grace window."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    staged = os.path.join(root, txlog.DATA_DIR, "deadbeef-w.parquet")
    pq.write_table(pa.table({"k": [2], "v": ["b"]}), staged)
    rep = txlog.vacuum(root, keep_versions=1)  # default grace window
    assert os.path.exists(staged) and rep["skipped_young"] >= 1
    rep0 = txlog.vacuum(root, keep_versions=1, min_age_seconds=0)
    assert not os.path.exists(staged) and rep0["deleted"] >= 1


def test_vacuum_sweeps_only_old_staging_leftovers(spark, tmp_path):
    """A crashed writer's _staging-* directory is reclaimed once past the
    grace window; a fresh one may belong to a live writer and is kept."""
    import time

    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    old = os.path.join(root, "_staging-old")
    young = os.path.join(root, "_staging-young")
    for d in (old, young):
        os.makedirs(d)
        open(os.path.join(d, "part-0.parquet"), "wb").close()
    past = time.time() - 7200
    os.utime(old, (past, past))

    dry = txlog.vacuum(root, keep_versions=1, dry_run=True)
    assert dry["would_delete"] == ["_staging-old"]
    assert dry["skipped_young"] == 1
    assert os.path.isdir(old) and os.path.isdir(young)

    rep = txlog.vacuum(root, keep_versions=1)
    assert rep["skipped_young"] == 1
    assert not os.path.exists(old) and os.path.isdir(young)


# ---------------------------------------------------------- round 6: fixes


def test_optimize_replans_on_concurrent_delete(spark, tmp_path, monkeypatch):
    """ADVICE r6 (high): optimize's adds are a compacted copy of the
    plan-time snapshot — a delete landing between plan and claim must
    force a replan, or the deleted rows are resurrected by the compacted
    copy while the delete commit stands."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)
    txlog.append(spark, _mk(spark, [(3, "c"), (4, "d")]), root)

    real_stage = txlog._stage_files
    fired = {"done": False}

    def stage_with_race(spark_, df, root_):
        out = real_stage(spark_, df, root_)
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(txlog, "_stage_files", real_stage)
            txlog.delete(spark_, root_, [("k", "==", 2)])
            monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
        return out

    monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
    res = txlog.optimize(spark, root, target_bytes=1 << 30)
    monkeypatch.setattr(txlog, "_stage_files", real_stage)
    assert not res.get("skipped")
    # the delete must NOT be undone by the optimize commit
    assert _rows(txlog.read_table(spark, root)) == [(1, "a"), (3, "c"), (4, "d")]


def test_optimize_replans_on_concurrent_merge(spark, tmp_path, monkeypatch):
    """Same hazard, merge flavor: the merge rewrites key 2's file; a
    stale optimize commit would resurrect the OLD row next to the
    rewritten one (duplicate key)."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)

    real_stage = txlog._stage_files
    fired = {"done": False}

    def stage_with_race(spark_, df, root_):
        out = real_stage(spark_, df, root_)
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(txlog, "_stage_files", real_stage)
            txlog.merge(
                spark_, _mk(spark_, [(2, "zz")]), root_, ["k"], "v"
            )
            monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
        return out

    monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
    txlog.optimize(spark, root, target_bytes=1 << 30)
    monkeypatch.setattr(txlog, "_stage_files", real_stage)
    got = txlog.read_table(spark, root)
    assert got.count() == 2  # no duplicated key
    assert _rows(got) == [(1, "a"), (2, "zz")]


def test_unknown_null_count_blocks_metadata_delete(spark, tmp_path):
    """ADVICE r6 (medium): a file whose parquet stats omit null_count
    must record nulls=None (unknown), and DELETE must then rewrite it
    (NULL rows don't satisfy the predicate and must be kept) instead of
    dropping it by pure metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(9, "z")]), root)  # schema anchor
    # hand-stage a file with statistics disabled, commit it
    data_dir = os.path.join(root, txlog.DATA_DIR)
    p = os.path.join(data_dir, "nostats-0.parquet")
    pq.write_table(
        pa.table(
            {"k": pa.array([1, 2], type=pa.int32()),
             "v": pa.array(["a", None], type=pa.string())}
        ),
        p,
        write_statistics=False,
    )
    snap = txlog.load_snapshot(root)
    txlog.commit_staged(spark, root, [p], snap.schema)
    entry = txlog.load_snapshot(root).files[os.path.join(txlog.DATA_DIR, "nostats-0.parquet")]
    assert entry["stats"]["v"]["nulls"] is None  # unknown, not 0
    assert not txlog._file_all_match(entry, "k", ">=", 0)
    # delete everything with v >= '' (string compare; NULL row must stay)
    res = txlog.delete(spark, root, [("v", ">=", "")])
    assert res["files_dropped"] == 0 or entry not in []  # no metadata drop of nostats
    got = _rows(txlog.read_table(spark, root))
    assert got == [(2, None)]  # NULL row kept, others deleted


def test_stats_type_mismatch_is_conservative(spark, tmp_path):
    """ADVICE r6 (low): an int predicate against string footer stats
    must not crash the scan/delete — may-match keeps the file, all-match
    never proves, and the real filter decides."""
    entry = {"rows": 2, "stats": {"v": {"min": "a", "max": "b", "nulls": 0}}}
    assert txlog._file_may_match(entry, "v", ">=", 5)
    assert not txlog._file_all_match(entry, "v", ">=", 5)
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "7"), (2, "9")]), root)
    df, report = txlog.scan(spark, root, where=[("v", ">=", 8)])
    assert report["files_scanned"] == 1  # conservative keep, no crash
    assert _rows(df) == [(2, "9")]


def test_load_snapshot_rejects_nonexistent_version(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    with pytest.raises(ValueError, match="no snapshot v9"):
        txlog.load_snapshot(root, 9)
    with pytest.raises(ValueError, match="not a txlog table"):
        txlog.load_snapshot(str(tmp_path / "missing"), 1)


def test_restore_reverifies_files_per_claim(spark, tmp_path, monkeypatch):
    """ADVICE r6 (low): a vacuum landing between restore's plan and its
    winning claim must be caught by the in-callback re-check, not
    committed as dangling file references."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.overwrite(spark, _mk(spark, [(2, "b")]), root)

    real_claim = txlog._try_claim
    fired = {"done": False}

    def claim_with_vacuum(root_, version, payload):
        if not fired["done"]:
            fired["done"] = True
            # lose the race once so build() re-runs, then vacuum v1 away
            txlog.append(spark, _mk(spark, [(3, "c")]), root_)
            txlog.vacuum(root_, keep_versions=1, min_age_seconds=0)
            return False
        return real_claim(root_, version, payload)

    monkeypatch.setattr(txlog, "_try_claim", claim_with_vacuum)
    with pytest.raises(ValueError, match="vacuumed"):
        txlog.restore(spark, root, version=1)


# -------------------------------------------- round 6: log retention


def test_cleanup_log_bounds_listing_and_preserves_reads(spark, tmp_path):
    """Drive the table through ≫CHECKPOINT_INTERVAL commits: after
    cleanup the log holds O(K) files, every version at/above the horizon
    still loads (the horizon itself via its checkpoint), and versions
    below it raise the clean retention error instead of returning wrong
    data."""
    root = str(tmp_path / "t")
    n = 25
    for i in range(n):
        txlog.append(spark, _mk(spark, [(i, f"v{i}")]), root)
    log_dir = os.path.join(root, txlog.LOG_DIR)
    assert len(os.listdir(log_dir)) >= n
    rep = txlog.cleanup_log(root, keep_versions=2)
    # horizon = newest checkpoint ≤ v24 → v20
    assert rep["horizon"] == 20 and rep["commits_removed"] == 19
    names = os.listdir(log_dir)
    # steady state: commits [20..25] + checkpoint 20 = O(K)
    assert len(names) <= txlog.CHECKPOINT_INTERVAL + 3
    # latest read unaffected, full content intact
    assert len(_rows(txlog.read_table(spark, root))) == n
    # horizon version loads from its checkpoint; horizon+1 from commits
    assert len(_rows(txlog.read_table(spark, root, version=20))) == 20
    assert len(_rows(txlog.read_table(spark, root, version=23))) == 23
    # below the horizon: clean, loud error
    with pytest.raises(ValueError, match="log retention"):
        txlog.read_table(spark, root, version=5)
    # idempotent: a second cleanup is a no-op
    rep2 = txlog.cleanup_log(root, keep_versions=2)
    assert rep2["commits_removed"] == 0
    # appends keep working and the next checkpoint keeps the cycle going
    for i in range(n, n + 6):
        txlog.append(spark, _mk(spark, [(i, f"v{i}")]), root)
    rep3 = txlog.cleanup_log(root, keep_versions=2)
    assert rep3["horizon"] == 30
    assert len(_rows(txlog.read_table(spark, root))) == n + 6


def test_cleanup_log_noop_without_checkpoint(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(4):  # below CHECKPOINT_INTERVAL — no checkpoint yet
        txlog.append(spark, _mk(spark, [(i, "x")]), root)
    rep = txlog.cleanup_log(root, keep_versions=2)
    assert rep == {"commits_removed": 0, "checkpoints_removed": 0, "horizon": None}
    assert len(_rows(txlog.read_table(spark, root))) == 4


def test_change_feed_fails_loudly_below_cleaned_horizon(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(15):
        txlog.append(spark, _mk(spark, [(i, "x")]), root)
    txlog.cleanup_log(root, keep_versions=2)  # horizon = 10
    with pytest.raises(ValueError, match="log retention"):
        txlog.read_changes(spark, root, since_version=3)
    # at/above the horizon the feed still works (commit 10's record kept)
    got = txlog.read_changes(spark, root, since_version=9)
    assert got.count() == 6  # commits 10..15, one row each
    # streaming source partitions() goes through the same guard
    from metadata_driven_data_pipeline_spark.sources.txlog_datasource import (
        TxlogStreamReader,
    )

    reader = TxlogStreamReader(root, txlog.load_snapshot(root).schema, 0)
    with pytest.raises(ValueError, match="log retention"):
        reader.partitions({"version": 0}, {"version": 15})
    assert len(reader.partitions({"version": 9}, {"version": 15})) == 6


def test_vacuum_clean_log_flag(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(12):
        txlog.append(spark, _mk(spark, [(i, "x")]), root)
    rep = txlog.vacuum(root, keep_versions=2, min_age_seconds=0, clean_log=True)
    assert rep["log"]["horizon"] == 10
    assert len(_rows(txlog.read_table(spark, root))) == 12


def test_history_and_maintenance_survive_cleanup(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(15):
        txlog.append(spark, _mk(spark, [(i, "x")]), root)
    txlog.cleanup_log(root, keep_versions=2)
    hist = txlog.history(root)
    assert [h["version"] for h in hist] == list(range(10, 16))
    assert all(h["ts"] is not None for h in hist)
    # optimize/delete/restore on a cleaned table work as before
    txlog.delete(spark, root, [("k", "==", 11)])
    txlog.optimize(spark, root, target_bytes=1 << 30)
    assert len(_rows(txlog.read_table(spark, root))) == 14


# ------------------------------------------ round 6: MERGE matched-delete


def _mk_seq(spark, triples):
    return spark.createDataFrame(triples, "k int, v string, seq int").coalesce(1)


def test_merge_when_matched_delete_purges_and_upserts(spark, tmp_path):
    """WHEN MATCHED ... THEN DELETE: tombstone rows remove their key,
    regular rows upsert, a tombstone for an absent key inserts nothing."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk_seq(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]), root)
    updates = _mk_seq(
        spark,
        [
            (2, "DEL", 2),    # tombstone: purge key 2
            (3, "c2", 2),     # plain upsert
            (4, "d", 2),      # plain insert
            (99, "DEL", 2),   # tombstone for absent key: no-op
        ],
    )
    res = txlog.merge(
        spark, updates, root, ["k"], "seq", when_matched_delete="v = 'DEL'"
    )
    assert not res.get("skipped")
    assert _rows(txlog.read_table(spark, root)) == [
        (1, "a", 1),
        (3, "c2", 2),
        (4, "d", 2),
    ]


def test_merge_tombstone_loses_keep_latest_ordering(spark, tmp_path):
    """A tombstone OLDER than the table's current row loses the
    keep-latest ordering — the newer live row survives (CDC semantics:
    order matters, not mere presence)."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk_seq(spark, [(1, "new", 5)]), root)
    updates = _mk_seq(spark, [(1, "DEL", 2)])  # stale tombstone
    txlog.merge(spark, updates, root, ["k"], "seq", when_matched_delete="v = 'DEL'")
    assert _rows(txlog.read_table(spark, root)) == [(1, "new", 5)]


def test_merge_matched_delete_bootstrap_and_column_predicate(spark, tmp_path):
    root = str(tmp_path / "t")
    updates = _mk_seq(spark, [(1, "keep", 1), (2, "DEL", 1)])
    txlog.merge(
        spark,
        updates,
        root,
        ["k"],
        "seq",
        when_matched_delete=F.col("v") == "DEL",
    )
    assert _rows(txlog.read_table(spark, root)) == [(1, "keep", 1)]


def test_merge_matched_delete_replans_on_conflict(spark, tmp_path, monkeypatch):
    """A concurrent append overlapping the batch key range between plan
    and claim forces a replan; the tombstone still wins against the row
    the replan picks up."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk_seq(spark, [(1, "a", 1)]), root)

    real_claim = txlog._try_claim
    fired = {"done": False}

    def claim_with_race(root_, version, payload):
        if not fired["done"]:
            fired["done"] = True
            # overlapping concurrent append: key 2 lands mid-merge
            txlog.append(spark, _mk_seq(spark, [(2, "b", 1)]), root_)
        return real_claim(root_, version, payload)

    monkeypatch.setattr(txlog, "_try_claim", claim_with_race)
    updates = _mk_seq(spark, [(2, "DEL", 9)])
    res = txlog.merge(
        spark, updates, root, ["k"], "seq", when_matched_delete="v = 'DEL'"
    )
    monkeypatch.setattr(txlog, "_try_claim", real_claim)
    assert not res.get("skipped")
    # the replanned merge saw the concurrent row and the tombstone purged it
    assert _rows(txlog.read_table(spark, root)) == [(1, "a", 1)]


# ------------------------------------- round 6: timestamps and convert


def test_timestamp_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.append(spark, _mk(spark, [(2, "b")]), root)
    txlog.overwrite(spark, _mk(spark, [(9, "z")]), root)
    hist = txlog.history(root)
    ts_v1, ts_v2, ts_v3 = (h["ts"] for h in hist)
    assert ts_v1 <= ts_v2 <= ts_v3
    assert _rows(txlog.read_table(spark, root, timestamp=ts_v1)) == [(1, "a")]
    assert _rows(txlog.read_table(spark, root, timestamp=ts_v2)) == [
        (1, "a"),
        (2, "b"),
    ]
    # AS OF an instant after the last commit → loud error (Delta's
    # contract, ADVICE r6): a typo'd future instant must not silently
    # pin a moving 'latest' snapshot
    with pytest.raises(ValueError, match="after the latest commit"):
        txlog.read_table(spark, root, timestamp="9999-12-31")
    # the exact latest-commit instant still resolves to the latest
    assert _rows(txlog.read_table(spark, root, timestamp=ts_v3)) == [
        (9, "z")
    ]
    # before the first commit → loud error, not an empty guess
    with pytest.raises(ValueError, match="no commit at or before"):
        txlog.read_table(spark, root, timestamp="1999-01-01")
    with pytest.raises(ValueError, match="version OR timestamp"):
        txlog.load_snapshot(root, version=1, timestamp=ts_v1)
    # datetime objects accepted too
    import datetime as _dt

    dt = _dt.datetime.fromisoformat(ts_v2)
    assert _rows(txlog.read_table(spark, root, timestamp=dt)) == [
        (1, "a"),
        (2, "b"),
    ]


def test_convert_to_txlog_zero_copy(spark, tmp_path):
    root = str(tmp_path / "plain")
    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k int, v string"
    ).repartitionByRange(4, "k")
    src.write.mode("overwrite").parquet(root)
    expect = _rows(spark.read.parquet(root))
    res = txlog.convert_to_txlog(spark, root)
    assert res["version"] == 1 and res["files_converted"] == 4
    # in place: no top-level part files remain, data/ holds them
    assert not any(n.endswith(".parquet") for n in os.listdir(root))
    assert _rows(txlog.read_table(spark, root)) == expect
    # footer stats rode in: scan pruning works on the converted table
    _, rep = txlog.scan(spark, root, where=[("k", "==", 5)])
    assert rep["files_scanned"] < rep["files_total"]
    # it is now a normal table: appends, merge, time travel all apply
    txlog.append(spark, _mk(spark, [(1000, "new")]), root)
    assert len(_rows(txlog.read_table(spark, root))) == 101
    with pytest.raises(ValueError, match="already a txlog table"):
        txlog.convert_to_txlog(spark, root)


def test_convert_requires_part_files(spark, tmp_path):
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no parquet part files"):
        txlog.convert_to_txlog(spark, empty)


def test_write_sink_merge_when_matched_delete_option(spark, tmp_path):
    """Declarative parity: the metadata-driven merge sink exposes the
    WHEN MATCHED ... THEN DELETE lane via merge.whenMatchedDelete."""
    from metadata_driven_data_pipeline_spark.sinks.writer import write_sink

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k int, v string, seq int"
    )
    write_sink(base, {"path": root, "table": "txlog", "saveMode": "append"})
    upd = spark.createDataFrame(
        [(2, "DEL", 2), (3, "c", 2)], "k int, v string, seq int"
    )
    write_sink(
        upd,
        {
            "path": root,
            "table": "txlog",
            "merge": {
                "keys": ["k"],
                "orderBy": "seq",
                "whenMatchedDelete": "v = 'DEL'",
            },
        },
    )
    got = dict((r["k"], r["v"]) for r in txlog.read_table(spark, root).collect())
    assert got == {1: "a", 3: "c"}  # key 2 purged, key 3 inserted


def test_maintenance_spec_clean_log(spark, tmp_path):
    """Declarative parity: vacuum.cleanLog in the maintenance spec runs
    cleanup_log and folds its report into the stage output."""
    from metadata_driven_data_pipeline_spark.orchestrate import (
        run_table_maintenance,
    )

    root = str(tmp_path / "t")
    for i in range(12):
        txlog.append(spark, _mk(spark, [(i, "x")]), root)
    reports = run_table_maintenance(
        spark,
        [{"table": root,
          "vacuum": {"keepVersions": 2, "minAgeSeconds": 0, "cleanLog": True}}],
    )
    assert reports[0]["vacuum"]["log"]["horizon"] == 10
    assert len(_rows(txlog.read_table(spark, root))) == 12


# ------------------------------------------ round 6: bin-packed OPTIMIZE


def test_optimize_small_file_bytes_packs_only_small_files(spark, tmp_path):
    """Bin-packed compaction: only files under the threshold are
    rewritten; the right-sized file keeps its IDENTITY (same path in the
    new snapshot — zero data I/O for it), and the table reads back
    identically."""
    root = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, "big") for i in range(20000)], "k int, v string"
    ).coalesce(1)
    txlog.append(spark, big, root)
    for i in range(5):
        txlog.append(spark, _mk(spark, [(100000 + i, f"s{i}")]), root)
    snap0 = txlog.load_snapshot(root)
    big_rel = max(snap0.files, key=lambda p: snap0.files[p]["bytes"])
    threshold = snap0.files[big_rel]["bytes"]  # strictly-below keeps big
    res = txlog.optimize(
        spark, root, target_bytes=1 << 30, small_file_bytes=threshold
    )
    assert not res.get("skipped")
    assert res["files_selected"] == 5 and res["files_before"] == 6
    snap1 = txlog.load_snapshot(root)
    assert big_rel in snap1.files  # untouched, same physical file
    assert len(snap1.files) == 2  # big + one packed file
    assert txlog.read_table(spark, root).count() == 20005
    small = txlog.read_table(spark, root).filter(F.col("k") >= 100000)
    assert sorted(r["v"] for r in small.collect()) == [f"s{i}" for i in range(5)]


def test_optimize_small_file_bytes_noop_below_two_files(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    res = txlog.optimize(spark, root, small_file_bytes=1 << 20)
    assert res["skipped"] and res["files_selected"] == 0  # <2 per group
    assert txlog.load_snapshot(root).version == 1  # no commit written


def test_optimize_partitioned_preserves_clustering(spark, tmp_path):
    """Bin-packed OPTIMIZE on a partitioned table compacts WITHIN each
    partition value (VERDICT r7 'what's wrong' #2): post-compaction a
    partition predicate still prunes (files_scanned < files_total), the
    key=value layout and injection dicts are regenerated, lone small
    files in a partition are left alone, and contents are unchanged."""
    root = str(tmp_path / "t")
    # 3 small files in p=a, 3 in p=b, 1 lone small file in p=c
    for i in range(3):
        txlog.append(
            spark,
            spark.createDataFrame(
                [(i, "a"), (100 + i, "b")], "k int, p string"
            ).coalesce(1),
            root,
            partition_by=["p"],
        )
    txlog.append(
        spark,
        spark.createDataFrame([(200, "c")], "k int, p string").coalesce(1),
        root,
        partition_by=["p"],
    )
    before = _rows(txlog.read_table(spark, root))
    snap0 = txlog.load_snapshot(root)
    lone = [
        p for p, e in snap0.files.items()
        if (e.get("partition") or {}).get("p") == "c"
    ]
    assert len(lone) == 1
    res = txlog.optimize(spark, root, small_file_bytes=1 << 20)
    assert not res.get("skipped")
    snap1 = txlog.load_snapshot(root)
    # lone file untouched (same path), packed partitions have ONE file
    assert lone[0] in snap1.files
    by_p = {}
    for e in snap1.files.values():
        assert e.get("partition"), "compacted files must stay partitioned"
        by_p.setdefault(e["partition"]["p"], []).append(e)
    assert {k: len(v) for k, v in by_p.items()} == {"a": 1, "b": 1, "c": 1}
    # partition predicate still prunes after compaction
    df, rep = txlog.scan(spark, root, where=[("p", "==", "a")])
    assert rep["files_scanned"] < rep["files_total"]
    assert df.count() == 3
    assert _rows(txlog.read_table(spark, root)) == before


def test_optimize_small_file_conflict_only_on_selected_files(
    spark, tmp_path, monkeypatch
):
    """A concurrent delete that removes an UNSELECTED (right-sized) file
    is NOT a conflict for a bin-packed optimize — the packed copy holds
    no rows from it; the commit lands first try and the delete stands."""
    root = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, "big") for i in range(20000)], "k int, v string"
    ).coalesce(1)
    txlog.append(spark, big, root)
    for i in range(3):
        txlog.append(spark, _mk(spark, [(100000 + i, f"s{i}")]), root)
    snap0 = txlog.load_snapshot(root)
    threshold = max(e["bytes"] for e in snap0.files.values())

    real_stage = txlog._stage_files
    fired = {"done": False}

    def stage_with_race(spark_, df, root_):
        out = real_stage(spark_, df, root_)
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(txlog, "_stage_files", real_stage)
            # delete lives entirely in the BIG (unselected) file
            txlog.delete(spark_, root_, [("k", "<", 10000)])
            monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
        return out

    monkeypatch.setattr(txlog, "_stage_files", stage_with_race)
    res = txlog.optimize(
        spark, root, target_bytes=1 << 30, small_file_bytes=threshold
    )
    monkeypatch.setattr(txlog, "_stage_files", real_stage)
    assert not res.get("skipped") and res["files_selected"] == 3
    got = txlog.read_table(spark, root)
    assert got.filter(F.col("k") < 10000).count() == 0  # delete stands
    assert got.count() == 20000 - 10000 + 3


# ----------------------------------------- round 6: code-review fixes


def test_timestamp_travel_normalizes_iso_forms(spark, tmp_path):
    """Review r6 #1: 'T'-separated ISO-8601 and non-UTC offsets must
    resolve as INSTANTS, not raw strings ('T' > ' ' would otherwise sort
    a same-day query above every stored stamp)."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.append(spark, _mk(spark, [(2, "b")]), root)
    ts_v1 = txlog.history(root)[0]["ts"]  # "YYYY-MM-DD HH:MM:SS.ffffff+00:00"
    t_form = ts_v1.replace(" ", "T")
    assert _rows(txlog.read_table(spark, root, timestamp=t_form)) == [(1, "a")]
    # same instant expressed at +02:00 resolves identically
    import datetime as _dt

    plus2 = _dt.datetime.fromisoformat(ts_v1).astimezone(
        _dt.timezone(_dt.timedelta(hours=2))
    )
    assert _rows(
        txlog.read_table(spark, root, timestamp=plus2.isoformat())
    ) == [(1, "a")]


def test_commit_ts_monotonic_under_clock_regression(spark, tmp_path, monkeypatch):
    """Review r6 #5: a wall-clock step backwards between commits must
    not produce out-of-order in-commit timestamps (AS-OF would return
    data committed after the requested instant)."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    real_now = txlog._now_iso
    monkeypatch.setattr(txlog, "_now_iso", lambda: "2001-01-01 00:00:00+00:00")
    txlog.append(spark, _mk(spark, [(2, "b")]), root)  # clock stepped back
    monkeypatch.setattr(txlog, "_now_iso", real_now)
    hist = txlog.history(root)
    assert hist[0]["ts"] < hist[1]["ts"]  # monotonized, not 2001
    # AS-OF v1's stamp returns exactly v1 state
    assert _rows(txlog.read_table(spark, root, timestamp=hist[0]["ts"])) == [
        (1, "a")
    ]


def test_load_snapshot_raises_when_commit_vanishes_mid_fold(spark, tmp_path):
    """Review r6 #3: a commit expired between the reader's listing and
    its fold must raise (retryable), never return a snapshot silently
    missing commits."""
    root = str(tmp_path / "t")
    for i in range(15):
        txlog.append(spark, _mk(spark, [(i, "x")]), root)
    # simulate the race: checkpoint 10 exists; unlink commit 12 directly
    os.unlink(os.path.join(root, txlog.LOG_DIR, f"{12:020d}.json"))
    with pytest.raises(ValueError, match="disappeared during snapshot load"):
        txlog.load_snapshot(root)


def test_merge_bootstrap_drops_marker_columns(spark, tmp_path):
    """Review r6 #2: a CDC __op marker tested by when_matched_delete on
    the FIRST-ever merge must not be baked into the table schema."""
    root = str(tmp_path / "t")
    updates = spark.createDataFrame(
        [(1, "a", 1, "U"), (2, "b", 1, "D")],
        "k int, v string, seq int, __op string",
    )
    txlog.merge(
        spark, updates, root, ["k"], "seq", when_matched_delete="__op = 'D'"
    )
    got = txlog.read_table(spark, root)
    assert got.columns == ["k", "v", "seq"]  # no __op in the table
    assert _rows(got) == [(1, "a", 1)]
    # and the SECOND merge with the same batch shape keeps working
    upd2 = spark.createDataFrame(
        [(1, "a2", 2, "U"), (3, "c", 2, "U")],
        "k int, v string, seq int, __op string",
    )
    txlog.merge(
        spark, upd2, root, ["k"], "seq", when_matched_delete="__op = 'D'"
    )
    assert _rows(txlog.read_table(spark, root)) == [(1, "a2", 2), (3, "c", 2)]


def test_convert_crash_mid_rename_is_resumable(spark, tmp_path):
    """Review r6 #4: a convert that dies after moving SOME part files is
    completed by simply re-running convert_to_txlog (manifest-driven
    resume); a concurrent fresh convert loses the manifest claim."""
    import json as _json

    root = str(tmp_path / "plain")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k int, v string"
    ).repartitionByRange(4, "k").write.mode("overwrite").parquet(root)
    expect_rows = 50

    real_rename = os.rename
    calls = {"n": 0}

    def crashy_rename(src, dst):
        if "_convert-manifest" not in src and calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-rename")
        if "_convert-manifest" not in src:
            calls["n"] += 1
        return real_rename(src, dst)

    import unittest.mock as mock

    with mock.patch("os.rename", side_effect=crashy_rename):
        with pytest.raises(RuntimeError, match="simulated crash"):
            txlog.convert_to_txlog(spark, root)
    # directory is mid-flight: manifest exists, some parts moved
    assert os.path.exists(os.path.join(root, txlog._CONVERT_MANIFEST))
    res = txlog.convert_to_txlog(spark, root)  # resume completes it
    assert res["files_converted"] == 4
    assert not os.path.exists(os.path.join(root, txlog._CONVERT_MANIFEST))
    assert txlog.read_table(spark, root).count() == expect_rows


def test_convert_crash_after_commit_is_resumable(spark, tmp_path, monkeypatch):
    """Crash between the convert commit and the manifest cleanup: the
    re-run must NOT commit a second convert (duplicate rows), just
    release the claim."""
    root = str(tmp_path / "plain")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "k int, v string"
    ).coalesce(1).write.mode("overwrite").parquet(root)

    real_unlink = os.unlink

    def crashy_unlink(path):
        base = os.path.basename(str(path))
        if base == txlog._CONVERT_MANIFEST:
            raise RuntimeError("simulated crash before cleanup")
        return real_unlink(path)

    import unittest.mock as mock

    with mock.patch.object(txlog.os, "unlink", side_effect=crashy_unlink):
        with pytest.raises(RuntimeError, match="simulated crash"):
            txlog.convert_to_txlog(spark, root)
    assert txlog.load_snapshot(root).version == 1  # commit landed
    res = txlog.convert_to_txlog(spark, root)  # releases the claim only
    assert res["version"] == 1
    assert txlog.load_snapshot(root).version == 1  # no second commit
    assert txlog.read_table(spark, root).count() == 30


# ---------------------- round 6: WHEN NOT MATCHED BY SOURCE THEN DELETE


def test_merge_not_matched_by_source_full_sync(spark, tmp_path):
    """wnm=True converges the table to exactly the batch: matched keys
    upsert, unmatched target keys delete, new batch keys insert."""
    root = str(tmp_path / "t")
    txlog.append(
        spark, _mk_seq(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]), root
    )
    batch = _mk_seq(spark, [(2, "b2", 2), (4, "d", 2)])
    res = txlog.merge(
        spark, batch, root, ["k"], "seq",
        when_not_matched_by_source_delete=True,
    )
    assert not res.get("skipped")
    assert _rows(txlog.read_table(spark, root)) == [(2, "b2", 2), (4, "d", 2)]


def test_merge_not_matched_by_source_with_condition(spark, tmp_path):
    """A condition scopes the deletion to target rows satisfying it;
    other unmatched rows survive."""
    root = str(tmp_path / "t")
    txlog.append(
        spark,
        _mk_seq(spark, [(1, "old", 1), (2, "old", 1), (3, "keep", 1)]),
        root,
    )
    batch = _mk_seq(spark, [(2, "b2", 2)])
    txlog.merge(
        spark, batch, root, ["k"], "seq",
        when_not_matched_by_source_delete="v = 'old'",
    )
    # key 1: unmatched AND v='old' → deleted; key 3: unmatched, v!='old' → kept
    assert _rows(txlog.read_table(spark, root)) == [(2, "b2", 2), (3, "keep", 1)]


def test_merge_all_three_clauses_compose(spark, tmp_path):
    """upsert + matched-delete tombstones + not-matched-by-source in one
    atomic commit (the full MERGE INTO surface)."""
    root = str(tmp_path / "t")
    txlog.append(
        spark, _mk_seq(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]), root
    )
    batch = _mk_seq(spark, [(2, "DEL", 2), (3, "c2", 2), (5, "e", 2)])
    txlog.merge(
        spark, batch, root, ["k"], "seq",
        when_matched_delete="v = 'DEL'",
        when_not_matched_by_source_delete=True,
    )
    # 1: unmatched → deleted; 2: tombstoned → deleted; 3: upserted; 5: inserted
    assert _rows(txlog.read_table(spark, root)) == [(3, "c2", 2), (5, "e", 2)]


def test_merge_not_matched_by_source_conflicts_on_any_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """Under wnm, a concurrent append DISJOINT from the batch key range
    still forces a replan — its keys are unmatched and due for the sync
    semantics; the serial outcome is append-then-sync."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk_seq(spark, [(1, "a", 1)]), root)

    real_claim = txlog._try_claim
    fired = {"done": False}

    def claim_with_race(root_, version, payload):
        if not fired["done"]:
            fired["done"] = True
            txlog.append(spark, _mk_seq(spark, [(999, "late", 1)]), root_)
        return real_claim(root_, version, payload)

    monkeypatch.setattr(txlog, "_try_claim", claim_with_race)
    batch = _mk_seq(spark, [(1, "a2", 2)])
    res = txlog.merge(
        spark, batch, root, ["k"], "seq",
        when_not_matched_by_source_delete=True,
    )
    monkeypatch.setattr(txlog, "_try_claim", real_claim)
    assert not res.get("skipped")
    # serializable: the late row was seen by the replanned sync → deleted
    assert _rows(txlog.read_table(spark, root)) == [(1, "a2", 2)]


def test_write_sink_not_matched_by_source_option(spark, tmp_path):
    from metadata_driven_data_pipeline_spark.sinks.writer import write_sink

    root = str(tmp_path / "t")
    write_sink(
        _mk_seq(spark, [(1, "a", 1), (2, "b", 1)]),
        {"path": root, "table": "txlog", "saveMode": "append"},
    )
    write_sink(
        _mk_seq(spark, [(2, "b2", 2)]),
        {
            "path": root,
            "table": "txlog",
            "merge": {
                "keys": ["k"],
                "orderBy": "seq",
                "whenNotMatchedBySourceDelete": True,
            },
        },
    )
    assert _rows(txlog.read_table(spark, root)) == [(2, "b2", 2)]

# ----------------------------------------- round 7: verdict/advice fixes


def test_optimize_rejects_small_file_bytes_with_zorder(spark, tmp_path):
    """VERDICT r6: silently ignoring small_file_bytes under zorder_by
    hands the caller the O(table) rewrite they opted out of — raise."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    with pytest.raises(ValueError, match="small_file_bytes"):
        txlog.optimize(
            spark, root, small_file_bytes=1 << 20, zorder_by=["k"]
        )


def test_stamp_ts_floor_survives_retention_and_clock_regression(
    spark, tmp_path, monkeypatch
):
    """VERDICT r6 'what's wrong' #1: once log retention leaves the
    previous version checkpoint-only, the monotonic floor must come
    from the ts the checkpoint carries — a wall-clock regression at
    exactly that boundary must not mint a timestamp below the expired
    horizon's."""
    root = str(tmp_path / "t")
    for i in range(10):  # v10 lands a checkpoint
        txlog.append(spark, _mk(spark, [(i, f"v{i}")]), root)
    cp = txlog._read_json(
        os.path.join(root, txlog.LOG_DIR, txlog._checkpoint_name(10))
    )
    horizon_ts = cp["ts"]
    assert horizon_ts is not None  # checkpoints carry the commit ts (r7)
    txlog.cleanup_log(root, keep_versions=1)
    # simulate the checkpoint-only horizon (stricter retention/log loss):
    # load_snapshot explicitly supports a version surviving only as a
    # checkpoint — this is the exact state the floor fix is for
    os.unlink(os.path.join(root, txlog.LOG_DIR, txlog._commit_name(10)))
    assert len(_rows(txlog.read_table(spark, root))) == 10  # still loads
    # wall clock steps BELOW the horizon's stamp, then a commit lands
    monkeypatch.setattr(
        txlog, "_now_iso", lambda: "2001-01-01 00:00:00+00:00"
    )
    txlog.append(spark, _mk(spark, [(99, "new")]), root)
    monkeypatch.undo()
    new_ts = txlog.history(root)[-1]["ts"]
    assert new_ts > horizon_ts  # floor held by the checkpoint's ts
    # AS-OF the new commit's stamp sees ALL 11 rows — ordering across
    # the cleaned boundary resolves correctly
    got = txlog.read_table(spark, root, timestamp=new_ts)
    assert len(_rows(got)) == 11


def test_load_snapshot_checkpoint_vanish_mid_read_is_retryable(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6: a checkpoint reclaimed by a concurrent cleanup_log
    between listing and read must surface as the retryable retention
    error, not a raw FileNotFoundError."""
    root = str(tmp_path / "t")
    for i in range(10):
        txlog.append(spark, _mk(spark, [(i, "x")]), root)

    real = txlog._read_json

    def vanish(path):
        if path.endswith(".checkpoint.json"):
            raise FileNotFoundError(path)
        return real(path)

    monkeypatch.setattr(txlog, "_read_json", vanish)
    with pytest.raises(ValueError, match="retry the read"):
        txlog.load_snapshot(root)


def test_timestamp_resolution_skips_commits_expired_mid_walk(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6: _resolve_timestamp and history racing cleanup_log skip
    the expired (oldest) commits instead of crashing."""
    root = str(tmp_path / "t")
    for i in range(4):
        txlog.append(spark, _mk(spark, [(i, "x")]), root)
    want = txlog.history(root)[-1]["ts"]

    real = txlog._read_json

    def vanish_v1(path):
        if path.endswith(txlog._commit_name(1)):
            raise FileNotFoundError(path)
        return real(path)

    monkeypatch.setattr(txlog, "_read_json", vanish_v1)
    assert [h["version"] for h in txlog.history(root)] == [2, 3, 4]
    assert txlog._resolve_timestamp(root, [1, 2, 3, 4], want) == 4


def test_datasource_timestamp_option_conflicts_raise(spark, tmp_path):
    """ADVICE r6: timestampAsOf combined with the version-addressed
    change-feed options must raise, not be silently ignored."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.append(spark, _mk(spark, [(2, "b")]), root)
    ts = txlog.history(root)[0]["ts"]
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    with pytest.raises((Py4JJavaError, AnalysisException, Exception)) as ei:
        (
            spark.read.format("txlog")
            .option("sinceVersion", 0)
            .option("timestampAsOf", ts)
            .load(root)
            .collect()
        )
    assert "cannot be combined" in str(ei.value)


# --------------------------------- round 7: Hive-partitioned convert


def _mk_hive(spark, tmp_path, name="hive"):
    root = str(tmp_path / name)
    df = spark.createDataFrame(
        [
            (i, f"v{i}", i % 3, "eu" if i % 2 else "us")
            for i in range(60)
        ],
        "k int, v string, bucket int, region string",
    )
    df.write.partitionBy("region", "bucket").mode("overwrite").parquet(root)
    return root


def test_convert_partitioned_round_trip_and_types(spark, tmp_path):
    """key=value trees adopt zero-copy: values come back typed from the
    directory names, rows identical to the pre-conversion read."""
    root = _mk_hive(spark, tmp_path)
    expect = _rows(
        spark.read.parquet(root).select("k", "v", "bucket", "region")
    )
    res = txlog.convert_to_txlog(spark, root)
    assert res["version"] == 1 and res["files_converted"] >= 6
    got = txlog.read_table(spark, root)
    assert dict(got.dtypes)["bucket"] == "int"
    assert dict(got.dtypes)["region"] == "string"
    assert _rows(got.select("k", "v", "bucket", "region")) == expect
    # no part files remain outside data/
    top = [n for n in os.listdir(root) if "=" in n]
    for d in top:
        for _, _, fnames in os.walk(os.path.join(root, d)):
            assert not any(f.endswith(".parquet") for f in fnames)


def test_convert_partitioned_stats_prune_partition_predicates(
    spark, tmp_path
):
    """Partition predicates prune adopted files through the one existing
    stats path — min==max entries derived from the directory values."""
    root = _mk_hive(spark, tmp_path)
    n_eu = spark.read.parquet(root).filter("region = 'eu'").count()
    txlog.convert_to_txlog(spark, root)
    df, report = txlog.scan(spark, root, where=[("region", "==", "eu")])
    assert report["files_scanned"] < report["files_total"]
    assert df.count() == n_eu
    # conjunction with a non-partition column still applies exactly
    df2, report2 = txlog.scan(
        spark, root, where=[("region", "==", "eu"), ("bucket", "==", 1)]
    )
    assert report2["files_scanned"] < report["files_scanned"]
    assert df2.count() == (
        spark.createDataFrame(
            [(i,) for i in range(60) if i % 2 and i % 3 == 1], "k int"
        ).count()
    )


def test_convert_partitioned_then_append_merge_optimize(spark, tmp_path):
    """Post-adoption writes store partition columns IN the data files —
    the mixed table (adopted + native files) reads as one DataFrame and
    every mutation path (append/delete/optimize) works across both."""
    root = _mk_hive(spark, tmp_path)
    txlog.convert_to_txlog(spark, root)
    extra = spark.createDataFrame(
        [(1000, "new", 9, "apac")], "k int, v string, bucket int, region string"
    )
    # column ORDER of the converted schema puts partition cols last —
    # append with the same order
    txlog.append(spark, extra.select(*txlog.load_snapshot(root).schema.fieldNames()), root)
    got = txlog.read_table(spark, root)
    assert got.count() == 61
    assert _rows(got.filter("region = 'apac'").select("k")) == [(1000,)]
    # delete spanning both layouts
    txlog.delete(spark, root, [("bucket", "==", 0)])
    got2 = txlog.read_table(spark, root)
    assert got2.filter("bucket = 0").count() == 0
    # optimize compacts WITHIN partitions (r8): adopted files stay
    # partitioned (key=value layout + injection dict regenerated),
    # results unchanged, and partition pruning still works after
    before = _rows(got2.select("k", "v", "bucket", "region"))
    txlog.optimize(spark, root, target_bytes=1 << 30)
    after = txlog.read_table(spark, root)
    assert _rows(after.select("k", "v", "bucket", "region")) == before
    snap = txlog.load_snapshot(root)
    assert any(e.get("partition") for e in snap.files.values())
    _, rep = txlog.scan(spark, root, where=[("region", "==", "eu")])
    assert rep["files_scanned"] < rep["files_total"]


def test_convert_partitioned_null_partition_value(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (3, "x")], "k int, p string"
    )
    df.write.partitionBy("p").mode("overwrite").parquet(root)
    txlog.convert_to_txlog(spark, root)
    got = txlog.read_table(spark, root)
    assert _rows(got) == [(1, None), (2, "x"), (3, "x")]
    # a predicate on p skips the all-NULL adopted file
    _, report = txlog.scan(spark, root, where=[("p", "==", "x")])
    assert report["files_scanned"] < report["files_total"]


def test_convert_rejects_mixed_flat_and_partitioned(spark, tmp_path):
    root = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k int, p string").write.partitionBy(
        "p"
    ).mode("overwrite").parquet(root)
    # drop a stray flat part file at the top level
    spark.createDataFrame([(2,)], "k int").write.mode("overwrite").parquet(
        str(tmp_path / "flat")
    )
    import glob
    import shutil

    stray = glob.glob(str(tmp_path / "flat" / "*.parquet"))[0]
    shutil.copy(stray, os.path.join(root, "stray.parquet"))
    with pytest.raises(ValueError, match="inconsistent partition layout"):
        txlog.convert_to_txlog(spark, root)


def test_convert_partitioned_change_feed_and_datasource(spark, tmp_path):
    """The change feed and the Python DataSource inject the directory-
    derived values for adopted files (CDF batch + snapshot read)."""
    root = _mk_hive(spark, tmp_path)
    expect = _rows(
        spark.read.parquet(root).select("k", "v", "bucket", "region")
    )
    txlog.convert_to_txlog(spark, root)
    feed = txlog.read_changes(spark, root, since_version=0)
    assert feed.count() == 60
    assert _rows(
        feed.select("k", "v", "bucket", "region")
    ) == expect
    assert _rows(feed.select("_commit_op").distinct()) == [("convert",)]
    got = (
        spark.read.format("txlog")
        .load(root)
        .select("k", "v", "bucket", "region")
    )
    assert _rows(got) == expect
    # partition predicate through the DataSource returns exact results
    assert (
        spark.read.format("txlog").load(root).filter("region = 'eu'").count()
        == sum(1 for i in range(60) if i % 2)
    )


def test_vacuum_walks_partition_subdirectories(spark, tmp_path):
    """Files adopted under data/key=value/ are reclaimed once
    unreferenced — vacuum walks the tree instead of listing data/."""
    root = _mk_hive(spark, tmp_path)
    txlog.convert_to_txlog(spark, root)
    n_adopted = len(txlog.load_snapshot(root).files)
    # rewrite everything into native files; adopted files become history
    txlog.optimize(spark, root, target_bytes=1 << 30)
    rep = txlog.vacuum(root, keep_versions=1, min_age_seconds=0)
    assert rep["deleted"] == n_adopted
    assert len(_rows(txlog.read_table(spark, root))) == 60


# ------------------------------------- round 7: commit-claim seam


class _ObjectStoreDouble:
    """In-memory conditional-PUT double (the S3 If-None-Match shape):
    put_if_absent succeeds iff the key is new. ``race_with`` injects a
    competing commit immediately BEFORE selected claims — the loser
    must observe False exactly like a lost link(2)/412 response. Writes
    through to the real filesystem on success so readers keep working."""

    def __init__(self, race_with=None, race_on_attempt=1):
        self.keys = set()
        self.puts = 0
        self._race = race_with
        self._race_on = race_on_attempt
        self._fs = txlog.LocalFSClaimBackend()

    def put_if_absent(self, target, payload):
        self.puts += 1
        if self._race is not None and self.puts == self._race_on:
            self._race()  # concurrent writer claims this version first
        if target in self.keys or os.path.exists(target):
            return False  # 412 Precondition Failed
        ok = self._fs.put_if_absent(target, payload)
        if ok:
            self.keys.add(target)
        return ok


def test_commit_claim_seam_swaps_and_handles_injected_race(
    spark, tmp_path
):
    """The optimistic commit loop is store-agnostic: running against a
    conditional-PUT double (instead of link(2)) with an injected race
    still serializes — the loser re-folds and lands on the next
    version, contents equal to the sequential outcome."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)

    def competing_commit():
        # runs inside the double, i.e. between build() and the claim —
        # use the REAL backend so the double doesn't recurse
        prev = txlog.set_claim_backend(txlog.LocalFSClaimBackend())
        try:
            txlog.append(spark, _mk(spark, [(2, "b")]), root)
        finally:
            txlog.set_claim_backend(prev)

    double = _ObjectStoreDouble(race_with=competing_commit)
    prev = txlog.set_claim_backend(double)
    try:
        res = txlog.append(spark, _mk(spark, [(3, "c")]), root)
    finally:
        txlog.set_claim_backend(prev)
    # lost attempt + winning retry both went through the seam
    assert double.puts >= 2
    assert res["version"] == 3  # the race winner took v2
    assert _rows(txlog.read_table(spark, root)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_convert_manifest_claim_goes_through_seam(spark, tmp_path):
    root = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a")], "k int, v string").write.mode(
        "overwrite"
    ).parquet(root)
    double = _ObjectStoreDouble()
    prev = txlog.set_claim_backend(double)
    try:
        txlog.convert_to_txlog(spark, root)
    finally:
        txlog.set_claim_backend(prev)
    # manifest claim + convert commit (+ possible checkpoint) all used
    # the pluggable primitive
    assert double.puts >= 2
    assert _rows(txlog.read_table(spark, root)) == [(1, "a")]


# ------------------------------------- round 7: partitioned write path


def test_append_partition_by_layout_pruning_and_read(spark, tmp_path):
    """Native partitioned writes: parts land under data/key=value with
    the same per-file metadata as adopted files — pruning, injection,
    and the two-leg read all reuse the convert machinery."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}", "eu" if i % 2 else "us") for i in range(40)],
        "k int, v string, region string",
    )
    txlog.append(spark, df, root, partition_by=["region"])
    # physical layout: key=value under data/
    snap = txlog.load_snapshot(root)
    assert all(
        rel.startswith(os.path.join(txlog.DATA_DIR, "region="))
        for rel in snap.files
    )
    assert all(e.get("partition") for e in snap.files.values())
    # round trip (partition col injected from dirs)
    got = txlog.read_table(spark, root)
    assert got.count() == 40 and got.filter("region = 'eu'").count() == 20
    # stats pruning on the partition column
    _, rep = txlog.scan(spark, root, where=[("region", "==", "eu")])
    assert rep["files_scanned"] < rep["files_total"]
    # python DataSource reads it too
    assert (
        spark.read.format("txlog").load(root).filter("region = 'us'").count()
        == 20
    )
    # a later flat append mixes fine
    txlog.append(
        spark,
        spark.createDataFrame([(100, "x", "apac")], "k int, v string, region string"),
        root,
    )
    assert txlog.read_table(spark, root).count() == 41
    with pytest.raises(ValueError, match="not in batch"):
        txlog.append(spark, df, root, partition_by=["nope"])


def test_overwrite_partition_by_and_optimize_preserves_layout(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k int, b int"
    )
    txlog.append(spark, df, root)
    txlog.overwrite(spark, df, root, partition_by=["b"])
    got = txlog.read_table(spark, root)
    assert got.count() == 30 and dict(got.dtypes)["b"] == "int"
    # optimize compacts WITHIN partitions (r8): the key=value layout
    # survives — one file per partition value, pruning intact
    txlog.optimize(spark, root, target_bytes=1 << 30)
    snap = txlog.load_snapshot(root)
    parts = [e["partition"]["b"] for e in snap.files.values()]
    assert sorted(parts) == [0, 1, 2]
    _, rep = txlog.scan(spark, root, where=[("b", "==", 1)])
    assert rep["files_scanned"] == 1 and rep["files_total"] == 3
    # a Z-order pass is the deliberate global fold-back
    txlog.optimize(spark, root, target_bytes=1 << 30, zorder_by=["k", "b"])
    snap2 = txlog.load_snapshot(root)
    assert not any(e.get("partition") for e in snap2.files.values())
    assert _rows(txlog.read_table(spark, root)) == _rows(df)


def test_append_partition_by_null_values(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, None), (2, "x")], "k int, p string")
    txlog.append(spark, df, root, partition_by=["p"])
    assert _rows(txlog.read_table(spark, root)) == [(1, None), (2, "x")]
    _, rep = txlog.scan(spark, root, where=[("p", "==", "x")])
    assert rep["files_scanned"] < rep["files_total"]


def test_append_partition_by_renamed_column_uses_physical_dirs(
    spark, tmp_path
):
    """partition_by takes LOGICAL names; the directory layout uses the
    frozen physical name so one stats keyspace holds across renames."""
    root = str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(1, "eu")], "k int, region string"),
        root,
    )
    txlog.rename_column(root, "region", "zone")
    txlog.append(
        spark,
        spark.createDataFrame([(2, "us"), (3, "eu")], "k int, zone string"),
        root,
        partition_by=["zone"],
    )
    snap = txlog.load_snapshot(root)
    parted = [rel for rel, e in snap.files.items() if e.get("partition")]
    assert parted and all("region=" in rel for rel in parted)
    got = txlog.read_table(spark, root)
    assert _rows(got) == [(1, "eu"), (2, "us"), (3, "eu")]
    assert got.filter("zone = 'eu'").count() == 2


# --------------------------------- round 7: code-review fixes


def test_read_projects_by_name_not_position(spark, tmp_path):
    """Review r7 #1: the basePath discovery leg returns partition
    columns LAST — a positional rename would silently relabel columns.
    Partition column in the MIDDLE of the schema + a rename is the
    reproducer: values must come back under the right names."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 42, "P1"), (2, 43, "P2")], "k int, p int, v string"
    )
    txlog.append(spark, df, root, partition_by=["p"])
    txlog.rename_column(root, "k", "id")
    got = txlog.read_table(spark, root)
    assert got.columns == ["id", "p", "v"]
    assert _rows(got) == [(1, 42, "P1"), (2, 43, "P2")]
    sdf, _ = txlog.scan(spark, root, where=[("v", "==", "P1")])
    assert _rows(sdf) == [(1, 42, "P1")]
    # column order matches the declared schema even without a rename
    root2 = str(tmp_path / "t2")
    txlog.append(spark, df, root2, partition_by=["p"])
    assert txlog.read_table(spark, root2).columns == ["k", "p", "v"]


def test_mixed_partition_layouts_read_as_separate_legs(spark, tmp_path):
    """Review r7 #3: appends partitioned by DIFFERENT columns must not
    feed one conflicting partition discovery — one leg per layout."""
    root = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "x", "eu")], "k int, a string, b string")
    df2 = spark.createDataFrame([(2, "y", "us")], "k int, a string, b string")
    txlog.append(spark, df1, root, partition_by=["a"])
    txlog.append(spark, df2, root, partition_by=["b"])
    txlog.append(  # plus a flat generation
        spark,
        spark.createDataFrame([(3, "z", "apac")], "k int, a string, b string"),
        root,
    )
    got = txlog.read_table(spark, root)
    assert _rows(got) == [(1, "x", "eu"), (2, "y", "us"), (3, "z", "apac")]
    # scan + delete still work across the mixed layouts
    sdf, _ = txlog.scan(spark, root, where=[("a", "==", "y")])
    assert _rows(sdf) == [(2, "y", "us")]
    txlog.delete(spark, root, [("k", "==", 1)])
    assert txlog.read_table(spark, root).count() == 2


def test_partition_by_hidden_column_name_rejected(spark, tmp_path):
    """Review r7 #2: Spark's path listing treats _/.-prefixed paths as
    hidden — such partition directories would silently lose the batch."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, _grp string")
    with pytest.raises(ValueError, match="cannot be a partition"):
        txlog.append(spark, df, root, partition_by=["_grp"])
    # nothing was committed or staged-and-lost
    assert txlog.load_snapshot(root).version == 0


def test_overwrite_resets_column_mapping_history(spark, tmp_path):
    """Review r7 #4: the schema-evolution error advertises overwrite()
    as the reset — make it real: a retired physical name is reusable
    after a whole-table replace (no old file survives to leak data)."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.drop_column(root, "v")
    with pytest.raises(ValueError, match="used physically"):
        txlog.append(spark, _mk(spark, [(2, "x")]), root, merge_schema=True)
    txlog.overwrite(spark, spark.createDataFrame([(9,)], "k int"), root)
    # the documented remedy now works
    txlog.append(spark, _mk(spark, [(10, "fresh")]), root, merge_schema=True)
    assert _rows(txlog.read_table(spark, root)) == [(9, None), (10, "fresh")]
    # and survives a checkpointed fold
    for i in range(11, 22):
        txlog.append(
            spark, _mk(spark, [(i, "z")]), root
        )
    assert txlog.load_snapshot(root).retired == set()


def test_partitioned_plan_legs_independent_of_partition_count(spark, tmp_path):
    """Scale shape: a partitioned table plans ONE scan leg per distinct
    partition layout (+1 for flat files) — never one per partition.
    60 partition values, 3 generations → exactly 3 'Scan parquet'
    nodes, and a partition predicate reaches the discovery leg as a
    JVM-side PartitionFilter."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 60, f"g{i % 4}") for i in range(240)],
        "k int, bucket int, grp string",
    )
    txlog.append(spark, df, root, partition_by=["bucket"])   # 60 dirs
    txlog.append(spark, df, root, partition_by=["grp"])      # 4 dirs
    txlog.append(spark, df.limit(5), root)                   # flat
    got = txlog.read_table(spark, root)
    assert got.count() == 485
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    import re as _re

    # formatted explain lists each node in the tree AND a detail
    # section — count the detail headers only
    scans = _re.findall(r"^\(\d+\) Scan parquet", plan, _re.M)
    assert len(scans) == 3  # one per layout + flat
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        got.filter("bucket = 7").explain("formatted")
    assert "PartitionFilters: [isnotnull(bucket" in buf2.getvalue()


def test_merge_into_partitioned_table(spark, tmp_path):
    """MERGE key-range pruning + rewrite across directory-partitioned
    files: candidates read through the discovery leg, rewrites land
    flat with the partition column folded into the data."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}", "eu" if i % 2 else "us", 1) for i in range(40)],
        "k int, v string, region string, seq int",
    )
    txlog.append(spark, df, root, partition_by=["region"])
    upd = spark.createDataFrame(
        [(3, "NEW", "eu", 2), (100, "ins", "apac", 2)],
        "k int, v string, region string, seq int",
    )
    txlog.merge(spark, upd, root, ["k"], "seq")
    got = txlog.read_table(spark, root)
    assert got.count() == 41
    assert _rows(got.filter("k = 3").select("v")) == [("NEW",)]
    assert _rows(got.filter("k = 100").select("region")) == [("apac",)]


def test_restore_across_rename_resolves_old_schema(spark, tmp_path):
    """RESTORE to a pre-rename version brings back that snapshot's
    schema (old logical names) as a new auditable commit; the rename
    remains time-travelable above it."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)  # v1
    txlog.rename_column(root, "v", "value")  # v2
    txlog.append(
        spark, spark.createDataFrame([(2, "b")], "k int, value string"), root
    )  # v3
    txlog.restore(spark, root, 1)  # v4
    got = txlog.read_table(spark, root)
    assert got.columns == ["k", "v"] and _rows(got) == [(1, "a")]
    # the renamed era is still readable above the restore
    v3 = txlog.read_table(spark, root, version=3)
    assert v3.columns == ["k", "value"]
    assert _rows(v3) == [(1, "a"), (2, "b")]
    # and writes after the restore use the restored names
    txlog.append(spark, _mk(spark, [(5, "e")]), root)
    assert _rows(txlog.read_table(spark, root)) == [(1, "a"), (5, "e")]
