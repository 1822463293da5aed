"""Round-9 txlog behaviors:

- URI-safe deletion-vector rel derivation (ADVICE r8 high: a table
  root containing a space / '%' / '+' silently no-op'd DV deletes and
  could unmask rows at scan time);
- DV-aware ``rows_deleted`` reporting in replace_where (VERDICT r8
  'what's wrong' #1);
- bounded row-level CDC consumption — ``max_versions`` /
  ``iter_row_changes`` (VERDICT r8 #3) and the tightened retention
  guard (ADVICE r8);
- CDC update pairing via ``key_cols`` (VERDICT r8 #5);
- parallel hot-partition compaction (VERDICT r8 #2);
- mask-debt maintenance trigger ``mask_fraction`` (VERDICT r8 #7);
- NaN partition values through the DataSource partitionBy write lane
  (ADVICE r8: silent row loss);
- row-level CDC through the DataSource stream (VERDICT r8 #8).
"""

import json
import os

import pytest

from metadata_driven_data_pipeline_spark.sinks import txlog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, pairs):
    # one file per append: the DV/boundary assertions below are about
    # masking within a file, not metadata drops of all-match files
    return spark.createDataFrame(pairs, "k int, v string").coalesce(1)


# ------------------------------------------------ URI-safe DV rels


@pytest.mark.parametrize("oddity", ["odd root", "pct%x", "plus+y"])
def test_dv_delete_works_on_roots_with_uri_hostile_chars(
    spark, tmp_path, oddity
):
    """_metadata.file_path is a URI (percent-encoded); rel derivation
    must decode it, not substring-match the raw path — on these roots
    the old derivation returned garbage, the DV delete silently
    no-op'd (rows_deleted=0), and a mask written by another path would
    silently UNMASK at scan time."""
    root = str(tmp_path / oddity / "t")
    txlog.append(spark, _mk(spark, [(i, f"v{i}") for i in range(10)]), root)
    rep = txlog.delete(
        spark, root, [("k", "<", 4)], deletion_vectors=True
    )
    assert rep["rows_deleted"] == 4
    assert rep["files_masked"] == 1
    assert _rows(txlog.read_table(spark, root)) == [
        (i, f"v{i}") for i in range(4, 10)
    ]


def test_dv_update_works_on_space_root(spark, tmp_path):
    root = str(tmp_path / "with space" / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)
    rep = txlog.update(
        spark, root, [("k", "==", 1)], {"v": "'A'"}, deletion_vectors=True
    )
    assert rep["rows_updated"] == 1
    assert _rows(txlog.read_table(spark, root)) == [(1, "A"), (2, "b")]


# -------------------------------- DV-aware rows_deleted reporting


def test_replace_where_counts_live_rows_only_on_masked_files(
    spark, tmp_path
):
    """Replacing a scope that contains a previously point-deleted
    (DV-masked) file must not re-count the already-deleted rows."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(i, "x") for i in range(10)]), root)
    txlog.delete(spark, root, [("k", "<", 3)], deletion_vectors=True)
    # file now: 10 physical rows, 3 masked, 7 live — replace them all
    rep = txlog.replace_where(
        spark,
        _mk(spark, [(50, "new")]),
        root,
        [("k", "<", 100)],
    )
    assert rep["rows_deleted"] == 7
    assert _rows(txlog.read_table(spark, root)) == [(50, "new")]


def test_replace_where_boundary_rewrite_counts_live_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(i, "x") for i in range(10)]), root)
    txlog.delete(spark, root, [("k", "==", 9)], deletion_vectors=True)
    # boundary: predicate covers part of the file -> rewrite path.
    # live rows 0..8; replacing k<5 deletes 5 live rows
    rep = txlog.replace_where(
        spark, _mk(spark, [(2, "new")]), root, [("k", "<", 5)]
    )
    assert rep["rows_deleted"] == 5
    assert _rows(txlog.read_table(spark, root)) == [(2, "new")] + [
        (i, "x") for i in range(5, 9)
    ]


# ------------------------------------ bounded row-level CDC + guard


def _mixed_history(spark, root):
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b"), (3, "c")]), root)
    txlog.append(spark, _mk(spark, [(4, "d")]), root)
    txlog.delete(spark, root, [("k", "==", 2)])
    txlog.update(spark, root, [("k", "==", 3)], {"v": "'C'"},
                 deletion_vectors=True)
    txlog.optimize(spark, root, target_bytes=1 << 30)
    txlog.append(spark, _mk(spark, [(5, "e")]), root)


def test_iter_row_changes_capped_chunks_equal_one_shot(spark, tmp_path):
    root = str(tmp_path / "t")
    _mixed_history(spark, root)
    one_shot = _rows(txlog.read_row_changes(spark, root, 0))
    chunks = list(txlog.iter_row_changes(spark, root, 0, max_versions=2))
    assert len(chunks) >= 3
    got = []
    last = 0
    for df, resume in chunks:
        vs = {r["_commit_version"] for r in df.select("_commit_version").collect()}
        # the cap bounds plan width: ≤ max_versions commits per job
        assert len(vs) <= 2
        assert all(last < v <= resume for v in vs)
        got.extend(_rows(df))
        last = resume
    assert sorted(got) == one_shot
    # resume cursor of the final chunk is the table head
    assert last == txlog.load_snapshot(root).version


def test_read_row_changes_max_versions_truncates(spark, tmp_path):
    root = str(tmp_path / "t")
    _mixed_history(spark, root)
    df = txlog.read_row_changes(spark, root, 0, max_versions=2)
    vs = {r["_commit_version"] for r in df.select("_commit_version").collect()}
    assert vs == {1, 2}
    with pytest.raises(ValueError, match="max_versions"):
        txlog.read_row_changes(spark, root, 0, max_versions=0)


def test_row_feed_retention_guard_names_earliest_cursor(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(12):
        txlog.append(spark, spark.createDataFrame([(i,)], "k int"), root)
    txlog.cleanup_log(root, keep_versions=2)
    commits, checkpoints = txlog._list_log(root)
    # the newest expired, non-checkpointed cursor — the ambiguous one
    bad = max(v for v in range(1, commits[0]) if v not in checkpoints)
    with pytest.raises(ValueError, match="earliest valid row-feed cursor"):
        txlog.read_row_changes(spark, root, bad)
    # a version retained only as a CHECKPOINT is a valid cursor, for the
    # batch feed and the rowLevel stream alike: expire the horizon's own
    # commit record so v{ck} survives as its checkpoint alone
    ck = min(c for c in checkpoints if c >= bad)
    os.unlink(os.path.join(txlog._log_path(root), txlog._commit_name(ck)))
    assert ck not in txlog._list_log(root)[0]
    batch = _rows(txlog.read_row_changes(spark, root, ck))
    assert batch
    seen: dict[int, list[tuple]] = {}

    def record(df, bid):
        seen[bid] = [tuple(r) for r in df.collect()]

    q = (
        spark.readStream.format("txlog")
        .option("rowLevel", "true")
        .option("sinceVersion", ck)
        .load(root)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(120)
    assert sorted(r for rows in seen.values() for r in rows) == batch


# ------------------------------------------- CDC update pairing


def test_key_cols_pairs_updates_and_keeps_plain_labels(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)  # v1
    txlog.update(spark, root, [("k", "==", 1)], {"v": "'A'"})  # v2
    txlog.delete(spark, root, [("k", "==", 2)])  # v3
    txlog.append(spark, _mk(spark, [(3, "c")]), root)  # v4

    feed = txlog.read_row_changes(spark, root, 0, key_cols=["k"])
    got = _rows(feed.select("k", "v", "_change_type", "_commit_version"))
    assert got == [
        (1, "A", "update_postimage", 2),
        (1, "a", "insert", 1),
        (1, "a", "update_preimage", 2),
        (2, "b", "delete", 3),
        (2, "b", "insert", 1),
        (3, "c", "insert", 4),
    ]
    # a non-keyed consumer still sees the plain delete+insert form
    plain = _rows(
        txlog.read_row_changes(spark, root, 1, 2).select(
            "k", "v", "_change_type"
        )
    )
    assert plain == [(1, "A", "insert"), (1, "a", "delete")]


def test_key_cols_merge_splits_update_insert_delete(spark, tmp_path):
    """One MERGE that updates an existing key, inserts a new key, and
    (not-matched-by-source) deletes another: each half pairs only where
    the key appears on both sides."""
    root = str(tmp_path / "t")
    txlog.append(
        spark, _mk(spark, [(1, "a"), (2, "b"), (3, "x")]), root
    )  # v1
    v = txlog.load_snapshot(root).version
    txlog.merge(
        spark,
        _mk(spark, [(1, "z"), (9, "new")]),  # "z" wins keep-latest on v
        root,
        ["k"],
        "v",
        when_not_matched_by_source_delete="k = 3",
    )
    feed = txlog.read_row_changes(spark, root, v, key_cols=["k"])
    got = _rows(feed.select("k", "v", "_change_type"))
    assert got == [
        (1, "a", "update_preimage"),
        (1, "z", "update_postimage"),
        (3, "x", "delete"),
        (9, "new", "insert"),
    ]
    with pytest.raises(ValueError, match="key_cols"):
        txlog.read_row_changes(spark, root, 0, key_cols=["nope"])


# ------------------------------------- hot-partition compaction


def test_optimize_splits_hot_partition_into_right_sized_files(
    spark, tmp_path
):
    """A partition value 4x over target compacts across multiple tasks
    into >=2 files each ~target-bounded, while a small value still
    lands exactly one file — compaction no longer serializes a skewed
    layout on one straggler task (VERDICT r8 'what's wrong' #2)."""
    import uuid as _uuid

    root = str(tmp_path / "t")
    hot = [(i, _uuid.uuid4().hex * 4, "hot") for i in range(4000)]
    cold = [(i, _uuid.uuid4().hex * 4, "cold") for i in range(50)]
    df = spark.createDataFrame(hot + cold, "k int, payload string, p string")
    txlog.append(spark, df, root, partition_by=["p"])
    before = _rows(txlog.read_table(spark, root))

    snap = txlog.load_snapshot(root)
    hot_bytes = sum(
        e.get("bytes", 0)
        for e in snap.files.values()
        if (e.get("partition") or {}).get("p") == "hot"
    )
    target = hot_bytes // 4
    rep = txlog.optimize(spark, root, target_bytes=target)
    assert not rep.get("skipped")

    snap2 = txlog.load_snapshot(root)
    hot_files = {
        p: e
        for p, e in snap2.files.items()
        if (e.get("partition") or {}).get("p") == "hot"
    }
    cold_files = {
        p: e
        for p, e in snap2.files.items()
        if (e.get("partition") or {}).get("p") == "cold"
    }
    assert len(hot_files) >= 2  # parallel, not one oversized file
    for e in hot_files.values():
        assert e["bytes"] <= 2 * target
    assert len(cold_files) == 1  # small partitions: still one file
    # layout preserved: every file keeps its key=value directory
    assert all("p=hot" in p for p in hot_files)
    assert all("p=cold" in p for p in cold_files)
    assert _rows(txlog.read_table(spark, root)) == before


def test_zorder_within_partitions_keeps_layout_and_clusters(
    spark, tmp_path
):
    """optimize(zorder_by=, within_partitions=True) — the Delta
    OPTIMIZE ZORDER shape for partitioned tables: every partition value
    keeps its key=value directory, a hot value re-clusters into
    Z-key-range-DISJOINT right-sized files, and the global mode's
    layout-folding behavior is untouched."""
    import uuid as _uuid

    root = str(tmp_path / "t")
    # shuffled keys so pre-optimize files have overlapping k ranges
    hot = [(i * 7919 % 4000, _uuid.uuid4().hex * 4, "hot") for i in range(4000)]
    small = [(i, _uuid.uuid4().hex * 4, "small") for i in range(50)]
    df = spark.createDataFrame(hot + small, "k int, payload string, p string")
    txlog.append(spark, df.repartition(6), root, partition_by=["p"])
    before = _rows(txlog.read_table(spark, root))

    snap = txlog.load_snapshot(root)
    hot_bytes = sum(
        e.get("bytes", 0)
        for e in snap.files.values()
        if (e.get("partition") or {}).get("p") == "hot"
    )
    rep = txlog.optimize(
        spark,
        root,
        target_bytes=hot_bytes // 3,
        zorder_by=["k"],
        within_partitions=True,
    )
    assert not rep.get("skipped")
    snap2 = txlog.load_snapshot(root)
    hot_files = {
        p: e
        for p, e in snap2.files.items()
        if (e.get("partition") or {}).get("p") == "hot"
    }
    small_files = {
        p: e
        for p, e in snap2.files.items()
        if (e.get("partition") or {}).get("p") == "small"
    }
    # layout preserved (the global mode would have flattened it)
    assert all("p=hot" in p for p in hot_files)
    assert all("p=small" in p for p in small_files)
    assert len(small_files) == 1
    # hot value: parallel AND clustered — k ranges disjoint across files
    assert len(hot_files) >= 2
    spans = sorted(
        (e["stats"]["k"]["min"], e["stats"]["k"]["max"])
        for e in hot_files.values()
    )
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # Z-key-range-disjoint: predicates prune
    assert _rows(txlog.read_table(spark, root)) == before
    # clustered stats actually prune: a narrow k slice skips files
    _, report = txlog.scan(spark, root, [("k", "<", 100)])
    assert report["files_scanned"] < report["files_total"]

    with pytest.raises(ValueError, match="within_partitions"):
        txlog.optimize(spark, root, within_partitions=True)


# --------------------------------------- mask-debt maintenance


def test_mask_fraction_rewrites_heavily_masked_file_only(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(i, "a") for i in range(100)]), root)
    txlog.append(
        spark, _mk(spark, [(i, "b") for i in range(1000, 1100)]), root
    )
    # mask 60% of file A; file B is stats-pruned (never opened)
    txlog.delete(spark, root, [("k", "<", 60)], deletion_vectors=True)
    snap = txlog.load_snapshot(root)
    masked = [p for p, e in snap.files.items() if e.get("dv")]
    clean = [p for p, e in snap.files.items() if not e.get("dv")]
    assert len(masked) == 1 and len(clean) == 1
    clean_mtime = os.path.getmtime(os.path.join(root, clean[0]))

    # bin-pack pass that selects nothing by size (threshold 1 byte) but
    # folds the mask-debt file
    rep = txlog.optimize(
        spark, root, small_file_bytes=1, mask_fraction=0.5
    )
    assert not rep.get("skipped")
    snap2 = txlog.load_snapshot(root)
    assert all(not e.get("dv") for e in snap2.files.values())
    assert masked[0] not in snap2.files  # rewritten mask-free
    assert clean[0] in snap2.files  # untouched, same bytes on disk
    assert os.path.getmtime(os.path.join(root, clean[0])) == clean_mtime
    assert _rows(txlog.read_table(spark, root)) == [
        (i, "a") for i in range(60, 100)
    ] + [(i, "b") for i in range(1000, 1100)]
    # alone, mask_fraction would select every file: it only modifies a
    # bin-packed compaction, so it raises and commits nothing
    with pytest.raises(ValueError, match="mask_fraction only modifies"):
        txlog.optimize(spark, root, mask_fraction=0.5)
    snap3 = txlog.load_snapshot(root)
    assert (snap3.version, snap3.files) == (snap2.version, snap2.files)


def test_mask_fraction_below_threshold_is_noop(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(i, "a") for i in range(100)]), root)
    txlog.delete(spark, root, [("k", "<", 10)], deletion_vectors=True)
    rep = txlog.optimize(
        spark, root, small_file_bytes=1, mask_fraction=0.5
    )
    assert rep.get("skipped")  # 10% masked < 50% threshold: keep the DV


def test_maintenance_spec_mask_fraction(spark, tmp_path):
    from metadata_driven_data_pipeline_spark.orchestrate import (
        run_table_maintenance,
    )

    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(i, "a") for i in range(50)]), root)
    txlog.delete(spark, root, [("k", "<", 40)], deletion_vectors=True)
    reports = run_table_maintenance(
        spark,
        [
            {
                "table": root,
                "optimize": {"smallFileBytes": 1, "maskFraction": 0.5},
            }
        ],
    )
    assert not reports[0]["optimize"].get("skipped")
    snap = txlog.load_snapshot(root)
    assert all(not e.get("dv") for e in snap.files.values())


# --------------------------- DataSource partitionBy NaN handling


def test_ds_partitionby_nan_rows_are_staged_not_dropped(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, float("nan")), (2, 1.5), (3, float("nan"))],
        "k int, p double",
    )
    df.write.format("txlog").option("partitionBy", "p").mode(
        "append"
    ).save(root)
    snap = txlog.load_snapshot(root)
    assert sum(e["rows"] for e in snap.files.values()) == 3
    dirs = {os.path.dirname(p) for p in snap.files}
    assert any(p.endswith("p=NaN") for p in dirs)
    back = txlog.read_table(spark, root)
    from pyspark.sql import functions as F

    assert back.count() == 3
    assert back.filter(F.isnan("p")).count() == 2


# --------------------------- row-level CDC through the stream


def test_rowlevel_stream_equals_batch_feed(spark, tmp_path):
    """readStream rowLevel=true over a mixed append/delete/DV-update/
    optimize history drains to exactly the batch read_row_changes feed
    (VERDICT r8 #8), under capped admission, with checkpointed resume
    picking up post-drain commits only."""
    root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _mixed_history(spark, root)
    batch = _rows(txlog.read_row_changes(spark, root, 0))

    seen: dict[int, list[tuple]] = {}

    def drain():
        # foreachBatch is at-least-once: key by batchId so a replayed
        # batch overwrites itself (the idempotent-sink contract)
        def record(df, bid):
            seen[bid] = [tuple(r) for r in df.collect()]

        q = (
            spark.readStream.format("txlog")
            .option("rowLevel", "true")
            .option("maxVersionsPerTrigger", 3)
            .load(root)
            .writeStream.foreachBatch(record)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(120)

    drain()
    assert len(seen) >= 2  # capped admission: >1 micro-batch to drain 6
    got = sorted(r for rows in seen.values() for r in rows)
    assert got == batch

    # resume from the same checkpoint: one more DV-delete; only its
    # deltas arrive in the new batches
    prev_bids = set(seen)
    txlog.delete(spark, root, [("k", "==", 4)], deletion_vectors=True)
    drain()
    got2 = sorted(r for rows in seen.values() for r in rows)
    assert got2 == _rows(txlog.read_row_changes(spark, root, 0))
    new = [r for b, rows in seen.items() if b not in prev_bids for r in rows]
    assert [(r[0], r[2]) for r in new] == [(4, "delete")]


def test_rowlevel_stream_keycols_pairs_updates(spark, tmp_path):
    """option("keyCols", ...) on the rowLevel stream mirrors the batch
    feed's key_cols pairing: the DV-update commit's halves arrive as
    update_preimage/update_postimage, everything else keeps its plain
    label, and the drained feed equals the keyed batch feed."""
    root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _mixed_history(spark, root)

    seen: dict[int, list[tuple]] = {}

    def record(df, bid):
        seen[bid] = [tuple(r) for r in df.collect()]

    q = (
        spark.readStream.format("txlog")
        .option("rowLevel", "true")
        .option("keyCols", "k")
        .load(root)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(120)
    got = sorted(r for rows in seen.values() for r in rows)
    assert got == _rows(txlog.read_row_changes(spark, root, 0, key_cols=["k"]))
    labels = {r[2] for r in got}
    assert {"update_preimage", "update_postimage"} <= labels

    with pytest.raises(ValueError, match="keyCols"):
        from metadata_driven_data_pipeline_spark.sources.txlog_datasource import (
            TxlogDataSource,
        )

        ds = TxlogDataSource(
            options={"path": root, "rowlevel": "true", "keycols": "nope"}
        )
        ds.streamReader(ds.schema())


def test_merge_unconditional_upsert_and_txn(spark, tmp_path):
    """order_col=None: the batch row always replaces its matched target
    row (whenMatchedUpdateAll) — no recency column; key-duplicate
    batches raise; txn gives merge the same per-app exactly-once
    contract as append."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "zzz"), (2, "b")]), root)
    # with an order_col, "aaa" would LOSE to "zzz"; unconditional wins
    txlog.merge(
        spark, _mk(spark, [(1, "aaa"), (3, "c")]), root, ["k"], None
    )
    assert _rows(txlog.read_table(spark, root)) == [
        (1, "aaa"),
        (2, "b"),
        (3, "c"),
    ]
    with pytest.raises(ValueError, match="at most one row per key"):
        txlog.merge(
            spark, _mk(spark, [(7, "x"), (7, "y")]), root, ["k"], None
        )
    v = txlog.load_snapshot(root).version
    txlog.merge(
        spark, _mk(spark, [(4, "d")]), root, ["k"], None,
        txn=("repl-app", 10),
    )
    assert txlog.load_snapshot(root).version == v + 1
    # at-least-once replay of the same batch id: metadata no-op
    rep = txlog.merge(
        spark, _mk(spark, [(4, "DUP")]), root, ["k"], None,
        txn=("repl-app", 10),
    )
    assert rep["skipped"] is True
    assert txlog.load_snapshot(root).version == v + 1
    assert (4, "d") in _rows(txlog.read_table(spark, root))


def test_replicate_keyed_table_end_to_end(spark, tmp_path):
    """replicate(): source row feed → capped chunks → one exactly-once
    MERGE per chunk; replica converges to the source through appends,
    deletes, DV updates and rewrites, resumes from the txn watermark,
    and re-running is a no-op."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    _mixed_history(spark, src)  # 6 commits incl. delete/DV-update/optimize
    rep = txlog.replicate(spark, src, tgt, ["k"], max_versions=2)
    assert rep["chunks_applied"] >= 2
    assert set(txlog.load_snapshot(tgt).txns) == {
        f"txlog-replicate:{os.path.abspath(src)}"
    }
    assert rep["to_version"] == txlog.load_snapshot(src).version
    assert _rows(txlog.read_table(spark, tgt)) == _rows(
        txlog.read_table(spark, src)
    )

    # idempotent re-run: watermark says everything is applied
    v_tgt = txlog.load_snapshot(tgt).version
    rep2 = txlog.replicate(spark, src, tgt, ["k"], max_versions=2)
    assert rep2["chunks_applied"] == 0
    assert txlog.load_snapshot(tgt).version == v_tgt

    # source advances (delete + append): one incremental chunk applies
    txlog.delete(spark, src, [("k", "==", 4)])
    txlog.append(spark, _mk(spark, [(9, "z")]), src)
    rep3 = txlog.replicate(spark, src, tgt, ["k"], max_versions=10)
    assert rep3["chunks_applied"] == 1
    assert _rows(txlog.read_table(spark, tgt)) == _rows(
        txlog.read_table(spark, src)
    )

    # trailing rewrite-only range: nets to zero, watermark stays behind,
    # next run is still a converged no-op
    txlog.optimize(spark, src, target_bytes=1 << 30)
    rep4 = txlog.replicate(spark, src, tgt, ["k"], max_versions=10)
    assert rep4["chunks_applied"] == 0 and rep4["chunks_empty"] == 1
    assert _rows(txlog.read_table(spark, tgt)) == _rows(
        txlog.read_table(spark, src)
    )


def test_maintenance_spec_replicate(spark, tmp_path):
    """Declarative replication: a maintenance spec on the TARGET table
    names its source; re-running the spec is exactly-once."""
    from metadata_driven_data_pipeline_spark.orchestrate import (
        run_table_maintenance,
    )

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), src)
    txlog.delete(spark, src, [("k", "==", 2)])
    spec = [
        {
            "table": tgt,
            "replicate": {"source": src, "keyCols": ["k"], "maxVersions": 1},
        }
    ]
    reports = run_table_maintenance(spark, spec)
    assert reports[0]["replicate"]["chunks_applied"] >= 1
    assert _rows(txlog.read_table(spark, tgt)) == [(1, "a")]
    v = txlog.load_snapshot(tgt).version
    reports2 = run_table_maintenance(spark, spec)  # DAG re-run: no-op
    assert reports2[0]["replicate"]["chunks_applied"] == 0
    assert txlog.load_snapshot(tgt).version == v


def test_replicate_rejects_null_keys(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    txlog.append(
        spark,
        spark.createDataFrame([(None, "a"), (1, "b")], "k int, v string"),
        src,
    )
    with pytest.raises(ValueError, match="non-NULL keys"):
        txlog.replicate(spark, src, tgt, ["k"])


def test_since_timestamp_cursor_equals_version_cursor(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)  # v1
    txlog.append(spark, _mk(spark, [(2, "b")]), root)  # v2
    txlog.delete(spark, root, [("k", "==", 1)])  # v3
    ts1 = txlog.history(root)[0]["ts"]  # instant of v1
    assert _rows(
        txlog.read_row_changes(spark, root, since_timestamp=ts1)
    ) == _rows(txlog.read_row_changes(spark, root, 1))
    assert _rows(
        txlog.read_changes(spark, root, since_timestamp=ts1)
    ) == _rows(txlog.read_changes(spark, root, 1))
    with pytest.raises(ValueError, match="not both"):
        txlog.read_row_changes(spark, root, 1, since_timestamp=ts1)
    with pytest.raises(ValueError, match="since_version or since_timestamp"):
        txlog.read_changes(spark, root)


def test_read_changes_max_versions_caps_and_resumes(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(5):
        txlog.append(spark, _mk(spark, [(i, f"v{i}")]), root)
    full = _rows(txlog.read_changes(spark, root, 0))
    got = []
    cursor = 0
    hops = 0
    while True:
        df = txlog.read_changes(spark, root, cursor, max_versions=2)
        rows = _rows(df)
        if not rows:
            break
        vs = {r[2] for r in rows}  # _commit_version column
        assert len(vs) <= 2
        got.extend(rows)
        cursor = max(vs)
        hops += 1
    assert hops == 3  # ceil(5/2)
    assert sorted(got) == full


def test_rowlevel_stream_rejects_skip_change_commits(spark, tmp_path):
    from metadata_driven_data_pipeline_spark.sources.txlog_datasource import (
        TxlogDataSource,
    )

    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    ds = TxlogDataSource(
        options={
            "path": root,
            "rowlevel": "true",
            "skipchangecommits": "true",
        }
    )
    with pytest.raises(ValueError, match="skipChangeCommits"):
        ds.streamReader(ds.schema())


def test_rowlevel_batch_read_points_at_jvm_lane(spark, tmp_path):
    from metadata_driven_data_pipeline_spark.sources.txlog_datasource import (
        TxlogDataSource,
    )

    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    ds = TxlogDataSource(options={"path": root, "rowlevel": "true"})
    with pytest.raises(ValueError, match="read_row_changes"):
        ds.reader(ds.schema())
