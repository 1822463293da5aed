"""Round-10 txlog behaviors:

- conditional MERGE clauses — ``when_matched_update(set, condition)``
  / ``when_not_matched_insert(values, condition)`` (VERDICT r9 #2):
  per-clause predicates and column maps folded into the same
  file-pruned rewrite, clause precedence, bootstrap, pruning;
- MERGE / replicate schema evolution — ``merge(merge_schema=True)``
  and replicate auto-evolving across an add-column commit
  (VERDICT r9 #5);
- replicate cursor advance on zero-net chunks via a metadata-only
  txn commit (VERDICT r9 #3 / ADVICE r9): an OPTIMIZE-only backlog is
  diffed at most once and replicate stays exactly-once under replay;
- replicate duplicate-key detection (ADVICE r9 medium: a
  contract-violating duplicate-keyed source raises instead of
  silently collapsing to an arbitrary row);
- continuous replication under the streaming engine —
  ``replicate_stream`` = rowLevel stream → foreachBatch → exactly-once
  MERGE with checkpointed resume (VERDICT r9 #4);
- stream-lane parity fixes (ADVICE r9): the ``sinceVersion=0``
  retention guard on an expired log, and -0.0 / NaN normalization so
  a sign-flip rewrite cancels exactly like the batch lane's EXCEPT ALL.
"""

import os

import pytest
from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.sinks import txlog
from metadata_driven_data_pipeline_spark.sources import txlog_datasource


def _mk(spark, tmp_path, name):
    return os.path.join(str(tmp_path), name)


# ---------------------------------------------------------- conditional merge


def _seed_target(spark, root):
    tgt = spark.createDataFrame(
        [(1, "a", 10.0, 100), (2, "b", 20.0, 100), (3, "c", 30.0, 300)],
        "k int, name string, price double, ts int",
    )
    txlog.append(spark, tgt.repartition(2), root)


def test_when_matched_update_condition_and_set(spark, tmp_path):
    root = _mk(spark, tmp_path, "cond1")
    _seed_target(spark, root)
    batch = spark.createDataFrame(
        [
            (1, "A", 11.0, 200),  # newer ts -> update fires
            (3, "C", 33.0, 100),  # older ts -> target row untouched
        ],
        "k int, name string, price double, ts int",
    )
    txlog.merge(
        spark,
        batch,
        root,
        ["k"],
        order_col=None,
        when_matched_update={
            "set": {"price": "s.price", "ts": "s.ts"},
            "condition": "s.ts > t.ts",
        },
    )
    rows = {r.k: (r.name, r.price, r.ts) for r in txlog.read_table(spark, root).collect()}
    # listed columns updated, UNLISTED column (name) keeps target value
    assert rows[1] == ("a", 11.0, 200)
    # condition false -> matched row fully untouched
    assert rows[3] == ("c", 30.0, 300)
    # unmatched target row untouched; no insert clause -> batch-only keys dropped
    assert rows[2] == ("b", 20.0, 100)
    assert set(rows) == {1, 2, 3}


def test_when_not_matched_insert_values_and_defaults(spark, tmp_path):
    root = _mk(spark, tmp_path, "cond2")
    _seed_target(spark, root)
    batch = spark.createDataFrame(
        [(9, "z", 99.0, 500), (8, "y", -1.0, 500)],
        "k int, name string, price double, ts int",
    )
    txlog.merge(
        spark,
        batch,
        root,
        ["k"],
        order_col=None,
        when_not_matched_insert={
            "values": {"price": "s.price", "ts": "s.ts"},
            "condition": "s.price > 0",
        },
    )
    rows = {r.k: (r.name, r.price, r.ts) for r in txlog.read_table(spark, root).collect()}
    # inserted with defaults: unlisted non-key column NULL, key defaulted to s.k
    assert rows[9] == (None, 99.0, 500)
    # insert condition false -> row not inserted
    assert 8 not in rows
    assert set(rows) == {1, 2, 3, 9}


def test_clause_interaction_delete_beats_update(spark, tmp_path):
    root = _mk(spark, tmp_path, "cond3")
    _seed_target(spark, root)
    batch = spark.createDataFrame(
        [(1, "x", 111.0, 999), (2, "y", 222.0, 999)],
        "k int, name string, price double, ts int",
    )
    txlog.merge(
        spark,
        batch,
        root,
        ["k"],
        order_col=None,
        when_matched_delete="s.price > 200",
        when_matched_update={"set": {"price": "s.price"}},
    )
    rows = {r.k: r.price for r in txlog.read_table(spark, root).collect()}
    assert 2 not in rows  # delete clause wins over the update clause
    assert rows[1] == 111.0  # update clause fired
    assert rows[3] == 30.0


def test_conditional_composes_with_not_matched_by_source(spark, tmp_path):
    root = _mk(spark, tmp_path, "cond4")
    _seed_target(spark, root)
    batch = spark.createDataFrame(
        [(1, "A", 12.0, 999)], "k int, name string, price double, ts int"
    )
    txlog.merge(
        spark,
        batch,
        root,
        ["k"],
        order_col=None,
        when_matched_update={"set": {"price": "s.price"}},
        when_not_matched_by_source_delete="t.ts >= 300",
    )
    rows = {r.k: r.price for r in txlog.read_table(spark, root).collect()}
    assert rows[1] == 12.0
    assert rows[2] == 20.0  # target-only, predicate false -> kept
    assert 3 not in rows  # target-only, predicate true -> deleted


def test_conditional_bootstrap_insert_only(spark, tmp_path):
    root = _mk(spark, tmp_path, "cond5")
    batch = spark.createDataFrame([(1, 5.0), (2, -1.0)], "k int, v double")
    txlog.merge(
        spark,
        batch,
        root,
        ["k"],
        order_col=None,
        when_not_matched_insert={"values": True, "condition": "s.v > 0"},
    )
    rows = txlog.read_table(spark, root).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 5.0)]


def test_conditional_merge_keeps_key_range_pruning(spark, tmp_path):
    root = _mk(spark, tmp_path, "cond6")
    lo = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    hi = spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    txlog.append(spark, lo.coalesce(1), root)
    txlog.append(spark, hi.coalesce(1), root)
    batch = spark.createDataFrame([(5, 9.0), (7, 9.0)], "k int, v double")
    rep = txlog.merge(
        spark,
        batch,
        root,
        ["k"],
        order_col=None,
        when_matched_update={"set": {"v": "s.v"}},
        when_not_matched_insert=True,
    )
    # only the low-key file overlaps the batch's key range
    assert rep["files_rewritten"] == 1
    got = txlog.read_table(spark, root)
    assert got.filter("v = 9.0").count() == 2
    assert got.count() == 200


def test_conditional_merge_requires_key_unique_batch(spark, tmp_path):
    root = _mk(spark, tmp_path, "cond7")
    _seed_target(spark, root)
    dup = spark.createDataFrame(
        [(1, "a", 1.0, 1), (1, "b", 2.0, 2)],
        "k int, name string, price double, ts int",
    )
    with pytest.raises(ValueError, match="key-unique|at most one row"):
        txlog.merge(
            spark,
            dup,
            root,
            ["k"],
            order_col=None,
            when_matched_update={"set": {"price": "s.price"}},
        )
    with pytest.raises(ValueError, match="order_col=None"):
        txlog.merge(
            spark,
            dup,
            root,
            ["k"],
            order_col="ts",
            when_matched_update={"set": {"price": "s.price"}},
        )


# ------------------------------------------------------------ merge_schema


def test_merge_schema_evolves_and_null_fills(spark, tmp_path):
    root = _mk(spark, tmp_path, "mschema")
    txlog.append(
        spark, spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double"), root
    )
    # batch ADDS a column the table lacks
    batch = spark.createDataFrame([(2, 22.0, "t2"), (5, 5.0, "t5")], "k int, v double, tag string")
    txlog.merge(spark, batch, root, ["k"], order_col=None, merge_schema=True)
    got = {r.k: (r.v, r.tag) for r in txlog.read_table(spark, root).collect()}
    assert got == {1: (1.0, None), 2: (22.0, "t2"), 5: (5.0, "t5")}
    # batch LACKS a column the table now has -> NULL-filled on the batch side
    batch2 = spark.createDataFrame([(7, 7.0)], "k int, v double")
    txlog.merge(spark, batch2, root, ["k"], order_col=None, merge_schema=True)
    got2 = {r.k: r.tag for r in txlog.read_table(spark, root).collect()}
    assert got2[7] is None and got2[2] == "t2"
    # without merge_schema a widening batch does NOT evolve the table:
    # it is rejected, as append rejects it, and the table is unchanged
    with pytest.raises(ValueError, match="txlog merge schema mismatch"):
        txlog.merge(
            spark,
            spark.createDataFrame(
                [(9, 9.0, "x", 1)], "k int, v double, tag string, extra int"
            ),
            root,
            ["k"],
            order_col=None,
        )
    t = txlog.read_table(spark, root)
    assert "extra" not in t.columns and 9 not in {r.k for r in t.collect()}


# ------------------------------------------------- replicate round-10 fixes


def test_replicate_zero_net_backlog_advances_cursor(spark, tmp_path):
    src = _mk(spark, tmp_path, "src_opt")
    tgt = _mk(spark, tmp_path, "tgt_opt")
    df = spark.range(0, 64).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    txlog.append(spark, df.repartition(4), src)
    txlog.replicate(spark, src, tgt, ["k"], max_versions=4)
    # a long rewrite-only history: OPTIMIZE commits net zero rows
    for _ in range(6):
        txlog.optimize(spark, src, target_bytes=64 * 1024 * 1024)
    src_v = txlog.load_snapshot(src).version
    r = txlog.replicate(spark, src, tgt, ["k"], max_versions=1)
    assert r["chunks_empty"] == 6 and r["chunks_applied"] == 0
    assert r["to_version"] == src_v
    # the cursor advanced: the next call re-diffs NOTHING and commits nothing
    v_tgt = txlog.load_snapshot(tgt).version
    r2 = txlog.replicate(spark, src, tgt, ["k"], max_versions=1)
    assert r2["chunks_applied"] == 0 and r2["chunks_empty"] == 0
    assert txlog.load_snapshot(tgt).version == v_tgt
    # zero target data files were rewritten by the watermark commits
    snap = txlog.load_snapshot(tgt)
    assert snap.txns[r["app_id"]] == src_v
    # exactly-once under replay: re-applying an old chunk range is a no-op
    assert txlog.read_table(spark, tgt).count() == 64


def test_replicate_duplicate_key_raises(spark, tmp_path):
    src = _mk(spark, tmp_path, "src_dup")
    tgt = _mk(spark, tmp_path, "tgt_dup")
    txlog.append(
        spark,
        spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 3.0)], "k int, v double"),
        src,
    )
    with pytest.raises(ValueError, match="duplicate key"):
        txlog.replicate(spark, src, tgt, ["k"])


def test_replicate_auto_evolves_schema(spark, tmp_path):
    src = _mk(spark, tmp_path, "src_ev")
    tgt = _mk(spark, tmp_path, "tgt_ev")
    df = spark.range(0, 20).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    txlog.append(spark, df, src)
    txlog.replicate(spark, src, tgt, ["k"])
    # source adds a column mid-history; replication converges WITHOUT a
    # manual target evolve, historic target files read the column as NULL
    txlog.append(
        spark,
        spark.createDataFrame([(100, 1.0, "new")], "k long, v double, tag string"),
        src,
        merge_schema=True,
    )
    txlog.replicate(spark, src, tgt, ["k"])
    t = txlog.read_table(spark, tgt)
    s = txlog.read_table(spark, src)
    assert "tag" in t.columns
    assert t.exceptAll(s).count() == 0 and s.exceptAll(t).count() == 0
    assert t.filter("k < 100 AND tag IS NULL").count() == 20


# ------------------------------------------------------- replicate_stream


def test_replicate_stream_converges_and_resumes(spark, tmp_path):
    src = _mk(spark, tmp_path, "src_st")
    tgt = _mk(spark, tmp_path, "tgt_st")
    ckpt = _mk(spark, tmp_path, "ckpt_st")
    df = spark.range(0, 120).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    txlog.append(spark, df.repartitionByRange(3, "k"), src)  # v1
    txlog.update(
        spark, src, [("k", ">=", 30), ("k", "<", 40)], {"v": "v * 2"},
        deletion_vectors=True,
    )  # v2
    txlog.delete(spark, src, [("k", "<", 5)])  # v3
    txlog.append(
        spark,
        df.filter("k < 5").select((F.col("k") + 500).alias("k"), "v"),
        src,
    )  # v4
    txlog.replicate_stream(spark, src, tgt, ["k"], ckpt, max_versions=2)
    s = txlog.read_table(spark, src)
    t = txlog.read_table(spark, tgt)
    assert t.exceptAll(s).count() == 0 and s.exceptAll(t).count() == 0
    # >= 2 micro-batches were applied (4 commits / maxVersionsPerTrigger=2)
    app = f"txlog-replicate-stream:{os.path.abspath(src)}"
    assert txlog.load_snapshot(tgt).txns[app] >= 1
    # idempotent restart: same checkpoint, no new source commits -> no
    # new target commits
    v0 = txlog.load_snapshot(tgt).version
    txlog.replicate_stream(spark, src, tgt, ["k"], ckpt, max_versions=2)
    assert txlog.load_snapshot(tgt).version == v0
    # catch-up from the checkpoint across a zero-net epoch
    txlog.optimize(spark, src, target_bytes=64 * 1024 * 1024)
    txlog.delete(spark, src, [("k", ">=", 500)])
    txlog.replicate_stream(spark, src, tgt, ["k"], ckpt, max_versions=2)
    s = txlog.read_table(spark, src)
    t = txlog.read_table(spark, tgt)
    assert t.exceptAll(s).count() == 0 and s.exceptAll(t).count() == 0


# ------------------------------------------------- stream-lane parity fixes


def test_stream_since_zero_expired_log_raises(spark, tmp_path):
    root = _mk(spark, tmp_path, "expired")
    ckpt = _mk(spark, tmp_path, "ck_expired")
    txlog_datasource.register(spark)
    for i in range(12):
        txlog.append(spark, spark.createDataFrame([(i,)], "k int"), root)
    rep = txlog.cleanup_log(root, keep_versions=2)
    assert rep["commits_removed"] > 0  # the expiry actually happened
    q = (
        spark.readStream.format("txlog")
        .option("rowLevel", "true")
        .option("sinceVersion", 0)
        .load(root)
        .writeStream.foreachBatch(lambda d, b: None)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    err = None
    try:
        q.processAllAvailable()
        exc = q.exception()
        err = str(exc) if exc is not None else None
    except Exception as ex:  # surfaced synchronously
        err = str(ex)
    finally:
        try:
            q.stop()
            q.awaitTermination(60)
        except Exception as ex:  # or surfaced at stop/drain time
            err = err or str(ex)
    assert err is not None and "expired by log retention" in err, err


def test_stream_negative_zero_rewrite_cancels(spark, tmp_path):
    root = _mk(spark, tmp_path, "zeros")
    ckpt = _mk(spark, tmp_path, "ck_zeros")
    txlog_datasource.register(spark)
    df = spark.createDataFrame([(i, 0.0) for i in range(16)], "k int, v double")
    txlog.append(spark, df, root)
    txlog.update(spark, root, [("k", ">=", 0)], {"v": "-v"})  # writes -0.0
    # the batch lane cancels the sign flip (Spark EXCEPT ALL equality)
    assert txlog.read_row_changes(spark, root, 1).count() == 0
    # the stream lane must match: only v1's 16 inserts are ever emitted
    seen = []

    def rec(bdf, bid):
        seen.append(bdf.count())

    q = (
        spark.readStream.format("txlog")
        .option("rowLevel", "true")
        .load(root)
        .writeStream.foreachBatch(rec)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    assert sum(seen) == 16, seen


# ------------------------------------------- declarative metadata surface


def test_declarative_conditional_merge_and_stream_replicate(spark, tmp_path):
    """VERDICT r9 #8: the r10 programmatic surface (conditional MERGE
    clauses, streaming replicate) must ride the JSON metadata surface —
    one run_table_maintenance document, no Python-side clause code."""
    import json

    from metadata_driven_data_pipeline_spark.orchestrate import (
        run_table_maintenance,
    )

    root = _mk(spark, tmp_path, "decl_tgt")
    _seed_target(spark, root)
    batch_path = _mk(spark, tmp_path, "decl_batch")
    spark.createDataFrame(
        [(1, "A", 11.0, 200), (3, "C", 33.0, 100), (9, "z", 99.0, 500)],
        "k int, name string, price double, ts int",
    ).write.parquet(batch_path)

    replica = _mk(spark, tmp_path, "decl_replica")
    ckpt = _mk(spark, tmp_path, "decl_ckpt")
    # round-trip through JSON to prove the spec is a pure document
    specs = json.loads(json.dumps([
        {
            "table": root,
            "merge": {
                "source": {"path": batch_path, "format": "parquet"},
                "keyCols": ["k"],
                "whenMatchedUpdate": {
                    "set": {"price": "s.price", "ts": "s.ts"},
                    "condition": "s.ts > t.ts",
                },
                "whenNotMatchedInsert": {
                    "values": {"price": "s.price", "ts": "s.ts"},
                },
            },
        },
        {
            "table": replica,
            "replicate": {
                "source": root,
                "keyCols": ["k"],
                "checkpoint": ckpt,
                "maxVersions": 1,
            },
        },
    ]))
    reports = run_table_maintenance(spark, specs)
    assert len(reports) == 2 and reports[1]["replicate"]["mode"] == "stream"
    rows = {r.k: (r.name, r.price, r.ts) for r in txlog.read_table(spark, root).collect()}
    assert rows[1] == ("a", 11.0, 200)      # conditional update fired
    assert rows[3] == ("c", 30.0, 300)      # condition false -> untouched
    assert rows[9] == (None, 99.0, 500)     # insert with NULL default
    t = txlog.read_table(spark, replica)
    s = txlog.read_table(spark, root)
    assert t.exceptAll(s).count() == 0 and s.exceptAll(t).count() == 0


# ----------------------------------------------------------- SCD2 history


def _scd2_source(spark, src):
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    txlog.append(spark, df.repartitionByRange(2, "k"), src)  # v1
    txlog.update(
        spark, src, [("k", ">=", 10), ("k", "<", 15)], {"v": "v*2"},
        deletion_vectors=True,
    )  # v2
    txlog.delete(spark, src, [("k", "<", 3)])  # v3
    txlog.append(
        spark,
        df.filter("k < 3").select((F.col("k") + 100).alias("k"), "v"),
        src,
    )  # v4
    return df


def test_scd2_history_intervals_and_as_of(spark, tmp_path):
    src = _mk(spark, tmp_path, "scd2_src")
    tgt = _mk(spark, tmp_path, "scd2_tgt")
    _scd2_source(spark, src)
    txlog.optimize(spark, src, target_bytes=64 * 1024 * 1024)  # v5 zero-net
    r = txlog.apply_changes_scd2(spark, src, tgt, ["k"], max_versions=2)
    assert r["chunks_applied"] == 2 and r["chunks_empty"] == 1
    assert set(txlog.load_snapshot(tgt).txns) == {
        f"txlog-scd2:{os.path.abspath(src)}"
    }
    assert r["to_version"] == txlog.load_snapshot(src).version  # incl. zero-net
    hist = txlog.read_table(spark, tgt)
    # a twice-changed key holds adjacent intervals; updated key 10:
    rows = sorted(
        (r2["_scd2_start"], r2["_scd2_end"], r2["v"])
        for r2 in hist.filter("k = 10").collect()
    )
    assert rows == [(1, 2, 10.0), (2, None, 20.0)]
    # deleted key 0: closed at v3, never reopened
    assert [(r2["_scd2_start"], r2["_scd2_end"]) for r2 in hist.filter("k = 0").collect()] == [(1, 3)]
    # current slice == source, as-of slices == source time travel
    cur = hist.filter(F.col("_scd2_end").isNull()).drop("_scd2_start", "_scd2_end")
    s = txlog.read_table(spark, src)
    assert cur.exceptAll(s).count() == 0 and s.exceptAll(cur).count() == 0
    for v in range(1, 5):
        want = txlog.read_table(spark, src, version=v)
        got = txlog.scd2_snapshot_as_of(hist, v)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    # exactly-once: a replayed run applies nothing and commits nothing
    v0 = txlog.load_snapshot(tgt).version
    r2 = txlog.apply_changes_scd2(spark, src, tgt, ["k"], max_versions=2)
    assert r2["chunks_applied"] == 0
    assert txlog.load_snapshot(tgt).version == v0


def test_scd2_resume_mid_history_equals_one_shot(spark, tmp_path):
    src = _mk(spark, tmp_path, "scd2_src2")
    a = _mk(spark, tmp_path, "scd2_a")
    b = _mk(spark, tmp_path, "scd2_b")
    _scd2_source(spark, src)
    # chunked 1-commit-at-a-time (with a simulated stop/restart between
    # calls) must equal the one-shot history multiset-exactly
    txlog.apply_changes_scd2(spark, src, a, ["k"], max_versions=1)
    txlog.apply_changes_scd2(spark, src, b, ["k"], max_versions=64)
    ha, hb = txlog.read_table(spark, a), txlog.read_table(spark, b)
    assert ha.exceptAll(hb).count() == 0 and hb.exceptAll(ha).count() == 0


def test_scd2_history_outlives_source_retention(spark, tmp_path):
    src = _mk(spark, tmp_path, "scd2_src3")
    tgt = _mk(spark, tmp_path, "scd2_tgt3")
    for i in range(12):
        txlog.append(
            spark, spark.createDataFrame([(i, float(i))], "k int, v double"), src
        )
    txlog.apply_changes_scd2(spark, src, tgt, ["k"])
    txlog.cleanup_log(src, keep_versions=2)
    with pytest.raises(ValueError):
        txlog.read_table(spark, src, version=3)  # source time travel expired
    hist = txlog.read_table(spark, tgt)
    got = txlog.scd2_snapshot_as_of(hist, 3)  # SCD2 history still has it
    assert sorted(r.k for r in got.collect()) == [0, 1, 2]


def test_scd2_duplicate_key_raises(spark, tmp_path):
    src = _mk(spark, tmp_path, "scd2_dup")
    tgt = _mk(spark, tmp_path, "scd2_dup_t")
    txlog.append(
        spark,
        spark.createDataFrame([(1, 1.0), (1, 2.0)], "k int, v double"),
        src,
    )
    with pytest.raises(ValueError, match="duplicate key"):
        txlog.apply_changes_scd2(spark, src, tgt, ["k"])


def test_declarative_scd2_verb(spark, tmp_path):
    import json

    from metadata_driven_data_pipeline_spark.orchestrate import (
        run_table_maintenance,
    )

    src = _mk(spark, tmp_path, "decl_scd2_src")
    hist = _mk(spark, tmp_path, "decl_scd2_hist")
    _scd2_source(spark, src)
    specs = json.loads(json.dumps([
        {"table": hist, "scd2": {"source": src, "keyCols": ["k"], "maxVersions": 2}},
    ]))
    reports = run_table_maintenance(spark, specs)
    assert reports[0]["scd2"]["chunks_applied"] == 2
    h = txlog.read_table(spark, hist)
    cur = h.filter(F.col("_scd2_end").isNull()).drop("_scd2_start", "_scd2_end")
    s = txlog.read_table(spark, src)
    assert cur.exceptAll(s).count() == 0 and s.exceptAll(cur).count() == 0


def test_when_matched_ordered_clause_list(spark, tmp_path):
    """Delta's multi-clause WHEN MATCHED: first matching clause wins in
    the GIVEN order — tombstone-delete, then recency-guarded update,
    then unconditional fallback update."""
    root = _mk(spark, tmp_path, "multi1")
    _seed_target(spark, root)
    batch = spark.createDataFrame(
        [
            (1, "del", 0.0, 999),   # clause 1 (delete) fires
            (2, "upd", 22.0, 999),  # clause 2 (guarded update) fires
            (3, "fb", 33.0, 100),   # guard false -> clause 3 fallback fires
        ],
        "k int, name string, price double, ts int",
    )
    txlog.merge(
        spark,
        batch,
        root,
        ["k"],
        order_col=None,
        when_matched=[
            {"action": "delete", "condition": "s.name = 'del'"},
            {
                "action": "update",
                "condition": "s.ts > t.ts",
                "set": {"price": "s.price", "ts": "s.ts"},
            },
            {"action": "update", "set": {"name": "s.name"}},
        ],
    )
    rows = {r.k: (r.name, r.price, r.ts) for r in txlog.read_table(spark, root).collect()}
    assert 1 not in rows                       # first clause consumed it
    assert rows[2] == ("b", 22.0, 999)         # second clause, name kept
    assert rows[3] == ("fb", 30.0, 300)        # fallback: only name set
    # order matters: the same specs reversed give a different result
    root2 = _mk(spark, tmp_path, "multi2")
    _seed_target(spark, root2)
    txlog.merge(
        spark,
        batch,
        root2,
        ["k"],
        order_col=None,
        when_matched=[
            {"action": "update", "set": {"name": "s.name"}},  # now first
            {"action": "delete", "condition": "s.name = 'del'"},
        ],
    )
    rows2 = {r.k: r.name for r in txlog.read_table(spark, root2).collect()}
    assert rows2[1] == "del"  # update claimed the row before the delete


def test_when_matched_list_rejects_mixing_and_bad_specs(spark, tmp_path):
    root = _mk(spark, tmp_path, "multi3")
    _seed_target(spark, root)
    batch = spark.createDataFrame(
        [(1, "a", 1.0, 1)], "k int, name string, price double, ts int"
    )
    with pytest.raises(ValueError, match="not both"):
        txlog.merge(
            spark, batch, root, ["k"], order_col=None,
            when_matched=[{"action": "delete"}],
            when_matched_update={"set": {"price": "s.price"}},
        )
    with pytest.raises(ValueError, match="requires 'set'"):
        txlog.merge(
            spark, batch, root, ["k"], order_col=None,
            when_matched=[{"action": "update"}],
        )
    with pytest.raises(ValueError, match="action"):
        txlog.merge(
            spark, batch, root, ["k"], order_col=None,
            when_matched=[{"action": "upsert"}],
        )


def test_scd2_stream_converges_and_resumes(spark, tmp_path):
    src = _mk(spark, tmp_path, "scd2st_src")
    tgt = _mk(spark, tmp_path, "scd2st_tgt")
    ckpt = _mk(spark, tmp_path, "scd2st_ckpt")
    _scd2_source(spark, src)
    txlog.apply_changes_scd2_stream(spark, src, tgt, ["k"], ckpt, max_versions=2)
    assert set(txlog.load_snapshot(tgt).txns) == {
        f"txlog-scd2-stream:{os.path.abspath(src)}"
    }
    hist = txlog.read_table(spark, tgt)
    cur = hist.filter(F.col("_scd2_end").isNull()).drop("_scd2_start", "_scd2_end")
    s = txlog.read_table(spark, src)
    assert cur.exceptAll(s).count() == 0 and s.exceptAll(cur).count() == 0
    # streamed history == batch-lane history multiset-exactly
    tgt_b = _mk(spark, tmp_path, "scd2st_batchlane")
    txlog.apply_changes_scd2(spark, src, tgt_b, ["k"], max_versions=2)
    hb = txlog.read_table(spark, tgt_b)
    assert hist.exceptAll(hb).count() == 0 and hb.exceptAll(hist).count() == 0
    # idempotent restart, then catch-up over new commits from the checkpoint
    v0 = txlog.load_snapshot(tgt).version
    txlog.apply_changes_scd2_stream(spark, src, tgt, ["k"], ckpt, max_versions=2)
    assert txlog.load_snapshot(tgt).version == v0
    txlog.delete(spark, src, [("k", ">=", 100)])
    txlog.apply_changes_scd2_stream(spark, src, tgt, ["k"], ckpt, max_versions=2)
    hist2 = txlog.read_table(spark, tgt)
    cur2 = hist2.filter(F.col("_scd2_end").isNull()).drop("_scd2_start", "_scd2_end")
    s2 = txlog.read_table(spark, src)
    assert cur2.exceptAll(s2).count() == 0 and s2.exceptAll(cur2).count() == 0
