"""Incremental materialized-view maintenance (r10,
txlog.maintain_aggregate): a grouped sum/count aggregate kept exact
from the row-level CDC feed — per chunk O(changed bytes), never a
source rescan. The view must equal the DIRECT aggregate of the source
after every history shape: inserts, DV updates, deletes, group
disappearance (live count to zero deletes the view row), NULL values
(SUM reverts to NULL when the last non-null contributor goes),
exactly-once replay, and zero-net rewrite chunks.
"""

import os

import pytest
from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.sinks import txlog

from conftest import count_jobs


AGGS = {
    "n": ("count", "*"),
    "n_v": ("count", "v"),
    "sum_v": ("sum", "v"),
}


def _mk(tmp_path, name):
    return os.path.join(str(tmp_path), name)


def _direct(spark, src):
    return txlog.read_table(spark, src).groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("v").alias("n_v"),
        F.sum("v").alias("sum_v"),
    )


def _view(spark, tgt):
    return txlog.read_table(spark, tgt).select("g", "n", "n_v", "sum_v")


def _assert_equal(spark, src, tgt):
    d = _direct(spark, src)
    m = _view(spark, tgt)
    assert m.exceptAll(d).count() == 0 and d.exceptAll(m).count() == 0, (
        "view diverged:\nview=%s\ndirect=%s"
        % (sorted(map(tuple, m.collect())), sorted(map(tuple, d.collect())))
    )


def test_mv_tracks_mixed_history(spark, tmp_path):
    src = _mk(tmp_path, "mv_src")
    tgt = _mk(tmp_path, "mv_tgt")
    df = spark.range(0, 60).select(
        (F.col("id") % 6).cast("int").alias("g"),
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("v"),
    )
    txlog.append(spark, df.repartition(3), src)  # v1
    r = txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS)
    assert r["chunks_applied"] == 1
    assert set(txlog.load_snapshot(tgt).txns) == {
        f"txlog-mv:{os.path.abspath(src)}"
    }
    _assert_equal(spark, src, tgt)
    # DV update of a slice (group sums shift), then a delete
    txlog.update(
        spark, src, [("k", ">=", 10), ("k", "<", 20)], {"v": "v * 3"},
        deletion_vectors=True,
    )  # v2
    txlog.delete(spark, src, [("k", "<", 6)])  # v3
    txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS, max_versions=1)
    _assert_equal(spark, src, tgt)
    # exactly-once replay: nothing applies, no new commits
    v0 = txlog.load_snapshot(tgt).version
    r2 = txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS)
    assert r2["chunks_applied"] == 0
    assert txlog.load_snapshot(tgt).version == v0
    # zero-net rewrite chunk advances the watermark without data commits
    txlog.optimize(spark, src, target_bytes=64 * 1024 * 1024)
    r3 = txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS)
    assert r3["chunks_empty"] == 1 and r3["chunks_applied"] == 0
    _assert_equal(spark, src, tgt)


def test_mv_group_disappears_and_reappears(spark, tmp_path):
    src = _mk(tmp_path, "mv_src2")
    tgt = _mk(tmp_path, "mv_tgt2")
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (2, 3, 5.0)], "g int, k int, v double"
    )
    txlog.append(spark, df, src)
    txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS)
    # delete ALL of group 1 -> its view row must vanish
    txlog.delete(spark, src, [("g", "==", 1)])
    txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS)
    assert [r.g for r in _view(spark, tgt).collect()] == [2]
    _assert_equal(spark, src, tgt)
    # group 1 reappears -> fresh insert with correct values
    txlog.append(
        spark, spark.createDataFrame([(1, 9, 7.0)], "g int, k int, v double"), src
    )
    txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS)
    _assert_equal(spark, src, tgt)


def test_mv_sum_reverts_to_null(spark, tmp_path):
    src = _mk(tmp_path, "mv_src3")
    tgt = _mk(tmp_path, "mv_tgt3")
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (2, 3, None)], "g int, k int, v double"
    )
    txlog.append(spark, df, src)
    txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS)
    _assert_equal(spark, src, tgt)  # group 2: SUM NULL from day one
    # delete group 1's only non-NULL contributor: SUM must revert to
    # NULL (the naive signed fold would leave 0)
    txlog.delete(spark, src, [("k", "==", 1)])
    txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS)
    row = {r.g: (r.n, r.n_v, r.sum_v) for r in _view(spark, tgt).collect()}
    assert row[1] == (1, 0, None)
    _assert_equal(spark, src, tgt)


def test_mv_rejects_unsupported_kinds_and_null_groups(spark, tmp_path):
    src = _mk(tmp_path, "mv_src4")
    tgt = _mk(tmp_path, "mv_tgt4")
    txlog.append(
        spark,
        spark.createDataFrame([(None, 1, 1.0)], "g int, k int, v double"),
        src,
    )
    # min/max ARE supported since r11 (group-scoped rescan); only
    # non-decomposable kinds (median, distinct counts, ...) reject
    with pytest.raises(ValueError, match="supported aggregates"):
        txlog.maintain_aggregate(
            spark, src, tgt, ["g"], {"m": ("median", "v")}
        )
    with pytest.raises(ValueError, match="NULL group"):
        txlog.maintain_aggregate(spark, src, tgt, ["g"], AGGS)


def test_mv_chunk_facts_and_null_group_check_ride_one_cache_fill(
    spark, tmp_path
):
    """One observed cache fill measures a chunk's deltas (emptiness, group
    bounds, delete-candidate bounds) and guards its group columns: a
    delete-carrying min/max chunk runs 15 Spark jobs, as many as when a
    separate probe aggregate took those facts, and a NULL group fails the
    guard as a ValueError before anything commits."""
    from pyspark.errors import SparkRuntimeException

    src, tgt = _mk(tmp_path, "mv_src_guard"), _mk(tmp_path, "mv_tgt_guard")
    aggs = {**AGGS, "lo_v": ("min", "v")}
    schema = "g int, k int, v double"
    rows = [(1, 1, 1.0), (1, 2, 2.0), (2, 3, 3.0)]
    txlog.append(spark, spark.createDataFrame(rows, schema), src)
    txlog.maintain_aggregate(spark, src, tgt, ["g"], aggs)
    txlog.delete(spark, src, [("k", "==", 1)])
    res, jobs = count_jobs(
        spark, lambda: txlog.maintain_aggregate(spark, src, tgt, ["g"], aggs)
    )
    assert res["chunks_applied"] == 1 and res["groups_rescanned"] == 1
    assert jobs == 15
    _assert_equal(spark, src, tgt)
    v = txlog.load_snapshot(tgt).version
    txlog.append(spark, spark.createDataFrame([(None, 9, 9.0)], schema), src)
    with pytest.raises(ValueError, match="NULL group") as info:
        txlog.maintain_aggregate(spark, src, tgt, ["g"], aggs)
    assert isinstance(info.value.__cause__, SparkRuntimeException)
    assert txlog.load_snapshot(tgt).version == v


@pytest.mark.parametrize("lane", ["batch", "stream", "snapshot"])
@pytest.mark.parametrize(
    "group_cols, aggs, match",
    [
        (["g"], {"m": ("median", "v")}, "supported aggregates"),
        (["g"], {"_mv_count": ("count", "*")}, "reserved"),
        (["_nn_s"], {"s": ("sum", "v")}, "collide"),
        (["g"], {"a": ("avg", "v"), "_avg_cnt_a": ("sum", "v")}, "collide"),
    ],
    ids=["median", "mv_count", "nn_clash", "avg_clash"],
)
def test_mv_lanes_reject_the_same_arguments_before_any_job(
    spark, tmp_path, lane, group_cols, aggs, match
):
    """All three aggregate-view lanes run one argument check first: the
    source does not exist, so only the check can raise, and no Spark
    job may run."""
    src, tgt = _mk(tmp_path, "missing_src"), _mk(tmp_path, "mv_tgt")
    calls = {
        "batch": lambda: txlog.maintain_aggregate(
            spark, src, tgt, group_cols, aggs
        ),
        "stream": lambda: txlog.maintain_aggregate_stream(
            spark, src, tgt, group_cols, aggs, _mk(tmp_path, "ckpt")
        ),
        "snapshot": lambda: txlog.maintain_aggregate_from_snapshot(
            spark, None, None, tgt, group_cols, aggs, 1
        ),
    }
    def rejected():
        with pytest.raises(ValueError, match=match):
            calls[lane]()

    assert count_jobs(spark, rejected)[1] == 0


def test_declarative_maintain_aggregate_verb(spark, tmp_path):
    import json

    from metadata_driven_data_pipeline_spark.orchestrate import (
        run_table_maintenance,
    )

    src = _mk(tmp_path, "mv_decl_src")
    tgt = _mk(tmp_path, "mv_decl_tgt")
    txlog.append(
        spark,
        spark.createDataFrame(
            [(1, 1, 1.0), (1, 2, 2.0), (2, 3, 3.0)], "g int, k int, v double"
        ),
        src,
    )
    specs = json.loads(json.dumps([
        {"table": tgt,
         "maintainAggregate": {
             "source": src, "groupCols": ["g"],
             "aggs": {"n": ["count", "*"], "sum_v": ["sum", "v"]}}},
    ]))
    rep = run_table_maintenance(spark, specs)
    assert rep[0]["maintainAggregate"]["chunks_applied"] == 1
    got = {r.g: (r.n, r.sum_v) for r in txlog.read_table(spark, tgt).collect()}
    assert got == {1: (2, 3.0), 2: (1, 3.0)}


def test_mv_stream_converges_and_resumes(spark, tmp_path):
    src = _mk(tmp_path, "mvst_src")
    tgt = _mk(tmp_path, "mvst_tgt")
    ckpt = _mk(tmp_path, "mvst_ckpt")
    df = spark.range(0, 60).select(
        (F.col("id") % 6).cast("int").alias("g"),
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("v"),
    )
    txlog.append(spark, df.repartition(3), src)
    txlog.update(
        spark, src, [("k", ">=", 10), ("k", "<", 20)], {"v": "v * 3"},
        deletion_vectors=True,
    )
    txlog.delete(spark, src, [("k", "<", 6)])
    txlog.maintain_aggregate_stream(
        spark, src, tgt, ["g"], AGGS, ckpt, max_versions=1
    )
    assert set(txlog.load_snapshot(tgt).txns) == {
        f"txlog-mv-stream:{os.path.abspath(src)}"
    }
    _assert_equal(spark, src, tgt)
    # idempotent restart; then catch-up over a zero-net + data commit
    v0 = txlog.load_snapshot(tgt).version
    txlog.maintain_aggregate_stream(
        spark, src, tgt, ["g"], AGGS, ckpt, max_versions=1
    )
    assert txlog.load_snapshot(tgt).version == v0
    txlog.optimize(spark, src, target_bytes=64 * 1024 * 1024)
    txlog.delete(spark, src, [("g", "==", 5)])
    txlog.maintain_aggregate_stream(
        spark, src, tgt, ["g"], AGGS, ckpt, max_versions=1
    )
    _assert_equal(spark, src, tgt)


def test_declarative_stream_checkpoint_options(spark, tmp_path):
    """scd2/maintainAggregate verbs with 'checkpoint' run the streaming
    twins — symmetric with the replicate verb (VERDICT r9 #8 pattern)."""
    import json

    from metadata_driven_data_pipeline_spark.orchestrate import (
        run_table_maintenance,
    )

    src = _mk(tmp_path, "declst_src")
    mv = _mk(tmp_path, "declst_mv")
    hist = _mk(tmp_path, "declst_hist")
    txlog.append(
        spark,
        spark.createDataFrame(
            [(1, 1, 1.0), (1, 2, 2.0), (2, 3, 3.0)], "g int, k int, v double"
        ),
        src,
    )
    txlog.delete(spark, src, [("k", "==", 2)])
    specs = json.loads(json.dumps([
        {"table": mv,
         "maintainAggregate": {
             "source": src, "groupCols": ["g"],
             "aggs": {"n": ["count", "*"], "sum_v": ["sum", "v"]},
             "checkpoint": _mk(tmp_path, "ck_mv"), "maxVersions": 1}},
        {"table": hist,
         "scd2": {"source": src, "keyCols": ["k"],
                  "checkpoint": _mk(tmp_path, "ck_scd2"), "maxVersions": 1}},
    ]))
    rep = run_table_maintenance(spark, specs)
    assert rep[0]["maintainAggregate"]["mode"] == "stream"
    assert rep[1]["scd2"]["mode"] == "stream"
    got = {r.g: (r.n, r.sum_v) for r in txlog.read_table(spark, mv).collect()}
    assert got == {1: (1, 1.0), 2: (1, 3.0)}
    cur = txlog.read_table(spark, hist).filter(
        F.col("_scd2_end").isNull()
    ).drop("_scd2_start", "_scd2_end")
    s = txlog.read_table(spark, src)
    assert cur.exceptAll(s).count() == 0 and s.exceptAll(cur).count() == 0


def test_mv_avg_tracks_direct_aggregate(spark, tmp_path):
    src = _mk(tmp_path, "mvavg_src")
    tgt = _mk(tmp_path, "mvavg_tgt")
    aggs = {"n": ("count", "*"), "avg_v": ("avg", "v")}
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, None), (2, 4, 8.0)],
        "g int, k int, v double",
    )
    txlog.append(spark, df, src)
    txlog.maintain_aggregate(spark, src, tgt, ["g"], aggs)

    def check():
        d = txlog.read_table(spark, src).groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.avg("v").alias("avg_v")
        )
        m = txlog.read_table(spark, tgt).select("g", "n", "avg_v")
        assert m.exceptAll(d).count() == 0 and d.exceptAll(m).count() == 0, (
            sorted(map(tuple, m.collect())), sorted(map(tuple, d.collect())))

    check()
    # update shifts the average; delete of the last non-null value in a
    # group reverts AVG to NULL
    txlog.update(spark, src, [("k", "==", 1)], {"v": "v * 5"},
                 deletion_vectors=True)
    txlog.delete(spark, src, [("k", "==", 4)])
    txlog.maintain_aggregate(spark, src, tgt, ["g"], aggs, max_versions=1)
    check()
    txlog.delete(spark, src, [("k", "==", 1)])
    txlog.delete(spark, src, [("k", "==", 2)])
    txlog.maintain_aggregate(spark, src, tgt, ["g"], aggs)
    row = {r.g: (r.n, r.avg_v) for r in
           txlog.read_table(spark, tgt).select("g", "n", "avg_v").collect()}
    assert row[1] == (1, None)  # only the NULL-valued row remains
    check()
