"""Structured Streaming surface: AvailableNow incremental files, watermarked
windows, session windows, streaming dedup (SURVEY §2.9 extension)."""

import json
import os

import pytest
from pyspark.sql import types as T
from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.streaming import incremental as S


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def write_batch(path, rows):
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/part.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_available_now_incremental_no_reprocessing(spark, tmp_path):
    """Two invocations with the same checkpoint must not reprocess batch 1 —
    the streaming equivalent of the manifest watermark."""
    root = str(tmp_path)
    inp, out, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"
    write_batch(f"{inp}/batch-2026-01-01", [
        {"event_id": 1, "ts": "2026-01-01T00:00:00Z", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2026-01-01T00:01:00Z", "user_id": 2, "value": 2.0},
    ])
    stream = S.incremental_file_stream(spark, f"{inp}/batch-*", EVENT_SCHEMA)
    S.run_available_now(stream, ckpt, out)
    first = spark.read.schema(EVENT_SCHEMA).json(out).count()
    assert first == 2

    write_batch(f"{inp}/batch-2026-01-02", [
        {"event_id": 3, "ts": "2026-01-02T00:00:00Z", "user_id": 1, "value": 3.0},
    ])
    stream2 = S.incremental_file_stream(spark, f"{inp}/batch-*", EVENT_SCHEMA)
    S.run_available_now(stream2, ckpt, out)
    df = spark.read.schema(EVENT_SCHEMA).json(out)
    assert df.count() == 3  # batch 1 not duplicated
    assert df.select(F.countDistinct("event_id")).first()[0] == 3


def test_windowed_counts_on_stream(spark, sf_dir, tmp_path):
    from metadata_driven_data_pipeline_spark.tables import load_table

    import shutil

    # streaming file source needs a directory, testdata is a single file
    stream_dir = f"{tmp_path}/events_stream"
    os.makedirs(stream_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    events = spark.readStream.schema(raw_schema).parquet(stream_dir)
    if dict(events.dtypes).get("ts") == "bigint":  # legacy nanos-as-long read
        events = events.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    # timestamp_ntz / timestamp flavors are normalized by windowed_counts
    agg = S.windowed_counts(events, window_duration="1 hour", watermark="1 hour")
    name = f"win_{abs(hash(str(tmp_path))) % 10**6}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.sql(f"SELECT * FROM {name}")
    # append mode emits only watermark-closed windows; just check shape+sanity
    assert set(out.columns) == {"window_start", "window_end", "event_type", "n", "total_value"}
    assert out.count() > 0
    assert out.filter("n <= 0").count() == 0


def test_streaming_dedup_drops_within_watermark(spark, tmp_path):
    root = str(tmp_path)
    inp, out, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"
    write_batch(f"{inp}/batch-1", [
        {"event_id": 1, "ts": "2026-01-01T00:00:00Z", "user_id": 1, "value": 1.0},
        {"event_id": 1, "ts": "2026-01-01T00:05:00Z", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2026-01-01T00:06:00Z", "user_id": 2, "value": 2.0},
    ])
    stream = S.incremental_file_stream(spark, f"{inp}/batch-*", EVENT_SCHEMA)
    deduped = S.streaming_dedup(stream, ["event_id"], watermark="1 hour")
    S.run_available_now(deduped, ckpt, out)
    df = spark.read.schema(EVENT_SCHEMA).json(out)
    assert df.count() == 2
    assert df.select(F.countDistinct("event_id")).first()[0] == 2


def test_sessionized_batch_semantics(spark):
    """session_window works in batch mode too — verify gap merging."""
    df = spark.createDataFrame(
        [
            (1, "2026-01-01T00:00:00Z", 1.0),
            (1, "2026-01-01T00:10:00Z", 1.0),   # same session (10m < 30m gap)
            (1, "2026-01-01T02:00:00Z", 1.0),   # new session
            (2, "2026-01-01T00:00:00Z", 1.0),
        ],
        "user_id long, ts_str string, value double",
    ).withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    per_user = {}
    for r in out:
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + 1
    assert per_user == {1: 2, 2: 1}


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: per-key state must accumulate across
    micro-batches (maxFilesPerTrigger=1 forces one batch per file)."""
    from metadata_driven_data_pipeline_spark.streaming.stateful import running_totals

    src = str(tmp_path / "src")
    write_batch(f"{src}/b1", [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "value": 10.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 2, "value": 5.0},
    ])
    write_batch(f"{src}/b2", [
        {"event_id": 3, "ts": "2024-01-01T01:00:00", "user_id": 1, "value": 7.0},
    ])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(f"{src}/b*/part.jsonl")
    )
    out = running_totals(stream, key_col="user_id", value_col="value")
    q = (
        out.writeStream.format("memory").queryName("rt")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM rt").collect()
    # last emission per user carries the accumulated totals
    latest = {}
    for r in rows:
        latest[r["user_id"]] = (r["n_events"], r["total_value"])
    assert latest[1] == (2, 17.0)
    assert latest[2] == (1, 5.0)


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: clicks match errors on user_id within
    [click_ts, click_ts + 5 minutes]; state is watermark-bounded."""
    src_c, src_e = str(tmp_path / "clicks"), str(tmp_path / "errors")
    write_batch(f"{src_c}/b1", [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 2, "value": 1.0},
        {"event_id": 3, "ts": "2024-01-01T00:20:00", "user_id": 1, "value": 1.0},
    ])
    write_batch(f"{src_e}/b1", [
        # 3 min after click 1 -> matches; 20 min after click 2 -> no match
        {"event_id": 101, "ts": "2024-01-01T00:03:00", "user_id": 1, "value": -1.0},
        {"event_id": 102, "ts": "2024-01-01T00:30:00", "user_id": 2, "value": -1.0},
    ])
    clicks = (
        spark.readStream.schema(EVENT_SCHEMA).json(f"{src_c}/b*")
        .select(F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"), "user_id")
    )
    errors = (
        spark.readStream.schema(EVENT_SCHEMA).json(f"{src_e}/b*")
        .select(F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts"), "user_id")
    )
    joined = S.stream_interval_join(
        clicks, errors, keys=["user_id"],
        left_ts="click_ts", right_ts="error_ts",
        upper="5 minutes", watermark="10 minutes",
    )
    assert joined.isStreaming
    S.run_to_memory(joined, "ssj", output_mode="append")
    rows = spark.sql("SELECT click_id, error_id FROM ssj").collect()
    pairs = sorted((r.click_id, r.error_id) for r in rows)
    assert pairs == [(1, 101)]  # click 2's error is outside the interval


def test_foreachbatch_upsert_consolidated(spark, tmp_path):
    """Streaming upsert: two AvailableNow passes over a growing directory
    leave the consolidated table with exactly one latest row per key."""
    import os

    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        incremental_file_stream,
        run_upsert_consolidated,
    )
    from pyspark.sql import types as T

    src = tmp_path / "in"
    out = str(tmp_path / "consolidated")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.IntegerType()),
        T.StructField("batch_date", T.StringType()),
    ])

    def write_batch(name, rows):
        import json

        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write_batch("b1.jsonl", [
        {"k": "a", "v": 1, "batch_date": "2025-01-01"},
        {"k": "b", "v": 2, "batch_date": "2025-01-01"},
    ])
    stream = incremental_file_stream(spark, str(src), schema, fmt="json")
    run_upsert_consolidated(stream, ckpt, out, "k", "batch_date")
    got = {(r["k"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {("a", 1), ("b", 2)}

    # second batch updates key a, adds c; key b untouched
    write_batch("b2.jsonl", [
        {"k": "a", "v": 10, "batch_date": "2025-01-02"},
        {"k": "c", "v": 3, "batch_date": "2025-01-02"},
    ])
    stream = incremental_file_stream(spark, str(src), schema, fmt="json")
    run_upsert_consolidated(stream, ckpt, out, "k", "batch_date")
    got = {(r["k"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {("a", 10), ("b", 2), ("c", 3)}

    # idempotency: a third run with no new files changes nothing
    stream = incremental_file_stream(spark, str(src), schema, fmt="json")
    run_upsert_consolidated(stream, ckpt, out, "k", "batch_date")
    got = {(r["k"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {("a", 10), ("b", 2), ("c", 3)}


def test_stateful_micro_units_totals_are_order_exact(spark, sf_dir, tmp_path):
    """micro_units accumulation must equal the exact-decimal batch answer
    regardless of batch/row order (integer addition is commutative)."""
    import shutil
    import pyspark.sql.functions as F
    from metadata_driven_data_pipeline_spark.streaming.stateful import running_totals

    src = f"{tmp_path}/ev"
    os.makedirs(src, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = running_totals(stream, micro_units=True)
    name = "state_exact_t"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in spark.table(name).collect()}
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.coalesce(
                 F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
                 F.lit(0.0)), 6).alias("t"))
        .collect()
    }
    assert got == want


def test_stateful_micro_units_overflow_fails_loudly(spark, tmp_path):
    """ADVICE r2 (stateful.py micro_units): a per-key total reaching 2^53
    micro-units no longer silently loses exactness — the update function
    raises OverflowError, failing the streaming query."""
    from metadata_driven_data_pipeline_spark.streaming.stateful import running_totals
    from pyspark.sql.streaming import StreamingQueryException

    src = str(tmp_path / "src")
    write_batch(f"{src}/b1", [
        # 9.1e9 value units = 9.1e15 micro-units > 2^53 (~9.007e15)
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1,
         "value": 9.1e9},
    ])
    stream = spark.readStream.schema(EVENT_SCHEMA).json(f"{src}/b*/part.jsonl")
    out = running_totals(stream, micro_units=True)
    q = (
        out.writeStream.format("memory").queryName("rt_overflow")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="OverflowError|micro-units"):
        q.awaitTermination()


def test_stateful_totals_rocksdb_state_store(spark, tmp_path):
    """The custom stateful operator must run unchanged on the RocksDB
    state-store provider — the backend a 100 TB deployment uses so state
    is bounded by local disk, not executor heap. Same results as the
    default HDFS-backed store."""
    from metadata_driven_data_pipeline_spark.streaming.stateful import running_totals

    src = str(tmp_path / "src")
    write_batch(f"{src}/b1", [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "value": 10.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 2, "value": 5.0},
    ])
    write_batch(f"{src}/b2", [
        {"event_id": 3, "ts": "2024-01-01T01:00:00", "user_id": 1, "value": 7.0},
    ])
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*/part.jsonl")
        )
        q = (
            running_totals(stream, key_col="user_id", value_col="value")
            .writeStream.format("memory").queryName("rt_rocks")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        latest = {}
        for r in spark.sql("SELECT * FROM rt_rocks").collect():
            latest[r["user_id"]] = (r["n_events"], r["total_value"])
        assert latest[1] == (2, 17.0)
        assert latest[2] == (1, 5.0)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_streaming_cms_monitor_equals_batch_sketch(spark, tmp_path):
    """The foreachBatch-merged CMS grid over a MULTI-batch stream must
    equal cms_build over the whole corpus — counter additivity is the
    merge contract."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from metadata_driven_data_pipeline_spark.operators.sketch import cms_build
    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        run_cms_monitor,
    )

    src = str(tmp_path / "src")
    docs = [
        Row(doc_id=i, text=t)
        for i, t in enumerate(
            ["the cat sat", "the the dog", "cat dog bird", "xyz"] * 5
        )
    ]
    whole = spark.createDataFrame(docs)
    # two source files -> two micro-batches with maxFilesPerTrigger=1,
    # so the second batch exercises the union+re-sum merge path
    whole.filter("doc_id % 2 = 0").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/p1")
    whole.filter("doc_id % 2 = 1").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/p2")
    stream = (
        spark.readStream.schema(whole.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    out = str(tmp_path / "grid")
    run_cms_monitor(
        stream, str(tmp_path / "ckpt"), out, depth=4, width=128
    )
    streamed = {
        (r.depth, r.bucket): r.cnt
        for r in spark.read.parquet(out).collect()
    }
    direct = {
        (r.depth, r.bucket): r.cnt
        for r in cms_build(whole, depth=4, width=128).collect()
    }
    assert streamed == direct and streamed


def test_streaming_cms_monitor_rerun_is_idempotent(spark, tmp_path):
    """Re-running AvailableNow with the same checkpoint must process no
    new files — the grid is unchanged (no double counting), the streaming
    analog of the manifest-watermark contract."""
    from pyspark.sql import Row

    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        run_cms_monitor,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(doc_id=1, text="the cat"), Row(doc_id=2, text="the dog")]
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    out, ckpt = str(tmp_path / "grid"), str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        run_cms_monitor(stream, ckpt, out, depth=2, width=64)
        return {
            (r.depth, r.bucket): r.cnt
            for r in spark.read.parquet(out).collect()
        }

    first = run()
    second = run()
    assert first == second and first


def test_foreachbatch_upsert_partitioned_touches_only_batch_partitions(
    spark, tmp_path
):
    """Partition-pruned streaming upsert: the second micro-batch rewrites
    only its own day partitions; an untouched day's files keep their
    mtimes."""
    import json
    import os

    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        incremental_file_stream,
        run_upsert_partitioned,
    )
    from pyspark.sql import types as T

    src = tmp_path / "in"
    out = str(tmp_path / "table")
    os.makedirs(src)
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.IntegerType()),
        T.StructField("day", T.StringType()),
    ])

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write_batch("b1.jsonl", [
        {"k": "a", "v": 1, "day": "2025-01-01"},
        {"k": "b", "v": 2, "day": "2025-01-02"},
    ])
    stream = incremental_file_stream(spark, str(src), schema, fmt="json")
    run_upsert_partitioned(
        stream, str(tmp_path / "ck1"), out, ["k"], "v", "day"
    )
    d2 = os.path.join(out, "day=2025-01-02")
    before = {f: os.path.getmtime(os.path.join(d2, f)) for f in os.listdir(d2)}

    write_batch("b2.jsonl", [
        {"k": "a", "v": 10, "day": "2025-01-01"},
        {"k": "c", "v": 3, "day": "2025-01-03"},
    ])
    stream = incremental_file_stream(spark, str(src), schema, fmt="json")
    run_upsert_partitioned(
        stream, str(tmp_path / "ck1"), out, ["k"], "v", "day"
    )
    got = {(r["k"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {("a", 10), ("b", 2), ("c", 3)}
    after = {f: os.path.getmtime(os.path.join(d2, f)) for f in os.listdir(d2)}
    assert after == before


def test_qhist_monitor_equals_batch_build(spark, tmp_path):
    """Streaming quantile grid over two AvailableNow passes equals the
    one-shot batch histogram over the union of all delivered files."""
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from metadata_driven_data_pipeline_spark.operators.sketch import (
        qhist_merge,
        qhist_quantiles,
        qhist_shard_sketches,
    )
    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        incremental_file_stream,
        run_qhist_monitor,
    )

    src = tmp_path / "in"
    out = str(tmp_path / "grid")
    os.makedirs(src)
    schema = T.StructType([T.StructField("v", T.DoubleType())])

    def write_batch(name, vals):
        with open(src / name, "w") as f:
            for v in vals:
                f.write(json.dumps({"v": v}) + "\n")

    write_batch("b1.jsonl", [float(x) for x in range(0, 500)])
    stream = incremental_file_stream(spark, str(src), schema, fmt="json")
    run_qhist_monitor(stream, str(tmp_path / "ck"), out, "v", 0.0, 1000.0, 100)

    write_batch("b2.jsonl", [float(x) for x in range(500, 1000)])
    stream = incremental_file_stream(spark, str(src), schema, fmt="json")
    run_qhist_monitor(stream, str(tmp_path / "ck"), out, "v", 0.0, 1000.0, 100)

    got = {
        (r.bin, r.cnt) for r in spark.read.parquet(out).collect()
    }
    whole = spark.read.schema(schema).json(str(src))
    want = {
        (r.bin, r.cnt)
        for r in qhist_merge(
            qhist_shard_sketches(whole, "v", F.lit("all"), 0.0, 1000.0, 100)
        ).collect()
    }
    assert got == want
    # quantiles read off the stored grid: exact uniform P50 within 1 bin
    est = {
        r.q: r.est
        for r in qhist_quantiles(
            spark.read.parquet(out), [0.5], 0.0, 1000.0, 100
        ).collect()
    }
    assert abs(est[0.5] - 500.0) <= 10.0


def test_cms_monitor_corrupt_grid_raises_instead_of_resetting(
    spark, tmp_path
):
    """A transient/corrupt read of the EXISTING grid must fail the
    micro-batch (stream retries from intact state), never silently
    overwrite accumulated counts with the current batch only (r4
    verdict: the old blanket except-pass did exactly that)."""
    import os

    from pyspark.sql import Row

    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        run_cms_monitor,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(doc_id=1, text="the cat"), Row(doc_id=2, text="the dog")]
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "grid")
    stream = spark.readStream.schema(schema).parquet(src)
    run_cms_monitor(stream, str(tmp_path / "ck1"), out, depth=2, width=64)
    # corrupt every parquet footer in the stored grid
    for f in os.listdir(out):
        if f.endswith(".parquet"):
            with open(os.path.join(out, f), "wb") as fh:
                fh.write(b"not parquet at all")
    # new data + fresh checkpoint → the merge MUST try to read the
    # existing grid and propagate the failure
    spark.createDataFrame(
        [Row(doc_id=3, text="more words here")]
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    with pytest.raises(Exception):
        run_cms_monitor(
            stream, str(tmp_path / "ck2"), out, depth=2, width=64
        )
    # the corrupt files were NOT replaced by a batch-only grid
    assert any(
        open(os.path.join(out, f), "rb").read(6) == b"not pa"
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )


def test_cms_monitor_replayed_batch_not_double_counted(spark, tmp_path):
    """At-least-once re-delivery: a crash after the grid swap but before
    the checkpoint commit replays the micro-batch with the SAME batch id;
    the stored last_batch_id watermark must skip it — additive counters
    would otherwise double-count. Driven through the extracted per-batch
    merge (exactly what foreachBatch invokes)."""
    from pyspark.sql import Row

    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        cms_monitor_merge_batch,
    )

    out = str(tmp_path / "grid")
    b0 = spark.createDataFrame(
        [Row(doc_id=1, text="the cat sat"), Row(doc_id=2, text="the dog")]
    )
    b1 = spark.createDataFrame([Row(doc_id=3, text="the bird")])

    def grid():
        return {
            (r.depth, r.bucket): r.cnt
            for r in spark.read.parquet(out).collect()
        }

    cms_monitor_merge_batch(b0, 0, out, depth=2, width=64)
    cms_monitor_merge_batch(b1, 1, out, depth=2, width=64)
    before = grid()
    # replay of the already-committed batch 1 → grid unchanged
    cms_monitor_merge_batch(b1, 1, out, depth=2, width=64)
    assert grid() == before
    # a genuinely NEW batch still merges
    cms_monitor_merge_batch(
        spark.createDataFrame([Row(doc_id=4, text="the fish")]),
        2, out, depth=2, width=64,
    )
    assert sum(grid().values()) == sum(before.values()) + 2 * 2  # d=2 rows/token


def test_qhist_monitor_replayed_batch_not_double_counted(spark, tmp_path):
    """Same watermark contract for the quantile grid."""
    from pyspark.sql import Row

    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        qhist_monitor_merge_batch,
    )

    out = str(tmp_path / "grid")
    b0 = spark.createDataFrame([Row(v=float(x)) for x in range(100)])
    b1 = spark.createDataFrame([Row(v=float(x)) for x in range(100, 150)])

    def grid():
        return {(r.bin, r.cnt) for r in spark.read.parquet(out).collect()}

    qhist_monitor_merge_batch(b0, 0, out, "v", 0.0, 1000.0, 100)
    qhist_monitor_merge_batch(b1, 1, out, "v", 0.0, 1000.0, 100)
    before = grid()
    qhist_monitor_merge_batch(b1, 1, out, "v", 0.0, 1000.0, 100)
    assert grid() == before and before


def test_swap_crash_window_recovers_accumulated_grid(spark, tmp_path):
    """Crash between the swap's rename-aside and rename-into-place (the
    old rmtree+move pattern silently lost ALL accumulated state here):
    recover_swap must roll the previous grid back, and the replayed
    micro-batch must then hit the watermark instead of bootstrapping a
    fresh grid from itself."""
    import os

    from pyspark.sql import Row

    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        cms_monitor_merge_batch,
    )

    out = str(tmp_path / "grid")
    cms_monitor_merge_batch(
        spark.createDataFrame([Row(doc_id=1, text="the cat sat")]),
        0, out, depth=2, width=64,
    )
    cms_monitor_merge_batch(
        spark.createDataFrame([Row(doc_id=2, text="the dog")]),
        1, out, depth=2, width=64,
    )
    before = {
        (r.depth, r.bucket): r.cnt for r in spark.read.parquet(out).collect()
    }
    # simulate the crash state: output renamed aside, new grid never
    # landed
    os.rename(out, out + "__prev")
    assert not os.path.exists(out)
    # restart replays batch 1 (checkpoint never committed): the merge
    # must first recover the old grid, then skip the replay on the
    # watermark -- accumulated counts fully intact
    cms_monitor_merge_batch(
        spark.createDataFrame([Row(doc_id=2, text="the dog")]),
        1, out, depth=2, width=64,
    )
    after = {
        (r.depth, r.bucket): r.cnt for r in spark.read.parquet(out).collect()
    }
    assert after == before and before
    assert not os.path.exists(out + "__prev")


def test_atomic_swap_primitives(spark, tmp_path):
    import os

    from metadata_driven_data_pipeline_spark.sinks import swap

    def rows():
        return sorted(r.v for r in spark.read.parquet(path).collect())

    path = str(tmp_path / "t")
    spark.createDataFrame([("old",)], "v string").write.parquet(path)
    swap.replace(spark.createDataFrame([("new",)], "v string"), path, "parquet")
    assert rows() == ["new"]
    assert sorted(os.listdir(tmp_path)) == ["t"]  # no staging, no __prev
    # recover is a no-op when the target is present
    assert swap.recover(spark, path) is False
    # ... and restores __prev when the target vanished mid-swap
    os.rename(path, path + "__prev")
    assert swap.recover(spark, path) is True
    assert rows() == ["new"]


def test_ngram_model_monitor_equals_batch_model_and_scores(spark, tmp_path):
    """Streaming DSIR raw model over two micro-batches equals the
    one-shot hashed_ngram_counts over the union, and dsir_weights
    scoring against the STORED model matches scoring against the
    inline-built one — the full incremental-DSIR loop."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from metadata_driven_data_pipeline_spark.operators import dsir as DS
    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        run_ngram_model_monitor,
    )

    docs = [
        Row(doc_id=i, text=t)
        for i, t in enumerate(
            ["the cat sat", "market prices rose", "the dog ran",
             "earnings beat expectations"] * 3
        )
    ]
    whole = spark.createDataFrame(docs)
    src = str(tmp_path / "src")
    whole.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f"{src}/p1")
    whole.filter("doc_id % 2 = 1").coalesce(1).write.parquet(f"{src}/p2")
    stream = (
        spark.readStream.schema(whole.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    out = str(tmp_path / "model")
    run_ngram_model_monitor(
        stream, str(tmp_path / "ck"), out, buckets=512
    )
    stored = spark.read.parquet(out)
    streamed = {
        r.bucket: r.cnt for r in stored.drop("last_batch_id").collect()
    }
    direct = {
        r.bucket: r.cnt
        for r in DS.hashed_ngram_counts(whole, buckets=512).collect()
    }
    assert streamed == direct and streamed
    # close the loop: score a new batch against the STORED model
    target = whole.filter(F.col("text").contains("market"))
    batch = spark.createDataFrame(
        [Row(doc_id=100, text="market prices fell")]
    )
    w_stored = DS.dsir_weights(
        batch, buckets=512,
        target_counts=DS.hashed_ngram_counts(target, buckets=512),
        raw_counts=stored.drop("last_batch_id"),
    ).collect()[0].weight
    w_inline = DS.dsir_weights(
        batch, buckets=512,
        target_counts=DS.hashed_ngram_counts(target, buckets=512),
        raw_counts=DS.hashed_ngram_counts(whole, buckets=512),
    ).collect()[0].weight
    assert w_stored == w_inline
