"""Structured Streaming surface (SURVEY §2.9 — extension; the reference is
batch-only, its micro-batch-by-convention loop = discovery + watermark +
per-batch commit).

The idiomatic Spark generalization of the reference's incremental batch
semantics is a file-source stream with ``Trigger.AvailableNow`` + a
checkpoint: ordered, at-least-once, no-reprocessing — the checkpoint
replaces the JSON manifest. On top of that, the standard streaming
operators: watermarked tumbling/sliding windows, session windows, and
watermark-bounded streaming dedup.

All helpers return the transformed streaming DataFrame (callers attach the
sink) or run a memory-sink smoke query for tests.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metadata_driven_data_pipeline_spark.sinks import swap


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (with timezone).

    Parquet written with tz-less ``timestamp[us]`` loads as TIMESTAMP_NTZ,
    which ``withWatermark`` rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    The cast interprets the naive value in the session timezone — pin the
    session to UTC for deterministic results. No-op for TIMESTAMP columns.
    """
    if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def incremental_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
    options: dict[str, Any] | None = None,
) -> DataFrame:
    """File-source stream over a directory tree (e.g. ``root/batch-*/``).
    New files are discovered exactly once per checkpoint — the streaming
    equivalent of the reference's watermark manifest."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    fmt: str = "json",
    output_mode: str = "append",
) -> None:
    """Process everything currently available, then stop (the batch-like
    trigger; repeated invocations skip already-processed files)."""
    q = (
        df.writeStream.format(fmt)
        .option("checkpointLocation", checkpoint_dir)
        .option("path", output_path)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation."""
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    return (
        ensure_event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(win, F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n",
            "total_value",
        )
    )


def sessionized(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows (gap-based) per key."""
    return (
        ensure_event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermark-bounded streaming dedup: state for each key is kept only
    within the watermark horizon (``dropDuplicatesWithinWatermark``), so
    state size is bounded — the 100 TB-stream answer to the reference's
    whole-history consolidation dedup."""
    return (
        ensure_event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(key_cols)
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    upper: str = "5 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
    upper_inclusive: bool = True,
) -> DataFrame:
    """Watermarked stream-stream join: equi-keys plus the time-interval
    condition ``left_ts <= right_ts <= left_ts + upper`` (strict ``<`` on
    the upper bound when ``upper_inclusive=False``).

    Both sides carry a watermark so the join state is bounded: a buffered
    left row can be dropped once the right watermark passes
    ``left_ts + upper`` (and vice versa) — without the interval bound the
    state would grow forever. Outer variants emit their null-padded rows
    only when the watermark closes the match window, exactly like late-data
    semantics for windowed aggregation.

    ``left_ts``/``right_ts`` must be distinct column names (rename before
    calling) — the joined schema keeps both.
    """
    l = ensure_event_time(left, left_ts).withWatermark(left_ts, watermark)
    r = ensure_event_time(right, right_ts).withWatermark(right_ts, watermark)
    cond = None
    for k in keys:
        c = l[k] == r[k]
        cond = c if cond is None else cond & c
    bound = l[left_ts] + F.expr(f"INTERVAL {upper}")
    time_cond = (r[right_ts] >= l[left_ts]) & (
        r[right_ts] <= bound if upper_inclusive else r[right_ts] < bound
    )
    cond = time_cond if cond is None else cond & time_cond
    joined = l.join(r, cond, how)
    # drop the duplicated key columns from the right side
    for k in keys:
        joined = joined.drop(r[k])
    return joined


def run_to_memory(df: DataFrame, name: str, output_mode: str | None = None) -> None:
    """Test helper: drive a streaming DF to completion into a memory sink.
    Default mode is ``complete`` (right for aggregations — all windows
    emitted); stateless/dedup streams must pass ``append``."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode or ("complete" if df.isStreaming else "append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _committed_batch(existing: DataFrame) -> int | None:
    """Highest batch id already folded into a stored monitor grid (the
    ``last_batch_id`` column every grid row carries), or None for
    pre-upgrade grids without the column."""
    if "last_batch_id" not in existing.columns:
        return None
    row = existing.agg(F.max("last_batch_id")).first()
    return None if row[0] is None else int(row[0])


def _merge_additive_grid(
    batch_grid: DataFrame,
    batch_id: int,
    output_path: str,
    group_cols: list[str],
    fmt: str = "parquet",
) -> None:
    """Shared micro-batch commit for every additive-counter monitor
    (CMS, quantile histogram, DSIR n-gram model): fold ``batch_grid``'s
    ``cnt`` counters into the stored grid by union + re-sum on
    ``group_cols``, unless ``batch_id`` is already committed (the
    ``last_batch_id`` watermark every grid row carries — additive
    counters are NOT idempotent under foreachBatch's at-least-once
    re-delivery), then commit grid + watermark together via the
    crash-safe rename-aside swap (sinks/swap.py).

    "No grid yet" is an explicit existence check, never a caught read
    error: a failed read of the stored grid propagates and fails the
    micro-batch before the checkpoint commits, instead of silently
    replacing the accumulated grid with this batch alone."""
    spark = batch_grid.sparkSession
    swap.recover(spark, output_path)
    grid = batch_grid
    if swap.exists(spark, output_path):
        existing = spark.read.format(fmt).load(output_path)
        committed = _committed_batch(existing)
        if committed is not None and committed >= batch_id:
            return  # at-least-once replay: already folded in
        grid = (
            existing.drop("last_batch_id")
            .unionByName(grid)
            .groupBy(*group_cols)
            .agg(F.sum("cnt").alias("cnt"))
        )
    grid = grid.withColumn("last_batch_id", F.lit(batch_id))
    swap.replace(grid, output_path, fmt)


def run_upsert_consolidated(
    df: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    key_columns: str | list[str],
    order_by: str | list[str],
    fmt: str = "parquet",
) -> None:
    """Stream → consolidated-table upsert via ``foreachBatch``: each
    micro-batch is keep-latest-merged (W1 dedup) into the consolidated
    output, so the table always holds exactly one (latest) row per key —
    the streaming equivalent of the reference's incremental consolidation
    (consolidator.py:99-143), without its read-overwrite-same-path hazard:
    the merge writes to a staging directory and atomically swaps.

    Scale: each micro-batch merge is one read of the current consolidated
    table + one W1 window over (existing ∪ batch) — cost ∝ table size, the
    same as the reference's incremental mode. For truly large tables the
    production path is a format with merge support; this keeps the
    parity-level file-based contract.
    """
    from metadata_driven_data_pipeline_spark.operators.consolidate import (
        dedup_keep_latest,
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        swap.recover(spark, output_path)
        if swap.exists(spark, output_path):
            existing = spark.read.format(fmt).load(output_path)
            unioned = existing.unionByName(batch_df)
        else:
            unioned = batch_df
        merged = dedup_keep_latest(
            unioned, key_columns, order_by, deterministic=True
        )
        swap.replace(merged, output_path, fmt)

    q = (
        df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def cms_monitor_merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    output_path: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "md5",
    fmt: str = "parquet",
) -> None:
    """One micro-batch of :func:`run_cms_monitor`: fold the batch's CMS
    grid into the stored grid unless ``batch_id`` is already committed
    (the ``last_batch_id`` watermark every grid row carries), then swap
    crash-safely (sinks/swap.py rename-aside protocol — a crash can
    never leave the accumulated grid unreachable).  Module-level so the
    replay contract is directly testable outside a streaming query."""
    from metadata_driven_data_pipeline_spark.operators.sketch import cms_build

    _merge_additive_grid(
        cms_build(
            batch_df, text_col=text_col, depth=depth, width=width,
            hash_fn=hash_fn,
        ),
        batch_id,
        output_path,
        ["depth", "bucket"],
        fmt,
    )


def run_cms_monitor(
    df: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "md5",
    fmt: str = "parquet",
) -> None:
    """Streaming token-frequency monitor: maintain a Count-Min sketch
    grid over everything the stream has delivered, merged per micro-batch
    via ``foreachBatch`` (counters are ADDITIVE, so merge = union +
    re-sum — the property that makes the sketch the right streaming
    frequency structure; exact top-k state would grow with the
    vocabulary, this grid is a fixed d×w table forever).

    Because the grid is deterministic and order-independent, the final
    table equals ``operators.sketch.cms_build`` over the whole corpus —
    which is exactly how the certified query checks it against the
    DuckDB oracle. Staging-path swap like :func:`run_upsert_consolidated`.

    Replay safety: additive counters are NOT idempotent under
    foreachBatch's at-least-once re-delivery (a crash after the swap but
    before the checkpoint commit replays the batch), so every grid row
    carries ``last_batch_id`` — a replayed batch id ≤ the stored one is
    skipped instead of double-counted.  The grid + its watermark commit
    together in the atomic swap, closing the sidecar-file race.  Batch
    ids are per-checkpoint: resume an existing grid only with its
    original checkpoint (the exactly-once contract streaming requires
    anyway).
    """
    def merge(batch_df: DataFrame, batch_id: int) -> None:
        cms_monitor_merge_batch(
            batch_df, batch_id, output_path,
            text_col=text_col, depth=depth, width=width, hash_fn=hash_fn,
            fmt=fmt,
        )

    q = (
        df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_upsert_partitioned(
    df: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    key_columns: list[str],
    order_by: str,
    partition_col: str,
    fmt: str = "parquet",
) -> None:
    """Stream → partitioned-table upsert via ``foreachBatch`` +
    :func:`~metadata_driven_data_pipeline_spark.sinks.maintenance.merge_upsert`:
    each micro-batch keep-latest-merges into ONLY the partitions it
    touches (dynamic partition overwrite), so per-batch cost follows the
    BATCH's partition footprint instead of the table size — the scale
    upgrade over :func:`run_upsert_consolidated`'s whole-table rewrite
    ("cost ∝ table size" was its documented limit).

    Replays are safe twice over: the streaming checkpoint skips
    committed micro-batches, and a re-run merge of identical rows is
    idempotent (keep-latest over identical inputs).
    """
    from metadata_driven_data_pipeline_spark.sinks.maintenance import (
        merge_upsert,
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df.sparkSession,
            output_path,
            batch_df,
            key_cols=list(key_columns),
            order_col=order_by,
            partition_col=partition_col,
            fmt=fmt,
        )

    q = (
        df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_qhist_monitor(
    df: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 512,
    fmt: str = "parquet",
) -> None:
    """Streaming quantile monitor: maintain a mergeable equi-width
    histogram grid over everything the stream has delivered, merged per
    micro-batch via ``foreachBatch`` (counters are ADDITIVE — the same
    property run_cms_monitor leans on; exact quantile state would grow
    with the data, this grid is ≤ ``bins`` rows forever).  Read
    quantiles off the stored grid any time with
    ``operators.sketch.qhist_quantiles`` — latency-percentile /
    price-distribution dashboards over an unbounded stream at fixed
    state size.

    Deterministic and order-independent, so the final grid equals
    ``qhist_shard_sketches`` + ``qhist_merge`` over the whole corpus
    (pinned in tests/test_streaming.py against the batch build).
    Staging-path swap like :func:`run_upsert_consolidated`.

    Replay safety: same ``last_batch_id`` watermark as
    :func:`run_cms_monitor` — additive counters would double-count a
    replayed micro-batch; the stored watermark (committed atomically
    with the grid in the swap) skips batch ids already folded in.
    """
    def merge(batch_df: DataFrame, batch_id: int) -> None:
        qhist_monitor_merge_batch(
            batch_df, batch_id, output_path, value_col, lo, hi, bins, fmt
        )

    q = (
        df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def qhist_monitor_merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    output_path: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 512,
    fmt: str = "parquet",
) -> None:
    """One micro-batch of :func:`run_qhist_monitor` (see
    :func:`cms_monitor_merge_batch` for the watermark/replay and
    crash-safe-swap contract)."""
    from metadata_driven_data_pipeline_spark.operators.sketch import (
        qhist_merge,
        qhist_shard_sketches,
    )

    _merge_additive_grid(
        qhist_merge(
            qhist_shard_sketches(
                batch_df, value_col, F.lit("batch"), lo, hi, bins
            )
        ),
        batch_id,
        output_path,
        ["bin"],
        fmt,
    )


def ngram_model_merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    output_path: str,
    text_col: str = "text",
    buckets: int = 8192,
    fmt: str = "parquet",
) -> None:
    """One micro-batch of :func:`run_ngram_model_monitor` (see
    :func:`cms_monitor_merge_batch` for the watermark/replay and
    crash-safe-swap contract)."""
    from metadata_driven_data_pipeline_spark.operators.dsir import (
        hashed_ngram_counts,
    )

    _merge_additive_grid(
        hashed_ngram_counts(batch_df, text_col, buckets),
        batch_id,
        output_path,
        ["bucket"],
        fmt,
    )


def run_ngram_model_monitor(
    df: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    text_col: str = "text",
    buckets: int = 8192,
    fmt: str = "parquet",
) -> None:
    """Streaming DSIR raw-corpus model: maintain the hashed-ngram count
    table (``operators/dsir.py hashed_ngram_counts``) over everything
    the stream has delivered, merged per micro-batch — counters are
    ADDITIVE like the CMS grid, and state is ≤ ``buckets`` rows forever
    whatever the vocabulary.  This closes the incremental-DSIR loop:
    each ingestion batch folds into the stored raw model; scoring then
    reads the model with ``dsir_weights(..., raw_counts=stored)``
    without ever rescanning history.

    Deterministic and order-independent, so the final table (minus the
    ``last_batch_id`` watermark) equals :func:`hashed_ngram_counts`
    over the whole delivered corpus — pinned in tests/test_streaming.py.
    Same replay watermark and crash-safe swap as the other monitors."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        ngram_model_merge_batch(
            batch_df, batch_id, output_path, text_col, buckets, fmt
        )

    q = (
        df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_txlog_sink(
    df: DataFrame,
    checkpoint_dir: str,
    table_root: str,
    app_id: str,
    mode: str = "append",
    key_columns: list[str] | None = None,
    order_by: str | None = None,
) -> None:
    """Stream → transaction-log table (:mod:`..sinks.txlog`), the ACID
    tier above :func:`run_upsert_partitioned`: every micro-batch lands
    as ONE atomic commit, so concurrent readers always see a complete
    snapshot (no partial-partition window at all), and appends carry a
    ``txn=(app_id, batch_id)`` watermark — an at-least-once
    ``foreachBatch`` replay after a checkpoint/commit race is a no-op
    instead of a duplicate batch (exactly-once end to end).

    ``mode="merge"`` upserts each batch keep-latest per ``key_columns``
    by ``order_by``, pruned to the files whose key range the batch
    overlaps; merge replays are idempotent by construction (keep-latest
    over identical inputs), so no txn watermark is needed there.
    """
    from metadata_driven_data_pipeline_spark.sinks import txlog

    if mode not in ("append", "merge"):
        raise ValueError(f"run_txlog_sink mode must be append|merge: {mode}")
    if mode == "merge" and not (key_columns and order_by):
        raise ValueError("merge mode needs key_columns + order_by")

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if mode == "append":
            txlog.append(
                batch_df.sparkSession,
                batch_df,
                table_root,
                txn=(app_id, batch_id),
            )
        else:
            txlog.merge(
                batch_df.sparkSession,
                batch_df,
                table_root,
                list(key_columns),
                order_by,
            )

    q = (
        df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
