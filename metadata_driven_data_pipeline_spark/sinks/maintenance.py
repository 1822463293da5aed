"""Table maintenance: small-file compaction.

The operational counterpart of the write path: incremental pipelines
(per-batch sinks, streaming foreachBatch upserts) accrete many small
files, and at 100 TB the file count — not the byte count — becomes the
scan bottleneck (driver listing, per-file open cost, task scheduling,
object-store request rates). Compaction rewrites a table into
``ceil(total_bytes / target_bytes)`` right-sized files.

Uses the Hadoop FileSystem API (via the session's JVM) for sizing, so it
works on any configured scheme (file://, s3a://, ...), and replaces the
table through :func:`.swap.replace`, the same crash-safe staging swap as
the consolidation writer (never read-overwrite-in-place — the
reference's hazard, SURVEY §2.8).
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.sinks import swap


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """File count + total bytes under ``path`` (recursive), via the
    Hadoop FileSystem of the path's scheme."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    n, total = 0, 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS, checksums, hidden
        n += 1
        total += st.getLen()
    return {"files": n, "bytes": total}


def compact_small_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite the table at ``path`` into ``ceil(bytes / target_bytes)``
    files (optionally sorted within files to keep min/max stats tight —
    compose with :mod:`.layout` by sorting on a Z-order key column).

    Plan: one read → ``repartition(n)`` (round-robin — even output sizes)
    or ``repartitionByRange(n, sort_by)`` when sorting → staging write →
    crash-safe swap. Returns before/after file stats.

    Scale shape: exactly one shuffle of the data (any compaction must
    move every byte once); no driver-side row handling. Run it from the
    same scheduler slot as consolidation — it is idempotent and safe to
    re-run (the swap is all-or-nothing).
    """
    swap.recover(spark, path)
    before = table_file_stats(spark, path)
    n_files = max(1, math.ceil(before["bytes"] / max(1, target_bytes)))
    df = spark.read.format(fmt).load(path)
    if sort_by:
        out = df.repartitionByRange(
            n_files, *[F.col(c) for c in sort_by]
        ).sortWithinPartitions(*sort_by)
    else:
        out = df.repartition(n_files)
    swap.replace(out, path, fmt)
    after = table_file_stats(spark, path)
    return {"before": before, "after": after, "target_files": n_files}


def merge_upsert(
    spark: SparkSession,
    table_path: str,
    updates,
    key_cols: list[str],
    order_col: str,
    partition_col: str,
    fmt: str = "parquet",
) -> dict:
    """MERGE INTO semantics for a ``partition_col``-partitioned table:
    upsert ``updates`` keeping the latest row per key (by ``order_col``),
    rewriting ONLY the partitions the updates touch.

    The 100 TB point: a mutable dimension or metadata table is petabytes
    across thousands of date/domain partitions, but a daily upsert
    touches a handful — dynamic partition overwrite replaces exactly
    the partitions present in the written frame and leaves every other
    partition's files untouched on disk. It is the
    ``partitionOverwriteMode=dynamic`` option of the one final writer,
    never the session setting, which a plain overwrite sink of another
    dataflow on the same session would inherit. Plan: partition-pruned
    read of the affected slice (filter on ``partition_col`` reaches the
    scan), union with updates, one keep-latest window per key, write.

    The merged slice stages through a side path first (breaking the
    read-overwrite cycle — same discipline as consolidation; Spark
    refuses self-overwrite reads, and the reference's in-place pattern
    loses data on failure, consolidator.py:83/130). Re-running the same
    upsert is idempotent: keep-latest over identical inputs yields the
    identical slice.

    NULL partition values map to Hive's default partition
    (``__HIVE_DEFAULT_PARTITION__``) and are handled like any other:
    the NULL partition joins the affected list, its existing rows are
    read into the keep-latest merge, and dynamic overwrite rewrites it
    — a NULL-keyed batch can never silently drop rows (it used to:
    NULLs were excluded from ``affected`` yet still flowed into the
    written frame, replacing the stored NULL partition with batch rows
    only).

    Concurrency contract: the final dynamic-overwrite commit deletes
    each affected partition's old files before moving the new ones in,
    so a reader that lists an affected partition DURING the commit can
    observe it partially written (missing or mixed files). Untouched
    partitions are never perturbed (their files keep identity + mtime),
    and the staging write means a crash mid-merge leaves the table
    fully intact — the window is only the per-partition commit itself.
    A reader that retries after the commit sees exactly the merged
    slice; readers needing snapshot isolation under concurrent upserts
    should use an ACID table format (out of scope — the reference is
    plain files too, pipeline/sink.py:8-12).

    The affected-partition list crosses the driver (bounded by the
    number of touched partitions, not rows). Returns
    ``{"partitions_rewritten": [...], "rows_written": n}`` — ``n`` from
    an ``observe()`` on the final write, and a NULL partition appears as
    ``None`` in the list.
    """
    from metadata_driven_data_pipeline_spark.operators.consolidate import (
        dedup_keep_latest,
    )

    part_vals = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    has_null = any(v is None for v in part_vals)
    affected = sorted(v for v in part_vals if v is not None)
    rewritten = affected + ([None] if has_null else [])
    if not rewritten:
        return {"partitions_rewritten": [], "rows_written": 0}
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    staging = None
    try:
        if fs.exists(hpath):
            touched = F.col(partition_col).isin(affected)
            if has_null:
                touched = touched | F.col(partition_col).isNull()
            existing = spark.read.format(fmt).load(table_path).filter(touched)
            merged = dedup_keep_latest(
                existing.unionByName(updates.select(*existing.columns)),
                key_cols,
                order_col,
            )
            staging = f"{table_path}__upsert_{uuid.uuid4().hex[:8]}"
            merged.write.format(fmt).mode("overwrite").save(staging)
            landed = spark.read.format(fmt).load(staging)
        else:
            # bootstrap: first batch creates the partitioned table outright
            landed = dedup_keep_latest(updates, key_cols, order_col)
        obs = Observation()
        (
            landed.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.format(fmt)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .save(table_path)
        )
    finally:
        # the staged slice is never needed again, even when a write failed
        if staging is not None:
            spath = jvm.org.apache.hadoop.fs.Path(staging)
            if fs.exists(spath):
                swap._check(fs.delete(spath, True), "delete", staging)
    return {"partitions_rewritten": rewritten, "rows_written": obs.get["rows"]}
