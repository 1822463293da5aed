"""Partitioning helpers for CPU-bound operators.

Spark sizes scan partitions by *bytes* (`spark.sql.files.maxPartitionBytes`),
which is the right call for I/O-bound relational work but starves CPU-bound
text/vector operators: a few hundred KB of compressed parquet can hide hours
of per-row shingling/hashing work in 1-2 tasks while the rest of the cluster
idles. ``widen`` raises the partition count to the cluster's parallelism
when (and only when) the input is narrower than that — at 100 TB the scan is
already thousands of partitions and this is a no-op, so operators can call
it unconditionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition up to ``min_partitions`` (default: the
    session's ``defaultParallelism``) iff the plan currently has fewer
    partitions. The extra shuffle moves only the projected columns and is
    dwarfed by the downstream per-row compute it parallelizes.

    Streaming frames pass through untouched: ``df.rdd`` is illegal on a
    streaming plan, and the micro-batch engine already parallelizes each
    batch by its own source partitioning — operators shared between the
    batch and streaming lanes (gopher_rules, text_profile, ...) stay
    usable in both."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

