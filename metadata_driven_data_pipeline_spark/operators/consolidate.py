"""Window-function deduplication / consolidation.

Reference semantics (``pipeline/consolidator.py``):

- keep-latest dedup = ``ROW_NUMBER() OVER (PARTITION BY key ORDER BY ob
  DIR) = 1`` then drop the rank column (consolidator.py:30-43);
- modes (consolidator.py:50-167): disabled → skipped; dedup-disabled →
  plain glob-copy; full (no existing consolidated output) → glob-read +
  dedup + overwrite; incremental → UNION ALL of existing consolidated +
  per-batch outputs, dedup, overwrite;
- KO records are never consolidated (consolidator.py:177-181).

Deliberate fixes over the reference (SURVEY §2.8 hazards):

- **staging-path overwrite**: the reference overwrite-reads the same JSON
  files it is rewriting (consolidator.py:83 read → 130 write), unsafe under
  Spark lazy evaluation. We write through ``sinks/swap.replace``: a
  sibling staging directory, then the crash-safe rename-aside swap (a
  crash leaves the old or the new output, never neither; the next run's
  ``recover`` rolls an interrupted swap back).
- **narrow existence probe**: the reference's bare ``except`` treats any
  read error on the existing output as "first run" and rewrites it from
  the batches alone. Here only an empty ``<output>/*.<fmt>`` glob counts
  as absent; every other error propagates and the output stays intact.
- **deterministic ties**: ``order_by`` accepts a list; ties beyond the list
  fall back to a stable tiebreak over all remaining columns when
  ``deterministic=True`` (the reference's single-column ordering is
  nondeterministic across batch re-ingestion, SURVEY §2.5 note).

Scale notes: dedup is one hash-shuffle on the key; at 100 TB use AQE skew
handling (enabled in the session) and a key with sufficient cardinality.
``rank=1`` filtering happens before the final projection so the shuffle
output is the only materialization.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.sinks import swap


def dedup_keep_latest(
    df: DataFrame,
    key_columns: str | Sequence[str],
    order_by: str | Sequence[str],
    order_direction: str = "DESC",
    deterministic: bool = False,
) -> DataFrame:
    """W1: keep one row per key, latest by ``order_by``.

    Equivalent plan to the reference's ROW_NUMBER query
    (consolidator.py:30-43) but built on the Column API.
    """
    keys = [key_columns] if isinstance(key_columns, str) else list(key_columns)
    obs = [order_by] if isinstance(order_by, str) else list(order_by)
    desc = order_direction.upper() == "DESC"

    order_cols: list[Column] = [
        F.col(c).desc() if desc else F.col(c).asc() for c in obs
    ]
    if deterministic:
        # stable tiebreak over remaining columns (cast to string for orderability)
        rest = [c for c in df.columns if c not in keys and c not in obs]
        order_cols += [F.col(c).cast("string").asc() for c in rest]

    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _has_output(spark: SparkSession, output_path: str, fmt: str) -> bool:
    """True when ``<output_path>/*.<fmt>`` matches a file. Only a null or
    empty glob means "no consolidated output yet"; any other error
    propagates."""
    pattern = spark._jvm.org.apache.hadoop.fs.Path(
        output_path.rstrip("/") + f"/*.{fmt}"
    )
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    found = fs.globStatus(pattern)
    return found is not None and len(found) > 0


def consolidate_ok_records(
    spark: SparkSession, consolidation_config: dict[str, Any], fmt: str = "json"
) -> dict[str, Any]:
    """Composite consolidation operator (parity: consolidator.py:50-167).

    Returns the same shape of status dict the reference produces so run
    logs stay comparable.
    """
    if not consolidation_config.get("enabled", False):
        return {"status": "skipped", "reason": "Consolidation not enabled"}

    ok_config = consolidation_config.get("ok_records", {})
    input_pattern = ok_config.get("input_pattern")
    output_path = ok_config.get("output_path")
    dedup_config = ok_config.get("deduplication", {})

    def read(path: str) -> DataFrame:
        return spark.read.format(fmt).option("mode", "PERMISSIVE").load(path)

    if not dedup_config.get("enabled", False):
        df_all = read(input_pattern)
        record_count = df_all.count()
        swap.replace(df_all, output_path, fmt)
        return {
            "status": "success",
            "deduplication_enabled": False,
            "total_records": record_count,
            "output_path": output_path,
        }

    key_column = dedup_config.get("key_column", "policy_number")
    order_by = dedup_config.get("order_by", "batch_date")
    order_direction = dedup_config.get("order_direction", "DESC")
    deterministic = bool(dedup_config.get("deterministic", False))

    # Roll back a swap a crash interrupted, then probe for an existing
    # consolidated output (reference: consolidator.py:77-89).
    swap.recover(spark, output_path)
    df_existing = None
    existing_count = 0
    if _has_output(spark, output_path, fmt):
        df_existing = read(output_path.rstrip("/") + f"/*.{fmt}")
        existing_count = df_existing.count()

    df_batches = read(input_pattern)
    batch_count = df_batches.count()

    if df_existing is not None and existing_count > 0:
        combined = df_batches.unionByName(df_existing, allowMissingColumns=False)
        df_dedup = dedup_keep_latest(
            combined, key_column, order_by, order_direction, deterministic
        )
        total_after = df_dedup.count()
        swap.replace(df_dedup, output_path, fmt)
        return {
            "status": "success",
            "consolidation_mode": "incremental",
            "deduplication_enabled": True,
            "key_column": key_column,
            "order_by": order_by,
            "order_direction": order_direction,
            "existing_consolidated_records": existing_count,
            "per_batch_records": batch_count,
            "total_records_after": total_after,
            "output_path": output_path,
        }

    df_dedup = dedup_keep_latest(
        df_batches, key_column, order_by, order_direction, deterministic
    )
    total_after = df_dedup.count()
    swap.replace(df_dedup, output_path, fmt)
    return {
        "status": "success",
        "consolidation_mode": "full",
        "deduplication_enabled": True,
        "key_column": key_column,
        "order_by": order_by,
        "order_direction": order_direction,
        "total_records_before": batch_count,
        "total_records_after": total_after,
        "duplicates_removed": batch_count - total_after,
        "output_path": output_path,
    }


def consolidate_data(
    spark: SparkSession, metadata: dict[str, Any], fmt: str = "json"
) -> dict[str, Any]:
    """Top-level consolidation (parity: consolidator.py:170-182). KO records
    are explicitly never consolidated."""
    results = {
        "ok_records": consolidate_ok_records(
            spark, metadata.get("consolidation", {}), fmt
        ),
        "ko_records": {
            "status": "skipped",
            "reason": "KO records stay in per-batch folders",
        },
    }
    return results
