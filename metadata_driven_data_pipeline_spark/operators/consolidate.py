"""Window-function deduplication / consolidation.

Reference semantics (``pipeline/consolidator.py``):

- keep-latest dedup = ``ROW_NUMBER() OVER (PARTITION BY key ORDER BY ob
  DIR) = 1`` then drop the rank column (consolidator.py:30-43);
- modes (consolidator.py:50-167): disabled → skipped; dedup-disabled →
  plain glob-copy; full (no existing consolidated output) → dedup +
  overwrite; incremental → UNION ALL of existing consolidated +
  per-batch outputs, dedup, overwrite; here also up_to_date → nothing
  to fold, no Spark job and no rewrite;
- KO records are never consolidated (consolidator.py:177-181).

Watermark (O(batch) consolidation): the reference re-reads every batch
output ever written on every run. Here the output directory carries a
JSON marker, ``<output>/_consolidated``, holding the input files already
folded in (``[path, length, modificationTime]``, so a rewritten file
counts as new), the dedup config, the output schema and row count. A run
lists ``input_pattern`` once through the Hadoop FileSystem and folds the
existing output with only the files outside the marker; full and
incremental are the same fold, with or without an existing output. The
marker only counts for the config it was written under: a missing marker
or a changed config folds every listed file (the reference behaviour); a
marker that exists but cannot be read or parsed raises. The existing
output is read with the marker's schema (no inference job) and every
count comes from ``observe()`` metrics the write fills in (no
``count()`` job).

Crash safety: the fold writes through ``sinks/swap.replace``, then
publishes the marker into the freshly swapped directory (``.tmp`` +
rename). A crash before the swap leaves the old output with its old
marker; between the swap and the marker, the new output has no marker,
so the next run folds everything again, which keep-latest makes
idempotent. The engine commits each batch's manifest entry before
consolidation runs, so a crash in between leaves that batch outside the
marker and the next run folds it, even a no-op run whose batch
watermark rejects every batch.

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

import json
import uuid
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from metadata_driven_data_pipeline_spark.sinks import swap

# the consolidation watermark, kept inside the output directory
MARKER = "_consolidated"


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


def _list_inputs(spark: SparkSession, pattern: str) -> list[list]:
    """``[path, length, modificationTime]`` of every data file the glob
    ``pattern`` covers, sorted. Directory matches expand to the files
    under them; ``_``/``.`` names are skipped, as Spark's file index
    does, and so are empty files, which hold no rows."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(pattern).getFileSystem(spark._jsc.hadoopConfiguration())
    stack = [(st, True) for st in fs.globStatus(Path(pattern)) or []]
    files = []
    while stack:
        st, is_root = stack.pop()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if st.isDirectory():
            if not is_root and "=" in name:
                raise ValueError(
                    f"consolidation input {st.getPath().toString()} is a "
                    "partition directory; point input_pattern at "
                    "unpartitioned batch outputs"
                )
            stack.extend((c, False) for c in fs.listStatus(st.getPath()))
        elif st.getLen() > 0:
            files.append(
                [st.getPath().toString(), st.getLen(), st.getModificationTime()]
            )
    return sorted(files)


def _read_marker(spark: SparkSession, marker_path: str) -> dict | None:
    """The marker document, or None when there is none. A marker that
    exists but cannot be read or parsed raises."""
    text = swap.read_text(spark, marker_path)
    if text is None:
        return None
    try:
        marker = json.loads(text)
    except ValueError as e:
        raise ValueError(f"corrupt consolidation marker {marker_path}: {e}") from e
    keys = {"files", "config", "schema", "rows"}
    if not isinstance(marker, dict) or not keys <= marker.keys():
        raise ValueError(f"corrupt consolidation marker {marker_path}: missing keys")
    return marker


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count that the action running it fills in."""
    obs = Observation(f"consolidate_{uuid.uuid4().hex[:8]}")
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def consolidate_ok_records(
    spark: SparkSession, consolidation_config: dict[str, Any], fmt: str = "json"
) -> dict[str, Any]:
    """Composite consolidation operator (parity: consolidator.py:50-167).

    Returns the same shape of status dict the reference produces so run
    logs stay comparable, plus ``files_folded`` (batch files read).
    """
    if not consolidation_config.get("enabled", False):
        return {"status": "skipped", "reason": "Consolidation not enabled"}

    ok_config = consolidation_config.get("ok_records", {})
    input_pattern = ok_config.get("input_pattern")
    output_path = ok_config.get("output_path").rstrip("/")
    dedup_config = ok_config.get("deduplication", {})

    def read(path: str | list[str], schema: StructType | None = None) -> DataFrame:
        reader = spark.read.format(fmt).option("mode", "PERMISSIVE")
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(path)

    if not dedup_config.get("enabled", False):
        df_all, obs = _observed(read(input_pattern))
        swap.replace(df_all, output_path, fmt)
        return {
            "status": "success",
            "deduplication_enabled": False,
            "total_records": int(obs.get["rows"]),
            "output_path": output_path,
        }

    key_column = dedup_config.get("key_column", "policy_number")
    order_by = dedup_config.get("order_by", "batch_date")
    order_direction = dedup_config.get("order_direction", "DESC")
    deterministic = bool(dedup_config.get("deterministic", False))
    config = {
        "key_column": key_column,
        "order_by": order_by,
        "order_direction": order_direction,
        "deterministic": deterministic,
        "fmt": fmt,
    }
    status = {
        "status": "success",
        "deduplication_enabled": True,
        "key_column": key_column,
        "order_by": order_by,
        "order_direction": order_direction,
        "output_path": output_path,
    }

    # Roll back a swap a crash interrupted, then take the watermark: the
    # input files the output already holds, valid only for this config.
    swap.recover(spark, output_path)
    listed = _list_inputs(spark, input_pattern)
    marker_path = f"{output_path}/{MARKER}"
    marker = _read_marker(spark, marker_path)
    valid = marker is not None and marker["config"] == config
    folded = {tuple(f) for f in marker["files"]} if valid else set()
    new = [f for f in listed if tuple(f) not in folded]
    if valid and not new:
        return {
            **status,
            "consolidation_mode": "up_to_date",
            "files_folded": 0,
            "total_records_after": marker["rows"],
        }

    # existing output (reference: consolidator.py:77-89) ∪ the new files
    df_existing = None
    if _has_output(spark, output_path, fmt):
        schema = StructType.fromJson(marker["schema"]) if valid else None
        df_existing, obs_existing = _observed(
            read(f"{output_path}/*.{fmt}", schema)
        )
    # no data file listed: read the glob as before (Spark raises when it
    # matches nothing)
    df_batches, obs_batches = _observed(
        read([f[0] for f in new] if new else input_pattern)
    )
    combined = df_batches
    if df_existing is not None:
        # a JSON batch omits a column that is null in all its rows
        combined = df_batches.unionByName(df_existing, allowMissingColumns=True)
    df_dedup, obs_out = _observed(
        dedup_keep_latest(
            combined, key_column, order_by, order_direction, deterministic
        )
    )
    swap.replace(df_dedup, output_path, fmt)
    total_after = int(obs_out.get["rows"])
    swap.publish_text(
        spark,
        marker_path,
        json.dumps(
            {
                "files": listed,
                "config": config,
                "schema": json.loads(df_dedup.schema.json()),
                "rows": total_after,
            }
        ),
    )

    batch_count = int(obs_batches.get["rows"])
    if df_existing is not None:
        return {
            **status,
            "consolidation_mode": "incremental",
            "files_folded": len(new),
            "existing_consolidated_records": int(obs_existing.get["rows"]),
            "per_batch_records": batch_count,
            "total_records_after": total_after,
        }
    return {
        **status,
        "consolidation_mode": "full",
        "files_folded": len(new),
        "total_records_before": batch_count,
        "total_records_after": total_after,
        "duplicates_removed": batch_count - total_after,
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
