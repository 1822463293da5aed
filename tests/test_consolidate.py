"""Consolidation semantics (reference pipeline/consolidator.py; SURVEY §2.8):
keep-latest window dedup, full vs incremental modes, staging-path overwrite,
KO never consolidated."""

import json
import os

import pytest
from pyspark.sql import Row

from metadata_driven_data_pipeline_spark.operators.consolidate import (
    consolidate_data,
    consolidate_ok_records,
    dedup_keep_latest,
)


@pytest.fixture()
def dup_df(spark):
    return spark.createDataFrame(
        [
            Row(policy_number="P1", batch_date="2025-12-01", v="old"),
            Row(policy_number="P1", batch_date="2025-12-03", v="new"),
            Row(policy_number="P2", batch_date="2025-12-02", v="only"),
        ]
    )


def test_dedup_keep_latest(spark, dup_df):
    out = dedup_keep_latest(dup_df, "policy_number", "batch_date", "DESC")
    rows = {r["policy_number"]: r["v"] for r in out.collect()}
    assert rows == {"P1": "new", "P2": "only"}


def test_dedup_keep_earliest(spark, dup_df):
    out = dedup_keep_latest(dup_df, "policy_number", "batch_date", "ASC")
    rows = {r["policy_number"]: r["v"] for r in out.collect()}
    assert rows["P1"] == "old"


def test_dedup_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", ob="same", payload="x"),
            Row(k="a", ob="same", payload="y"),
        ]
    )
    outs = {
        dedup_keep_latest(df, "k", "ob", "DESC", deterministic=True)
        .collect()[0]["payload"]
        for _ in range(3)
    }
    assert outs == {"x"}  # stable across runs


def _write_batches(spark, root):
    b1 = spark.createDataFrame(
        [Row(policy_number="P1", batch_date="2025-12-01", v="b1"),
         Row(policy_number="P2", batch_date="2025-12-01", v="b1")]
    )
    b2 = spark.createDataFrame(
        [Row(policy_number="P1", batch_date="2025-12-02", v="b2"),
         Row(policy_number="P3", batch_date="2025-12-02", v="b2")]
    )
    b1.write.mode("overwrite").json(f"{root}/batch-2025-12-01/output")
    b2.write.mode("overwrite").json(f"{root}/batch-2025-12-02/output")


def consolidation_config(root):
    return {
        "enabled": True,
        "ok_records": {
            "input_pattern": f"{root}/batch-*/output/*.json",
            "output_path": f"{root}/consolidated/output",
            "deduplication": {
                "enabled": True,
                "key_column": "policy_number",
                "order_by": "batch_date",
                "order_direction": "DESC",
            },
        },
    }


def test_full_consolidation(spark, tmp_path):
    root = str(tmp_path)
    _write_batches(spark, root)
    result = consolidate_ok_records(spark, consolidation_config(root))
    assert result["consolidation_mode"] == "full"
    assert result["total_records_before"] == 4
    assert result["total_records_after"] == 3
    assert result["duplicates_removed"] == 1
    out = spark.read.json(f"{root}/consolidated/output")
    assert {r["policy_number"]: r["v"] for r in out.collect()}["P1"] == "b2"


def test_incremental_consolidation_reads_and_rewrites_safely(spark, tmp_path):
    """Second run must see the existing consolidated output, union, dedup and
    overwrite it — without the read-overwrite hazard (staging swap)."""
    root = str(tmp_path)
    _write_batches(spark, root)
    cfg = consolidation_config(root)
    first = consolidate_ok_records(spark, cfg)
    assert first["consolidation_mode"] == "full"

    # new batch arrives with a newer P2
    b3 = spark.createDataFrame(
        [Row(policy_number="P2", batch_date="2025-12-03", v="b3")]
    )
    b3.write.mode("overwrite").json(f"{root}/batch-2025-12-03/output")

    second = consolidate_ok_records(spark, cfg)
    assert second["consolidation_mode"] == "incremental"
    assert second["existing_consolidated_records"] == 3
    out = spark.read.json(f"{root}/consolidated/output")
    rows = {r["policy_number"]: r["v"] for r in out.collect()}
    assert rows == {"P1": "b2", "P2": "b3", "P3": "b2"}
    # no stray staging dirs left behind
    assert not [d for d in os.listdir(f"{root}/consolidated") if "staging" in d]


def test_consolidation_disabled(spark):
    result = consolidate_ok_records(spark, {"enabled": False})
    assert result["status"] == "skipped"


def test_dedup_disabled_plain_copy(spark, tmp_path):
    root = str(tmp_path)
    _write_batches(spark, root)
    cfg = consolidation_config(root)
    cfg["ok_records"]["deduplication"]["enabled"] = False
    result = consolidate_ok_records(spark, cfg)
    assert result["deduplication_enabled"] is False
    assert result["total_records"] == 4


def test_ko_never_consolidated(spark, tmp_path):
    root = str(tmp_path)
    _write_batches(spark, root)
    results = consolidate_data(spark, {"consolidation": consolidation_config(root)})
    assert results["ko_records"]["status"] == "skipped"


def _add_batch_3(spark, root):
    spark.createDataFrame(
        [Row(policy_number="P2", batch_date="2025-12-03", v="b3")]
    ).write.mode("overwrite").json(f"{root}/batch-2025-12-03/output")


def test_crash_between_renames_recovers_incremental(spark, tmp_path):
    """A crash after the swap renamed the output aside and before the new
    one landed leaves only ``output__prev``; the next run must roll it
    back and consolidate incrementally, not restart from the batches."""
    root = str(tmp_path)
    _write_batches(spark, root)
    cfg = consolidation_config(root)
    consolidate_ok_records(spark, cfg)
    out = f"{root}/consolidated/output"
    os.rename(out, out + "__prev")
    _add_batch_3(spark, root)

    result = consolidate_ok_records(spark, cfg)
    assert result["consolidation_mode"] == "incremental"
    assert result["existing_consolidated_records"] == 3
    assert os.listdir(f"{root}/consolidated") == ["output"]
    rows = {r["policy_number"]: r["v"] for r in spark.read.json(out).collect()}
    assert rows == {"P1": "b2", "P2": "b3", "P3": "b2"}


def test_existing_output_read_error_propagates(spark, tmp_path, monkeypatch):
    """Only "not found" means no consolidated output yet: a failing read
    of the existing output must fail the run and leave it intact instead
    of silently rewriting it from the batches alone."""
    from pyspark.sql.readwriter import DataFrameReader

    root = str(tmp_path)
    _write_batches(spark, root)
    cfg = consolidation_config(root)
    consolidate_ok_records(spark, cfg)
    _add_batch_3(spark, root)
    out = f"{root}/consolidated/output"

    real_load = DataFrameReader.load

    def failing_load(self, path=None, *args, **kwargs):
        if isinstance(path, str) and path.startswith(out):
            raise OSError("injected read failure")
        return real_load(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "load", failing_load)
    with pytest.raises(OSError, match="injected read failure"):
        consolidate_ok_records(spark, cfg)
    monkeypatch.undo()

    rows = {r["policy_number"]: r["v"] for r in spark.read.json(out).collect()}
    assert rows == {"P1": "b2", "P2": "b1", "P3": "b2"}
    assert os.listdir(f"{root}/consolidated") == ["output"]


def test_monitor_grid_on_file_uri(spark, tmp_path):
    """The replace primitive runs on the Hadoop FS of the path's scheme,
    so a streaming monitor whose output is a ``file://`` URI accumulates
    like a bare path."""
    from metadata_driven_data_pipeline_spark.operators.sketch import cms_build
    from metadata_driven_data_pipeline_spark.streaming.incremental import (
        cms_monitor_merge_batch,
    )

    out = "file://" + str(tmp_path / "grid")
    b0 = spark.createDataFrame(
        [Row(doc_id=1, text="the cat sat"), Row(doc_id=2, text="the dog")]
    )
    b1 = spark.createDataFrame([Row(doc_id=3, text="the bird")])
    cms_monitor_merge_batch(b0, 0, out, depth=2, width=64)
    cms_monitor_merge_batch(b1, 1, out, depth=2, width=64)

    got = {
        (r.depth, r.bucket): (r.cnt, r.last_batch_id)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.depth, r.bucket): (r.cnt, 1)
        for r in cms_build(b0.unionByName(b1), depth=2, width=64).collect()
    }
    assert got == want
    assert os.listdir(tmp_path) == ["grid"]
