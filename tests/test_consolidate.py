"""Consolidation semantics (reference pipeline/consolidator.py; SURVEY §2.8):
keep-latest window dedup, full vs incremental modes, staging-path overwrite,
KO never consolidated, and the folded-files watermark."""

import glob
import json
import os
import uuid

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


# -- folded-files watermark ------------------------------------------------


def _rows(spark, path):
    return {
        (r.policy_number, r.batch_date, r.v) for r in spark.read.json(path).collect()
    }


def _snapshot(path):
    """name -> (size, mtime) of every file in ``path``."""
    return {
        n: (os.stat(f"{path}/{n}").st_size, os.stat(f"{path}/{n}").st_mtime_ns)
        for n in os.listdir(path)
    }


def _overwrite_local(path, text):
    """Rewrite a Spark-written local file in place, dropping its checksum
    sibling so the local Hadoop FS reads the new bytes."""
    with open(path, "w") as f:
        f.write(text)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_noop_call_is_up_to_date_and_runs_no_job(spark, tmp_path):
    root = str(tmp_path)
    _write_batches(spark, root)
    cfg = consolidation_config(root)
    sc = spark.sparkContext
    fold_group, noop_group = (f"cons-{uuid.uuid4().hex[:8]}" for _ in range(2))
    out = f"{root}/consolidated/output"
    try:
        sc.setJobGroup(fold_group, "consolidation that folds")
        consolidate_ok_records(spark, cfg)
        before = _snapshot(out)
        sc.setJobGroup(noop_group, "consolidation with nothing new")
        result = consolidate_ok_records(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert result["consolidation_mode"] == "up_to_date"
    assert result["files_folded"] == 0
    assert result["total_records_after"] == 3
    assert sc.statusTracker().getJobIdsForGroup(fold_group)
    assert sc.statusTracker().getJobIdsForGroup(noop_group) == []
    assert _snapshot(out) == before


def test_rewritten_batch_file_is_folded_again(spark, tmp_path):
    """A file rewritten in place keeps its path but changes length and
    modification time, so it is new to the watermark."""
    root = str(tmp_path)
    _write_batches(spark, root)
    cfg = consolidation_config(root)
    consolidate_ok_records(spark, cfg)
    b2 = f"{root}/batch-2025-12-02/output"
    part = next(
        f"{b2}/{n}" for n in os.listdir(b2)
        if n.endswith(".json") and '"P3"' in open(f"{b2}/{n}").read()
    )
    _overwrite_local(
        part,
        '{"policy_number":"P3","batch_date":"2025-12-04","v":"b2r"}\n'
        '{"policy_number":"P4","batch_date":"2025-12-04","v":"b2r"}\n',
    )

    result = consolidate_ok_records(spark, cfg)
    assert result["consolidation_mode"] == "incremental"
    assert result["files_folded"] == 1
    assert result["per_batch_records"] == 2
    assert _rows(spark, f"{root}/consolidated/output") == {
        ("P1", "2025-12-02", "b2"), ("P2", "2025-12-01", "b1"),
        ("P3", "2025-12-04", "b2r"), ("P4", "2025-12-04", "b2r"),
    }


@pytest.mark.parametrize("change", ["marker_deleted", "order_direction"])
def test_missing_or_stale_marker_refolds_everything(spark, tmp_path, change):
    root = str(tmp_path)
    _write_batches(spark, root)
    cfg = consolidation_config(root)
    consolidate_ok_records(spark, cfg)
    out = f"{root}/consolidated/output"
    if change == "marker_deleted":
        os.remove(f"{out}/_consolidated")
    else:
        cfg["ok_records"]["deduplication"]["order_direction"] = "ASC"
    _add_batch_3(spark, root)

    result = consolidate_ok_records(spark, cfg)
    dedup = cfg["ok_records"]["deduplication"]
    batches = spark.read.json(cfg["ok_records"]["input_pattern"])
    data_files = [
        p for p in glob.glob(cfg["ok_records"]["input_pattern"]) if os.path.getsize(p)
    ]
    assert result["files_folded"] == len(data_files)
    want = {
        (r.policy_number, r.batch_date, r.v)
        for r in dedup_keep_latest(
            batches, "policy_number", "batch_date", dedup["order_direction"]
        ).collect()
    }
    assert _rows(spark, out) == want


def test_corrupt_marker_raises_and_keeps_output(spark, tmp_path):
    root = str(tmp_path)
    _write_batches(spark, root)
    cfg = consolidation_config(root)
    consolidate_ok_records(spark, cfg)
    out = f"{root}/consolidated/output"
    _overwrite_local(f"{out}/_consolidated", '{"files": [')
    _add_batch_3(spark, root)
    before = _snapshot(out)

    with pytest.raises(ValueError, match="corrupt consolidation marker"):
        consolidate_ok_records(spark, cfg)
    assert _snapshot(out) == before
    assert os.listdir(f"{root}/consolidated") == ["output"]
    assert _rows(spark, out) == {
        ("P1", "2025-12-02", "b2"), ("P2", "2025-12-01", "b1"),
        ("P3", "2025-12-02", "b2"),
    }


def test_directory_glob_matches_file_glob(spark, tmp_path):
    """``batch-*/output`` folds the same files as ``batch-*/output/*.json``:
    ``_``/``.`` names are skipped even when non-empty (an object-store
    committer writes a JSON manifest into ``_SUCCESS``)."""
    root = str(tmp_path)
    _write_batches(spark, root)
    _overwrite_local(
        f"{root}/batch-2025-12-01/output/_SUCCESS",
        '{"policy_number":"PX","batch_date":"2099-01-01","v":"manifest"}\n',
    )
    by_file = consolidation_config(root)
    by_dir = consolidation_config(root)
    by_dir["ok_records"]["input_pattern"] = f"{root}/batch-*/output"
    by_dir["ok_records"]["output_path"] = f"{root}/consolidated_by_dir/output"

    a = consolidate_ok_records(spark, by_file)
    b = consolidate_ok_records(spark, by_dir)
    assert a["files_folded"] == b["files_folded"]
    assert b["total_records_before"] == 4
    assert _rows(spark, by_dir["ok_records"]["output_path"]) == _rows(
        spark, by_file["ok_records"]["output_path"]
    )


def test_partitioned_batch_output_is_rejected(spark, tmp_path):
    """Folding a partitioned batch output file by file would drop its
    partition column, so a ``k=v`` directory under a match raises."""
    root = str(tmp_path)
    spark.createDataFrame(
        [Row(policy_number="P1", batch_date="2025-12-01", v="b1")]
    ).write.partitionBy("v").json(f"{root}/batch-2025-12-01/output")
    cfg = consolidation_config(root)
    cfg["ok_records"]["input_pattern"] = f"{root}/batch-*/output"
    with pytest.raises(ValueError, match="partition directory"):
        consolidate_ok_records(spark, cfg)


# -- through the engine ----------------------------------------------------


def _engine_metadata(root):
    return {
        "processing_mode": "incremental",
        "batch_config": {
            "input_pattern": f"{root}/input/batch-{{date}}/*.jsonl",
            "date_format": "%Y-%m-%d",
        },
        "dataflows": [
            {
                "name": "ingest",
                "sources": [
                    {
                        "name": "raw",
                        "path": f"{root}/input/batch-{{date}}/*.jsonl",
                        "format": "json",
                    }
                ],
                "transformations": [
                    {
                        "name": "dated",
                        "type": "add_fields",
                        "params": {
                            "input": "raw",
                            "addFields": [
                                {"name": "batch_date", "function": "batch_date"}
                            ],
                        },
                    }
                ],
                "sinks": [
                    {
                        "input": "dated",
                        "name": "ok",
                        "path": f"{root}/batch-{{date}}/output",
                        "format": "json",
                        "saveMode": "overwrite",
                    }
                ],
            }
        ],
        "consolidation": consolidation_config(root),
    }


def _land(root, date, rows):
    os.makedirs(f"{root}/input/batch-{date}")
    with open(f"{root}/input/batch-{date}/input_1.jsonl", "w") as f:
        for key, v in rows:
            f.write(json.dumps({"policy_number": key, "v": v}) + "\n")


def test_consolidation_substage_times_the_fold(spark, tmp_path):
    from metadata_driven_data_pipeline_spark.engine import Engine

    root = str(tmp_path)
    _land(root, "2025-12-01", [("P1", "a"), ("P2", "a")])
    log = Engine(spark, _engine_metadata(root), run_id="t1").run()
    subs = log["stages"][0]["sub_stages"]
    cons = next(s for s in subs if s["name"] == "consolidation")
    last_sink = [s for s in subs if s["stage_type"] == "sink"][-1]
    assert cons["consolidation_mode"] == "full"
    assert cons["files_folded"] >= 1 and cons["total_records_after"] == 2
    assert cons["duration_seconds"] > 0
    assert cons["started_at"] >= last_sink["completed_at"]


def test_crash_after_manifest_commit_is_folded_by_noop_run(
    spark, tmp_path, monkeypatch
):
    """Batch 2's manifest commit lands, then consolidation crashes. The
    next run's batch watermark rejects every batch, and it must still
    fold batch 2."""
    from metadata_driven_data_pipeline_spark import engine
    from metadata_driven_data_pipeline_spark.manifest import read_manifest

    root = str(tmp_path)
    md = _engine_metadata(root)
    manifest = f"{root}/state/manifest.json"
    _land(root, "2025-12-01", [("P1", "a"), ("P2", "a")])
    engine.Engine(spark, md, run_id="r1", manifest_path=manifest).run()
    _land(root, "2025-12-02", [("P1", "b"), ("P3", "b")])

    def crash(*args, **kwargs):
        raise RuntimeError("crash before consolidation")

    monkeypatch.setattr(engine, "consolidate_data", crash)
    with pytest.raises(RuntimeError, match="crash before consolidation"):
        engine.Engine(spark, md, run_id="r2", manifest_path=manifest).run()
    monkeypatch.undo()
    assert read_manifest(manifest)["last_processed_batch"] == "2025-12-02"

    log = engine.Engine(spark, md, run_id="r3", manifest_path=manifest).run()
    subs = {s["name"]: s for s in log["stages"][0]["sub_stages"]}
    assert subs["watermark_filter"]["rejected_batches"] == [
        "2025-12-01", "2025-12-02"
    ]
    assert subs["consolidation"]["consolidation_mode"] != "up_to_date"
    assert _rows(spark, f"{root}/consolidated/output") == {
        ("P1", "2025-12-02", "b"), ("P2", "2025-12-01", "a"),
        ("P3", "2025-12-02", "b"),
    }
