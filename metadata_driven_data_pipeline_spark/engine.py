"""The engine: metadata-compiled dataflow execution with incremental batches.

Reference lifecycle (``pipeline/runner.py:97-501``): load config → load
metadata → read/create manifest → discover batches → watermark filter → per
batch: sources → transforms → sinks → commit manifest → consolidation →
finalize run log.

Rebuild differences (SURVEY §3.1/§4):
- metadata is validated + each dataflow compiled to a dependency DAG before
  anything executes (compile-time missing-ref/cycle errors);
- relations live in an engine-level catalog dict (no private
  ``spark.catalog._jcatalog`` API, no global temp-view namespace collisions);
- the annotated validation DataFrame is cached once; sink counts come from
  ``observe()`` metrics materialized by the write itself — the
  read→validate→write lineage executes ONCE per batch instead of 3+ times;
- consolidation replaces its output through the crash-safe staging swap of
  ``sinks/swap.py`` (no read-overwrite-same-path; a crash leaves the old or
  the new output, never neither). It keeps its own watermark of folded
  input files, so a run reads the existing output plus only the batch
  files not yet folded, and a run with none does nothing; a batch whose
  manifest commit landed before a crash is still folded by the next run,
  no-op or not, because the watermark is not "this run's batches".

At 100 TB: the per-batch loop stays (ordered at-least-once semantics are the
contract), but each batch is a partition-pruned scan; independent dataflows
within a batch share the session and can be submitted concurrently from
separate threads (Spark schedules fairly within one context).
"""

from __future__ import annotations

import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from metadata_driven_data_pipeline_spark.manifest import (
    create_manifest,
    read_manifest,
    update_manifest,
    write_manifest,
)
from metadata_driven_data_pipeline_spark.operators.relational import TRANSFORM_TYPES
from metadata_driven_data_pipeline_spark.plans.compiler import (
    compile_dataflow,
    validate_metadata,
)
from metadata_driven_data_pipeline_spark.runlog import RunLog
from metadata_driven_data_pipeline_spark.operators.consolidate import consolidate_data
from metadata_driven_data_pipeline_spark.sinks.writer import write_sink
from metadata_driven_data_pipeline_spark.sources.discovery import (
    discover_batches,
    filter_new_batches,
)
from metadata_driven_data_pipeline_spark.sources.reader import read_source


class Engine:
    """Executes a metadata document against a SparkSession."""

    def __init__(
        self,
        spark: SparkSession,
        metadata: dict[str, Any],
        run_id: str | None = None,
        manifest_path: str | None = None,
        pipeline_name: str = "pipeline",
        log: RunLog | None = None,
    ):
        validate_metadata(metadata)
        self.spark = spark
        self.metadata = metadata
        self.run_id = run_id or os.environ.get("RUN_ID") or uuid.uuid4().hex[:16]
        self.manifest_path = manifest_path
        self.pipeline_name = pipeline_name
        # An injected log is shared with an orchestrator (orchestrate.py)
        # that owns finalization — the engine then only appends its own
        # spark_pipeline stage, mirroring the reference split where the DAG's
        # last stage finalizes the log, not the spark job
        # (airflow/dags/motor_policy_pipeline_dag.py:137 sets FINALIZE_LOG
        # on post_pipeline_tests, not on run_spark_pipeline).
        self._owns_log = log is None
        self.log = log if log is not None else RunLog(self.run_id, pipeline_name)
        self.compiled = [compile_dataflow(f) for f in metadata["dataflows"]]

    # -- single-batch dataflow execution ------------------------------------

    def run_dataflow(
        self,
        flow_index: int,
        batch_date: str | None,
        stage: dict[str, Any],
        base_catalog: dict[str, DataFrame] | None = None,
    ) -> dict[str, DataFrame]:
        """Run one compiled dataflow for one batch; returns the relation
        catalog (useful for tests / chaining)."""
        compiled = self.compiled[flow_index]
        catalog: dict[str, DataFrame] = dict(base_catalog or {})
        cached: list[DataFrame] = []

        for source in compiled.sources:
            t0 = RunLog.now()
            result = read_source(self.spark, source, batch_date)
            if result.status == "success":
                catalog[result.name] = result.df
                stage["sub_stages"].append(
                    RunLog.sub_stage(
                        f"source_load_{result.name}_batch_{batch_date}",
                        "source",
                        t0,
                        "success",
                        source_path=result.path,
                        batch_date=batch_date,
                        schema_enforced=result.schema_enforced,
                        enforced_fields=result.enforced_fields,
                        source_required=result.required,
                    )
                )
            else:
                stage["sub_stages"].append(
                    RunLog.sub_stage(
                        f"source_load_{result.name}_batch_{batch_date}",
                        "source",
                        t0,
                        "skipped",
                        source_path=result.path,
                        batch_date=batch_date,
                        skip_reason=result.skip_reason,
                        source_required=False,
                    )
                )

        for transform in compiled.transforms_in_order:
            t0 = RunLog.now()
            handler = TRANSFORM_TYPES[transform["type"]]
            ctx = {
                "name": transform["name"],
                "batch_id": batch_date,
                "run_id": self.run_id,
                "spark": self.spark,
            }
            outputs = handler(catalog, transform.get("params", {}), ctx)
            catalog.update(outputs)
            for df in outputs.values():
                if df.is_cached:
                    cached.append(df)
            stage["sub_stages"].append(
                RunLog.sub_stage(
                    f"{transform['name']}_batch_{batch_date}",
                    "transformation",
                    t0,
                    "success",
                    batch_date=batch_date,
                    transformation_type=transform["type"],
                    outputs=list(outputs),
                )
            )

        for sink in compiled.sinks:
            t0 = RunLog.now()
            sink_input = sink["input"]
            try:
                if sink_input not in catalog:
                    raise ValueError(f"Sink input '{sink_input}' does not exist")
                info = write_sink(catalog[sink_input], sink, batch_date)
                stage["sub_stages"].append(
                    RunLog.sub_stage(
                        f"{sink.get('name', sink_input)}_batch_{batch_date}",
                        "sink",
                        t0,
                        "success",
                        batch_date=batch_date,
                        **info,
                    )
                )
            except Exception as e:
                stage["sub_stages"].append(
                    RunLog.sub_stage(
                        f"{sink.get('name', sink_input)}_batch_{batch_date}",
                        "sink",
                        t0,
                        "failed",
                        batch_date=batch_date,
                        error_message=str(e),
                    )
                )
                raise

        for df in cached:
            df.unpersist()
        return catalog

    # -- full pipeline -------------------------------------------------------

    def _run_batch_dataflows(self, batch_date: str | None, stage: dict[str, Any]) -> None:
        """Run every dataflow for one batch. Independent dataflows share no
        relations (each builds its own catalog), so with
        ``metadata["concurrent_dataflows"] = true`` they are submitted from
        worker threads — Spark schedules jobs from multiple threads fairly
        within one session, which overlaps the I/O and planning gaps of one
        dataflow with the compute of another. Batches stay strictly ordered
        (the at-least-once watermark contract); only dataflows within a
        batch parallelize. Sub-stage log records append under a lock via
        per-thread local lists merged in declaration order."""
        n = len(self.compiled)
        if n <= 1 or not self.metadata.get("concurrent_dataflows"):
            for i in range(n):
                self.run_dataflow(i, batch_date, stage)
            return

        from concurrent.futures import ThreadPoolExecutor

        local_stages: list[dict[str, Any]] = [
            {"sub_stages": []} for _ in range(n)
        ]
        with ThreadPoolExecutor(max_workers=min(n, 8)) as pool:
            futures = [
                pool.submit(self.run_dataflow, i, batch_date, local_stages[i])
                for i in range(n)
            ]
            for f in futures:
                f.result()  # re-raise the first failure
        for ls in local_stages:
            stage["sub_stages"].extend(ls["sub_stages"])

    def run(self) -> dict[str, Any]:
        """Full lifecycle: discovery → watermark filter → batch loop →
        per-batch manifest commit → consolidation."""
        stage = self.log.start_stage("spark_pipeline")
        try:
            mode = self.metadata.get("processing_mode", "full")
            manifest = None
            if self.manifest_path:
                manifest = read_manifest(self.manifest_path)
            if manifest is None:
                manifest = create_manifest(self.pipeline_name)

            if mode == "incremental":
                bc = self.metadata["batch_config"]
                input_pattern = bc["input_pattern"]
                # input root = everything before the "batch-{date}" segment
                prefix_idx = input_pattern.index("batch-{date}")
                input_root = input_pattern[:prefix_idx].rstrip("/")
                date_format = bc.get("date_format", "%Y-%m-%d")
                all_batches = discover_batches(
                    self.spark, input_root, "batch-", date_format
                )
                new_batches, rejected = filter_new_batches(
                    all_batches, manifest.get("last_processed_batch")
                )
                if rejected:
                    stage["sub_stages"].append(
                        RunLog.sub_stage(
                            "watermark_filter",
                            "discovery",
                            RunLog.now(),
                            "success",
                            rejected_batches=rejected,
                        )
                    )
            else:
                new_batches = [None]

            for batch_date in new_batches:
                self._run_batch_dataflows(batch_date, stage)
                if batch_date is not None:
                    manifest = update_manifest(manifest, batch_date, self.run_id)
                    if self.manifest_path:
                        write_manifest(manifest, self.manifest_path)

            t0 = RunLog.now()
            consolidation_result = consolidate_data(self.spark, self.metadata)
            ok_info = {
                ("consolidation_status" if k == "status" else k): v
                for k, v in consolidation_result["ok_records"].items()
                if not isinstance(v, DataFrame)
            }
            stage["sub_stages"].append(
                RunLog.sub_stage(
                    "consolidation", "consolidation", t0, "success", **ok_info
                )
            )
            self.log.end_stage(stage, "success")
            if self._owns_log:
                return self.log.finalize("success")
            return self.log.doc
        except Exception:
            self.log.end_stage(stage, "failed")
            if self._owns_log:
                self.log.finalize("failed")
            raise


def run_pipeline(
    spark: SparkSession,
    metadata: dict[str, Any],
    run_id: str | None = None,
    manifest_path: str | None = None,
    pipeline_name: str = "pipeline",
) -> dict[str, Any]:
    """Convenience top-level entry (parity: pipeline/runner.py:97's
    run_pipeline); returns the finalized run-log document."""
    return Engine(
        spark, metadata, run_id=run_id, manifest_path=manifest_path,
        pipeline_name=pipeline_name,
    ).run()
