"""DAG-shaped pipeline orchestration (SURVEY §2 L4 parity).

The reference's operational unit is not the Spark job alone but an Airflow
DAG that gates it with test suites and threads one structured run log
through every stage
(``airflow/dags/motor_policy_pipeline_dag.py:154-162``)::

    init_run >> generate_data >> pre_pipeline_tests >> run_spark_pipeline
             >> post_pipeline_tests >> cleanup_run_id

Semantics reproduced here, Spark-first and scheduler-agnostic:

- **Gates fail the pipeline.** A failing pre-gate means the Spark job never
  starts; a failing post-gate marks the run failed. (Airflow gets this from
  task dependencies + BashOperator exit codes; here ``run_dag`` raises
  :class:`GateFailure` at the first red gate.)
- **One run log across stages.** Every stage — including the test gates —
  appends to the same per-``run_id`` JSON document, and only the *last*
  stage finalizes it (reference ``tests/conftest.py:72-136`` appends
  pre/post test stages and finalizes on ``FINALIZE_LOG=true``, which the
  DAG sets on ``post_pipeline_tests`` at
  ``motor_policy_pipeline_dag.py:137``).
- **Cleanup always runs.** The saved log is flushed in a ``finally`` (the
  ``TriggerRule.ALL_DONE`` analog of ``cleanup_run_id``).

A "gate" is any callable ``gate() -> bool | dict``: falsy/False → gate
failed; a dict is treated as passed with the dict stored as stage metrics
(raise or return False to fail). :func:`pytest_gate` adapts a pytest
invocation into a gate, propagating ``RUN_ID`` / ``RUN_LOG_PATH`` /
``FINALIZE_LOG`` so the session hooks in ``tests/conftest.py`` append the
test stage into the shared log exactly like the reference's conftest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
from typing import Any, Callable

from pyspark.sql import SparkSession

from metadata_driven_data_pipeline_spark.engine import Engine
from metadata_driven_data_pipeline_spark.runlog import RunLog

Gate = Callable[[], Any]


class GateFailure(RuntimeError):
    """A pre- or post-pipeline gate failed; the run is marked failed."""

    def __init__(self, stage: str, gate_name: str, detail: Any = None):
        super().__init__(f"{stage} gate {gate_name!r} failed: {detail!r}")
        self.stage = stage
        self.gate_name = gate_name
        self.detail = detail


def _adopt_external_stages(log: RunLog, log_path: str | None) -> None:
    """Fold stages appended to the shared log FILE by gate subprocesses
    back into the in-memory document.

    A ``pytest_gate`` given ``log_path`` runs the suite in a subprocess
    whose conftest hooks append their own test stage to the file; without
    this merge the next in-memory ``_flush()`` would silently overwrite
    that stage (and any ``FINALIZE_LOG=true`` finalization — which under
    ``run_dag`` is run_dag's job anyway: the final status is always the
    DAG's, so set ``finalize=False`` on gates used inside a DAG)."""
    if not log_path or not os.path.exists(log_path):
        return
    try:
        with open(log_path, encoding="utf-8") as f:
            doc = json.load(f)
    except (json.JSONDecodeError, OSError):
        return  # partial write / unreadable: in-memory doc wins
    if doc.get("run_id") != log.doc.get("run_id"):
        return  # stale file from a previous run: never adopt its stages
    seen = {
        (s.get("stage"), s.get("started_at")) for s in log.doc["stages"]
    }
    external = [
        s
        for s in doc.get("stages", [])
        if (s.get("stage"), s.get("started_at")) not in seen
    ]
    if external:
        log.doc["stages"].extend(external)
        log.doc["stages"].sort(key=lambda s: s.get("started_at") or "")


def _run_gates(
    log: RunLog, stage_name: str, gates: list[tuple[str, Gate]]
) -> None:
    """Run gates under one log stage; raise GateFailure on the first red."""
    stage = log.start_stage(stage_name)
    for name, gate in gates:
        t0 = RunLog.now()
        try:
            result = gate()
        except GateFailure as e:
            # record the failing gate so the failed stage isn't empty
            stage["sub_stages"].append(
                RunLog.sub_stage(
                    name, "test_gate", t0, "failed", error=str(e.detail)[:2000]
                )
            )
            log.end_stage(stage, "failed")
            raise
        except Exception as e:  # a crashing gate is a failing gate
            stage["sub_stages"].append(
                RunLog.sub_stage(name, "test_gate", t0, "failed", error=str(e))
            )
            log.end_stage(stage, "failed")
            raise GateFailure(stage_name, name, str(e)) from e
        ok = bool(result) if not isinstance(result, dict) else True
        metrics = result if isinstance(result, dict) else {}
        stage["sub_stages"].append(
            RunLog.sub_stage(
                name, "test_gate", t0, "success" if ok else "failed", **metrics
            )
        )
        if not ok:
            log.end_stage(stage, "failed")
            raise GateFailure(stage_name, name, result)
    log.end_stage(stage, "success")


def run_dag(
    spark: SparkSession,
    metadata: dict[str, Any],
    *,
    run_id: str | None = None,
    manifest_path: str | None = None,
    pipeline_name: str = "pipeline",
    log_path: str | None = None,
    setup: Callable[[], Any] | None = None,
    pre_gates: list[tuple[str, Gate]] | None = None,
    post_gates: list[tuple[str, Gate]] | None = None,
    maintenance: list[dict[str, Any]] | None = None,
) -> dict[str, Any]:
    """Execute the full gated lifecycle and return the finalized run log.

    Stage order mirrors the reference DAG: ``init_run`` → optional ``setup``
    (the generate-data analog) → pre gates → ``Engine.run()`` (appends its
    own ``spark_pipeline`` stage to the shared log) → post gates →
    optional ``maintenance`` (declarative txlog upkeep specs, see
    :func:`run_table_maintenance` — the nightly OPTIMIZE/VACUUM task
    analog) → finalize. The log is saved to ``log_path`` after every stage
    transition and once more in ``finally`` so a crashed run still leaves
    its partial log behind.
    """
    rid = run_id or os.environ.get("RUN_ID") or uuid.uuid4().hex[:16]
    log = RunLog(rid, pipeline_name)

    def _flush() -> None:
        if log_path:
            # adopt stages gate subprocesses appended to the file before
            # overwriting it, so they survive the rewrite (ADVICE r2)
            _adopt_external_stages(log, log_path)
            log.save(log_path)

    init = log.start_stage("init_run")
    init["sub_stages"].append(
        RunLog.sub_stage("assign_run_id", "init", RunLog.now(), "success",
                         run_id=rid)
    )
    log.end_stage(init, "success")
    _flush()

    try:
        if setup is not None:
            stage = log.start_stage("generate_data")
            t0 = RunLog.now()
            try:
                info = setup()
            except Exception as e:
                stage["sub_stages"].append(
                    RunLog.sub_stage("setup", "setup", t0, "failed",
                                     error=str(e))
                )
                log.end_stage(stage, "failed")
                raise
            stage["sub_stages"].append(
                RunLog.sub_stage(
                    "setup", "setup", t0, "success",
                    **(info if isinstance(info, dict) else {}),
                )
            )
            log.end_stage(stage, "success")
            _flush()

        _run_gates(log, "pre_pipeline_tests", pre_gates or [])
        _flush()

        engine = Engine(
            spark,
            metadata,
            run_id=rid,
            manifest_path=manifest_path,
            pipeline_name=pipeline_name,
            log=log,  # shared: engine appends spark_pipeline, no finalize
        )
        engine.run()
        _flush()

        _run_gates(log, "post_pipeline_tests", post_gates or [])
        _flush()

        if maintenance:
            stage = log.start_stage("table_maintenance")
            t0 = RunLog.now()
            try:
                reports = run_table_maintenance(spark, maintenance)
            except MaintenanceFailure as e:
                # specs that already ran had permanent effects (vacuum
                # deletes files) — their reports must reach the log
                for rep in e.completed:
                    stage["sub_stages"].append(
                        RunLog.sub_stage(
                            rep.pop("table"), "maintenance", t0, "success",
                            **rep,
                        )
                    )
                stage["sub_stages"].append(
                    RunLog.sub_stage(e.table, "maintenance", t0,
                                     "failed", error=str(e))
                )
                log.end_stage(stage, "failed")
                raise
            for rep in reports:
                stage["sub_stages"].append(
                    RunLog.sub_stage(
                        rep.pop("table"), "maintenance", t0, "success",
                        **rep,
                    )
                )
            log.end_stage(stage, "success")
            _flush()

        return log.finalize("success")
    except Exception:
        log.finalize("failed")
        raise
    finally:
        # cleanup_run_id analog: TriggerRule.ALL_DONE — always flush
        _flush()


def run_table_maintenance(
    spark: SparkSession, specs: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Execute declarative transaction-log maintenance — the runbook
    analog of a nightly OPTIMIZE/VACUUM DAG task. Each spec names a
    txlog ``table`` root and any of (applied in this order, each one
    atomic commit):

    - ``"createTable": {"schema": <DDL string>, "generated": {col:
      <SQL expr>}, "identity": {col: <start>}}`` (r11) — schema-only
      bootstrap (:func:`txlog.create_table`), optionally with
      GENERATED columns (computed when a write batch omits them,
      enforced via an auto-registered ``gen_<col>`` CHECK constraint
      when provided) and IDENTITY columns (surrogate keys assigned
      above the table's high watermark when omitted — the ``GENERATED
      BY DEFAULT AS IDENTITY`` shape). Idempotent; runs before
      everything;
    - ``"clone": {"source": <txlog root>, "version": N, "timestamp":
      ..., "deep": true}`` (r11) — create THIS table as a clone of a
      source snapshot (:func:`txlog.clone_table`): shallow by default
      (metadata-only, O(files) — the 100 TB fork), ``deep`` copies the
      data. Runs first — it is what brings the table into existence,
      so the same spec can clone-then-maintain;
    - ``"restore": {"version": N}`` or ``{"timestamp": <ISO-8601>}``
      (r11) — roll back to a retained snapshot first (the
      recover-then-clean shape);
    - ``"delete": {"where": [[col, op, value], ...],
      "deletionVectors": true}`` — row-level retention purge
      (stats-proven files drop by pure metadata); ``deletionVectors``
      masks boundary files in a position sidecar instead of rewriting
      them (the GDPR point-delete shape — zero data files rewritten);
    - ``"optimize": {"targetBytes": ..., "zorderBy": [...],
      "smallFileBytes": ..., "maskFraction": 0.2}`` — compaction /
      Z-order clustering; ``smallFileBytes`` bin-packs only under-sized
      files (right-sized files are never rewritten — the O(small-file
      debt) nightly pass); ``maskFraction`` additionally rewrites any
      file whose deletion-vector mask covers more than that fraction of
      its rows, folding accumulated mask debt away so point-deleted
      files stop paying the scan-time anti-join forever — it modifies
      the bin-packed pass only, so it requires ``smallFileBytes``
      (alone it raises ``ValueError``);
      ``withinPartitions: true`` makes ``zorderBy`` re-cluster each
      partition value IN PLACE (layout kept) instead of the global
      layout-folding re-cluster;
    - ``"replicate": {"source": <txlog root>, "keyCols": [...],
      "maxVersions": N, "appId": ...}`` — incremental keyed replication
      INTO this table from another txlog table's row-level CDC feed
      (see :func:`txlog.replicate`); exactly-once per chunk via the
      target's txn watermark, so re-running the DAG never double-
      applies. Runs before delete/optimize so the same run can
      maintain what it just replicated. Add ``"checkpoint": <dir>``
      (r10) to run it through the STREAMING engine instead —
      :func:`txlog.replicate_stream` drains the backlog in checkpointed
      micro-batches (the continuous-replication shape; schema
      auto-evolves either way). ``"fromSnapshot": {"path": ...,
      "format": ..., "version": N}`` (r11) replaces the CDC feed with
      a FULL-SNAPSHOT diff (:func:`txlog.replicate_from_snapshot`) —
      the source needn't be a txlog table at all, only successive
      dumps with a monotonically increasing ``version``;
    - ``"addConstraint": {"name": ..., "expr": <SQL predicate>}`` /
      ``"dropConstraint": {"name": ...}`` (r10) — CHECK-constraint
      lifecycle (:func:`txlog.add_constraint`): existing rows are
      validated first, then every later row-materializing write
      enforces the predicate in-plan. Runs first (before replicate)
      so the same run's ingestion is already covered;
    - ``"maintainAggregate": {"source": <txlog root>, "groupCols":
      [...], "aggs": {out: ["sum"|"count"|"avg"|"min"|"max", expr]},
      "maxVersions": N}`` (r10; min/max r11) — incremental
      materialized-view maintenance INTO this table
      (:func:`txlog.maintain_aggregate`): the source's CDC deltas fold
      into the grouped aggregate, exactly-once per chunk, never a FULL
      source rescan (min/max rescan only the groups whose extremum a
      delete touched, key-range-pruned). FILTER-clause aggregates ride
      a CASE expression: ``{"hi_sum": ["sum", "CASE WHEN v > 10 THEN v
      END"]}``. ``"checkpoint": <dir>`` runs it through the streaming
      engine; ``"fromSnapshot": {"path": ..., "version": N, "prev":
      <source ref>}`` (r11) folds a full-snapshot multiset diff
      instead (:func:`txlog.maintain_aggregate_from_snapshot` — pass
      the previous dump as ``prev``, omit for the first). Runs before
      scd2;
    - ``"maintainIvfIndex": {"source": <txlog embeddings root>, "dim":
      N, "nCells": 8 | "centroids": [[...]], "idCol": ..., "embCol":
      ..., "maxVersions": N}`` (r11) — incremental IVF ANN index
      maintenance INTO this table from the source's CDC feed
      (:func:`similarity.maintain_ivf_index`): changed vectors
      re-assign to the pinned coarse centroids, deletes tombstone out,
      O(changed vectors) per run instead of an O(corpus) rebuild. Runs
      before scd2;
    - ``"scd2": {"source": <txlog root>, "keyCols": [...],
      "maxVersions": N, "appId": ...}`` (r10) — Type-2 SCD history
      replication INTO this table (:func:`txlog.apply_changes_scd2`):
      key changes close the current history row and insert a new one,
      exactly-once per chunk via the same txn-watermark cursor as
      replicate; ``"checkpoint": <dir>`` runs it through the streaming
      engine like replicate's, and ``"fromSnapshot": {"path": ...,
      "version": N}`` (r11) builds the same history from successive
      FULL snapshots (:func:`txlog.apply_changes_scd2_from_snapshot`).
      Runs after replicate, before merge;
    - ``"merge": {"source": {"path": ..., "format": "parquet"},
      "keyCols": [...], "orderCol": ..., "whenMatchedUpdate": {"set":
      {col: expr}, "condition": expr}, "whenNotMatchedInsert": true |
      {"values": {col: expr}, "condition": expr}, "whenMatchedDelete":
      expr, "whenNotMatchedBySourceDelete": expr | true,
      "mergeSchema": true, "txn": [appId, batchId]}`` (r10) — a full
      MERGE INTO this table from a file source (or another txlog table
      with ``"format": "txlog"``), conditional clauses riding the JSON
      verbatim as :func:`txlog.merge` kwargs (SQL-string conditions use
      the same ``s.``/``t.`` qualifiers); ``"whenMatched": [{"action":
      "update"|"delete", ...}, ...]`` is the ordered multi-clause form.
      NOTE: ``"mergeSchema": true`` is NOT supported together with the
      conditional clauses (``whenMatched*`` / ``whenNotMatchedInsert``)
      — per-column SET/VALUES maps already pin the written columns;
      evolve the table first with a plain append/merge (ADVICE r10 #1;
      :func:`txlog.merge` raises on the combination). Runs after
      replicate, before delete;
    - ``"vacuum": {"keepVersions": N, "cleanLog": true, "dryRun":
      true}`` — physical reclamation of files outside the retention
      horizon (runs LAST so it never reclaims snapshots the same run
      still needs); ``dryRun`` only REPORTS the candidate paths
      (``would_delete``) without removing anything — the review step
      before an irreversible sweep;
      ``cleanLog`` additionally expires commit records below the
      checkpoint horizon so the log listing stays O(K) forever.

    Returns one report dict per spec; the DAG lifecycle folds them into
    a ``table_maintenance`` run-log stage. On failure the raised
    :class:`MaintenanceFailure` carries the failing table AND the
    reports of every spec that already completed — some of those ops
    (vacuum) are irreversible, so the audit trail must survive the
    error."""
    from metadata_driven_data_pipeline_spark.sinks import txlog as _txlog

    reports: list[dict[str, Any]] = []
    for spec in specs:
        root = spec["table"]
        rep: dict[str, Any] = {"table": root}
        try:
            _apply_maintenance_spec(_txlog, spark, spec, root, rep)
        except Exception as e:
            raise MaintenanceFailure(root, reports, e) from e
        reports.append(rep)
    return reports


class MaintenanceFailure(Exception):
    """A maintenance spec failed; ``completed`` holds the reports of the
    specs that already ran (their effects — vacuum especially — are
    permanent and must reach the run log)."""

    def __init__(self, table: str, completed: list[dict], cause: Exception):
        super().__init__(f"maintenance failed on table {table!r}: {cause}")
        self.table = table
        self.completed = completed


def _load_maintenance_source(_txlog, spark, src) -> Any:
    """Resolve a maintenance-spec source reference into a DataFrame:
    either a path string (parquet) or ``{"path": ..., "format":
    "parquet"|"txlog"|..., "options": {...}, "version": N}`` —
    ``format: "txlog"`` reads the table (optionally time-travelled via
    ``asOfVersion``); anything else goes through the DataFrameReader."""
    if isinstance(src, str):
        src = {"path": src, "format": "parquet"}
    fmt = src.get("format", "parquet")
    if fmt == "txlog":
        return _txlog.read_table(
            spark, src["path"], version=src.get("asOfVersion")
        )
    return (
        spark.read.format(fmt)
        .options(**src.get("options", {}))
        .load(src["path"])
    )


def _apply_maintenance_spec(_txlog, spark, spec, root, rep) -> None:
    if "createTable" in spec:
        ct = spec["createTable"]
        from pyspark.sql.types import StructType as _ST

        rep["createTable"] = _txlog.create_table(
            root,
            _ST.fromDDL(ct["schema"]),
            generated=ct.get("generated"),
            identity=ct.get("identity"),
        )
    if "clone" in spec:
        c = spec["clone"]
        rep["clone"] = _txlog.clone_table(
            spark,
            c["source"],
            root,
            version=c.get("version"),
            timestamp=c.get("timestamp"),
            deep=bool(c.get("deep", False)),
        )
    if "restore" in spec:
        r = spec["restore"]
        rep["restore"] = _txlog.restore(
            spark,
            root,
            version=(
                int(r["version"]) if r.get("version") is not None else None
            ),
            timestamp=r.get("timestamp"),
        )
    if "addConstraint" in spec:
        c = spec["addConstraint"]
        rep["addConstraint"] = _txlog.add_constraint(
            spark, root, c["name"], c["expr"]
        )
    if "dropConstraint" in spec:
        rep["dropConstraint"] = _txlog.drop_constraint(
            root, spec["dropConstraint"]["name"]
        )
    if "replicate" in spec:
        r = spec["replicate"]
        if r.get("fromSnapshot"):
            fs = r["fromSnapshot"]
            rep["replicate"] = _txlog.replicate_from_snapshot(
                spark,
                _load_maintenance_source(_txlog, spark, fs),
                root,
                list(r["keyCols"]),
                int(fs["version"]),
                **({"app_id": r["appId"]} if r.get("appId") else {}),
            )
        elif r.get("checkpoint"):
            _txlog.replicate_stream(
                spark,
                r["source"],
                root,
                list(r["keyCols"]),
                r["checkpoint"],
                max_versions=int(r.get("maxVersions", 64)),
                app_id=r.get("appId"),
            )
            rep["replicate"] = {
                "mode": "stream",
                "source": r["source"],
                "checkpoint": r["checkpoint"],
                "version": _txlog.load_snapshot(root).version,
            }
        else:
            rep["replicate"] = _txlog.replicate(
                spark,
                r["source"],
                root,
                list(r["keyCols"]),
                max_versions=int(r.get("maxVersions", 64)),
                app_id=r.get("appId"),
            )
    if "maintainAggregate" in spec:
        ma = spec["maintainAggregate"]
        ma_aggs = {k: (v[0], v[1]) for k, v in ma["aggs"].items()}
        if ma.get("fromSnapshot"):
            fs = ma["fromSnapshot"]
            prev = (
                _load_maintenance_source(_txlog, spark, fs["prev"])
                if fs.get("prev")
                else None
            )
            rep["maintainAggregate"] = (
                _txlog.maintain_aggregate_from_snapshot(
                    spark,
                    prev,
                    _load_maintenance_source(_txlog, spark, fs),
                    root,
                    list(ma["groupCols"]),
                    ma_aggs,
                    int(fs["version"]),
                    **({"app_id": ma["appId"]} if ma.get("appId") else {}),
                )
            )
        elif ma.get("checkpoint"):
            _txlog.maintain_aggregate_stream(
                spark,
                ma["source"],
                root,
                list(ma["groupCols"]),
                ma_aggs,
                ma["checkpoint"],
                max_versions=int(ma.get("maxVersions", 64)),
                app_id=ma.get("appId"),
            )
            rep["maintainAggregate"] = {
                "mode": "stream",
                "source": ma["source"],
                "version": _txlog.load_snapshot(root).version,
            }
        else:
            rep["maintainAggregate"] = _txlog.maintain_aggregate(
                spark,
                ma["source"],
                root,
                list(ma["groupCols"]),
                ma_aggs,
                max_versions=int(ma.get("maxVersions", 64)),
                app_id=ma.get("appId"),
            )
    if "maintainIvfIndex" in spec:
        mi = spec["maintainIvfIndex"]
        from metadata_driven_data_pipeline_spark.operators import (
            similarity as _sim,
        )

        cents = mi.get("centroids")
        if cents is None:
            cents = _sim.ivf_centroids(
                int(mi["dim"]), int(mi.get("nCells", 8))
            )
        rep["maintainIvfIndex"] = _sim.maintain_ivf_index(
            spark,
            mi["source"],
            root,
            int(mi["dim"]),
            cents,
            id_col=mi.get("idCol", "vec_id"),
            emb_col=mi.get("embCol", "embedding"),
            max_versions=int(mi.get("maxVersions", 64)),
            app_id=mi.get("appId"),
        )
    if "scd2" in spec:
        s2 = spec["scd2"]
        if s2.get("fromSnapshot"):
            fs = s2["fromSnapshot"]
            rep["scd2"] = _txlog.apply_changes_scd2_from_snapshot(
                spark,
                _load_maintenance_source(_txlog, spark, fs),
                root,
                list(s2["keyCols"]),
                int(fs["version"]),
                **({"app_id": s2["appId"]} if s2.get("appId") else {}),
            )
        elif s2.get("checkpoint"):
            _txlog.apply_changes_scd2_stream(
                spark,
                s2["source"],
                root,
                list(s2["keyCols"]),
                s2["checkpoint"],
                max_versions=int(s2.get("maxVersions", 64)),
                app_id=s2.get("appId"),
            )
            rep["scd2"] = {
                "mode": "stream",
                "source": s2["source"],
                "version": _txlog.load_snapshot(root).version,
            }
        else:
            rep["scd2"] = _txlog.apply_changes_scd2(
                spark,
                s2["source"],
                root,
                list(s2["keyCols"]),
                max_versions=int(s2.get("maxVersions", 64)),
                app_id=s2.get("appId"),
            )
    if "merge" in spec:
        m = spec["merge"]
        batch = _load_maintenance_source(_txlog, spark, m["source"])
        wni = m.get("whenNotMatchedInsert")
        rep["merge"] = _txlog.merge(
            spark,
            batch,
            root,
            list(m["keyCols"]),
            order_col=m.get("orderCol"),
            when_matched_delete=m.get("whenMatchedDelete"),
            when_not_matched_by_source_delete=m.get(
                "whenNotMatchedBySourceDelete"
            ),
            txn=(
                (str(m["txn"][0]), int(m["txn"][1]))
                if m.get("txn")
                else None
            ),
            when_matched_update=m.get("whenMatchedUpdate"),
            when_not_matched_insert=wni,
            when_matched=m.get("whenMatched"),
            merge_schema=bool(m.get("mergeSchema", False)),
        )
    if "delete" in spec:
        where = [tuple(c) for c in spec["delete"]["where"]]
        rep["delete"] = _txlog.delete(
            spark,
            root,
            where,
            deletion_vectors=bool(spec["delete"].get("deletionVectors", False)),
        )
    if "optimize" in spec:
        o = spec["optimize"]
        small = o.get("smallFileBytes")
        mfrac = o.get("maskFraction")
        rep["optimize"] = _txlog.optimize(
            spark,
            root,
            target_bytes=int(o.get("targetBytes", 128 * 1024 * 1024)),
            zorder_by=o.get("zorderBy"),
            small_file_bytes=int(small) if small is not None else None,
            mask_fraction=float(mfrac) if mfrac is not None else None,
            within_partitions=bool(o.get("withinPartitions", False)),
        )
    if "vacuum" in spec:
        v = spec["vacuum"]
        rep["vacuum"] = _txlog.vacuum(
            root,
            keep_versions=int(v.get("keepVersions", 2)),
            min_age_seconds=float(v.get("minAgeSeconds", 3600.0)),
            clean_log=bool(v.get("cleanLog", False)),
            dry_run=bool(v.get("dryRun", False)),
        )


def pytest_gate(
    pytest_args: list[str],
    *,
    run_id: str | None = None,
    log_path: str | None = None,
    stage_name: str | None = None,
    finalize: bool = False,
    cwd: str | None = None,
) -> Gate:
    """Adapt a pytest invocation into a gate callable.

    Runs ``python -m pytest <args>`` in a subprocess (the reference runs its
    gates the same way: BashOperator → ``python3 -m pytest tests -m ...``,
    ``motor_policy_pipeline_dag.py:84-93,130-141``). ``RUN_ID`` /
    ``RUN_LOG_PATH`` / ``RUN_LOG_STAGE`` / ``FINALIZE_LOG`` are exported so
    the session hooks (:func:`runlog_sessionstart` /
    :func:`runlog_sessionfinish`, wired in ``tests/conftest.py``) append the
    test stage to the shared run-log document.

    Under :func:`run_dag`, stages the subprocess appends to the file are
    folded back into the DAG's in-memory log (``_adopt_external_stages``)
    so they survive later flushes. Give the gate a distinct ``stage_name``
    (e.g. ``"pre_pipeline_tests.pytest"``) so its stage is distinguishable
    from the DAG's own gate stage, and leave ``finalize=False`` — the
    final run status under a DAG is always ``run_dag``'s own.
    """

    def gate() -> dict[str, Any]:
        env = dict(os.environ)
        if run_id:
            env["RUN_ID"] = run_id
        if log_path:
            env["RUN_LOG_PATH"] = log_path
        if stage_name:
            env["RUN_LOG_STAGE"] = stage_name
        env["FINALIZE_LOG"] = "true" if finalize else "false"
        proc = subprocess.run(
            [sys.executable, "-m", "pytest", *pytest_args],
            env=env,
            cwd=cwd,
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            raise GateFailure(
                stage_name or "pytest", " ".join(pytest_args),
                proc.stdout[-2000:] + proc.stderr[-2000:],
            )
        return {"pytest_exit": proc.returncode}

    return gate


def _gate_from_spec(
    spec: dict[str, Any], run_id: str, log_path: str | None
) -> tuple[str, Gate]:
    """Compile one declarative gate spec into a (name, gate) pair.

    Supported shapes (mirroring the reference DAG's BashOperator gates,
    ``motor_policy_pipeline_dag.py:84-93,130-141``):

    - ``{"name": ..., "pytest": [<pytest args>], "stage_name": ...,
       "cwd": ...}`` — a :func:`pytest_gate` subprocess sharing the run
      log (give it a distinct ``stage_name``; ``finalize`` is forced off —
      under a DAG the final status is the DAG's).
    - ``{"name": ..., "require_path": <path>}`` — passes iff the path
      exists (the cheap existence pre-check shape).
    """
    name = spec.get("name") or "gate"
    if "pytest" in spec:
        return name, pytest_gate(
            list(spec["pytest"]),
            run_id=run_id,
            log_path=log_path,
            stage_name=spec.get("stage_name") or f"{name}.pytest",
            finalize=False,
            cwd=spec.get("cwd"),
        )
    if "require_path" in spec:
        path = spec["require_path"]

        def exists_gate() -> dict[str, Any] | bool:
            return {"path": path} if os.path.exists(path) else False

        return name, exists_gate
    raise ValueError(
        f"gate spec {name!r} needs 'pytest' or 'require_path': {spec!r}"
    )


def run_dag_config(
    spark: SparkSession,
    dag: dict[str, Any],
    *,
    run_id: str | None = None,
    metadata: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Execute :func:`run_dag` from a declarative DAG document — the CLI
    runbook surface (``python -m metadata_driven_data_pipeline_spark
    --dag examples/dag_motor.json``; see ``examples/README.md``).

    Document fields: ``pipeline_name``, ``metadata`` (path to a metadata
    JSON, unless an inline ``metadata`` dict is passed), ``manifest``,
    ``log_path``, ``pre_gates`` / ``post_gates`` (lists of gate specs, see
    :func:`_gate_from_spec`), ``maintenance`` (txlog upkeep specs, see
    :func:`run_table_maintenance`). Returns the finalized run-log document;
    raises :class:`GateFailure` at the first red gate exactly like
    :func:`run_dag`.
    """
    from metadata_driven_data_pipeline_spark.config import load_metadata

    rid = run_id or os.environ.get("RUN_ID") or uuid.uuid4().hex[:16]
    if metadata is None:
        meta_path = dag.get("metadata")
        if not meta_path:
            raise ValueError("DAG document needs a 'metadata' path")
        metadata = load_metadata(meta_path)
    log_path = dag.get("log_path")
    return run_dag(
        spark,
        metadata,
        run_id=rid,
        manifest_path=dag.get("manifest"),
        pipeline_name=dag.get("pipeline_name", "pipeline"),
        log_path=log_path,
        pre_gates=[
            _gate_from_spec(s, rid, log_path)
            for s in dag.get("pre_gates", [])
        ],
        post_gates=[
            _gate_from_spec(s, rid, log_path)
            for s in dag.get("post_gates", [])
        ],
        maintenance=dag.get("maintenance"),
    )


# -- pytest session hooks (reference tests/conftest.py:72-136 parity) -------
# Imported by tests/conftest.py; active only when RUN_ID and RUN_LOG_PATH
# are exported (i.e. the suite is running as a DAG gate), a no-op otherwise.

def runlog_sessionstart(session) -> None:
    run_id = os.environ.get("RUN_ID")
    path = os.environ.get("RUN_LOG_PATH")
    if not run_id or not path:
        return
    if not os.path.exists(path):
        raise ValueError(
            f"run log not found at {path!r} for run_id {run_id!r}: "
            "previous DAG stages may have failed or not run yet"
        )
    with open(path) as f:
        doc = json.load(f)
    log = RunLog(run_id)
    log.doc = doc
    stage_name = os.environ.get("RUN_LOG_STAGE")
    if not stage_name:
        argv = " ".join(sys.argv)
        stage_name = (
            "post_pipeline_tests" if "post_pipeline" in argv
            else "pre_pipeline_tests"
        )
    stage = log.start_stage(stage_name)
    session.config._runlog = log
    session.config._runlog_stage = stage
    session.config._runlog_path = path


def runlog_sessionfinish(session, exitstatus) -> None:
    log = getattr(session.config, "_runlog", None)
    if log is None:
        return
    stage = session.config._runlog_stage
    status = "success" if exitstatus == 0 else "failed"
    stage["sub_stages"].append(
        RunLog.sub_stage(
            "pytest", "test_gate", stage["started_at"], status,
            test_result="all_passed" if exitstatus == 0 else "some_failed",
        )
    )
    log.end_stage(stage, status)
    if os.environ.get("FINALIZE_LOG", "false").lower() == "true":
        log.finalize(status)
    log.save(session.config._runlog_path)
