"""Span tracing around the engine's public layer entry points.

Everything here lives outside the package: :func:`install` replaces the
layer functions the engine calls (the names ``engine.py`` imported, the
shared ``TRANSFORM_TYPES`` entries, ``Engine.run`` and the lazily imported
``sinks.txlog`` module attributes) with wrappers that open a span around
the original call. Spans are kept in memory and written out once, when the
traced run ends.

Each span also tags the Spark jobs it starts: the wrapper sets the
thread-local ``spark.jobGroup.id`` to the span id, and at the end the
application status store is read once (as JSON) to attribute task time,
shuffle bytes, spill and input records to the innermost span that started
each job.

Spark is lazy: a transform-handler span measures plan building plus any
eager job the handler starts; lineage execution lands in the sink span
that forces it. The per-span ``spark.jobs``/``spark.task_s`` make that
visible.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder. ``active`` gates recording, so wrappers can
    stay installed while untraced operations run through them."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.active = False
        self.op = 0  # id of the run cycle (a run and its reads) spans belong to
        self._next = 1

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        sid = self._next
        self._next += 1
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "attrs": attrs,
            "start": time.perf_counter(),
            "end": None,
        }
        self.stack.append(rec)
        sc = self._sc()
        if sc is not None:
            sc.setLocalProperty(_GROUP, f"pb-span-{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            sc = self._sc()
            if sc is not None:
                sc.setLocalProperty(
                    _GROUP, f"pb-span-{parent['id']}" if parent else None
                )
            self.spans.append(rec)

    # -- wrapper installation ------------------------------------------------

    @staticmethod
    def _patch(owner, attr: str, wrapper) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with
        ``wrapper(original)`` for the rest of the process."""
        if isinstance(owner, dict):
            owner[attr] = wrapper(owner[attr])
        else:
            setattr(owner, attr, wrapper(getattr(owner, attr)))

    def _wrap(self, name: str, after=None):
        """Wrapper factory: a span named ``name`` around the call; ``after``
        may add attributes from the arguments and result. It runs in a
        ``trace.probe`` span of its own beside the call's span, so its cost
        counts as tracing overhead, not as the layer's or its parent's time."""

        def deco(fn):
            @functools.wraps(fn)
            def wrapped(*args, **kwargs):
                with self.span(name) as rec:
                    out = fn(*args, **kwargs)
                if rec is not None and after is not None:
                    with self.span("trace.probe"):
                        after(rec, args, kwargs, out)
                return out

            return wrapped

        return deco

    def install(self) -> None:
        from metadata_driven_data_pipeline_spark import engine, session
        from metadata_driven_data_pipeline_spark.operators.relational import (
            TRANSFORM_TYPES,
        )
        from metadata_driven_data_pipeline_spark.sinks import txlog
        from metadata_driven_data_pipeline_spark.sources import reader

        self._patch(session, "get_spark", self._wrap("session.get_spark"))
        self._patch(engine.Engine, "run", self._wrap("engine.run"))
        for attr in ("compile_dataflow", "validate_metadata"):
            self._patch(engine, attr, self._wrap("plans.compile"))
        self._patch(
            engine, "discover_batches",
            self._wrap("sources.discover", after=_listed_batches),
        )
        self._patch(
            engine, "read_source", self._wrap("sources.read", after=_listed_files)
        )
        # the benchmark's own downstream reads call reader.read_source
        self._patch(
            reader, "read_source", self._wrap("sources.read", after=_listed_files)
        )
        self._patch(engine, "write_sink", self._wrap("sinks.write", after=_written))
        self._patch(engine, "consolidate_data", self._wrap("consolidate"))
        self._patch(engine, "write_manifest", self._wrap("manifest.write"))
        self._patch(engine, "read_manifest", self._wrap("manifest.read"))
        for key in list(TRANSFORM_TYPES):
            self._patch(TRANSFORM_TYPES, key, self._wrap(f"operators.{key}"))
        self._patch(txlog, "merge", self._wrap("txlog.merge", after=_merged))
        self._patch(txlog, "optimize", self._wrap("txlog.optimize"))
        self._patch(txlog, "load_snapshot", self._wrap("txlog.snapshot_load"))
        self._patch(txlog, "scan", self._wrap("txlog.scan", after=_scanned))

    # -- Spark attribution and output ---------------------------------------

    def attribute_spark(self, spark) -> None:
        """Read the status store once and add ``spark.*`` counters to each
        span from the jobs tagged with its id."""
        sc = spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        mapper.registerModule(scala_module)
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(
                store.stageList(
                    None, False, False,
                    sc._gateway.new_array(jvm.double, 0),
                    jvm.java.util.ArrayList(),
                )
            )
        )
        by_stage = {}
        for s in stages:
            prev = by_stage.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                by_stage[s["stageId"]] = s
        by_span = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update({
                "spark.jobs": 0, "spark.task_s": 0.0,
                "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0,
                "spark.input_records": 0,
            })
        counted = set()  # a stage reused by a later job counts once
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            group = j.get("jobGroup") or ""
            if not group.startswith("pb-span-"):
                continue
            span = by_span.get(int(group[len("pb-span-"):]))
            if span is None:
                continue
            span["spark.jobs"] += 1
            for sid in j["stageIds"]:
                st = by_stage.get(sid)
                if st is None or st.get("status") == "SKIPPED" or sid in counted:
                    continue
                counted.add(sid)
                span["spark.task_s"] += st["executorRunTime"] / 1000.0
                span["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                span["spark.spill_bytes"] += (
                    st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                )
                span["spark.input_records"] += st["inputRecords"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


# -- attribute extractors (run after the traced call, in a trace.probe span) -


def data_files(top: str) -> list[str]:
    """Data files under ``top``: hidden and ``_``-prefixed entries (the
    transaction log, checksums, markers) are metadata, not data."""
    out = []
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out.extend(os.path.join(d, f) for f in files if not f.startswith((".", "_")))
    return out


def _listed_batches(rec, args, kwargs, out) -> None:
    rec["attrs"]["files_listed"] = len(out)


def _listed_files(rec, args, kwargs, out) -> None:
    path = getattr(out, "path", None) or ""
    if "*" in path or "?" in path:
        files = glob.glob(path)
    elif os.path.isdir(path):
        files = data_files(path)
    else:
        files = [path] if os.path.exists(path) else []
    rec["attrs"]["files_listed"] = len(files)


def _written(rec, args, kwargs, out) -> None:
    path = out.get("sink_path", "")
    since = rec["start"] - time.perf_counter() + time.time()
    n, size = 0, 0
    for p in data_files(path):
        st = os.stat(p)
        if st.st_mtime >= since:
            n += 1
            size += st.st_size
    rec["attrs"].update(
        rows_written=int(out.get("records_written", 0)),
        files_written=n,
        bytes_written=size,
    )


def _merged(rec, args, kwargs, out) -> None:
    from metadata_driven_data_pipeline_spark.sinks import txlog

    root = args[2] if len(args) > 2 else kwargs["root"]
    version = out.get("version", 0)
    live_before = 0
    if version > 1 and not out.get("skipped"):
        # the unwrapped loader: this probe is not part of the merge
        load = getattr(txlog.load_snapshot, "__wrapped__", txlog.load_snapshot)
        live_before = len(load(root, version - 1).files)
    rec["attrs"].update(
        files_rewritten=int(out.get("files_rewritten", 0)),
        live_files_before=live_before,
        root=root,
        version=version,
    )


def _scanned(rec, args, kwargs, out) -> None:
    report = out[1]
    rec["attrs"].update(
        files_total=report["files_total"], files_scanned=report["files_scanned"]
    )


# -- per-layer summary -------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """A span's duration minus the part of it its child spans cover
    (children of one span never overlap: the engine runs them in turn)."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in spans}


def _inclusive(spans: list[dict], key: str) -> dict[int, float]:
    """``key`` summed over each span and its descendants (a child always
    has a larger id than its parent, so one reverse pass suffices)."""
    total = {s["id"]: s.get(key, 0) for s in spans}
    parent = {s["id"]: s["parent"] for s in spans}
    for sid in sorted(total, reverse=True):
        p = parent[sid]
        if p is not None and p in total:
            total[p] += total[sid]
    return total


def summarize(spans: list[dict]) -> dict:
    """Per-layer totals over all traced spans (callers normalize), plus
    ``setup_get_spark`` and ``setup_compile``: one entry per set-up."""
    out: dict = defaultdict(float)
    selfs = self_times(spans)
    jobs = _inclusive(spans, "spark.jobs")
    rows_in = _inclusive(spans, "spark.input_records")
    by_id = {s["id"]: s for s in spans}
    setup_get, setup_compile = defaultdict(float), defaultdict(float)
    for s in spans:
        name, dur, a = s["name"], s["end"] - s["start"], s["attrs"]
        parent = by_id.get(s["parent"])
        in_setup = parent is not None and parent["name"] == "bench.setup"
        if name == "engine.run":
            out["engine.self_s"] += selfs[s["id"]]
            out["engine.run_s"] += dur
            out["engine.runs"] += 1
        elif name == "session.get_spark" and in_setup:
            setup_get[s["parent"]] += dur
        elif name == "plans.compile":
            if in_setup:
                setup_compile[s["parent"]] += dur
        elif name == "sources.discover":
            out["sources.discover_s"] += dur
            out["sources.files_listed"] += a.get("files_listed", 0)
        elif name == "sources.read":
            out["sources.read_s"] += dur
            out["sources.files_listed"] += a.get("files_listed", 0)
        elif name.startswith("operators."):
            out[f"{name}_s"] += dur
            out["operators.handlers_s"] += dur
            out["operators.eager_jobs"] += jobs[s["id"]]
        elif name == "consolidate":
            out["consolidate.s"] += dur
            out["consolidate.jobs"] += jobs[s["id"]]
            out["consolidate.rows_read"] += rows_in[s["id"]]
        elif name == "sinks.write":
            out["sinks.write_s"] += dur
            out["sinks.rows_written"] += a.get("rows_written", 0)
            out["sinks.files_written"] += a.get("files_written", 0)
            out["sinks.bytes_written"] += a.get("bytes_written", 0)
            out["sinks.jobs"] += jobs[s["id"]]
        elif name == "manifest.write":
            out["manifest.write_s"] += dur
        elif name == "txlog.merge":
            out["txlog.merge_s"] += dur
            out["txlog.files_rewritten"] += a.get("files_rewritten", 0)
            out["txlog.live_files_before"] += a.get("live_files_before", 0)
        elif name == "txlog.optimize":
            out["txlog.optimize_s"] += dur
        elif name == "txlog.snapshot_load":
            out["txlog.snapshot_load_s"] += dur
        elif name == "txlog.scan":
            out["txlog.files_total"] += a.get("files_total", 0)
            out["txlog.files_scanned"] += a.get("files_scanned", 0)
        out["spark.jobs"] += s.get("spark.jobs", 0)
        out["spark.task_s"] += s.get("spark.task_s", 0.0)
        out["spark.shuffle_write_bytes"] += s.get("spark.shuffle_write_bytes", 0)
        out["spark.spill_bytes"] += s.get("spark.spill_bytes", 0)
    out = dict(out)
    out["setup_get_spark"] = [setup_get[k] for k in sorted(setup_get)]
    out["setup_compile"] = [setup_compile[k] for k in sorted(setup_get)]
    return out
