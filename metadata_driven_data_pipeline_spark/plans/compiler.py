"""Metadata → dataflow plan compiler.

The reference interprets transforms in declaration order and discovers
missing-input errors at runtime (``pipeline/runner.py:342-343``). The rebuild
compiles each dataflow into an explicit dependency DAG first: every
transform's inputs must resolve to a source, a prior transform output, or a
relation already in the engine catalog; cycles and dangling references are
compile-time errors (SURVEY §3.1 evaluation-order hazard). Execution then
walks the topological order.

Also hosts metadata-document validation — the structural checks the
reference enforces via its pre-pipeline pytest gate
(``tests/test_pre_metadata_integrity.py``), moved into the engine so a bad
document never starts executing.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter
from typing import Any

from metadata_driven_data_pipeline_spark.operators.relational import TRANSFORM_TYPES


def transform_outputs(transform: dict[str, Any]) -> list[str]:
    """Relation names a transform produces (validate_fields → _ok/_ko,
    parity: runner.py:351-357)."""
    name = transform["name"]
    if transform["type"] == "validate_fields":
        return [f"{name}_ok", f"{name}_ko"]
    return [name]


def transform_inputs(transform: dict[str, Any]) -> list[str]:
    params = transform.get("params", {})
    if "inputs" in params:
        return list(params["inputs"])
    names = []
    # every param key that names another relation — secondary inputs
    # (oldInput/merges/bloom) count for the topological order too, or a
    # consumer could be scheduled before its producer
    for key in (
        "input", "left", "right", "points", "intervals",
        "oldInput", "merges", "bloom",
    ):
        if key in params:
            names.append(params[key])
    return names


@dataclass
class CompiledDataflow:
    name: str
    sources: list[dict[str, Any]]
    transforms_in_order: list[dict[str, Any]]
    sinks: list[dict[str, Any]]
    produced_relations: list[str] = field(default_factory=list)


def compile_dataflow(flow: dict[str, Any]) -> CompiledDataflow:
    """Topologically order transforms; raise ValueError on cycle/missing ref."""
    name = flow.get("name", "<unnamed>")
    sources = flow.get("sources", [])
    transforms = flow.get("transformations", [])
    sinks = flow.get("sinks", [])

    available: set[str] = {s["name"] for s in sources}
    producers: dict[str, str] = {}  # relation -> transform name
    by_name: dict[str, dict[str, Any]] = {}
    for t in transforms:
        if t["type"] not in TRANSFORM_TYPES:
            raise ValueError(
                f"Dataflow '{name}': unsupported transformation type '{t['type']}'. "
                f"Supported: {sorted(TRANSFORM_TYPES)}"
            )
        if t["name"] in by_name:
            raise ValueError(f"Dataflow '{name}': duplicate transform name '{t['name']}'")
        by_name[t["name"]] = t
        for out in transform_outputs(t):
            if out in producers or out in available:
                raise ValueError(
                    f"Dataflow '{name}': relation '{out}' produced more than once"
                )
            producers[out] = t["name"]

    graph: dict[str, set[str]] = {t["name"]: set() for t in transforms}
    for t in transforms:
        for inp in transform_inputs(t):
            if inp in available:
                continue
            if inp in producers:
                graph[t["name"]].add(producers[inp])
            else:
                raise ValueError(
                    f"Dataflow '{name}': transform '{t['name']}' references "
                    f"unknown input '{inp}'"
                )

    try:
        order = list(TopologicalSorter(graph).static_order())
    except CycleError as e:
        raise ValueError(f"Dataflow '{name}': cyclic transform dependencies: {e}") from e

    for sink in sinks:
        if sink["input"] not in available and sink["input"] not in producers:
            raise ValueError(
                f"Dataflow '{name}': sink '{sink.get('name', '?')}' references "
                f"unknown input '{sink['input']}'"
            )

    return CompiledDataflow(
        name=name,
        sources=sources,
        transforms_in_order=[by_name[n] for n in order],
        sinks=sinks,
        produced_relations=sorted(available | set(producers)),
    )


def validate_metadata(metadata: dict[str, Any]) -> list[CompiledDataflow]:
    """Structural gate (parity with tests/test_pre_metadata_integrity.py):
    dataflows non-empty; processing_mode known; incremental requires
    batch_config with a '{date}' input_pattern + date_format; every flow has
    name/sources/transformations/sinks with required non-empty fields.
    Returns the compiled dataflows, in document order."""
    if not isinstance(metadata, dict):
        raise ValueError("Metadata must be a dict")
    flows = metadata.get("dataflows")
    if not isinstance(flows, list) or not flows:
        raise ValueError("Metadata 'dataflows' must be a non-empty list")

    mode = metadata.get("processing_mode", "full")
    if mode not in ("incremental", "full"):
        raise ValueError(f"processing_mode must be 'incremental' or 'full', got {mode!r}")
    if mode == "incremental":
        bc = metadata.get("batch_config")
        if not isinstance(bc, dict):
            raise ValueError("incremental processing requires 'batch_config'")
        pattern = bc.get("input_pattern", "")
        if "{date}" not in pattern:
            raise ValueError("batch_config.input_pattern must contain '{date}'")
        if not bc.get("date_format"):
            raise ValueError("batch_config.date_format is required")

    compiled = []
    for flow in flows:
        if not flow.get("name"):
            raise ValueError("Every dataflow needs a non-empty 'name'")
        for src in flow.get("sources", []):
            if not src.get("name") or not src.get("path"):
                raise ValueError(
                    f"Dataflow '{flow['name']}': every source needs 'name' and 'path'"
                )
        for t in flow.get("transformations", []):
            for key in ("name", "type", "params"):
                if not t.get(key):
                    raise ValueError(
                        f"Dataflow '{flow['name']}': every transformation needs '{key}'"
                    )
        for sink in flow.get("sinks", []):
            if not sink.get("input") or not (sink.get("path") or sink.get("paths")):
                raise ValueError(
                    f"Dataflow '{flow['name']}': every sink needs 'input' and 'path'"
                )
        compiled.append(compile_dataflow(flow))  # DAG-level validation
    return compiled
