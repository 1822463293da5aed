"""Computed-column extension (``add_fields`` transform).

Reference semantics (``pipeline/transformer.py:10-52``): per field, add one
column from a closed generator map — ``current_timestamp`` →
``current_timestamp()``; ``batch_id`` → string literal; ``batch_date`` →
``to_date('<batch_id>')``; ``run_id`` → string literal; missing context value
→ NULL; unknown generator name → ``ValueError``. Applied sequentially in
declaration order (later fields could in principle reference earlier ones).

Rebuild: each generator returns a Column; the whole list is applied as ONE
``withColumns`` projection (single codegen stage, no temp views, no
re-count per field). A generic ``expr`` generator exposes the full Spark SQL
scalar-function namespace (SURVEY §2.2 P10 extension row).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _current_timestamp(ctx: dict[str, Any], params: Any) -> Column:
    return F.current_timestamp()


def _batch_id(ctx: dict[str, Any], params: Any) -> Column:
    v = ctx.get("batch_id")
    return F.lit(v) if v else F.lit(None).cast("string")


def _batch_date(ctx: dict[str, Any], params: Any) -> Column:
    v = ctx.get("batch_id")
    return F.to_date(F.lit(v)) if v else F.lit(None).cast("date")


def _run_id(ctx: dict[str, Any], params: Any) -> Column:
    v = ctx.get("run_id")
    return F.lit(v) if v else F.lit(None).cast("string")


def _literal(ctx: dict[str, Any], params: Any) -> Column:
    return F.lit(params)


def _expr(ctx: dict[str, Any], params: Any) -> Column:
    """Generic SQL-expression generator: opens the whole pyspark.sql.functions
    scalar surface (string/date/math/array/map/json fns) to metadata authors."""
    if not isinstance(params, str) or not params:
        raise ValueError("'expr' add_fields function requires a SQL expression string")
    return F.expr(params)


FIELD_FUNCTIONS: dict[str, Callable[[dict[str, Any], Any], Column]] = {
    "current_timestamp": _current_timestamp,
    "batch_id": _batch_id,
    "batch_date": _batch_date,
    "run_id": _run_id,
    # extensions:
    "literal": _literal,
    "expr": _expr,
}


def compile_field(
    name: str, function_name: str, ctx: dict[str, Any], params: Any = None
) -> Column:
    if function_name not in FIELD_FUNCTIONS:
        raise ValueError(
            f"Unsupported function: '{function_name}'. "
            f"Supported functions: {list(FIELD_FUNCTIONS)}"
        )
    return FIELD_FUNCTIONS[function_name](ctx, params).alias(name)


def apply_add_fields(
    df: DataFrame,
    add_fields: list[dict[str, Any]],
    batch_id: str | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """Apply field additions in declaration order.

    Generator fields (``expr``) may reference fields added earlier in the
    same list, so they are applied as chained projections — Catalyst's
    project-collapsing folds the chain back into one physical projection,
    so the sequential form costs nothing at runtime. Lists without ``expr``
    fields keep the single-``withColumns`` fast path (no dependency is
    possible: every other generator reads only the batch/run context).
    """
    ctx = {"batch_id": batch_id, "run_id": run_id}
    if any(f["function"] == "expr" for f in add_fields):
        for field in add_fields:
            df = df.withColumn(
                field["name"],
                compile_field(
                    field["name"], field["function"], ctx, field.get("params")
                ),
            )
        return df
    cols: dict[str, Column] = {}
    for field in add_fields:
        cols[field["name"]] = compile_field(
            field["name"], field["function"], ctx, field.get("params")
        )
    return df.withColumns(cols)
