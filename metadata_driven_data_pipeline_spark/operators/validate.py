"""Rule-based row validation with OK/KO routing.

Reference semantics (``pipeline/validator.py``, re-expressed on the Column
API — no string SQL, so field names/patterns are bound values and the
injection/quoting surface of the reference's f-string SQL is gone):

- Per validated field, every rule is evaluated independently and ALL
  failures are collected (no short-circuit) into an ``array<string>``
  ``<field>_error`` column: ``nullif(array_compact(array(<cases>)), array())``
  (validator.py:122-130).
- A field missing from the input produces a constant
  ``array('fieldMissing')`` and preempts all other rules (validator.py:85-88).
- A field with zero rules produces a typed NULL ``array<string>``
  (validator.py:123-128).
- Rules: ``notNull`` (validator.py:27-28), ``notEmpty`` (31-36, fires only on
  non-null), ``regex`` (39-46, non-null and not rlike → ``'regex: <pat>'``),
  ``minValue`` (49-54, non-null and double-cast < min → ``'minValue: <min>'``;
  non-numeric strings cast to NULL ⇒ pass).
- KO rows carry ``validation_errors: map<string, array<string>>`` =
  ``map_filter(map(field -> field_error, ...), v is not null)``
  (validator.py:174-183); OK rows carry the original columns only
  (validator.py:186-190). Conservation: OK + KO = input (tested in the
  reference at tests/test_post_pipeline_outputs.py:52-78).

Scale notes: the annotate step is a pure projection (whole-stage codegen,
no shuffle); the split is two filters over ONE cached annotated DataFrame so
the read+validate lineage executes once, not three times (the reference
re-executes it per count/write — SURVEY §4.1). Counts come from
``df.observe`` metrics, not extra ``count()`` jobs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- rule registries -------------------------------------------------------
# Parity with validator.py:58-67, but each rule compiles to a Column that is
# either NULL (pass) or the error tag string (fail).

def _not_null(field: str) -> Column:
    return F.when(F.col(field).isNull(), F.lit("notNull"))


def _not_empty(field: str) -> Column:
    col = F.col(field)
    return F.when(
        col.isNotNull() & (F.trim(col.cast("string")) == ""), F.lit("notEmpty")
    )


def _regex(field: str, pattern: Any) -> Column:
    col = F.col(field)
    pat = str(pattern)
    return F.when(
        col.isNotNull() & ~col.cast("string").rlike(pat),
        F.lit(f"regex: {pat}"),
    )


def _min_value(field: str, min_val: Any) -> Column:
    # try_cast, not cast: the reference ran non-ANSI Spark 3.5 where
    # CAST('abc' AS DOUBLE) yields NULL (rule passes, validator.py:49-54);
    # Spark 4 ANSI mode would throw instead.
    col = F.col(field)
    return F.when(
        col.isNotNull() & (col.try_cast("double") < F.lit(float(min_val))),
        F.lit(f"minValue: {min_val}"),
    )


def _max_value(field: str, max_val: Any) -> Column:
    """Extension (not in reference): symmetric counterpart of minValue."""
    col = F.col(field)
    return F.when(
        col.isNotNull() & (col.try_cast("double") > F.lit(float(max_val))),
        F.lit(f"maxValue: {max_val}"),
    )


def _is_in(field: str, allowed: Any) -> Column:
    """Extension (not in reference): membership check."""
    col = F.col(field)
    values = list(allowed)
    return F.when(
        col.isNotNull() & ~col.cast("string").isin([str(v) for v in values]),
        F.lit(f"isIn: {values}"),
    )


SIMPLE_RULES: dict[str, Callable[[str], Column]] = {
    "notNull": _not_null,
    "notEmpty": _not_empty,
}

PARAMETERIZED_RULES: dict[str, Callable[[str, Any], Column]] = {
    "regex": _regex,
    "minValue": _min_value,
    "maxValue": _max_value,
    "isIn": _is_in,
}


# --- compilation -----------------------------------------------------------

def _compile_field_errors(
    validations: list[dict[str, Any]], df_columns: list[str]
) -> dict[str, Column]:
    """Compile the validation config to one error Column per validated field.

    Mirrors generate_validation_sql (validator.py:77-132): fieldMissing
    preemption, all-failures collection, typed-NULL for zero rules,
    ValueError on unknown/malformed rules.
    """
    errors: dict[str, Column] = {}
    for v in validations:
        field = v["field"]
        rules = v.get("rules", [])

        if field not in df_columns:
            errors[field] = F.array(F.lit("fieldMissing"))
            continue

        cases: list[Column] = []
        for rule in rules:
            if isinstance(rule, str):
                if rule in SIMPLE_RULES:
                    cases.append(SIMPLE_RULES[rule](field))
                else:
                    raise ValueError(
                        f"Unsupported validation rule for field '{field}': '{rule}'. "
                        f"Supported rules: {sorted(SIMPLE_RULES)}"
                    )
            elif isinstance(rule, dict):
                name = rule.get("name")
                params = rule.get("params")
                if name in PARAMETERIZED_RULES:
                    cases.append(PARAMETERIZED_RULES[name](field, params))
                else:
                    raise ValueError(
                        f"Unsupported validation rule for field '{field}': '{name}'. "
                        f"Supported rules: {sorted(PARAMETERIZED_RULES)}"
                    )
            else:
                raise ValueError(
                    f"Invalid validation rule configuration for field '{field}': {rule}"
                )

        if not cases:
            errors[field] = F.lit(None).cast("array<string>")
        else:
            errors[field] = F.nullif(
                F.array_compact(F.array(*cases)), F.array().cast("array<string>")
            )
    return errors


def annotate_errors(df: DataFrame, validations: list[dict[str, Any]]) -> DataFrame:
    """Single-projection pass adding ``<field>_error`` array columns."""
    errors = _compile_field_errors(validations, df.columns)
    return df.withColumns({f"{field}_error": col for field, col in errors.items()})


@dataclass
class ValidationResult:
    ok: DataFrame
    ko: DataFrame
    annotated: DataFrame  # cached; unpersist after sinks complete


def split_ok_ko(
    df: DataFrame,
    validations: list[dict[str, Any]],
    cache: bool = True,
) -> ValidationResult:
    """Annotate once, split into (ok, ko).

    OK = original columns, rows with no errors. KO = original columns +
    ``validation_errors`` map of only the failing fields.
    """
    original_columns = list(df.columns)
    if not validations:
        # No rules ⇒ nothing can fail: all rows are OK, the KO side is an
        # empty frame with the contract schema (original columns +
        # empty validation_errors map). Metadata validation does not forbid
        # an empty list, so degrade gracefully instead of IndexError.
        ko = df.filter(F.lit(False)).select(
            *original_columns,
            F.map_filter(
                F.create_map(F.lit("_"), F.lit(None).cast("array<string>")),
                lambda k, v: v.isNotNull(),
            ).alias("validation_errors"),
        )
        return ValidationResult(ok=df, ko=ko, annotated=df)
    annotated = annotate_errors(df, validations)
    if cache:
        annotated = annotated.cache()

    fields = [v["field"] for v in validations]
    err_cols = [F.col(f"{f}_error") for f in fields]
    any_error = err_cols[0].isNotNull()
    for c in err_cols[1:]:
        any_error = any_error | c.isNotNull()

    map_entries: list[Column] = []
    for f in fields:
        map_entries.append(F.lit(f))
        map_entries.append(F.col(f"{f}_error"))

    ko = annotated.filter(any_error).select(
        *original_columns,
        F.map_filter(
            F.create_map(*map_entries), lambda k, v: v.isNotNull()
        ).alias("validation_errors"),
    )
    ok = annotated.filter(~any_error).select(*original_columns)
    return ValidationResult(ok=ok, ko=ko, annotated=annotated)
