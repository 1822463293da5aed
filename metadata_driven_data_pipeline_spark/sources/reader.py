"""Source layer: schema-enforced and inferred file scans.

Reference semantics (``pipeline/runner.py:184-331``):

- ``{date}`` placeholder substitution in paths (runner.py:191);
- schema + ``schema_enforcement.enabled`` → read with explicit StructType
  (S1, runner.py:199-228); otherwise PERMISSIVE inferred read (S2,
  runner.py:268-291);
- ``required: true`` (default) → any failure re-raises and fails the
  pipeline (S3, runner.py:250,314); ``required: false`` → the result is
  marked skipped and the relation is not registered (runner.py:251-266).

Scale notes: an enforced schema skips Spark's inference pass entirely (for
JSON, inference is a full extra scan of the data — at 100 TB that is the
difference between one pass and two). An inferred parquet schema is one
footer read on the driver, with no Spark job: Spark's own inference (with
``mergeSchema`` off) reads only the footer of the first matched file by
path, but starts a job to do it, so the reader reads that same footer on
the calling thread with Spark's own converter and then reads with the
schema it yields. It falls back to Spark's inference when the path
matches nothing (the missing-path error and ``required: false`` stay
Spark's), when a match is a directory (partition discovery) or a
``_``/``.`` name, when the source sets ``options``, when
``spark.sql.parquet.mergeSchema``, ``spark.sql.files.ignoreCorruptFiles`` or
``spark.sql.parquet.ignoreVariantAnnotation`` is on, and when the path
matches more than 32 files (the footer route checks each match over py4j,
while the job it saves is a fixed cost and Spark then starts a listing
job per read anyway). Parquet scans get predicate pushdown and column
pruning from Catalyst for free; glob patterns (S4) distribute file
listing across the driver's Hadoop FS client.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

from metadata_driven_data_pipeline_spark.schema import build_struct_type


@dataclass
class SourceReadResult:
    name: str
    df: DataFrame | None
    status: str  # "success" | "skipped"
    path: str
    schema_enforced: bool
    required: bool
    skip_reason: str | None = None
    enforced_fields: list[str] = field(default_factory=list)


def substitute_date(path: str, batch_date: str | None) -> str:
    """``{date}`` templating (parity: runner.py:191,413)."""
    if batch_date is None:
        return path
    return path.replace("{date}", batch_date)


# settings under which the footer route could differ from Spark's
# inference: it merges every file's schema, skips a corrupt first file, or
# (unlike the session's converter) ignores the variant-annotation setting
_INFERENCE_ONLY = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.parquet.ignoreVariantAnnotation",
)

# a glob matching more files than this keeps Spark's inference: checking
# each match costs ~4 py4j calls (~0.33 ms on 4 vCPU), so at 32 matches the
# checks stay under a quarter of the ~100 ms (wall) inference job they
# replace, and above Spark's 32-path listing threshold the read starts a
# listing job anyway (a read took 0.1 s at 30 local files, 0.9 s at 100)
_FOOTER_MAX_MATCHES = 32


@functools.lru_cache(maxsize=1)
def _footer_api(jvm) -> tuple:
    """The JVM helpers :func:`_parquet_footer_schema` calls, looked up once
    per JVM."""
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    return (
        jvm.org.apache.hadoop.fs.Path,
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile,
        jvm.org.apache.parquet.hadoop.Footer,
        pq.ParquetFooterReader.readFooter,
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
        pq.ParquetToSparkSchemaConverter,
        getattr(getattr(pq, "ParquetFileFormat$"), "MODULE$"),
    )


def _parquet_footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark's parquet inference gives ``path``, read from the
    one footer it reads (the first match by path string), on this thread
    and with no Spark job; ``None`` where only Spark's inference decides
    (module docstring, scale notes). Errors reading the footer raise."""
    if any(spark.conf.get(k, "false").lower() == "true" for k in _INFERENCE_ONLY):
        return None
    jpath, input_file, footer, read_footer, no_filter, to_spark, fmt = _footer_api(
        spark._jvm
    )
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    glob = jpath(path)
    statuses = glob.getFileSystem(hconf).globStatus(glob)
    if statuses is None or not 0 < len(statuses) <= _FOOTER_MAX_MATCHES:
        return None
    matches = [(st.getPath().toString(), st) for st in statuses]
    if any(
        st.isDirectory() or p.rsplit("/", 1)[-1].startswith(("_", "."))
        for p, st in matches
    ):
        return None
    first = min(matches, key=lambda m: m[0])[1]
    meta = read_footer(input_file.fromStatus(first, hconf), no_filter)
    schema = fmt.readSchemaFromFooter(
        footer(first.getPath(), meta), to_spark(state.conf())
    )
    return _parse_datatype_json_string(schema.json())


def read_source(
    spark: SparkSession,
    source: dict[str, Any],
    batch_date: str | None = None,
) -> SourceReadResult:
    """Read one metadata-declared source.

    Raises on failure when ``required`` (default true); returns a skipped
    result otherwise. Mirrors runner.py:184-331's control flow with the
    logging concerns separated out (the engine logs from the result).
    """
    name = source["name"]
    required = source.get("required", True)
    path = substitute_date(source["path"], batch_date)
    fmt = source.get("format", "json")
    options = source.get("options", {}) or {}

    schema_def = source.get("schema")
    enforcement = source.get("schema_enforcement", {}) or {}
    enforce = bool(schema_def) and bool(enforcement.get("enabled", False))

    try:
        if source.get("table") == "txlog":
            # transaction-log table source (sinks/txlog.py): snapshot-
            # isolated read, optional time travel (`version`) and
            # stats-pruned predicates (`where`: [[col, op, value], ...])
            # — file skipping happens at the log-metadata layer, before
            # any parquet footer is opened
            from metadata_driven_data_pipeline_spark.sinks import txlog

            version = source.get("version")
            if source.get("where"):
                df, _ = txlog.scan(
                    spark,
                    path,
                    where=[tuple(w) for w in source["where"]],
                    version=version,
                )
            else:
                df = txlog.read_table(spark, path, version=version)
            return SourceReadResult(
                name=name,
                df=df,
                status="success",
                path=path,
                schema_enforced=False,
                required=required,
            )
        if enforce:
            expected_schema = build_struct_type(schema_def)
            reader = spark.read.schema(expected_schema).format(fmt).options(**options)
            df = reader.load(path)
            # Force analysis so schema/path errors surface here, not at the
            # first downstream action (Spark reads are lazy; the reference
            # surfaces errors via its count() action).
            df.schema
            return SourceReadResult(
                name=name,
                df=df,
                status="success",
                path=path,
                schema_enforced=True,
                required=required,
                enforced_fields=[f["name"] for f in schema_def["fields"]],
            )
        reader = (
            spark.read.format(fmt).option("mode", "PERMISSIVE").options(**options)
        )
        if fmt == "parquet" and not options:
            schema = _parquet_footer_schema(spark, path)
            if schema is not None:
                reader = reader.schema(schema)
        df = reader.load(path)
        df.schema
        return SourceReadResult(
            name=name,
            df=df,
            status="success",
            path=path,
            schema_enforced=False,
            required=required,
        )
    except Exception as e:
        if required:
            raise
        return SourceReadResult(
            name=name,
            df=None,
            status="skipped",
            path=path,
            schema_enforced=enforce,
            required=False,
            skip_reason=str(e),
        )
