"""A schema-less parquet source takes its schema from one footer read on
the driver (``sources/reader.py``): the same schema Spark's inference
gives, with no Spark job, and Spark's inference wherever it could differ."""

from __future__ import annotations

import datetime
import decimal
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from metadata_driven_data_pipeline_spark.sources.reader import (
    _FOOTER_MAX_MATCHES,
    _parquet_footer_schema,
    read_source,
)

from conftest import count_jobs


def _source(path, **extra):
    return {"name": "src", "path": path, "format": "parquet", **extra}


def _arrow_table():
    ts = datetime.datetime(2025, 1, 2, 3, 4, 5, 6)
    return pa.table(
        {
            "i8": pa.array([1], pa.int8()),
            "i16": pa.array([1], pa.int16()),
            "i32": pa.array([1], pa.int32()),
            "i64": pa.array([1], pa.int64()),
            "u32": pa.array([1], pa.uint32()),
            "f32": pa.array([1.5], pa.float32()),
            "f64": pa.array([1.5], pa.float64()),
            "s": pa.array(["x"], pa.string()),
            "bin": pa.array([b"x"], pa.binary()),
            "b": pa.array([True], pa.bool_()),
            "d": pa.array([datetime.date(2025, 1, 2)], pa.date32()),
            "dec": pa.array([decimal.Decimal("1.25")], pa.decimal128(9, 2)),
            # nanosecond timestamps read as long (nanosAsLong in the session)
            "ts_ns": pa.array([ts], pa.timestamp("ns")),
            "ts_us_tz": pa.array([ts], pa.timestamp("us", tz="UTC")),
            "ts_us": pa.array([ts], pa.timestamp("us")),
            "st": pa.array(
                [{"a": 1, "b": "y"}],
                pa.struct([("a", pa.int32()), ("b", pa.string())]),
            ),
            "l": pa.array([[1, 2]], pa.list_(pa.int64())),
            "m": pa.array([[("k", 1.0)]], pa.map_(pa.string(), pa.float64())),
        }
    )


def test_footer_schema_matches_inference_with_no_job(spark, tmp_path):
    path = str(tmp_path / "types.parquet")
    pq.write_table(_arrow_table(), path)
    res, jobs = count_jobs(spark, lambda: read_source(spark, _source(path)))
    assert jobs == 0
    assert res.status == "success" and not res.schema_enforced
    assert res.df.schema == spark.read.parquet(path).schema
    assert dict(res.df.dtypes)["ts_ns"] == "bigint"
    assert res.df.count() == 1


def test_spark_written_non_nullable_columns_read_as_inferred(spark, tmp_path):
    out = str(tmp_path / "spark")
    df = spark.range(3).selectExpr("id", "cast(id AS string) AS s")
    assert not df.schema["id"].nullable
    df.coalesce(1).write.parquet(out)
    part = next(n for n in sorted(os.listdir(out)) if n.endswith(".parquet"))
    footer = pq.read_metadata(os.path.join(out, part)).metadata
    row_schema = json.loads(footer[b"org.apache.spark.sql.parquet.row.metadata"])
    assert row_schema["fields"][0]["nullable"] is False
    path = f"{out}/part-*.parquet"
    res, jobs = count_jobs(spark, lambda: read_source(spark, _source(path)))
    assert jobs == 0
    assert res.df.schema == spark.read.parquet(path).schema
    assert res.df.schema["id"].nullable


def test_glob_reads_the_first_match_by_path(spark, tmp_path):
    pq.write_table(pa.table({"z": [1.0]}), str(tmp_path / "c.parquet"))
    pq.write_table(pa.table({"a": [1], "s": ["x"]}), str(tmp_path / "b.parquet"))
    path = f"{tmp_path}/*.parquet"
    res, jobs = count_jobs(spark, lambda: read_source(spark, _source(path)))
    assert jobs == 0
    assert res.df.schema == spark.read.parquet(path).schema
    assert res.df.columns == ["a", "s"]


@pytest.mark.parametrize(
    "case",
    [
        "directory",
        "hidden_match",
        "options",
        "merge_schema",
        "ignore_corrupt",
        "ignore_variant",
    ],
)
def test_fallback_cases_still_infer(spark, tmp_path, case):
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "a.parquet"))
    source, conf = _source(str(tmp_path / "a.parquet")), None
    if case == "directory":
        source["path"] = str(tmp_path)
    elif case == "hidden_match":
        pq.write_table(pa.table({"a": [2]}), str(tmp_path / "_b.parquet"))
        source["path"] = f"{tmp_path}/*.parquet"
    elif case == "options":
        source["options"] = {"mergeSchema": "false"}
    else:
        conf = {
            "merge_schema": "spark.sql.parquet.mergeSchema",
            "ignore_corrupt": "spark.sql.files.ignoreCorruptFiles",
            "ignore_variant": "spark.sql.parquet.ignoreVariantAnnotation",
        }[case]
        spark.conf.set(conf, "true")
    try:
        res, jobs = count_jobs(spark, lambda: read_source(spark, source))
    finally:
        if conf:
            spark.conf.unset(conf)
    assert jobs >= 1
    assert res.df.columns == ["a"]


def test_glob_over_many_files_keeps_inference(spark, tmp_path):
    # the footer route's checks cost one py4j pass per match, so a glob
    # past the cap goes to Spark's inference, whose job costs the same
    # whatever the file count
    t = pa.table({"a": [1]})
    for i in range(_FOOTER_MAX_MATCHES):
        pq.write_table(t, str(tmp_path / f"part-{i:03d}.parquet"))
    path = f"{tmp_path}/part-*.parquet"
    assert _parquet_footer_schema(spark, path).fieldNames() == ["a"]
    pq.write_table(t, str(tmp_path / "part-999.parquet"))
    assert _parquet_footer_schema(spark, path) is None
    assert read_source(spark, _source(path)).df.columns == ["a"]


def test_missing_path_keeps_spark_error_and_optional_skip(spark, tmp_path):
    path = f"{tmp_path}/none-*.parquet"
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_source(spark, _source(path))
    res = read_source(spark, _source(path, required=False))
    assert res.status == "skipped" and res.df is None
    assert "PATH_NOT_FOUND" in res.skip_reason
