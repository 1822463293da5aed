"""Loaders for the driver-provided testdata tables (TESTDATA.md).

One wrinkle: ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS),
which Spark's parquet reader rejects ([PARQUET_TYPE_ILLEGAL]). The fix is
the documented legacy conf ``spark.sql.legacy.parquet.nanosAsLong`` (reads
nanos as bigint) plus an explicit nanos→micros conversion to a proper
timestamp column. The conf is runtime-settable, so this works under any
caller's SparkSession (the driver harness passes its own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df
    return spark.read.parquet(path)

