"""Source/sink format parity (SURVEY §2.1 S9): format is metadata-driven;
json, parquet, csv, and orc must all round-trip through the reader/writer
layer with schema enforcement."""

import pytest

from metadata_driven_data_pipeline_spark.sinks.writer import write_sink
from metadata_driven_data_pipeline_spark.sources.reader import read_source

SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": False},
        {"name": "name", "type": "string", "nullable": True},
        {"name": "score", "type": "double", "nullable": True},
    ],
}

ROWS = [(1, "a", 1.5), (2, "b", None), (3, None, -2.0)]


@pytest.mark.parametrize("fmt,extra", [
    ("json", {}),
    ("parquet", {}),
    ("csv", {"header": "true"}),
    ("orc", {}),
])
def test_roundtrip(spark, tmp_path, fmt, extra):
    df = spark.createDataFrame(ROWS, "id long, name string, score double")
    out = str(tmp_path / f"out_{fmt}")
    rec = write_sink(df, {"name": "s", "path": out, "format": fmt, "saveMode": "overwrite",
                          "options": extra})
    assert rec["records_written"] == 3

    src = {
        "name": "back",
        "path": out,
        "format": fmt,
        "schema": SCHEMA,
        "schema_enforcement": {"enabled": True},
        "options": extra,
    }
    res = read_source(spark, src)
    assert res.status == "success" and res.schema_enforced
    got = {tuple(r) for r in res.df.collect()}
    assert got == set(ROWS)
    assert [f.name for f in res.df.schema.fields] == ["id", "name", "score"]


class TestCompaction:
    def test_compact_small_files(self, spark, tmp_path):
        """Many tiny files -> few files, identical rows, same live path."""
        from metadata_driven_data_pipeline_spark.sinks.maintenance import (
            compact_small_files,
            table_file_stats,
        )

        out = str(tmp_path / "accreted")
        df = spark.range(10000).withColumnRenamed("id", "v")
        df.repartition(40).write.mode("overwrite").parquet(out)
        before = table_file_stats(spark, out)
        assert before["files"] == 40

        stats = compact_small_files(spark, out, target_bytes=before["bytes"])
        assert stats["before"]["files"] == 40
        assert stats["after"]["files"] <= 2
        back = spark.read.parquet(out)
        assert back.count() == 10000
        assert back.agg({"v": "sum"}).first()[0] == sum(range(10000))

    def test_compact_respects_target_size(self, spark, tmp_path):
        from metadata_driven_data_pipeline_spark.sinks.maintenance import (
            compact_small_files,
            table_file_stats,
        )

        out = str(tmp_path / "sized")
        spark.range(20000).repartition(30).write.mode("overwrite").parquet(out)
        total = table_file_stats(spark, out)["bytes"]
        stats = compact_small_files(spark, out, target_bytes=total // 4 + 1)
        assert 3 <= stats["after"]["files"] <= 5


def test_permissive_corrupt_rows_survive_and_route_ko(spark, tmp_path):
    """S2 parity (runner.py:268-291): PERMISSIVE reads don't fail on
    malformed lines; with an enforced schema the corrupt line becomes an
    all-null row, which the notNull validation rule then routes to KO —
    corrupt input degrades to rejected records, never a pipeline failure."""
    import json

    from pyspark.sql import types as T

    from metadata_driven_data_pipeline_spark.operators.validate import split_ok_ko
    from metadata_driven_data_pipeline_spark.sources.reader import read_source

    p = tmp_path / "in.jsonl"
    with open(p, "w") as f:
        f.write(json.dumps({"policy_number": "P1", "driver_age": 30}) + "\n")
        f.write("{this is not json\n")
        f.write(json.dumps({"policy_number": "P2", "driver_age": 41}) + "\n")

    schema = {
        "type": "struct",
        "fields": [
            {"name": "policy_number", "type": "string", "nullable": True},
            {"name": "driver_age", "type": "integer", "nullable": True},
        ],
    }
    res = read_source(
        spark,
        {"name": "s", "path": str(p), "format": "json",
         "schema": schema, "schema_enforcement": {"enabled": True}},
    )
    assert res.status == "success"
    df = res.df
    rows = df.collect()
    assert len(rows) == 3  # corrupt line kept as all-null row, not dropped
    assert sum(1 for r in rows if r["policy_number"] is None) == 1

    result = split_ok_ko(df, [{"field": "policy_number", "rules": ["notNull"]}])
    assert result.ok.count() == 2
    ko = result.ko.collect()
    assert len(ko) == 1
    assert "notNull" in ko[0]["validation_errors"]["policy_number"]


class TestMergeUpsert:
    def _mk_table(self, spark, path):
        rows = [
            (k, f"2024-01-0{p}", 1, f"v1-{k}")
            for p in range(1, 6)
            for k in range(p * 100, p * 100 + 10)
        ]
        df = spark.createDataFrame(
            rows, "id long, day string, version int, payload string"
        )
        df.write.mode("overwrite").partitionBy("day").parquet(path)

    def test_upsert_rewrites_only_touched_partitions(self, spark, tmp_path):
        import os
        from metadata_driven_data_pipeline_spark.sinks.maintenance import (
            merge_upsert,
        )

        path = str(tmp_path / "tbl")
        self._mk_table(spark, path)
        untouched_dir = os.path.join(path, "day=2024-01-05")
        before = {
            f: os.path.getmtime(os.path.join(untouched_dir, f))
            for f in os.listdir(untouched_dir)
        }
        updates = spark.createDataFrame(
            [
                (100, "2024-01-01", 2, "v2-100"),   # update existing key
                (999, "2024-01-02", 1, "v1-999"),   # brand-new key
            ],
            "id long, day string, version int, payload string",
        )
        info = merge_upsert(
            spark, path, updates, ["id", "day"], "version", "day"
        )
        assert info["partitions_rewritten"] == ["2024-01-01", "2024-01-02"]
        back = spark.read.parquet(path)
        assert back.count() == 51  # 50 original + 1 new key
        got = {
            r.id: r.payload
            for r in back.filter("day = '2024-01-01'").collect()
        }
        assert got[100] == "v2-100" and got[101] == "v1-101"
        assert back.filter("id = 999").count() == 1
        # untouched partition: exact same files, never rewritten
        after = {
            f: os.path.getmtime(os.path.join(untouched_dir, f))
            for f in os.listdir(untouched_dir)
        }
        assert after == before

    def test_upsert_is_idempotent(self, spark, tmp_path):
        from metadata_driven_data_pipeline_spark.sinks.maintenance import (
            merge_upsert,
        )

        path = str(tmp_path / "tbl2")
        self._mk_table(spark, path)
        updates = spark.createDataFrame(
            [(200, "2024-01-02", 3, "v3-200")],
            "id long, day string, version int, payload string",
        )
        merge_upsert(spark, path, updates, ["id", "day"], "version", "day")
        first = sorted(
            map(tuple, spark.read.parquet(path).collect())
        )
        merge_upsert(spark, path, updates, ["id", "day"], "version", "day")
        second = sorted(
            map(tuple, spark.read.parquet(path).collect())
        )
        assert first == second

    def test_upsert_no_updates_is_noop(self, spark, tmp_path):
        from metadata_driven_data_pipeline_spark.sinks.maintenance import (
            merge_upsert,
        )

        path = str(tmp_path / "tbl3")
        self._mk_table(spark, path)
        empty = spark.createDataFrame(
            [], "id long, day string, version int, payload string"
        )
        info = merge_upsert(spark, path, empty, ["id", "day"], "version", "day")
        assert info == {"partitions_rewritten": [], "rows_written": 0}
        assert spark.read.parquet(path).count() == 50

    def test_upsert_sink_metadata_surface(self, spark, tmp_path):
        """Declarative sink with upsert: first batch bootstraps the
        partitioned table, second batch merges keep-latest and reports
        the touched partitions."""
        from metadata_driven_data_pipeline_spark.sinks.writer import (
            write_sink,
        )

        path = str(tmp_path / "sinktbl")
        sink = {
            "name": "s", "path": path, "format": "parquet",
            "upsert": {"keys": ["id", "day"], "orderBy": "version",
                       "partitionBy": "day"},
        }
        b1 = spark.createDataFrame(
            [(1, "d1", 1, "a"), (2, "d2", 1, "b")],
            "id long, day string, version int, payload string",
        )
        info1 = write_sink(b1, sink)
        assert info1["records_written"] == 2
        assert info1["partitions_rewritten"] == ["d1", "d2"]
        b2 = spark.createDataFrame(
            [(1, "d1", 2, "a2"), (3, "d3", 1, "c")],
            "id long, day string, version int, payload string",
        )
        info2 = write_sink(b2, sink)
        assert info2["partitions_rewritten"] == ["d1", "d3"]
        back = {r.id: (r.version, r.payload)
                for r in spark.read.parquet(path).collect()}
        assert back == {1: (2, "a2"), 2: (1, "b"), 3: (1, "c")}

    def test_upsert_null_partition_values_merge_not_drop(
        self, spark, tmp_path
    ):
        """NULL partition values route to __HIVE_DEFAULT_PARTITION__ and
        MERGE like any other partition (ADVICE r4: NULLs were dropped
        from the affected list, so an all-NULL batch silently discarded
        every row, and a mixed batch replaced the stored NULL partition
        with batch rows only)."""
        from metadata_driven_data_pipeline_spark.sinks.maintenance import (
            merge_upsert,
        )

        path = str(tmp_path / "nulltbl")
        base = spark.createDataFrame(
            [(1, None, 1, "n1"), (2, None, 1, "n2"), (3, "d1", 1, "a")],
            "id long, day string, version int, payload string",
        )
        base.write.mode("overwrite").partitionBy("day").parquet(path)

        # all-NULL-partition batch: must merge, not early-return
        upd = spark.createDataFrame(
            [(1, None, 2, "n1-v2"), (9, None, 1, "n9")],
            "id long, day string, version int, payload string",
        )
        info = merge_upsert(spark, path, upd, ["id"], "version", "day")
        assert info["partitions_rewritten"] == [None]
        assert info["rows_written"] == 3  # keys 1 (updated), 2 (kept), 9
        back = {r.id: (r.day, r.version, r.payload)
                for r in spark.read.parquet(path).collect()}
        assert back == {
            1: (None, 2, "n1-v2"),   # updated in place
            2: (None, 1, "n2"),      # EXISTING null-partition row kept
            3: ("d1", 1, "a"),       # untouched partition intact
            9: (None, 1, "n9"),      # new key landed
        }

        # mixed batch: null + named partitions both merge
        upd2 = spark.createDataFrame(
            [(2, None, 5, "n2-v5"), (3, "d1", 5, "a-v5")],
            "id long, day string, version int, payload string",
        )
        info2 = merge_upsert(spark, path, upd2, ["id"], "version", "day")
        assert info2["partitions_rewritten"] == ["d1", None]
        back = {r.id: r.payload for r in spark.read.parquet(path).collect()}
        assert back == {1: "n1-v2", 2: "n2-v5", 3: "a-v5", 9: "n9"}

    def test_upsert_sink_reports_rows_actually_written(self, spark, tmp_path):
        """records_written must reflect what merge_upsert landed in the
        table (post-dedup), not the incoming batch size; records_in
        carries the batch size (ADVICE r4)."""
        from metadata_driven_data_pipeline_spark.sinks.writer import (
            write_sink,
        )

        path = str(tmp_path / "sinkmetrics")
        sink = {
            "name": "s", "path": path, "format": "parquet",
            "upsert": {"keys": ["id", "day"], "orderBy": "version",
                       "partitionBy": "day"},
        }
        # batch with an intra-batch duplicate key: 3 rows in, 2 written
        b1 = spark.createDataFrame(
            [(1, "d1", 1, "a"), (1, "d1", 2, "a2"), (2, "d1", 1, "b")],
            "id long, day string, version int, payload string",
        )
        info1 = write_sink(b1, sink)
        assert info1["records_in"] == 3
        assert info1["records_written"] == 2
        # second batch: 1 update row merges against 1 existing key ->
        # the d1 slice is rewritten with 2 rows
        b2 = spark.createDataFrame(
            [(1, "d1", 3, "a3")],
            "id long, day string, version int, payload string",
        )
        info2 = write_sink(b2, sink)
        assert info2["records_in"] == 1
        assert info2["records_written"] == 2  # merged slice: keys 1 + 2
        # empty batch: no-op, zero written
        empty = spark.createDataFrame(
            [], "id long, day string, version int, payload string"
        )
        info3 = write_sink(empty, sink)
        assert info3["records_written"] == 0
        assert info3["partitions_rewritten"] == []

    def test_upsert_reader_retry_sees_merged_slice(self, spark, tmp_path):
        """Concurrency contract (documented on merge_upsert): a reader
        during the per-partition commit may see a partial affected
        partition, but a retry AFTER the upsert returns must see exactly
        the merged slice, and untouched partitions keep file identity."""
        import os

        from metadata_driven_data_pipeline_spark.sinks.maintenance import (
            merge_upsert,
        )

        path = str(tmp_path / "retrytbl")
        self._mk_table(spark, path)
        untouched = os.path.join(path, "day=2024-01-03")
        ident_before = {
            f: os.path.getmtime(os.path.join(untouched, f))
            for f in os.listdir(untouched)
        }
        updates = spark.createDataFrame(
            [(100, "2024-01-01", 7, "v7-100")],
            "id long, day string, version int, payload string",
        )
        merge_upsert(spark, path, updates, ["id", "day"], "version", "day")
        # retry-read: fresh scan (no cached listing) sees the full merge
        got = spark.read.parquet(path)
        assert got.count() == 50
        assert (
            got.filter("id = 100").collect()[0].payload == "v7-100"
        )
        ident_after = {
            f: os.path.getmtime(os.path.join(untouched, f))
            for f in os.listdir(untouched)
        }
        assert ident_after == ident_before
