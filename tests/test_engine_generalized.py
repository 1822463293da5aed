"""North-star e2e: the Engine runs a purely declarative analytics dataflow —
parquet sources, generalized transforms (filter → join → aggregate → window
→ sort → set_op), parquet sink — with results verified against the same
computation written directly in DuckDB."""

import duckdb
import pytest

from metadata_driven_data_pipeline_spark.engine import Engine

SF = "/root/testdata/sf0.001"


def analytics_metadata(out_root: str) -> dict:
    return {
        "processing_mode": "full",
        "dataflows": [
            {
                "name": "nation-revenue-report",
                "sources": [
                    {"name": "orders", "path": f"{SF}/orders.parquet", "format": "parquet"},
                    {"name": "customer", "path": f"{SF}/customer.parquet", "format": "parquet"},
                    {"name": "nation", "path": f"{SF}/nation.parquet", "format": "parquet"},
                ],
                "transformations": [
                    {
                        "name": "open_orders",
                        "type": "filter",
                        "params": {"input": "orders", "condition": "o_orderstatus = 'O'"},
                    },
                    {
                        "name": "cust_orders",
                        "type": "join",
                        "params": {"left": "open_orders", "right": "customer",
                                   "condition": "o_custkey = c_custkey", "how": "inner"},
                    },
                    {
                        "name": "with_nation",
                        "type": "join",
                        "params": {"left": "cust_orders", "right": "nation",
                                   "condition": "c_nationkey = n_nationkey",
                                   "how": "inner", "broadcast": True},
                    },
                    {
                        "name": "nation_rev",
                        "type": "aggregate",
                        "params": {
                            "input": "with_nation",
                            "groupBy": ["n_name"],
                            "aggregations": [
                                {"expr": "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)",
                                 "alias": "revenue"},
                                {"expr": "COUNT(*)", "alias": "n_orders"},
                            ],
                        },
                    },
                    {
                        "name": "ranked",
                        "type": "window",
                        "params": {
                            "input": "nation_rev",
                            "orderBy": [{"column": "revenue", "direction": "DESC"}],
                            "functions": [{"expr": "row_number()", "alias": "rank"}],
                        },
                    },
                    {
                        "name": "top5",
                        "type": "sort",
                        "params": {"input": "ranked",
                                   "orderBy": ["revenue DESC", "n_name"], "limit": 5},
                    },
                ],
                "sinks": [
                    {"input": "top5", "name": "report",
                     "path": f"{out_root}/report", "format": "parquet",
                     "saveMode": "overwrite"},
                ],
            }
        ],
        "consolidation": {"enabled": False},
    }


def test_declarative_analytics_matches_duckdb(spark, tmp_path):
    root = str(tmp_path)
    engine = Engine(spark, analytics_metadata(root), run_id="gen-1")
    log = engine.run()
    assert log["status"] == "success"

    got = {
        (r["n_name"], round(r["revenue"], 2), r["n_orders"], r["rank"])
        for r in spark.read.parquet(f"{root}/report").collect()
    }
    con = duckdb.connect()
    want = {
        (n, round(rev, 2), c, rk)
        for n, rev, c, rk in con.execute(f"""
            WITH rev AS (
                SELECT n_name,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                       COUNT(*) AS n_orders
                FROM read_parquet('{SF}/orders.parquet') o
                JOIN read_parquet('{SF}/customer.parquet') c ON o_custkey = c_custkey
                JOIN read_parquet('{SF}/nation.parquet') n ON c_nationkey = n_nationkey
                WHERE o_orderstatus = 'O'
                GROUP BY n_name)
            SELECT n_name, revenue, n_orders,
                   ROW_NUMBER() OVER (ORDER BY revenue DESC) AS rank
            FROM rev ORDER BY revenue DESC, n_name LIMIT 5
        """).fetchall()
    }
    assert got == want and len(got) == 5


def two_flow_metadata(root: str, concurrent: bool) -> dict:
    flows = []
    for t, key in (("orders", "o_orderstatus"), ("customer", "c_mktsegment")):
        flows.append({
            "name": f"agg-{t}",
            "sources": [{"name": t, "path": f"{SF}/{t}.parquet", "format": "parquet"}],
            "transformations": [{
                "name": f"counts_{t}",
                "type": "aggregate",
                "params": {"input": t, "groupBy": [key],
                           "aggregations": [{"expr": "COUNT(*)", "alias": "n"}]},
            }],
            "sinks": [{"input": f"counts_{t}", "name": f"out-{t}",
                       "path": f"{root}/{t}", "format": "parquet",
                       "saveMode": "overwrite"}],
        })
    return {"processing_mode": "full", "concurrent_dataflows": concurrent,
            "dataflows": flows, "consolidation": {"enabled": False}}


def test_concurrent_dataflows_match_serial(spark, tmp_path):
    """Two independent dataflows run from threads must produce exactly the
    serial results (and the run log must contain both dataflows' stages)."""
    ser, par = str(tmp_path / "ser"), str(tmp_path / "par")
    Engine(spark, two_flow_metadata(ser, False), run_id="ser").run()
    log = Engine(spark, two_flow_metadata(par, True), run_id="par").run()
    assert log["status"] == "success"
    for t in ("orders", "customer"):
        a = sorted(map(tuple, spark.read.parquet(f"{ser}/{t}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{par}/{t}").collect()))
        assert a == b and len(a) > 0
    names = [s["name"] for st in log["stages"] for s in st.get("sub_stages", [])]
    assert any("orders" in n for n in names) and any("customer" in n for n in names)


def test_engine_compiles_each_dataflow_once(spark, tmp_path, monkeypatch):
    """validate_metadata's compiled flows are the ones the Engine runs:
    building an Engine compiles each dataflow once, not twice."""
    from metadata_driven_data_pipeline_spark import engine as engine_mod
    from metadata_driven_data_pipeline_spark.plans import compiler

    calls = []
    original = compiler.compile_dataflow

    def counting(flow):
        calls.append(flow["name"])
        return original(flow)

    monkeypatch.setattr(compiler, "compile_dataflow", counting)
    monkeypatch.setattr(engine_mod, "compile_dataflow", counting)
    engine = Engine(spark, two_flow_metadata(str(tmp_path), False))
    assert calls == ["agg-orders", "agg-customer"]
    assert [c.name for c in engine.compiled] == calls
