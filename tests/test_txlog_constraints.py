"""CHECK constraints (r10, Delta ALTER TABLE ADD CONSTRAINT parity):

- add_constraint validates existing rows first (a violating table can
  never gain the constraint) and records a metadata-only commit;
- every row-materializing write path (append, merge — both lanes —,
  update, replace_where, overwrite) enforces in-plan via
  assert_true-wrapped first column: a violating batch ABORTS before the
  commit with a ValueError naming the constraint, a clean batch pays
  zero extra passes; files written by tasks (commit_staged) are checked
  by one probe job;
- NULL-valued conditions PASS (SQL CHECK semantics: only FALSE
  violates);
- constraints survive checkpointing, log retention, and overwrite
  (table properties, not data);
- drop_constraint removes by name, missing name raises.
"""

import os

import pytest
from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.sinks import txlog

from conftest import count_jobs


def _mk(tmp_path, name):
    return os.path.join(str(tmp_path), name)


def _seed(spark, root):
    txlog.append(
        spark,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, price double"),
        root,
    )


def test_add_constraint_enforces_on_append_update_merge(spark, tmp_path):
    root = _mk(tmp_path, "c1")
    _seed(spark, root)
    txlog.add_constraint(spark, root, "price_positive", "price > 0")
    # clean writes pass
    txlog.append(
        spark, spark.createDataFrame([(3, 30.0)], "k int, price double"), root
    )
    # violating append aborts BEFORE the commit — no partial state
    with pytest.raises(Exception, match="price_positive"):
        txlog.append(
            spark,
            spark.createDataFrame([(4, -1.0)], "k int, price double"),
            root,
        )
    assert txlog.read_table(spark, root).count() == 3
    with pytest.raises(Exception, match="price_positive"):
        txlog.update(spark, root, [("k", "==", 1)], {"price": "-price"})
    with pytest.raises(Exception, match="price_positive"):
        txlog.merge(
            spark,
            spark.createDataFrame([(9, -5.0)], "k int, price double"),
            root,
            ["k"],
            order_col=None,
        )
    # conditional-clause lane enforces too
    with pytest.raises(Exception, match="price_positive"):
        txlog.merge(
            spark,
            spark.createDataFrame([(1, -7.0)], "k int, price double"),
            root,
            ["k"],
            order_col=None,
            when_matched_update={"set": {"price": "s.price"}},
        )


def test_null_condition_passes_and_existing_data_validated(spark, tmp_path):
    root = _mk(tmp_path, "c2")
    _seed(spark, root)
    txlog.add_constraint(spark, root, "price_positive", "price > 0")
    # NULL condition value = pass (SQL CHECK semantics)
    txlog.append(
        spark, spark.createDataFrame([(5, None)], "k int, price double"), root
    )
    assert txlog.read_table(spark, root).filter("price IS NULL").count() == 1
    # a constraint the existing data violates cannot be added
    with pytest.raises(ValueError, match="existing"):
        txlog.add_constraint(spark, root, "pr", "price IS NOT NULL")
    # duplicate name rejected
    with pytest.raises(ValueError, match="already exists"):
        txlog.add_constraint(spark, root, "price_positive", "price > 1")


def test_drop_constraint(spark, tmp_path):
    root = _mk(tmp_path, "c3")
    _seed(spark, root)
    txlog.add_constraint(spark, root, "pp", "price > 0")
    txlog.drop_constraint(root, "pp")
    txlog.append(
        spark, spark.createDataFrame([(6, -2.0)], "k int, price double"), root
    )
    assert txlog.read_table(spark, root).filter("price < 0").count() == 1
    with pytest.raises(ValueError, match="no constraint"):
        txlog.drop_constraint(root, "pp")


def test_constraints_survive_checkpoint_retention_overwrite(spark, tmp_path):
    root = _mk(tmp_path, "c4")
    _seed(spark, root)
    txlog.add_constraint(spark, root, "pp", "price > 0")
    for i in range(12):
        txlog.append(
            spark,
            spark.createDataFrame([(i + 10, 1.0)], "k int, price double"),
            root,
        )
    txlog.cleanup_log(root, keep_versions=2)
    assert txlog.load_snapshot(root).constraints == {"pp": "price > 0"}
    with pytest.raises(Exception, match="pp"):
        txlog.append(
            spark,
            spark.createDataFrame([(99, -1.0)], "k int, price double"),
            root,
        )
    # overwrite replaces the DATA, not the table properties
    txlog.overwrite(
        spark, spark.createDataFrame([(1, 5.0)], "k int, price double"), root
    )
    with pytest.raises(Exception, match="pp"):
        txlog.overwrite(
            spark,
            spark.createDataFrame([(1, -5.0)], "k int, price double"),
            root,
        )


def test_declarative_constraint_verbs(spark, tmp_path):
    import json

    from metadata_driven_data_pipeline_spark.orchestrate import (
        run_table_maintenance,
    )

    root = _mk(tmp_path, "c5")
    _seed(spark, root)
    specs = json.loads(json.dumps([
        {"table": root,
         "addConstraint": {"name": "pp", "expr": "price > 0"}},
    ]))
    rep = run_table_maintenance(spark, specs)
    assert rep[0]["addConstraint"]["name"] == "pp"
    with pytest.raises(Exception, match="pp"):
        txlog.append(
            spark,
            spark.createDataFrame([(9, -1.0)], "k int, price double"),
            root,
        )
    run_table_maintenance(
        spark, [{"table": root, "dropConstraint": {"name": "pp"}}]
    )
    assert txlog.load_snapshot(root).constraints == {}


@pytest.mark.parametrize("lane", ["append", "commit_staged"])
def test_second_constraint_violation_is_one_job(spark, tmp_path, lane):
    """A batch that passes the first of two CHECK constraints and fails
    the second raises a ValueError naming the second, in one Spark job
    (counted by job group), and commits nothing: in the staging write
    for append, in the probe over the written files for commit_staged
    (the driver half of the txlog DataSource writer, called here with a
    session)."""
    root = _mk(tmp_path, "two")
    _seed(spark, root)
    txlog.add_constraint(spark, root, "a_positive", "price > 0")
    txlog.add_constraint(spark, root, "b_below_100", "price < 100")
    v0 = txlog.load_snapshot(root).version
    bad = spark.createDataFrame([(3, 500.0)], "k int, price double")
    if lane == "append":

        def call():
            return txlog.append(spark, bad, root)

    else:
        staged = os.path.join(str(tmp_path), "staged")
        bad.coalesce(1).write.parquet(staged)
        data = os.path.join(root, txlog.DATA_DIR)
        paths = []
        for n in sorted(os.listdir(staged)):
            if n.endswith(".parquet"):
                paths.append(os.path.join(data, f"w-{n}"))
                os.replace(os.path.join(staged, n), paths[-1])
        schema = txlog.load_snapshot(root).schema

        def call():
            return txlog.commit_staged(spark, root, paths, schema)

    def rejected():
        with pytest.raises(ValueError, match="'b_below_100' violated"):
            call()

    assert count_jobs(spark, rejected)[1] == 1
    assert txlog.load_snapshot(root).version == v0
    assert txlog.read_table(spark, root).count() == 2
