"""The CDC keyed-table contract (NULL keys / duplicate keys raise the
contractual ValueError) on both ways a consumer learns a feed's facts:

- the METADATA-FACTS fast path, where ``_chunk_facts`` derives
  emptiness and bounds from commit metadata and the contract rides the
  consumer's own write;
- feeds without that metadata (snapshot diffs, stream epochs), where
  the facts come from an ``observe()`` on the write that fills the
  batch's cache, and the contract fires in that same job.

Either way the ``_key_rules`` guard's failure must surface as the
contractual error, not a raw Spark exception, and the translator
(``_rule_errors``) must let every other error through unchanged.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.sinks import txlog
from metadata_driven_data_pipeline_spark.operators import similarity as sim

from conftest import count_jobs


def _assert_facts_available(spark, root, key_cols):
    feed = txlog.read_row_changes(spark, root, 0)
    assert txlog._chunk_facts(feed, key_cols) is not None


def test_replicate_duplicate_key_fast_path(spark, tmp_path):
    src, tgt = str(tmp_path / "s"), str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 3.0)], "k int, v double"),
        src,
    )
    _assert_facts_available(spark, src, ["k"])
    with pytest.raises(ValueError, match="duplicate key"):
        txlog.replicate(spark, src, tgt, ["k"])


def test_replicate_null_key_fast_path(spark, tmp_path):
    src, tgt = str(tmp_path / "s"), str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(None, "a"), (1, "b")], "k int, v string"),
        src,
    )
    _assert_facts_available(spark, src, ["k"])
    with pytest.raises(ValueError, match="non-NULL keys"):
        txlog.replicate(spark, src, tgt, ["k"])


def test_scd2_duplicate_key_fast_path(spark, tmp_path):
    src, tgt = str(tmp_path / "s"), str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(1, 1.0), (1, 2.0)], "k int, v double"),
        src,
    )
    _assert_facts_available(spark, src, ["k"])
    with pytest.raises(ValueError, match="duplicate key"):
        txlog.apply_changes_scd2(spark, src, tgt, ["k"])


def test_scd2_null_key_fast_path(spark, tmp_path):
    src, tgt = str(tmp_path / "s"), str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(None, 1.0), (2, 2.0)], "k int, v double"),
        src,
    )
    _assert_facts_available(spark, src, ["k"])
    with pytest.raises(ValueError, match="non-NULL keys"):
        txlog.apply_changes_scd2(spark, src, tgt, ["k"])


def _emb_rows(rows):
    return [(k, [float(k or 0) + 0.5, 1.0, -0.25, 2.0]) for k in rows]


def test_ivf_maintain_duplicate_key_fast_path(spark, tmp_path):
    src, idx = str(tmp_path / "s"), str(tmp_path / "i")
    df = spark.createDataFrame(
        _emb_rows([1, 1, 2]), "vec_id int, embedding array<double>"
    )
    txlog.append(spark, df, src)
    _assert_facts_available(spark, src, ["vec_id"])
    cents = sim.ivf_centroids(4, 2)
    with pytest.raises(ValueError, match="duplicate key"):
        sim.maintain_ivf_index(spark, src, idx, 4, cents)


def test_ivf_maintain_null_key_fast_path(spark, tmp_path):
    src, idx = str(tmp_path / "s"), str(tmp_path / "i")
    df = spark.createDataFrame(
        _emb_rows([None, 2]), "vec_id int, embedding array<double>"
    )
    txlog.append(spark, df, src)
    _assert_facts_available(spark, src, ["vec_id"])
    cents = sim.ivf_centroids(4, 2)
    with pytest.raises(ValueError, match="non-NULL keys"):
        sim.maintain_ivf_index(spark, src, idx, 4, cents)


def test_cdc_contract_errors_translates_only_the_assert_true_error(spark):
    """Only an in-plan guard failure (a SparkRuntimeException of
    condition USER_RAISED_EXCEPTION) whose message is one of the active
    rules' own becomes ``ValueError(message)``. An exception whose text
    merely contains the message, and a guard failure carrying a message
    no active rule owns, propagate unchanged."""
    from pyspark.errors import SparkRuntimeException

    rules = txlog._key_rules(["k"], "source commit range (0, 1]")
    msg = rules[1][1]
    for exc in (RuntimeError(msg), SparkRuntimeException(message=msg)):
        with pytest.raises(type(exc)) as info:
            with txlog._rule_errors(rules):
                raise exc
        assert info.value is exc

    def guard_fails(m):
        spark.range(1).select(
            F.assert_true(F.col("id") < 0, F.lit(m))
        ).collect()

    with pytest.raises(ValueError) as info:
        with txlog._rule_errors(rules):
            guard_fails(msg)
    assert str(info.value) == msg
    with pytest.raises(SparkRuntimeException) as info:
        with txlog._rule_errors(rules):
            guard_fails("some other rule")
    assert info.value.getCondition() == "USER_RAISED_EXCEPTION"
    assert info.value.getMessageParameters()["errorMessage"] == "some other rule"


def test_snapshot_diff_duplicate_key_raises(spark, tmp_path):
    """A snapshot diff carries no commit metadata, so its facts come
    from the observed cache fill — and the duplicate-key guard fires in
    that job, before anything commits."""
    tgt = str(tmp_path / "t")
    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k int, s string"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        txlog.replicate_from_snapshot(spark, dup, tgt, ["k"], 1)
    assert txlog.load_snapshot(tgt).schema_json is None


def test_snapshot_diff_apply_job_count(spark, tmp_path):
    """A clean snapshot-diff apply (update + delete + insert) runs 7
    Spark jobs, counted by job group: the observed cache fill that
    checks the key contract takes as many jobs as the separate
    validation aggregate it replaced."""
    tgt = str(tmp_path / "t")
    s1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    s2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, s string")
    txlog.replicate_from_snapshot(spark, s1, tgt, ["k"], 1)
    res, jobs = count_jobs(
        spark, lambda: txlog.replicate_from_snapshot(spark, s2, tgt, ["k"], 2)
    )
    assert jobs == 7
    assert res["applied"]
    got = sorted(map(tuple, txlog.read_table(spark, tgt).collect()))
    assert got == [(2, "B"), (3, "c")]
