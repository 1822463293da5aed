"""Round-12 regression tests (ADVICE r11): the CDC keyed-table contract
(NULL keys / duplicate keys raise the contractual ValueError) must hold
on the METADATA-FACTS fast path — the lane where ``_chunk_facts``
succeeds, the separate ``_validate_net_batch`` aggregate is skipped, and
the check rides IN-PLAN via ``_contract_guard``. A future refactor that
prunes the guarded column (or re-orders actions so the guard fires
outside the merge) must keep surfacing the contractual error, not a raw
Py4J exception. Each test FORCES the fast path by monkeypatching
``_validate_net_batch`` to fail loudly if the fallback is ever taken.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.sinks import txlog
from metadata_driven_data_pipeline_spark.operators import similarity as sim


def _forbid_fallback(monkeypatch):
    def _boom(*a, **k):  # pragma: no cover - only on regression
        raise AssertionError(
            "_validate_net_batch ran: the metadata-facts fast path was "
            "not taken (fixture commits are pure appends with footer "
            "stats, so _chunk_facts must succeed)"
        )

    monkeypatch.setattr(txlog, "_validate_net_batch", _boom)


def _assert_facts_available(spark, root, key_cols):
    feed = txlog.read_row_changes(spark, root, 0)
    assert txlog._chunk_facts(feed, key_cols) is not None


def test_replicate_duplicate_key_fast_path(spark, tmp_path, monkeypatch):
    src, tgt = str(tmp_path / "s"), str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 3.0)], "k int, v double"),
        src,
    )
    _assert_facts_available(spark, src, ["k"])
    _forbid_fallback(monkeypatch)
    with pytest.raises(ValueError, match="duplicate key"):
        txlog.replicate(spark, src, tgt, ["k"])


def test_replicate_null_key_fast_path(spark, tmp_path, monkeypatch):
    src, tgt = str(tmp_path / "s"), str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(None, "a"), (1, "b")], "k int, v string"),
        src,
    )
    _assert_facts_available(spark, src, ["k"])
    _forbid_fallback(monkeypatch)
    with pytest.raises(ValueError, match="non-NULL keys"):
        txlog.replicate(spark, src, tgt, ["k"])


def test_scd2_duplicate_key_fast_path(spark, tmp_path, monkeypatch):
    src, tgt = str(tmp_path / "s"), str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(1, 1.0), (1, 2.0)], "k int, v double"),
        src,
    )
    _assert_facts_available(spark, src, ["k"])
    _forbid_fallback(monkeypatch)
    with pytest.raises(ValueError, match="duplicate key"):
        txlog.apply_changes_scd2(spark, src, tgt, ["k"])


def test_scd2_null_key_fast_path(spark, tmp_path, monkeypatch):
    src, tgt = str(tmp_path / "s"), str(tmp_path / "t")
    txlog.append(
        spark,
        spark.createDataFrame([(None, 1.0), (2, 2.0)], "k int, v double"),
        src,
    )
    _assert_facts_available(spark, src, ["k"])
    _forbid_fallback(monkeypatch)
    with pytest.raises(ValueError, match="non-NULL keys"):
        txlog.apply_changes_scd2(spark, src, tgt, ["k"])


def _emb_rows(rows):
    return [(k, [float(k or 0) + 0.5, 1.0, -0.25, 2.0]) for k in rows]


def test_ivf_maintain_duplicate_key_fast_path(spark, tmp_path, monkeypatch):
    src, idx = str(tmp_path / "s"), str(tmp_path / "i")
    df = spark.createDataFrame(
        _emb_rows([1, 1, 2]), "vec_id int, embedding array<double>"
    )
    txlog.append(spark, df, src)
    _assert_facts_available(spark, src, ["vec_id"])
    _forbid_fallback(monkeypatch)
    cents = sim.ivf_centroids(4, 2)
    with pytest.raises(ValueError, match="duplicate key"):
        sim.maintain_ivf_index(spark, src, idx, 4, cents)


def test_ivf_maintain_null_key_fast_path(spark, tmp_path, monkeypatch):
    src, idx = str(tmp_path / "s"), str(tmp_path / "i")
    df = spark.createDataFrame(
        _emb_rows([None, 2]), "vec_id int, embedding array<double>"
    )
    txlog.append(spark, df, src)
    _assert_facts_available(spark, src, ["vec_id"])
    _forbid_fallback(monkeypatch)
    cents = sim.ivf_centroids(4, 2)
    with pytest.raises(ValueError, match="non-NULL keys"):
        sim.maintain_ivf_index(spark, src, idx, 4, cents)


def test_cdc_contract_errors_translates_only_the_assert_true_error():
    """Only the in-plan ``assert_true`` error (a SparkRuntimeException of
    condition USER_RAISED_EXCEPTION) becomes the contract ValueError; any
    other exception whose text merely contains the contract message
    propagates unchanged."""
    from pyspark.errors import SparkRuntimeException

    msg = "replicate: duplicate key in ['k'] at source commit range (0, 1]"
    for exc in (RuntimeError(msg), SparkRuntimeException(message=msg)):
        with pytest.raises(type(exc)) as info:
            with txlog._cdc_contract_errors():
                raise exc
        assert info.value is exc
