"""Commit-time guards for transaction-log tables (r8, ADVICE r7):

- append() and merge() detect column-mapping drift between staging and
  commit (a concurrent overwrite resets mapping history) and RE-STAGE
  instead of committing files whose in-file names read back as NULL;
- a first merge() or replace_where() is planned under its own conflict
  rule, so a concurrent first commit it overlaps is replanned over;
- commit_staged() (the DataSource-writer path — executor files cannot
  be re-staged) RAISES on the same drift;
- restore() restores the target snapshot's RETIRED set (replace, not
  union), closing the drop→overwrite→restore physical-name leak;
- partition_by validates the PHYSICAL directory names, not just the
  logical ones (a column born '_x' renamed to 'x' must still refuse).
"""

from __future__ import annotations

import os

import pytest

from metadata_driven_data_pipeline_spark.sinks import txlog


def _mk(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _lose_first_claim_to(monkeypatch, concurrent):
    """The next commit's first claim loses: ``concurrent()`` commits in
    between."""
    real_claim = txlog._try_claim
    fired = {}

    def claim_with_race(r, version, payload):
        if not fired:
            fired["x"] = True
            concurrent()
            return False
        return real_claim(r, version, payload)

    monkeypatch.setattr(txlog, "_try_claim", claim_with_race)


def test_append_restages_on_concurrent_overwrite_mapping_reset(
    spark, tmp_path, monkeypatch
):
    """overwrite() landing between append's staging and its claim resets
    column-mapping history; the append must detect the drift and
    re-stage under the new (identity) mapping — without the guard the
    renamed column reads back as silent NULLs from the appended files
    (ADVICE r7 #1, medium)."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)  # v1: cols k, v
    txlog.rename_column(root, "v", "value")  # v2: mapping value→v

    real_claim = txlog._try_claim
    fired = {}

    def claim_with_race(r, version, payload):
        if not fired and payload.get("op") == "append":
            fired["x"] = True
            # the concurrent overwrite wins this version: new generation
            # under logical names, mapping history reset
            txlog.overwrite(
                spark, _mk(spark, [(9, "z")], "k int, value string"), root
            )
            return False  # our claim lost the race
        return real_claim(r, version, payload)

    monkeypatch.setattr(txlog, "_try_claim", claim_with_race)
    txlog.append(spark, _mk(spark, [(2, "b")], "k int, value string"), root)
    monkeypatch.undo()

    got = txlog.read_table(spark, root)
    assert _rows(got) == [(2, "b"), (9, "z")]  # 'value' is NOT NULL
    # the re-staged file stores the column under its post-reset physical
    # name ('value', identity), matching the table's mapping
    snap = txlog.load_snapshot(root)
    import pyarrow.parquet as pq

    newest = [p for p in snap.file_paths()]
    names = {
        n for p in newest for n in pq.ParquetFile(p).schema_arrow.names
    }
    assert names == {"k", "value"}


def test_merge_restages_on_concurrent_overwrite_mapping_reset(
    spark, tmp_path, monkeypatch
):
    """The same drift under merge: a batch whose key range overlaps no
    file rewrites nothing, so only the staging map shows the reset."""
    root = str(tmp_path / "t")
    # one data file per commit, whose stats keep it out of the merge
    txlog.append(spark, _mk(spark, [(1, "a")]).coalesce(1), root)
    txlog.rename_column(root, "v", "value")
    _lose_first_claim_to(monkeypatch, lambda: txlog.overwrite(
        spark, _mk(spark, [(9, "z")], "k int, value string").coalesce(1), root
    ))
    txlog.merge(
        spark, _mk(spark, [(100, "new")], "k int, value string"), root,
        ["k"], None,
    )
    monkeypatch.undo()
    assert _rows(txlog.read_table(spark, root)) == [(9, "z"), (100, "new")]


def test_overwrite_replans_on_concurrent_constraint(
    spark, tmp_path, monkeypatch
):
    """add_constraint landing between overwrite's staging and its claim:
    the replacement rows were validated under the OLD constraint set, so
    the overwrite must replan under the new one — where the in-plan
    check rejects the violating row — instead of committing rows that
    violate a constraint the table now carries."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)

    real_claim = txlog._try_claim
    fired = {}

    def claim_with_race(r, version, payload):
        if not fired and payload.get("op") == "overwrite":
            fired["x"] = True
            txlog.add_constraint(spark, root, "no_bad", "v <> 'bad'")
            return False  # the constraint commit won this version
        return real_claim(r, version, payload)

    monkeypatch.setattr(txlog, "_try_claim", claim_with_race)
    with pytest.raises(Exception, match="no_bad"):
        txlog.overwrite(spark, _mk(spark, [(2, "bad")]), root)
    monkeypatch.undo()

    assert _rows(txlog.read_table(spark, root)) == [(1, "a")]
    assert "no_bad" in txlog.load_snapshot(root).constraints


def test_uncontended_commit_folds_the_log_once(spark, tmp_path, monkeypatch):
    """An uncontended commit plans against the snapshot it claims from:
    one log fold per merge, append and optimize."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a"), (2, "b")]), root)

    real_load = txlog.load_snapshot
    calls = []

    def counting_load(*args, **kwargs):
        calls.append(args)
        return real_load(*args, **kwargs)

    monkeypatch.setattr(txlog, "load_snapshot", counting_load)
    folds = {}
    for name, commit in [
        ("merge", lambda: txlog.merge(
            spark, _mk(spark, [(2, "z")]), root, ["k"], order_col=None
        )),
        ("append", lambda: txlog.append(spark, _mk(spark, [(3, "c")]), root)),
        ("optimize", lambda: txlog.optimize(spark, root)),
    ]:
        calls.clear()
        assert not commit()["skipped"]
        folds[name] = len(calls)
    monkeypatch.undo()
    assert folds == {"merge": 1, "append": 1, "optimize": 1}
    assert _rows(txlog.read_table(spark, root)) == [(1, "a"), (2, "z"), (3, "c")]


def test_commit_staged_raises_on_mapping_drift(spark, tmp_path):
    """The DataSource writer stages executor files under the mapping it
    saw at job start; a concurrent overwrite resetting that mapping
    before the driver-side commit must RAISE (tasks are done — no
    re-stage possible), never commit wrong-named files."""
    root = str(tmp_path / "t")
    txlog.append(spark, _mk(spark, [(1, "a")]), root)
    txlog.rename_column(root, "v", "value")  # mapping value→v
    staged_phys = {"value": "v"}  # what a writer would stage under now

    # stage one file under the OLD physical names, the writer-task way
    import pyarrow as pa
    import pyarrow.parquet as pq

    data_dir = os.path.join(root, txlog.DATA_DIR)
    staged = os.path.join(data_dir, "deadbeef0000-w.parquet")
    pq.write_table(
        pa.table({"k": pa.array([2], pa.int32()), "v": ["b"]}), staged
    )

    # concurrent overwrite resets column-mapping history
    txlog.overwrite(spark, _mk(spark, [(9, "z")], "k int, value string"), root)

    schema = txlog.load_snapshot(root).schema
    with pytest.raises(ValueError, match="column-mapping changed"):
        txlog.commit_staged(
            spark, root, [staged], schema, staged_phys=staged_phys
        )


def test_restore_restores_retired_set(spark, tmp_path):
    """drop_column retires a physical name; overwrite resets the retired
    set; restore BELOW the overwrite brings the dropped column's files
    back to life, so the retired set must come back with them — or a
    merge_schema append could mint a column over historic bytes
    (ADVICE r7 #2, medium)."""
    root = str(tmp_path / "t")
    txlog.append(
        spark, _mk(spark, [(1, "a", "W")], "k int, v string, w string"), root
    )  # v1
    txlog.drop_column(root, "w")  # v2: retires 'w'
    assert txlog.load_snapshot(root).retired == {"w"}
    txlog.overwrite(spark, _mk(spark, [(9, "z")]), root)  # v3: reset
    assert txlog.load_snapshot(root).retired == set()

    txlog.restore(spark, root, 2)  # v4: v1's file live again, w dropped
    snap = txlog.load_snapshot(root)
    assert snap.retired == {"w"}, "restore must carry the target's retired set"
    with pytest.raises(ValueError, match="physically"):
        txlog.append(
            spark,
            _mk(spark, [(3, "c", "X")], "k int, v string, w string"),
            root,
            merge_schema=True,
        )

    # the inverse: restoring ABOVE the drop (w back in the schema)
    # un-retires it
    txlog.restore(spark, root, 1)
    snap = txlog.load_snapshot(root)
    assert snap.retired == set()
    assert "w" in snap.schema.fieldNames()
    assert _rows(txlog.read_table(spark, root)) == [(1, "a", "W")]


def test_partition_by_validates_physical_names(spark, tmp_path):
    """A column born '_x' (hidden-prefix physical name frozen at birth)
    then renamed to 'x' would stage _x=... directories Spark's own path
    listing skips — the validation must check the PHYSICAL name and
    name the logical→physical pair in the error (ADVICE r7 #3)."""
    root = str(tmp_path / "t")
    txlog.append(
        spark, _mk(spark, [(1, 2)], "k int, `_x` int"), root
    )
    txlog.rename_column(root, "_x", "x")
    with pytest.raises(ValueError, match=r"'x'.*physical.*'_x'"):
        txlog.append(
            spark,
            _mk(spark, [(2, 3)], "k int, x int"),
            root,
            partition_by=["x"],
        )


def test_first_merge_replans_against_concurrent_first_merge(
    spark, tmp_path, monkeypatch
):
    """A first merge plans against the empty snapshot under merge's own
    conflict rule: a concurrent first merge of the same key makes the
    plan stale, and the replan keeps only the newer row for that key."""
    root = str(tmp_path / "t")
    schema = "k int, v string, ts int"
    _lose_first_claim_to(monkeypatch, lambda: txlog.merge(
        spark, _mk(spark, [(1, "old", 1)], schema), root, ["k"], "ts"
    ))
    res = txlog.merge(spark, _mk(spark, [(1, "new", 2)], schema), root, ["k"], "ts")
    monkeypatch.undo()
    # merged into the winner's files, not appended beside them
    assert res["version"] == 2 and res["files_rewritten"] >= 1
    assert _rows(txlog.read_table(spark, root)) == [(1, "new", 2)]
    assert [h["op"] for h in txlog.history(root)] == ["merge", "merge"]


def test_first_replace_where_replans_against_concurrent_first_commit(
    spark, tmp_path, monkeypatch
):
    """A first replace_where is planned against the empty snapshot with
    its own predicate: a concurrent first commit inside the same scope
    makes the plan stale, and the replan replaces those rows."""
    root = str(tmp_path / "t")
    where = [("k", "==", 1)]
    _lose_first_claim_to(monkeypatch, lambda: txlog.replace_where(
        spark, _mk(spark, [(1, "old")]), root, where
    ))
    res = txlog.replace_where(spark, _mk(spark, [(1, "new")]), root, where)
    monkeypatch.undo()
    assert res["version"] == 2 and res["rows_deleted"] == 1
    assert _rows(txlog.read_table(spark, root)) == [(1, "new")]
    assert [h["op"] for h in txlog.history(root)] == [
        "replace_where", "replace_where"
    ]
