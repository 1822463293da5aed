"""Crash-safe directory replace on the Hadoop FileSystem.

Every rewrite-in-place table in this engine (consolidation, compaction,
streaming monitor grids and the streaming keep-latest table) goes through
:func:`replace`: write the new content to a sibling staging directory,
then swap it into place. A naive ``delete(path); rename(staging, path)``
has a silent-data-loss window: a crash between the two calls leaves
NOTHING at ``path``, and a restart that treats "missing" as "first run"
bootstraps fresh state from the current batch alone.

This module closes the window with a rename-aside protocol. Every call
goes through the Hadoop ``FileSystem`` of the path's scheme, so the same
code serves bare local paths, ``file://``, ``hdfs://`` and ``s3a://``:

replace:  0. write ``df`` to ``path__staging_<token>``
          1. recover(), then delete any completed ``path__prev`` leftover
          2. ``rename(path, path__prev)``
          3. ``rename(staging, path)``
          4. delete ``path__prev``

recover:  if ``path`` is missing but ``path__prev`` exists, a crash hit
          between steps 2 and 3 — roll ``path__prev`` back to ``path``.

Crash at any point leaves either the old state or the new state
reachable: before 2 → old intact; between 2 and 3 → old in ``__prev``
(recover() restores it; the interrupted batch replays); between 3 and 4
→ new committed, stale ``__prev`` removed by the next replace. Step 1
recovers before it deletes, so it can never delete the only copy.

Hadoop's ``rename``/``delete`` report failure by returning ``false``
rather than raising; every step checks that boolean and raises, so a
failed step stops the protocol where a later one would lose data.

On local, NFS and HDFS a directory rename is atomic. On ``s3a://`` it is
a copy of every object followed by a delete, so a step can be observed
half-done; the ordering still never leaves neither copy reachable —
``path`` is only renamed aside once staging is complete, and ``__prev``
is only deleted once ``path`` holds the new copy. Readers needing
snapshot isolation on an object store should use ``sinks/txlog.py``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def _fs(spark: SparkSession, path: str):
    """(FileSystem of ``path``'s scheme, Path constructor)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def _check(ok: bool, op: str, *paths: str) -> None:
    if not ok:
        raise OSError(f"Hadoop FileSystem {op} failed: {' -> '.join(paths)}")


def exists(spark: SparkSession, path: str) -> bool:
    """True if ``path`` exists on the FileSystem of its scheme."""
    fs, Path = _fs(spark, path)
    return bool(fs.exists(Path(path)))


def recover(spark: SparkSession, path: str) -> bool:
    """Roll back a replace interrupted between rename-aside and
    rename-into-place. Returns True if a rollback happened. Call before
    reading state that :func:`replace` maintains."""
    path = path.rstrip("/")
    prev = path + "__prev"
    fs, Path = _fs(spark, path)
    if fs.exists(Path(path)) or not fs.exists(Path(prev)):
        return False
    _check(fs.rename(Path(prev), Path(path)), "rename", prev, path)
    return True


def replace(df: DataFrame, path: str, fmt: str) -> None:
    """Replace the directory at ``path`` with ``df`` written as ``fmt``,
    never leaving a state where neither old nor new content is
    reachable."""
    spark = df.sparkSession
    path = path.rstrip("/")
    prev = path + "__prev"
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    df.write.format(fmt).mode("overwrite").save(staging)
    recover(spark, path)
    fs, Path = _fs(spark, path)
    if fs.exists(Path(prev)):
        _check(fs.delete(Path(prev), True), "delete", prev)
    had_old = fs.exists(Path(path))
    if had_old:
        _check(fs.rename(Path(path), Path(prev)), "rename", path, prev)
    _check(fs.rename(Path(staging), Path(path)), "rename", staging, path)
    if had_old:
        _check(fs.delete(Path(prev), True), "delete", prev)


def read_text(spark: SparkSession, path: str) -> str | None:
    """UTF-8 content of the file at ``path``, or None when it does not
    exist. Any other error propagates."""
    fs, Path = _fs(spark, path)
    if not fs.exists(Path(path)):
        return None
    stream = fs.open(Path(path))
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def publish_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` to ``path`` as one step: into ``path.tmp`` first,
    then a rename, so a reader sees the whole file or none. ``path``
    must not exist yet (the rename never overwrites)."""
    fs, Path = _fs(spark, path)
    tmp = path + ".tmp"
    out = fs.create(Path(tmp), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    _check(fs.rename(Path(tmp), Path(path)), "rename", tmp, path)
