"""Pipeline-state manifest: high-watermark incremental tracking.

Reference semantics (``utils/processed_batches_tracker.py:22-98``): a JSON
manifest holding ``last_processed_batch`` (the watermark),
``last_success_run_id``, ``last_success_timestamp``,
``total_batches_processed``; created if missing; updated + persisted after
EVERY successful batch (the at-least-once commit point,
``pipeline/runner.py:461-463``).

The reference stores it in MinIO via an SDK; we store it on the driver's
local filesystem, at a bare path or a ``file://`` URI — same JSON shape so
run logs stay comparable. Any other scheme (``s3a://``, ``hdfs://``)
raises ``ValueError``: plain file I/O would write it under a relative
``./s3a:/...`` directory of the working directory, lost between runs on a
cluster driver, and the watermark would silently reset.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone
from typing import Any, Optional
from urllib.parse import unquote, urlparse

_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:/")


def get_timestamp() -> str:
    """ISO-8601 UTC with millisecond precision (parity: tracker.py:17-18)."""
    return (
        datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    )


def create_manifest(pipeline_name: str) -> dict[str, Any]:
    return {
        "pipeline_name": pipeline_name,
        "last_processed_batch": None,
        "last_success_run_id": None,
        "last_success_timestamp": None,
        "total_batches_processed": 0,
        "created_at": get_timestamp(),
    }


def update_manifest(
    manifest: dict[str, Any], batch_date: str, run_id: str | None
) -> dict[str, Any]:
    manifest = dict(manifest)
    manifest["last_processed_batch"] = batch_date
    manifest["last_success_run_id"] = run_id
    manifest["last_success_timestamp"] = get_timestamp()
    manifest["total_batches_processed"] = int(
        manifest.get("total_batches_processed", 0)
    ) + 1
    return manifest


def _local_path(path: str) -> str:
    """The local path a manifest location names: a bare path as is, a
    ``file:`` URI as its path; any other URI raises ``ValueError``."""
    if not _URI.match(path):
        return path
    uri = urlparse(path)
    if uri.scheme.lower() == "file" and uri.netloc in ("", "localhost"):
        return unquote(uri.path)
    raise ValueError(
        f"manifest path {path!r}: only local paths and file:// URIs are "
        "supported"
    )


def read_manifest(path: str) -> Optional[dict[str, Any]]:
    """None if the manifest doesn't exist yet (parity: NoSuchKey → None)."""
    path = _local_path(path)
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def write_manifest(manifest: dict[str, Any], path: str) -> None:
    path = _local_path(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, path)  # atomic on POSIX
