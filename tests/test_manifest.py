"""Where the pipeline-state manifest lands for each kind of location."""

import pytest

from metadata_driven_data_pipeline_spark.manifest import (
    create_manifest,
    read_manifest,
    write_manifest,
)


def test_file_uri_manifest_round_trips_at_its_real_path(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    real = tmp_path / "state" / "manifest.json"
    m = create_manifest("p")
    write_manifest(m, real.as_uri())
    assert real.is_file()
    assert not (tmp_path / "file:").exists()  # not under the working dir
    assert read_manifest(real.as_uri()) == m
    assert read_manifest(str(real)) == m


def test_object_store_manifest_path_raises(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="s3a://"):
        write_manifest(create_manifest("p"), "s3a://bucket/state/m.json")
    with pytest.raises(ValueError, match="s3a://"):
        read_manifest("s3a://bucket/state/m.json")
    assert list(tmp_path.iterdir()) == []
