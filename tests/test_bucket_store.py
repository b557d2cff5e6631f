"""BucketStore's object-store commit branch, on pyarrow's in-memory
``mock://`` filesystem (no network, no Spark): files are written straight
to their final names with a single PUT, never through a temp + move."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bella_domify_spark.engine.manifest import BucketStore


@pytest.fixture
def store():
    # from_uri builds a fresh in-memory filesystem per call, so each test
    # keeps to the one store it made
    s = BucketStore("mock:///x/out")
    assert s.scheme not in s.RENAME_SCHEMES

    def no_move(tmp, final):
        pytest.fail(f"object-store commit moved {tmp} -> {final}")

    s._move_commit = no_move
    s.makedirs()
    return s


def _put(store, rel, data=b"junk"):
    with store.fs.open_output_stream(store.path(rel)) as f:
        f.write(data)


def _names(store, *parts):
    return sorted(i.base_name for i in store._list(*parts))


def test_parquet_writer_puts_the_final_name(store):
    table = pa.table({"v": [1, 2, 3]})
    writer, commit = store.parquet_writer("bucket-00000.parquet", table.schema)
    writer.write_table(table)
    writer.close()
    # the close already PUT the committed object; commit has nothing to do
    assert _names(store) == ["_manifests", "bucket-00000.parquet"]
    commit()
    got = pq.read_table(store.path("bucket-00000.parquet"),
                        filesystem=store.fs)
    assert got.equals(table)


def test_write_json_puts_the_final_name_and_round_trips(store):
    store.write_json("_manifests/bucket-00007.json", {"rows": 7, "run": "r"})
    assert _names(store, "_manifests") == ["bucket-00007.json"]
    assert store.read_json("_manifests", "bucket-00007.json") == \
        {"rows": 7, "run": "r"}


def test_file_size_matches_bytes_written(store):
    _put(store, "bucket-00001.parquet", b"x" * 1234)
    assert store.file_size("bucket-00001.parquet") == 1234


def test_manifest_names_lists_only_json(store):
    store.write_json("_manifests/bucket-00002.json", {})
    store.write_json("_manifests/bucket-00001.json", {})
    _put(store, "_manifests/bucket-00003.json.123-ab.tmp")
    _put(store, "_manifests/notes.txt")
    assert store.manifest_names() == ["bucket-00001.json",
                                      "bucket-00002.json"]


def test_manifest_names_of_a_missing_dir_is_empty():
    assert BucketStore("mock:///never/written").manifest_names() == []


def test_clean_tmp_removes_planted_temps(store):
    _put(store, "bucket-00001.parquet.123-ab.tmp")
    _put(store, "_manifests/bucket-00001.json.456-cd.tmp")
    _put(store, "bucket-00002.parquet")
    store.write_json("_manifests/bucket-00002.json", {})
    assert store.clean_tmp() == 2
    assert _names(store) == ["_manifests", "bucket-00002.parquet"]
    assert _names(store, "_manifests") == ["bucket-00002.json"]


def test_plain_path_is_the_local_filesystem(tmp_path, monkeypatch):
    import pyarrow.fs as pafs

    monkeypatch.chdir(tmp_path)
    s = BucketStore("rel/out")
    assert isinstance(s.fs, pafs.LocalFileSystem)
    assert (s.scheme, s.base) == ("file",
                                  os.path.join(os.getcwd(), "rel", "out"))
