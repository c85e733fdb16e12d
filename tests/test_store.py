"""The keyed table's storage primitives (``otrrentetl_spark/table/
store.py``): one contract run against both stores — the Hadoop store
over a ``file://`` URI, the local store over a temp dir — plus the
table's verbs end to end on the Hadoop store, and the commit-time
partition-directory prune."""

from __future__ import annotations

import os

import pytest

from otrrentetl_spark.operators import merge
from otrrentetl_spark.table.store import HadoopStore, LocalStore, store_for

KEYS = ("PartitionKey", "RowKey")
SCHEMA = "PartitionKey string, RowKey string, val string, n long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture(params=["local", "hadoop"])
def store_root(request, spark, tmp_path):
    """(store, root URI, the root's local directory)."""
    base = tmp_path / "root"
    if request.param == "local":
        return LocalStore(), str(base), str(base)
    return HadoopStore(spark), base.as_uri(), str(base)


def test_store_for_picks_by_scheme(spark):
    assert isinstance(store_for(spark, "/tmp/t"), LocalStore)
    assert isinstance(store_for(spark, "file:///tmp/t"), LocalStore)
    assert isinstance(store_for(spark, "hdfs://nn/t"), HadoopStore)
    assert isinstance(store_for(spark, "s3a://bucket/t"), HadoopStore)


def test_store_contract(store_root):
    store, root, local = store_root
    lock, doc = f"{root}/t._WRITE_LOCK", f"{root}/t/_SNAPSHOT"

    # create-exclusive: the first create wins, the second is refused
    assert store.create_exclusive(lock, b"token-A")
    assert not store.create_exclusive(lock, b"token-B")
    assert store.read_bytes(lock) == b"token-A"
    assert store.read_bytes(lock, 5) == b"token"
    assert store.exists(lock)
    age = store.age_s(lock)
    assert age is not None and -5.0 < age < 60.0
    store.delete(lock)
    assert not store.exists(lock)
    assert store.read_bytes(lock) is None
    assert store.age_s(lock) is None
    store.delete(lock)  # deleting a missing file is a no-op

    # atomic writes: replace in place; exclusive refuses an existing doc
    store.write_atomic(doc, b'{"v": 1}')
    store.write_atomic(doc, b'{"v": 2}')
    assert store.read_bytes(doc) == b'{"v": 2}'
    with pytest.raises(FileExistsError):
        store.write_atomic(doc, b'{"v": 3}', exclusive=True)
    assert store.read_bytes(doc) == b'{"v": 2}'
    store.write_atomic(f"{root}/t/_history/v1.json", b"{}", exclusive=True)
    assert store.read_bytes(f"{root}/t/_history/v1.json") == b"{}"
    # no temp file survives either write form
    assert store.list_names(f"{root}/t") == ["_SNAPSHOT", "_history"]
    assert store.list_names(f"{root}/t/_history") == ["v1.json"]
    assert store.list_names(f"{root}/missing") == []

    # data files: one walk, hidden names skipped, scoped by dirs
    for rel, data in (
        ("t/PartitionKey=a/part-0.parquet", b"aaa"),
        ("t/PartitionKey=a/.part-0.parquet.crc", b"c"),
        ("t/PartitionKey=b/part-1.parquet", b"bbbbb"),
        ("t/_staging/part-2.parquet", b"x"),
    ):
        os.makedirs(os.path.dirname(f"{local}/{rel}"), exist_ok=True)
        with open(f"{local}/{rel}", "wb") as f:
            f.write(data)
    assert store.file_sizes(f"{root}/t") == {
        "PartitionKey=a/part-0.parquet": 3,
        "PartitionKey=b/part-1.parquet": 5,
    }
    assert store.file_sizes(f"{root}/t", {"PartitionKey=b", "PartitionKey=z"}) == {
        "PartitionKey=b/part-1.parquet": 5
    }
    assert store.file_sizes(f"{root}/missing") == {}

    # prune: a non-empty directory stays, an emptied one goes (the
    # file's checksum sidecar goes with it)
    store.remove_dir_if_empty(f"{root}/t/PartitionKey=a")
    assert os.path.isdir(f"{local}/t/PartitionKey=a")
    store.delete(f"{root}/t/PartitionKey=a/part-0.parquet")
    store.remove_dir_if_empty(f"{root}/t/PartitionKey=a")
    assert not os.path.exists(f"{local}/t/PartitionKey=a")
    store.remove_dir_if_empty(f"{root}/t/PartitionKey=a")  # missing: no-op
    assert os.path.isdir(f"{local}/t/PartitionKey=b")


def test_local_path_only_on_local_store(spark, tmp_path):
    assert LocalStore().local_path(tmp_path.as_uri()) == str(tmp_path)
    assert LocalStore().local_path(str(tmp_path)) == str(tmp_path)
    assert HadoopStore(spark).local_path(tmp_path.as_uri()) is None


def test_table_verbs_on_hadoop_store(spark, tmp_path, monkeypatch):
    """Every verb of a keyed table runs through the Hadoop store (the
    store of every non-local scheme) to the same rows: writes take the
    Spark path, commits, locks, time travel, the change feed, history
    expiry and vacuum use only the store's primitives."""
    monkeypatch.setattr(
        merge, "store_for", lambda spark, path: HadoopStore(spark)
    )
    path = (tmp_path / "hadoop").as_uri()
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(_df(spark, [("a", "1", "x", 1), ("b", "2", "y", 2)]))
    t.upsert_replace_partitions(_df(spark, [("a", "1", "x2", 10), ("c", "3", "z", 3)]))
    t.delete_by_keys(_df(spark, [("b", "2", None, None)]))
    rows = sorted((r.PartitionKey, r.RowKey, r.n) for r in t.read().collect())
    assert rows == [("a", "1", 10), ("c", "3", 3)]
    assert t.read(version=1).count() == 2
    assert sorted(
        (r.RowKey, r.change_type) for r in t.changes(1, 3).collect()
    ) == [("1", "update"), ("2", "delete"), ("3", "insert")]
    assert [r.version for r in t.history().collect()] == [1, 2, 3]
    assert t.expire_history(keep_last=2) == 1
    t.vacuum()
    local = str(tmp_path / "hadoop")
    assert not os.path.exists(f"{local}/PartitionKey=b")
    assert sorted(t._list_data_files()) == sorted(t._read_snapshot()["files"])
    assert not os.path.exists(local + "._WRITE_LOCK")


class _SpyStore(LocalStore):
    def __init__(self):
        self.listed: list[str] = []
        self.pruned: list[str] = []

    def list_names(self, uri):
        self.listed.append(uri)
        return super().list_names(uri)

    def file_sizes(self, root, dirs=None):
        self.listed.append(f"{root} {sorted(dirs) if dirs else '*'}")
        return super().file_sizes(root, dirs)

    def remove_dir_if_empty(self, uri):
        self.pruned.append(uri)
        return super().remove_dir_if_empty(uri)


def test_commit_prunes_only_the_emptied_partition_dir(spark, tmp_path):
    """A (non-checkpoint) commit that empties one of N partitions
    removes that directory and lists no other partition directory —
    the O(batch) commit path pays no O(partitions) listing."""
    path = str(tmp_path / "prune")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    parts = [f"p{i}" for i in range(6)]
    t.overwrite(_df(spark, [(p, "1", "v", 1) for p in parts]))
    spy = t._store = _SpyStore()
    t.delete_by_keys(_df(spark, [("p2", "1", None, None)]))
    assert t._read_snapshot()["checkpoints"] == [1], "pick a non-ckpt commit"
    assert not os.path.exists(f"{path}/PartitionKey=p2")
    assert all(os.path.isdir(f"{path}/PartitionKey={p}") for p in parts if p != "p2")
    assert spy.pruned == [f"{path}/PartitionKey=p2"]
    others = [f"PartitionKey={p}" for p in parts if p != "p2"]
    assert not any(d in uri for uri in spy.listed for d in others), spy.listed
    assert path not in spy.listed, "the table root was listed"
