"""Merge-writer semantics (SURVEY.md §5.3/§5.4): stored-vs-default
matrix for U2/U3, upsert idempotence, moveto conservation.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from otrrentetl_spark.operators import merge

KEYS = ("PartitionKey", "RowKey")
SCHEMA = "PartitionKey string, RowKey string, val string, n long"
DEFAULTS = {"val": "", "n": 0}


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted((r.PartitionKey, r.RowKey, r.val, r.n) for r in df.collect())


def test_upsert_replace_whole_row(spark):
    old = _df(spark, [("p", "1", "keepme", 5), ("p", "2", "old", 1)])
    new = _df(spark, [("p", "2", "new", 0), ("p", "3", "ins", 9)])
    got = _rows(merge.upsert_replace(old, new, KEYS))
    assert got == [("p", "1", "keepme", 5), ("p", "2", "new", 0), ("p", "3", "ins", 9)]


def test_upsert_replace_idempotent(spark):
    """save twice ≡ save once (A3 / property §5.4)."""
    old = _df(spark, [("p", "1", "a", 1)])
    new = _df(spark, [("p", "1", "b", 2), ("p", "2", "c", 3)])
    once = merge.upsert_replace(old, new, KEYS)
    twice = merge.upsert_replace(once, new, KEYS)
    assert _rows(once) == _rows(twice)


def test_upsert_merge_default_columns_do_not_overwrite(spark):
    """The stored-vs-default matrix (azurestoragewrapper.py:227-231):
    incoming default-valued columns leave stored values untouched."""
    old = _df(spark, [("p", "1", "stored", 7)])
    # val='' and n=0 are defaults → must NOT clobber; n=3 must win
    new = _df(spark, [("p", "1", "", 3)])
    got = _rows(merge.upsert_merge(old, new, DEFAULTS, KEYS))
    assert got == [("p", "1", "stored", 3)]


def test_upsert_merge_insert_new_row_keeps_defaults(spark):
    old = _df(spark, [("p", "1", "a", 1)])
    new = _df(spark, [("q", "9", "", 4)])
    got = _rows(merge.upsert_merge(old, new, DEFAULTS, KEYS))
    assert got == [("p", "1", "a", 1), ("q", "9", "", 4)]


def test_delete_keys(spark):
    old = _df(spark, [("p", "1", "a", 1), ("p", "2", "b", 2)])
    dels = _df(spark, [("p", "2", "x", 0)])
    assert _rows(merge.delete_keys(old, dels, KEYS)) == [("p", "1", "a", 1)]


def test_rekey_move_conserves_rowcount(spark):
    """moveto conservation (U6, property §5.4): moving rows across
    partitions never changes the total row count."""
    old = _df(spark, [("2017_01_01", "1", "a", 1), ("2017_01_01", "2", "b", 2)])
    sel = _df(spark, [("2017_01_01", "2", "", 0)])
    moved = merge.rekey(old, sel, {"PartitionKey": "top"}, KEYS, move=True)
    assert moved.count() == old.count()
    assert _rows(moved) == [("2017_01_01", "1", "a", 1), ("top", "2", "b", 2)]


def test_rekey_copy_adds_rows(spark):
    old = _df(spark, [("2017_01_01", "1", "a", 1)])
    sel = _df(spark, [("2017_01_01", "1", "", 0)])
    copied = merge.rekey(old, sel, {"PartitionKey": "top"}, KEYS, move=False)
    assert copied.count() == 2


def test_keyed_parquet_table_partition_gate(spark, tmp_path):
    path = str(tmp_path / "recordings")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    assert t.partition_is_empty("2017_01_01")  # no table yet
    t.upsert_replace_partitions(_df(spark, [("2017_01_01", "1", "a", 1)]))
    assert not t.partition_is_empty("2017_01_01")
    assert t.partition_is_empty("2017_01_02")
    # dynamic partition overwrite touches only the named partition
    t.upsert_replace_partitions(_df(spark, [("2017_01_02", "2", "b", 2)]))
    got = sorted((r.PartitionKey, r.RowKey) for r in t.read().collect())
    assert got == [("2017_01_01", "1"), ("2017_01_02", "2")]


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """SURVEY.md §4: PartitionKey-scoped queries must physically prune —
    the scan of a partitionBy(PartitionKey) layout filtered to one key
    reads ONE partition directory, reproducing the reference store's
    partition affinity (azurestoragewrapper.py:54-75) at plan level."""
    path = str(tmp_path / "parted")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(
        _df(
            spark,
            [(f"2017_01_0{d}", str(i), "x", i) for d in range(1, 6) for i in range(3)],
        )
    )
    q = t.read().filter(F.col("PartitionKey") == "2017_01_03")
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "PartitionKey" in m.group(1), plan
    # physically one of the five directories survives pruning
    pc = re.search(r"partition filters: [^,]*", plan) or re.search(
        r"PartitionCount: (\d+)", plan
    )
    if pc and pc.re.pattern.startswith("PartitionCount"):
        assert int(pc.group(1)) == 1, plan
    assert q.count() == 3


def _partition_file_state(path, partition):
    """(name, inode, mtime_ns, size) of every data file in one
    PartitionKey=<v> directory — identity proof for 'untouched'."""
    import os

    d = os.path.join(path, f"PartitionKey={partition}")
    out = []
    for f in sorted(os.listdir(d)):
        st = os.stat(os.path.join(d, f))
        out.append((f, st.st_ino, st.st_mtime_ns, st.st_size))
    return out


def test_delete_by_keys_is_partition_scoped(spark, tmp_path):
    """K4/U5 at scale: deleting keys in partition A must leave the
    files of partition B physically untouched (same inode/mtime/bytes)
    — i.e. the delete rewrites only touched partitions, not the table."""
    path = str(tmp_path / "scoped")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(
        _df(
            spark,
            [("A", "1", "a", 1), ("A", "2", "b", 2), ("B", "1", "c", 3), ("B", "2", "d", 4)],
        )
    )
    before_b = _partition_file_state(path, "B")
    t.delete_by_keys(_df(spark, [("A", "2", "", 0)]))
    after_b = _partition_file_state(path, "B")
    assert before_b == after_b, "partition B was rewritten by a delete in A"
    got = _rows(t.read())
    assert got == [("A", "1", "a", 1), ("B", "1", "c", 3), ("B", "2", "d", 4)]


def test_delete_by_keys_removes_emptied_partition(spark, tmp_path):
    """Dynamic overwrite can't express 'this partition is now empty'
    (no rows → partition untouched); the writer must drop the emptied
    directory explicitly or deleted rows resurrect on read."""
    import os

    path = str(tmp_path / "emptied")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("A", "1", "a", 1), ("B", "1", "c", 3)]))
    t.delete_by_keys(_df(spark, [("A", "1", "", 0)]))
    assert not os.path.exists(os.path.join(path, "PartitionKey=A"))
    assert _rows(t.read()) == [("B", "1", "c", 3)]


def test_delete_by_keys_missing_partition_is_noop(spark, tmp_path):
    path = str(tmp_path / "noop")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("A", "1", "a", 1)]))
    before = _partition_file_state(path, "A")
    t.delete_by_keys(_df(spark, [("Z", "9", "", 0)]))
    assert _partition_file_state(path, "A") == before
    assert _rows(t.read()) == [("A", "1", "a", 1)]


def test_compact_bounds_file_count_and_preserves_rows(spark, tmp_path):
    """VERDICT r3 #7: after many upsert rounds a partition holds many
    small files; compact() must coalesce them (here: to 1, the data is
    tiny) without changing a single row value."""
    import os

    path = str(tmp_path / "compacted")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    # a wide shuffle writes one file per task → many small files
    many = _df(
        spark, [("A", str(i), f"v{i}", i) for i in range(40)]
    ).repartition(8)
    t.overwrite(many)
    part_dir = os.path.join(path, "PartitionKey=A")
    n_before = len([f for f in os.listdir(part_dir) if f.endswith(".parquet")])
    assert n_before >= 5
    before = _rows(t.read())
    t.compact(["A"])
    n_after = len([f for f in os.listdir(part_dir) if f.endswith(".parquet")])
    assert n_after == 1, f"expected 1 file after compaction, got {n_after}"
    assert _rows(t.read()) == before


def test_compact_all_partitions_noop_on_values(spark, tmp_path):
    path = str(tmp_path / "compact_all")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("A", "1", "a", 1), ("B", "2", "b", 2)]))
    before = _rows(t.read())
    t.compact()
    assert _rows(t.read()) == before


def test_schema_evolution_add_column(spark, tmp_path):
    """Azure Table entities are schemaless — a later batch may carry a
    NEW property. The keyed table must accept it: old rows read back
    null in the new column, and partitions written before the column
    existed still read correctly (mergeSchema)."""
    from otrrentetl_spark.operators.merge import KeyedParquetTable

    t = KeyedParquetTable(spark, str(tmp_path / "tbl"))
    v1 = spark.createDataFrame(
        [("p1", "1", 10)], "PartitionKey string, RowKey string, a long"
    )
    t.upsert_replace_partitions(v1)
    v2 = spark.createDataFrame(
        [("p2", "2", 20, "fresh")],
        "PartitionKey string, RowKey string, a long, b string",
    )
    t.upsert_replace_partitions(v2)
    got = {r["RowKey"]: r for r in t.read().collect()}
    assert set(got) == {"1", "2"}
    assert got["1"]["a"] == 10 and got["1"]["b"] is None
    assert got["2"]["a"] == 20 and got["2"]["b"] == "fresh"
    # and a batch OMITTING a known column still merges (nulls in)
    v3 = spark.createDataFrame(
        [("p1", "3", 30)], "PartitionKey string, RowKey string, a long"
    )
    t.upsert_replace_partitions(v3)
    got = {r["RowKey"]: r for r in t.read().collect()}
    assert got["3"]["b"] is None and got["2"]["b"] == "fresh"


def test_cross_table_keyed_purge(spark, tmp_path):
    """Lifecycle composition: purging one PartitionKey's rows from
    SEVERAL keyed tables (the per-user data-erasure shape) — each
    table's delete stays partition-scoped, unrelated partitions stay
    physically untouched, and a re-run of the purge is a no-op."""
    t1 = merge.KeyedParquetTable(spark, str(tmp_path / "profiles"), KEYS)
    t2 = merge.KeyedParquetTable(spark, str(tmp_path / "activity"), KEYS)
    t1.overwrite(_df(spark, [("u1", "p", "a", 1), ("u2", "p", "b", 2)]))
    t2.overwrite(
        _df(spark, [("u1", "e1", "x", 1), ("u1", "e2", "y", 2), ("u2", "e1", "z", 3)])
    )
    before_u2 = [
        _partition_file_state(str(tmp_path / "profiles"), "u2"),
        _partition_file_state(str(tmp_path / "activity"), "u2"),
    ]
    # the purge set derives from the tables being purged — pin it ONCE
    # before the first destructive write (delete_by_keys contract), or
    # the second table's delete would re-scan the first table's
    # already-rewritten files
    purge = (
        t2.read().filter(F.col("PartitionKey") == "u1").select(*KEYS)
        .unionByName(
            t1.read().filter(F.col("PartitionKey") == "u1").select(*KEYS)
        )
        .localCheckpoint(eager=True)
    )
    for t in (t1, t2):
        t.delete_by_keys(purge)
    assert _rows(t1.read()) == [("u2", "p", "b", 2)]
    assert _rows(t2.read()) == [("u2", "e1", "z", 3)]
    assert before_u2 == [
        _partition_file_state(str(tmp_path / "profiles"), "u2"),
        _partition_file_state(str(tmp_path / "activity"), "u2"),
    ]
    # idempotent: purging again changes nothing
    for t in (t1, t2):
        t.delete_by_keys(_df(spark, [("u1", "p", "", 0), ("u1", "e1", "", 0), ("u1", "e2", "", 0)]))
    assert _rows(t1.read()) == [("u2", "p", "b", 2)]
    assert _rows(t2.read()) == [("u2", "e1", "z", 3)]


def test_delete_by_keys_partition_value_with_space(spark, tmp_path):
    """Code-review r4: Spark writes 'PartitionKey=user 1' UNESCAPED
    (ExternalCatalogUtils leaves spaces/commas literal) — the emptied-
    partition removal must target that exact directory, not a
    urllib-style 'user%201'. Deleting every row of such a partition
    must physically remove it, or the rows resurrect on read."""
    import os

    path = str(tmp_path / "spacey")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("user 1", "a", "x", 1), ("plain", "b", "y", 2)]))
    assert os.path.isdir(os.path.join(path, "PartitionKey=user 1"))
    t.delete_by_keys(_df(spark, [("user 1", "a", "", 0)]))
    assert not os.path.exists(os.path.join(path, "PartitionKey=user 1"))
    assert _rows(t.read()) == [("plain", "b", "y", 2)]
    # compact must also resolve the escaped directory name
    t.overwrite(_df(spark, [("user 2", "a", "x", 1)]))
    before = _rows(t.read())
    t.compact(["user 2"])
    assert _rows(t.read()) == before


def test_delete_by_keys_null_partition(spark, tmp_path):
    """NULL partition keys live in __HIVE_DEFAULT_PARTITION__; a
    delete-set row with a NULL key must reach them (isin() alone never
    matches NULL under three-valued logic)."""
    import os

    path = str(tmp_path / "nullpk")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(
        spark.createDataFrame(
            [(None, "a", "x", 1), ("p", "b", "y", 2)], SCHEMA
        )
    )
    assert os.path.isdir(
        os.path.join(path, "PartitionKey=__HIVE_DEFAULT_PARTITION__")
    )
    t.delete_by_keys(
        spark.createDataFrame([(None, "a", "", 0)], SCHEMA)
    )
    assert not os.path.exists(
        os.path.join(path, "PartitionKey=__HIVE_DEFAULT_PARTITION__")
    )
    assert _rows(t.read()) == [("p", "b", "y", 2)]


def test_table_stats_reports_rows_files_bytes(spark, tmp_path):
    """Observability verb: stats() must agree with the physical layout
    — row counts per partition, positive file counts/bytes, escaped
    partition names unescaped back to logical values."""
    path = str(tmp_path / "statted")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(
        _df(
            spark,
            [("A", "1", "a", 1), ("A", "2", "b", 2), ("user 1", "x", "y", 3)],
        )
    )
    got = {r["partition"]: r for r in t.stats().collect()}
    assert set(got) == {"A", "user 1"}
    assert got["A"]["n_rows"] == 2 and got["user 1"]["n_rows"] == 1
    for r in got.values():
        assert r["n_files"] >= 1 and r["n_bytes"] > 0
    # file count drops after compaction, rows unchanged
    t.compact(["A"])
    got2 = {r["partition"]: r for r in t.stats().collect()}
    assert got2["A"]["n_rows"] == 2
    assert got2["A"]["n_files"] == 1


def test_table_stats_raises_on_missing_live_file(spark, tmp_path):
    """A LIVE manifest file absent on disk is manifest/storage
    divergence (external deletion, over-eager reaping): stats() must
    surface it, not report 0 bytes (ADVICE r8)."""
    import glob
    import os

    import pytest

    path = str(tmp_path / "diverged")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("A", "1", "a", 1), ("B", "2", "b", 2)]))
    victim = glob.glob(f"{path}/PartitionKey=A/*.parquet")[0]
    os.remove(victim)
    with pytest.raises(FileNotFoundError, match="divergence"):
        t.stats()


def test_concurrent_upserts_no_lost_rows(spark, tmp_path):
    """r5 verdict item 3: two simultaneous upsert jobs on the SAME
    table must serialize (single-writer lock) — unlocked, both read
    the same old partition slice and the second dynamic overwrite
    silently drops the first job's rows (and the shared-session
    partitionOverwriteMode toggle can even degrade one write to a
    static full-table overwrite)."""
    import threading

    path = str(tmp_path / "contended")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("P", "seed", "s", 0)]))
    n_each = 8
    errs = []

    def writer(tag):
        try:
            for i in range(n_each):
                t.upsert_replace_partitions(
                    _df(spark, [("P", f"{tag}{i}", tag, i)])
                )
        except Exception as e:  # noqa: BLE001 — surface in main thread
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(tag,)) for tag in ("a", "b")]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs
    got = {r["RowKey"] for r in t.read().collect()}
    want = {"seed"} | {f"a{i}" for i in range(n_each)} | {
        f"b{i}" for i in range(n_each)
    }
    assert got == want
    # lock released: the sibling lock file is gone
    import os

    assert not os.path.exists(path + "._WRITE_LOCK")


def test_write_lock_breaks_stale_lock(spark, tmp_path):
    """A crashed writer's leftover lock must not wedge the table
    forever: locks older than stale_s are broken by the next writer."""
    import os

    path = str(tmp_path / "stale")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    lock = path + "._WRITE_LOCK"
    os.makedirs(path, exist_ok=True)
    with open(lock, "w") as f:
        f.write("dead-writer")
    os.utime(lock, (0, 0))  # ancient mtime → stale
    with t._write_lock(timeout_s=5.0, stale_s=60.0):
        pass  # acquired by breaking the stale lock
    assert not os.path.exists(lock)
    # a FRESH foreign lock is honored: acquisition times out
    with open(lock, "w") as f:
        f.write("live-writer")
    import pytest

    with pytest.raises(TimeoutError):
        with t._write_lock(timeout_s=0.3, stale_s=3600.0):
            pass
    os.remove(lock)


def test_reader_sees_old_snapshot_until_flip(spark, tmp_path):
    """r6 verdict item 7: mid-mutation state (new files appended, the
    manifest not yet flipped) must be INVISIBLE — a reader sees the
    old snapshot, never a mix; the next commit reaps the orphans."""
    import os

    path = str(tmp_path / "snapiso")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("A", "1", "old", 1), ("B", "1", "old", 2)]))
    old = _rows(t.read())
    newdf = _df(spark, [("A", "1", "new", 10), ("B", "1", "new", 20)])
    # simulate the crashed/mid-write state: data files appended, no flip
    newdf.write.mode("append").partitionBy("PartitionKey").parquet(path)
    assert _rows(t.read()) == old, "un-flipped append leaked into a read"
    # the real verb commits atomically and reaps the orphan files
    t.upsert_replace_partitions(newdf)
    assert _rows(t.read()) == [("A", "1", "new", 10), ("B", "1", "new", 20)]
    snap = t._read_snapshot()
    disk = t._list_data_files()
    assert sorted(snap["files"]) == disk, "orphans or stale files remain"
    assert snap["retired"] == []
    assert os.path.exists(os.path.join(path, "_SNAPSHOT"))


def test_concurrent_readers_see_single_version(spark, tmp_path):
    """The interleaved-reader gate: a reader running DURING a
    two-partition upsert must see both partitions from the same
    committed version — all-old or all-new, never partition A new /
    partition B old. Retention keeps superseded files readable for
    in-flight plans."""
    import threading

    path = str(tmp_path / "snapver")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.retain_stale_s = 300.0  # keep superseded files for readers
    t.overwrite(_df(spark, [("A", "r", "v", 0), ("B", "r", "v", 0)]))
    stop = threading.Event()
    bad = []
    errs = []

    def reader():
        try:
            while not stop.is_set():
                got = {
                    r["PartitionKey"]: r["n"]
                    for r in t.read().collect()
                }
                if set(got) != {"A", "B"} or got["A"] != got["B"]:
                    bad.append(got)
        except Exception as e:  # noqa: BLE001 — surface in main thread
            errs.append(e)

    th = threading.Thread(target=reader)
    th.start()
    try:
        for i in range(1, 7):
            t.upsert_replace_partitions(
                _df(spark, [("A", "r", "v", i), ("B", "r", "v", i)])
            )
    finally:
        stop.set()
        th.join()
    assert not errs, errs
    assert not bad, f"mixed-version reads observed: {bad}"
    # retention kept the superseded files on disk...
    snap = t._read_snapshot()
    assert len(snap["retired"]) > 0
    assert len(t._list_data_files()) > len(snap["files"])
    # ...and vacuum(0) reclaims them without changing the data
    before = _rows(t.read())
    t.vacuum(0.0)
    assert t._list_data_files() == sorted(t._read_snapshot()["files"])
    assert _rows(t.read()) == before


def test_null_partition_upsert_preserves_siblings(spark, tmp_path):
    """isin() never matches NULL: an upsert touching the NULL
    partition must still carry the partition's OTHER old rows through
    the rewrite (r7 self-review; the pre-manifest path lost them)."""
    path = str(tmp_path / "nullpart")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(
        _df(spark, [(None, "keep", "a", 1), (None, "upd", "b", 2),
                    ("A", "1", "c", 3)])
    )
    assert not t.partition_is_empty(None)  # col==None is NULL, needs isNull
    t.upsert_replace_partitions(_df(spark, [(None, "upd", "B", 20)]))
    got = sorted(
        (
            (r["PartitionKey"] or "", r["PartitionKey"], r["RowKey"],
             r["val"], r["n"])
            for r in t.read().collect()
        )
    )
    assert [g[1:] for g in got] == [
        (None, "keep", "a", 1),
        (None, "upd", "B", 20),
        ("A", "1", "c", 3),
    ]


def test_emptied_table_exists_false_and_reusable(spark, tmp_path):
    """Deleting every row leaves a zero-file manifest: exists() must
    report False (pre-manifest meaning: has readable data) and the
    next upsert must re-seed the table cleanly."""
    path = str(tmp_path / "emptyall")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("A", "1", "a", 1)]))
    t.delete_by_keys(_df(spark, [("A", "1", "", 0)]))
    assert not t.exists()
    assert t.partition_is_empty("A")
    t.upsert_replace_partitions(_df(spark, [("A", "2", "b", 2)]))
    assert _rows(t.read()) == [("A", "2", "b", 2)]


def test_emptied_table_read_is_typed_empty_not_ghost(spark, tmp_path):
    """ADVICE r7 (medium): with retain_stale_s > 0 the retired parquet
    files of a fully-emptied table are still on disk; read() must
    return a TYPED EMPTY frame from the manifest-pinned schema, never
    fall back to the directory listing (which would resurrect every
    deleted row) — with the columns in the order a non-empty read
    gives."""
    path = str(tmp_path / "ghost")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.retain_stale_s = 3600.0  # deleted files stay physically on disk
    t.overwrite(_df(spark, [("A", "1", "a", 1), ("B", "2", "b", 2)]))
    cols = t.read().columns
    t.delete_by_keys(_df(spark, [("A", "1", "", 0), ("B", "2", "", 0)]))
    assert not t.exists()
    got = t.read()
    assert got.count() == 0  # the ghost read returned 2
    assert set(got.columns) == {"PartitionKey", "RowKey", "val", "n"}
    assert got.columns == cols
    # lookup() rides the same path
    assert t.lookup("A", "1").count() == 0
    # and the table is still reusable after the empty read
    t.upsert_replace_partitions(_df(spark, [("C", "3", "c", 3)]))
    assert _rows(t.read()) == [("C", "3", "c", 3)]


def test_emptied_table_read_zero_retention(spark, tmp_path):
    """Same emptied-table read with retention 0 (files physically
    gone): the old directory fallback raised 'unable to infer schema';
    now it's the same typed empty frame, columns in read() order."""
    path = str(tmp_path / "ghost0")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("A", "1", "a", 1)]))
    cols = t.read().columns
    t.delete_by_keys(_df(spark, [("A", "1", "", 0)]))
    got = t.read()
    assert got.count() == 0
    assert set(got.columns) == {"PartitionKey", "RowKey", "val", "n"}
    assert got.columns == cols


def test_missing_manifest_with_history_refuses_dir_fallback(spark, tmp_path):
    """ADVICE r7: a table with committed history but no _SNAPSHOT is a
    torn (or deleted) manifest — read() must retry then refuse, not
    serve a directory listing mixing retired and live files. Verbs
    read the pointer the same way: an upsert and expire_history
    refuse too, and neither deletes a data file or a _history doc."""
    import os

    import pytest

    path = str(tmp_path / "torn")
    hist = os.path.join(path, "_history")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("A", "1", "a", 1)]))
    t.upsert_replace_partitions(_df(spark, [("A", "1", "b", 2)]))
    os.remove(os.path.join(path, "_SNAPSHOT"))
    data, docs = t._list_data_files(), sorted(os.listdir(hist))
    with pytest.raises(ValueError, match="no _SNAPSHOT manifest"):
        t.read().collect()
    with pytest.raises(ValueError, match="no _SNAPSHOT manifest"):
        t.upsert_replace_partitions(_df(spark, [("A", "2", "c", 3)]))
    with pytest.raises(ValueError, match="no _SNAPSHOT manifest"):
        t.expire_history(keep_last=1)
    assert t._list_data_files() == data
    assert sorted(os.listdir(hist)) == docs


def test_uncommitted_files_never_become_live_rows(spark, tmp_path):
    """A table is its manifest: with no _SNAPSHOT and no _history there
    is no table, so read() raises naming the path — for a missing
    directory and for one holding another writer's uncommitted
    parquet files alike. Those files are orphans, never rows: the
    first upsert takes the overwrite path and its checkpoint commit
    reaps them."""
    import os
    import re

    import pytest

    schema = "PartitionKey string, RowKey string, val string"
    missing = str(tmp_path / "missing")
    with pytest.raises(ValueError, match=re.escape(missing)):
        merge.KeyedParquetTable(spark, missing, KEYS).read()
    path = str(tmp_path / "ghostdir")
    spark.createDataFrame([("A", "9", "ghost")], schema).write.partitionBy(
        "PartitionKey"
    ).parquet(path)
    ghosts = [
        os.path.join(d, n)
        for d, _, ns in os.walk(path)
        for n in ns
        if n.endswith(".parquet")
    ]
    assert ghosts
    t = merge.KeyedParquetTable(spark, path, KEYS)
    assert not t.exists()
    with pytest.raises(ValueError, match=re.escape(path)):
        t.read()
    t.upsert_replace_partitions(
        spark.createDataFrame([("A", "1", "real")], schema)
    )
    got = sorted(
        (r.PartitionKey, r.RowKey, r.val) for r in t.read().collect()
    )
    assert got == [("A", "1", "real")]
    assert not any(os.path.exists(g) for g in ghosts), "orphan not reaped"


def test_no_aqe_overlapping_probes_restore_prior_value(spark):
    """Two probes overlapping on one session: A enters, B enters, A
    leaves while B still plans. B must still run with AQE off, and
    once both left the conf is back at its prior value."""
    import sys
    import threading

    key = "spark.sql.adaptive.enabled"
    conf = spark.conf
    saved = conf.get(key)
    conf.set(key, "true")
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen: dict = {}

    def adaptive():
        df = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        return conf.get(key), plan.getClass().getSimpleName()

    def probe_a():
        with merge._no_aqe(spark):
            a_in.set()
            assert b_in.wait(60)
            seen["a"] = adaptive()
        a_out.set()

    def probe_b():
        assert a_in.wait(60)
        with merge._no_aqe(spark):
            b_in.set()
            assert a_out.wait(60)
            seen["b"] = adaptive()

    try:
        threads = [threading.Thread(target=f) for f in (probe_a, probe_b)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
        for name in ("a", "b"):
            value, plan = seen[name]
            assert value == "false", (name, value)
            assert plan != "AdaptiveSparkPlanExec", (name, plan)
        assert conf.get(key) == "true"
        # stress: more threads than cores entering and leaving at a
        # short switch interval; any lost update to the hold count
        # either shows AQE on inside a probe or leaves it off after
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        bad: list = []

        def churn():
            for _ in range(25):
                with merge._no_aqe(spark):
                    if conf.get(key) != "false":
                        bad.append(conf.get(key))

        try:
            threads = [threading.Thread(target=churn) for _ in range(8)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(120)
            assert not any(th.is_alive() for th in threads)
        finally:
            sys.setswitchinterval(switch)
        assert bad == []
        assert conf.get(key) == "true"
        assert merge._NO_AQE_HOLDS == {}
    finally:
        conf.set(key, saved)


def test_stale_break_is_by_identity(spark, tmp_path):
    """r6 verdict item 2 — the three-writer interleaving: A observes a
    stale lock, B breaks it and acquires a FRESH lock, then A's pending
    break must NOT delete B's lock (else a third writer C acquires and
    two writers run the critical section concurrently)."""
    import os

    path = str(tmp_path / "ident")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    lock = path + "._WRITE_LOCK"
    os.makedirs(path, exist_ok=True)

    # dead writer's stale lock; A "observes" it (the old code would
    # now unconditionally unlink at any later moment)
    with open(lock, "w") as f:
        f.write("dead-writer")
    os.utime(lock, (0, 0))

    # B breaks the stale lock and acquires a fresh one
    t._break_stale(stale_s=60.0)
    assert not os.path.exists(lock)
    assert t._try_lock("token-B")
    assert t._read_lock_token() == "token-B"

    # A's pending break runs now: re-verification inside the breaker
    # critical section sees a fresh, foreign lock → leaves it intact
    t._break_stale(stale_s=60.0)
    assert os.path.exists(lock), "A's late break deleted B's fresh lock"
    assert t._read_lock_token() == "token-B"
    # breaker meta-lock released
    assert not os.path.exists(lock + ".BREAK")
    os.remove(lock)


def test_unlock_release_is_token_verified(spark, tmp_path):
    """A writer whose mutation outlived stale_s and had its lock
    broken must not, at release time, delete the successor's lock."""
    import os

    path = str(tmp_path / "slowrel")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    lock = path + "._WRITE_LOCK"
    os.makedirs(path, exist_ok=True)

    with open(lock, "w") as f:
        f.write("slow-writer")
    # mid-mutation, the lock is broken and a successor acquires
    os.remove(lock)
    with open(lock, "w") as f:
        f.write("successor")
    # slow writer's finally-release: token mismatch → no delete
    t._unlock(expected_token="slow-writer")
    assert os.path.exists(lock)
    assert t._read_lock_token() == "successor"
    # successor's own release still works
    t._unlock(expected_token="successor")
    assert not os.path.exists(lock)


def test_stale_break_contended_mutual_exclusion(spark, tmp_path):
    """Stress the break path: many writers start against a stale lock;
    the breaker serialization must keep the critical section exclusive
    (the old unconditional-unlink code admits two writers here)."""
    import os
    import threading
    import time

    path = str(tmp_path / "brkstress")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    lock = path + "._WRITE_LOCK"
    os.makedirs(path, exist_ok=True)
    with open(lock, "w") as f:
        f.write("dead-writer")
    os.utime(lock, (0, 0))

    inside = [0]
    max_inside = [0]
    errs = []
    gate = threading.Barrier(6)

    def writer():
        try:
            gate.wait()
            for _ in range(3):
                with t._write_lock(timeout_s=30.0, stale_s=60.0):
                    inside[0] += 1
                    max_inside[0] = max(max_inside[0], inside[0])
                    time.sleep(0.01)
                    inside[0] -= 1
        except Exception as e:  # noqa: BLE001 — surface in main thread
            errs.append(e)

    ths = [threading.Thread(target=writer) for _ in range(6)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errs
    assert max_inside[0] == 1, f"{max_inside[0]} writers in critical section"
    assert not os.path.exists(lock)
    assert not os.path.exists(lock + ".BREAK")


# ------------------------------------------------ time travel + skipping (r7)


def test_time_travel_reads_each_version(spark, tmp_path):
    """read(version=N) resolves the _history manifest to the exact
    committed file set of version N while files survive retention."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "tt"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(_df(spark, [("p", "1", "a", 1), ("q", "1", "b", 2)]))
    t.upsert_replace_partitions(_df(spark, [("p", "1", "a2", 10)]))
    t.delete_by_keys(_df(spark, [("q", "1", "", 0)]))
    assert _rows(t.read(version=1)) == [("p", "1", "a", 1), ("q", "1", "b", 2)]
    assert _rows(t.read(version=2)) == [("p", "1", "a2", 10), ("q", "1", "b", 2)]
    assert _rows(t.read(version=3)) == [("p", "1", "a2", 10)]
    assert _rows(t.read()) == _rows(t.read(version=3))


def test_history_lists_versions_ops_readability(spark, tmp_path):
    import pytest

    t = merge.KeyedParquetTable(spark, str(tmp_path / "hist"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(_df(spark, [("p", "1", "a", 1)]))
    # SAME row key: the file-level copy-on-write upsert must actually
    # supersede v1's file (a non-colliding key would be a pure append
    # and leave v1 readable forever)
    t.upsert_replace_partitions(_df(spark, [("p", "1", "b", 2)]))
    h = {r["version"]: r for r in t.history().collect()}
    assert h[1]["op"] == "overwrite" and h[2]["op"] == "upsert"
    assert h[1]["readable"] and h[2]["readable"]
    assert h[1]["ts"] <= h[2]["ts"]
    # reap history past retention: v1's superseded file goes away
    t.vacuum(0.0)
    h = {r["version"]: r for r in t.history().collect()}
    assert not h[1]["readable"], "vacuumed version still marked readable"
    with pytest.raises(ValueError, match="no longer readable"):
        t.read(version=1)
    # a version that never existed names itself
    with pytest.raises(ValueError, match="no committed version 99"):
        t.read(version=99)


def test_history_is_a_local_relation(spark, tmp_path, jobs_in):
    """history() is built on the driver, so it is a LocalRelation (no
    RDD scan through Python workers), typed as documented, and
    collecting it runs no Spark job."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "hist_lr"), KEYS)
    t.overwrite(_df(spark, [("p", "1", "a", 1)]))
    t.upsert_replace_partitions(_df(spark, [("q", "2", "b", 2)]))
    h = t.history()
    plan = h._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert h.schema.simpleString() == (
        "struct<version:bigint,ts:double,op:string,n_files:bigint,"
        "readable:boolean>"
    )
    rows, n_jobs = jobs_in("history_lr", h.collect)
    assert [(r.version, r.op, r.n_files) for r in rows] == [
        (1, "overwrite", 1), (2, "upsert", 2)
    ]
    assert n_jobs == 0


def test_unknown_version_raises_before_vacuum(spark, tmp_path):
    import pytest

    t = merge.KeyedParquetTable(spark, str(tmp_path / "nv"), KEYS)
    t.overwrite(_df(spark, [("p", "1", "a", 1)]))
    with pytest.raises(ValueError, match="no committed version"):
        t.read(version=7)


def test_lookup_skips_files_by_footer_stats(spark, tmp_path):
    """Data skipping: two append generations with disjoint row-key
    ranges in ONE partition — a point lookup must plan over exactly
    the file whose footer bounds admit the key, and still return the
    right row."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "skip"), KEYS)
    # generation 1: keys a..c; generation 2: keys x..z (same partition)
    t.overwrite(
        _df(spark, [("p", k, f"g1-{k}", 1) for k in ("a", "b", "c")]).coalesce(1)
    )
    t.upsert_replace_partitions(
        _df(
            spark,
            [("p", k, f"g2-{k}", 2) for k in ("a", "b", "c", "x", "y", "z")],
        ).coalesce(1)
    )
    snap = t._read_snapshot()
    assert snap.get("stats"), "commit recorded no footer stats"
    files = t._lookup_files("p", "y")
    assert files is not None and len(files) >= 1
    # every candidate the index kept must admit 'y' in its bounds
    for f in files:
        s = snap["stats"].get(f)
        if s is not None and s["min"] is not None:
            assert s["min"] <= "y" <= s["max"]
    got = _rows(t.lookup("p", "y"))
    assert got == [("p", "y", "g2-y", 2)]
    # a key outside every file's bounds prunes to zero files, empty result
    assert t._lookup_files("p", "zzz") == []
    assert t.lookup("p", "zzz").count() == 0
    # missing partition prunes to zero files too
    assert t._lookup_files("nope", "a") == []


def test_lookup_null_row_key_uses_null_counts(spark, tmp_path):
    t = merge.KeyedParquetTable(spark, str(tmp_path / "skipnull"), KEYS)
    t.overwrite(
        _df(spark, [("p", "a", "v1", 1), ("p", "b", "v2", 2)]).coalesce(1)
    )
    t.upsert_replace_partitions(
        _df(spark, [("p", None, "vnull", 3), ("p", "a", "v1", 1),
                    ("p", "b", "v2", 2)]).coalesce(1)
    )
    got = _rows(t.lookup("p", None))
    assert got == [("p", None, "vnull", 3)]
    files = t._lookup_files("p", None)
    snap = t._read_snapshot()
    for f in files:
        s = snap["stats"].get(f)
        if s is not None:
            assert s["nulls"] > 0, "null-free file not skipped for NULL probe"


def test_lookup_matches_filtered_read_after_compact(spark, tmp_path):
    """Compaction rewrites files; the skipping index must follow the
    manifest and lookup stays value-identical to the filtered read."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "skipc"), KEYS)
    rows = [("p", f"k{i:02d}", f"v{i}", i) for i in range(20)]
    t.overwrite(_df(spark, rows))
    t.compact()
    want = _rows(
        t.read().filter(
            (F.col("PartitionKey") == "p") & (F.col("RowKey") == "k07")
        )
    )
    assert _rows(t.lookup("p", "k07")) == want == [("p", "k07", "v7", 7)]


def test_clustered_compact_prunes_point_lookup_to_one_file(spark, tmp_path):
    """cluster=True compaction lays each partition out as disjoint
    row-key ranges, so the footer-stats index prunes a point lookup to
    exactly one of the N files."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "zc"), KEYS)
    rows = [("p", f"k{i:03d}", f"v{i}", i) for i in range(100)]
    t.overwrite(_df(spark, rows))
    t.compact(partitions=["p"], files_per_partition=4, cluster=True)
    snap = t._read_snapshot()
    part_files = [f for f in snap["files"] if f.startswith("PartitionKey=p/")]
    assert len(part_files) == 4
    # bounds are pairwise disjoint
    bounds = sorted(
        (snap["stats"][f]["min"], snap["stats"][f]["max"])
        for f in part_files
    )
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 < lo2, f"overlapping file ranges {hi1} !< {lo2}"
    for probe in ("k000", "k037", "k099"):
        assert len(t._lookup_files("p", probe)) == 1, probe
    assert _rows(t.lookup("p", "k037")) == [("p", "k037", "v37", 37)]
    # un-clustered compact keeps values identical too (sanity)
    assert len(_rows(t.read())) == 100


def test_full_table_compact_is_one_commit(spark, tmp_path):
    """r8: whole-table compaction (partitions=None) batches every
    partition into ONE job and ONE manifest version — the per-
    partition loop it replaced committed P versions (443 s for 64
    partitions at the 100x fixture). Values are untouched, every
    partition's small files merge, and with cluster=True each
    partition's footer bounds stay disjoint so point lookups still
    prune to one file."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "batched"), KEYS)
    t.overwrite(
        _df(
            spark,
            [(str(p), f"k{i:03d}", f"v{p}.{i}", p * 100 + i)
             for p in range(6) for i in range(30)],
        ).repartition(8)  # many small files per partition
    )
    v_before = t._read_snapshot()["version"]
    before = _rows(t.read())
    t.compact(cluster=True)
    snap = t._read_snapshot()
    assert snap["version"] == v_before + 1, "must be exactly one commit"
    assert _rows(t.read()) == before
    # tiny table → single output task → one file per partition dir
    for p in range(6):
        part_files = [
            f for f in snap["files"] if f.startswith(f"PartitionKey={p}/")
        ]
        assert len(part_files) == 1, (p, part_files)
    # footer-stats index survives the batched rewrite
    assert len(t._lookup_files("3", "k012")) == 1
    assert _rows(t.lookup("3", "k012")) == [("3", "k012", "v3.12", 312)]


def test_changes_classifies_insert_update_delete(spark, tmp_path):
    """CDC between versions: inserts/updates carry new values, deletes
    the last old ones; rewritten-but-identical rows are dropped; files
    common to both manifests are never read."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "cdc"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(
        _df(
            spark,
            [("p", "1", "keep", 1), ("p", "2", "old", 2), ("q", "1", "qq", 3)],
        )
    )
    # v2: partition p rewritten — row 1 identical, row 2 updated, row 3 new
    t.upsert_replace_partitions(
        _df(spark, [("p", "1", "keep", 1), ("p", "2", "NEW", 2),
                    ("p", "3", "ins", 9)])
    )
    got = sorted(
        (r["PartitionKey"], r["RowKey"], r["val"], r["n"], r["change_type"])
        for r in t.changes(1, 2).collect()
    )
    assert got == [
        ("p", "2", "NEW", 2, "update"),
        ("p", "3", "ins", 9, "insert"),
    ]
    # untouched partition q's file is common to both manifests → the
    # diff plan must not read it
    assert not any("PartitionKey=q" in f for f in t.changes(1, 2).inputFiles())
    # v3: delete a key
    t.delete_by_keys(_df(spark, [("p", "2", "", 0)]))
    got = sorted(
        (r["PartitionKey"], r["RowKey"], r["val"], r["n"], r["change_type"])
        for r in t.changes(2, 3).collect()
    )
    assert got == [("p", "2", "NEW", 2, "delete")]
    # composed 1→3 (to_version defaults to current)
    got = sorted(
        (r["RowKey"], r["change_type"]) for r in t.changes(1).collect()
    )
    assert got == [("2", "delete"), ("3", "insert")]


def test_changes_identical_versions_empty(spark, tmp_path):
    t = merge.KeyedParquetTable(spark, str(tmp_path / "cdc2"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(_df(spark, [("p", "1", "a", 1)]))
    assert t.changes(1, 1).count() == 0
    assert "change_type" in t.changes(1, 1).columns


def test_changes_null_keys_match_null_safely(spark, tmp_path):
    t = merge.KeyedParquetTable(spark, str(tmp_path / "cdc3"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(_df(spark, [("p", None, "a", 1), ("p", "1", "b", 2)]))
    t.upsert_replace_partitions(
        _df(spark, [("p", None, "a2", 1), ("p", "1", "b", 2)])
    )
    got = [
        (r["RowKey"], r["val"], r["change_type"])
        for r in t.changes(1, 2).collect()
    ]
    assert got == [(None, "a2", "update")]


def test_compact_if_targets_only_fragmented_partitions(spark, tmp_path):
    """Maintenance trigger reads the manifest only: partitions above
    the live-file threshold get compacted, the rest are untouched
    (their manifest entries — and files — survive byte-identical)."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "cif"), KEYS)
    # a wide overwrite spreads user 2's 16 rows over 8 tasks (8 files)
    # while quiet's single row lands in one task (1 file ≤ threshold)
    t.overwrite(
        _df(
            spark,
            [("quiet", "a", "x", 1)]
            + [("user 2", str(i), f"v{i}", i) for i in range(16)],
        ).repartition(8)
    )
    snap = t._read_snapshot()
    quiet_before = [f for f in snap["files"] if f.startswith("PartitionKey=quiet/")]
    before = _rows(t.read())
    done = t.compact_if(max_files_per_partition=4)
    assert done == ["user 2"]  # escaped dir name round-trips to the value
    snap2 = t._read_snapshot()
    hot_after = [f for f in snap2["files"] if f.startswith("PartitionKey=user%202/")
                 or f.startswith("PartitionKey=user 2/")]
    assert len(hot_after) == 1
    assert [f for f in snap2["files"] if f.startswith("PartitionKey=quiet/")] == quiet_before
    assert sorted(_rows(t.read())) == sorted(before)
    assert t.compact_if(max_files_per_partition=4) == []  # nothing left to do


def test_expire_history_bounds_metadata_and_fails_loud(spark, tmp_path):
    """Version docs past keep_last are deleted (metadata is O(versions
    x files) otherwise); expired versions stop resolving LOUDLY while
    current reads and surviving versions are untouched."""
    import pytest

    t = merge.KeyedParquetTable(spark, str(tmp_path / "exp"), KEYS)
    t.retain_stale_s = 3600.0
    for i in range(5):
        t.upsert_replace_partitions(_df(spark, [("p", "k", f"v{i}", i)]))
    assert t.history().count() == 5
    dropped = t.expire_history(keep_last=2)
    assert dropped == 3
    assert sorted(r["version"] for r in t.history().collect()) == [4, 5]
    assert _rows(t.read()) == [("p", "k", "v4", 4)]
    assert _rows(t.read(version=4)) == [("p", "k", "v3", 3)]
    with pytest.raises(ValueError, match="version"):
        t.read(version=2)


def test_full_table_compact_single_key_table(spark, tmp_path):
    """r8 review: a single-key table must still compact whole-table
    (both cluster modes) — the batched path can't assume a row key."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "onekey"), ("PartitionKey",))
    df = spark.createDataFrame(
        [(str(p), p * 10 + i) for p in range(3) for i in range(4)],
        "PartitionKey string, n long",
    ).repartition(6)
    t.overwrite(df)
    before = sorted((r["PartitionKey"], r["n"]) for r in t.read().collect())
    t.compact()
    assert sorted((r["PartitionKey"], r["n"]) for r in t.read().collect()) == before
    t.compact(cluster=True)
    assert sorted((r["PartitionKey"], r["n"]) for r in t.read().collect()) == before
    # explicit-partition loop with cluster on a single-key table too
    t.compact(["1"], cluster=True)
    assert sorted((r["PartitionKey"], r["n"]) for r in t.read().collect()) == before


def test_beyond_cap_commit_keeps_skipping_index(spark, tmp_path, monkeypatch):
    """A commit appending more files than the driver-side footer cap
    (e.g. a batched whole-table compact) must fall back to the
    DISTRIBUTED stats pass — losing the skipping index right after
    range-clustering would defeat the clustering."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "cap"), KEYS)
    monkeypatch.setattr(merge.KeyedParquetTable, "_STATS_FILE_CAP", 2)
    t.overwrite(
        _df(spark, [("user 2", f"k{i:03d}", f"v{i}", i) for i in range(100)])
    )
    t.compact(cluster=True, target_file_bytes=1)  # many files, 1 commit
    snap = t._read_snapshot()
    assert len(snap["files"]) > 2  # genuinely beyond the cap
    stats = snap["stats"]
    assert set(stats) == set(snap["files"]), "distributed stats missing"
    assert sum(s["rows"] for s in stats.values()) == 100
    # bounds are real: the point lookup prunes to one file
    assert len(t._lookup_files("user 2", "k042")) == 1
    assert _rows(t.lookup("user 2", "k042")) == [("user 2", "k042", "v42", 42)]


def test_changes_include_preimage_emits_delta_cdf_pair(spark, tmp_path):
    """include_preimage=True: each update fans out into an
    update_preimage row (OLD values) plus the plain update postimage;
    inserts and deletes stay single rows; column order is unchanged
    so unions with preimage-less feeds still line up."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "pre"), keys=("p", "k"))
    t.retain_stale_s = 3600.0
    t.overwrite(
        spark.createDataFrame(
            [(1, 1, "a"), (1, 2, "b"), (2, 3, "c")],
            "p long, k long, v string",
        )
    )
    v0 = t._read_snapshot()["version"]
    # update (1,1)->a2, delete (1,2), insert (2,4)
    t.upsert_replace_partitions(
        spark.createDataFrame([(1, 1, "a2")], "p long, k long, v string")
    )
    t.delete_by_keys(spark.createDataFrame([(1, 2)], "p long, k long"))
    t.upsert_replace_partitions(
        spark.createDataFrame([(2, 4, "d")], "p long, k long, v string")
    )
    plain = {
        (r["p"], r["k"], r["change_type"]): r["v"]
        for r in t.changes(v0).collect()
    }
    pre = {
        (r["p"], r["k"], r["change_type"]): r["v"]
        for r in t.changes(v0, include_preimage=True).collect()
    }
    # the preimage feed is the plain feed PLUS one preimage per update
    # (key types follow the session's partition-column inference —
    # compare via the plain feed's own keys)
    by_type = {kk[2]: kk for kk in plain}
    p1, k1, _ = by_type["update"]
    assert pre == {**plain, (p1, k1, "update_preimage"): "a"}
    assert plain[by_type["update"]] == "a2"
    assert plain[by_type["delete"]] == "b"
    assert plain[by_type["insert"]] == "d"
    # same column order either way (union compatibility)
    assert (
        t.changes(v0, include_preimage=True).columns
        == t.changes(v0).columns
    )


def test_cow_delete_supersedes_only_the_hit_file(spark, tmp_path):
    """File-level copy-on-write (r10): after a clustered compaction
    gives every file a disjoint row-key range, deleting one key must
    rewrite ONLY the file that can contain it — the partition's other
    files stay live under their original names — and a delete of a
    key no file can contain is a physical no-op commit."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "cow"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(
        _df(
            spark,
            [("p", f"{i:03d}", "v", i) for i in range(40)]
            + [("q", "900", "w", 0)],
        )
    )
    # 4 id-clustered files in partition p, disjoint RowKey ranges
    t.compact(partitions=["p"], files_per_partition=4, cluster=True)
    before = set(t._read_snapshot()["files"])
    p_files = sorted(f for f in before if f.startswith("PartitionKey=p/"))
    assert len(p_files) == 4

    t.delete_by_keys(_df(spark, [("p", "001", "", 0)]))
    after = set(t._read_snapshot()["files"])
    superseded = before - after
    # exactly ONE file (the one whose range holds "001") was rewritten
    assert len(superseded) == 1
    assert next(iter(superseded)).startswith("PartitionKey=p/")
    # untouched files survived under their original names
    assert len(before & after) == len(before) - 1
    assert _rows(t.read().filter(F.col("RowKey") == "001")) == []
    assert t.read().count() == 40

    # a key outside every file's bounds: no rewrite, version flips
    v = t._read_snapshot()["version"]
    t.delete_by_keys(_df(spark, [("p", "zzz", "", 0)]))
    snap = t._read_snapshot()
    assert set(snap["files"]) == after
    assert snap["version"] == v + 1
    assert t.read().count() == 40


def test_cow_upsert_rewrites_only_colliding_files(spark, tmp_path):
    """Upsert-replace with stats: replaced keys rewrite their own
    file; brand-new keys are a pure append; clean files stay live."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "cowu"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(_df(spark, [("p", f"{i:03d}", "v", i) for i in range(40)]))
    t.compact(partitions=["p"], files_per_partition=4, cluster=True)
    before = set(t._read_snapshot()["files"])

    t.upsert_replace_partitions(
        _df(spark, [("p", "005", "NEW", 99), ("p", "500", "INS", 1)])
    )
    after = set(t._read_snapshot()["files"])
    superseded = before - after
    assert len(superseded) == 1  # only the file whose range holds 005
    assert len(before & after) == 3
    got = dict(
        (r.RowKey, (r.val, r.n))
        for r in t.read().filter(
            F.col("RowKey").isin("005", "500")
        ).collect()
    )
    assert got == {"005": ("NEW", 99), "500": ("INS", 1)}
    assert t.read().count() == 41


def test_pure_append_upcasts_drifted_batch_to_stored_type(spark, tmp_path):
    """ADVICE r10 (high): a non-colliding batch whose column dtype
    drifted NARROWER than the stored type (int vs bigint) must be
    upcast before the pure append — a verbatim append commits
    mixed-type files and every later mergeSchema read fails with
    CANNOT_MERGE_SCHEMAS (verified on Spark 4.1)."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "drift_narrow"), KEYS)
    t.overwrite(_df(spark, [("p", f"{i:03d}", "v", i) for i in range(20)]))
    t.compact(partitions=["p"], files_per_partition=2, cluster=True)
    # keys far outside every stored file's range → pure-append branch,
    # but n arrives as int where the table stores bigint
    drifted = spark.createDataFrame(
        [("p", "900", "NEW", 1)],
        "PartitionKey string, RowKey string, val string, n int",
    )
    t.upsert_replace_partitions(drifted)
    # the table stays readable and keeps its stored dtype
    out = t.read()
    assert dict(out.dtypes)["n"] == "bigint"
    assert out.count() == 21
    assert _rows(out.filter(F.col("RowKey") == "900")) == [("p", "900", "NEW", 1)]


def test_wider_drift_falls_back_to_coercing_merge_path(spark, tmp_path):
    """ADVICE r10 (high), the widening direction: a batch WIDER than
    the stored type (bigint vs stored int) cannot be losslessly cast
    down, so the verb must take the merge-rewrite path — the touched
    partition is re-coerced at the union-widened type and the table
    stays readable (the exact pre-COW behavior)."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "drift_wide"), KEYS)
    narrow = spark.createDataFrame(
        [("p", f"{i:03d}", "v", i) for i in range(20)],
        "PartitionKey string, RowKey string, val string, n int",
    )
    t.overwrite(narrow)
    t.compact(partitions=["p"], files_per_partition=2, cluster=True)
    wide = spark.createDataFrame(
        [("p", "900", "NEW", 2**40)],
        "PartitionKey string, RowKey string, val string, n long",
    )
    t.upsert_replace_partitions(wide)
    out = t.read()
    assert dict(out.dtypes)["n"] == "bigint"
    assert out.count() == 21
    assert out.filter(F.col("RowKey") == "900").collect()[0].n == 2**40


def test_cow_split_survives_narrow_key_dtype(spark, tmp_path):
    """ADVICE r10: delete keys arriving at a NARROWER dtype than the
    stored RowKey bounds (tinyint keys, bounds past 127) must not
    crash the bounds probe — the frame is typed at the wide family
    type and the probe key upcast to it."""
    ikeys = ("PartitionKey", "RowKey")
    t = merge.KeyedParquetTable(spark, str(tmp_path / "narrowkey"), ikeys)
    t.overwrite(
        spark.createDataFrame(
            [("p", i, "v") for i in range(400)],
            "PartitionKey string, RowKey bigint, val string",
        )
    )
    t.compact(partitions=["p"], files_per_partition=4, cluster=True)
    before = set(t._read_snapshot()["files"])
    tiny = spark.createDataFrame(
        [("p", 5)], "PartitionKey string, RowKey tinyint"
    )
    t.delete_by_keys(tiny)
    after = set(t._read_snapshot()["files"])
    # the COW split still worked: only the one file holding key 5 went
    assert len(before - after) == 1
    assert t.read().count() == 399
    assert t.read().filter(F.col("RowKey") == 5).count() == 0


@contextmanager
def _session_conf(spark, conf: dict):
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cow_bounds_ignore_escaped_string_literals(spark, tmp_path):
    """ADVICE (medium): the COW probe's bounds must not round-trip
    through SQL text. Under spark.sql.parser.escapedStringLiterals a
    bound ``a\b`` written as a SQL literal re-parses as ``a\\b``, the
    file's max shrinks below both keys, the file is classified clean
    and the rewrite is skipped: the upsert leaves the old rows next to
    the new ones, the delete leaves them in place."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "esc"), KEYS)
    keys = ["a\\a", "a\\b"]
    t.overwrite(_df(spark, [("p", k, "old", 0) for k in keys]).coalesce(1))
    (f,) = t._read_snapshot()["files"]
    assert t._read_snapshot()["stats"][f]["max"] == "a\\b"

    with _session_conf(spark, {"spark.sql.parser.escapedStringLiterals": "true"}):
        t.upsert_replace_partitions(_df(spark, [("p", k, "new", 1) for k in keys]))
        assert _rows(t.read()) == [("p", k, "new", 1) for k in keys]
        t.delete_by_keys(_df(spark, [("p", k, "", 0) for k in keys]))
        assert _rows(t.read()) == []


def test_cow_bounds_at_int64_edges_with_ansi_off(spark, tmp_path):
    """Int row keys at +-(2^63-1) with ANSI off: the bounds frame must
    keep both edges exactly (a cast overflow would turn a bound NULL
    and silently clear the file), so both keys are rewritten."""
    edge = 2**63 - 1
    schema = "PartitionKey string, RowKey bigint, val string"
    t = merge.KeyedParquetTable(spark, str(tmp_path / "edge"), KEYS)
    t.overwrite(
        spark.createDataFrame(
            [("p", -edge, "old"), ("p", 0, "old"), ("p", edge, "old")], schema
        ).coalesce(1)
    )

    def rows():
        return sorted((r.RowKey, r.val) for r in t.read().collect())

    with _session_conf(spark, {"spark.sql.ansi.enabled": "false"}):
        t.upsert_replace_partitions(
            spark.createDataFrame([("p", -edge, "new"), ("p", edge, "new")], schema)
        )
        assert rows() == [(-edge, "new"), (0, "old"), (edge, "new")]
        t.delete_by_keys(spark.createDataFrame([("p", edge, "")], schema))
        assert rows() == [(-edge, "new"), (0, "old")]


def test_cow_bound_past_int64_marks_file_hit(spark, tmp_path, monkeypatch):
    """A stats bound the bigint bounds frame cannot hold must fall
    into the conservative path: the file is hit (rewritten), never
    silently cleared."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "past"), KEYS)
    t.overwrite(
        spark.createDataFrame(
            [("p", 5, "v")], "PartitionKey string, RowKey bigint, val string"
        ).coalesce(1)
    )
    snap = t._read_snapshot()
    (f,) = snap["files"]
    stats = {f: {**snap["stats"][f], "max": 2**63}}
    monkeypatch.setattr(t, "_read_snapshot", lambda: {**snap, "stats": stats})
    keys = spark.createDataFrame([("p", 7)], "PartitionKey string, RowKey bigint")
    assert t._cow_split(keys, ["p"], has_null=False) == ([f], [])


def test_read_without_live_files_runs_no_job(spark, tmp_path, jobs_in):
    """read_partitions / lookup of values no live file holds, on a
    table past the 32-path parallel-listing threshold: zero rows,
    typed as read() types the table, and zero Spark jobs — a filtered
    full read would first list every live file in a Spark job."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "many"), KEYS)
    t.overwrite(
        spark.range(40)
        .selectExpr(
            "cast(id as string) AS PartitionKey",
            "cast(id * 7 as string) AS RowKey",
            "'v' AS val",
            "id AS n",
        )
        .repartition(40, "PartitionKey")
    )
    assert len(t._read_snapshot()["files"]) > 32
    schema = t.read().schema
    for tag, read in (
        ("empty_read_partitions", lambda: t.read_partitions(["nope", None])),
        ("empty_lookup", lambda: t.lookup("nope", "0")),
    ):
        df, build_jobs = jobs_in(tag, read)
        rows, collect_jobs = jobs_in(f"{tag}_collect", df.collect)
        assert rows == []
        assert df.schema == schema
        assert build_jobs == collect_jobs == 0, (
            f"{tag} ran {build_jobs} + {collect_jobs} Spark job(s)"
        )


def test_upsert_pins_nondeterministic_batch(spark, tmp_path):
    """ADVICE r10: a nondeterministic incoming plan (rand-derived
    keys) must be pinned before the COW split — otherwise the write
    re-evaluates to DIFFERENT keys that can collide with files the
    split already proved clean, committing duplicate keys."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "nondet"), KEYS)
    t.overwrite(_df(spark, [("p", f"{i:04d}", "old", i) for i in range(1000)]))
    t.compact(partitions=["p"], files_per_partition=8, cluster=True)
    nondet = (
        spark.range(500)
        .select(
            F.lit("p").alias("PartitionKey"),
            F.format_string(
                "%04d", (F.rand() * 2000).cast("int")
            ).alias("RowKey"),
            F.lit("new").alias("val"),
            F.lit(-1).cast("long").alias("n"),
        )
    )
    t.upsert_replace_partitions(nondet)
    dupes = (
        t.read()
        .groupBy("PartitionKey", "RowKey")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


# ---------------------------------------------------------- manifest v2


def test_manifest_v2_delta_chain_and_checkpoints(spark, tmp_path):
    """Manifest layout v2 (r11): commits write O(batch) DELTA docs
    (add/remove/add_stats — never the full file list); checkpoints
    appear only at the policy points; and the reconstructed state
    (checkpoint + tail deltas) matches a brute-force fold of every
    delta from v1."""
    import json
    import os

    path = str(tmp_path / "v2chain")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("p", f"{i:03d}", "v", i) for i in range(40)]))
    t.compact(partitions=["p"], files_per_partition=4, cluster=True)
    for i in range(6):
        t.upsert_replace_partitions(
            _df(spark, [("p", f"{500 + i:03d}", "x", i)])
        )
    snap = t._read_snapshot()
    hist = os.path.join(path, "_history")
    # the steady-state (small-batch) commits are deltas, not rewrites
    small_deltas = 0
    for n in sorted(os.listdir(hist)):
        if not (n.startswith("v") and n.endswith(".json")):
            continue
        with open(os.path.join(hist, n)) as f:
            doc = json.load(f)
        assert "files" not in doc, f"{n} is a full manifest, not a delta"
        if len(doc["add"]) + len(doc["remove"]) <= 2:
            small_deltas += 1
    assert small_deltas >= 6  # each single-key upsert = tiny delta
    # pointer is small and carries no file list
    with open(os.path.join(path, "_SNAPSHOT")) as f:
        pointer = json.load(f)
    assert pointer["format"] == 2 and "files" not in pointer
    assert pointer["n_files"] == len(snap["files"])
    assert pointer["checkpoints"], "no checkpoint written"
    # brute-force fold of every delta from v1 == reconstructed state
    files, stats = [], {}
    for v in range(1, snap["version"] + 1):
        with open(os.path.join(hist, f"v{v}.json")) as f:
            d = json.load(f)
        files, stats = merge._apply_manifest_delta(files, stats, d)
    assert sorted(files) == sorted(snap["files"])
    assert set(stats) == set(snap["stats"])
    # and the data itself is right
    assert t.read().count() == 46


def test_manifest_v2_reader_reconstructs_without_cache(spark, tmp_path):
    """A COLD reader (fresh table object, cache dropped) must
    reconstruct the same state from checkpoint + tail deltas."""
    path = str(tmp_path / "v2cold")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("p", f"{i:03d}", "v", i) for i in range(20)]))
    for i in range(5):
        t.delete_by_keys(_df(spark, [("p", f"{i:03d}", "", 0)]))
    warm = t._read_snapshot()
    with merge._STATE_CACHE_LOCK:
        merge._STATE_CACHE.pop(path, None)
    t2 = merge.KeyedParquetTable(spark, path, KEYS)
    cold = t2._read_snapshot()
    assert cold["version"] == warm["version"]
    assert sorted(cold["files"]) == sorted(warm["files"])
    assert cold["stats"] == warm["stats"]
    assert t2.read().count() == 15


def test_manifest_v1_pointer_is_refused(spark, tmp_path):
    """A v1 manifest (a full-file-list _SNAPSHOT + absolute
    per-version docs) is a format no code here writes: read() and a
    verb refuse it instead of guessing at the table, and no file is
    deleted."""
    import json
    import os

    import pytest

    path = str(tmp_path / "v1up")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("p", "001", "a", 1), ("q", "002", "b", 2)]))
    # rewrite the manifests into v1 shape (full docs)
    snap = t._read_snapshot()
    v1_doc = {
        "version": snap["version"],
        "files": snap["files"],
        "retired": [],
        "stats": snap["stats"],
    }
    with open(os.path.join(path, "_SNAPSHOT"), "w") as f:
        json.dump(v1_doc, f)
    hist = os.path.join(path, "_history")
    for n in os.listdir(hist):
        os.remove(os.path.join(hist, n))
    with open(os.path.join(hist, f"v{snap['version']}.json"), "w") as f:
        json.dump({**v1_doc, "ts": 0.0, "op": "overwrite"}, f)
    with merge._STATE_CACHE_LOCK:
        merge._STATE_CACHE.pop(path, None)
    on_disk = sorted(
        os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns
    )
    t2 = merge.KeyedParquetTable(spark, path, KEYS)
    with pytest.raises(ValueError, match="not a format-2 pointer"):
        t2.read()
    with pytest.raises(ValueError, match="not a format-2 pointer"):
        t2.upsert_replace_partitions(_df(spark, [("p", "003", "c", 3)]))
    assert on_disk == sorted(
        os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns
    )


def test_expire_history_v2_materializes_horizon_checkpoint(spark, tmp_path):
    """expire_history on a v2 delta chain must write a checkpoint at
    the oldest KEPT version before dropping older deltas — kept
    versions stay reconstructable, dropped ones fail loudly."""
    import os
    import pytest

    path = str(tmp_path / "v2exp")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(_df(spark, [("p", "000", "v", 0)]))
    for i in range(1, 12):
        t.upsert_replace_partitions(_df(spark, [("p", f"{i:03d}", "v", i)]))
    cur = t._read_snapshot()["version"]
    dropped = t.expire_history(keep_last=4)
    assert dropped == cur - 4
    horizon = cur - 4 + 1
    assert os.path.exists(
        os.path.join(path, "_history", f"ckpt_v{horizon}.json")
    )
    # kept versions reconstruct; expired ones raise
    for v in range(horizon, cur + 1):
        assert t.read(version=v).count() == v
    with pytest.raises(ValueError):
        t.read(version=horizon - 1)
    # stale checkpoints below the horizon are gone from the pointer
    import json

    with open(os.path.join(path, "_SNAPSHOT")) as f:
        pointer = json.load(f)
    assert all(c >= horizon for c in pointer["checkpoints"])


def test_orphans_reaped_at_checkpoint_and_vacuum(spark, tmp_path):
    """v2 keeps the O(batch) commit path free of full-table walks:
    crashed-writer orphans (invisible to readers) are reaped at
    checkpoint commits and vacuum, not on every tiny delta commit."""
    import os

    path = str(tmp_path / "v2orph")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("p", f"{i:03d}", "v", i) for i in range(8)]))
    # simulate a crashed writer: data file appended, never committed
    _df(spark, [("q", "900", "orphan", 0)]).write.mode("append").partitionBy(
        "PartitionKey"
    ).parquet(path)
    orphan_dir = os.path.join(path, "PartitionKey=q")
    assert os.path.isdir(orphan_dir)
    # a small delta commit does NOT walk the table → orphan survives,
    # and stays invisible to reads
    t.upsert_replace_partitions(_df(spark, [("p", "100", "x", 1)]))
    assert os.path.isdir(orphan_dir)
    assert t.read().filter(F.col("PartitionKey") == "q").count() == 0
    t.vacuum()
    assert not os.path.isdir(orphan_dir)


# ---------------------------------------- r12: lock fence + manifest hygiene


def test_broken_lock_fences_commit_flip(spark, tmp_path):
    """r11 verdict item 3 — writer A stalls past stale_s, B breaks the
    lock and commits; A's own manifest flip must RAISE instead of
    clobbering B's version (A's work files become orphans for the next
    checkpoint/vacuum to reap)."""
    import os
    import time

    import pytest

    path = str(tmp_path / "fence")
    tA = merge.KeyedParquetTable(spark, path, KEYS)
    tB = merge.KeyedParquetTable(spark, path, KEYS)
    tA.overwrite(_df(spark, [("p", "001", "a", 1)]))
    lock = path + "._WRITE_LOCK"

    cmA = tA._write_lock()
    cmA.__enter__()
    try:
        # A stalls: backdate its lock past B's stale_s horizon
        past = time.time() - 7200
        os.utime(lock, (past, past))
        # B breaks A's stale lock, acquires, commits, releases
        tB.upsert_replace_partitions(_df(spark, [("p", "002", "b", 2)]))
        v_after_B = tB._read_snapshot()["version"]
        # A wakes up and tries to flip its own commit → fenced
        snap = tA._read_snapshot()
        with pytest.raises(RuntimeError, match="broken as stale"):
            tA._commit_snapshot(list(snap["files"]), op="upsert")
    finally:
        cmA.__exit__(None, None, None)
    # A's token-verified release left the (absent) lock alone and its
    # aborted commit advanced nothing: B's version is the table's state
    t2 = merge.KeyedParquetTable(spark, path, KEYS)
    assert t2._read_snapshot()["version"] == v_after_B
    assert _rows(t2.read()) == [("p", "001", "a", 1), ("p", "002", "b", 2)]
    # and the table is still writable afterwards
    t2.upsert_replace_partitions(_df(spark, [("p", "003", "c", 3)]))
    assert t2.read().count() == 3


def test_expire_history_never_adopts_orphan_checkpoint(spark, tmp_path):
    """ADVICE r11 (medium) — a crashed writer's ckpt_v{N}.json that the
    pointer never referenced must NOT be promoted into the pointer's
    checkpoint list by expire_history: its content can disagree with
    the retried commit at the same version, and adopting it would let
    _fold_state reconstruct ghost/missing rows."""
    import json
    import os

    path = str(tmp_path / "orphckpt")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(_df(spark, [("p", "000", "v", 0)]))
    for i in range(1, 10):
        t.upsert_replace_partitions(_df(spark, [("p", f"{i:03d}", "v", i)]))
    snap = t._read_snapshot()
    cur = snap["version"]
    referenced = set(snap["checkpoints"])
    # plant a POISONED orphan checkpoint at an unreferenced version
    victim = max(v for v in range(2, cur + 1) if v not in referenced)
    poison = os.path.join(path, "_history", f"ckpt_v{victim}.json")
    with open(poison, "w") as f:
        json.dump(
            {"version": victim, "files": ["PartitionKey=p/GHOST.parquet"],
             "stats": {}},
            f,
        )
    t.expire_history(keep_last=3)
    with open(os.path.join(path, "_SNAPSHOT")) as f:
        pointer = json.load(f)
    assert victim not in pointer["checkpoints"], "orphan ckpt adopted"
    assert not os.path.exists(poison), "orphan ckpt file not reaped"
    # cold reconstruction stays correct for every surviving version
    with merge._STATE_CACHE_LOCK:
        merge._STATE_CACHE.pop(path, None)
    t2 = merge.KeyedParquetTable(spark, path, KEYS)
    assert t2.read().count() == 10
    horizon = min(v for v in range(1, cur + 1)
                  if os.path.exists(os.path.join(path, "_history",
                                                 f"v{v}.json")))
    for v in range(horizon, cur + 1):
        assert t2.read(version=v).count() == v


def test_noncheckpoint_retry_leaves_orphan_ckpt_unadopted(spark, tmp_path):
    """ADVICE r12 (medium, merge.py:1216) — the crash-retry path must
    NOT delete a same-version ckpt_v{N}.json: with a broken stale lock
    that file may be the SUCCESSOR's pointer-referenced checkpoint, and
    deleting it strands readers (unreconstructable after
    expire_history). The dead-writer orphan it was meant to clean is
    already harmless: _fold_state adopts only pointer-referenced
    checkpoints, and expire_history reaps unreferenced ckpt files."""
    import json
    import os

    path = str(tmp_path / "retryckpt")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("p", "000", "v", 0)]))
    t.upsert_replace_partitions(_df(spark, [("p", "001", "v", 1)]))
    cur = t._read_snapshot()["version"]
    nxt = cur + 1
    assert nxt % merge.KeyedParquetTable._CKPT_EVERY != 0, "pick another N"
    torn = os.path.join(path, "_history", f"ckpt_v{nxt}.json")
    with open(torn, "w") as f:
        json.dump({"version": nxt, "files": ["PartitionKey=p/TORN.parquet"],
                   "stats": {}}, f)
    # the "retry": a small commit at exactly version nxt, no checkpoint
    t.upsert_replace_partitions(_df(spark, [("p", "002", "v", 2)]))
    assert t._read_snapshot()["version"] == nxt
    # the orphan survives the retry (no racy delete) ...
    assert os.path.exists(torn), "retry must not delete same-version ckpt"
    # ... but is inert: never pointer-referenced, never adopted
    assert nxt not in (t._read_snapshot().get("checkpoints") or [])
    assert t.read().count() == 3
    with merge._STATE_CACHE_LOCK:  # force a real fold, not a cache hit
        merge._STATE_CACHE.pop(path, None)
    assert {r["RowKey"] for r in t.read(version=nxt).collect()} == {
        "000", "001", "002"
    }, "fold base must ignore the unreferenced orphan checkpoint"
    # expire_history (the sanctioned reaper): the orphan's content is
    # atomically replaced by the legit materialized horizon checkpoint
    # (never adopted as-is), which the pointer then references
    t.expire_history(keep_last=1)
    with open(torn) as f:
        ck = json.load(f)
    assert "PartitionKey=p/TORN.parquet" not in ck["files"]
    assert nxt in (t._read_snapshot().get("checkpoints") or [])
    assert t.read(version=nxt).count() == 3


def test_state_cache_lineage_rejects_same_path_rebuild(spark, tmp_path):
    """ADVICE r11 (low) — (path, version) alone cannot tell a rebuilt
    table from the one that populated the cache: delete + rebuild at
    the same path colliding on an exact version number must NOT serve
    the old lineage's file list."""
    import json
    import os
    import shutil

    path = str(tmp_path / "lineage")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("p", "001", "OLD", 1)]))
    t.upsert_replace_partitions(_df(spark, [("p", "002", "OLD", 2)]))
    with open(os.path.join(path, "_SNAPSHOT")) as f:
        lin_old = json.load(f)["lineage"]
    assert lin_old
    v_old = t._read_snapshot()["version"]  # populates the cache
    # out-of-band rebuild at the same path, driven to the SAME version
    shutil.rmtree(path)
    t2 = merge.KeyedParquetTable(spark, path, KEYS)
    t2.overwrite(_df(spark, [("p", "001", "NEW", 1)]))
    t2.upsert_replace_partitions(_df(spark, [("p", "002", "NEW", 2)]))
    with open(os.path.join(path, "_SNAPSHOT")) as f:
        ptr = json.load(f)
    assert ptr["version"] == v_old, "fixture must collide on version"
    assert ptr["lineage"] != lin_old, "rebuild must mint a new lineage"
    # a reader holding the OLD cache entry must reconstruct, not reuse
    with merge._STATE_CACHE_LOCK:
        assert merge._STATE_CACHE[path]["lineage"] == ptr["lineage"]
    t3 = merge.KeyedParquetTable(spark, path, KEYS)
    assert sorted(r.val for r in t3.read().collect()) == ["NEW", "NEW"]


def test_state_cache_is_lru_not_fifo(spark, tmp_path):
    """ADVICE r11 (low) — a HOT table re-read between inserts must
    survive eviction; the coldest entry goes instead."""
    with merge._STATE_CACHE_LOCK:
        saved = dict(merge._STATE_CACHE)
        merge._STATE_CACHE.clear()
    try:
        hot = merge.KeyedParquetTable(spark, str(tmp_path / "hot"), KEYS)
        entry = {"version": 7, "files": [], "stats": {}}
        with merge._STATE_CACHE_LOCK:
            merge._STATE_CACHE[hot.path] = entry
            for i in range(merge._STATE_CACHE_MAX - 1):
                merge._STATE_CACHE[f"/cold/{i}"] = {
                    "version": 1, "files": [], "stats": {}
                }
        # a cache HIT must move the hot entry to the end (MRU);
        # lineage passed explicitly — the no-lineage sentinel BYPASSES
        # the cache by design (it cannot validate the entry)
        assert hot._state_at(7, lineage=None) is entry
        with merge._STATE_CACHE_LOCK:
            merge._STATE_CACHE["/cold/new-a"] = {
                "version": 1, "files": [], "stats": {}
            }
            while len(merge._STATE_CACHE) > merge._STATE_CACHE_MAX:
                merge._STATE_CACHE.pop(next(iter(merge._STATE_CACHE)))
            assert hot.path in merge._STATE_CACHE, "hot entry evicted (FIFO)"
            assert "/cold/0" not in merge._STATE_CACHE, "LRU entry kept"
    finally:
        with merge._STATE_CACHE_LOCK:
            merge._STATE_CACHE.clear()
            merge._STATE_CACHE.update(saved)


def test_murmur3_preimages_match_spark_hash(spark):
    """The batched compact's exactness rests on _murmur3_int being
    bit-identical to Spark's Murmur3Hash over IntegerType (seed 42) —
    pin it against F.hash itself, and pin the preimage property."""
    rows = (
        spark.range(0, 512)
        .select(F.hash(F.col("id").cast("int")).alias("h"), "id")
        .collect()
    )
    for r in rows:
        assert r.h == merge._murmur3_int(r.id)
    for s in (1, 7, 32, 257):
        xs = merge._hash_slot_preimages(s)
        assert len(xs) == s
        for g, x in enumerate(xs):
            assert merge._murmur3_int(x) % s == g


def test_multi_partition_exact_compact_is_one_commit(spark, tmp_path):
    """r11 verdict item 1 — the exact-count cluster-compact over MANY
    partitions must be ONE Spark-job layout and ONE manifest flip,
    with the exact per-partition file count and value identity the
    per-partition loop guaranteed."""
    import os

    path = str(tmp_path / "batchcmp")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    parts = [f"b{i:02d}" for i in range(12)]
    data = [
        (p, f"{j:04d}", f"v{p}{j}", j) for p in parts for j in range(40)
    ]
    t.overwrite(_df(spark, data))
    # fragment: several upsert rounds leave many files per partition
    for r in range(2):
        t.upsert_replace_partitions(
            _df(spark, [(p, f"{900 + r:04d}", "x", r) for p in parts])
        )
    before_rows = _rows(t.read())
    v_before = t._read_snapshot()["version"]
    t.compact(partitions=parts, files_per_partition=3, cluster=True)
    snap = t._read_snapshot()
    assert snap["version"] == v_before + 1, "must be exactly ONE commit"
    counts: dict[str, int] = {}
    for f in snap["files"]:
        d = f.split("/", 1)[0]
        counts[d] = counts.get(d, 0) + 1
    assert counts == {
        f"PartitionKey={p}": 3 for p in parts
    }, f"exact-count contract broken: {counts}"
    # value identity (layout-only operation)
    assert _rows(t.read()) == before_rows
    # range-disjoint clustering holds: every file carries footer stats
    # and a point lookup prunes to one file
    hits = t._lookup_files("b03", "0007")
    assert hits is not None and len(hits) == 1
    # the retired fragments are gone from disk (0-retention default)
    on_disk = {
        os.path.join(d, f)
        for d in os.listdir(path)
        if d.startswith("PartitionKey=")
        for f in os.listdir(os.path.join(path, d))
    }
    live_names = {f for f in snap["files"]}
    assert {f for f in on_disk if f.endswith(".parquet")} == live_names


def test_batched_compact_partitions_none_with_exact_count(spark, tmp_path):
    """partitions=None + files_per_partition — the ann_scale shape —
    must target every manifest partition in the one batched pass."""
    path = str(tmp_path / "batchall")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(
        _df(
            spark,
            [(f"p{i}", f"{j:03d}", "v", j) for i in range(4) for j in range(9)],
        )
    )
    t.upsert_replace_partitions(
        _df(spark, [(f"p{i}", "999", "x", 1) for i in range(4)])
    )
    v0 = t._read_snapshot()["version"]
    t.compact(partitions=None, files_per_partition=2, cluster=True)
    snap = t._read_snapshot()
    assert snap["version"] == v0 + 1
    counts: dict[str, int] = {}
    for f in snap["files"]:
        d = f.split("/", 1)[0]
        counts[d] = counts.get(d, 0) + 1
    assert counts == {f"PartitionKey=p{i}": 2 for i in range(4)}
    assert t.read().count() == 40


def test_batched_compact_tiny_partition_caps_at_row_count(spark, tmp_path):
    """A partition with fewer rows than the requested file count gets
    one file per row, never an empty file — the old
    repartitionByRange behavior."""
    path = str(tmp_path / "tinypart")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(
        _df(
            spark,
            [("big", f"{j:03d}", "v", j) for j in range(20)]
            + [("tiny", "001", "v", 1), ("tiny", "002", "v", 2)],
        )
    )
    t.compact(partitions=["big", "tiny"], files_per_partition=4,
              cluster=True)
    counts: dict[str, int] = {}
    for f in t._read_snapshot()["files"]:
        d = f.split("/", 1)[0]
        counts[d] = counts.get(d, 0) + 1
    assert counts["PartitionKey=big"] == 4
    assert counts["PartitionKey=tiny"] == 2
    assert t.read().count() == 22


def test_batched_compact_strided_tasks_keep_exact_counts(
    spark, tmp_path, monkeypatch
):
    """When total slots exceed the task cap, slots stride across
    tasks as g mod T. Two slots of one partition are consecutive ids
    at distance < n <= T, so they never share a task — exact counts
    and range-disjoint clustering must survive multi-slot tasks."""
    monkeypatch.setattr(merge.KeyedParquetTable, "_COMPACT_MAX_TASKS", 5)
    path = str(tmp_path / "stride")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    parts = [f"s{i:02d}" for i in range(9)]
    t.overwrite(
        _df(
            spark,
            [(p, f"{j:04d}", "v", j) for p in parts for j in range(30)],
        )
    )
    before_rows = _rows(t.read())
    v0 = t._read_snapshot()["version"]
    # 9 partitions x 4 slots = 36 slots over T = max(4, 5) = 5 tasks
    t.compact(partitions=parts, files_per_partition=4, cluster=True)
    snap = t._read_snapshot()
    assert snap["version"] == v0 + 1
    counts: dict[str, int] = {}
    for f in snap["files"]:
        d = f.split("/", 1)[0]
        counts[d] = counts.get(d, 0) + 1
    assert counts == {f"PartitionKey={p}": 4 for p in parts}
    assert _rows(t.read()) == before_rows
    # clustering survives the stride: point lookups prune to one file
    hits = t._lookup_files("s04", "0017")
    assert hits is not None and len(hits) == 1


def test_batched_compact_hostile_partition_values(spark, tmp_path):
    """The batched compact joins rows to their layout row on
    CAST(pk AS STRING) against the unescaped directory value — pin
    the round-trip for the hostile cases: NULL (Hive default
    partition, null-safe join), spaces, '=' and ':' (Hive-escaped
    dirs), and non-ASCII."""
    path = str(tmp_path / "hostileparts")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    parts = ["a b", "x=y", "u:v", "ünïcode", None]
    data = [(p, f"{j:03d}", "v", j) for p in parts for j in range(10)]
    t.overwrite(_df(spark, data))

    def rows_nullsafe(df):
        return sorted(
            ((r.PartitionKey or "", r.PartitionKey is None, r.RowKey,
              r.val, r.n) for r in df.collect())
        )

    before_rows = rows_nullsafe(t.read())
    v0 = t._read_snapshot()["version"]
    t.compact(partitions=parts, files_per_partition=2, cluster=True)
    snap = t._read_snapshot()
    assert snap["version"] == v0 + 1
    counts: dict[str, int] = {}
    for f in snap["files"]:
        d = f.split("/", 1)[0]
        counts[d] = counts.get(d, 0) + 1
    assert sorted(counts.values()) == [2] * 5, counts
    assert "PartitionKey=__HIVE_DEFAULT_PARTITION__" in counts
    assert rows_nullsafe(t.read()) == before_rows


def test_batched_compact_int_partition_key(spark, tmp_path):
    """Integer partition keys: compact(partitions=[ints]) must target
    the right directories through the string round-trip."""
    path = str(tmp_path / "intpk")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    df = spark.createDataFrame(
        [(i % 3, f"{j:03d}", j) for i in range(3) for j in range(12)],
        "PartitionKey int, RowKey string, n long",
    )
    t.overwrite(df)
    rows_before = sorted(
        (r.PartitionKey, r.RowKey, r.n) for r in t.read().collect()
    )
    t.compact(partitions=[0, 2], files_per_partition=2, cluster=True)
    counts: dict[str, int] = {}
    for f in t._read_snapshot()["files"]:
        d = f.split("/", 1)[0]
        counts[d] = counts.get(d, 0) + 1
    assert counts["PartitionKey=0"] == 2
    assert counts["PartitionKey=2"] == 2
    assert sorted(
        (r.PartitionKey, r.RowKey, r.n) for r in t.read().collect()
    ) == rows_before


def test_fence_aborts_before_delta_write_after_slow_stats(
    spark, tmp_path, monkeypatch
):
    """The re-fence must sit AFTER the footer-stats step and BEFORE
    the delta write: a lock broken while stats ran (the one long step
    inside _commit_snapshot) must abort with the successor's delta
    doc left untouched — not just the pointer flip."""
    import json
    import os

    import pytest

    path = str(tmp_path / "fencedelta")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("p", "001", "a", 1)]))
    lock = path + "._WRITE_LOCK"
    cur_v = t._read_snapshot()["version"]
    # the successor's committed delta at the version our stalled
    # writer is about to (wrongly) reuse
    marker = {"format": 2, "version": cur_v + 1, "ts": 0.0,
              "op": "SUCCESSOR", "add": [], "remove": [],
              "add_stats": {}}
    delta_path = os.path.join(path, "_history", f"v{cur_v + 1}.json")

    real_stats = merge.KeyedParquetTable._file_stats

    def slow_stats(self, rel):
        # mid-stats, the lock ages stale, a breaker removes it, a
        # successor acquires + commits version cur_v+1 + releases
        if os.path.exists(lock):
            os.remove(lock)
        with open(delta_path, "w") as f:
            json.dump(marker, f)
        return real_stats(self, rel)

    monkeypatch.setattr(merge.KeyedParquetTable, "_file_stats", slow_stats)
    with pytest.raises(RuntimeError, match="broken as stale"):
        t.upsert_replace_partitions(_df(spark, [("p", "002", "b", 2)]))
    monkeypatch.setattr(merge.KeyedParquetTable, "_file_stats", real_stats)
    # the successor's delta doc survived our aborted writer
    with open(delta_path) as f:
        assert json.load(f)["op"] == "SUCCESSOR"


def test_compact_layout_mismatch_aborts_loudly(spark, tmp_path, monkeypatch):
    """Data-safety regression for the row-conserving layout join: if
    the partition-value string round-trip ever disagreed, compact
    must RAISE before any file retires — never silently drop the
    partition's rows."""
    import pytest

    path = str(tmp_path / "layoutguard")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.overwrite(_df(spark, [("p", f"{j:03d}", "v", j) for j in range(10)]))
    before = _rows(t.read())
    v0 = t._read_snapshot()["version"]
    monkeypatch.setattr(
        merge.KeyedParquetTable,
        "_partition_value_of_dir",
        lambda self, d: "WRONG-VALUE",
    )
    # Spark 4 surfaces the executor-side assert as a wrapped runtime
    # exception — match on OUR message, not the wrapper type
    with pytest.raises(Exception, match="string round-trip"):
        t.compact(partitions=["p"], files_per_partition=2, cluster=True)
    monkeypatch.undo()
    assert t._read_snapshot()["version"] == v0, "aborted compact committed"
    assert _rows(t.read()) == before


def test_single_key_compact_layout_is_content_deterministic(spark, tmp_path):
    """ADVICE r12 (low, merge.py:2375) — a single-key table's layout
    window orders by pk alone, an all-ties key, so slot assignment was
    recomputation-dependent (stage retry after a shuffle-fetch failure
    could duplicate/drop rows mid-rewrite). With the content-hash
    tiebreaker the layout is a pure function of row content: each
    output file must hold exactly the contiguous chunk of rows sorted
    by (pk, xxhash64(all columns)) — verified here against an
    independent recomputation of that ordering."""
    import os

    path = str(tmp_path / "skey")
    t = merge.KeyedParquetTable(spark, path, keys=("k",))
    data = [("p", f"v{i % 23}", i % 17) for i in range(60)]  # dup rows too
    df = spark.createDataFrame(data, "k string, val string, n long")
    t.overwrite(df)

    # independent recomputation of the content-defined layout
    pre = t._read_rels(spark, list(t._read_snapshot()["files"]))
    cols = [F.col(f.name) for f in pre.schema.fields]
    ranked = [
        (r["val"], r["n"])
        for r in pre.withColumn("__h", F.xxhash64(*cols))
        .orderBy(F.col("k"), F.col("__h"))
        .collect()
    ]
    cnt, nf = len(ranked), 4
    expected = sorted(
        sorted(ranked[(s * cnt) // nf:((s + 1) * cnt) // nf])
        for s in range(nf)
    )

    t.compact(partitions=["p"], files_per_partition=nf)
    files = sorted(t._read_snapshot()["files"])
    assert len(files) == nf
    got = sorted(
        sorted(
            (r["val"], r["n"])
            for r in spark.read.parquet(os.path.join(path, f)).collect()
        )
        for f in files
    )
    assert got == expected


def test_oversized_partition_auto_diverts_from_window_funnel(spark, tmp_path):
    """r12 verdict item 3 — a partition ≥10× its siblings must not
    funnel through one window task: above compact_funnel_max_bytes its
    layout takes the sampled-range sub-pass (K>1 chunk tasks) while
    exact per-partition file counts, value identity, and the ONE
    atomic commit stay exactly as the funnel produced them."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "divert"), KEYS)
    hot = [("hot", f"{i:05d}", f"pay{i % 101}", i) for i in range(5000)]
    cold = [("c1", f"{i:03d}", "v", i) for i in range(400)] + [
        ("c2", f"{i:03d}", "v", i) for i in range(400)
    ]
    t.overwrite(_df(spark, hot + cold))
    v0 = t._read_snapshot()["version"]
    # force the divert for the hot partition only
    sizes = t._data_file_sizes()
    hot_bytes = sum(
        sz for f, sz in sizes.items() if f.startswith("PartitionKey=hot/")
    )
    c1_bytes = sum(
        sz for f, sz in sizes.items() if f.startswith("PartitionKey=c1/")
    )
    t.compact_funnel_max_bytes = max(c1_bytes + 1, hot_bytes // 4)
    assert hot_bytes > t.compact_funnel_max_bytes > c1_bytes

    t.compact(
        partitions=["hot", "c1", "c2"], files_per_partition=4, cluster=True
    )

    st = t.last_compact_stats
    assert st["diverted_dirs"] == ["PartitionKey=hot"]
    assert st["range_chunks"] >= 2, "divert must spread the sort over >1 task"
    snap = t._read_snapshot()
    assert snap["version"] == v0 + 1, "one commit for the whole pass"
    files = snap["files"]
    for d in ("hot", "c1", "c2"):
        got = len([f for f in files if f.startswith(f"PartitionKey={d}/")])
        assert got == 4, f"exact count broken for {d}: {got}"
    assert _rows(t.read()) == _rows(_df(spark, hot + cold))
    # clustered layout: the diverted partition's files still carry
    # range-disjoint row keys (slots are rank-contiguous), so a point
    # lookup prunes to one file
    import os

    bounds = []
    for f in sorted(
        f for f in files if f.startswith("PartitionKey=hot/")
    ):
        keys = [
            r["RowKey"]
            for r in spark.read.parquet(
                os.path.join(t.path, f)
            ).select("RowKey").collect()
        ]
        bounds.append((min(keys), max(keys)))
    bounds.sort()
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2, f"overlapping ranges: {(lo1, hi1)} vs {(lo2, hi2)}"



@pytest.mark.parametrize("arrow_max", [0, merge._ARROW_MAX_ROWS])
def test_empty_string_partition_is_the_null_partition(
    spark, tmp_path, monkeypatch, arrow_max
):
    """Spark's writer files an empty-string PartitionKey under the NULL
    partition directory, so it reads back NULL. An upsert into an
    existing table keeps such a row (it was left in an uncommitted
    file and lost), and a delete of the same key finds it — on the
    Spark path (bound 0) and on the Arrow path."""
    monkeypatch.setattr(merge, "_ARROW_MAX_ROWS", arrow_max)
    t = merge.KeyedParquetTable(spark, str(tmp_path / "emptypk"), KEYS)
    t.overwrite(_df(spark, [("a", "k0", "x", 0)]))
    t.upsert_replace_partitions(
        _df(spark, [("", "k1", "y", 1), ("b", "k2", "z", 2)])
    )
    got = sorted((r.RowKey, r.PartitionKey) for r in t.read().collect())
    assert got == [("k0", "a"), ("k1", None), ("k2", "b")]
    assert not t.partition_is_empty(None)
    t.delete_by_keys(_df(spark, [("", "k1", "", 0)]))
    assert sorted(r.RowKey for r in t.read().collect()) == ["k0", "k2"]
    assert t.partition_is_empty(None)


def test_partition_is_empty_reads_the_manifest(spark, tmp_path, jobs_in):
    """The I2 gate answers from the manifest's footer stats at zero
    Spark jobs; a partition whose files carry no stats still gets the
    probe's answer."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "gate"), KEYS)
    t.overwrite(_df(spark, [("a", "1", "x", 1), (None, "2", "y", 2)]))
    answers, n_jobs = jobs_in(
        "gate_manifest",
        lambda: [t.partition_is_empty(p) for p in ("a", None, "b", "")],
    )
    assert answers == [False, False, True, True]
    assert n_jobs == 0
    snap = t._read_snapshot()
    no_stats = {**snap, "stats": {}}
    t._read_snapshot = lambda: no_stats
    answers, n_jobs = jobs_in(
        "gate_probe", lambda: [t.partition_is_empty(p) for p in ("a", "b")]
    )
    assert answers == [False, True]
    assert n_jobs > 0


TYPED = (
    "PartitionKey long, RowKey bigint, ts timestamp, amount decimal(12,2),"
    " v array<double>"
)


def _typed(spark, rows):
    import datetime as dt
    from decimal import Decimal

    # row key 9 lies past 2262, where an INT96 read at ns overflows
    base = dt.datetime(2021, 3, 4, 5, 6, 7, 123456)
    return spark.createDataFrame(
        [
            (pk, rk, base.replace(year=2400 if rk == 9 else 2021)
             + dt.timedelta(seconds=rk, minutes=tag),
             Decimal(f"{rk}.{tag:02d}"), [float(rk), tag / 3])
            for pk, rk, tag in rows
        ],
        TYPED,
    )


def _typed_state(df):
    return sorted(tuple(r) for r in df.select(
        "PartitionKey", "RowKey", "ts", "amount", "v"
    ).collect())


def _spy_arrow(monkeypatch):
    calls = []
    orig = merge.KeyedParquetTable._arrow_write

    def spy(self, *args):
        calls.append(args[1])
        return orig(self, *args)

    monkeypatch.setattr(merge.KeyedParquetTable, "_arrow_write", spy)
    return calls


def test_arrow_path_typed_round_trip(spark, tmp_path, monkeypatch, jobs_in):
    """Timestamp, decimal(12,2) and array<double> columns under a long
    partition column survive Arrow-path upserts and deletes next to
    Spark's own files (INT96 timestamps): read, lookup, time travel,
    the change feed with pre-images, compaction, a later Spark-path
    upsert over the Arrow-written files, and COW skipping of a clean
    Arrow-written file."""
    calls = _spy_arrow(monkeypatch)
    t = merge.KeyedParquetTable(spark, str(tmp_path / "typed"), KEYS)
    t.retain_stale_s = 3600.0
    model = {(pk, rk): 0 for pk in (1, 2) for rk in range(10)}

    def want():
        return _typed_state(
            _typed(spark, [(pk, rk, tag) for (pk, rk), tag in model.items()])
        )

    t.overwrite(_typed(spark, [(pk, rk, 0) for pk, rk in model]))
    v1 = t._read_snapshot()["version"]
    dtypes = t.read().dtypes
    up = [(1, 5, 1), (1, 6, 1), (1, 7, 1), (3, 0, 1), (3, 1, 1)]
    _, n_jobs = jobs_in(
        "typed_up", lambda: t.upsert_replace_partitions(_typed(spark, up))
    )
    assert n_jobs <= 2 and len(calls) == 1
    model.update({(pk, rk): tag for pk, rk, tag in up})
    dels = spark.createDataFrame(
        [(2, 3), (2, 4), (2, 99)], "PartitionKey long, RowKey bigint"
    )
    _, n_jobs = jobs_in("typed_del", lambda: t.delete_by_keys(dels))
    assert n_jobs <= 2 and len(calls) == 2
    del model[(2, 3)], model[(2, 4)]
    v3 = t._read_snapshot()["version"]

    assert t.read().dtypes == dtypes
    assert _typed_state(t.read()) == want()
    assert len(t._lookup_files(1, 6)) == 1
    assert _typed_state(t.lookup(1, 6)) == _typed_state(_typed(spark, [(1, 6, 1)]))
    assert t.read(version=v1).dtypes == dtypes
    assert _typed_state(t.read(version=v1)) == _typed_state(
        _typed(spark, [(pk, rk, 0) for pk in (1, 2) for rk in range(10)])
    )
    feed = t.changes(v1, v3, include_preimage=True)
    kinds = sorted(
        (r.PartitionKey, r.RowKey, r.change_type) for r in feed.collect()
    )
    assert kinds == sorted(
        [(1, k, c) for k in (5, 6, 7) for c in ("update", "update_preimage")]
        + [(3, 0, "insert"), (3, 1, "insert"), (2, 3, "delete"), (2, 4, "delete")]
    )
    post = feed.filter(F.col("change_type").isin("update", "insert")).drop("change_type")
    assert _typed_state(post) == _typed_state(_typed(spark, up))

    # COW skipping: new keys past a clean Arrow-written file's bounds
    (clean,) = [f for f in t._read_snapshot()["files"] if f.startswith("PartitionKey=3/")]
    t.upsert_replace_partitions(_typed(spark, [(3, 50, 3), (3, 51, 3)]))
    assert len(calls) == 3
    snap = t._read_snapshot()
    assert clean in snap["files"]
    (fresh,) = [f for f in snap["files"] if f.startswith("PartitionKey=3/") and f != clean]
    assert snap["stats"][fresh]["rows"] == 2
    model.update({(3, 50): 3, (3, 51): 3})
    assert _typed_state(t.read()) == want()

    # a Spark-path upsert over the Arrow-written files
    monkeypatch.setattr(merge, "_ARROW_MAX_ROWS", 0)
    t.upsert_replace_partitions(_typed(spark, [(1, 6, 2), (1, 8, 2), (3, 1, 2)]))
    assert len(calls) == 3
    model.update({(1, 6): 2, (1, 8): 2, (3, 1): 2})
    assert _typed_state(t.read()) == want()

    t.compact()
    assert _typed_state(t.read()) == want()
    assert t.read().dtypes == dtypes


@pytest.mark.parametrize(
    "case", ["dtype_drift", "added_column", "missing_column", "no_stats", "above_bound"]
)
def test_arrow_path_hands_over_to_spark(spark, tmp_path, monkeypatch, case):
    """Each condition the Arrow gate refuses sends the upsert to the
    Spark path, with the same result."""
    if case == "no_stats":
        monkeypatch.setattr(
            merge.KeyedParquetTable, "_file_stats", lambda self, rel: None
        )
    t = merge.KeyedParquetTable(spark, str(tmp_path / case), KEYS)
    t.overwrite(_df(spark, [("p", str(i), "old", i) for i in range(6)]))
    monkeypatch.undo()
    calls = _spy_arrow(monkeypatch)
    rows = [("p", "1", "new", 10), ("p", "9", "ins", 9)]
    batch = _df(spark, rows)
    if case == "dtype_drift":
        batch = batch.withColumn("n", F.col("n").cast("double"))
    elif case == "added_column":
        batch = batch.withColumn("extra", F.lit("e"))
    elif case == "missing_column":
        batch = batch.drop("n")
    elif case == "above_bound":
        monkeypatch.setattr(merge, "_ARROW_MAX_ROWS", 1)
    t.upsert_replace_partitions(batch)
    assert calls == []
    got = sorted((r.RowKey, r.val) for r in t.read().collect())
    assert got == [("0", "old"), ("1", "new"), ("2", "old"), ("3", "old"),
                   ("4", "old"), ("5", "old"), ("9", "ins")]
    n = {r.RowKey: r.n for r in t.read().collect()}
    assert n["1"] == (None if case == "missing_column" else 10)


def test_changes_match_rows_of_the_null_partition(spark, tmp_path):
    """A version whose changed files all lie in the NULL partition
    directory reads its partition column back as VOID. The change feed
    must still match the rows by key: an unchanged row is no change,
    a changed one an update (both read as delete + insert)."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "cdcnull"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(
        _df(spark, [(None, "1", "a", 1), (None, "2", "b", 2), ("p", "1", "c", 3)])
    )
    t.upsert_replace_partitions(_df(spark, [(None, "1", "a", 1), (None, "2", "B", 2)]))
    got = [(r.PartitionKey, r.RowKey, r.val, r.change_type) for r in t.changes(1, 2).collect()]
    assert got == [(None, "2", "B", "update")]


def test_version_reads_keep_pinned_long_partition_type(spark, tmp_path):
    """Time travel, the change feed with pre-images and ChangeFeed's
    initial snapshot return an integral partition column as the pin
    types it (bigint), not as directory text — also for a side read
    only from the NULL partition directory."""
    from otrrentetl_spark.streaming.changefeed import ChangeFeed

    schema = "PartitionKey long, RowKey string, val string, n long"
    t = merge.KeyedParquetTable(spark, str(tmp_path / "longpk"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(spark.createDataFrame(
        [(1, "a", "x", 1), (2, "b", "y", 2), (None, "c", "z", 3)], schema
    ))
    t.upsert_replace_partitions(spark.createDataFrame(
        [(1, "a", "x2", 10), (None, "c", "z2", 30), (3, "d", "w", 4)], schema
    ))

    def pk_type(df):
        return dict(df.dtypes)["PartitionKey"]

    assert pk_type(t.read()) == "bigint"
    assert pk_type(t.read(version=1)) == "bigint"
    assert sorted(
        ((r.PartitionKey, r.RowKey) for r in t.read(version=1).collect()),
        key=str,
    ) == [(1, "a"), (2, "b"), (None, "c")]
    feed = t.changes(1, 2, include_preimage=True)
    assert pk_type(feed) == "bigint"
    assert sorted(
        (str(r.PartitionKey), r.RowKey, r.change_type) for r in feed.collect()
    ) == sorted([
        ("1", "a", "update"), ("1", "a", "update_preimage"),
        ("None", "c", "update"), ("None", "c", "update_preimage"),
        ("3", "d", "insert"),
    ])
    got = []
    ChangeFeed(t, str(tmp_path / "ckpt.json"), initial="snapshot").poll(
        lambda df, a, b: got.append((pk_type(df), df.count()))
    )
    assert got == [("bigint", 4)]


def test_time_travel_reads_its_version_pin_after_widening(spark, tmp_path):
    """A later upsert that widened a column (int → bigint) leaves
    read(version=1) typed as version 1 pinned it, while the current
    read and the change feed carry the widened type."""
    t = merge.KeyedParquetTable(spark, str(tmp_path / "widen"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(spark.createDataFrame(
        [("p", "1", 1), ("p", "2", 2)], "PartitionKey string, RowKey string, n int"
    ))
    t.upsert_replace_partitions(spark.createDataFrame(
        [("p", "2", 1 << 40)], "PartitionKey string, RowKey string, n bigint"
    ))
    assert dict(t.read().dtypes)["n"] == "bigint"
    v1 = t.read(version=1)
    assert dict(v1.dtypes)["n"] == "int"
    assert sorted((r.RowKey, r.n) for r in v1.collect()) == [("1", 1), ("2", 2)]
    assert sorted(
        (r.RowKey, r.n, r.change_type) for r in t.changes(1, 2).collect()
    ) == [("2", 1 << 40, "update")]


def _canon_rows(df):
    # repr keeps NaN equal to NaN and -0.0 apart from 0.0
    return sorted(map(repr, df.collect()))


def test_arrow_changes_equal_spark_changes(spark, tmp_path, monkeypatch):
    """The Arrow change feed equals the Spark join, row for row and in
    its schema, with and without pre-images, on the value edge cases of
    ``eqNullSafe``: a rewritten row whose vector holds NaN, or -0.0
    where it held 0.0, is no change; NULL array elements compare as
    values; the NULL and the empty-string partitions match null-safely;
    an int partition column keeps its type. A version pair whose pins
    differ takes the Spark path. A spy shows which path ran."""
    ran = []
    arrow_changes = merge.KeyedParquetTable._arrow_changes

    def spy(self, *args):
        out = arrow_changes(self, *args)
        ran.append("arrow" if out is not None else "spark")
        return out

    monkeypatch.setattr(merge.KeyedParquetTable, "_arrow_changes", spy)
    bound = merge._ARROW_MAX_ROWS

    def both(t, a, b):
        out = []
        for pre in (False, True):
            ran.clear()
            fast = t.changes(a, b, include_preimage=pre)
            monkeypatch.setattr(merge, "_ARROW_MAX_ROWS", 0)
            slow = t.changes(a, b, include_preimage=pre)
            monkeypatch.setattr(merge, "_ARROW_MAX_ROWS", bound)
            assert ran == ["arrow", "spark"]
            assert fast.schema == slow.schema
            assert _canon_rows(fast) == _canon_rows(slow), (a, b, pre)
            out.append(fast)
        return out

    nan = float("nan")
    schema = ("PartitionKey string, RowKey string, v array<double>,"
              " f array<float>, x double")
    t = merge.KeyedParquetTable(spark, str(tmp_path / "edges"), KEYS)
    t.retain_stale_s = 3600.0
    t.overwrite(spark.createDataFrame([
        ("p", "nan", [nan, 1.0], [nan], nan),
        ("p", "zero", [0.0], [0.0], 0.0),
        ("p", "nulls", [1.0, None], [None], 1.0),
        ("p", "moved", [1.0, None], [1.0], 1.0),
        ("p", "longer", [None], None, 1.0),
        ("p", "empty", None, [], 1.0),
        ("p", "gone", [2.0], [2.0], 2.0),
        ("", "e", [3.0], [3.0], 3.0),
        (None, "n", [4.0], [4.0], 4.0),
        (None, None, [5.0], [5.0], 5.0),
    ], schema))
    t.upsert_replace_partitions(spark.createDataFrame([
        ("p", "nan", [nan, 1.0], [nan], nan),
        ("p", "zero", [-0.0], [-0.0], -0.0),
        ("p", "nulls", [1.0, None], [None], 1.0),
        ("p", "moved", [None, 1.0], [1.0], 1.0),
        ("p", "longer", [None, None], None, 1.0),
        ("p", "empty", [], [], 1.0),
        ("", "e", [3.0], [3.0], 3.5),
        (None, "n", [4.0], [4.0], 4.0),
        (None, None, [5.0], [5.0, None], 5.0),
        ("", "new", [6.0], [6.0], 6.0),
    ], schema))
    t.delete_by_keys(spark.createDataFrame(
        [("p", "gone"), ("", "e")], "PartitionKey string, RowKey string"
    ))
    feed, _ = both(t, 1, 2)
    assert sorted(
        ((r.RowKey or "", r.change_type) for r in feed.collect())
    ) == [("", "update"), ("e", "update"), ("empty", "update"),
          ("longer", "update"), ("moved", "update"), ("new", "insert")]
    both(t, 2, 3)
    both(t, 1, 3)

    t = merge.KeyedParquetTable(spark, str(tmp_path / "intpk"), KEYS)
    t.retain_stale_s = 3600.0
    schema = "PartitionKey int, RowKey bigint, val string"
    t.overwrite(spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (None, 3, "c"), (-4, 4, "d")], schema
    ))
    t.upsert_replace_partitions(spark.createDataFrame(
        [(1, 2, "B"), (None, 3, "c"), (-4, 5, "e")], schema
    ))
    feed, _ = both(t, 1, 2)
    assert dict(feed.dtypes)["PartitionKey"] == "int"
    assert sorted(
        (r.PartitionKey, r.RowKey, r.change_type) for r in feed.collect()
    ) == [(-4, 5, "insert"), (1, 2, "update")]

    # an added column changes the pin: the diff stays on Spark
    t.upsert_replace_partitions(spark.createDataFrame(
        [(1, 9, "z", 1.5)], schema + ", extra double"
    ))
    ran.clear()
    got = [(r.RowKey, r.extra, r.change_type) for r in t.changes(2, 3).collect()]
    assert ran == ["spark"] and got == [(9, 1.5, "insert")]
