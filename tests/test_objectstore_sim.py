"""Rename-less-store commit/lock protocol proof (r12 verdict item 2).

The manifest protocol assumes two store primitives
(`otrrentetl_spark/table/store.py`): atomic overwrite-rename
(`write_atomic`) and atomic create-exclusive (`create_exclusive` for
the lock, and since r13 `write_atomic(exclusive=True)` for the
delta-doc commit itself). Local disk and HDFS provide both; S3-class
object stores provide NEITHER rename atomicity (copy+delete) nor —
without conditional-put — create exclusivity. These tests simulate
the weakened semantics with fake local stores and drive concurrent
writers plus a polling reader through mutate/commit cycles:

- `delete+rename` manifest flips (the pre-r13 object-store fallback)
  open a manifest-MISSING window → the reader-side retry must cover
  it (no torn read, no missing-manifest error, no mixed file list).
- a stale-broken writer racing the successor inside the fence→write
  window must NOT silently clobber the successor's committed delta →
  the create-exclusive delta commit arbitrates; the loser aborts
  loudly.

The store semantics each leg requires are documented in BASELINE.md
("Commit protocol store requirements").
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import functions as F  # noqa: F401 (parity with peers)

from otrrentetl_spark.operators import merge
from otrrentetl_spark.table.store import LocalStore

KEYS = ("PartitionKey", "RowKey")
SCHEMA = "PartitionKey string, RowKey string, val string, n long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


class _DeleteRenameStore(LocalStore):
    """A store without overwrite-rename: every pointer flip becomes
    delete → (visibility gap) → appear atomically (object PUT) — the
    missing-manifest window."""

    def write_atomic(self, uri, payload, exclusive=False):
        name = merge.KeyedParquetTable._SNAPSHOT_NAME
        if exclusive or not uri.endswith(name):
            return super().write_atomic(uri, payload, exclusive)
        local = self.local_path(uri)
        tmp = f"{local}.gaptmp"
        with open(tmp, "wb") as f:
            f.write(payload)
        if os.path.exists(local):
            os.remove(local)
        time.sleep(0.08)
        os.rename(tmp, local)


class _CheckThenCreateStore(LocalStore):
    """A store without conditional-put: create-exclusive degrades to
    check-then-act with a widened window, so both writers can
    'acquire' a lock and the file holds the LAST writer's token."""

    def create_exclusive(self, uri, data):
        local = self.local_path(uri)
        if os.path.exists(local):
            return False
        time.sleep(0.01)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        with open(local, "wb") as f:
            f.write(data)
        return True


def test_reader_retry_covers_delete_rename_manifest_gap(
    spark, tmp_path, monkeypatch
):
    """Simulate a store without overwrite-rename: every pointer flip
    becomes delete → (visibility gap) → appear. A polling reader must
    never observe a missing manifest, a torn doc, or a file list
    mixing retired and fresh files — only complete committed states."""
    monkeypatch.setattr(
        merge, "store_for", lambda spark, path: _DeleteRenameStore()
    )
    path = str(tmp_path / "gap")
    t = merge.KeyedParquetTable(spark, path, KEYS)
    t.retain_stale_s = 3600.0  # keep superseded files for in-flight reads
    t.overwrite(_df(spark, [("p", f"{i:03d}", "base", i) for i in range(10)]))

    n_commits = 6
    writer_err: list[BaseException] = []

    def writer():
        try:
            for i in range(n_commits):
                t.upsert_replace_partitions(
                    _df(
                        spark,
                        [
                            (f"w{i}", f"{j:03d}", "v", j)
                            for j in range(5)
                        ],
                    )
                )
        except BaseException as exc:  # noqa: BLE001 — report to main
            writer_err.append(exc)

    th = threading.Thread(target=writer)
    th.start()
    reader = merge.KeyedParquetTable(spark, path, KEYS)
    observed: set[int] = set()
    reads = 0
    try:
        while th.is_alive() or reads == 0:
            with merge._STATE_CACHE_LOCK:  # force real manifest reads
                merge._STATE_CACHE.pop(path, None)
            cnt = reader.read().count()
            observed.add(cnt)
            reads += 1
    finally:
        th.join()
    assert not writer_err, f"writer failed: {writer_err}"
    valid = {10 + 5 * i for i in range(n_commits + 1)}
    assert observed <= valid, f"torn/mixed states seen: {observed - valid}"
    assert reads >= 3, "reader loop must have raced the commit gaps"
    with merge._STATE_CACHE_LOCK:
        merge._STATE_CACHE.pop(path, None)
    assert reader.read().count() == 10 + 5 * n_commits


def test_stale_broken_writer_cannot_clobber_successor_commit(
    spark, tmp_path, monkeypatch
):
    """The fence→write race, made deterministic: writer A passes its
    lock fence, then stalls before its delta write; meanwhile the
    table's stale-lock breaker hands the lock to writer B, which
    commits the same version number. A's delayed delta write must NOT
    replace B's committed doc (pre-r13 overwrite semantics silently
    did — a lost update B had already reported as success). With the
    create-exclusive delta commit, A aborts loudly and B's state is
    what readers fold."""
    path = str(tmp_path / "fence")
    t_a = merge.KeyedParquetTable(spark, path, KEYS)
    t_a.overwrite(_df(spark, [("p", "000", "base", 0)]))

    a_entered = threading.Event()
    a_release = threading.Event()
    real_write = merge.KeyedParquetTable._write_json_atomic

    def stalling_write(self, uri, doc, exclusive=False):
        # stall writer A exactly between its fence and its delta write
        if (
            self is t_a
            and exclusive
            and f"/{self._HISTORY_DIR}/v" in uri
        ):
            a_entered.set()
            assert a_release.wait(30.0)
        return real_write(self, uri, doc, exclusive=exclusive)

    monkeypatch.setattr(
        merge.KeyedParquetTable, "_write_json_atomic", stalling_write
    )

    a_err: list[BaseException] = []

    def writer_a():
        try:
            t_a.upsert_replace_partitions(
                _df(spark, [("a", "001", "A", 1)])
            )
        except BaseException as exc:  # noqa: BLE001
            a_err.append(exc)

    th_a = threading.Thread(target=writer_a)
    th_a.start()
    assert a_entered.wait(60.0), "A never reached its delta write"

    # B breaks A's (deliberately 'stale') lock and commits the same
    # version number — the real break path, forced by age=0
    t_b = merge.KeyedParquetTable(spark, path, KEYS)
    t_b._break_stale(stale_s=0.0)
    t_b.upsert_replace_partitions(_df(spark, [("b", "001", "B", 1)]))
    committed = t_b._read_snapshot()["version"]

    # A wakes: its delayed exclusive write finds B's doc and aborts
    a_release.set()
    th_a.join(60.0)
    assert a_err and isinstance(a_err[0], RuntimeError), (
        "stale-broken writer must abort loudly, got: " f"{a_err!r}"
    )

    with merge._STATE_CACHE_LOCK:
        merge._STATE_CACHE.pop(path, None)
    reader = merge.KeyedParquetTable(spark, path, KEYS)
    rows = sorted(
        (r.PartitionKey, r.RowKey, r.val) for r in reader.read().collect()
    )
    assert ("b", "001", "B") in rows, "successor's committed row lost"
    assert ("a", "001", "A") not in rows, "aborted writer's row leaked"
    # the committed delta doc is B's, not A's
    with open(os.path.join(path, "_history", f"v{committed}.json")) as f:
        delta = json.load(f)
    assert all("PartitionKey=a" not in rel for rel in delta["add"])
    # B's history chain reconstructs at every version
    for v in range(1, committed + 1):
        assert reader.read(version=v).count() >= 1


def test_racy_lock_storm_never_silently_loses_a_commit(
    spark, tmp_path, monkeypatch
):
    """Two writers under a deliberately WEAK lock (check-then-create —
    the semantics of an object store without conditional-put) plus
    jittered metadata writes: every verb must either report success
    and have its rows in the final state, or raise. Success-then-lost
    is the one forbidden outcome; the create-exclusive delta commit is
    what forbids it."""
    monkeypatch.setattr(
        merge, "store_for", lambda spark, path: _CheckThenCreateStore()
    )
    path = str(tmp_path / "storm")
    seed_t = merge.KeyedParquetTable(spark, path, KEYS)
    seed_t.overwrite(_df(spark, [("seed", "000", "base", 0)]))

    real_write = merge.KeyedParquetTable._write_json_atomic

    def jitter_write(self, uri, doc, exclusive=False):
        time.sleep(0.005)
        return real_write(self, uri, doc, exclusive=exclusive)

    monkeypatch.setattr(
        merge.KeyedParquetTable, "_write_json_atomic", jitter_write
    )

    n_verbs = 6
    outcomes: dict[tuple[int, int], str] = {}

    def writer(w: int):
        t = merge.KeyedParquetTable(spark, path, KEYS)
        for i in range(n_verbs):
            try:
                t.upsert_replace_partitions(
                    _df(spark, [(f"w{w}i{i}", "000", "v", i)])
                )
                outcomes[(w, i)] = "ok"
            except (RuntimeError, TimeoutError, FileExistsError):
                outcomes[(w, i)] = "abort"

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    with merge._STATE_CACHE_LOCK:
        merge._STATE_CACHE.pop(path, None)
    reader = merge.KeyedParquetTable(spark, path, KEYS)
    present = {r.PartitionKey for r in reader.read().collect()}
    lost = [
        k
        for k, v in outcomes.items()
        if v == "ok" and f"w{k[0]}i{k[1]}" not in present
    ]
    assert lost == [], f"verbs reported success but their rows vanished: {lost}"
    assert sum(1 for v in outcomes.values() if v == "ok") >= 2
    # every committed version still reconstructs (no torn chain)
    final_v = reader._read_snapshot()["version"]
    for v in range(1, final_v + 1):
        reader.read(version=v).count()
