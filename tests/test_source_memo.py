"""Per-process memos over the test tables, without a Spark session:
``shared_ann_artifact`` builds each key once, outside its global lock,
and every staleness key (``catalog.source_stamp``) sees a part file of
a dataset directory rewritten in place."""

from __future__ import annotations

import threading
import uuid
from types import SimpleNamespace

from otrrentetl_spark.catalog import source_stamp
from otrrentetl_spark.plans import llm_ops
from otrrentetl_spark.plans.graph_ops import _graph_suffix
from otrrentetl_spark.plans.llm_ops import (
    _ann_source_fingerprint,
    _ndocs,
    shared_ann_artifact,
)


def _fake_spark():
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=f"app-{uuid.uuid4().hex}")
    )


def _sf_dir(tmp_path):
    (tmp_path / "embeddings.parquet").write_bytes(b"vectors")
    return str(tmp_path)


def _run(target, n=1, timeout=10.0):
    """Run ``target`` in ``n`` daemon threads; return their results, or
    None for a thread still running after ``timeout`` (a deadlock must
    fail the test, not hang the suite)."""
    out = [None] * n

    def body(i):
        out[i] = target()

    threads = [
        threading.Thread(target=body, args=(i,), daemon=True)
        for i in range(n)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout)
    return out


def test_shared_ann_build_may_request_another_kind(tmp_path):
    spark, sf = _fake_spark(), _sf_dir(tmp_path)

    def outer():
        inner = shared_ann_artifact(spark, "cents", sf, lambda: "C")
        return ("index", inner)

    (res,) = _run(lambda: shared_ann_artifact(spark, "index", sf, outer))
    assert res == ("index", "C"), "nested build deadlocked"


def test_shared_ann_different_keys_build_concurrently(tmp_path):
    spark, sf = _fake_spark(), _sf_dir(tmp_path)
    both_building = threading.Barrier(2, timeout=5.0)

    def build(kind):
        both_building.wait()  # breaks unless the other build overlaps
        return kind

    kinds = iter(["a", "b"])
    lock = threading.Lock()

    def call():
        with lock:
            kind = next(kinds)
        return shared_ann_artifact(spark, kind, sf, lambda: build(kind))

    assert set(_run(call, n=2)) == {"a", "b"}


def test_shared_ann_same_key_builds_once(tmp_path):
    spark, sf = _fake_spark(), _sf_dir(tmp_path)
    calls = []
    start = threading.Barrier(8, timeout=5.0)

    def build():
        calls.append(1)
        threading.Event().wait(0.05)  # widen the race window
        return object()

    def call():
        start.wait()
        return shared_ann_artifact(spark, "index", sf, build)

    res = _run(call, n=8)
    assert len(calls) == 1
    assert all(r is res[0] for r in res) and res[0] is not None
    assert len(llm_ops._ANN_SHARED) == 1


def test_source_stamp_sees_part_file_rewritten_in_place(tmp_path):
    sf = tmp_path / "sf"
    for t in ("embeddings", "documents", "orders", "lineitem"):
        (sf / f"{t}.parquet").mkdir(parents=True)
        (sf / f"{t}.parquet" / "part-0.parquet").write_bytes(b"x" * 10)
        (sf / f"{t}.parquet" / "_SUCCESS").write_bytes(b"")
    docs = SimpleNamespace(count=lambda: 10)
    before = (
        source_stamp(str(sf / "embeddings.parquet")),
        _ann_source_fingerprint(str(sf)),
        _graph_suffix(str(sf)),
        _ndocs(docs, str(sf)),
    )
    assert before[0][1] == 10  # part files only: _SUCCESS is skipped
    for t in ("embeddings", "documents", "orders"):
        # same file name, new size: the directory's own stat is unchanged
        (sf / f"{t}.parquet" / "part-0.parquet").write_bytes(b"y" * 20)
    docs = SimpleNamespace(count=lambda: 20)
    after = (
        source_stamp(str(sf / "embeddings.parquet")),
        _ann_source_fingerprint(str(sf)),
        _graph_suffix(str(sf)),
        _ndocs(docs, str(sf)),
    )
    assert after[0][1] == 20
    assert all(a != b for a, b in zip(after, before)), (before, after)
