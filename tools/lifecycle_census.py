"""Per-STEP Spark job census for the lifecycle queries (r14 round,
verdict item 1): wraps the KeyedParquetTable / index / feed verbs so
every Spark job is attributed to the innermost verb that submitted it,
then runs a registry query once and prints the job count per step.

A step is labelled by the class it was called on (an index verb
inherited from the shared index base still counts as
``AnnLshIndex.apply_changes``), and a method inherited by several of
the wrapped classes is wrapped once.

Jobs are attributed by snapshotting statusTracker job ids around each
wrapped call (driver calls are sequential inside one query, so new ids
between enter/exit belong to that call; nested wrapped calls subtract
their own ids from the parent's).

Run: python tools/lifecycle_census.py <query> [query ...]
"""

from __future__ import annotations

import functools
import json
import os
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_STACK: list[dict] = []
_COUNTS: Counter = Counter()
_CALLS: Counter = Counter()
_TRACKER = None


def _jobs_now() -> set[int]:
    return set(_TRACKER.getJobIdsForGroup(None) or [])


def _wrap(cls, name: str) -> None:
    raw = cls.__dict__.get(name)
    if raw is None:  # inherited — wrap on the defining class instead
        for base in cls.__mro__[1:]:
            if name in base.__dict__:
                return _wrap(base, name)
        return None
    is_cm = isinstance(raw, classmethod)
    orig = raw.__func__ if is_cm else raw
    if getattr(orig, "_census_wrapped", False):
        return None  # inherited by a class wrapped before

    @functools.wraps(orig)
    def inner(*args, **kwargs):
        owner = args[0] if is_cm else type(args[0])
        label = f"{owner.__name__}.{name}"
        before = _jobs_now()
        frame = {"label": label, "child": set()}
        _STACK.append(frame)
        try:
            return orig(*args, **kwargs)
        finally:
            _STACK.pop()
            new = _jobs_now() - before
            own = new - frame["child"]
            if _STACK:
                _STACK[-1]["child"] |= new
            _COUNTS[label] += len(own)
            _CALLS[label] += 1

    inner._census_wrapped = True
    setattr(cls, name, classmethod(inner) if is_cm else inner)
    return None


def main() -> None:
    global _TRACKER
    names = sys.argv[1:]

    from otrrentetl_spark.operators.annindex import AnnLshIndex, IvfIndex
    from otrrentetl_spark.operators.merge import KeyedParquetTable
    from otrrentetl_spark.registry import QUERIES
    from otrrentetl_spark.session import get_spark
    from otrrentetl_spark.streaming.changefeed import ChangeFeed

    for m in (
        "overwrite",
        "_overwrite_unlocked",
        "upsert_replace_partitions",
        "delete_by_keys",
        "compact",
        "compact_if",
        "expire_history",
        "vacuum",
        "_cow_split",
        "_arrow_write",
        "_commit_snapshot",
        "_distributed_file_stats",
        "changes",
        "read",
    ):
        _wrap(KeyedParquetTable, m)
    for cls in (AnnLshIndex, IvfIndex):
        for m in (
            "build", "apply_changes", "maintain", "topk", "knn_join_bulk",
            "_driver_knn",
        ):
            _wrap(cls, m)
    _wrap(ChangeFeed, "poll")

    spark = get_spark(
        "lifecycle-census",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    _TRACKER = spark.sparkContext.statusTracker()

    # warm-up (codegen + python workers) on the first query
    QUERIES[names[0]](spark, SF_DIR).collect()

    out: dict[str, dict] = {}
    for name in names:
        _COUNTS.clear()
        _CALLS.clear()
        before = _jobs_now()
        import time

        t0 = time.perf_counter()
        QUERIES[name](spark, SF_DIR).collect()
        wall = round(time.perf_counter() - t0, 3)
        total = len(_jobs_now() - before)
        attributed = sum(_COUNTS.values())
        print(f"\n=== {name}: wall={wall}s total_jobs={total} "
              f"attributed={attributed} ===")
        for label, n in _COUNTS.most_common():
            print(f"  {label:50s} jobs={n:3d} calls={_CALLS[label]:3d}")
        print(f"  {'<unattributed (query body)>':50s} "
              f"jobs={total - attributed:3d}")
        out[name] = {
            "wall": wall,
            "total_jobs": total,
            "steps": dict(_COUNTS),
            "calls": dict(_CALLS),
        }
    Path("/tmp/lifecycle_census.json").write_text(
        json.dumps(out, indent=1) + "\n"
    )
    spark.stop()


if __name__ == "__main__":
    main()
