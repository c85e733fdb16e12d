"""Scale-pin the keyed-table COMMIT METADATA path (r11 headline —
r10 verdict "what's wrong" #1).

Manifest layout v2 replaced the per-commit whole-table _SNAPSHOT
rewrite with O(batch) delta manifests + periodic compacted
checkpoints. The contract this tool pins: a steady-state mutation's
COMMIT WALL and MANIFEST BYTES WRITTEN stay ~FLAT as the table grows
1k → 100k live files (the v1 protocol scaled both O(table): at COW
granularity a 100 TB table is ~10⁶ files ⇒ a several-hundred-MB
driver-side JSON serialize/parse per mutation).

Method: a real partition holds real data; the remaining live-file
population is a FABRICATED manifest extension (placeholder files on
disk + synthetic footer-stats entries, spread over fake partition
directories). The fabrication exercises exactly the layer under
test — manifest fold, pointer flip, stats carry, scoped listings —
while keeping fixture build time sane; any lurking O(table) walk or
serialize on the commit path shows up in the measured wall because
the placeholder files and manifest entries are physically there.

    python tools/manifest_scale.py [n_files ...]   # default 1000 10000 100000

Prints one JSON line per size:
  {"n_files": N, "delta_commit_s": median, "delta_bytes": ...,
   "ckpt_commit_s": ..., "ckpt_bytes": ..., "read_snapshot_s": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SCRATCH = "/tmp/manifest_scale"
FAKE_PARTS = 256


def build_fixture(spark, path: str, n_files: int):
    from otrrentetl_spark.operators import merge

    t = merge.KeyedParquetTable(spark, path, ("PartitionKey", "RowKey"))
    rows = [("hot", i, f"v{i}") for i in range(2000)]
    df = spark.createDataFrame(
        rows, "PartitionKey string, RowKey bigint, val string"
    )
    t.overwrite(df)
    t.compact(partitions=["hot"], files_per_partition=8, cluster=True)
    snap = t._read_snapshot()
    real = list(snap["files"])
    n_fake = max(0, n_files - len(real))
    fakes, fake_stats = [], {}
    per_dir = -(-n_fake // FAKE_PARTS)
    made = 0
    for p in range(FAKE_PARTS):
        d = f"PartitionKey=cold{p:04d}"
        os.makedirs(os.path.join(path, d), exist_ok=True)
        for i in range(per_dir):
            if made >= n_fake:
                break
            rel = f"{d}/part-{i:05d}-fixture.parquet"
            # placeholder file: physically present so any full walk on
            # the commit path pays for it; never read (its partition
            # is never touched by the measured mutations)
            with open(os.path.join(path, rel), "wb"):
                pass
            fakes.append(rel)
            lo = 10_000_000 + made * 1000
            fake_stats[rel] = {
                "rows": 1000,
                "nulls": 0,
                "min": lo,
                "max": lo + 999,
            }
            made += 1
    # splice the fabricated population into the manifest as one
    # handcrafted delta + checkpoint (fixture surgery, not a verb)
    version = int(snap["version"]) + 1
    files = real + fakes
    stats = dict(snap["stats"])
    stats.update(fake_stats)
    t._write_json_atomic(
        t._history_uri(version),
        {
            "format": 2,
            "version": version,
            "ts": time.time(),
            "op": "fixture",
            "add": fakes,
            "remove": [],
            "add_stats": fake_stats,
            "table_schema": snap["table_schema"],
        },
    )
    t._write_json_atomic(
        t._ckpt_uri(version),
        {"version": version, "files": files, "stats": stats},
    )
    pointer = t._read_json(t._snapshot_uri())
    t._write_snapshot_atomic(
        {
            **pointer,
            "version": version,
            "checkpoints": pointer.get("checkpoints", []) + [version],
            "n_files": len(files),
        }
    )
    with merge._STATE_CACHE_LOCK:
        merge._STATE_CACHE.pop(path, None)
    return t


def measure(spark, t, n_files: int) -> dict:
    from otrrentetl_spark.operators import merge

    hist = os.path.join(t.path, "_history")
    snap_path = os.path.join(t.path, "_SNAPSHOT")
    delta_walls, delta_bytes = [], []
    ckpt_walls, ckpt_bytes = [], []
    base_key = 5_000_000
    for i in range(8):
        batch = spark.createDataFrame(
            [("hot", base_key + i * 100 + j, "u") for j in range(100)],
            "PartitionKey string, RowKey bigint, val string",
        )
        v_before = t._read_snapshot()["version"]
        t0 = time.perf_counter()
        t.upsert_replace_partitions(batch)
        wall = time.perf_counter() - t0
        v = t._read_snapshot()["version"]
        assert v == v_before + 1
        nbytes = os.path.getsize(
            os.path.join(hist, f"v{v}.json")
        ) + os.path.getsize(snap_path)
        ck = os.path.join(hist, f"ckpt_v{v}.json")
        if os.path.exists(ck):
            ckpt_walls.append(wall)
            ckpt_bytes.append(nbytes + os.path.getsize(ck))
        else:
            delta_walls.append(wall)
            delta_bytes.append(nbytes)
    # r12 (r11 verdict item 5): the only remaining full-listing payers
    # are CHECKPOINT COMMITS (orphan reap + O(files) ckpt JSON) and
    # VACUUM — measure one of each at this live-file count instead of
    # hoping the 8-commit loop happens to cross a 16-boundary.
    # Walk the version counter to just before a periodic checkpoint,
    # then time the commit that triggers it.
    ck_every = merge.KeyedParquetTable._CKPT_EVERY
    j = 0
    while (t._read_snapshot()["version"] + 1) % ck_every != 0:
        t.upsert_replace_partitions(
            spark.createDataFrame(
                [("hot", 6_000_000 + j, "w")],
                "PartitionKey string, RowKey bigint, val string",
            )
        )
        j += 1
    forced = spark.createDataFrame(
        [("hot", 6_500_000 + k, "w") for k in range(100)],
        "PartitionKey string, RowKey bigint, val string",
    )
    t0 = time.perf_counter()
    t.upsert_replace_partitions(forced)
    forced_ckpt_wall = time.perf_counter() - t0
    v_ck = t._read_snapshot()["version"]
    ck_file = os.path.join(hist, f"ckpt_v{v_ck}.json")
    assert os.path.exists(ck_file), "forced commit did not checkpoint"
    forced_ckpt_bytes = os.path.getsize(ck_file)
    # vacuum: full listing + retired/orphan reap over the live set
    t0 = time.perf_counter()
    t.vacuum()
    vacuum_wall = time.perf_counter() - t0
    assert len(t._read_snapshot()["files"]) >= n_files, "vacuum ate live files"
    # cold reader reconstruction wall
    with merge._STATE_CACHE_LOCK:
        merge._STATE_CACHE.pop(t.path, None)
    t0 = time.perf_counter()
    cold = merge.KeyedParquetTable(spark, t.path, t.keys)._read_snapshot()
    read_wall = time.perf_counter() - t0
    assert len(cold["files"]) >= n_files
    med = lambda xs: sorted(xs)[len(xs) // 2] if xs else None  # noqa: E731
    return {
        "n_files": len(cold["files"]),
        "delta_commit_s": round(med(delta_walls), 3),
        "delta_bytes": med(delta_bytes),
        "n_delta_commits": len(delta_walls),
        "ckpt_commit_s": round(med(ckpt_walls), 3) if ckpt_walls else None,
        "ckpt_bytes": med(ckpt_bytes) if ckpt_bytes else None,
        "forced_ckpt_commit_s": round(forced_ckpt_wall, 3),
        "forced_ckpt_bytes": forced_ckpt_bytes,
        "vacuum_s": round(vacuum_wall, 3),
        "cold_read_snapshot_s": round(read_wall, 3),
    }


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [1_000, 10_000, 100_000]
    from otrrentetl_spark.session import get_spark

    spark = get_spark("manifest_scale")
    out = []
    for n in sizes:
        path = f"{SCRATCH}/tbl_{n}"
        shutil.rmtree(path, ignore_errors=True)
        t = build_fixture(spark, path, n)
        r = measure(spark, t, n)
        print(json.dumps(r), flush=True)
        out.append(r)
    # the flat-commit contract: 100x the live files must not move the
    # steady-state delta commit more than the documented envelope
    if len(out) >= 2:
        lo, hi = out[0], out[-1]
        ratio = hi["delta_commit_s"] / max(lo["delta_commit_s"], 1e-9)
        bytes_ratio = hi["delta_bytes"] / max(lo["delta_bytes"], 1)
        print(
            json.dumps(
                {
                    "pin": "manifest_v2_flat_commit",
                    "files_ratio": round(hi["n_files"] / lo["n_files"], 1),
                    "delta_wall_ratio": round(ratio, 2),
                    "delta_bytes_ratio": round(bytes_ratio, 2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
