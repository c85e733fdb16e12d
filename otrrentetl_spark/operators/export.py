"""Training-shard export: the tail of a corpus pipeline — a
deterministic seeded shuffle of the curated corpus, weight-balanced
assignment into N shards, and the physical shard write.

Why each piece is shaped the way it is at 100 TB:

- **Seeded shuffle** = a pseudorandom RANK per row from plain integer
  arithmetic (two rounds of Knuth multiplicative hashing, every
  intermediate < 2^63 so ANSI mode can't overflow). Deterministic
  across runs/engines — reshuffling with the same seed reproduces the
  exact training order, and the DuckDB oracle replays it verbatim
  (``xxhash64`` would be Spark-only).
- **Weight-balanced sharding**: rows sorted by rank are cut into N
  contiguous spans of ~equal total weight (token mass), so every
  shard feeds a trainer the same token budget. shard =
  ``start_offset * N div total`` — each row's offset is the exact
  prefix sum of weights in rank order.
- **Distributed prefix sum**: a single global window would serialize
  into ONE task chain. The offset is computed two-level instead:
  rows bucket into ``chunks`` contiguous rank ranges (top bits of
  rank), each chunk windows its own cumsum in parallel, and the
  per-chunk base offsets — ``chunks`` tiny rows — are a driver-side
  running total broadcast back. Bit-identical to the global window
  (integer sums, same total order) — the oracle runs the global
  window and must hash-match.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from otrrentetl_spark.table.store import store_for

# planner guard for the sliced layout: a small max_task_weight on a
# huge corpus must not request an unbounded repartitionByRange (the
# same blow-up annindex.py bounds with _MAX_BUILD_TASKS)
_MAX_WRITE_TASKS = 4096

# 2^31-bounded multiplicative mixing constants (Knuth / Murmur finalizer)
_M1 = 2654435761  # 0x9E3779B1
_M2 = 2246822519  # 0x85EBCA77
_MOD = 2**31


def seeded_rank(id_col: str, seed: int) -> F.Column:
    """Deterministic pseudorandom rank in [0, 2^31): two multiplicative
    rounds over the id. Portable: plain * % arithmetic; every operand
    is reduced mod 2^31 before multiplying, so no intermediate exceeds
    2^31 * max(M1,M2) < 2^63 — safe under ANSI overflow checking at
    any id magnitude."""
    s = F.lit(int(seed) % _MOD)
    i = F.pmod(F.col(id_col).cast("long"), F.lit(_MOD))
    r1 = F.pmod(i * F.lit(_M1), F.lit(_MOD))
    return F.pmod(F.pmod(r1 + s, F.lit(_MOD)) * F.lit(_M2), F.lit(_MOD))


def seeded_rank_sql(id_expr: str, seed: int) -> str:
    """The ANSI-SQL twin of :func:`seeded_rank` (oracle replay). SQL
    ``%`` keeps the dividend's sign while Spark ``pmod`` is always
    non-negative, so the first reduction — the only one that can see a
    negative value — is written as ``((x % m) + m) % m``."""
    s = int(seed) % _MOD
    i = f"((CAST({id_expr} AS BIGINT) % {_MOD}) + {_MOD}) % {_MOD}"
    return f"(({i} * {_M1}) % {_MOD} + {s}) % {_MOD} * {_M2} % {_MOD}"


def shard_by_weight(
    df: DataFrame,
    n_shards: int,
    weight_col: str,
    seed: int = 0,
    id_col: str = "doc_id",
    chunks: int = 64,
) -> DataFrame:
    """Add ``rank`` (the seeded shuffle order) and ``shard`` (0-based,
    ~equal total ``weight_col`` per shard) columns. Two-level prefix
    sum: ``chunks`` parallel window chains + a driver-side base-offset
    map (``chunks`` longs — not a data collect)."""
    out, _total = _shard_with_start(
        df, n_shards, weight_col, seed, id_col, chunks
    )
    return out.drop("__start")


def _shard_with_start(
    df: DataFrame,
    n_shards: int,
    weight_col: str,
    seed: int = 0,
    id_col: str = "doc_id",
    chunks: int = 64,
) -> tuple[DataFrame, int]:
    """shard_by_weight's engine: also returns the corpus total weight
    (already collected for the base-offset map) and keeps the exact
    ``__start`` prefix offset, which write_shards reuses to slice
    oversized shards into bounded write tasks."""
    shift = 31 - max(1, chunks - 1).bit_length()
    ranked = df.withColumn("rank", seeded_rank(id_col, seed)).withColumn(
        "__chunk", F.shiftrightunsigned(F.col("rank"), shift)
    )
    ranked = ranked.localCheckpoint(eager=True)  # rank pass runs once
    per_chunk = {
        int(r["__chunk"]): int(r["w"])
        for r in ranked.groupBy("__chunk")
        .agg(F.sum(F.col(weight_col).cast("long")).alias("w"))
        .collect()
    }
    total = sum(per_chunk.values())
    base, acc = {}, 0
    for c in sorted(per_chunk):
        base[c] = acc
        acc += per_chunk[c]
    base_expr = F.create_map(
        *[F.lit(x) for kv in base.items() for x in kv]
    )
    w = (
        Window.partitionBy("__chunk")
        .orderBy("rank", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wcol = F.col(weight_col).cast("long")
    start = (
        base_expr[F.col("__chunk")]
        + F.sum(wcol).over(w)
        - wcol
    )
    # exact integer floor-division (`div`), never double `/` — at
    # corpus scale start*N exceeds the 53-bit double mantissa
    out = (
        ranked.withColumn("__start", start)
        .withColumn(
            "shard",
            F.least(
                F.lit(n_shards - 1).cast("long"),
                F.expr(f"__start * {int(n_shards)} div {max(total, 1)}"),
            ),
        )
        .drop("__chunk")
    )
    return out, total


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    weight_col: str,
    seed: int = 0,
    id_col: str = "doc_id",
    max_task_weight: int | None = None,
) -> dict:
    """Physically export: shard assignment, then contiguous
    (shard, rank) slices per write task, plus a
    ``_SHARD_MANIFEST.json`` recording the seed and per-shard
    row/weight totals AND file lists. Returns the manifest dict.

    **Task sizing** (r8 verdict item 6). Default: one write task per
    shard — every ``shard=N`` directory holds exactly one file,
    internally in shuffle order. That makes a shard's BYTES one
    task's throughput: fine at the usual 1-10 GB shard targets, a
    silent 50 GB straggler under a skewed weight column. Passing
    ``max_task_weight`` (same units as ``weight_col``) bounds it: the
    global ``__start`` prefix offset — already exact per row — is cut
    into ``total div max_task_weight`` slices and the write
    range-partitions on (shard, __slice), so an oversized shard
    splits into multiple part files, EACH a contiguous rank slice;
    ascending part-file names within a shard directory give ascending
    rank ranges (range partitions map to ascending task ids), so a
    consumer restores the full shard order by reading files in name
    order (and the manifest's per-shard file list is name-sorted).
    The bound is APPROXIMATE: range boundaries are sampled by row
    count, so under extreme per-row weight skew (single rows carrying
    ~max_task_weight each) adjacent near-empty slices can merge into
    one task a small multiple over the cap — a hash layout on the
    slice id would harden the cap but breaks the contiguity/name-order
    contract above, which consumers rely on. Size the cap with
    headroom, or pre-split pathological rows upstream.

    **Degenerate shards** (ADVICE r8): when one row's weight is
    ≥ 2·total/n_shards, ``floor(start·N/total)`` can skip a shard id
    entirely — no ``shard=K`` directory is written. The manifest
    still seeds ALL ``n_shards`` keys (zero rows/weight, empty file
    list), so consumers iterating manifest keys see every shard; a
    directory may legitimately be absent for an empty shard.
    """
    assigned, total = _shard_with_start(
        df, n_shards, weight_col, seed, id_col
    )
    if max_task_weight:
        n_slices = max(total // int(max_task_weight), 1) + n_shards
        if n_slices > _MAX_WRITE_TASKS:
            # ADVICE r9: clamp rather than hand the planner a
            # million-partition range shuffle; the cap still bounds a
            # task at total/_MAX_WRITE_TASKS — raise so the caller
            # picks a workable cap instead of silently violating it
            raise ValueError(
                f"max_task_weight={max_task_weight} requests"
                f" {n_slices} write tasks (> {_MAX_WRITE_TASKS});"
                f" raise the cap to at least"
                f" {total // max(_MAX_WRITE_TASKS - n_shards, 1) + 1}"
                " or pre-partition the corpus"
            )
        layout = assigned.withColumn(
            "__slice", F.expr(f"__start div {int(max_task_weight)}")
        ).repartitionByRange(int(n_slices), "shard", "__slice", "rank")
    else:
        # hash-repartition on shard: ALL of a shard's rows share one
        # task (range sampling could split a shard across tasks), so
        # every shard=N directory holds exactly one file
        layout = assigned.repartition(n_shards, "shard")
    (
        layout.drop("__start", "__slice")
        .sortWithinPartitions("shard", "rank", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    # manifest stats from the WRITTEN files (two cheap columns + the
    # file name), not a second run of the assignment pipeline — the
    # window prefix sum over the full corpus would otherwise execute
    # twice. input_file_name() returns %-encoded URIs; on-disk names
    # are not encoded — unquote before recording.
    from urllib.parse import unquote

    spark = df.sparkSession
    stats = (
        spark.read.parquet(path)
        # project the (non-deterministic) file name into a plain
        # column first: aggregates refuse it as a direct argument
        .select(
            F.col("shard").cast("long").alias("shard"),
            F.col(weight_col),
            F.input_file_name().alias("__file"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(weight_col).cast("long")).alias("weight"),
            F.collect_set("__file").alias("files"),
        )
        .collect()
    )
    shards = {
        str(s): {"n_rows": 0, "weight": 0, "files": []}
        for s in range(n_shards)
    }
    for r in stats:
        shards[str(int(r["shard"]))] = {
            "n_rows": int(r["n_rows"]),
            "weight": int(r["weight"]),
            "files": sorted(
                "/".join(unquote(f).split("://")[-1].split("/")[-2:])
                for f in r["files"]
            ),
        }
    manifest = {
        "seed": int(seed),
        "n_shards": int(n_shards),
        "weight_col": weight_col,
        "max_task_weight": int(max_task_weight) if max_task_weight else None,
        "shards": shards,
    }
    store_for(spark, path).write_atomic(
        f"{path}/_SHARD_MANIFEST.json",
        json.dumps(manifest, indent=1).encode(),
    )
    return manifest
