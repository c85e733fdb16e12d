"""Scale-pin the materialized ANN index path.

Subcommands (all build a replicated embedding corpus — base 2000
sf0.1 vectors × R deterministic jittered replicas, default R=1000 →
2M vectors, dim 64 — under the scratch root):

  probes [R] [scratch]   (default) per-face single-probe pins:
      AnnLshIndex.topk / inline ann_topk_lsh / brute cosine_topk,
      files-read subset ratio, recall@10 — the r7/r8 evidence that an
      indexed probe's wall stays ~constant while scans grow linearly.

  bulk [R] [Q] [scratch] r9 headline pin: knn_join_bulk (the
      DISTRIBUTED batch face — executor-side signatures, shuffle
      join, no driver collect of the query corpus) at Q≈100k queries
      × R·2k vectors, where the broadcast face's collect+broadcast of
      the ball frame (Q × 137 masks × 64-dim vectors) is
      unreasonable. Row-identity vs the broadcast face is asserted on
      a 1k query subsample first.

  sweep [R] [scratch]    prefix_bits ∈ {8, 10, 12} at the same
      corpus: build wall, file count, single-probe wall, files-read
      fraction, recall@10 — the sizing evidence behind build's auto
      prefix_bits default (r8 verdict item 2).

  ivfk [R] [k] [scratch] IVF at realistic centroid counts (default
      k=4096; r8 verdict item 7): build wall (broadcast-frame
      min-struct assignment — the literal-expression quantizer stops
      being buildable around k=64), cold meta/centroid load wall from
      the parquet sidecar, probe wall.

  refresh [scratch]      r10 pin (r9 verdict item 1): apply one FIXED
      1k-change CDC batch (500 preimage updates + 250 deletes + 250
      inserts) against indexes of 100k and 2M vectors — the
      batch-proportional contract says the fold wall stays ~flat as
      the index grows 20x, because pre-images remove the only
      index-proportional step (the old-bucket locate scan).

  bigbuild [R] [scratch] r11 (r10 verdict item 7): ONE auto-sized
      build past the p=12 transition (default R=16,800 → 33.6M
      vectors) — asserts the auto rule picks p=12 and that the hop
      keeps files-read <20% with recall@10 held vs brute force.

    python tools/ann_scale.py [probes|bulk|sweep|ivfk|refresh|bigbuild] [args...]
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from tools.measure import enforce_budgets  # noqa: E402

BASE = "/root/testdata/sf0.1/embeddings.parquet"


def _corpus(spark, replicas: int, scratch: str, *, jitter: float = 0.05,
            id_base: int = 0, name: str = "corpus"):
    """R jittered replicas of the base table, fully deterministic:
    id = id_base + replica*10_000 + vec_id (base ids < 10_000,
    collision-free); each component offset by a hash-derived value in
    [-jitter/2, jitter/2] so replicas spread across nearby LSH
    buckets instead of stacking."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(BASE)
    path = f"{scratch}/{name}.parquet"
    rid = F.lit(id_base) + F.col("rep") * 10_000 + F.col("vec_id")
    (
        base.crossJoin(spark.range(replicas).withColumnRenamed("id", "rep"))
        .select(
            rid.alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + (
                    F.pmod(F.hash(rid, i), F.lit(1000)).cast("double")
                    / 1000.0
                    - 0.5
                )
                * jitter,
            ).alias("embedding"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


def _timed(fn, runs=3):
    best, out = float("inf"), None
    fn()  # warm-up (fresh plan inside fn each call)
    for _ in range(runs):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def _queries(base, n=3):
    return [
        [float(x) for x in r["embedding"]]
        for r in base.orderBy("vec_id").limit(n).collect()
    ]


def cmd_probes(argv: list[str]) -> None:
    replicas = int(argv[0]) if argv else 1000
    scratch = argv[1] if len(argv) > 1 else "/tmp/ann_scale"
    shutil.rmtree(scratch, ignore_errors=True)

    from otrrentetl_spark.operators.annindex import AnnLshIndex, IvfIndex
    from otrrentetl_spark.operators.similarity import (
        ann_topk_lsh,
        cosine_topk,
        ivf_topk,
        kmeans_lloyd,
    )
    from otrrentetl_spark.session import get_spark

    spark = get_spark("ann_scale")
    base = spark.read.parquet(BASE)
    corpus = _corpus(spark, replicas, scratch)
    n = corpus.count()
    print(f"corpus: {n} vectors, dim 64, replicas={replicas}")
    queries = _queries(base)

    # ---- LSH index ---------------------------------------------------
    t0 = time.perf_counter()
    lsh = AnnLshIndex.build(
        spark, corpus, f"{scratch}/lsh", n_planes=16, prefix_bits=8, dim=64
    )
    t_build = time.perf_counter() - t0
    total_files = len(lsh._table()._read_snapshot()["files"])
    print(f"lsh build: {t_build:.2f}s, {total_files} index files")

    probe_walls = []
    for qi, q in enumerate(queries):
        probe_files = len(lsh.topk(q, 10).inputFiles())
        w_idx, r_idx = _timed(lambda: {
            t["vec_id"] for t in lsh.topk(q, 10, max_hamming=2).collect()
        })
        probe_walls.append(w_idx)
        w_inl, r_inl = _timed(lambda: {
            t["vec_id"]
            for t in ann_topk_lsh(
                corpus, q, 10, n_planes=16, max_hamming=2
            ).collect()
        })
        w_bf, exact = _timed(lambda: {
            t["vec_id"] for t in cosine_topk(corpus, q, 10).collect()
        })
        print(
            f"q{qi}: indexed {w_idx:5.2f}s ({probe_files}/{total_files}"
            f" files) | inline-scan {w_inl:5.2f}s | brute {w_bf:5.2f}s"
            f" | identical-to-inline {r_idx == r_inl}"
            f" | recall@10 {len(r_idx & exact)}/10"
        )
    # wall-budget gate for the 2M probe (tools/budgets.json ann2m row,
    # r8 verdict item 3) — only meaningful at the canonical R=1000
    if replicas == 1000:
        enforce_budgets({"ann_lsh_probe_2m": min(probe_walls)}, "ann2m")

    # ---- IVF index ---------------------------------------------------
    _, cents_df = kmeans_lloyd(base, k=64, iters=2)
    centroids = [
        (int(r["cid"]), [float(x) for x in r["c"]])
        for r in cents_df.collect()
    ]
    t0 = time.perf_counter()
    ivf = IvfIndex.build(spark, corpus, f"{scratch}/ivf", centroids)
    t_build = time.perf_counter() - t0
    total_files = len(ivf._table()._read_snapshot()["files"])
    print(f"ivf build: {t_build:.2f}s, {total_files} index files")

    for qi, q in enumerate(queries):
        probe_files = len(ivf.topk(q, 10, nprobe=4).inputFiles())
        w_idx, r_idx = _timed(lambda: {
            t["vec_id"] for t in ivf.topk(q, 10, nprobe=4).collect()
        })
        w_inl, r_inl = _timed(lambda: {
            t["vec_id"]
            for t in ivf_topk(corpus, q, centroids, 10, nprobe=4).collect()
        })
        print(
            f"q{qi}: indexed {w_idx:5.2f}s ({probe_files}/{total_files}"
            f" files) | inline-scan {w_inl:5.2f}s"
            f" | identical-to-inline {r_idx == r_inl}"
        )
    spark.stop()


def cmd_bulk(argv: list[str]) -> None:
    replicas = int(argv[0]) if argv else 1000
    q_replicas = int(argv[1]) if len(argv) > 1 else 50  # × 2000 = 100k
    scratch = argv[2] if len(argv) > 2 else "/tmp/ann_scale_bulk"
    shutil.rmtree(scratch, ignore_errors=True)

    from pyspark.sql import functions as F

    from otrrentetl_spark.operators.annindex import AnnLshIndex
    from otrrentetl_spark.session import get_spark

    spark = get_spark("ann_scale_bulk")
    corpus = _corpus(spark, replicas, scratch)
    n = corpus.count()
    # query corpus: same deterministic generator, different jitter and
    # a 3e9 id base so qids never collide with corpus ids
    qtab = _corpus(
        spark,
        q_replicas,
        scratch,
        jitter=0.07,
        id_base=3_000_000_000,
        name="queries",
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    nq = qtab.count()
    print(f"corpus: {n} vectors | queries: {nq}")

    t0 = time.perf_counter()
    idx = AnnLshIndex.build(
        spark, corpus, f"{scratch}/lsh", n_planes=16, prefix_bits=8, dim=64
    )
    print(f"lsh build: {time.perf_counter() - t0:.2f}s")

    # identity vs the broadcast face on a 1k subsample (the bulk face
    # must be row-identical by the fold-twin contract)
    sub = qtab.filter(F.col("qid") < 3_000_000_000 + 1_000)
    a = {
        (r["qid"], r["rk"]): (r["vec_id"], r["cosine_sim"])
        for r in idx.knn_join(sub, k=10, max_hamming=2).collect()
    }
    b = {
        (r["qid"], r["rk"]): (r["vec_id"], r["cosine_sim"])
        for r in idx.knn_join_bulk(sub, k=10, max_hamming=2).collect()
    }
    print(f"identity vs broadcast face on {sub.count()} queries: {a == b}")
    assert a == b

    # the pin: full query corpus through the distributed face; count()
    # materializes the join + window without pickling 1M rows to
    # Python. ONE timed execution per mode (fresh plan each) — at
    # ~400M scored candidate pairs a run is minutes, and the identity
    # check above already proved semantics
    knn_walls = []
    for prune in (False, True):
        t0 = time.perf_counter()
        rows = idx.knn_join_bulk(
            qtab,
            k=10,
            max_hamming=2,
            prune_partitions=prune,
            assume_unique_qids=True,
        ).count()
        w = time.perf_counter() - t0
        knn_walls.append(w)
        print(
            f"bulk knn_join_bulk: {nq} queries x {n} vectors ->"
            f" {rows} result rows in {w:.2f}s (prune={prune})"
        )
    # the dedup face: every (candidate, indexed) near-dup pair at
    # cosine >= 0.95 — the jittered replicas make each query a planted
    # near-dup of its base vector's corpus replicas, so the output is
    # genuinely pair-heavy (the crawl-dedup shape, not a top-k)
    t0 = time.perf_counter()
    pairs = idx.near_dup_join(
        qtab, threshold=0.95, max_hamming=2, prune_partitions=False
    ).count()
    nd_wall = time.perf_counter() - t0
    print(
        f"bulk near_dup_join: {pairs} near-dup pairs across {nq}"
        f" candidates in {nd_wall:.2f}s (threshold 0.95)"
    )
    # wall-budget gates for the headline bulk faces (r9 verdict item
    # 3 — the probe row was gated in r8, the bulk joins weren't) at
    # the canonical 2M x 100k scale only
    if replicas == 1000 and q_replicas == 50:
        enforce_budgets(
            {"ann_bulk_knn_2m": min(knn_walls), "ann_near_dup_join_2m": nd_wall},
            "ann2m_bulk",
        )
    spark.stop()


def cmd_refresh(argv: list[str]) -> None:
    scratch = argv[0] if argv else "/tmp/ann_scale_refresh"
    shutil.rmtree(scratch, ignore_errors=True)

    from pyspark.sql import functions as F

    from otrrentetl_spark.operators.annindex import AnnLshIndex
    from otrrentetl_spark.session import get_spark

    spark = get_spark("ann_scale_refresh")

    # ONE fixed 1k-change batch reused at every index size: 500
    # updates as (preimage, postimage) pairs, 250 vector-carrying
    # deletes, 250 inserts — the include_preimage ChangeFeed shape
    def batch_for(corpus, lo=0):
        # deterministic id-range split over replica 0 (ids < 2000 at
        # any R — no limit()/subtract() nondeterminism); ``lo`` picks
        # a disjoint id window so a SECOND batch never re-touches the
        # first batch's keys
        upd = corpus.filter(F.col("vec_id").between(lo, lo + 499))
        dele = corpus.filter(F.col("vec_id").between(lo + 500, lo + 749))
        ins = corpus.filter(F.col("vec_id").between(lo + 750, lo + 999))
        neg = F.transform("embedding", lambda x: -x)
        return (
            upd.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("v"),
                F.lit("update_preimage").alias("change_type"),
            )
            .unionByName(
                upd.select(
                    F.col("vec_id").alias("id"),
                    neg.alias("v"),
                    F.lit("update").alias("change_type"),
                )
            )
            .unionByName(
                dele.select(
                    F.col("vec_id").alias("id"),
                    F.col("embedding").alias("v"),
                    F.lit("delete").alias("change_type"),
                )
            )
            .unionByName(
                ins.select(
                    (F.col("vec_id") + 4_000_000_000).alias("id"),
                    neg.alias("v"),
                    F.lit("insert").alias("change_type"),
                )
            )
            .localCheckpoint(eager=True)
        )

    walls = {}
    for replicas in (50, 1000):
        n_target = replicas * 2000
        corpus = _corpus(
            spark, replicas, scratch, name=f"corpus_r{replicas}"
        )
        n = corpus.count()
        idx = AnnLshIndex.build(
            spark,
            corpus,
            f"{scratch}/lsh_r{replicas}",
            n_planes=16,
            prefix_bits=8,
            dim=64,
        )
        batch = batch_for(corpus)
        nb = batch.count()
        t0 = time.perf_counter()
        idx.apply_changes(batch)
        w = time.perf_counter() - t0
        walls[n] = w
        print(
            f"refresh: {nb}-row batch into {n}-vector index"
            f" ({n_target} target): {w:.2f}s"
        )
    (small, big) = sorted(walls)
    ratio = walls[big] / walls[small]
    print(
        f"wall ratio {big // small}x index growth -> {ratio:.2f}x wall"
        " (batch-proportional contract: ~flat)"
    )

    # r10 leg: file-level copy-on-write after maintenance. Cluster the
    # big index's buckets by id (8 files per bucket, disjoint id
    # ranges — the layout a maintenance pass leaves behind at 100 TB
    # where a bucket holds many 128 MB files), then fold a SECOND
    # disjoint batch: the rewrite must supersede only the files whose
    # id range can hold the batch's keys, not whole buckets.
    t = idx._table()
    v_pre_compact = t._read_snapshot()["version"]
    t0 = time.perf_counter()
    t.compact(partitions=None, files_per_partition=8, cluster=True)
    w_compact = time.perf_counter() - t0
    print(f"cluster-compact (8 files/bucket): {w_compact:.1f}s")
    snap_c = t._read_snapshot()
    assert snap_c["version"] == v_pre_compact + 1, (
        "batched compact must be ONE manifest flip"
    )
    per_part: dict[str, int] = {}
    for f in snap_c["files"]:
        d = f.split("/", 1)[0]
        per_part[d] = per_part.get(d, 0) + 1
    assert set(per_part.values()) == {8}, (
        f"exact-count contract broken: {sorted(set(per_part.values()))}"
    )
    print(
        f"  one commit, {len(per_part)} buckets x 8 files"
        f" = {len(snap_c['files'])} files (exact)"
    )
    pre = set(t._read_snapshot()["files"])
    batch2 = batch_for(corpus, lo=1000)
    t0 = time.perf_counter()
    idx.apply_changes(batch2)
    w2 = time.perf_counter() - t0
    post = set(t._read_snapshot()["files"])
    rewritten = len(pre - post)
    kept = len(pre & post)
    print(
        f"post-maintenance fold: {w2:.2f}s, rewrote {rewritten} of"
        f" {len(pre)} live files ({kept} kept untouched) —"
        f" file-level COW {'ACTIVE' if rewritten < len(pre) * 0.5 else 'inactive'}"
    )

    # wall-budget gates (r10 verdict item 3): the 2M fold wall and the
    # post-maintenance COW rewrite ratio are the round-10 headline —
    # a regression to bucket- or index-proportional work trips here
    enforce_budgets(
        {
            "ann_refresh_2m": walls[big],
            "ann_compact_256buckets": w_compact,
            "ann_refresh_cow_ratio": rewritten / max(len(pre), 1),
        },
        "ann2m_refresh",
    )
    spark.stop()


def cmd_sweep(argv: list[str]) -> None:
    replicas = int(argv[0]) if argv else 1000
    scratch = argv[1] if len(argv) > 1 else "/tmp/ann_scale_sweep"
    shutil.rmtree(scratch, ignore_errors=True)

    from otrrentetl_spark.operators.annindex import AnnLshIndex
    from otrrentetl_spark.operators.similarity import cosine_topk
    from otrrentetl_spark.session import get_spark

    spark = get_spark("ann_scale_sweep")
    base = spark.read.parquet(BASE)
    corpus = _corpus(spark, replicas, scratch)
    n = corpus.count()
    print(f"corpus: {n} vectors")
    queries = _queries(base)
    exact = [
        {t["vec_id"] for t in cosine_topk(corpus, q, 10).collect()}
        for q in queries
    ]

    print("pfx_bits | build_s | files | probe_s | files_read | recall@10")
    for pb in (8, 10, 12):
        t0 = time.perf_counter()
        idx = AnnLshIndex.build(
            spark,
            corpus,
            f"{scratch}/lsh_p{pb}",
            n_planes=16,
            prefix_bits=pb,
            dim=64,
        )
        t_build = time.perf_counter() - t0
        total = len(idx._table()._read_snapshot()["files"])
        walls, fracs, recalls = [], [], []
        for q, ex in zip(queries, exact):
            probe_files = len(idx.topk(q, 10).inputFiles())
            w, got = _timed(
                lambda: {
                    t["vec_id"]
                    for t in idx.topk(q, 10, max_hamming=2).collect()
                }
            )
            walls.append(w)
            fracs.append(probe_files / total)
            recalls.append(len(got & ex))
        print(
            f"{pb:8d} | {t_build:7.2f} | {total:5d} |"
            f" {min(walls):7.2f} | {max(fracs):10.1%} |"
            f" {min(recalls)}-{max(recalls)}/10"
        )
    spark.stop()


def cmd_bigbuild(argv: list[str]) -> None:
    """r10 verdict item 7: drive the auto prefix rule past the p=12
    transition (claimed at ≥33M vectors; the r10 sweep stopped at
    8M). ONE build at replicas·2000 vectors (default 16,800 → 33.6M)
    with prefix_bits=None — assert the rule picks p=12, then confirm
    the hop keeps a probe's files-read fraction <20% with recall@10
    held against exact brute force.

        python tools/ann_scale.py bigbuild [replicas] [scratch]
    """
    import os

    replicas = int(argv[0]) if argv else 16_800
    scratch = argv[1] if len(argv) > 1 else "/tmp/ann_scale_big"
    # the ~17 GB corpus is reusable across retries; only the index
    # under test is rebuilt
    shutil.rmtree(f"{scratch}/lsh_auto", ignore_errors=True)
    shutil.rmtree(f"{scratch}/lsh_auto._WRITE_LOCK", ignore_errors=True)

    from otrrentetl_spark.operators.annindex import AnnLshIndex
    from otrrentetl_spark.operators.similarity import cosine_topk
    from otrrentetl_spark.session import get_spark

    # a 33.6M-row range-clustered build needs real heap; the 8g
    # default GC-thrashes on the sort (observed GCLocker retry death)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("ann_scale_bigbuild")
    base = spark.read.parquet(BASE)
    cpath = f"{scratch}/corpus.parquet"
    if os.path.exists(f"{cpath}/_SUCCESS"):
        corpus = spark.read.parquet(cpath)
    else:
        corpus = _corpus(spark, replicas, scratch)
    n = corpus.count()
    print(f"corpus: {n} vectors (dim 64)", flush=True)
    t0 = time.perf_counter()
    idx = AnnLshIndex.build(
        spark,
        corpus,
        f"{scratch}/lsh_auto",
        n_planes=16,
        prefix_bits=None,  # the rule under test
        dim=64,
    )
    t_build = time.perf_counter() - t0
    pb = idx.meta()["prefix_bits"]
    total = len(idx._table()._read_snapshot()["files"])
    print(
        f"build: {t_build:.1f}s, auto prefix_bits={pb}, {total} files",
        flush=True,
    )
    assert pb == 12, f"auto rule picked p={pb}, expected 12 at {n}"
    queries = _queries(base)
    for qi, q in enumerate(queries):
        t0 = time.perf_counter()
        ex = {t["vec_id"] for t in cosine_topk(corpus, q, 10).collect()}
        w_exact = time.perf_counter() - t0
        probe_files = len(idx.topk(q, 10).inputFiles())
        w, got = _timed(
            lambda: {
                t["vec_id"] for t in idx.topk(q, 10, max_hamming=2).collect()
            }
        )
        frac = probe_files / total
        print(
            f"q{qi}: probe {w:.2f}s vs exact {w_exact:.1f}s |"
            f" files read {probe_files}/{total} = {frac:.1%} |"
            f" recall {len(got & ex)}/10",
            flush=True,
        )
        assert frac < 0.20, f"files-read {frac:.1%} >= 20%"

    # r12 (r11 verdict item 2): drive the SAME fixed 1.5k-change
    # include_preimage fold cmd_refresh pins at 100k/2M through the
    # 33.6M index — batch-proportionality says the wall stays ~flat
    # through another 16.8x of index growth, because preimages remove
    # every index-proportional step from the fold path.
    from pyspark.sql import functions as F

    def batch_33m(lo=0):
        # replica-0 ids (< 2000 at any R) — same shape as
        # cmd_refresh's batch_for: 500 update pairs, 250 deletes,
        # 250 inserts = 1.5k change rows
        upd = corpus.filter(F.col("vec_id").between(lo, lo + 499))
        dele = corpus.filter(F.col("vec_id").between(lo + 500, lo + 749))
        ins = corpus.filter(F.col("vec_id").between(lo + 750, lo + 999))
        neg = F.transform("embedding", lambda x: -x)
        return (
            upd.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("v"),
                F.lit("update_preimage").alias("change_type"),
            )
            .unionByName(upd.select(
                F.col("vec_id").alias("id"), neg.alias("v"),
                F.lit("update").alias("change_type")))
            .unionByName(dele.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("v"),
                F.lit("delete").alias("change_type")))
            .unionByName(ins.select(
                (F.col("vec_id") + 4_000_000_000).alias("id"),
                neg.alias("v"), F.lit("insert").alias("change_type")))
            .localCheckpoint(eager=True)
        )

    batch = batch_33m()
    nb = batch.count()
    t0 = time.perf_counter()
    idx.apply_changes(batch)
    w_fold = time.perf_counter() - t0
    # ADVICE r12 (ann_scale.py:669): gate on THIS fold's fallback
    # count, not the sidecar's CUMULATIVE locate_fallback_ids_total —
    # the sidecar persists across runs of the reused on-disk index, so
    # any historical fallback would fail the gate spuriously even when
    # this fold was fully batch-proportional.
    fb = int(idx.last_fold_stats.get("located_fallback_ids", 0))
    print(
        f"refresh: {nb}-row batch into {n}-vector index: {w_fold:.2f}s"
        f" (locate fallbacks this fold: {fb})",
        flush=True,
    )
    assert fb == 0, "preimage fold must never hit the locate fallback"
    enforce_budgets({"ann_refresh_33m": w_fold}, "ann33m")
    spark.stop()


def cmd_maintain33m(argv: list[str]) -> None:
    """r12 (r11 verdict item 2, second leg): the 33.6M fold into a
    FRESH-BUILT index is file-level-COW-bound, not batch-bound — at
    the p=12 cap the bucket count saturates (4096 dirs), so per-bucket
    files grow with the corpus (~4.1k rows each) and a 1.5k-change
    fold rewrites ~900 fat files ≈ 3.6M rows (measured 155 s vs the
    2M pin's 19.5 s). The engine's own remedy is the r12 batched
    cluster-compact: 8 range-disjoint files per bucket cut the
    per-hit rewrite ~8×. This leg reuses bigbuild's on-disk index,
    times the 33.6M compact (one job, one flip, 4096×8 = 32,768 exact
    files) and a SECOND disjoint 1.5k-change fold, printing the COW
    accounting.

        python tools/ann_scale.py maintain33m [scratch]
    """
    import os

    scratch = argv[0] if argv else "/tmp/ann_scale_big"
    from pyspark.sql import functions as F

    from otrrentetl_spark.operators.annindex import AnnLshIndex
    from otrrentetl_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("ann_scale_maintain33m")
    idx = AnnLshIndex(spark, f"{scratch}/lsh_auto")
    t = idx._table()
    # scratch fixture, no in-flight probes: zero retention keeps the
    # disk high-water mark to live + transient bytes (the default 1h
    # probe-safety window would hold a full superseded copy of the
    # 17 GB index alongside the rewrite); clear prior debris first
    t.retain_stale_s = 0.0
    t.vacuum()
    snap0 = t._read_snapshot()
    print(
        f"index: v{snap0['version']}, {len(snap0['files'])} files,"
        f" {len({f.split('/', 1)[0] for f in snap0['files']})} buckets",
        flush=True,
    )
    t0 = time.perf_counter()
    t.compact(partitions=None, files_per_partition=8, cluster=True)
    w_c = time.perf_counter() - t0
    snap_c = t._read_snapshot()
    assert snap_c["version"] == snap0["version"] + 1, "must be ONE flip"
    per: dict[str, int] = {}
    rows_per: dict[str, int] = {}
    for f in snap_c["files"]:
        d = f.split("/", 1)[0]
        per[d] = per.get(d, 0) + 1
        st = snap_c["stats"].get(f)
        if st:
            rows_per[d] = rows_per.get(d, 0) + int(st["rows"])
    # exact-count contract at skewed bucket sizes: min(8, bucket rows)
    # files per bucket (jittered replicas concentrate signatures, so
    # the prefix histogram has a sub-8-row tail)
    bad = {
        d: (c, rows_per.get(d))
        for d, c in per.items()
        if c != min(8, rows_per.get(d, 8))
    }
    assert not bad, dict(list(bad.items())[:5])
    full = sum(1 for c in per.values() if c == 8)
    print(
        f"cluster-compact at 33.6M: {w_c:.1f}s — one flip,"
        f" {len(per)} buckets, {len(snap_c['files'])} files"
        f" ({full} buckets at the full 8; the rest are sub-8-row"
        " tail buckets at one file per row — exact)",
        flush=True,
    )

    def batch_33m(lo):
        # vectors come from the INDEX itself (it stores id + v) — the
        # 17 GB corpus fixture isn't needed, and on a disk-tight box
        # it can be deleted before this leg to make room for the
        # compact's transient shuffle/output bytes
        corpus = t.read().select(
            F.col("id").alias("vec_id"), F.col("v").alias("embedding")
        )
        upd = corpus.filter(F.col("vec_id").between(lo, lo + 499))
        dele = corpus.filter(F.col("vec_id").between(lo + 500, lo + 749))
        ins = corpus.filter(F.col("vec_id").between(lo + 750, lo + 999))
        neg = F.transform("embedding", lambda x: -x)
        return (
            upd.select(F.col("vec_id").alias("id"),
                       F.col("embedding").alias("v"),
                       F.lit("update_preimage").alias("change_type"))
            .unionByName(upd.select(
                F.col("vec_id").alias("id"), neg.alias("v"),
                F.lit("update").alias("change_type")))
            .unionByName(dele.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("v"),
                F.lit("delete").alias("change_type")))
            .unionByName(ins.select(
                (F.col("vec_id") + 4_100_000_000).alias("id"),
                neg.alias("v"), F.lit("insert").alias("change_type")))
            .localCheckpoint(eager=True)
        )

    batch = batch_33m(1000)  # disjoint from bigbuild's lo=0 fold
    nb = batch.count()
    pre = set(snap_c["files"])
    t0 = time.perf_counter()
    idx.apply_changes(batch)
    w_fold = time.perf_counter() - t0
    post = set(t._read_snapshot()["files"])
    rewritten = len(pre - post)
    fb = int(idx.last_fold_stats.get("located_fallback_ids", 0))
    print(
        f"post-maintenance fold: {nb}-row batch: {w_fold:.2f}s,"
        f" rewrote {rewritten} of {len(pre)} files"
        f" ({len(pre & post)} kept) — locate fallbacks this fold {fb}",
        flush=True,
    )
    enforce_budgets({"ann_refresh_33m": w_fold}, "ann33m")
    spark.stop()


def cmd_ivfk(argv: list[str]) -> None:
    replicas = int(argv[0]) if argv else 1000
    k = int(argv[1]) if len(argv) > 1 else 4096
    scratch = argv[2] if len(argv) > 2 else "/tmp/ann_scale_ivfk"
    shutil.rmtree(scratch, ignore_errors=True)

    from pyspark.sql import functions as F

    from otrrentetl_spark.operators.annindex import IvfIndex
    from otrrentetl_spark.session import get_spark

    spark = get_spark("ann_scale_ivfk")
    base = spark.read.parquet(BASE)
    corpus = _corpus(spark, replicas, scratch)
    n = corpus.count()
    # centroid QUALITY is irrelevant to the storage/walls question:
    # use k deterministic corpus vectors as stand-in centroids (a real
    # deployment trains them offline once per refresh)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in corpus.orderBy("vec_id").limit(k).collect()
    ]
    print(f"corpus: {n} vectors | k={k} centroids")

    t0 = time.perf_counter()
    idx = IvfIndex.build(spark, corpus, f"{scratch}/ivf", cents)
    t_build = time.perf_counter() - t0
    total = len(idx._table()._read_snapshot()["files"])
    print(f"build: {t_build:.2f}s, {total} index files,"
          f" meta={'sidecar' if idx.meta()['centroids'] == 'sidecar' else 'inline'}")

    # cold reader: fresh object, centroid load from disk
    t0 = time.perf_counter()
    fresh = IvfIndex(spark, f"{scratch}/ivf")
    n_cents = len(fresh.centroids())
    t_meta = time.perf_counter() - t0
    print(f"cold meta+centroid load: {t_meta:.3f}s ({n_cents} centroids)")

    q = [float(x) for x in base.orderBy("vec_id").first()["embedding"]]
    probe_files = len(fresh.topk(q, 10, nprobe=16).inputFiles())
    w, _ = _timed(
        lambda: fresh.topk(q, 10, nprobe=16).collect()
    )
    print(f"probe (nprobe=16): {w:.2f}s, {probe_files}/{total} files")
    # bulk face at large k exercises the broadcast-frame aggregation
    qtab = (
        base.limit(200)
        .select(
            (F.col("vec_id") + 3_000_000_000).alias("qid"),
            F.col("embedding").alias("qvec"),
        )
    )
    w, rows = _timed(
        lambda: fresh.knn_join_bulk(
            qtab, k=10, nprobe=16, assume_unique_qids=True
        ).count(),
        runs=2,
    )
    print(f"bulk knn (200 queries, agg assignment path): {rows} rows in {w:.2f}s")
    spark.stop()


def main() -> None:
    argv = sys.argv[1:]
    cmds = {
        "probes": cmd_probes,
        "bulk": cmd_bulk,
        "sweep": cmd_sweep,
        "ivfk": cmd_ivfk,
        "refresh": cmd_refresh,
        "bigbuild": cmd_bigbuild,
        "maintain33m": cmd_maintain33m,
    }
    if argv and argv[0] in cmds:
        cmds[argv[0]](argv[1:])
    else:
        cmd_probes(argv)  # back-compat: [replicas] [scratch]


if __name__ == "__main__":
    main()
