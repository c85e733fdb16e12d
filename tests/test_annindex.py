"""Materialized ANN index (r7 verdict item 2): indexed probes must be
bit-identical to the inline operators, must read a strict subset of
the table's files, and must refresh incrementally from a change-feed
batch without a rebuild."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otrrentetl_spark.catalog import load_table
from otrrentetl_spark.operators import annindex, similarity
from otrrentetl_spark.operators.annindex import (
    AnnLshIndex,
    IvfIndex,
    _hamming_ball,
)

SF = "/root/testdata/sf0.01"
_DEFAULT_BOUND = annindex._DRIVER_MAX_MACS


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def qvec(spark, emb):
    return [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_hamming_ball_size_and_membership():
    ball = _hamming_ball(0b101, 12, 2)
    assert len(ball) == 1 + 12 + 66
    assert len(set(ball)) == len(ball)
    assert all(bin(s ^ 0b101).count("1") <= 2 for s in ball)


def test_lsh_indexed_matches_inline(spark, emb, qvec, tmp_path):
    corpus = emb.filter(F.col("vec_id") != 0)
    idx = AnnLshIndex.build(
        spark, corpus, str(tmp_path / "lsh"), n_planes=12, prefix_bits=6
    )
    inline = similarity.ann_topk_lsh(
        corpus, qvec, k=20, n_planes=12, max_hamming=2
    ).select("vec_id", "cosine_sim")
    indexed = idx.topk(qvec, k=20, max_hamming=2)
    assert _rows(indexed) == _rows(inline)


def test_lsh_probe_reads_strict_file_subset(spark, emb, qvec, tmp_path):
    idx = AnnLshIndex.build(
        spark,
        emb.filter(F.col("vec_id") != 0),
        str(tmp_path / "lsh"),
        n_planes=12,
        prefix_bits=6,
    )
    all_files = set(idx._table().read().inputFiles())
    probe_files = set(idx.topk(qvec, k=20, max_hamming=2).inputFiles())
    assert probe_files  # the probe read something
    assert probe_files < all_files  # STRICT subset — the index prunes
    # two-level pruning: every probed file sits in a ball-prefix dir
    m = idx.meta()
    import numpy as np

    planes = similarity.hyperplanes(m["dim"], m["n_planes"], m["seed"])
    q_sig = sum(
        (1 << j) for j, h in enumerate(planes) if float(np.dot(qvec, h)) > 0
    )
    shift = m["n_planes"] - m["prefix_bits"]
    prefixes = {s >> shift for s in _hamming_ball(q_sig, m["n_planes"], 2)}
    for f in probe_files:
        part = [p for p in f.split("/") if p.startswith("pfx=")]
        assert part and int(part[0].split("=")[1]) in prefixes


def test_ivf_indexed_matches_inline(spark, emb, qvec, tmp_path):
    cents = similarity.kmeans_centroids(emb, k=16, iters=2)
    idx = IvfIndex.build(spark, emb, str(tmp_path / "ivf"), cents)
    inline = similarity.ivf_topk(emb, qvec, cents, k=10, nprobe=6).select(
        "vec_id", "cosine_sim"
    )
    indexed = idx.topk(qvec, k=10, nprobe=6)
    assert _rows(indexed) == _rows(inline)
    # strict-subset read for IVF too
    all_files = set(idx._table().read().inputFiles())
    probe_files = set(idx.topk(qvec, k=10, nprobe=6).inputFiles())
    assert probe_files and probe_files < all_files


def test_lsh_apply_changes_matches_rebuild(spark, emb, qvec, tmp_path):
    """Insert + update + delete folded via apply_changes must equal a
    full rebuild over the mutated corpus (probe-for-probe)."""
    corpus = emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") <= 400))
    idx = AnnLshIndex.build(
        spark, corpus, str(tmp_path / "lsh"), n_planes=12, prefix_bits=6
    )
    # mutation: delete 2 vectors, update 2 (negate them — moves their
    # bucket), insert 2 new ids reusing other rows' vectors
    upd = (
        emb.filter(F.col("vec_id").isin(1, 2))
        .select(
            F.col("vec_id").alias("id"),
            F.transform("embedding", lambda x: -x).alias("v"),
        )
        .withColumn("change_type", F.lit("update"))
    )
    dele = (
        emb.filter(F.col("vec_id").isin(3, 4))
        .select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("v"),
        )
        .withColumn("change_type", F.lit("delete"))
    )
    ins = (
        emb.filter(F.col("vec_id").isin(5, 6))
        .select(
            (F.col("vec_id") + 100000).alias("id"),
            F.col("embedding").alias("v"),
        )
        .withColumn("change_type", F.lit("insert"))
    )
    idx.apply_changes(upd.unionByName(dele).unionByName(ins))

    mutated = (
        corpus.filter(~F.col("vec_id").isin(1, 2, 3, 4))
        .select("vec_id", "embedding")
        .unionByName(
            upd.select(F.col("id").alias("vec_id"), F.col("v").alias("embedding"))
        )
        .unionByName(
            ins.select(F.col("id").alias("vec_id"), F.col("v").alias("embedding"))
        )
    )
    rebuilt = AnnLshIndex.build(
        spark, mutated, str(tmp_path / "lsh2"), n_planes=12, prefix_bits=6
    )
    assert _rows(idx.topk(qvec, k=15)) == _rows(rebuilt.topk(qvec, k=15))
    # the index's full content matches too, not just one probe
    a = sorted(_rows(idx._table().read().select("id", "sig")))
    b = sorted(_rows(rebuilt._table().read().select("id", "sig")))
    assert a == b


def test_lsh_refresh_from_base_table_change_feed(spark, emb, tmp_path):
    """End-to-end K8 integration: a keyed BASE table of vectors emits
    a change-feed batch; projecting it to (id, v, change_type) and
    applying it brings the index to the base table's state."""
    from otrrentetl_spark.operators.merge import KeyedParquetTable
    from otrrentetl_spark.streaming.changefeed import ChangeFeed

    base = KeyedParquetTable(
        spark, str(tmp_path / "base"), keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    seed = emb.filter(F.col("vec_id").between(1, 200)).select(
        (F.col("vec_id") % 4).alias("grp"), "vec_id", "embedding"
    )
    base.overwrite(seed)
    idx = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / "lsh"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    feed = ChangeFeed(base, str(tmp_path / "ckpt.json"), initial="latest")
    assert feed.poll(lambda df, a, b: None) is None  # pin current

    # base-table mutation: replace grp=1 with negated vectors
    new_part = (
        emb.filter((F.col("vec_id").between(1, 200)) & (F.col("vec_id") % 4 == 1))
        .select(
            F.lit(1).alias("grp"),
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
    )
    base.upsert_replace_partitions(new_part)

    def apply_batch(df, a, b):
        idx.apply_changes(
            df.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("v"),
                "change_type",
            )
        )

    assert feed.poll(apply_batch) is not None
    rebuilt = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / "lsh2"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    a = sorted(_rows(idx._table().read().select("id", "sig")))
    b = sorted(_rows(rebuilt._table().read().select("id", "sig")))
    assert a == b


def test_knn_join_matches_per_query_probes_and_prunes(spark, emb, tmp_path):
    """The batch face must equal k per-query probes row-for-row and
    read only the union of the query balls' prefix partitions."""
    corpus = emb.filter(F.col("vec_id") >= 10)
    idx = AnnLshIndex.build(
        spark, corpus, str(tmp_path / "knn"), n_planes=12, prefix_bits=6
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    batch = idx.knn_join(q, k=3, max_hamming=2)
    got = {
        (r["qid"], r["rk"]): (r["vec_id"], r["cosine_sim"])
        for r in batch.collect()
    }
    for row in q.collect():
        probe = idx.topk(
            [float(x) for x in row["qvec"]], k=3, max_hamming=2
        ).collect()
        for rk, p in enumerate(probe, start=1):
            assert got[(row["qid"], rk)] == (
                p["vec_id"], p["cosine_sim"]
            ), (row["qid"], rk)
    def norm(paths):
        return {p.split("://")[-1] for p in paths}

    read = norm(batch.inputFiles())
    full = norm(
        f"{idx.path}/{f}" for f in idx._table()._read_snapshot()["files"]
    )
    assert read and read < full, (len(read), len(full))


def test_ivf_knn_join_matches_per_query_probes(spark, emb, tmp_path):
    from otrrentetl_spark.operators.similarity import kmeans_lloyd

    corpus = emb.filter(F.col("vec_id") >= 10)
    _, cents_df = kmeans_lloyd(emb, k=16, iters=1)
    centroids = [
        (int(r["cid"]), [float(x) for x in r["c"]])
        for r in cents_df.collect()
    ]
    idx = IvfIndex.build(spark, corpus, str(tmp_path / "ivfknn"), centroids)
    # few queries so the probed-cluster union stays a strict subset
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    batch = idx.knn_join(q, k=3, nprobe=2)
    got = {
        (r["qid"], r["rk"]): (r["vec_id"], r["cosine_sim"])
        for r in batch.collect()
    }
    for row in q.collect():
        probe = idx.topk(
            [float(x) for x in row["qvec"]], k=3, nprobe=2
        ).collect()
        for rk, p in enumerate(probe, start=1):
            assert got[(row["qid"], rk)] == (p["vec_id"], p["cosine_sim"])
    read = {p.split("://")[-1] for p in batch.inputFiles()}
    full = {
        f"{idx.path}/{f}".split("://")[-1]
        for f in idx._table()._read_snapshot()["files"]
    }
    assert read and read < full, (len(read), len(full))


def test_knn_join_rejects_colliding_qid_col(spark, emb, tmp_path):
    """A qid column named like an output column is refused, by name,
    by every kNN face of both index kinds: under ``rk`` the ranks would
    silently replace the query ids, under ``cosine_sim`` the plan
    fails with an opaque ambiguous reference."""
    corpus = emb.filter(F.col("vec_id") >= 10)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    for idx in (
        AnnLshIndex.build(
            spark, corpus, str(tmp_path / "clash"), n_planes=12,
            prefix_bits=6,
        ),
        IvfIndex.build(spark, corpus, str(tmp_path / "clash_ivf"), cents),
    ):
        for name in ("vec_id", "rk", "cosine_sim"):
            q = emb.limit(2).select(
                F.col("vec_id").alias(name), F.col("embedding").alias("qvec")
            )
            for face in (idx.knn_join, idx.knn_join_bulk):
                with pytest.raises(ValueError, match=f"qid_col='{name}'"):
                    face(q, qid_col=name)


# -------------------------------------------------- r9: bulk kNN faces
def _keyed(df):
    return {
        (r["qid"], r["rk"]): (r["vec_id"], r["cosine_sim"])
        for r in df.collect()
    }


def test_lsh_bulk_matches_broadcast_face(spark, emb, tmp_path):
    """knn_join_bulk (executor-side signatures, shuffle join) must be
    row-identical to knn_join (driver-side signatures, broadcast) on
    identical inputs — the r8 verdict's hash-match criterion."""
    corpus = emb.filter(F.col("vec_id") >= 10)
    idx = AnnLshIndex.build(
        spark, corpus, str(tmp_path / "bulk"), n_planes=12, prefix_bits=6
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = _keyed(idx.knn_join(q, k=3, max_hamming=2))
    assert want
    got = _keyed(idx.knn_join_bulk(q, k=3, max_hamming=2))
    assert got == want
    # the unpruned path is the same relation
    got_np = _keyed(
        idx.knn_join_bulk(q, k=3, max_hamming=2, prune_partitions=False)
    )
    assert got_np == want


def test_lsh_bulk_prunes_index_files(spark, emb, tmp_path):
    corpus = emb.filter(F.col("vec_id") >= 10)
    idx = AnnLshIndex.build(
        spark, corpus, str(tmp_path / "bulkp"), n_planes=12, prefix_bits=6
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    bulk = idx.knn_join_bulk(q, k=3, max_hamming=2)
    # only count INDEX files: the bulk face legitimately also scans
    # the query parquet (unlike the broadcast face's literal frame)
    read = {
        p.split("://")[-1]
        for p in bulk.inputFiles()
        if p.split("://")[-1].startswith(idx.path)
    }
    full = {
        f"{idx.path}/{f}".split("://")[-1]
        for f in idx._table()._read_snapshot()["files"]
    }
    assert read and read < full, (len(read), len(full))


@pytest.fixture
def spark_path_calls(monkeypatch):
    """A spy on the IVF bulk face's Spark path: one entry per call of
    ``_queries``, the path's first step (the driver path never calls
    it)."""
    calls = []
    first_step = IvfIndex._queries

    def spy(self, *args, **kwargs):
        calls.append(args)
        return first_step(self, *args, **kwargs)

    monkeypatch.setattr(IvfIndex, "_queries", spy)
    return calls


BULK_PATHS = ["spark_path", "driver_path"]


def _take_path(path, monkeypatch):
    """Send driver-sized IVF bulk calls down ``path``: the Spark path
    with the driver path's bound at 0, else the default bound."""
    bound = 0 if path == "spark_path" else _DEFAULT_BOUND
    monkeypatch.setattr(annindex, "_DRIVER_MAX_MACS", bound)


@pytest.mark.parametrize("path", BULK_PATHS)
def test_ivf_bulk_matches_broadcast_face(
    spark, emb, tmp_path, monkeypatch, spark_path_calls, path
):
    from otrrentetl_spark.operators.similarity import kmeans_lloyd

    _take_path(path, monkeypatch)

    corpus = emb.filter(F.col("vec_id") >= 10)
    _, cents_df = kmeans_lloyd(emb, k=16, iters=1)
    centroids = [
        (int(r["cid"]), [float(x) for x in r["c"]])
        for r in cents_df.collect()
    ]
    idx = IvfIndex.build(spark, corpus, str(tmp_path / "ivfbulk"), centroids)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = _keyed(idx.knn_join(q, k=3, nprobe=2))
    assert want
    assert _keyed(idx.knn_join_bulk(q, k=3, nprobe=2)) == want
    assert (
        _keyed(idx.knn_join_bulk(q, k=3, nprobe=2, prune_partitions=False))
        == want
    )
    assert len(spark_path_calls) == (2 if path == "spark_path" else 0)


@pytest.mark.parametrize("path", BULK_PATHS)
def test_ivf_bulk_large_k_agg_path_matches(
    spark, emb, tmp_path, monkeypatch, spark_path_calls, path
):
    """Beyond _EXPR_ASSIGN_MAX centroids the bulk face switches to the
    broadcast-frame aggregation path and build switches to the
    min-struct assignment; both must still match the broadcast face
    (which ranks with the same l2sq_fold arithmetic)."""
    from otrrentetl_spark.operators.annindex import _EXPR_ASSIGN_MAX

    _take_path(path, monkeypatch)
    corpus = emb.filter(F.col("vec_id") >= 10)
    k_cents = _EXPR_ASSIGN_MAX + 8
    cent_rows = (
        emb.filter(F.col("vec_id") < k_cents)
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cent_rows
    ]
    idx = IvfIndex.build(spark, corpus, str(tmp_path / "ivfbig"), centroids)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = _keyed(idx.knn_join(q, k=3, nprobe=3))
    assert want
    assert _keyed(idx.knn_join_bulk(q, k=3, nprobe=3)) == want
    assert len(spark_path_calls) == (path == "spark_path")


def test_ivf_centroid_sidecar_roundtrip(spark, emb, tmp_path):
    """> _INLINE_CENTROIDS_MAX centroids move to the parquet sidecar;
    a fresh reader reconstructs them and probes identically."""
    from otrrentetl_spark.operators.annindex import _INLINE_CENTROIDS_MAX

    corpus = emb.filter(F.col("vec_id") >= 400)
    k_cents = _INLINE_CENTROIDS_MAX + 10
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < k_cents)
        .select("vec_id", "embedding")
        .collect()
    ]
    idx = IvfIndex.build(spark, corpus, str(tmp_path / "side"), centroids)
    assert idx.meta()["centroids"] == "sidecar"
    fresh = IvfIndex(spark, str(tmp_path / "side"))
    assert fresh.centroids() == sorted(centroids)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    a = _rows(idx.topk(qvec, k=5, nprobe=4))
    b = _rows(fresh.topk(qvec, k=5, nprobe=4))
    assert a and a == b


def test_bulk_faces_reject_duplicate_qids(spark, emb, tmp_path):
    idx = AnnLshIndex.build(
        spark,
        emb.filter(F.col("vec_id") >= 10),
        str(tmp_path / "dups"),
        n_planes=12,
        prefix_bits=6,
    )
    q = emb.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") % 2).alias("qid"), F.col("embedding").alias("qvec")
    )
    with pytest.raises(ValueError, match="duplicate"):
        idx.knn_join(q)
    with pytest.raises(ValueError, match="duplicate"):
        idx.knn_join_bulk(q)
    # the opt-out skips the validation pass
    assert idx.knn_join_bulk(q, k=2, assume_unique_qids=True).count() > 0


def test_signature_parity_on_adversarial_projections(spark):
    """lsh_signature (driver fold) must equal the lsh_bucket expression
    bit-for-bit even when a plane projection is within an ulp of zero —
    the exact case where np.dot's pairwise accumulation can disagree
    with the sequential fold (r8 verdict: the sign-flip concern)."""
    import numpy as np

    from otrrentetl_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket,
        lsh_signature,
    )

    dim, n_planes = 64, 12
    planes = hyperplanes(dim, n_planes)
    rng = np.random.RandomState(7)
    vecs = []
    for j in range(n_planes):
        h = planes[j]
        for _ in range(4):
            v = rng.randn(dim)
            # project out the h_j component: the fold's partial sums
            # now cancel to an O(1e-16) residue whose SIGN is pure
            # accumulation-order
            v = v - (np.dot(v, h) / np.dot(h, h)) * h
            vecs.append([float(x) for x in v])
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i long, v array<double>"
    )
    got = {
        r["i"]: r["sig"]
        for r in df.select(
            "i", lsh_bucket(F.col("v"), planes).alias("sig")
        ).collect()
    }
    for i, v in enumerate(vecs):
        assert got[i] == lsh_signature(v, planes), i


def test_build_prefix_bits_validation_and_auto(spark, emb, tmp_path):
    corpus = emb.filter(F.col("vec_id") < 200)
    with pytest.raises(ValueError, match="prefix_bits"):
        AnnLshIndex.build(
            spark, corpus, str(tmp_path / "bad"), n_planes=16, prefix_bits=20
        )
    # auto sizing: tiny corpus clamps to the floor of 4 bits
    idx = AnnLshIndex.build(
        spark, corpus, str(tmp_path / "auto"), n_planes=16, prefix_bits=None
    )
    assert idx.meta()["prefix_bits"] == 4


def test_ivf_apply_changes_matches_rebuild(spark, emb, qvec, tmp_path):
    """IVF refresh parity with the LSH face: insert + update (moved
    cluster) + delete folded via apply_changes must equal a full
    rebuild over the mutated corpus — index content and probe."""
    cents = similarity.kmeans_centroids(emb, k=16, iters=1)
    corpus = emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") <= 400))
    idx = IvfIndex.build(spark, corpus, str(tmp_path / "ivfref"), cents)
    upd = (
        emb.filter(F.col("vec_id").isin(1, 2))
        .select(
            F.col("vec_id").alias("id"),
            F.transform("embedding", lambda x: -x).alias("v"),
        )
        .withColumn("change_type", F.lit("update"))
    )
    dele = (
        emb.filter(F.col("vec_id").isin(3, 4))
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
        .withColumn("change_type", F.lit("delete"))
    )
    ins = (
        emb.filter(F.col("vec_id").isin(5, 6))
        .select(
            (F.col("vec_id") + 2_000_000_000).alias("id"),
            F.col("embedding").alias("v"),
        )
        .withColumn("change_type", F.lit("insert"))
    )
    idx.apply_changes(upd.unionByName(dele).unionByName(ins))
    mutated = (
        corpus.filter(~F.col("vec_id").isin(1, 2, 3, 4))
        .select("vec_id", "embedding")
        .unionByName(
            upd.select(F.col("id").alias("vec_id"), F.col("v").alias("embedding"))
        )
        .unionByName(
            ins.select(F.col("id").alias("vec_id"), F.col("v").alias("embedding"))
        )
    )
    rebuilt = IvfIndex.build(spark, mutated, str(tmp_path / "ivfref2"), cents)
    assert _rows(idx.topk(qvec, k=10, nprobe=6)) == _rows(
        rebuilt.topk(qvec, k=10, nprobe=6)
    )
    a = sorted(_rows(idx._table().read().select("id", "cluster")))
    b = sorted(_rows(rebuilt._table().read().select("id", "cluster")))
    assert a == b


def test_near_dup_join_finds_planted_dups_only(spark, emb, tmp_path):
    """The crawl-dedup face: planted scaled copies come back at
    cosine ~1.0, novel candidates return no row; duplicate candidate
    ids are allowed (independent membership checks)."""
    corpus = emb.filter(F.col("vec_id") >= 40)
    idx = AnnLshIndex.build(
        spark, corpus, str(tmp_path / "nd"), n_planes=12, prefix_bits=6
    )
    copies = emb.filter(F.col("vec_id").between(80, 84)).select(
        (F.col("vec_id") + 2_000_000_000).alias("qid"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.001).cast("float")
        ).alias("qvec"),
    )
    novel = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = idx.near_dup_join(
        novel.unionByName(copies), threshold=0.98
    ).collect()
    pairs = {(r["qid"], r["vec_id"]) for r in got}
    assert pairs == {
        (2_000_000_000 + i, i) for i in range(80, 85)
    }, pairs
    assert all(r["cosine_sim"] >= 0.999 for r in got)
    # duplicate qids: two identical candidate rows -> two identical
    # membership answers, no error
    dup_q = copies.limit(1).unionByName(copies.limit(1))
    assert idx.near_dup_join(dup_q, threshold=0.98).count() == 2



def test_lsh_apply_changes_preimage_batch_is_batch_proportional(
    spark, emb, qvec, tmp_path
):
    """r9 verdict item 1: with a preimage-carrying feed, apply_changes
    must fold a CDC batch while reading ONLY the touched buckets'
    index files — never the full index. Every manifest-pinned read is
    recorded at the _read_files primitive (manifest tables enumerate
    their executed file set explicitly) and checked against the
    touched-bucket dirs computed from the batch itself; the full-table
    read() must not run against the index at all."""
    from otrrentetl_spark.operators.merge import KeyedParquetTable
    from otrrentetl_spark.operators.similarity import (
        hyperplanes,
        lsh_signature,
    )
    from otrrentetl_spark.streaming.changefeed import ChangeFeed

    base = KeyedParquetTable(
        spark, str(tmp_path / "base"), keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    seed = emb.filter(F.col("vec_id").between(1, 400)).select(
        (F.col("vec_id") % 4).alias("grp"), "vec_id", "embedding"
    )
    base.overwrite(seed)
    idx = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / "lsh"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    feed = ChangeFeed(
        base, str(tmp_path / "ckpt.json"), initial="latest",
        include_preimage=True,
    )
    assert feed.poll(lambda df, a, b: None) is None  # pin current

    # mutate: update 2 (negated — moves bucket), delete 1, insert 1
    base.upsert_replace_partitions(
        emb.filter(F.col("vec_id").isin(1, 5)).select(
            F.lit(1).alias("grp"),
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        ).unionByName(
            emb.filter(F.col("vec_id") == 2).select(
                F.lit(2).alias("grp"),
                (F.col("vec_id") + 2_000_000_000).alias("vec_id"),
                "embedding",
            )
        )
    )
    base.delete_by_keys(
        spark.createDataFrame([(3, 3)], "grp long, vec_id long")
    )

    # expected touched prefix dirs, computed from the mutation itself
    m = idx.meta()
    planes = hyperplanes(m["dim"], m["n_planes"], m["seed"])
    shift = m["n_planes"] - m["prefix_bits"]
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(1, 2, 3, 5)).collect()
    }
    touched = set()
    for vid in (1, 5):  # updates: old AND new bucket
        old = lsh_signature(vecs[vid], planes) >> shift
        new = lsh_signature([-x for x in vecs[vid]], planes) >> shift
        touched |= {old, new}
    touched.add(lsh_signature(vecs[3], planes) >> shift)  # delete: old
    touched.add(lsh_signature(vecs[2], planes) >> shift)  # insert: new
    touched_dirs = {f"pfx={p}" for p in touched}
    all_dirs = {
        f.split("/", 1)[0]
        for f in idx._table()._read_snapshot()["files"]
    }
    assert not (all_dirs <= touched_dirs), "fixture must leave untouched buckets"

    recorded: list[tuple[str, list[str]]] = []
    full_reads: list[str] = []
    orig_read_files = KeyedParquetTable._read_files
    orig_read_with = KeyedParquetTable._read_with

    def spy_read_files(self, sess, files, **kw):
        recorded.append((self.path, list(files)))
        return orig_read_files(self, sess, files, **kw)

    def spy_read_with(self, sess, version=None):
        full_reads.append(self.path)
        return orig_read_with(self, sess, version)

    KeyedParquetTable._read_files = spy_read_files
    KeyedParquetTable._read_with = spy_read_with
    try:
        def apply_batch(df, _a, _b):
            idx.apply_changes(
                df.select(
                    F.col("vec_id").alias("id"),
                    F.col("embedding").alias("v"),
                    "change_type",
                )
            )

        assert feed.poll(apply_batch) is not None
    finally:
        KeyedParquetTable._read_files = orig_read_files
        KeyedParquetTable._read_with = orig_read_with

    idx_path = str(tmp_path / "lsh")
    # the full-table read path never ran against the index
    assert idx_path not in full_reads, full_reads
    # every pinned index read stayed inside the touched buckets
    for path, files in recorded:
        if path != idx_path:
            continue
        dirs = {f.split("/", 1)[0] for f in files}
        assert dirs <= touched_dirs, (sorted(dirs - touched_dirs))
    # and the fold itself is correct: index equals a rebuild
    rebuilt = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / "lsh2"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    a = sorted(_rows(idx._table().read().select("id", "sig")))
    b = sorted(_rows(rebuilt._table().read().select("id", "sig")))
    assert a == b


def test_ivf_apply_changes_preimage_batch_skips_locate_scan(
    spark, emb, tmp_path
):
    """The IVF twin of the accounting test: a preimage batch folds
    with index reads confined to the touched clusters."""
    from otrrentetl_spark.operators.merge import KeyedParquetTable
    from otrrentetl_spark.operators.similarity import kmeans_lloyd
    from otrrentetl_spark.streaming.changefeed import ChangeFeed

    corpus = emb.filter(F.col("vec_id").between(1, 400))
    _, cents_df = kmeans_lloyd(corpus, k=8, iters=2)
    cents = [
        (int(r["cid"]), [float(x) for x in r["c"]])
        for r in cents_df.collect()
    ]
    base = KeyedParquetTable(
        spark, str(tmp_path / "base"), keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    base.overwrite(
        corpus.select((F.col("vec_id") % 4).alias("grp"), "vec_id", "embedding")
    )
    idx = IvfIndex.build(
        spark, base.read(), str(tmp_path / "ivf"), cents, id_col="vec_id"
    )
    feed = ChangeFeed(
        base, str(tmp_path / "ckpt.json"), initial="latest",
        include_preimage=True,
    )
    feed.poll(lambda df, a, b: None)
    base.upsert_replace_partitions(
        emb.filter(F.col("vec_id") == 7).select(
            F.lit(3).alias("grp"),
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
    )
    base.delete_by_keys(
        spark.createDataFrame([(2, 2)], "grp long, vec_id long")
    )

    full_reads: list[str] = []
    orig_read_with = KeyedParquetTable._read_with

    def spy_read_with(self, sess, version=None):
        full_reads.append(self.path)
        return orig_read_with(self, sess, version)

    KeyedParquetTable._read_with = spy_read_with
    try:
        def apply_batch(df, _a, _b):
            idx.apply_changes(
                df.select(
                    F.col("vec_id").alias("id"),
                    F.col("embedding").alias("v"),
                    "change_type",
                )
            )

        assert feed.poll(apply_batch) is not None
    finally:
        KeyedParquetTable._read_with = orig_read_with
    assert str(tmp_path / "ivf") not in full_reads, full_reads
    # fold equals rebuild
    rebuilt = IvfIndex.build(
        spark, base.read(), str(tmp_path / "ivf2"), cents, id_col="vec_id"
    )
    a = sorted(_rows(idx._table().read().select("id", "cluster")))
    b = sorted(_rows(rebuilt._table().read().select("id", "cluster")))
    assert a == b


def test_ivf_bulk_large_k_prune_default_and_single_assignment(
    spark, emb, tmp_path, monkeypatch
):
    """r9 verdict item 4: at k > _EXPR_ASSIGN_MAX the bulk face
    defaults to prune_partitions=False (single assignment pass), and
    an EXPLICIT prune_partitions=True pins the narrow assigned frame
    (localCheckpoint → the join consumes a materialized ExistingRDD,
    so the expensive centroid ranking runs once) — with identical
    results either way."""
    from otrrentetl_spark.operators.annindex import _EXPR_ASSIGN_MAX

    # the plan shapes below are the Spark path's
    monkeypatch.setattr(annindex, "_DRIVER_MAX_MACS", 0)
    corpus = emb.filter(F.col("vec_id").between(100, 400))
    k_big = _EXPR_ASSIGN_MAX + 8
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < k_big)
        .select("vec_id", "embedding")
        .collect()
    ]
    idx = IvfIndex.build(
        spark, corpus, str(tmp_path / "ivf"), cents, id_col="vec_id"
    )
    q = emb.filter(F.col("vec_id").between(450, 460)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    default = idx.knn_join_bulk(q, k=5, nprobe=4)
    # default at large k is the single-pass full-scan join: the plan
    # carries the assignment expressions, not a pinned RDD scan
    assert (
        "ExistingRDD[__qid"
        not in default._jdf.queryExecution().toString()
    )
    pruned = idx.knn_join_bulk(q, k=5, nprobe=4, prune_partitions=True)
    # explicit prune pins the assigned frame: the join side scans the
    # materialized rows instead of re-evaluating the centroid ranking
    assert "ExistingRDD[__qid" in pruned._jdf.queryExecution().toString()
    assert sorted(_rows(default)) == sorted(_rows(pruned))
    # small k keeps the historical prune-by-default behavior
    small = [c for c in cents[:8]]
    idx2 = IvfIndex.build(
        spark, corpus, str(tmp_path / "ivf_small"), small, id_col="vec_id"
    )
    d2 = idx2.knn_join_bulk(q, k=5, nprobe=2)
    p2 = idx2.knn_join_bulk(q, k=5, nprobe=2, prune_partitions=True)
    assert sorted(_rows(d2)) == sorted(_rows(p2))


def test_near_dup_join_max_pairs_per_query_bounds_degenerate_output(
    spark, emb, tmp_path
):
    """r9 verdict item 8: a pathological corpus where every candidate
    near-dups every indexed vector explodes the pair join; the
    max_pairs_per_query cap bounds the output at |queries| x N with
    the highest-cosine pairs kept deterministically."""
    one = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    base = [float(x) for x in one]
    # 40 indexed near-identical vectors + 10 candidate twins: all
    # 10x40 pairs clear threshold 0.99
    rows = [(i, [x * (1.0 + i * 1e-9) for x in base]) for i in range(40)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    idx = AnnLshIndex.build(
        spark, corpus, str(tmp_path / "lsh"), n_planes=12, prefix_bits=6
    )
    qrows = [
        (2_000_000_000 + i, [x * (1.0 - i * 1e-9) for x in base])
        for i in range(10)
    ]
    q = spark.createDataFrame(qrows, "qid long, qvec array<double>")
    full = idx.near_dup_join(q, threshold=0.99, max_hamming=2)
    assert full.count() == 400  # the quadratic blow-up, real
    capped = idx.near_dup_join(
        q, threshold=0.99, max_hamming=2, max_pairs_per_query=3
    )
    got = capped.collect()
    assert len(got) == 30
    per_q = {}
    for r in got:
        per_q.setdefault(r["qid"], []).append((r["cosine_sim"], r["vec_id"]))
    assert all(len(v) == 3 for v in per_q.values())
    # kept pairs are each candidate's top-cosine matches (vec_id ties)
    allp = {
        (r["qid"], r["vec_id"]): r["cosine_sim"] for r in full.collect()
    }
    for qid, kept in per_q.items():
        want = sorted(
            ((c, v) for (qq, v), c in allp.items() if qq == qid),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        assert sorted(kept, key=lambda t: (-t[0], t[1])) == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_pairs_per_query"):
        idx.near_dup_join(q, max_pairs_per_query=0)


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_null_vector_delete_locates_and_counts(spark, emb, tmp_path, kind):
    """A delete row with a NULL vector cannot reveal its old bucket:
    the fold locates it against the full index, removes it, and counts
    the located ids in last_fold_stats and the persisted stats()."""
    corpus = emb.filter(F.col("vec_id") <= 200)
    path = str(tmp_path / kind)
    if kind == "lsh":
        idx = AnnLshIndex.build(spark, corpus, path, n_planes=12, prefix_bits=6)
    else:
        cents = similarity.kmeans_centroids(emb, k=16, iters=1)
        idx = IvfIndex.build(spark, corpus, path, cents)
    batch = spark.createDataFrame(
        [(7, None, "delete"), (8, None, "delete")],
        "id long, v array<double>, change_type string",
    )
    with pytest.warns(RuntimeWarning, match="include_preimage"):
        idx.apply_changes(batch)
    ids = {r["id"] for r in idx._table().read().select("id").collect()}
    assert len(ids) == 199 and not ids & {7, 8}
    assert idx.last_fold_stats["located_fallback_ids"] == 2
    assert idx.stats()["locate_fallback_ids_total"] == 2


# --------------------------------- driver path of the IVF bulk face
_CENTS4 = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0, 0.0]),
    (2, [0.0, 0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 0.0, 1.0]),
    (4, [-1.0, -1.0, -1.0, -1.0]),
]
_EDGE_QUERIES = [
    (1, [1.0, 0.1, 0.0, 0.0]),  # six identical vectors tie
    (2, [0.0, 0.0, 0.0, 0.0]),  # zero query: every cosine is 0.0
    (3, [0.0, 0.0, 0.05, 1.0]),  # cluster 3 holds two rows
    (4, [-1.0, -1.0, -1.0, -0.9]),  # cluster 4 has no file
]


def _edge_rows():
    """Index rows for the driver path's edge cases in 4-d around
    ``_CENTS4``: six copies of one vector and a scaled copy (tied
    rounded cosines), a zero vector, two rows in cluster 3 and none in
    cluster 4, so that cluster has no file."""
    import random

    rng = random.Random(7)
    rows = [(i, [0.9, 0.1, 0.0, 0.0]) for i in range(105, 99, -1)]
    rows += [(106, [1.8, 0.2, 0.0, 0.0]), (107, [0.0, 0.0, 0.0, 0.0])]
    rows += [(200, [0.1, 0.0, 0.1, 0.9]), (201, [0.0, 0.2, 0.0, 0.8])]
    for i in range(30):
        v = [rng.gauss(0.0, 0.1) for _ in range(4)]
        v[i % 3] += 1.0
        rows.append((i, v))
    return rows


def _build_edge(spark, path):
    corpus = spark.createDataFrame(
        _edge_rows(), "vec_id long, embedding array<double>"
    )
    return IvfIndex.build(spark, corpus, path, _CENTS4)


@pytest.fixture(scope="module")
def edge_ivf(spark, tmp_path_factory):
    idx = _build_edge(spark, str(tmp_path_factory.mktemp("edge") / "ivf"))
    files = idx._table()._read_snapshot()["files"]
    assert not [f for f in files if f.startswith("cluster=4/")]
    return idx


def _queries(spark, rows, schema="qid long, qvec array<double>"):
    return spark.createDataFrame(rows, schema)


def _bulk_both(monkeypatch, calls, idx, q, **kw):
    """``knn_join_bulk`` rows through the driver path (the spy shows
    the Spark path did not run) and through the Spark path."""
    from collections import Counter

    _take_path("driver_path", monkeypatch)
    driver = idx.knn_join_bulk(q, **kw)
    assert not calls, "the driver path handed the call over"
    _take_path("spark_path", monkeypatch)
    joined = idx.knn_join_bulk(q, **kw)
    assert len(calls) == 1
    calls.clear()
    assert driver.dtypes == joined.dtypes
    got, want = driver.collect(), joined.collect()
    assert Counter(map(tuple, got)) == Counter(map(tuple, want))
    return got


@pytest.mark.parametrize("batch_rows", [None, 3])
@pytest.mark.parametrize("nprobe", [1, 2])
def test_ivf_driver_path_matches_spark_path_on_edge_cases(
    spark, edge_ivf, monkeypatch, spark_path_calls, nprobe, batch_rows
):
    """Ties on the rounded cosine rank by vec_id; a zero vector (index
    or query) scores 0.0; a query whose probed clusters hold fewer
    than k rows gets them all; a probed cluster with no file adds
    nothing — on both paths, row for row, also when the driver path
    reads the index a few rows at a time (ties split across
    batches)."""
    if batch_rows:
        batches = annindex._parquet_batches
        monkeypatch.setattr(
            annindex, "_parquet_batches",
            lambda paths, rows, cols: batches(paths, batch_rows, cols),
        )
    q = _queries(spark, _EDGE_QUERIES)
    rows = _bulk_both(
        monkeypatch, spark_path_calls, edge_ivf, q, k=5, nprobe=nprobe
    )
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    top = sorted(by_q[1], key=lambda r: r["rk"])
    assert [r["vec_id"] for r in top] == [100, 101, 102, 103, 104]
    assert len({r["cosine_sim"] for r in top}) == 1
    zero = sorted(by_q[2], key=lambda r: r["rk"])
    assert {r["cosine_sim"] for r in zero} == {0.0}
    assert [r["vec_id"] for r in zero] == sorted(r["vec_id"] for r in zero)
    if nprobe == 1:
        assert sorted(r["vec_id"] for r in by_q[3]) == [200, 201]
        assert 4 not in by_q  # its one probed cluster has no file
        lone = _queries(spark, _EDGE_QUERIES[3:])
        assert not _bulk_both(
            monkeypatch, spark_path_calls, edge_ivf, lone, k=5, nprobe=1
        )


def test_ivf_driver_path_string_qid_float_vectors_one_job(
    spark, edge_ivf, monkeypatch, spark_path_calls, jobs_in
):
    """A string qid and an array<float> query vector keep their types
    and rows, and the driver path runs one Spark job (the query
    collect)."""
    q = _queries(
        spark,
        [(f"q{i}", v) for i, v in _EDGE_QUERIES],
        "qid string, qvec array<float>",
    )
    rows = _bulk_both(monkeypatch, spark_path_calls, edge_ivf, q, k=3, nprobe=2)
    assert {r["qid"] for r in rows} == {"q1", "q2", "q3", "q4"}
    _take_path("driver_path", monkeypatch)
    got, n_jobs = jobs_in(
        "ivf_driver_path",
        lambda: edge_ivf.knn_join_bulk(q, k=3, nprobe=2).collect(),
    )
    assert n_jobs == 1
    assert sorted(map(tuple, got)) == sorted(map(tuple, rows))


def test_ivf_driver_path_duplicate_qids(
    spark, edge_ivf, monkeypatch, spark_path_calls
):
    """Duplicate qids are refused on both paths; with
    ``assume_unique_qids=True`` both merge the duplicates' candidates
    into one top-k per qid."""
    q = _queries(
        spark,
        [(1, _EDGE_QUERIES[0][1]), (1, _EDGE_QUERIES[2][1]),
         (2, _EDGE_QUERIES[3][1])],
    )
    for path in BULK_PATHS:
        _take_path(path, monkeypatch)
        with pytest.raises(ValueError, match="duplicate"):
            edge_ivf.knn_join_bulk(q, k=4, nprobe=1)
    spark_path_calls.clear()
    rows = _bulk_both(
        monkeypatch, spark_path_calls, edge_ivf, q, k=4, nprobe=1,
        assume_unique_qids=True,
    )
    assert sorted(r["rk"] for r in rows if r["qid"] == 1) == [1, 2, 3, 4]


def test_driver_folds_match_loop_twins():
    """The driver path's numpy folds replay the loop twins of the
    expressions bit for bit: ``dot_fold`` for the scores, and
    ``l2sq_fold`` ranked with the cid tie-break for the probes, on an
    exact distance tie too (two equal centroids)."""
    import numpy as np

    from otrrentetl_spark.operators.annindex import _fold_dot, _nearest

    rng = np.random.default_rng(3)
    a, b = rng.normal(size=(7, 16)), rng.normal(size=(9, 16)) * 1e3
    got = _fold_dot(a, np.ascontiguousarray(b.T)).tolist()
    assert got == [[similarity.dot_fold(x, y) for y in b] for x in a]
    cmat = rng.normal(size=(12, 16))
    cmat[5] = cmat[2]
    cids = np.arange(40, 28, -1)
    qmat = np.vstack([rng.normal(size=(6, 16)), cmat[2:3] + 0.01])
    want = [
        [cid for _, cid in sorted(
            (similarity.l2sq_fold(q, c), cid)
            for cid, c in zip(cids.tolist(), cmat)
        )][:4]
        for q in qmat
    ]
    assert _nearest(qmat, cids, cmat, 4).tolist() == want


def test_round6_is_sparks_half_up_rounding(spark, jobs_in):
    """The driver path rounds through Spark: HALF_UP on the shortest
    decimal string, which Python's round (on the binary value) misses
    at half-way values — and it runs no Spark job."""
    from otrrentetl_spark.operators.annindex import _round6

    xs = [0.1234565, -0.1234565, 0.0000005, 0.5, 1.0]
    want = [
        r[0]
        for r in spark.createDataFrame([(x,) for x in xs], "x double")
        .select(F.round("x", 6))
        .collect()
    ]
    got, n_jobs = jobs_in("round6", lambda: _round6(spark, xs))
    assert got == want and n_jobs == 0
    assert got[0] == 0.123457 and round(xs[0], 6) == 0.123456


@pytest.mark.parametrize("bad", ["null_qvec", "ragged_qvec"])
def test_ivf_driver_path_hands_invalid_vectors_to_spark(
    spark, edge_ivf, monkeypatch, spark_path_calls, bad
):
    """A NULL or ragged query vector takes the Spark path, whatever
    the bound, and gives the Spark path's rows."""
    from collections import Counter

    extra = (9, None) if bad == "null_qvec" else (9, [1.0, 0.0, 0.0])
    q = _queries(spark, _EDGE_QUERIES + [extra])
    out = []
    for path in ("driver_path", "spark_path"):
        _take_path(path, monkeypatch)
        rows = edge_ivf.knn_join_bulk(q, k=3, nprobe=2).collect()
        out.append(Counter(map(tuple, rows)))
    assert len(spark_path_calls) == 2
    assert out[0] == out[1] and sum(out[0].values()) > 0


def test_ivf_driver_path_hands_hadoop_store_to_spark(
    spark, edge_ivf, tmp_path, monkeypatch, spark_path_calls
):
    """An index behind Hadoop's FileSystem (here over ``file://``) is
    scored by the Spark path, to the driver path's rows on the same
    data."""
    from otrrentetl_spark.operators import merge
    from otrrentetl_spark.table.store import HadoopStore

    q = _queries(spark, _EDGE_QUERIES)
    _take_path("driver_path", monkeypatch)
    want = sorted(map(tuple, edge_ivf.knn_join_bulk(q, k=3, nprobe=2).collect()))
    assert not spark_path_calls
    monkeypatch.setattr(merge, "store_for", lambda spark, path: HadoopStore(spark))
    idx = _build_edge(spark, (tmp_path / "hadoop_ivf").as_uri())
    got = sorted(map(tuple, idx.knn_join_bulk(q, k=3, nprobe=2).collect()))
    assert len(spark_path_calls) == 1
    assert got == want


def test_ivf_driver_path_bound_is_on_pairs_times_dim(
    spark, edge_ivf, monkeypatch, spark_path_calls
):
    """The driver path runs at exactly ``_DRIVER_MAX_MACS`` multiply-adds
    ((query, probed row) pairs × dim); at one less it hands the call to
    the Spark path, which gives the same rows."""
    sizes = {
        int(r["cluster"]): r["count"]
        for r in edge_ivf._table().read().groupBy("cluster").count().collect()
    }
    probe = edge_ivf._prober(2)
    macs = 4 * sum(
        sizes.get(c, 0) for _, v in _EDGE_QUERIES for c in probe(v)
    )
    q = _queries(spark, _EDGE_QUERIES)
    monkeypatch.setattr(annindex, "_DRIVER_MAX_MACS", macs)
    want = sorted(map(tuple, edge_ivf.knn_join_bulk(q, k=3, nprobe=2).collect()))
    assert not spark_path_calls
    for bound in (macs - 1, 1):
        monkeypatch.setattr(annindex, "_DRIVER_MAX_MACS", bound)
        got = edge_ivf.knn_join_bulk(q, k=3, nprobe=2).collect()
        assert sorted(map(tuple, got)) == want
    assert len(spark_path_calls) == 2


def test_ivf_driver_path_query_collect_is_bounded_in_doubles(
    spark, edge_ivf, monkeypatch, spark_path_calls
):
    """An empty cluster lets a query probe no rows, so the pairs alone
    cannot cap the query collect: it is capped at ``_DRIVER_MAX_MACS``
    doubles (queries × dim). A query set above the cap collects at
    most one query past it, then the Spark path gives the driver
    path's rows."""
    q = _queries(spark, [(1000 + i, v) for i, v in _edge_rows()])
    _take_path("driver_path", monkeypatch)
    want = sorted(map(tuple, edge_ivf.knn_join_bulk(q, k=3, nprobe=1).collect()))
    assert not spark_path_calls
    collected = []
    frame = type(q)
    to_arrow = frame.toArrow

    def spy(self):
        got = to_arrow(self)
        collected.append(got.num_rows)
        return got

    monkeypatch.setattr(frame, "toArrow", spy)
    bound = 8 * 4  # eight 4-d queries
    monkeypatch.setattr(annindex, "_DRIVER_MAX_MACS", bound)
    got = sorted(map(tuple, edge_ivf.knn_join_bulk(q, k=3, nprobe=1).collect()))
    assert len(spark_path_calls) == 1
    assert collected and max(collected) * 4 <= bound + 4, collected
    assert got == want


# ------------------------------- driver-sized fold of apply_changes
# centroids listed in non-ascending cid order, at integer points where
# the test vectors tie exactly: ivf_assign keeps the FIRST minimum in
# this list order (cid 5 over 2 and 9 for [1, 0])
_TIE_CENTS = [(5, [0.0, 0.0]), (2, [2.0, 0.0]), (9, [1.0, 1.0]), (1, [3.0, 3.0])]


def _fold_case(case):
    """(build(spark, corpus, path), corpus rows, batch rows, vector
    type) for one fold parity case."""
    import numpy as np

    rng = np.random.RandomState(3)
    if case == "lsh_near_zero":
        dim = 16
        planes = similarity.hyperplanes(dim, 8)
        vecs = []
        for j in range(16):
            h = planes[j % 8]
            v = rng.randn(dim)
            vecs.append((v - (np.dot(v, h) / np.dot(h, h)) * h).tolist())

        def build(spark, corpus, path):
            return AnnLshIndex.build(spark, corpus, path, n_planes=8, prefix_bits=3)

        corpus = list(enumerate(vecs[:10]))
        batch = (
            [(i, vecs[i], "update_preimage") for i in (0, 1)]
            + [(i, vecs[10 + i], "update") for i in (0, 1)]
            + [(2, vecs[2], "delete")]
            + [(20 + i, vecs[12 + i], "insert") for i in range(4)]
        )
        return build, corpus, batch, "array<double>"
    if case == "ivf_blas":
        k, dim = annindex._EXPR_ASSIGN_MAX + 6, 4
        cmat = rng.randn(k, dim) * 50.0
        cents = [(int(c), cmat[c].tolist()) for c in rng.permutation(k)]
        vecs = [
            (cmat[i % k] + rng.randn(dim)).tolist() for i in range(40)
        ]
    else:
        cents = _TIE_CENTS
        points = [[1.0, 0.0], [0.0, 1.0], [2.0, 1.0], [2.0, 2.0],
                  [0.5, 0.5], [3.0, 2.0]]
        vecs = points + [(rng.rand(2) * 3).tolist() for _ in range(20)]

    def build(spark, corpus, path):
        return IvfIndex.build(spark, corpus, path, cents)

    corpus = list(enumerate(vecs[:20]))
    batch = (
        [(0, vecs[0], "update_preimage"), (0, vecs[3], "update")]
        + [(1, vecs[1], "update_preimage"), (1, vecs[4], "update")]
        + [(5, vecs[5], "delete")]
        + [(100 + i, vecs[i], "insert") for i in range(6)]
        + [(200 + i, v, "insert") for i, v in enumerate(vecs[20:])]
    )
    vtype = "array<float>" if case == "ivf_float" else "array<double>"
    return build, corpus, batch, vtype


def _spy_fold_rows(monkeypatch):
    ran = []
    fold_rows = annindex._BucketedVectorIndex._fold_rows

    def spy(self, *args):
        out = fold_rows(self, *args)
        ran.append("arrow" if out is not None else "spark")
        return out

    monkeypatch.setattr(annindex._BucketedVectorIndex, "_fold_rows", spy)
    return ran


@pytest.mark.parametrize(
    "case", ["ivf_ties", "ivf_float", "ivf_blas", "lsh_near_zero"]
)
def test_arrow_fold_equals_spark_fold(spark, tmp_path, monkeypatch, case):
    """The driver-sized fold writes exactly the index the Spark fold
    writes: every column of every index row (repr: bit for bit), and
    the same two versions. Cases: IVF ties under centroids listed out
    of cid order, array<float> vectors, k above ``_EXPR_ASSIGN_MAX``
    (the BLAS quantizer), LSH planes a vector is within an ulp of."""
    from otrrentetl_spark.operators import merge

    ran = _spy_fold_rows(monkeypatch)
    build, corpus, batch, vtype = _fold_case(case)
    cast = F.col("v").cast(vtype)
    states = {}
    for side, bound in (("arrow", merge._ARROW_MAX_ROWS), ("spark", 0)):
        monkeypatch.setattr(merge, "_ARROW_MAX_ROWS", bound)
        idx = build(
            spark,
            spark.createDataFrame(corpus, "vec_id long, v array<double>")
            .select("vec_id", cast.alias("embedding")),
            str(tmp_path / side),
        )
        v0 = idx._table()._read_snapshot()["version"]
        idx.apply_changes(
            spark.createDataFrame(
                batch, "id long, v array<double>, change_type string"
            ).withColumn("v", cast)
        )
        t = idx._table()
        assert t._read_snapshot()["version"] == v0 + 2
        states[side] = (
            t.read().dtypes, sorted(map(repr, t.read().collect()))
        )
    assert ran == ["arrow", "spark"]
    assert states["arrow"] == states["spark"]
    if case == "ivf_ties":
        rows = {r.id: r.cluster for r in t.read().collect()}
        # [1, 0] ties cid 5, 2 and 9; [0, 1] ties 5 and 9; [2, 1]
        # ties 2 and 9; [2, 2] ties 9 and 1: list order decides
        assert [rows[i] for i in (100, 101, 102, 103)] == [5, 5, 2, 9]


def test_arrow_fold_leaves_null_vector_delete_to_locate(
    spark, tmp_path, monkeypatch
):
    """A NULL-vector delete cannot re-derive its bucket: the fold takes
    the Spark locate fallback, with its warning and counter, and never
    collects the batch for the driver path."""
    ran = _spy_fold_rows(monkeypatch)
    build, corpus, _, _ = _fold_case("ivf_ties")
    idx = build(
        spark,
        spark.createDataFrame(corpus, "vec_id long, embedding array<double>"),
        str(tmp_path / "ivf"),
    )
    batch = spark.createDataFrame(
        [(3, None, "delete"), (50, [1.0, 0.0], "insert")],
        "id long, v array<double>, change_type string",
    )
    with pytest.warns(RuntimeWarning, match="include_preimage"):
        idx.apply_changes(batch)
    assert ran == []
    ids = {r.id for r in idx._table().read().collect()}
    assert 3 not in ids and 50 in ids
    assert idx.last_fold_stats["located_fallback_ids"] == 1
    assert idx.stats()["locate_fallback_ids_total"] == 1
