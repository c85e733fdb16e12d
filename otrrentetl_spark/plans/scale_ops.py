"""Scale-path operators as driver queries: salted skew join (result-
identical to the plain join — the oracle IS the plain join) and
IVF-style ANN probing (the oracle replays the deterministic centroid
pick, assignment, and probe selection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from otrrentetl_spark.catalog import load_table
from otrrentetl_spark.operators import similarity
from otrrentetl_spark.operators.skew import salted_join
from otrrentetl_spark.registry import register

_QUERY_VEC_ID = 7  # embeddings row used as the ANN query vector


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders joined on o_orderpriority — 5 distinct values, i.e. a
    pathologically skewed key — via explicit salting. The aggregate
    output must equal the unsalted join's (that equality is exactly
    what the oracle checks)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn("prio_weight", F.length("o_orderpriority").cast("long"))
    )
    joined = salted_join(orders, dim, on=["o_orderpriority"], salt=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("prio_weight").alias("sum_weight"),
        )
        
    )


register(
    "skew_salted_join",
    skew_salted_join,
    """
    WITH dim AS (
      SELECT DISTINCT o_orderpriority,
             CAST(length(o_orderpriority) AS BIGINT) AS prio_weight
      FROM orders
    )
    SELECT o.o_orderpriority, COUNT(*) AS n,
           CAST(SUM(d.prio_weight) AS BIGINT) AS sum_weight
    FROM orders o JOIN dim d USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)


def _lloyd_cte(k: int, iters: int) -> str:
    """WITH-body fragment replaying operators.similarity.kmeans_lloyd
    op-for-op (same init, same dot-identity distances, same
    DECIMAL(30,6)-exact per-dim sums): defines emb, c0, then
    a{t}/s{t}/c{t} per iteration. Callers append their SELECT over
    a{iters} (final assignment) / c{iters} (final centroids). Shared
    by the kmeans oracle and the IVF oracle so both replay the SAME
    training. Dimensionality comes from the DATA (lateral
    range(1, len(v)+1)), mirroring the Spark side's posexplode — a
    hardcoded dim constant would silently drop dimensions past the
    list end (v[i] → NULL, skipped by SUM) if the fixture's embedding
    width ever changed (ADVICE r6)."""
    dist = (
        "list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.c)"
        " + list_dot_product(c.c, c.c)"
    )
    its = []
    prev = "c0"
    for t in range(1, iters + 1):
        its.append(
            f""", a{t} AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.cid) AS rk
        FROM emb e CROSS JOIN {prev} c
      ) WHERE rk = 1
    ), s{t} AS (
      SELECT cid, i,
             CAST(SUM(CAST(v[i] AS DECIMAL(30,6))) AS DOUBLE) AS s,
             COUNT(*) AS n
      FROM (SELECT cid, v, unnest(range(1, len(v) + 1)) AS i FROM a{t})
      GROUP BY 1, 2
    ), c{t} AS (
      SELECT cid,
             list_transform(list_sort(list({{'i': i, 'val': s / n}})),
                            x -> x.val) AS c
      FROM s{t} GROUP BY cid
    )"""
        )
        prev = f"c{t}"
    return f"""emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c0 AS (
      SELECT vec_id AS cid, v AS c FROM emb WHERE vec_id < {k}
    ){"".join(its)}"""



_IVF_K = 16
_IVF_ITERS = 2


def _shared_ivf_cents(spark: SparkSession, sf_dir: str):
    """The (k=16, iters=2) Lloyd coarse quantizer shared by the three
    small-k IVF faces — each used to re-run the identical deterministic
    training per call (r13 verdict item 3); now the session's first
    caller trains and the rest reuse (k × dim doubles of driver state,
    keyed to applicationId + source fingerprint — see
    llm_ops.shared_ann_artifact)."""
    from otrrentetl_spark.plans.llm_ops import shared_ann_artifact

    return shared_ann_artifact(
        spark,
        f"ivf_cents_k{_IVF_K}_it{_IVF_ITERS}",
        sf_dir,
        lambda: similarity.kmeans_centroids(
            load_table(spark, sf_dir, "embeddings"),
            k=_IVF_K,
            iters=_IVF_ITERS,
        ),
    )


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed ANN top-10: coarse centroids from the REAL Lloyd
    training (operators.similarity.kmeans_centroids — the offline
    quantizer-build API; r5 verdict item 6 retired the strided
    id-sample stand-in), nearest 6 of 16 clusters probed, exact
    cosine on the survivors. Approximate by design, but the whole
    pipeline is deterministic, so the oracle replays it end-to-end —
    training included, via the same _lloyd_cte the kmeans oracle
    uses; tests/test_similarity.py additionally checks recall against
    the oracle-checked brute-force baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("embedding")
        .first()[0]
    ]
    cents = _shared_ivf_cents(spark, sf_dir)
    return similarity.ivf_topk(emb, qvec, cents, k=10, nprobe=6)


_IVF_SQL = f"""
WITH {_lloyd_cte(_IVF_K, _IVF_ITERS)}, q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
), cents AS (
  SELECT cid, c AS v FROM c{_IVF_ITERS}
), assign AS (
  SELECT e.vec_id, e.v, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(e.v, e.v)
                    - 2 * list_dot_product(e.v, c.v)
                    + list_dot_product(c.v, c.v),
                    c.cid) AS rk
  FROM emb e
  CROSS JOIN cents c
), best AS (
  SELECT vec_id, v, cid FROM assign WHERE rk = 1
), probe AS (
  SELECT c.cid,
         ROW_NUMBER() OVER (
           ORDER BY list_dot_product(c.v, c.v)
                    - 2 * list_dot_product(c.v, q.qv)
                    + list_dot_product(q.qv, q.qv),
                    c.cid) AS pk
  FROM cents c, q
), probed AS (
  SELECT cid FROM probe WHERE pk <= 6
)
SELECT b.vec_id,
       ROUND(list_dot_product(b.v, q.qv)
             / (sqrt(list_dot_product(b.v, b.v))
                * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM best b JOIN probed p ON b.cid = p.cid, q
ORDER BY cosine_sim DESC, b.vec_id
LIMIT 10
"""

# The IVF pipeline is deterministic end-to-end (Lloyd training with
# deterministic seeding and DECIMAL-exact centroid updates, argmin
# assignment with cid tie-break, fixed probe count), so the oracle
# replays it: training via _lloyd_cte (bit-identical centroids — the
# decimal sums make the means exact in both engines), assignment via
# a windowed argmin over the small centroid cross join, probe
# selection by distance-to-query. L2 uses the algebraic
# |a|^2 - 2ab + |b|^2 form; distances are well-separated on this data
# so FP association noise cannot flip an argmin.
register("similarity_ivf_topk", similarity_ivf_topk, _IVF_SQL)


def similarity_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF PERSISTED scale path (r7 verdict item 2): the coarse
    assignment is materialized once into a cluster-partitioned keyed
    table (operators/annindex.py — centroids pinned in the index
    metadata) and a probe reads ONLY the nprobe nearest clusters'
    partitions. Same training/params as ``similarity_ivf_topk``, so
    the result and oracle are identical to the inline form; the
    strict-subset file read is asserted in tests/test_annindex.py."""
    from otrrentetl_spark.operators.annindex import IvfIndex
    from otrrentetl_spark.plans.llm_ops import _ann_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("embedding")
        .first()[0]
    ]
    cents = _shared_ivf_cents(spark, sf_dir)
    from otrrentetl_spark.plans.llm_ops import shared_ann_artifact

    idx = shared_ann_artifact(
        spark,
        "ivf_idx",
        sf_dir,
        lambda: IvfIndex.build(
            spark, emb, _ann_scratch("ivf_idx", sf_dir), cents
        ),
    )
    return idx.topk(qvec, k=10, nprobe=6)


register("similarity_ivf_indexed", similarity_ivf_indexed, _IVF_SQL)


def similarity_ivf_knn_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF bulk batch face (r8 verdict item 1, the IVF half): the
    query corpus (vec_id < 25) against the cluster-partitioned index —
    driver-sized, so scored on the driver, to the Spark join's rows.
    Training, assignment, probe selection, and scoring are all
    deterministic, so the oracle replays the whole pipeline (Lloyd
    CTE + windowed argmin + per-query probe ranking)."""
    from otrrentetl_spark.operators.annindex import IvfIndex
    from otrrentetl_spark.plans.llm_ops import _ann_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _shared_ivf_cents(spark, sf_dir)
    from otrrentetl_spark.plans.llm_ops import shared_ann_artifact

    idx = shared_ann_artifact(
        spark,
        "ivf_bulk",
        sf_dir,
        lambda: IvfIndex.build(
            spark,
            emb.filter(F.col("vec_id") >= 25),
            _ann_scratch("ivf_bulk", sf_dir),
            cents,
        ),
    )
    q = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return idx.knn_join_bulk(q, k=3, nprobe=4)


_IVF_BULK_SQL = f"""
WITH {_lloyd_cte(_IVF_K, _IVF_ITERS)}, cents AS (
  SELECT cid, c AS v FROM c{_IVF_ITERS}
), corpus AS (
  SELECT vec_id, v FROM emb WHERE vec_id >= 25
), assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, e.v)
                      - 2 * list_dot_product(e.v, c.v)
                      + list_dot_product(c.v, c.v),
                      c.cid) AS rk
    FROM corpus e CROSS JOIN cents c
  ) WHERE rk = 1
), q AS (
  SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 25
), probe AS (
  SELECT q.qid, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY list_dot_product(c.v, c.v)
                    - 2 * list_dot_product(c.v, q.qv)
                    + list_dot_product(q.qv, q.qv),
                    c.cid) AS pk
  FROM cents c CROSS JOIN q
), scored AS (
  SELECT p.qid, b.vec_id,
         ROUND(list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM probe p
  JOIN assign b ON b.cid = p.cid
  JOIN q ON q.qid = p.qid
  WHERE p.pk <= 4
), ranked AS (
  SELECT qid, vec_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT qid, vec_id, cosine_sim, rk
FROM ranked WHERE rk <= 3
ORDER BY qid, rk
"""

register("similarity_ivf_knn_bulk", similarity_ivf_knn_bulk, _IVF_BULK_SQL)


_IVF_BLAS_K = 288  # > _EXPR_ASSIGN_MAX (BLAS quantizer) AND
#                    > _INLINE_CENTROIDS_MAX (parquet centroid sidecar)


def similarity_ivf_blas_knn_bulk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF bulk face at LARGE k (r9 verdict item 2 — the one engine
    path that had no DuckDB-checked face): k=288 centroids force all
    three large-k mechanisms at once — the Arrow/BLAS quantizer for
    the index build (annindex.IvfIndex._assign beyond
    _EXPR_ASSIGN_MAX), the parquet centroid SIDECAR (beyond
    _INLINE_CENTROIDS_MAX), and the one-row-broadcast HOF assignment
    on the query side of knn_join_bulk's Spark path (k-aware
    prune_partitions pinning; this driver-sized call takes the driver
    path, to the same rows).

    Centroids are 288 actual corpus vectors (vec_id < 288) — fully
    deterministic, SQL-replayable, and WELL-SEPARATED (distinct
    random data vectors), which keeps the documented |v|²−2vc+|c|²
    cancellation window away from every argmin boundary so the BLAS
    assignment and the DuckDB windowed-argmin oracle agree exactly."""
    from otrrentetl_spark.operators.annindex import IvfIndex
    from otrrentetl_spark.plans.llm_ops import _ann_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    from otrrentetl_spark.plans.llm_ops import shared_ann_artifact

    def _build():
        cents = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < _IVF_BLAS_K)
            .select("vec_id", "embedding")
            .collect()
        ]
        return IvfIndex.build(
            spark,
            emb.filter(F.col("vec_id") >= 25),
            _ann_scratch("ivf_blas_bulk", sf_dir),
            cents,
        )

    idx = shared_ann_artifact(spark, "ivf_blas_bulk", sf_dir, _build)
    assert idx.meta()["centroids"] == "sidecar"  # the path under test
    q = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return idx.knn_join_bulk(q, k=3, nprobe=8, prune_partitions=True)


_IVF_BLAS_BULK_SQL = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cid, v FROM emb WHERE vec_id < {_IVF_BLAS_K}
), corpus AS (
  SELECT vec_id, v FROM emb WHERE vec_id >= 25
), assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, e.v)
                      - 2 * list_dot_product(e.v, c.v)
                      + list_dot_product(c.v, c.v),
                      c.cid) AS rk
    FROM corpus e CROSS JOIN cents c
  ) WHERE rk = 1
), q AS (
  SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 25
), probe AS (
  SELECT q.qid, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY list_dot_product(c.v, c.v)
                    - 2 * list_dot_product(c.v, q.qv)
                    + list_dot_product(q.qv, q.qv),
                    c.cid) AS pk
  FROM cents c CROSS JOIN q
), scored AS (
  SELECT p.qid, b.vec_id,
         ROUND(list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM probe p
  JOIN assign b ON b.cid = p.cid
  JOIN q ON q.qid = p.qid
  WHERE p.pk <= 8
), ranked AS (
  SELECT qid, vec_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT qid, vec_id, cosine_sim, rk
FROM ranked WHERE rk <= 3
ORDER BY qid, rk
"""

register(
    "similarity_ivf_blas_knn_bulk",
    similarity_ivf_blas_knn_bulk,
    _IVF_BLAS_BULK_SQL,
)


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem with BOTH sides bucketed by the join key at
    write time (operators.bucketing) — the join itself runs with zero
    exchange (plan property asserted in tests/test_bucketed_join.py;
    this query checks the result is identical to the plain join, which
    is what the oracle replays). The write-once shuffle is the price;
    every later join on the key rides free — the 100 TB answer to
    "orders ⋈ lineitem again"."""
    from otrrentetl_spark.operators.bucketing import colocated_join, write_bucketed

    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ),
        "q_bkt_orders",
        "o_orderkey",
        buckets=8,
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_quantity"
        ),
        "q_bkt_lineitem",
        "l_orderkey",
        buckets=8,
    )
    joined = colocated_join(
        spark, "q_bkt_orders", "q_bkt_lineitem", "o_orderkey", "l_orderkey"
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        
    )


register(
    "bucketed_colocated_join",
    bucketed_colocated_join,
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)


def range_join_ship_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via the day-bucket equi-join
    rewrite (operators.rangejoin): sampled orders define 7-day ship
    windows [o_orderdate, o_orderdate+6d]; count lineitem shipments
    falling inside each window. The oracle replays the exact theta
    join — the rewrite must be result-identical."""
    from otrrentetl_spark.operators.rangejoin import point_in_interval_join

    intervals = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("win_id"),
            F.col("o_orderdate").alias("win_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 6 days")).alias("win_end"),
        )
    )
    points = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    joined = point_in_interval_join(
        points, intervals, "l_shipdate", "win_start", "win_end", bucket_seconds=86_400
    )
    return (
        joined.groupBy("win_id")
        .agg(F.count(F.lit(1)).alias("n_shipments"))
        
    )


register(
    "range_join_ship_windows",
    range_join_ship_windows,
    """
    WITH wins AS (
      SELECT o_orderkey AS win_id,
             o_orderdate AS win_start,
             o_orderdate + INTERVAL 6 DAY AS win_end
      FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT w.win_id, COUNT(*) AS n_shipments
    FROM lineitem l
    JOIN wins w ON l.l_shipdate BETWEEN w.win_start AND w.win_end
    GROUP BY w.win_id
    ORDER BY w.win_id
    """,
)


# ------------------------------------------ sketch-accuracy contracts
def sketch_accuracy_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate operators with an in-query accuracy contract: the
    exact answer is computed beside the sketch estimate, and the query
    emits a boolean ok-flag asserting the sketch landed within its
    guaranteed error band. The DuckDB oracle replays the exact values
    and expects the flags literally TRUE — so a sketch regression
    fails the correctness gate even though the estimate itself is not
    SQL-replayable.

    Sketches under contract, per event_type group:
    - approx_percentile(value, 0.5/0.9, acc=10000): checked against
      exact percentile_disc with a 5%-of-value band (generous vs the
      rank-error guarantee n/acc, so the flag is stable yet still
      catches a broken sketch).
    - hll_sketch_agg(user_id, lgK=14): relative error ≈ 1.04/√2^14
      < 1%; contract: |est − exact| ≤ 3% · exact.
    At 100 TB both run as single-pass mergeable partial aggregates —
    the whole point of replacing exact distinct/percentile, whose
    shuffle width is the data itself."""
    ev = load_table(spark, sf_dir, "events")
    # count_distinct runs in its OWN two-level branch: mixed into the
    # same agg, Spark's single-distinct rewrite keys the PARTIAL
    # aggregate by (event_type, user_id) — a percentile/HLL buffer per
    # user, and the exchange ships the full value multiset inside
    # per-user buffers, merged once per user downstream. Split out,
    # the heavy buffers are keyed by event_type only (one per group)
    # and the distinct branch shuffles narrow (event_type, user_id)
    # rows after map-side dedup. The 5-row join broadcasts.
    g1 = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("ap50"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("ap90"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("ex50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("ex90"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14)))
        .alias("hll_users"),
    )
    g2 = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    g = g1.join(g2, "event_type")
    near = lambda ap, ex: (F.abs(F.col(ap) - F.col(ex)) <= F.lit(0.05) * F.col(ex))
    return g.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("ex50").alias("exact_p50"),
        F.col("ex90").alias("exact_p90"),
        F.col("exact_users").alias("exact_distinct_users"),
        near("ap50", "ex50").alias("p50_ok"),
        near("ap90", "ex90").alias("p90_ok"),
        (
            F.abs(F.col("hll_users").cast("double") - F.col("exact_users"))
            <= F.lit(0.03) * F.col("exact_users")
        ).alias("hll_ok"),
    )


register(
    "sketch_accuracy_contract",
    sketch_accuracy_contract,
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           quantile_disc(value, 0.5) AS exact_p50,
           quantile_disc(value, 0.9) AS exact_p90,
           COUNT(DISTINCT user_id) AS exact_distinct_users,
           TRUE AS p50_ok,
           TRUE AS p90_ok,
           TRUE AS hll_ok
    FROM events GROUP BY event_type
    """,
)


# ------------------------------------------------- k-means (Lloyd) iterations
_KM_K = 8
_KM_ITERS = 2


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means over the embedding table,
    fully distributed and bit-reproducible: assignment is a windowed
    argmin over a broadcast centroid table (the IVF quantizer shape,
    scale_ops.similarity_ivf_topk); the centroid *update* runs as
    posexplode → per-(cluster, dim) DECIMAL sums → rebuilt arrays, so
    the means are accumulation-order independent and the whole
    iteration replays in SQL. Distances use the |v|²−2v·c+|c|²
    identity whose sequential fold matches DuckDB's list_dot_product
    bit-for-bit.

    Init: the first K vectors by vec_id (deterministic seeding, the
    k-means‖ stand-in). Output: per-cluster cardinality + centroid
    fingerprints after 2 updates — any assignment flip anywhere
    changes them. The loop itself is operators.similarity.
    kmeans_lloyd — the same training that now feeds
    similarity_ivf_topk's coarse quantizer."""
    from otrrentetl_spark.operators.similarity import _dot, kmeans_lloyd

    assign, cents = kmeans_lloyd(
        load_table(spark, sf_dir, "embeddings"), k=_KM_K, iters=_KM_ITERS
    )
    counts = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        counts.join(cents, "cid")
        .select(
            "cid",
            "n_members",
            F.round(_dot(F.col("c"), F.col("c")), 6).alias("centroid_sqnorm"),
            F.round(
                F.aggregate(F.col("c"), F.lit(0.0), lambda a, x: a + x), 6
            ).alias("centroid_sum"),
        )
    )


def _kmeans_sql() -> str:
    return f"""
    WITH {_lloyd_cte(_KM_K, _KM_ITERS)}
    SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(list_dot_product(c.c, c.c), 6) AS centroid_sqnorm,
           ROUND(list_sum(c.c), 6) AS centroid_sum
    FROM a{_KM_ITERS} a JOIN c{_KM_ITERS} c ON a.cid = c.cid
    GROUP BY a.cid, c.c
    """


register("embedding_kmeans", embedding_kmeans, _kmeans_sql())


def interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join via the double-sided bucket
    rewrite (operators.rangejoin.interval_overlap_join): two sampled
    sets of order ship-windows (7-day and 10-day); emit each
    overlapping cross-sample pair with its overlap length in days.
    The oracle replays the exact theta join — the rewrite must be
    result-identical."""
    orders = load_table(spark, sf_dir, "orders")
    wa = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("a_id"),
        F.col("o_orderdate").alias("a_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 6 days")).alias("a_end"),
    )
    wb = orders.filter(F.col("o_orderkey") % 89 == 0).select(
        F.col("o_orderkey").alias("b_id"),
        F.col("o_orderdate").alias("b_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 9 days")).alias("b_end"),
    )
    from otrrentetl_spark.operators.rangejoin import interval_overlap_join

    pairs = interval_overlap_join(
        wa, wb, "a_start", "a_end", "b_start", "b_end"
    )
    return pairs.select(
        "a_id",
        "b_id",
        (
            F.datediff(
                F.least(F.col("a_end"), F.col("b_end")),
                F.greatest(F.col("a_start"), F.col("b_start")),
            )
            + 1
        ).alias("overlap_days"),
    )


register(
    "interval_overlap_pairs",
    interval_overlap_pairs,
    """
    WITH wa AS (
      SELECT o_orderkey AS a_id, o_orderdate AS a_start,
             o_orderdate + INTERVAL 6 DAY AS a_end
      FROM orders WHERE o_orderkey % 97 = 0
    ), wb AS (
      SELECT o_orderkey AS b_id, o_orderdate AS b_start,
             o_orderdate + INTERVAL 9 DAY AS b_end
      FROM orders WHERE o_orderkey % 89 = 0
    )
    SELECT a_id, b_id,
           CAST(date_diff('day', GREATEST(a_start, b_start),
                          LEAST(a_end, b_end)) AS INTEGER) + 1 AS overlap_days
    FROM wa JOIN wb ON a_start <= b_end AND b_start <= a_end
    """,
)


def partitioned_sink_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-family write path at scale: land events hive-partitioned by
    event_type, then answer a single-type aggregate from the sink.
    The read's event_type predicate prunes at file-listing time
    (PartitionFilters in the scan — asserted in
    tests/test_partitioned_sink.py), so the query touches 1/5 of the
    data no matter how large the sink grows. The oracle replays the
    aggregate from the original table — write+read must be lossless."""
    from otrrentetl_spark.operators.bucketing import write_partitioned

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    write_partitioned(ev, "q_part_events", "event_type")
    back = spark.table("q_part_events").filter(F.col("event_type") == "purchase")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


register(
    "partitioned_sink_prune",
    partitioned_sink_prune,
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)


def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export accounting (operators/export.py): the
    documents table is seeded-shuffled (portable two-round
    multiplicative hash — the oracle replays the identical integer
    arithmetic), cut into 8 contiguous rank spans of ~equal token
    mass via a two-level distributed prefix sum (64 parallel window
    chains + a driver-side base-offset map — never one global chain),
    and summarized per shard. first/last rank pin span contiguity;
    n_tokens pins the balance. The oracle computes the SAME offsets
    with a single global window — the two-level decomposition must be
    bit-identical or the hash breaks."""
    from otrrentetl_spark.operators import text
    from otrrentetl_spark.operators.export import shard_by_weight

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_count("text").alias("n_tok")
    )
    assigned = shard_by_weight(d, 8, "n_tok", seed=42, id_col="doc_id")
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tok").cast("long")).alias("n_tokens"),
            F.min("rank").alias("first_rank"),
            F.max("rank").alias("last_rank"),
        )
        .orderBy("shard")
    )


def _export_shards_sql() -> str:
    from otrrentetl_spark.operators.export import seeded_rank_sql

    rank = seeded_rank_sql("doc_id", 42)
    return rf"""
    WITH sized AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
             END AS n_tok,
             {rank} AS rank
      FROM documents
    ), placed AS (
      SELECT doc_id, n_tok, rank,
             SUM(n_tok) OVER (ORDER BY rank, doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start_off,
             SUM(n_tok) OVER () AS total
      FROM sized
    ), assigned AS (
      SELECT doc_id, n_tok, rank,
             LEAST(7, start_off * 8 // GREATEST(total, 1)) AS shard
      FROM placed
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MIN(rank) AS BIGINT) AS first_rank,
           CAST(MAX(rank) AS BIGINT) AS last_rank
    FROM assigned
    GROUP BY shard
    ORDER BY shard
    """


register("export_training_shards", export_training_shards, _export_shards_sql())
