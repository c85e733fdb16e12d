"""Benchmark harness — the driver's per-round BENCH_r{N}.json source.

Runs the headline queries from the registry at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints exactly ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Timing discipline: one untimed warm-up of the first query absorbs
JVM/codegen startup; each headline query is then timed as a full
plan-to-collect execution THREE times (no df.cache() anywhere, so all
runs include their own parquet scan, shuffles, and result fetch). The
reported per-query number and total are the min of the three runs —
steady-state throughput, the quantity that scales to the 100 TB
design point — because the first run of a query is dominated by
one-time Janino/whole-stage-codegen compilation of that plan
(a fixed cost per plan shape, NOT per byte of data; at sf0.1 it is
3-5x the actual execution). The first-run times are also reported
under "cold_queries"/"cold_total" so the fixed cost stays visible.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one representative per operator family, weighted
# toward the shuffly/joiny plans that dominate cost at scale.
HEADLINE = [
    "flagship",                  # filter + broadcast dim + fact join + agg + top-k
    "agg_pricing_summary",       # TPC-H Q1-style wide aggregation
    "agg_rollup",                # hierarchical agg
    "window_topk_per_group",     # rank window + filter
    "window_running_frames",     # running-sum frames
    "j2_normalized_key_join",    # derived-key equi-join
    "j5_child_collection",       # groupBy collect_list (1:N)
    "setop_union_intersect_except",
    "json_props_extraction",     # events JSON path
    "text_stats",                # documents text analysis
    "dedup_exact",               # content-hash dedup
    "dedup_minhash_lsh_pairs",   # shingle→minhash→band→bucket-join
    "similarity_bruteforce_topk",# embedding cosine top-k
    "u3_upsert_merge_state",     # keyed MERGE read-side
    "q5_nation_revenue",         # six-table star join (SQL layer)
    "asof_click_to_view",        # as-of join (union+window)
    "stream_tumbling_window",    # event-time windowed aggregation
    "range_join_ship_windows",   # point-in-interval bucket rewrite
    "stream_dedup_events",       # keyed exactly-once dedup
    "corpus_curation_pipeline",  # gates -> dedup -> split, one plan
    "stats_moments_suite",       # one-pass mergeable moments/regression
    "tfidf_top_terms",           # tf shuffle + broadcast vocab df
    "graph_pagerank",            # iterative fixed-point power iteration
    "llm_data_pipeline_v2",      # gates->dedup->decontam->chunk->split
    "dedup_spans",               # span explode -> keep-first -> reassemble
    "text_unigram_surprisal",    # corpus-stat join LM-filter proxy
]

# Rotating members (r11 verdict item 7): correctness of the full
# registry is certified every round, but per-round PERF visibility
# existed only for the 26 fixed headline queries. Each round adds 2-3
# members drawn from the never-driver-sampled / never-benched pool,
# seed-pinned so the pick is auditable: candidates = registry −
# driver-sampled(CORRECTNESS_r*.json) − HEADLINE, sorted by
# md5(f"r{round}:{name}"), take the first 3. Their prior-round floor
# is measured (tools/measure.py, quiet host) and recorded in
# BASELINE.md before the rotation lands.
ROTATION = [
    # round 12 (seed "r12")
    "pagination_offset_page",    # keyset/offset pagination window
    "skew_salted_join",          # salted hot-key join strategy
    "text_winnow_fingerprints",  # winnowing document fingerprints
    # round 13 (seed "r13"; floors in BASELINE.md "Bench rotation
    # floors — r13 members")
    "k3_upsert_replace_state",   # keyed-table file-level COW replace
    "multimodal_audio_resample", # WAV decode + linear resample kernel
    "date_function_suite",       # German datetime parse/format/arith
    # round 14 (seed "r14"; floors in BASELINE.md "Bench rotation
    # floors — r14 members")
    "similarity_ivf_knn_bulk",   # IVF distributed batch top-k join
    "sketch_heavy_hitters",      # count-min sketch vs exact counts
    "nullsafe_join_counts",      # null-safe equality join semantics
]
HEADLINE = HEADLINE + ROTATION


def _sf_from_dir(d: str) -> float:
    name = Path(d).name  # e.g. "sf0.1"
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    from otrrentetl_spark.registry import QUERIES  # noqa: PLC0415
    from otrrentetl_spark.session import get_spark  # noqa: PLC0415

    # Console progress bars interleave with stdout and can corrupt the
    # single JSON result line when the driver captures it (r3 verdict
    # item 4) — suppress them for the bench session.
    spark = get_spark(
        "otrrentetl_spark-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    names = [n for n in HEADLINE if n in QUERIES]
    # Warm-up: JVM classloading + codegen, not counted.
    QUERIES[names[0]](spark, SF_DIR).collect()
    # Python-worker/Arrow pool spin-up (one-time environment cost, not
    # a per-query cost) — a trivial pandas_udf on synthetic input so no
    # benched query's cache is touched.
    from pyspark.sql import functions as F  # noqa: PLC0415

    @F.pandas_udf("long")
    def _ident(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(_ident("id")).collect()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        # THREE timed runs, warm = min of the three (r4 verdict item 1:
        # with only two runs, a single host-load spike during a query's
        # first execution could land in BOTH the cold and the warm
        # number — min-of-three means one bad run can never set warm).
        runs: list[float] = []
        for _ in range(3):
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).collect()
            runs.append(time.perf_counter() - t0)
        cold[name] = round(runs[0], 3)
        timings[name] = round(min(runs), 3)

    total = round(sum(timings.values()), 3)

    # DuckDB baseline on the SAME oracle SQL over the SAME parquet —
    # measured on this box so the ≤2× target is a number, not an
    # argument (VERDICT r2 item 8). min-of-three, like the Spark side.
    duck: dict[str, float] = {}
    try:
        import duckdb  # noqa: PLC0415

        from otrrentetl_spark.registry import ORACLES  # noqa: PLC0415

        con = duckdb.connect()
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM"
                f" read_parquet('{SF_DIR}/{t}.parquet')"
            )
        for name in names:
            sql = ORACLES.get(name)
            if sql is None:
                continue
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                best = min(best, time.perf_counter() - t0)
            duck[name] = round(best, 3)
    except Exception:
        pass  # baseline column is advisory; never fail the bench

    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_queries": cold,
        "cold_total": round(sum(cold.values()), 3),
        "duckdb_queries": duck,
        "duckdb_total": round(sum(duck.values()), 3),
        "sf": _sf_from_dir(SF_DIR),
    }
    # The FULL record goes to a file; stdout gets only the contract
    # fields (metric/value/unit/queries/sf + the duckdb total). r7
    # verdict item 7: the driver's stdout capture truncated the
    # all-fields line (~3.5 KB) and recorded parsed:null — the
    # trimmed line is ~1 KB and round-trips.
    (REPO / "BENCH_LOCAL.json").write_text(json.dumps(full) + "\n")
    print(
        json.dumps(
            {
                "metric": full["metric"],
                "value": total,
                "unit": "sec",
                "queries": timings,
                "duckdb_total": full["duckdb_total"],
                "sf": full["sf"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
