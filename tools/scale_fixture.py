"""Reproducible scale fixtures for the BASELINE.md 10x/100x tables.

Replicates the sf0.1 documents table N times with a per-replica
suffix token (near-dup-heavy — replicas are ~0.97 Jaccard neighbors
of the original, so dedup workloads grow quadratically in dup-degree
by construction) and symlinks the other tables unchanged. doc_ids
stay unique (replica r adds r*1_000_000).

    python tools/scale_fixture.py 10 /tmp/sfx10
    python tools/scale_fixture.py 100 /tmp/sfx100
    python tools/measure.py --sf /tmp/sfx10 <query> ...

The same fixture then drives the correctness-at-scale sweep:

    python tools/verify_oracle.py /tmp/sfx10 <doc-centric queries>
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OTHER_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "embeddings",
]


def build(mult: int, out: str, src: str = SRC) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    # corpus_snapshot_diff and the dedup fixtures (exact/simhash/
    # minhash/pipeline injected duplicates, r5) key their synthetic
    # rows at doc_id + 2e9 and document that offset as collision-free;
    # keep the fixture inside that invariant (ADVICE r4: at mult >
    # ~2000 the replica id space would cross 2e9 and silently break
    # it — r5 found and fixed exactly that collision class when the
    # injected-duplicate offset was still 1e6, inside replica space).
    (max_id,) = con.execute(
        f"SELECT MAX(doc_id) FROM read_parquet('{src}/documents.parquet')"
    ).fetchone()
    if max_id + (mult - 1) * 1_000_000 >= 2_000_000_000:
        raise ValueError(
            f"mult={mult} would push doc_ids past 2e9 and collide with "
            "corpus_snapshot_diff's re-key offset; use a smaller mult"
        )
    con.execute(
        f"""
        COPY (
          SELECT d.doc_id + r.r * 1000000 AS doc_id,
                 d.text || ' rep' || CAST(r.r AS VARCHAR) AS text,
                 d.lang, d.source,
                 -- keep the base-table invariant n_chars == length(text):
                 -- the suffix is 4 + digits(r) chars, not a flat 5
                 d.n_chars + 4 + length(CAST(r.r AS VARCHAR)) AS n_chars
          FROM read_parquet('{src}/documents.parquet') d
          CROSS JOIN (SELECT UNNEST(range({mult})) AS r) r
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    for t in OTHER_TABLES:
        dst = f"{out}/{t}.parquet"
        # always re-point (stale/dangling links from a prior build
        # against a different src must not survive a rebuild)
        if os.path.islink(dst) or os.path.exists(dst):
            os.remove(dst)
        os.symlink(f"{src}/{t}.parquet", dst)


def build_full_star(mult: int, out: str, src: str = SRC) -> None:
    """Full-star scale fixture (r12 verdict item 4): replicate EVERY
    fact/dimension table ``mult`` times with per-replica key offsets
    applied consistently to primary AND foreign keys, so each replica
    is a self-consistent shifted universe and every join/aggregate
    shape survives intact. ``mult=10`` over sf0.1 ≈ sf1 (6M lineitem).

    region/nation stay unchanged (shared enumeration dimensions —
    replicated customers/suppliers keep valid n_nationkey references,
    and nation-name group-bys keep their natural cardinality).
    doc_id offsets stay inside the documented <2e9 re-key invariant.
    """
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    rep = f"CROSS JOIN (SELECT UNNEST(range({mult})) AS r) r"
    k = 1_000_000  # > every sf0.1 key max (orders max ~600k)
    big = 10_000_000  # orderkey/event_id spaces
    jobs = {
        "customer": f"""
            SELECT c_custkey + r.r * {k} AS c_custkey, c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM read_parquet('{src}/customer.parquet') {rep}""",
        "supplier": f"""
            SELECT s_suppkey + r.r * {k} AS s_suppkey, s_name,
                   s_nationkey, s_acctbal
            FROM read_parquet('{src}/supplier.parquet') {rep}""",
        "part": f"""
            SELECT p_partkey + r.r * {k} AS p_partkey, p_name, p_brand,
                   p_type, p_size, p_retailprice
            FROM read_parquet('{src}/part.parquet') {rep}""",
        "orders": f"""
            SELECT o_orderkey + r.r * {big} AS o_orderkey,
                   o_custkey + r.r * {k} AS o_custkey, o_orderstatus,
                   o_totalprice, o_orderdate, o_orderpriority
            FROM read_parquet('{src}/orders.parquet') {rep}""",
        "lineitem": f"""
            SELECT l_orderkey + r.r * {big} AS l_orderkey,
                   l_partkey + r.r * {k} AS l_partkey,
                   l_suppkey + r.r * {k} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_tax, l_returnflag, l_linestatus,
                   l_shipdate
            FROM read_parquet('{src}/lineitem.parquet') {rep}""",
        "events": f"""
            SELECT event_id + r.r * {big} AS event_id, ts,
                   user_id + r.r * {k} AS user_id, event_type, value,
                   props
            FROM read_parquet('{src}/events.parquet') {rep}""",
        "embeddings": f"""
            SELECT vec_id + r.r * {k} AS vec_id, embedding, label
            FROM read_parquet('{src}/embeddings.parquet') {rep}""",
    }
    for t, sql in jobs.items():
        con.execute(f"COPY ({sql}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    # documents: reuse the near-dup-heavy replication (same offsets,
    # same <2e9 invariant) so doc-centric workloads stay comparable
    # with the 10x/100x/1000x fixtures
    con.execute(
        f"""
        COPY (
          SELECT d.doc_id + r.r * 1000000 AS doc_id,
                 d.text || ' rep' || CAST(r.r AS VARCHAR) AS text,
                 d.lang, d.source,
                 d.n_chars + 4 + length(CAST(r.r AS VARCHAR)) AS n_chars
          FROM read_parquet('{src}/documents.parquet') d {rep}
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    for t in ["region", "nation"]:
        dst = f"{out}/{t}.parquet"
        if os.path.islink(dst) or os.path.exists(dst):
            os.remove(dst)
        os.symlink(f"{src}/{t}.parquet", dst)


if __name__ == "__main__":
    if sys.argv[1] == "--full-star":
        build_full_star(int(sys.argv[2]), sys.argv[3])
        print(f"wrote {sys.argv[3]} (all tables x{sys.argv[2]})")
    else:
        build(int(sys.argv[1]), sys.argv[2])
        print(f"wrote {sys.argv[2]} (documents x{sys.argv[1]})")
