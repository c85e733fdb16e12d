"""The benchmark's workloads. Each is a closed loop with one client.

A workload has four phases, driven by ``run.py``:

- ``generate``: write the seeded inputs (not timed, not set-up);
- ``prepare``: compute what the checks compare against (not timed);
- ``setup``: build the state the ops run on; timed, and repeated so
  ``setup_s`` is a median. Each repetition starts from fresh files;
- ``round``: one round of ops; the loop runs whole rounds.

Every op's result is checked; a wrong result is a failed op.
"""

from __future__ import annotations

import datetime as dt
import decimal
import random
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.core import Stat, median, p90, timed

# ------------------------------------------------------------- olap_mix

# Pinned from bench.py's HEADLINE+ROTATION set: one query per operator
# family, sized so a cold warm-up pass fits the run budget.
OLAP_QUERIES = [
    "flagship",                  # filter + broadcast dim + fact join + agg + top-k
    "agg_pricing_summary",       # TPC-H Q1-style wide aggregation
    "window_topk_per_group",     # rank window + filter
    "json_props_extraction",     # events JSON path
    "dedup_exact",               # content-hash dedup
    "u3_upsert_merge_state",     # keyed MERGE read side (DataFrame level)
    "q5_nation_revenue",         # six-table star join (SQL layer)
    "graph_pagerank",            # driver-loop fixpoint: jobs run inside the build call
]


def _canon(cols, rows):
    """Order-insensitive canonical form of a result, value-normalized
    as tools/verify_oracle.py does (columns sorted by name, each value
    tagged with its numeric class). Decimals compare as floats, as they
    do after that tool's pandas conversion."""
    from tools.verify_oracle import _norm

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(
            _norm(float(r[i]) if isinstance(r[i], decimal.Decimal) else r[i]) for i in order
        ))
    return sorted(cols), sorted(out)


class OlapMix:
    name = "olap_mix"

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.inputs = work / "inputs" / f"sf{gen.OLAP_SF}"
        self.passes = 0

    def generate(self):
        gen.write_olap_tables(self.inputs, self.seed)

    def prepare(self):
        from otrrentetl_spark.registry import ORACLES, QUERIES
        from tools.verify_oracle import duck_connect

        self.queries = QUERIES
        con = duck_connect(str(self.inputs))
        try:
            self.expect = {}
            for q in OLAP_QUERIES:
                cur = con.execute(ORACLES[q])
                self.expect[q] = _canon([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()  # no oracle connection is open while timing

    def setup(self, rep: int, errors: list):
        # initial load: fresh files, so no session memo keyed on them hits
        self.sf_dir = self.work / f"olap{rep}" / f"sf{gen.OLAP_SF}"
        shutil.copytree(self.inputs, self.sf_dir)
        for q in OLAP_QUERIES:  # the warm-up pass
            df = self.queries[q](self.spark, str(self.sf_dir))
            why = self._check(q, df.columns, df.collect())
            if why:
                errors.append(f"setup {q}: {why}")

    def _check(self, q, cols, rows):
        if _canon(cols, rows) != self.expect[q]:
            return f"result differs from the DuckDB oracle ({len(rows)} rows)"
        return None

    def _op(self, q):
        tr = self.tracer
        with tr.span("plans.build"):
            df = self.queries[q](self.spark, str(self.sf_dir))
        with tr.span("spark.plan"):
            if tr.enabled:
                df._jdf.queryExecution().executedPlan()
        with tr.span("spark.collect"):
            rows = df.collect()
        return df.columns, rows

    def round(self, run):
        order = list(OLAP_QUERIES)
        random.Random(f"{self.seed}:pass:{self.passes}").shuffle(order)
        self.passes += 1
        for q in order:
            timed(run, self.tracer, q, "olap.query",
                  lambda q=q: self._op(q), lambda res, q=q: self._check(q, *res))

    def report(self, run) -> list:
        walls = [op.wall_s for op in run.ops]
        out = [("query_p50_s", median(walls), "s")]
        try:
            out.append(("query_p90_s", p90(walls), "s"))
        except ValueError as ex:
            out.append(("query_p90_s", None, f"refused: {ex}"))
        out.append(("mix_pass_s", median(run.rounds), "s"))
        return out


# ------------------------------------------------------------ etl_daily

BACKFILL_DAYS = 2
TODAY0 = dt.date(2026, 8, 13)


class EtlDaily:
    name = "etl_daily"
    # The first cycle compiles the promote and torrent plans, which the
    # backfill never runs; it moved the cycle wall by +-10% across
    # seeds, so it runs (checked) before the timed window.
    warmup_rounds = 1

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.inputs = work / "inputs" / "etl"
        self.feed = gen.EpgFeed(seed)

    def _day_path(self, d: dt.date) -> Path:
        p = self.inputs / f"epg_{d:%Y_%m_%d}.csv"
        if not p.exists():
            p.write_text(self.feed.day(d).csv)
        return p

    def generate(self):
        self.inputs.mkdir(parents=True)
        (self.inputs / "genres.csv").write_text(gen.genres_csv())
        for d in self._window(TODAY0):
            self._day_path(d)

    def prepare(self):
        from otrrentetl_spark.pipelines import epg, genres, toprecordings, torrents
        from otrrentetl_spark.pipelines.runner import TORRENT_WINDOW_DAYS, EtlStores
        from otrrentetl_spark.sources import scrape
        from otrrentetl_spark.sources.csv_ingest import read_semicolon_csv

        self.epg, self.genres, self.top, self.torrents = epg, genres, toprecordings, torrents
        self.EtlStores, self.scrape, self.read_csv = EtlStores, scrape, read_semicolon_csv
        self.window = dt.timedelta(days=TORRENT_WINDOW_DAYS)

    @staticmethod
    def _window(today):
        return [today - dt.timedelta(days=k) for k in range(BACKFILL_DAYS, 0, -1)]

    def _frames(self, today, toplist=None, tracker=None):
        """The cycle's source DataFrames: the genre CSV, one EPG CSV per
        window day, and the parsed toplist and tracker pages."""
        pages = lambda html: self.scrape.pages_df(self.spark, iter([(0, html)]))  # noqa: E731
        return dict(
            genres=self.read_csv(self.spark, self.inputs / "genres.csv"),
            epg={d: self.read_csv(self.spark, self._day_path(d)) for d in self._window(today)},
            toplist=None if toplist is None else self.scrape.toplist_rows(pages(toplist)),
            tracker=None if tracker is None else self.scrape.tracker_rows(pages(tracker)),
        )

    def setup(self, rep: int, errors: list):
        """Genre load plus the initial backfill into empty tables."""
        self.today = TODAY0
        self.feed.reset()
        self.stores = self.EtlStores.at(self.spark, self.work / f"etl{rep}")
        fr = self._frames(self.today)
        dim = self.genres.ingest_genres(self.spark, fr["genres"], self.stores.genres)
        days = self.epg.backfill(self.spark, self._window(self.today), fr["epg"].get, dim,
                                 self.stores.recordings)
        if days != self._window(self.today):
            errors.append(f"setup backfill wrote {days}")

    def _german(self, day):
        def check(written):
            if written != [day]:
                return f"backfill wrote {written}, expected [{day}]"
            n = self.stores.recordings.read_partitions([f"{day:%Y_%m_%d}"]).count()
            want = self.feed.day(day).german
            return None if n == want else f"{n} German rows stored, expected {want}"
        return check

    def round(self, run):
        self.today += dt.timedelta(days=1)
        today, day = self.today, self.today - dt.timedelta(days=1)
        startdate = today - self.window
        cyc = self.feed.cycle(today, startdate)
        self._day_path(day)
        tr, sp, st = self.tracer, self.spark, self.stores
        fr = timed(run, tr, "frames", "sources.frames",
                   lambda: self._frames(today, cyc.toplist, cyc.tracker))
        fr = fr or {}
        dim = timed(run, tr, "genres", "pipelines.genres",
                    lambda: self.genres.ingest_genres(sp, fr["genres"], st.genres),
                    lambda dim: None if dim.count() == len(gen.GENRES)
                    else f"genre dimension has {dim.count()} rows")
        timed(run, tr, "epg", "pipelines.epg",
              lambda: self.epg.backfill(sp, self._window(today), fr["epg"].get, dim, st.recordings),
              self._german(day))
        timed(run, tr, "top", "pipelines.top",
              lambda: self.top.promote_top(sp, fr["toplist"], st.recordings),
              lambda n: None if n == cyc.promoted else f"promoted {n}, expected {cyc.promoted}")
        timed(run, tr, "torrents", "pipelines.torrents",
              lambda: self.torrents.update_torrents(
                  sp, fr["tracker"], st.recordings, st.torrents, startdate=startdate),
              lambda r: None if tuple(r) == (cyc.saved, cyc.deleted)
              else f"(saved, deleted) = {tuple(r)}, expected {(cyc.saved, cyc.deleted)}")

    def report(self, run) -> list:
        out = [("cycle_p50_s", median(run.rounds), "s")]
        for kind in ("frames", "genres", "epg", "top", "torrents"):
            out.append((f"{kind}_p50_s", median(op.wall_s for op in run.ops if op.kind == kind), "s"))
        return out


# -------------------------------------------------------- keyed_vectors

PROBE_K, NPROBE = 10, 4


def _collected(df):
    """Run ``df``; keep it, so its input files can be counted after
    the timed op."""
    return df, df.collect()


def _cos_top(mat, ids, q, allowed, k):
    """numpy replay of an IVF probe: exact cosine over the vectors of
    the probed clusters, top ``k`` by (cosine desc, id)."""
    qn = q / np.linalg.norm(q)
    m = mat[allowed]
    cos = (m @ qn) / np.linalg.norm(m, axis=1)
    sel_ids = ids[allowed]
    order = np.lexsort((sel_ids, -np.round(cos, 6)))[:k]
    return dict(zip(sel_ids.tolist(), cos.tolist())), [float(cos[i]) for i in order]


class KeyedVectors:
    name = "keyed_vectors"
    TOL = 2e-6

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.inputs = work / "inputs" / "keyed"
        self.gen = gen.KeyedVectors(seed)
        self.extras = {"write_amp": [], "rewrite_ratio": [], "lookup_files": [], "probe_files": []}

    def generate(self):
        self.inputs.mkdir(parents=True)
        pq.write_table(self.gen.table(), self.inputs / "initial.parquet")

    def prepare(self):
        from pyspark.sql import functions as F

        from otrrentetl_spark.operators.annindex import IvfIndex
        from otrrentetl_spark.operators.merge import KeyedParquetTable

        self.F, self.IvfIndex, self.Table = F, IvfIndex, KeyedParquetTable
        self.centroids = self.gen.centroids()
        self.cmat = np.array([c for _, c in self.centroids])
        self.schema = self.spark.read.parquet(str(self.inputs / "initial.parquet")).schema

    def _read(self, path):
        return self.spark.read.schema(self.schema).parquet(str(path))

    def setup(self, rep: int, errors: list):
        """Initial load of the keyed table, then the IVF build over it."""
        root = self.work / f"keyed{rep}"
        self.table = self.Table(self.spark, str(root / "table"))
        self.table.retain_stale_s = 3600.0  # history stays readable
        self.table.upsert_replace_partitions(self._read(self.inputs / "initial.parquet"))
        self.index = self.IvfIndex.build(self.spark, self.table.read().select("id", "v"),
                                         str(root / "index"), self.centroids,
                                         vec_col="v", id_col="id")
        self.version = self._version()

    def _version(self) -> int:
        return int(self.table.history().agg(self.F.max("version")).first()[0])

    # ---- numpy model of the index
    def _model_arrays(self):
        ids = np.array(sorted(self.gen.model), dtype=np.int64)
        mat = np.array([self.gen.model[i][3] for i in ids])
        d2 = ((mat[:, None, :] - self.cmat[None, :, :]) ** 2).sum(-1)
        return ids, mat, d2.argmin(axis=1)

    def _probe_check(self, q, rows, arrays):
        ids, mat, cluster = arrays
        qa = np.array(q)
        probes = np.lexsort((np.arange(len(self.cmat)), ((self.cmat - qa) ** 2).sum(-1)))[:NPROBE]
        cos, top = _cos_top(mat, ids, qa, np.isin(cluster, probes), PROBE_K)
        if len(rows) != len(top):
            return f"{len(rows)} neighbours, expected {len(top)}"
        for vid, c in rows:
            if vid not in cos or abs(cos[vid] - c) > self.TOL:
                return f"neighbour {vid} (cosine {c}) not in the numpy replay"
        if rows and rows[-1][1] < top[-1] - self.TOL:
            return f"k-th cosine {rows[-1][1]} below the replay's {top[-1]}"
        return None

    def round(self, run):
        F, t, tr, sp, g = self.F, self.table, self.tracer, self.spark, self.gen
        state0 = self._agg(None)[:2]  # (rows, sum of tags) at version v0
        v0 = self.version
        inp = g.next_round()
        r = g.round_no
        up_path = self.inputs / f"upsert{r}.parquet"
        pq.write_table(inp["upsert"], up_path)
        up_df = self._read(up_path)
        del_df = sp.createDataFrame(
            [(pk, rk) for pk, rk, _, _ in inp["deleted"].values()], "PartitionKey string, RowKey string")
        n_up = inp["upsert"].num_rows

        files0 = self._data_files() if tr.enabled else None
        timed(run, tr, "upsert", "merge.upsert", lambda: t.upsert_replace_partitions(up_df))
        if tr.enabled:
            self._write_amp(files0, up_path, n_up)
        timed(run, tr, "delete", "merge.delete", lambda: t.delete_by_keys(del_df))
        self.version = v1 = self._version()

        for i, (pk, rk, tag, v) in inp["lookups"]:
            res = timed(run, tr, "lookup", "merge.lookup",
                        lambda pk=pk, rk=rk: _collected(t.lookup(pk, rk)),
                        lambda res, i=i, tag=tag, v=v: None
                        if [(x["id"], x["tag"], list(x["v"])) for x in res[1]] == [(i, tag, v)]
                        else f"lookup of {i} returned {len(res[1])} rows / wrong values")
            self._count_files("lookup_files", res)
        p = inp["scan_partition"]
        timed(run, tr, "scan", "merge.scan",
              lambda: t.read_partitions([p]).agg(
                  F.count("*"), F.sum("tag"), F.max("RowKey")).first(),
              lambda row: None if tuple(row) == self._agg(p) else f"scan of {p}: {tuple(row)} != {self._agg(p)}")
        timed(run, tr, "time_travel", "merge.time_travel",
              lambda: tuple(t.read(version=v0).agg(F.count("*"), F.sum("tag")).first()),
              lambda row: None if row == state0 else f"version {v0}: {row} != {state0}")
        feed = timed(run, tr, "changes", "merge.changes",
                     lambda: t.changes(v0, v1, include_preimage=True)
                     .select("id", "v", "change_type").collect(),
                     lambda rows: self._changes_check(rows, inp, n_up))
        feed_df = sp.createDataFrame(
            [(x["id"], x["v"], x["change_type"]) for x in feed or []],
            "id long, v array<double>, change_type string")
        timed(run, tr, "refresh", "annindex.refresh", lambda: self.index.apply_changes(feed_df))

        arrays = self._model_arrays()
        for q in inp["probes"]:
            res = timed(run, tr, "probe", "annindex.probe",
                        lambda q=q: _collected(self.index.topk(q, k=PROBE_K, nprobe=NPROBE)),
                        lambda res, q=q: self._probe_check(
                            q, [(x["vec_id"], x["cosine_sim"]) for x in res[1]], arrays))
            self._count_files("probe_files", res)
        qdf = sp.createDataFrame(inp["bulk"], "qid long, qvec array<double>")
        timed(run, tr, "bulk_knn", "annindex.bulk",
              lambda: self.index.knn_join_bulk(qdf, k=PROBE_K, nprobe=NPROBE).collect(),
              lambda rows: self._bulk_check(rows, inp["bulk"], arrays))

        def maintain():
            t.compact_if(max_files_per_partition=4)
            t.expire_history(keep_last=10)
            t.vacuum(retain_s=0.0)
            self.index.maintain(vacuum_after_s=0.0)
        timed(run, tr, "maintain", "merge.maintain", maintain)
        self.version = self._version()

    def _agg(self, p):
        rows = [r for r in self.gen.model.values() if p is None or r[0] == p]
        return (len(rows), sum(r[2] for r in rows), max(r[1] for r in rows))

    def _changes_check(self, rows, inp, n_up):
        kinds = {}
        for x in rows:
            kinds.setdefault(x["change_type"], set()).add(x["id"])
        n_new = n_up // 2
        want = {"insert": n_new, "update": n_up - n_new, "update_preimage": n_up - n_new,
                "delete": len(inp["deleted"])}
        got = {k: len(v) for k, v in kinds.items()}
        if got != want:
            return f"change feed {got}, expected {want}"
        if kinds["delete"] != set(inp["deleted"]):
            return "change feed deletes the wrong keys"
        return None

    def _bulk_check(self, rows, queries, arrays):
        by_q = {}
        for x in rows:
            by_q.setdefault(x["qid"], []).append((x["rk"], x["vec_id"], x["cosine_sim"]))
        for qid, q in queries:
            got = [(vid, c) for _, vid, c in sorted(by_q.get(qid, []))]
            why = self._probe_check(q, got, arrays)
            if why:
                return f"query {qid}: {why}"
        return None

    # ---- trace-only layer ratios. They make no engine call between ops:
    # file counts come from the op's own DataFrame after the op, write
    # amplification from the table directory, live files after the loop.
    def _count_files(self, key, res):
        if self.tracer.enabled and res is not None:
            self.extras[key].append(len(res[0].inputFiles()))

    def _data_files(self):
        # retain_stale_s > 0 keeps retired files until maintain, so the
        # files an upsert adds are exactly the new ones on disk
        return set(Path(self.table.path).glob("PartitionKey=*/*.parquet"))

    def _live_files(self):
        return {f.split("file:", 1)[-1] for f in self.table.read().inputFiles()}

    def _write_amp(self, files0, batch_path, n_batch):
        new = self._data_files() - files0
        nbytes = sum(Path(f).stat().st_size for f in new)
        nrows = sum(pq.ParquetFile(f).metadata.num_rows for f in new)
        self.extras["write_amp"].append(nbytes / batch_path.stat().st_size)
        self.extras["rewrite_ratio"].append(nrows / n_batch)

    def space_amp(self) -> float:
        root = Path(self.table.path)
        on_disk = sum(f.stat().st_size for f in root.rglob("*") if f.is_file())
        return on_disk / sum(Path(f).stat().st_size for f in self._live_files())

    def report(self, run) -> list:
        out = []
        for kind in ("upsert", "delete", "lookup", "scan", "time_travel", "changes",
                     "refresh", "probe", "bulk_knn", "maintain"):
            out.append((f"{kind}_p50_s", median(op.wall_s for op in run.ops if op.kind == kind), "s"))
        out.append(("space_amp", Stat(self.space_amp(), 1), "ratio"))
        return out

    def layer_extras(self) -> dict:
        live = self._live_files()
        parts = {Path(f).parent.name for f in live}
        out = {"merge.files_per_partition": Stat(len(live) / max(1, len(parts)), 1)}
        for k, vals in self.extras.items():
            if vals:
                prefix = "annindex" if k == "probe_files" else "merge"
                out[f"{prefix}.{k}"] = median(vals)
        return out


WORKLOADS = {w.name: w for w in (OlapMix, EtlDaily, KeyedVectors)}
