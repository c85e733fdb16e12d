"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The engine receives only these files (or
DataFrames read from them); nothing here imports the engine.

- ``write_olap_tables``: the ten fixture tables the query registry reads
  (TPC-H-like star schema plus events, documents and embeddings), with
  the value domains of the repository's sf fixtures.
- ``EpgFeed``: daily EPG ``;``-CSV files plus toplist and tracker HTML,
  with the counts each ETL step must report known by construction.
- ``KeyedVectors``: the keyed vector table, its churn batches and the
  probe queries of the ``keyed_vectors`` workload.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------------ olap

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_EMB_DIM = 64


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(us + epoch, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


OLAP_SF = 0.001  # small enough that a cold warm-up pass fits the run budget


def write_olap_tables(out: Path, seed: int) -> None:
    """Write region … embeddings as one parquet file each into ``out``.
    Row counts follow the fixtures' sf scaling (lineitem ≈ 6M·sf)."""
    sf = OLAP_SF
    rng = np.random.default_rng([seed, 1])
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = 500, 500

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    day0 = dt.datetime(1995, 1, 1)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(day0, rng.integers(0, 2404, n_ord) * 86_400),
        "o_orderpriority": [_PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[f] for f in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(day0, (1 + rng.integers(0, 2499, n_line)) * 86_400),
    })
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(
            dt.datetime(2024, 1, 1),
            np.round(np.sort(rng.uniform(0, 30 * 86_400, n_evt)), 6),
        ),
        "user_id": rng.integers(0, 150, n_evt),
        "event_type": [_EVENT_TYPES[e] for e in rng.integers(0, 5, n_evt)],
        "value": _money(rng, 0.01, 490.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n))
        for n in rng.integers(8, 90, n_doc)
    ]
    # near- and exact duplicates, so the dedup queries have work to do
    for i in rng.choice(np.arange(20, n_doc), 20, replace=False):
        src = texts[int(rng.integers(0, 20))]
        texts[i] = src if i % 2 else src + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[x] for x in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, _EMB_DIM))
    emb = centers[labels] + 0.7 * rng.normal(size=(n_emb, _EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


# ------------------------------------------------------------------- etl
# The CSV/HTML layouts below reproduce the reference's raw sources (the
# same shapes the pipeline tests build offline).

EPG_HEADER = (
    "Id;beginn;ende;dauer;sender;titel;typ;text;genre_id;fsk;language;"
    "weekday;zusatz;wdh;downloadlink;infolink;programlink"
)
GENRES = ["Spielfilm", "Serie", "Doku", "Nachrichten", "Sport"]
SENDERS = [f"{name} {i}" for i in range(16) for name in ("Kanal", "Pro", "Sat", "Das Erste", "Tele")]
RESOLUTIONS = [  # (link infix, class the tracker parser assigns)
    (".mpg.HD.avi.", "HD"),
    (".mpg.mp4.", "MP4"),
    (".mpg.avi.", "DIVX"),
]


def genres_csv() -> str:
    rows = ["Nummer;Kategorie"] + [f"{i + 1};{g}" for i, g in enumerate(GENRES)]
    return "\n".join(rows) + "\n"


def epg_csv(rows: list[dict]) -> str:
    fields = EPG_HEADER.split(";")
    out = [EPG_HEADER]
    for r in rows:
        out.append(";".join(str(r.get(f, "")) for f in fields))
    return "\n".join(out) + "\n"


def toplist_html(rows: list[dict]) -> str:
    marker = '<td oncontextmenu="showNewTabMenu('
    blocks = []
    for r in rows:
        cells = [""] * 11
        cells[0] = f"{r['epg_id']},'x')\">open</td>"
        cells[3] = f"0)\">{r['date']}</td>"
        cells[7] = f"0)\" title='Beliebtheit: {r['rating']}'>pop</td>"
        cells[9] = f"0)\"><img src={r['preview']} width=120></td>"
        for i in range(11):
            if not cells[i]:
                cells[i] = f"0)\">c{i}</td>"
        blocks.append(
            f"<tr id='serchrow{r['epg_id']}' class='row'>" + marker + marker.join(cells)
        )
    return "<html><table>" + "".join(blocks) + "</table></html>"


def tracker_html(rows: list[dict]) -> str:
    trs = ["<tr><th>head</th><td>x</td></tr>"]
    for r in rows:
        trs.append(
            "<tr>"
            "<td>#</td>"
            f"<td><a href='{r['link']}'>{r['file']}</a></td>"
            f"<td align=center>{r['finished']}</td>"
            f"<td align=center>{r['loading']}</td>"
            f"<td align=center>{r['loaded']}</td>"
            "</tr>"
        )
    return "<html><table border=1 class=\"bordertable\">" + "".join(trs) + "</table></html>"


@dataclass
class EpgDay:
    day: dt.date
    csv: str
    german: int  # rows the language filter keeps
    picks: list[tuple[int, dt.datetime, str]]  # promotable (Id, beginn, sender)


@dataclass
class CycleInputs:
    toplist: str
    tracker: str
    promoted: int
    saved: int
    deleted: int


EPG_ROWS_PER_DAY = 4000
PROMOTE = 24  # qualifying known toplist entries per cycle
MATCHED = 16  # of those, how many get torrents


@dataclass
class EpgFeed:
    """The seeded upstream of ``etl_daily``. ``day(d)`` is the EPG file
    for ``d``; ``cycle(today, startdate)`` is the toplist and tracker
    scrape of the run on ``today`` with the tracker date window starting
    at ``startdate``, and advances the model of the ``top`` partition
    (recordings kept there, with their torrents) that fixes the counts
    the promote and torrent steps must return."""

    seed: int
    _days: dict = field(default_factory=dict)
    _top: dict = field(default_factory=dict)  # Id -> (beginn, sender, n_torrents)

    def reset(self) -> None:
        """Forget the ``top`` partition: the tables start empty again."""
        self._top = {}

    def day(self, d: dt.date) -> EpgDay:
        if d not in self._days:
            self._days[d] = self._make_day(d)
        return self._days[d]

    def _make_day(self, d: dt.date) -> EpgDay:
        rng = random.Random(f"{self.seed}:epg:{d.isoformat()}")
        base = (d - dt.date(2000, 1, 1)).days * 100_000
        rows, picks, german = [], [], 0
        n_send = len(SENDERS)
        for i in range(EPG_ROWS_PER_DAY):
            sender = SENDERS[i % n_send]
            # one slot per 28 min per sender: (sender, minute) is unique
            start = dt.datetime(d.year, d.month, d.day) + dt.timedelta(
                minutes=(i // n_send) * 28 + rng.randrange(20)
            )
            dur = rng.choice([15, 30, 45, 60, 90, 105])
            lang = "de" if rng.random() < 0.9 else rng.choice(["en", "fr"])
            row = dict(
                Id=base + i,
                beginn=start.strftime("%d.%m.%Y %H:%M:00"),
                ende=(start + dt.timedelta(minutes=dur)).strftime("%d.%m.%Y %H:%M:00"),
                dauer=dur,
                sender=sender,
                titel=f"Titel {base + i}",
                typ=rng.choice(["movie", "series", "doc"]),
                genre_id=rng.randrange(1, len(GENRES) + 2),  # last id unknown
                language=lang,
            )
            r = rng.random()
            if r < 0.02:
                row["dauer"] = "n/a"  # malformed long -> default 0
            elif r < 0.03:
                row["beginn"] = "99.99.9999 99:99:99"  # malformed timestamp
            german += lang == "de"
            if lang == "de" and r >= 0.03 and start.date() == d:
                picks.append((base + i, start, sender))
            rows.append(row)
        rng.shuffle(picks)
        return EpgDay(d, epg_csv(rows), german, picks[:PROMOTE])

    def cycle(self, today: dt.date, startdate: dt.date) -> CycleInputs:
        d = today - dt.timedelta(days=1)
        rng = random.Random(f"{self.seed}:scrape:{today.isoformat()}")
        picks = self.day(d).picks
        short = d.strftime("%d.%m.%y")
        top_rows = []
        for j, (rid, _, _) in enumerate(picks):
            top_rows.append(dict(epg_id=rid, date=short, rating=rng.choice(["sehr hoch", "hoch"]),
                                 preview=f"http://img/{rid}.jpg"))
            if j % 8 == 3:  # qualifying but unknown id: the existence join drops it
                top_rows.append(dict(epg_id=9_000_000 + j, date=short, rating="hoch",
                                     preview="http://img/x.jpg"))
        # the first non-qualifying rating ends the feed; later rows never count
        top_rows.append(dict(epg_id=picks[0][0], date=short, rating="mittel", preview="x"))
        top_rows += [dict(epg_id=rid, date=short, rating="sehr hoch", preview="y")
                     for rid, _, _ in self.day(d - dt.timedelta(days=1)).picks[:5]]

        for rid, start, sender in picks[:MATCHED]:
            self._top[rid] = (start, sender, 1 + rng.randrange(len(RESOLUTIONS)))
        kept = {rid: v for rid, v in self._top.items() if v[0].date() >= startdate}
        deleted = (len(picks) - MATCHED) + (len(self._top) - len(kept))
        self._top = kept
        trk = []
        for rid, (start, sender, n_t) in sorted(kept.items(), key=lambda kv: kv[1][0], reverse=True):
            stamp = start.strftime("%y.%m.%d %H-%M")
            for infix, _ in RESOLUTIONS[:n_t]:
                trk.append(dict(link=f"http://t/{rid}_TVOON_DE{infix}otrkey.torrent",
                                file=f"Titel {rid} {stamp} {sender.replace(' ', '')} otrkey",
                                finished=rng.randrange(100), loading=rng.randrange(10),
                                loaded=rng.randrange(1000)))
        # a stale entry ends the date window; what follows is ignored
        old = (startdate - dt.timedelta(days=3)).strftime("%y.%m.%d")
        trk.append(dict(link="http://t/old_TVOON_DE.mpg.avi.otrkey.torrent",
                        file=f"Alt {old} 20-15 Kanal0 otrkey", finished=1, loading=0, loaded=2))
        return CycleInputs(
            toplist=toplist_html(top_rows),
            tracker=tracker_html(trk),
            promoted=len(picks),
            saved=sum(v[2] for v in kept.values()),
            deleted=deleted,
        )


# ---------------------------------------------------------- keyed vectors


PARTITIONS = 30
ROWS_PER_PARTITION = 400
DIM = 16
CLUSTERS = 16
UPSERT_PARTITIONS = 3
UPSERT_ROWS = 100  # per partition: half updates, half new keys
DELETE_ROWS = 60
BULK_QUERIES = 100


class KeyedVectors:
    """State of the ``keyed_vectors`` generator: the initial table, the
    cluster centres the index is built with, and a deterministic churn
    stream. ``model`` maps id -> (PartitionKey, RowKey, tag, vector) and
    is the in-process twin the benchmark checks the table against."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng([seed, 7])
        self.centers = self.rng.normal(size=(CLUSTERS, DIM))
        n = PARTITIONS * ROWS_PER_PARTITION
        self.next_id = n
        self.model = {}
        vecs = self._vectors(n)
        for i in range(n):
            self.model[i] = self._row(i, i % PARTITIONS, int(self.rng.integers(0, 1000)), vecs[i])
        self.round_no = 0

    def _vectors(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, CLUSTERS, n)
        return np.round(self.centers[lab] + 0.35 * self.rng.normal(size=(n, DIM)), 6)

    @staticmethod
    def _row(i, p, tag, v):
        return (f"p{p:02d}", f"{i:09d}", tag, [float(x) for x in v])

    def centroids(self) -> list[tuple[int, list[float]]]:
        # the index is built on perturbed centres, as a k-means pass would give
        noisy = self.centers + 0.05 * np.random.default_rng([self.seed, 8]).normal(size=self.centers.shape)
        return [(c, [float(x) for x in noisy[c]]) for c in range(CLUSTERS)]

    def table(self) -> pa.Table:
        return _keyed_table([(i, *r) for i, r in sorted(self.model.items())])

    def next_round(self) -> dict:
        """Advance the model by one churn round and return its inputs:
        the upsert batch, the delete keys, lookup keys, the scanned
        partition and probe/bulk query vectors."""
        rng = np.random.default_rng([self.seed, 11, self.round_no])
        self.round_no += 1
        P = PARTITIONS
        first = int(rng.integers(0, P))
        parts = [(first + 7 * j) % P for j in range(UPSERT_PARTITIONS)]
        ups = []
        half = UPSERT_ROWS // 2
        for p in parts:
            ids = sorted(i for i, r in self.model.items() if r[0] == f"p{p:02d}")
            lo = int(rng.integers(0, max(1, len(ids) - half)))
            vecs = self._vectors(2 * half)
            for k, i in enumerate(ids[lo: lo + half]):  # contiguous existing key range
                ups.append((i, *self._row(i, p, int(rng.integers(0, 1000)), vecs[k])))
            for k in range(half):  # new keys
                i = self.next_id
                self.next_id += 1
                ups.append((i, *self._row(i, p, int(rng.integers(0, 1000)), vecs[half + k])))
        for i, *r in ups:
            self.model[i] = tuple(r)
        dpart = f"p{(first + 3) % P:02d}"
        cand = sorted(i for i, r in self.model.items() if r[0] == dpart)
        dels = [int(x) for x in rng.choice(cand, min(DELETE_ROWS, len(cand)), replace=False)]
        deleted = {i: self.model.pop(i) for i in dels}
        live = sorted(self.model)
        lookups = [int(x) for x in rng.choice(live, 3, replace=False)]
        queries = self._vectors(BULK_QUERIES + 3)
        return dict(
            upsert=_keyed_table(ups),
            deleted=deleted,
            lookups=[(i, self.model[i]) for i in lookups],
            scan_partition=f"p{int(rng.integers(0, P)):02d}",
            probes=[[float(x) for x in q] for q in queries[:3]],
            bulk=[(k, [float(x) for x in q]) for k, q in enumerate(queries[3:])],
        )


def _keyed_table(rows) -> pa.Table:
    return pa.table({
        "PartitionKey": [r[1] for r in rows],
        "RowKey": [r[2] for r in rows],
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "tag": pa.array([r[3] for r in rows], pa.int64()),
        "v": pa.array([r[4] for r in rows], pa.list_(pa.float64())),
    })
