"""End-to-end lifecycle test of the four pipeline programs over
offline fixtures — the Spark-first replay of the reference's
runetl.main() dataflow (SURVEY.md §3.1), covering:

I2 idempotent partition gates, F4 language filter, C1 default-on-
failure coercion, J1 genre default, F3+I4 rating early-stop, J4
existence gate, U6 'top' promotion, J2 normalized-key torrent join,
Str5 resolution classing, A2/J3 zero-match deletion.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests import fixtures_otr as fx

TODAY = dt.date(2026, 8, 13)
DAY_A = dt.date(2026, 8, 5)   # inside the 10-day backfill window
DAY_B = dt.date(2026, 8, 10)


def _epg_rows_day_a():
    return [
        # promoted later; torrents will match (sender 'Pro Sieben' → 'prosieben')
        dict(Id=101, beginn="05.08.2026 20:15:00", ende="05.08.2026 22:00:00",
             dauer=105, sender="Pro Sieben", titel="Film Eins", typ="movie",
             genre_id=1, language="de"),
        # promoted later; NO torrents → J3 delete path
        dict(Id=102, beginn="05.08.2026 21:00:00", ende="05.08.2026 21:45:00",
             dauer=45, sender="RTL 2", titel="Serie Zwei", typ="series",
             genre_id=2, language="de"),
        # unknown genre → 'Sonstiges'; malformed dauer → default 0
        dict(Id=103, beginn="05.08.2026 08:00:00", ende="05.08.2026 09:00:00",
             dauer="oops", sender="ARD", titel="Doku Drei", typ="doc",
             genre_id=99, language="de"),
        # F4: non-German row is dropped
        dict(Id=104, beginn="05.08.2026 10:00:00", ende="05.08.2026 11:00:00",
             dauer=60, sender="BBC", titel="English Show", typ="movie",
             genre_id=1, language="en"),
    ]


def _epg_rows_day_b():
    return [
        dict(Id=201, beginn="10.08.2026 20:15:00", ende="10.08.2026 21:15:00",
             dauer=60, sender="ZDF", titel="Show Vier", typ="movie",
             genre_id=3, language="de"),
    ]


def _toplist():
    return [
        dict(epg_id=101, date="05.08.26", rating="sehr hoch", preview="http://img/101.jpg"),
        dict(epg_id=102, date="05.08.26", rating="hoch", preview="http://img/102.jpg"),
        # qualifying but unknown id → J4 drops it
        dict(epg_id=999, date="05.08.26", rating="sehr hoch", preview="http://img/999.jpg"),
        # below threshold → I4 early stop: everything after is ignored
        dict(epg_id=201, date="10.08.26", rating="mittel", preview="http://img/201.jpg"),
        dict(epg_id=103, date="05.08.26", rating="sehr hoch", preview="http://img/103.jpg"),
    ]


def _tracker():
    return [
        dict(link="http://t/a_TVOON_DE.mpg.HD.avi.otrkey.torrent",
             file="Film Eins 26.08.05 20-15 ProSieben otrkey",
             finished=100, loading=5, loaded=1000),
        dict(link="http://t/a_TVOON_DE.mpg.mp4.otrkey.torrent",
             file="Film Eins 26.08.05 20-15 ProSieben otrkey",
             finished=7, loading=1, loaded=50),
        # stale row BEFORE the 8-day window → I4 stop (and nothing after counts)
        dict(link="http://t/old_TVOON_DE.mpg.avi.otrkey.torrent",
             file="Old Film 26.07.01 20-15 ProSieben otrkey",
             finished=1, loading=0, loaded=2),
    ]


def _pages(spark, html: str):
    from otrrentetl_spark.sources import scrape

    return scrape.pages_df(spark, iter([(0, html)]))


def _etl(spark, root):
    """Offline sources and empty stores of one ETL state under ``root``."""
    from otrrentetl_spark.pipelines.runner import EtlSources, EtlStores
    from otrrentetl_spark.sources import scrape
    from otrrentetl_spark.sources.csv_ingest import read_semicolon_csv

    def _csv_df(text: str):
        p = root / f"in_{abs(hash(text))}.csv"
        p.write_text(text)
        return read_semicolon_csv(spark, p)

    def epg_for_day(day: dt.date):
        if day == DAY_A:
            return _csv_df(fx.epg_csv(_epg_rows_day_a()))
        if day == DAY_B:
            return _csv_df(fx.epg_csv(_epg_rows_day_b()))
        return None

    sources = EtlSources(
        genres_csv=lambda: _csv_df(fx.genres_csv()),
        epg_csv_for_day=epg_for_day,
        toplist=lambda: scrape.toplist_rows(_pages(spark, fx.toplist_html(_toplist()))),
        tracker=lambda: scrape.tracker_rows(_pages(spark, fx.tracker_html(_tracker()))),
    )
    return sources, EtlStores.at(spark, root / "tables")


@pytest.fixture(scope="module")
def etl_state(spark, tmp_path_factory):
    from otrrentetl_spark.pipelines.runner import run_once

    sources, stores = _etl(spark, tmp_path_factory.mktemp("otr_state"))
    report1 = run_once(spark, sources, stores, today=TODAY)
    report2 = run_once(spark, sources, stores, today=TODAY)  # idempotency
    return stores, report1, report2


def test_epg_ingest_filters_types_defaults(etl_state):
    stores, report1, _ = etl_state
    assert report1["epg_days_written"] == ["2026-08-05", "2026-08-10"]
    recs = stores.recordings.read()
    day_a = recs.filter(F.col("PartitionKey") == "2026_08_05")
    rows = {r["Id"]: r for r in day_a.collect()}
    assert set(rows) == {101, 102, 103}           # F4 dropped the 'en' row
    assert rows[101]["genre"] == "Spielfilm"      # J1 hit
    assert rows[103]["genre"] == "Sonstiges"      # J1 default
    assert rows[103]["dauer"] == 0                # C1 default on bad long
    assert rows[101]["beginn"] == dt.datetime(2026, 8, 5, 20, 15)


def test_toplist_promotion_semantics(etl_state):
    stores, report1, _ = etl_state
    assert report1["promoted"] == 2               # 101 + 102; 999 unknown; 103 after stop
    top = stores.recordings.read().filter(F.col("PartitionKey") == "top")
    rows = {r["Id"]: r for r in top.collect()}
    # 102 was J3-deleted after the torrent pass (no torrents matched it)
    assert set(rows) == {101}
    assert rows[101]["rating"] == "sehr hoch"
    assert rows[101]["previewimagelink"] == "http://img/101.jpg"
    assert rows[101]["titel"] == "Film Eins"      # copied row keeps its data


def test_torrent_join_and_delete(etl_state):
    stores, report1, _ = etl_state
    assert report1["torrents_saved"] == 2
    assert report1["top_deleted"] == 1            # recording 102
    t = {(r["Id"], r["Resolution"]): r for r in stores.torrents.read().collect()}
    assert set(t) == {(101, "HD"), (101, "MP4")}  # Str5 classifier; stale row stopped
    assert t[(101, "HD")]["finished"] == 100
    assert t[(101, "HD")]["PartitionKey"] == "101"


def test_second_run_is_idempotent(etl_state):
    stores, _, report2 = etl_state
    # I2 gates: no partition re-written
    assert report2["epg_days_written"] == []
    # 102 gets re-promoted from its (surviving) date partition and
    # re-deleted by the zero-match rule — exactly the reference's
    # fixed-point behavior; stored states stay identical.
    recs = stores.recordings.read()
    assert recs.filter(F.col("PartitionKey") == "2026_08_05").count() == 3
    assert {r["Id"] for r in recs.filter(F.col("PartitionKey") == "top").collect()} == {101}
    assert stores.torrents.read().count() == 2


def test_unmatched_recording_purges_its_torrents(spark, tmp_path):
    """A/J3 purge of STORED torrents: recording 101 matched in run 1;
    in run 2 the tracker no longer lists its torrents, so its 'top'
    row and its whole torrents partition must go. (The shared fixture
    only deletes 102, which never had torrents.)"""
    import dataclasses

    from otrrentetl_spark.pipelines.runner import run_once
    from otrrentetl_spark.sources import scrape

    sources, stores = _etl(spark, tmp_path)
    report1 = run_once(spark, sources, stores, today=TODAY)
    assert report1["torrents_saved"] == 2
    assert stores.torrents.read_partitions(["101"]).count() == 2

    stale_only = fx.tracker_html(_tracker()[2:])  # outside the window
    sources = dataclasses.replace(
        sources, tracker=lambda: scrape.tracker_rows(_pages(spark, stale_only))
    )
    report2 = run_once(spark, sources, stores, today=TODAY)
    assert report2["promoted"] == 1               # 102 again; 101 is still in top
    assert report2["torrents_saved"] == 0
    assert report2["top_deleted"] == 2            # 101 and 102
    assert stores.recordings.read_partitions(["top"]).count() == 0
    assert stores.torrents.read_partitions(["101"]).count() == 0
    assert stores.torrents.read().count() == 0


def test_pages_df_is_a_local_relation(spark):
    """Scraped pages are an Arrow-built LocalRelation: no RDD scan, no
    Python worker per evaluation."""
    from otrrentetl_spark.sources import scrape

    df = scrape.pages_df(spark, iter([(0, "<p>a</p>"), (50, "<p>b</p>")]))
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert df.schema.simpleString() == "struct<start_offset:bigint,html:string>"
    assert [tuple(r) for r in df.collect()] == [(0, "<p>a</p>"), (50, "<p>b</p>")]


def test_top_and_torrent_steps_job_census(spark, tmp_path, jobs_in):
    """Evaluate-once pin: each step evaluates its scraped page and its
    'top' slice once, so its Spark job count stays at the count
    measured when the rule went in (the steady-state second pass over
    the fixture: 102 re-promoted, 101's torrents re-saved, 102
    re-deleted)."""
    from otrrentetl_spark.pipelines import toprecordings, torrents
    from otrrentetl_spark.pipelines.runner import TORRENT_WINDOW_DAYS, run_once

    sources, stores = _etl(spark, tmp_path)
    run_once(spark, sources, stores, today=TODAY)
    toplist, tracker = sources.toplist(), sources.tracker()
    n, top_jobs = jobs_in(
        "census_promote_top",
        lambda: toprecordings.promote_top(spark, toplist, stores.recordings),
    )
    saved_deleted, torrent_jobs = jobs_in(
        "census_update_torrents",
        lambda: torrents.update_torrents(
            spark, tracker, stores.recordings, stores.torrents,
            startdate=TODAY - dt.timedelta(days=TORRENT_WINDOW_DAYS),
        ),
    )
    assert n == 1
    assert saved_deleted == (2, 1)
    # before the rule: 13 and 31 jobs (page parsed and 'top' read
    # once per action; RDD-backed page relation)
    assert top_jobs <= 9, f"promote_top ran {top_jobs} Spark jobs"
    assert torrent_jobs <= 20, f"update_torrents ran {torrent_jobs} Spark jobs"
