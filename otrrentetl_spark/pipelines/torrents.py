"""Torrent assignment as a DataFrame program (SURVEY.md §3.1 step 5;
reference: otrrentetl/server/etl.py:163-260).

Scraped tracker rows (already typed by sources.scrape.tracker_rows) →
F5 date gate (the I4 stop condition on the ctime-DESC feed) → J2
normalized-key equi-join against the 'top' recordings (minute-
truncated stamp + normalized sender) → matched torrents upsert with
the recording's Id as PartitionKey; top recordings with zero matches
are deleted along with their stale torrents (A2/J3).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otrrentetl_spark.catalog import TORRENTS_SCHEMA
from otrrentetl_spark.functions import dates, strings
from otrrentetl_spark.operators.merge import KeyedParquetTable
from otrrentetl_spark.pipelines.toprecordings import TOP_PARTITION
from otrrentetl_spark.session import local_relation, pin_local
from otrrentetl_spark.sources.scrape import take_while


def in_window(tracker: DataFrame, startdate: dt.date) -> DataFrame:
    """F5/I4: maximal prefix of the ctime-DESC feed with
    ``beginn.date() >= startdate`` (etl.py:196,240-242)."""
    return take_while(
        tracker,
        ["start_offset", "row_idx"],
        F.to_date("beginn") >= F.lit(startdate),
    )


def update_torrents(
    spark: SparkSession,
    tracker: DataFrame,
    recordings_store: KeyedParquetTable,
    torrents_store: KeyedParquetTable,
    startdate: dt.date,
) -> tuple[int, int]:
    """Returns (n_torrents_saved, n_top_recordings_deleted).

    J2 both-side key normalization: torrent side carries the parsed
    filename stamp (seconds forced to 00) and token sender; the
    recording side derives the identical minute-truncated stamp and
    lower/space-stripped sender (S6 projected scan of the 'top'
    partition's files only, etl.py:249-251).

    Evaluate-once rule: every action re-runs a lazy plan, page parse
    included, so the step's driver-sized frames — the 'top' slice and
    the matched torrents — are each pinned as a local relation by a
    single collect. The saved count, the upsert's tally and the
    zero-match anti-join read the pinned rows, and one collect of
    that anti-join gives both the deleted count and the dead ids
    both purges use — so the torrent purge, which runs after the
    recordings are rewritten, never re-derives them from the
    rewritten store.
    """
    torrents = in_window(tracker, startdate).withColumns(
        {
            "stamp": dates.join_stamp(F.col("beginn")),
            "sender_key": F.col("sender"),
        }
    )
    top, _ = pin_local(
        recordings_store.read_partitions([TOP_PARTITION]).select(  # P1, etl.py:249
            F.col("RowKey").alias("top_rowkey"),
            F.col("Id").alias("top_id"),
            dates.join_stamp(F.col("beginn")).alias("stamp"),
            strings.normalize_key(F.col("sender")).alias("sender_key"),
        )
    )
    # J2: 'top' is a small dimension-sized slice → broadcast
    matched, n_saved = pin_local(
        torrents.join(F.broadcast(top), ["stamp", "sender_key"], "inner")
    )
    if n_saved:
        torrents_store.upsert_replace_partitions(
            matched.select(
                F.col("top_id").cast("string").alias("PartitionKey"),
                F.col("Resolution").alias("RowKey"),
                F.col("top_id").alias("Id"),
                "Resolution",
                "TorrentFile",
                "TorrentLink",
                "finished",
                "loading",
                "loaded",
            ).select(*TORRENTS_SCHEMA.fieldNames())
        )

    # A2/J3: top recordings with zero matching torrents → delete the
    # recording and any stale stored torrents for it (etl.py:254-259).
    dead = (
        top.join(matched.select("top_rowkey"), "top_rowkey", "left_anti")
        .select("top_rowkey", "top_id")
        .collect()
    )
    if dead:
        recordings_store.delete_by_keys(
            local_relation(
                spark,
                "PartitionKey STRING, RowKey STRING",
                {
                    "PartitionKey": [TOP_PARTITION] * len(dead),
                    "RowKey": [r["top_rowkey"] for r in dead],
                },
            )
        )
        if torrents_store.exists():
            # torrents are partitioned by recording Id: a dead
            # recording's torrents are exactly its partition's files
            # (a NULL Id never keyed a torrent partition)
            dead_torrents = torrents_store.read_partitions(
                [str(r["top_id"]) for r in dead if r["top_id"] is not None]
            ).select("PartitionKey", "RowKey")
            torrents_store.delete_by_keys(dead_torrents)
    return n_saved, len(dead)
