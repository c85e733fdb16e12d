"""Top-recordings promotion as a DataFrame program (SURVEY.md §3.1
step 4; reference: otrrentetl/server/etl.py:112-161).

Scraped toplist rows → F3 rating gate (which is also the I4 early-stop
predicate on the DESC-ordered feed) → J4 existence semi-join against
stored recordings → U6 copyto: qualifying rows are *copied* into the
'top' partition with rating/previewimagelink attached. Reference
copies row-at-a-time with per-row exists() probes; here the whole
promotion is one join + one partition write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otrrentetl_spark.catalog import RECORDINGS_SCHEMA
from otrrentetl_spark.operators.merge import KeyedParquetTable
from otrrentetl_spark.session import pin_local
from otrrentetl_spark.sources.scrape import take_while

TOP_RATINGS = ("sehr hoch", "hoch")  # F3 IN-list, etl.py:141
TOP_PARTITION = "top"


def qualifying(toplist: DataFrame) -> DataFrame:
    """I4 + F3: maximal qualifying prefix of the rating-DESC feed."""
    return take_while(
        toplist,
        ["start_offset", "row_idx"],
        F.col("rating").isin(*TOP_RATINGS),
    )


def promote_top(
    spark: SparkSession,
    toplist: DataFrame,
    store: KeyedParquetTable,
) -> int:
    """Copy every qualifying, *existing* recording into the 'top'
    partition (skip ones already there — the exists() gate at
    etl.py:146-150), attaching rating + previewimagelink from the
    scrape. Returns the number of rows promoted.

    Evaluate-once rule: every action re-runs a lazy plan, page parse
    included, so the step's one driver-sized result — ``fresh`` — is
    pinned as a local relation by a single collect. The row count is
    read off that collect, and the verb's tally, COW probe and write
    all read the pinned rows. The existing 'top' keys come from
    ``read_partitions``: only that partition's files are planned."""
    picks = qualifying(toplist).select(
        "PartitionKey",
        F.col("epg_id").alias("RowKey"),
        "rating",
        "previewimagelink",
    )
    stored = store.read().select(*RECORDINGS_SCHEMA.fieldNames())
    # J4: only scraped rows whose recording exists in the store.
    matched = stored.alias("s").join(
        F.broadcast(picks).alias("p"),
        ["PartitionKey", "RowKey"],
        "inner",
    )
    promoted = (
        matched.select(
            *[
                F.col(f"p.{c}") if c in ("rating", "previewimagelink") else F.col(f"s.{c}")
                for c in RECORDINGS_SCHEMA.fieldNames()
                if c != "PartitionKey"
            ],
        )
        .withColumn("PartitionKey", F.lit(TOP_PARTITION))
        .select(*RECORDINGS_SCHEMA.fieldNames())
    )
    # exists()-in-'top' gate: keep only NEW promotions (etl.py:148-150
    # saves only when the top copy is absent).
    existing_top = store.read_partitions([TOP_PARTITION]).select("RowKey")
    fresh, n = pin_local(promoted.join(existing_top, "RowKey", "left_anti"))
    if n:
        store.upsert_replace_partitions(fresh)
    return n
