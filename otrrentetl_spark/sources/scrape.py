"""S3/S4 sources: paginated HTML scrape → DataFrames (SURVEY.md §2.1).

The reference downloads toplist/tracker pages and field-extracts with
chained ``split()`` calls (otrrentetl/server/etl.py:123-159, 174-244).
Here the *pagination* stays a thin driver-side loop with an injectable
page fetcher (offline-testable, early-stop preserved), while the
*field extraction* is Spark column expressions (Str1–Str5) over a
DataFrame of raw page blocks — so the parse logic itself is
distributed, plan-visible, and oracle-testable.

Early stop (I4): the reference stops at the first non-qualifying row
of a DESC-ordered feed. Batch-side that is ``take_while`` — a
running-AND window over scan order — which composes with any
predicate and keeps the semantics testable without live pagination.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from otrrentetl_spark.functions import casts, dates, strings
from otrrentetl_spark.session import local_relation

# ------------------------------------------------------------------ paginate


def paginate(
    fetch_page: Callable[[int], str],
    page_size: int,
    max_pages: int = 1000,
) -> Iterator[tuple[int, str]]:
    """Driver-side pagination: yield (start_offset, html) until the
    fetcher returns an empty/blank page or ``max_pages`` is hit. The
    caller applies the early-stop predicate after extraction (the
    reference interleaves them; separating keeps fetch I/O out of the
    relational layer)."""
    start = 0
    for _ in range(max_pages):
        html = fetch_page(start)
        if not html or not html.strip():
            return
        yield start, html
        start += page_size


def pages_df(spark, pages: Iterator[tuple[int, str]]) -> DataFrame:
    """The fetched pages as an Arrow-backed ``LocalRelation``
    (``start_offset BIGINT, html STRING``). Not ``createDataFrame``
    over a Python list: that frame is an RDD scan through Python
    workers, and parsing a 6 KB page from it costs over twice as
    much as from the local relation. Callers still evaluate the
    parsed rows once per step (pipelines pin them), since every
    action re-runs the parse."""
    rows = list(pages)
    return local_relation(
        spark,
        "start_offset BIGINT, html STRING",
        {"start_offset": [s for s, _ in rows], "html": [h for _, h in rows]},
    )


# ---------------------------------------------------------------- take_while


def take_while(df: DataFrame, order_cols: list[str], pred) -> DataFrame:
    """I4 early-stop as a batch operator: keep the maximal prefix (in
    ``order_cols`` order) on which ``pred`` holds everywhere — i.e.
    rows before the first failure. Implemented as a running-AND
    (``min(pred) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``).

    Scale note: a global ORDER BY window is single-partition; this
    mirrors a sequentially-ordered scrape feed, which is inherently a
    driver-bounded (thousands of rows) source — not a 100 TB path.
    """
    w = (
        Window.orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__ok", F.min(pred.cast("int")).over(w))
        .filter(F.col("__ok") == 1)
        .drop("__ok")
    )


# ------------------------------------------------------------------ toplist


def toplist_rows(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """S3: toplist page → one row per `serchrow` block with the four
    extracted fields (otrrentetl/server/etl.py:130-138):
    epg_id, rating ('Beliebtheit: …'), previewimagelink, and the
    broadcast-date partition key (dd.MM.yy cell → yyyy_MM_dd)."""
    blocks = pages.select(
        "start_offset",
        F.posexplode(F.split(F.col(html_col), "<tr id='serchrow")).alias(
            "row_idx", "block"
        ),
    ).filter(F.col("row_idx") >= 1)
    cells = F.split(F.col("block"), '<td oncontextmenu="showNewTabMenu\\(')
    get = F.element_at
    return blocks.select(
        "start_offset",
        "row_idx",
        F.trim(strings.token_at(get(cells, 2), ",", 0)).alias("epg_id"),
        strings.substring_between(get(cells, 9), "Beliebtheit: ", "'").alias(
            "rating"
        ),
        strings.substring_between(get(cells, 11), "<img src=", " width=").alias(
            "previewimagelink"
        ),
        dates.partition_key(
            casts.safe_date(
                strings.substring_between(get(cells, 5), ">", "<"),
                casts.FMT_DATE_SHORT,
            )
        ).alias("PartitionKey"),
    )


# ------------------------------------------------------------------ tracker


def tracker_rows(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """S4: tracker page → one torrent per table row
    (otrrentetl/server/etl.py:181-237): link/file via marker
    extraction, seeder counts via safe casts, ``beginn`` re-assembled
    from the filename tail (yy.MM.dd + HH-mm → '-00' seconds),
    normalized sender, and the Str5 resolution classifier."""
    table = strings.substring_between(
        F.col(html_col), ' class="bordertable">', "</table>"
    )
    rows = pages.select(
        "start_offset",
        F.posexplode(F.split(table, "</tr>")).alias("row_idx", "row"),
    ).filter(
        (F.col("row_idx") >= 1) & F.col("row").contains("href='")
    )
    cells = F.split(F.col("row"), "</td>")
    get = F.element_at
    link = strings.substring_between(get(cells, 2), "href='", "'")
    tfile = strings.substring_between(get(cells, 2), "'>", "</a>")
    fileparts = F.split(tfile, " ")
    beginn_str = F.concat_ws(
        " ", get(fileparts, -4), F.concat(get(fileparts, -3), F.lit("-00"))
    )
    return rows.select(
        "start_offset",
        "row_idx",
        link.alias("TorrentLink"),
        tfile.alias("TorrentFile"),
        casts.safe_long(strings.token_at(get(cells, 3), ">", 1)).alias("finished"),
        casts.safe_long(strings.token_at(get(cells, 4), ">", 1)).alias("loading"),
        casts.safe_long(strings.token_at(get(cells, 5), ">", 1)).alias("loaded"),
        casts.safe_timestamp(beginn_str, casts.FMT_TS_TORRENT).alias("beginn"),
        strings.normalize_key(get(fileparts, -2)).alias("sender"),
        strings.classify_resolution(link).alias("Resolution"),
    )
