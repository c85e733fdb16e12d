"""Table catalog: explicit schemas + loaders for the test datasets.

The reference declares fixed per-table schemas with typed defaults
(reference: otrrentetl/storage/tablemodels.py:14-75, read via
type-dispatch in otrrentetl/storage/azurestoragewrapper.py:118-138).
We mirror that discipline: every table has an explicit StructType; we
never rely on schema inference in the engine paths.

At 100 TB, an explicit schema also means the parquet reader can prune
columns without a footer-merge pass over every file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts unit varies with how the testdata was generated:
    # TIMESTAMP(MICROS) maps straight onto Spark's TimestampType, but
    # TIMESTAMP(NANOS) cannot (Spark reads it only as raw int64 via
    # spark.sql.legacy.parquet.nanosAsLong). load_table probes the
    # parquet footer and picks the right read path, so downstream code
    # always sees a plain TimestampType 'ts' regardless of file unit.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# Reference-model schemas (SURVEY.md §1.2; reference:
# otrrentetl/storage/tablemodels.py:14-75). Used by the pipeline
# programs and the keyed-merge writer tests.
GENRES_SCHEMA = T.StructType(
    [
        T.StructField("PartitionKey", T.StringType()),
        T.StructField("RowKey", T.StringType()),
        T.StructField("Genre_Id", T.LongType()),
        T.StructField("Genre", T.StringType()),
    ]
)

RECORDINGS_SCHEMA = T.StructType(
    [
        T.StructField("PartitionKey", T.StringType()),
        T.StructField("RowKey", T.StringType()),
        T.StructField("Id", T.LongType()),
        T.StructField("beginn", T.TimestampType()),
        T.StructField("ende", T.TimestampType()),
        T.StructField("dauer", T.LongType()),
        T.StructField("sender", T.StringType()),
        T.StructField("titel", T.StringType()),
        T.StructField("typ", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("genre_id", T.LongType()),
        T.StructField("genre", T.StringType()),
        T.StructField("fsk", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("weekday", T.StringType()),
        T.StructField("zusatz", T.StringType()),
        T.StructField("wdh", T.StringType()),
        T.StructField("downloadlink", T.StringType()),
        T.StructField("infolink", T.StringType()),
        T.StructField("programlink", T.StringType()),
        T.StructField("rating", T.StringType()),
        T.StructField("previewimagelink", T.StringType()),
    ]
)

TORRENTS_SCHEMA = T.StructType(
    [
        T.StructField("PartitionKey", T.StringType()),
        T.StructField("RowKey", T.StringType()),
        T.StructField("Id", T.LongType()),
        T.StructField("Resolution", T.StringType()),
        T.StructField("TorrentFile", T.StringType()),
        T.StructField("TorrentLink", T.StringType()),
        T.StructField("finished", T.LongType()),
        T.StructField("loading", T.LongType()),
        T.StructField("loaded", T.LongType()),
    ]
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def source_stamp(path: str) -> tuple[int, int]:
    """(mtime_ns, bytes) content stamp of a local parquet source, the
    staleness key of the per-process memos over the test tables. A
    file stamps by its own stat; a dataset directory by the max
    mtime_ns and the total size over its part files (hidden and
    _-prefixed names skipped, as Spark skips them), because a part
    file rewritten in place changes neither the directory's mtime nor
    its size. Raises OSError when the path cannot be read; each caller
    keeps its own policy for that."""
    import os
    import stat

    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return st.st_mtime_ns, st.st_size
    mtime = size = 0
    dirs = [path]
    while dirs:
        with os.scandir(dirs.pop()) as entries:
            for e in entries:
                if e.name.startswith(("_", ".")):
                    continue
                if e.is_dir():
                    dirs.append(e.path)
                else:
                    est = e.stat()
                    mtime = max(mtime, est.st_mtime_ns)
                    size += est.st_size
    return mtime, size


def _parquet_ts_unit(path: str, column: str = "ts") -> str:
    """Probe the parquet footer for a timestamp column's physical unit.

    Returns 'ns', 'us', 'ms', 's' for timestamp columns, or 'int64' if
    the column is stored as a plain integer. Driver-side, one footer
    read — cost is independent of data volume, so it is 100-TB-safe
    (a directory of part files shares one schema; we probe the first).
    """
    import os

    import pyarrow.parquet as pq

    p = path
    if os.path.isdir(p):
        parts = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        if not parts:
            return "us"
        p = os.path.join(p, parts[0])
    try:
        field = pq.ParquetFile(p).schema_arrow.field(column)
    except (KeyError, OSError):
        return "us"
    t = field.type
    unit = getattr(t, "unit", None)
    if unit in ("ns", "us", "ms", "s"):
        return unit
    return "int64"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with its declared schema.

    Passing the schema explicitly (rather than inferring) keeps the
    scan plan stable and lets Catalyst prune/push down against a
    known StructType.

    For `events`, the timestamp unit is detected from the parquet
    footer rather than assumed: MICROS/MILLIS map directly onto
    Spark's TimestampType; only genuine TIMESTAMP(NANOS) files take
    the nanosAsLong + integer-DIV conversion path (ns → µs truncation
    matches DuckDB's read of the same column). A bare int64 column
    falls back to a magnitude sniff (> 4e17 ⇒ nanoseconds).
    """
    path = table_path(sf_dir, name)
    if name == "events":
        from pyspark.sql import functions as F

        unit = _parquet_ts_unit(path)
        if unit in ("us", "ms", "s"):
            # Spark's parquet reader converts these to TimestampType
            # (micros) natively — no rescaling needed.
            return spark.read.schema(SCHEMAS[name]).parquet(path)
        # NANOS (or raw int64): read ts as int64 and convert. Integer
        # DIV — float division loses precision above 2^53 ns.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        int_schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType())
                for f in SCHEMAS[name].fields
            ]
        )
        raw = spark.read.schema(int_schema).parquet(path)
        if unit == "ns":
            return raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        # Plain int64 of unknown unit: sniff magnitude per-row. Values
        # above 4e17 can only be nanoseconds (year 1982+ in ns; year
        # 14M+ in µs), below are treated as microseconds.
        return raw.withColumn(
            "ts",
            F.expr(
                "CASE WHEN abs(ts) > 400000000000000000"
                " THEN timestamp_micros(ts DIV 1000)"
                " ELSE timestamp_micros(ts) END"
            ),
        )
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def read_events_stream(
    spark: SparkSession,
    src_dir: str,
    *,
    glob_filter: str | None = None,
    probe_path: str | None = None,
) -> DataFrame:
    """File-source stream over events parquet with the same
    footer-probed ts-unit handling as the batch `load_table`.

    The streaming source cannot re-probe per micro-batch, so the unit
    is decided once at plan time from one footer (`probe_path`, or the
    first file matching `glob_filter` under `src_dir`). All files of a
    table share one writer config in practice; at 100 TB this is still
    a single driver-side footer read.
    """
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    if probe_path is None:
        pattern = os.path.join(src_dir, glob_filter or "*.parquet")
        matches = sorted(_glob.glob(pattern))
        probe_path = matches[0] if matches else None
    unit = _parquet_ts_unit(probe_path) if probe_path else "us"

    if unit in ("us", "ms", "s"):
        reader = spark.readStream.schema(SCHEMAS["events"])
        if glob_filter:
            reader = reader.option("pathGlobFilter", glob_filter)
        return reader.parquet(src_dir)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    int_schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.LongType())
            for f in SCHEMAS["events"].fields
        ]
    )
    reader = spark.readStream.schema(int_schema)
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    raw = reader.parquet(src_dir)
    if unit == "ns":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # Plain int64 of unknown unit: the SAME per-row magnitude sniff as
    # batch load_table (ADVICE r4 — batch and stream faces of one
    # table must agree; an int64-microseconds file previously read
    # 1000× wrong here).
    return raw.withColumn(
        "ts",
        F.expr(
            "CASE WHEN abs(ts) > 400000000000000000"
            " THEN timestamp_micros(ts DIV 1000)"
            " ELSE timestamp_micros(ts) END"
        ),
    )


# Weak-keyed by the live SparkSession: entries die with the session
# (no id()-reuse aliasing after a stop, no unbounded growth).
import weakref

_FAN_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    memo_key: str | None = None,
) -> DataFrame:
    """Ensure a minimum partition count before an expression- or
    Python-kernel-heavy stage.

    A small input (one parquet row-group) scans as a single partition,
    which serializes all per-row compute — HOF chains, Arrow kernels —
    onto one core. At cluster scale a 100 TB scan already has thousands
    of partitions and this is a pass-through; locally, a round-robin
    repartition of a few thousand rows costs one tiny shuffle and buys
    every core for the stage above it.

    The partition-count probe converts the plan to an RDD (~40 ms of
    driver work per call). ``memo_key`` caches the probed count per
    (session, key, target) so repeated builds of the same source —
    every registry query calls its loader fresh — probe once. Only
    pass a key for inputs whose physical layout is stable within a
    session (the immutable test tables)."""
    sess = df.sparkSession
    sc = sess.sparkContext
    target = min_partitions or sc.defaultParallelism
    per_sess = _FAN_MEMO.setdefault(sess, {}) if memo_key else None
    key = (memo_key, target) if memo_key else None
    n = per_sess.get(key) if per_sess is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if per_sess is not None:
            per_sess[key] = n
    if n < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
