"""SparkSession factory tuned for the engine.

Local mode is the test bed; every conf here is chosen to also be the
right default on a real multi-executor cluster at ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast demotion) — the single biggest scale lever.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a
  cluster AQE's coalescing makes the static number far less critical.
- Session timezone pinned to UTC so timestamp semantics agree with
  the DuckDB correctness oracle (naive-UTC timestamps in parquet).
- Arrow enabled for the (rare) Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "otrrentetl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Conf layering: engine defaults → active environment profile
    (profiles.py, keyed by $APPLICATION_ENVIRONMENT like the
    reference's config/__init__.py) → caller's extra_conf (wins).
    """
    from otrrentetl_spark import profiles

    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Let AQE coalesce small post-shuffle stages below the core
        # count (default floor = defaultParallelism keeps EVERY stage
        # at 32 tasks regardless of size). Floor 8 preserves real
        # parallelism for compute-heavy small stages while cutting 4×
        # task-scheduling overhead on tiny ones; at cluster scale the
        # advisory partition size governs and an 8-partition floor is
        # never the binding constraint.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", "8")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Keyed tables declare PartitionKey as STRING (SURVEY.md §1.2);
        # without this, reading back a partitioned table re-infers
        # numeric-looking partition values as longs and key joins drift.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # files.maxPartitionBytes default 128m is right for the 100 TB
        # design point (one task per HDFS-ish block); leave it alone.
    )
    profile = profiles.active_profile()
    for k, v in profiles.spark_conf(profile).items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(profile.spark_log_level)
    return spark


def local_relation(
    spark: SparkSession,
    schema: StructType | str,
    columns: dict[str, list] | None = None,
) -> DataFrame:
    """A driver-built frame as an Arrow-backed ``LocalRelation``:
    ``columns`` maps each field name to its Python values (omit it
    for an empty frame). The rows live in the plan itself, so
    collecting the frame runs no Spark job, and no evaluation needs
    a Python worker — unlike ``createDataFrame(list)``, which
    parallelizes the rows into an RDD that every evaluation scans
    through Python workers. No SQL text is involved, so no parser
    conf can alter a value. A value the schema's type cannot hold
    (an int past int64) raises here; nothing is truncated."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    cols = columns or {f.name: [] for f in schema.fields}
    table = pa.Table.from_pydict(cols, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def pin_local(df: DataFrame) -> tuple[DataFrame, int]:
    """Evaluate a small, driver-sized ``df`` ONCE (one Arrow collect)
    and return it as a :func:`local_relation` plus its row count.
    Every later consumer — a verb's tally, a join, a collect — reads
    the pinned rows instead of re-running ``df``'s plan. Read the
    count from here: ``count()`` on the result still runs jobs."""
    table = df.toArrow()
    return df.sparkSession.createDataFrame(table, df.schema), table.num_rows
