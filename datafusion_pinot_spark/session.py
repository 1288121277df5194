"""SparkSession factory with scale-aware defaults.

Local testing runs one JVM with N threads, but every knob here is chosen to
also hold on a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), shuffle partitions sized explicitly rather
than the 200 default, Arrow transfer on for the Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """The driver heap ``get_spark`` asks for: half of physical memory,
    capped at 48g (at least 1g), unless ``SPARK_GRAFT_DRIVER_MEM`` names
    one. A fixed 48g on a small host leaves the kernel, not the heap, as
    the limit: two sessions at once can then be OOM-killed."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, total // (2 << 30)))}g"


def get_spark(
    app_name: str = "datafusion_pinot_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # local mode: ~cores. On a real cluster this would be
        # ~2-3x total executor cores or left to AQE's coalescing.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the pinot Python data source receive pushed filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # testdata events.parquet has shipped as TIMESTAMP(NANOS) (read as
        # long) and as TIMESTAMP(MICROS) without isAdjustedToUTC (read as
        # NTZ unless disabled). Read no-tz micros as TIMESTAMP: with the UTC
        # session timezone this matches DuckDB's naive-as-UTC interpretation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load_testdata(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver's parquet tables as DataFrames + temp views."""
    dfs = {}
    for t in _TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(t)
            dfs[t] = df
    return dfs
