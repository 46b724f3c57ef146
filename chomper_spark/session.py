"""SparkSession factory with engine defaults.

Local-mode testing uses ``local[N]``; the same configs are what we'd
ship in spark-defaults on a multi-executor cluster (AQE on, Arrow on,
UTC session timezone so results compare bit-exactly against DuckDB
oracles).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """Half of physical memory, at most 16g: a driver heap near the
    host's whole memory gets the JVM killed once the Python workers
    and the page cache want their share."""
    half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mib, 16 * 1024)}m"


def get_spark(
    app_name: str = "chomper_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # guide §9/§3.1: allow shuffled-hash joins when a side fits per
        # partition (sort-merge stays the planner's fallback), and let
        # AQE rewrite SMJ→SHJ at runtime when post-shuffle partitions
        # are small — neither setting is specific to local mode, but
        # both were tuned on a single host; re-check them on a cluster
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # scalar @udf (if ever added) crosses the boundary as Arrow
        # batches instead of pickled rows; pandas_udfs are unaffected
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        # committer v2: task outputs commit directly (no serial driver-side
        # rename pass).  Safe here: atomicity comes from the engine's own
        # manifest flip (operators/merge.py), never from the FS committer.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
