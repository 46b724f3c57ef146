"""Change-feed sources.

The reference tails a Redis queue for its continuous change feed
(QueueReader, chomper/contrib/redis.py:15-61) and replays list/CSV/JSON
feeds item-at-a-time (chomper/feeders.py).  Here the change feed is a
DataFrame with the CHANGE_EVENT schema; two constructors:

* ``change_feed_from_events`` — deterministic reshape of the driver's
  ``events`` test table into the binlog shape (used by the correctness
  gate; the equivalent ANSI SQL lives in ``RESHAPE_SQL`` so a DuckDB
  oracle computes the identical feed).
* ``synthetic_change_feed`` — seeded, pure ``spark.range`` + column
  expressions (no per-row Python), sized arbitrarily for benchmarks.
  Zipf-ish key skew via a power-law index transform so skew handling
  is actually exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# The reshape, written once as ANSI SQL that BOTH Spark and DuckDB can
# execute verbatim (table name is interpolated).  Using one text for
# engine and oracle guarantees the correctness gate compares the same
# feed; the engine-side operators downstream of this are DataFrame API.
RESHAPE_SQL = """
SELECT
  CASE WHEN event_type = 'error' THEN 'D'
       WHEN event_type = 'signup' THEN 'I'
       ELSE 'U' END                                        AS op,
  ts                                                       AS op_ts,
  event_id                                                 AS batch_seq,
  concat('conv_', lpad(cast(user_id AS STRING), 6, '0'))  AS conv_id,
  cast(event_id % 32 AS INTEGER)                           AS turn_idx,
  CASE cast(event_id % 4 AS INTEGER)
       WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
       WHEN 2 THEN 'system' ELSE 'tool' END                AS role,
  concat('text v', cast(event_id AS STRING), ' ', event_type) AS text,
  CASE WHEN event_type = 'purchase' THEN 'browser'
       WHEN event_type = 'click' THEN 'search' END         AS tool,
  ts                                                       AS ts
FROM {events}
"""


def ensure_scan_parallelism(
    df: DataFrame,
    spark: SparkSession,
    min_partitions: int | None = None,
    path: str | None = None,
) -> DataFrame:
    """Input-skew guard (optimization guide §2.5): a table that lands in
    a handful of parquet row groups scans on that many tasks, so every
    downstream per-row stage (reshape, shingling, hashing, the persisted
    feed cache) runs near-serial no matter how many cores exist.  When —
    and only when — the scan has fewer splits than the session's
    parallelism, repartition right after the read.  A production-scale
    table with many files/row-groups passes through UNTOUCHED (no
    shuffle added); the repartition fires exactly in the degenerate
    single-file case the guide calls out.

    Reserve it for scans feeding genuinely per-row-heavy work (per-
    position hashing, shingling, a persisted replay feed): on a trivial
    projection the added exchange costs more than the serial scan.

    ``path`` probes split count from file sizes on the filesystem
    (bytes / maxPartitionBytes) — no Spark planning; without it, or
    when ``path`` is not a local filesystem path (a ``file://`` or
    ``s3a://`` URI), the probe plans the scan RDD (slower, but exact)."""
    import math
    import os

    target = min_partitions or spark.sparkContext.defaultParallelism
    if path is not None and os.path.exists(path):
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
                if not f.startswith(("_", "."))
            )
        else:
            nbytes = os.path.getsize(path)
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").lower()
        units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
        mult, digits = 1, raw.rstrip("ib")
        if digits and digits[-1] in units:
            mult, digits = units[digits[-1]], digits[:-1]
        max_split = int(digits) * mult if digits.isdigit() else 134217728
        splits = max(1, math.ceil(nbytes / max_split))
    else:
        splits = df.rdd.getNumPartitions()
    if splits >= target:
        return df
    return df.repartition(target)


def change_feed_from_events(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """Reshape the driver's ``events`` parquet into a CHANGE_EVENT feed.

    ``spread`` applies the §2.5 input-skew guard (see
    ``ensure_scan_parallelism``) — right for consumers that PERSIST the
    feed and replay it through the merge engine (the cache and every
    per-batch pre-shuffle stage inherit the scan's parallelism).  Pass
    False for one-shot light pipelines whose first aggregation/window
    shuffles anyway: there the extra exchange is pure overhead."""
    path = f"{sf_dir}/events.parquet"
    raw = spark.read.parquet(path)
    if spread:
        raw = ensure_scan_parallelism(raw, spark, path=path)
    raw.createOrReplaceTempView("_cs_events")
    # Spark's VARCHAR in cast is accepted as alias of STRING.
    return spark.sql(RESHAPE_SQL.format(events="_cs_events"))


def with_batch_id(feed: DataFrame, n_batches: int = 4) -> DataFrame:
    """Assign micro-batch ids.

    ``batch_seq % n_batches`` deliberately interleaves event-time across
    batches so cross-batch out-of-order apply is exercised (late events
    must not overwrite newer applied state — see operators/merge.py).
    """
    return feed.withColumn(
        "batch_id", (F.col("batch_seq") % F.lit(n_batches)).cast("long")
    )


def synthetic_change_feed(
    spark: SparkSession,
    n_events: int,
    n_convs: int = 10_000,
    max_turns: int = 64,
    delete_rate: float = 0.05,
    insert_rate: float = 0.25,
    zipf_skew: float = 0.0,
    seed: int = 42,
    n_partitions: int | None = None,
) -> DataFrame:
    """Seeded synthetic binlog: pure spark.range + column exprs.

    Determinism: every column derives arithmetically from the range id
    and ``seed`` — identical output at any parallelism (bench requires
    byte-stable input across local[8]/local[32]).

    ``zipf_skew`` > 0 concentrates events on low conv indices
    (power-law via pow(uniform, 1+skew)) to create hot keys.
    """
    df = spark.range(0, n_events, 1, n_partitions or spark.sparkContext.defaultParallelism)
    # xorshift-ish mix of (id, seed): deterministic pseudo-random u in [0,1)
    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed)))
    u = (h % F.lit(1_000_000)) / F.lit(1_000_000.0)
    if zipf_skew > 0:
        conv_idx = (F.pow(u, F.lit(1.0 + zipf_skew)) * F.lit(n_convs)).cast("long")
    else:
        conv_idx = (u * F.lit(n_convs)).cast("long")
    h2 = F.abs(F.xxhash64(F.col("id"), F.lit(seed + 1)))
    u2 = (h2 % F.lit(1_000_000)) / F.lit(1_000_000.0)
    op = (
        F.when(u2 < F.lit(delete_rate), F.lit("D"))
        .when(u2 < F.lit(delete_rate + insert_rate), F.lit("I"))
        .otherwise(F.lit("U"))
    )
    turn = (h2 % F.lit(max_turns)).cast("int")
    base_ts = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    return df.select(
        op.alias("op"),
        # monotone-ish commit time with some out-of-order jitter
        (base_ts + F.make_interval(secs=(F.col("id") / 10.0) + (h % 97) - 48)).alias("op_ts"),
        F.col("id").alias("batch_seq"),
        F.concat(F.lit("conv_"), F.lpad(conv_idx.cast("string"), 8, "0")).alias("conv_id"),
        turn.alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("role"),
        F.concat(F.lit("synthetic turn text v"), F.col("id").cast("string")).alias("text"),
        F.when(F.col("id") % 5 == 0, F.lit("browser")).alias("tool"),
        (base_ts + F.make_interval(secs=F.col("id") / 10.0)).alias("ts"),
    )
