"""Structured Streaming driver: continuous change-feed tail → MERGE.

The reference's continuous mode is a poll-sleep(1) loop over a Redis
queue (`close_when_idle = False`, chomper/importers.py:54-62;
QueueReader blocking on blpop, chomper/contrib/redis.py:39-61).  The
Spark-native rebuild is a typed ``FeedSource`` seam
(streaming/sources.py): ``FileFeedSource`` tails a growing feed
directory (the sandbox queue stand-in), ``KafkaFeedSource`` is the
production queue shape — swapping sources is constructor injection,
and everything downstream (watermark, foreachBatch, staging, ledger,
lineage) is identical.

Multi-file micro-batches (maxFilesPerTrigger > 1) and a producer
appending to the directory while the query runs are exercised in
tests/test_streaming.py — the continuous-queue shape, not just
drain-what-exists:

  * micro-batching        — maxFilesPerTrigger bounds batch size
  * event-time watermark  — withWatermark("op_ts", …) documents the
    late-event contract; correctness does NOT depend on it because the
    MERGE orders by (op_ts, batch_seq) per key, so arbitrarily-late
    events are version-checked, never clock-checked
  * foreachBatch          — each micro-batch goes through the same
    idempotent SnapshotMergeSink.apply_batch as batch replay
  * exactly-once          — TWO cooperating ledgers: Spark's streaming
    checkpoint (batch replay on restart) and the sink's committed-
    batch-id manifest (skips the replayed batch).  Either alone is
    sufficient; together a crash at any point resumes convergently.
  * lineage               — per-batch, per-key-partition metrics rows
    appended inside the same foreachBatch.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, functions as F  # noqa: F401
from pyspark.sql import types as T

from chomper_spark import schema as S
from chomper_spark.operators.lineage import LineageTable, lineage_rows
from chomper_spark.operators.merge import SnapshotMergeSink
from chomper_spark.operators.skew import stage_by_conv
from chomper_spark.streaming.sources import FeedSource, FileFeedSource


class StreamingApply:
    """Tail a feed source and apply every micro-batch to the sink.

    ``feed_dir`` builds the default ``FileFeedSource``; pass ``source``
    (any FeedSource, e.g. KafkaFeedSource) to tail a real queue —
    constructor injection, nothing else changes.

    ``stage_partitions`` range-partitions each micro-batch on
    (conv_id, turn_idx) into that many partitions before the apply; ``None``
    (the default) means no staging: the batch goes to the sink as
    the source delivered it.

    ``collect_metrics`` (on by default) fills each ``MergeMetrics`` in
    ``batch_metrics``; the counters ride jobs the apply runs anyway."""

    def __init__(
        self,
        spark: SparkSession,
        feed_dir: str | None,
        state_root: str,
        checkpoint_dir: str,
        lineage_root: str | None = None,
        feed_schema: T.StructType = S.CHANGE_EVENT,
        watermark: str = "10 minutes",
        max_files_per_trigger: int = 1,
        n_buckets: int = 32,
        stage_partitions: int | None = None,
        collect_metrics: bool = True,
        write_mode: str = "cow",
        source: "FeedSource | None" = None,
        lineage_keep_batches: int | None = None,
        delta_layout: str = "bucketed",
    ):
        if (feed_dir is None) == (source is None):
            raise ValueError("pass exactly one of feed_dir or source")
        self.spark = spark
        self.source = source or FileFeedSource(
            feed_dir,
            feed_schema=feed_schema,
            max_files_per_trigger=max_files_per_trigger,
            watermark=watermark,
        )
        self.checkpoint_dir = checkpoint_dir
        self.stage_partitions = stage_partitions
        self.collect_metrics = collect_metrics
        self.sink = SnapshotMergeSink(
            spark, state_root, n_buckets=n_buckets, write_mode=write_mode
        )
        # "single" is the right MOR layout for small/frequent triggers:
        # one delta file per micro-batch instead of one per bucket
        # (n_buckets files per trigger explodes file counts at scale);
        # compaction folds the chains either way.  Fail at construction,
        # not silently per batch: a COW run cannot honor it.
        if delta_layout != "bucketed" and write_mode != "mor":
            raise ValueError(
                f"delta_layout={delta_layout!r} applies to write_mode='mor' only"
            )
        self.delta_layout = delta_layout
        self.lineage = LineageTable(spark, lineage_root) if lineage_root else None
        # bound the lineage table under continuous runs (one row set per
        # micro-batch otherwise grows it forever); None = keep all
        self.lineage_keep_batches = lineage_keep_batches
        self.batch_metrics: list = []  # driver-side log of MergeMetrics

    # ------------------------------------------------------------- plumbing

    def _apply(self, batch_df, batch_id: int) -> None:
        """foreachBatch body.  Runs on the driver; all heavy lifting is
        DataFrame ops on executors."""
        # stage only when the caller asked for explicit staging
        # (round 6): apply_batch immediately re-clusters the batch by
        # bucket, so an unconditional repartitionByRange here paid a
        # range-sampling job + an exchange per micro-batch for
        # partitioning the merge then threw away.
        staged = (
            stage_by_conv(batch_df, self.stage_partitions)
            if self.stage_partitions
            else batch_df
        )
        kw = (
            {"delta_layout": self.delta_layout}
            if self.sink.write_mode == "mor"
            else {}
        )
        m = self.sink.apply_batch(
            staged, batch_id=batch_id, collect_metrics=self.collect_metrics, **kw
        )
        self.batch_metrics.append(m)
        if self.lineage is not None and not m.skipped:
            # a COW apply reports its per-bucket counters; a MOR apply
            # computes none, so count the batch with the same aggregate
            stats = (
                m.bucket_stats
                if self.sink.write_mode == "cow"
                else self.sink.bucket_stats(batch_df)
            )
            # the lag is measured against the wall clock once the
            # batch is committed (visible to readers)
            now_ms = time.time_ns() // 1_000_000
            self.lineage.append(lineage_rows(stats, batch_id, as_of_ms=now_ms), batch_id)
            if self.lineage_keep_batches is not None:
                self.lineage.expire(self.lineage_keep_batches)

    def start(self, available_now: bool = True, processing_time: str | None = None):
        stream = self.source.load(self.spark)
        writer = stream.writeStream.foreachBatch(self._apply).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_available(self) -> None:
        """Drain everything currently in the feed dir, then stop —
        the batch-shaped entry point for tests and replay jobs."""
        q = self.start(available_now=True)
        q.awaitTermination()

    def read(self):
        return self.sink.read()
