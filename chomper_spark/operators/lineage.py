"""Per-batch, per-partition lineage & metrics.

The analogue of the reference's items_processed / items_dropped
counters (chomper/importers.py:44-45,81,102-105) and change listeners
(chomper/contrib/postgres.py:395-426), emitted set-oriented: one row
per (batch_id, key-partition) appended to a lineage table every
micro-batch.  The partition is the sink's bucket: a COW apply
computes the per-bucket counters in the aggregate that picks the
buckets it rewrites, and the rows are written from the driver, so
lineage costs no Spark job of its own.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from chomper_spark import schema as S


def lineage_rows(
    bucket_stats: list[tuple], batch_id: int, as_of_ms: int | None = None
) -> list[dict]:
    """Per-key-partition lineage rows (``schema.LINEAGE``) for one
    micro-batch, built on the driver from a sink's per-bucket stats
    (bucket, events, distinct keys, newest op_ts as epoch ms; see
    ``SnapshotMergeSink.bucket_stats``) — no pass of their own.

    events_applied: events landing in the partition
    dedup_drops:    events superseded by a newer event for the same key
    merge_rows:     distinct keys (rows hitting the MERGE)
    watermark_lag_ms: processing-time lag of ``as_of_ms`` (epoch ms)
                      behind the partition's newest event; NULL when no
                      wall clock is given (batch replays).
    """
    return [
        {
            "batch_id": batch_id,
            "partition_id": bucket,
            "events_applied": events,
            "dedup_drops": events - keys,
            "merge_rows": keys,
            "watermark_lag_ms": (
                None if as_of_ms is None or ts_ms is None else as_of_ms - ts_ms
            ),
        }
        for bucket, events, keys, ts_ms in bucket_stats
    ]


class LineageTable:
    """Append-only parquet lineage table, one directory per batch
    (append without rewriting history; idempotent per batch_id)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def append(self, rows: DataFrame | list[dict], batch_id: int) -> None:
        """Write one batch's rows (replacing any earlier write of that
        batch).  A DataFrame is written by Spark; ``lineage_rows`` (at
        most n_buckets dicts) are written from the driver with no Spark
        job, under a hidden temporary name first and then renamed into
        place, so ``read`` and ``expire`` never see a half-written dir."""
        dest = os.path.join(self.root, f"batch_id={batch_id}")
        if isinstance(rows, DataFrame):
            rows.write.mode("overwrite").parquet(dest)
            return
        tmp = tempfile.mkdtemp(prefix="_tmp-", dir=self.root)
        try:
            pq.write_table(
                pa.Table.from_pylist(rows, schema=to_arrow_schema(S.LINEAGE)),
                os.path.join(tmp, "part-00000.parquet"),
            )
            shutil.rmtree(dest, ignore_errors=True)
            os.rename(tmp, dest)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise

    def read(self) -> DataFrame | None:
        """All appended batches as one frame; None when nothing has
        been appended yet (zero batch dirs — a glob read would raise
        PATH_NOT_FOUND on a healthy idle table)."""
        if not any(d.startswith("batch_id=") for d in os.listdir(self.root)):
            return None
        return self.spark.read.option("basePath", self.root).parquet(
            self.root + "/batch_id=*"
        )

    def expire(self, keep_batches: int) -> dict:
        """Retention for continuous streams: a lineage row set lands
        every micro-batch, so an unbounded run grows the table O(batches)
        — drop all but the newest ``keep_batches`` batch directories
        (ship older history to cold storage first if it must be kept).
        Returns {batches_removed, batches_kept}."""
        if keep_batches < 1:
            raise ValueError("keep_batches must be >= 1")
        ids = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.root)
            if d.startswith("batch_id=") and d.split("=", 1)[1].lstrip("-").isdigit()
        )
        drop = ids[:-keep_batches] if len(ids) > keep_batches else []
        for b in drop:
            shutil.rmtree(os.path.join(self.root, f"batch_id={b}"), ignore_errors=True)
        return {"batches_removed": len(drop), "batches_kept": min(len(ids), keep_batches)}


def dedup_drop_lineage(stats: DataFrame, batch_id: int, op: str) -> DataFrame:
    """Collapse a candidate-cap stats frame (``simhash_candidate_stats``
    / ``lsh_candidate_stats``: one row per bucket with ``members`` and
    ``members_dropped``) into ONE lineage row per dedup run.

    The dedup families bound their candidate self-joins with per-bucket
    caps; this is the "no silent caps" principle made OPERATIONAL: when
    a dedup op runs under the engine, append this row to a
    ``LineageTable`` so recall loss from cap saturation is a queryable
    production signal (alert on members_dropped > 0), not something
    only the test suite ever sees.  One map-side-combinable aggregate
    over the same melt the candidate generation uses — no extra scan
    of the corpus."""
    agg = stats.agg(
        F.count(F.lit(1)).alias("_buckets"),
        F.coalesce(
            F.sum((F.col("members_dropped") > 0).cast("long")), F.lit(0)
        ).alias("_over"),
        F.coalesce(F.sum("members_dropped"), F.lit(0)).alias("_dropped"),
        F.coalesce(F.max("members"), F.lit(0)).alias("_max"),
    )
    return agg.select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        F.lit(op).alias("op"),
        F.col("_buckets").cast("long").alias("buckets_total"),
        F.col("_over").cast("long").alias("buckets_over_cap"),
        F.col("_dropped").cast("long").alias("members_dropped"),
        F.col("_max").cast("long").alias("max_bucket_members"),
    )


def record_dedup_run(
    table: "LineageTable", stats: DataFrame, batch_id: int, op: str
) -> None:
    """Append one dedup-run drop-stats row to a lineage table
    (idempotent per batch_id like all lineage appends)."""
    table.append(dedup_drop_lineage(stats, batch_id, op), batch_id)
