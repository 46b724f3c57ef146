"""Declarative pipeline composition — the reference's ``Importer``.

The reference's top-level API is an importer with a name and a pipeline
list walked item-at-a-time, counting items_processed / items_dropped
(chomper/importers.py:25-89, counters :44-45,101-105).  Here the same
shape assembles ONE Catalyst plan: feeder → transforms → sink; "run"
is a single batch apply (or hand the feed to StreamingApply for the
continuous mode, chomper/importers.py:54-62).

    imp = Importer(
        name="transcripts",
        feeder=lambda spark: change_feed_from_events(spark, sf_dir),
        pipeline=[tx.drop_rows(...), tx.map_values("role", {...})],
        sink=SnapshotMergeSink(spark, root),
    )
    metrics = imp.run(spark, batch_id=0)
    metrics.items_processed, metrics.items_dropped
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from chomper_spark.operators import transforms as tx
from chomper_spark.operators.merge import MergeMetrics, SnapshotMergeSink, _obs_row


@dataclass
class RunResult:
    """The reference's importer counters (chomper/importers.py:44-45),
    set-oriented: processed = rows reaching the sink, dropped = rows
    removed by the transform pipeline (filters/dedup)."""

    items_processed: int
    items_dropped: int
    merge: MergeMetrics | None


class Importer:
    def __init__(
        self,
        name: str,
        feeder: Callable[[SparkSession], DataFrame],
        pipeline: Sequence[tx.Transform] = (),
        sink: SnapshotMergeSink | None = None,
    ):
        self.name = name
        self.feeder = feeder
        self.pipeline = list(pipeline)
        self.sink = sink

    def run(self, spark: SparkSession, batch_id: int = 0, **apply_kwargs) -> RunResult:
        """One batch pass: count-in, transform, apply to the sink.

        Metrics collection is forced on — the counters ARE the
        importer's contract (chomper/importers.py:44-45), so a caller
        passing ``collect_metrics=False`` through ``apply_kwargs`` must
        not silently zero them.  A ledger-skipped replay batch reports
        processed=0/dropped=0 with ``merge.skipped=True`` rather than
        pretending every input row was dropped.

        The input count RIDES the sink's own jobs via ``df.observe`` on
        the feed (populated by the first action over the plan — the
        sink's dedup/write pass), so run() triggers no count job of its
        own and the feed is scanned exactly once, unpersisted."""
        obs = Observation()
        fed = self.feeder(spark).observe(obs, F.count(F.lit(1)).alias("n"))
        out = tx.pipe(fed, *self.pipeline)
        if self.sink is None:
            n_out = out.count()
            n_in = int(_obs_row(obs).get("n") or 0)
            return RunResult(n_out, n_in - n_out, None)
        apply_kwargs.pop("collect_metrics", None)
        m = self.sink.apply_batch(out, batch_id=batch_id, collect_metrics=True, **apply_kwargs)
        if m.skipped:
            # no action ran over the plan — the observation never fires;
            # reading it would block forever
            return RunResult(0, 0, m)
        n_in = int(_obs_row(obs).get("n") or 0)
        return RunResult(m.merge_rows, n_in - m.merge_rows, m)
