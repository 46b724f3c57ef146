"""Capture the PHYSICAL plan of the per-batch merge write (the
engine-internal job bench times inside cdc_apply_* queries).

The query functions only return the final table read, so their
``explain`` never shows the apply; this hooks DataFrameWriter.parquet
to dump each write's plan during one 4-batch replay.  ``mor`` mode runs
its sink at ``mor_compact_threshold=4``, so the 4th apply is the one
that folds the delta chains: it keeps the 3rd (delta) and 4th (folding)
apply's plans.

Usage: python tools/capture_merge_plan.py <out_file> [cow|mor|audit|changes]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.readwriter import DataFrameWriter  # noqa: E402

from chomper_spark.operators.merge import SnapshotMergeSink  # noqa: E402
from chomper_spark.session import get_spark  # noqa: E402
from chomper_spark.sources.feed import change_feed_from_events, with_batch_id  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_file, mode = sys.argv[1], (sys.argv[2] if len(sys.argv) > 2 else "cow")
    spark = get_spark("capture_merge_plan", master="local[8]", shuffle_partitions=16)
    plans: list[str] = []
    orig = DataFrameWriter.parquet

    def hooked(self, path, **kw):
        df = self._df
        plans.append(
            f"== write -> {path.split('/')[-2]}/{path.split('/')[-1]} ==\n"
            + df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        return orig(self, path, **kw)

    DataFrameWriter.parquet = hooked
    try:
        feed = with_batch_id(change_feed_from_events(spark, SF_DIR), 4).persist()
        kw: dict = {}
        write_mode = mode
        threshold = 4 if mode == "mor" else 8
        if mode == "audit":
            write_mode = "cow"
            kw = {}
        elif mode == "changes":
            write_mode = "cow"
            kw = {"listen_fields": ("text", "role"), "emit_change_rows": True}
        sink = SnapshotMergeSink(
            spark,
            tempfile.mkdtemp(prefix="plan_cap_"),
            n_buckets=16,
            write_mode=write_mode,
            mor_compact_threshold=threshold,
            audit_timestamps=(mode == "audit"),
        )
        for b in range(4):
            if mode == "audit":
                import datetime as dt

                kw = {"batch_time": dt.datetime(2026, 1, 1) + dt.timedelta(days=b)}
            sink.apply_batch(
                feed.filter(F.col("batch_id") == b).drop("batch_id"),
                batch_id=b,
                collect_metrics=False,
                **kw,
            )
        feed.unpersist()
    finally:
        DataFrameWriter.parquet = orig
    # last batch's steady-state shape: "changes" mode writes two files
    # per batch (change rows + snapshot) — keep both; "mor" keeps the
    # last delta apply and the folding apply
    keep = plans[-2:] if mode in ("changes", "mor") else plans[-1:]
    with open(out_file, "w") as fh:
        fh.write(f"# per-batch merge write plans ({mode}), sf={SF_DIR}\n")
        fh.write("\n\n".join(keep))
    print(f"wrote {out_file} ({len(plans)} writes captured)")
    spark.stop()


if __name__ == "__main__":
    main()
