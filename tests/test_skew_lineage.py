"""Skew handling + lineage metrics (north rule: explicit partitioning/
shuffle/skew; per-partition lineage table)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from chomper_spark.operators.dedup import dedup_latest
from chomper_spark.operators.lineage import LineageTable, lineage_rows
from chomper_spark.operators.skew import salted_count_per_conv, stage_by_conv, with_salt
from chomper_spark.sources.feed import synthetic_change_feed
from tests.helpers import ev, feed_df


def test_dedup_latest_picks_newest_by_op_ts_then_batch_seq(spark):
    events = [
        ev("I", "c1", 0, 1, secs=10),
        ev("U", "c1", 0, 2, secs=10, text="same ts, higher seq wins"),
        ev("U", "c1", 0, 3, secs=5, text="older ts, higher seq — loses"),
    ]
    out = dedup_latest(feed_df(spark, events)).collect()
    assert len(out) == 1 and out[0]["text"] == "same ts, higher seq wins"


def test_stage_by_conv_partitions_by_range(spark):
    feed = feed_df(spark, [ev("I", f"c{i}", t, i * 10 + t) for i in range(8) for t in range(4)])
    staged = stage_by_conv(feed, num_partitions=4)
    assert staged.rdd.getNumPartitions() == 4
    # a conversation's turns are contiguous: each (conv) lives in one partition
    per_part = (
        staged.withColumn("pid", F.spark_partition_id())
        .groupBy("conv_id").agg(F.count_distinct("pid").alias("nparts"))
        .collect()
    )
    assert all(r["nparts"] == 1 for r in per_part)


def test_salted_agg_matches_plain_agg(spark):
    feed = synthetic_change_feed(spark, 5000, n_convs=20, zipf_skew=1.5, seed=7)
    plain = {r["conv_id"]: r["n"] for r in feed.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["conv_id"]: r["n_events"] for r in salted_count_per_conv(feed, n_salts=8).collect()}
    assert salted == plain


def test_salt_is_deterministic(spark):
    feed = feed_df(spark, [ev("I", "c1", t, t) for t in range(16)])
    a = sorted(r["_salt"] for r in with_salt(feed, 4).collect())
    b = sorted(r["_salt"] for r in with_salt(feed, 4).collect())
    assert a == b and len(set(a)) > 1  # hot conv spreads over salts


def test_batch_lineage_rows_match_pandas_counts(spark, tmp_path):
    # per-bucket lineage rows (events, dedup drops, distinct keys, lag
    # behind the newest event) from the COW apply's touched-bucket
    # aggregate and from the MOR helper, against pandas counts over the
    # sink's bucket of each event
    import pandas as pd

    from chomper_spark.operators.merge import SnapshotMergeSink

    events = [ev("I", f"c{i % 5}", i % 3, i) for i in range(40)] + [ev("D", "c1", 1, 50)]
    df = feed_df(spark, events)
    sink = SnapshotMergeSink(spark, str(tmp_path / "cow"), n_buckets=4)
    ev_pd = df.select("conv_id", "turn_idx", "op_ts", F.expr(sink._bucket_sql()).alias("b")).toPandas()
    g = ev_pd.groupby("b")
    now_ms = 1_900_000_000_000
    exp = pd.DataFrame({
        "partition_id": g.size().index.astype("int64"),
        "events_applied": g.size().values,
        "merge_rows": ev_pd.drop_duplicates(["b", "conv_id", "turn_idx"]).groupby("b").size().values,
        "watermark_lag_ms": (
            now_ms - g["op_ts"].max().dt.tz_localize(None).astype("datetime64[ms]").astype("int64")
        ).values,
    })
    exp["dedup_drops"] = exp["events_applied"] - exp["merge_rows"]

    m = sink.apply_batch(df, batch_id=7)
    assert m.bucket_stats == sink.bucket_stats(df)  # COW metrics == MOR helper
    rows = lineage_rows(m.bucket_stats, 7, as_of_ms=now_ms)
    got = pd.DataFrame(rows)[exp.columns]
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert set(pd.DataFrame(rows)["batch_id"]) == {7}
    assert m.buckets_touched == len(rows)
    assert (m.events_in, m.merge_rows) == (41, 15)

    t = LineageTable(spark, str(tmp_path / "lin"))
    t.append(rows, 7)
    t.append(rows, 7)  # replay replaces, never duplicates
    t.append(lineage_rows(m.bucket_stats, 8), 8)  # no wall clock → NULL lag
    back = t.read()
    assert dict(back.dtypes)["partition_id"] == "int"
    assert dict(back.dtypes)["events_applied"] == "bigint"
    assert back.filter("batch_id = 7").count() == len(rows)
    assert back.filter("batch_id = 8 and watermark_lag_ms is not null").count() == 0
    assert not [d for d in os.listdir(str(tmp_path / "lin")) if d.startswith("_")]


def test_dedup_agg_equals_window_form(spark):
    from chomper_spark.operators.dedup import dedup_latest_agg

    feed = synthetic_change_feed(spark, 20_000, n_convs=300, zipf_skew=1.0, seed=11)
    a = dedup_latest(feed).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = (
        dedup_latest_agg(feed)[a.columns.tolist()]
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_lineage_retention_bounds_dir_count(spark, tmp_path):
    import pytest

    root = str(tmp_path / "lin")
    t = LineageTable(spark, root)
    for b in range(8):
        t.append(lineage_rows([(0, 1, 1, None)], b), b)
    stats = t.expire(keep_batches=3)
    assert stats == {"batches_removed": 5, "batches_kept": 3}
    dirs = sorted(d for d in os.listdir(root) if d.startswith("batch_id="))
    assert dirs == ["batch_id=5", "batch_id=6", "batch_id=7"]
    assert t.read().select("batch_id").distinct().count() == 3
    # no-op when already within budget; bad budget rejected
    assert t.expire(keep_batches=5)["batches_removed"] == 0
    with pytest.raises(ValueError):
        t.expire(keep_batches=0)


def test_streaming_auto_lineage_retention(spark, tmp_path):
    from chomper_spark.streaming import StreamingApply

    feed_dir = str(tmp_path / "feed")
    for b in range(5):
        feed_df(spark, [ev("I", f"c{b}", 0, b + 1)]).coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)
    lineage = str(tmp_path / "lin")
    app = StreamingApply(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        lineage_root=lineage, max_files_per_trigger=1, n_buckets=2,
        lineage_keep_batches=2,
    )
    app.run_available()
    dirs = [d for d in os.listdir(lineage) if d.startswith("batch_id=")]
    assert len(dirs) == 2  # 5 micro-batches appended, retention held at 2


def test_dedup_drop_stats_surface_in_lineage(spark, tmp_path):
    # cap saturation must be an observable lineage row, not a silent
    # recall loss: 30 identical docs under chunk_cap=6 drop 24 members
    # in each of the 4 simhash chunks
    from chomper_spark.functions import docdedup as dd
    from chomper_spark.operators.lineage import (
        LineageTable,
        dedup_drop_lineage,
        record_dedup_run,
    )

    docs = spark.createDataFrame(
        [(i, "same text everywhere") for i in range(30)], "doc_id long, text string"
    )
    stats = dd.simhash_candidate_stats(docs, chunk_cap=6)
    table = LineageTable(spark, str(tmp_path / "dedup_lineage"))
    record_dedup_run(table, stats, batch_id=7, op="simhash")
    rows = table.read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["batch_id"], r["op"]) == (7, "simhash")
    assert r["buckets_total"] == 4 and r["buckets_over_cap"] == 4
    assert r["members_dropped"] == 4 * 24 and r["max_bucket_members"] == 30
    # replay of the same run overwrites, never duplicates
    record_dedup_run(table, stats, batch_id=7, op="simhash")
    assert table.read().count() == 1
    # an uncapped corpus records zeros (the healthy baseline row)
    small = spark.createDataFrame(
        [(1, "one doc"), (2, "two doc")], "doc_id long, text string"
    )
    row0 = dedup_drop_lineage(
        dd.simhash_candidate_stats(small, chunk_cap=100), 8, "simhash"
    ).collect()[0]
    assert row0["members_dropped"] == 0 and row0["buckets_over_cap"] == 0
