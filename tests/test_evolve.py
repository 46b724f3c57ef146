"""Schema evolution: column add + type widen through the MERGE sink,
plus the align/evolve primitives (north rule: "column add / type-widen
on text/tool fields"; the reference's sink-side column intersection is
chomper/contrib/postgres.py:91-108)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from chomper_spark.operators.evolve import align_to_schema, evolve_schema
from chomper_spark.operators.merge import SnapshotMergeSink
from tests.helpers import ev, feed_df


def test_evolve_schema_add_and_widen():
    tgt = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.LongType()),  # widened
            T.StructField("tool_meta", T.StringType()),  # added
        ]
    )
    out, report = evolve_schema(tgt, src)
    assert report.added_columns == ["tool_meta"]
    assert report.widened_columns == [("turn_idx", "int", "bigint")]
    by_name = {f.name: f.dataType for f in out.fields}
    assert by_name["turn_idx"] == T.LongType()
    assert by_name["text"] == T.StringType()  # kept though absent in src
    assert by_name["tool_meta"] == T.StringType()


def test_evolve_schema_rejects_incompatible():
    tgt = T.StructType([T.StructField("a", T.StringType())])
    src = T.StructType([T.StructField("a", T.ArrayType(T.LongType()))])
    with pytest.raises(TypeError):
        evolve_schema(tgt, src)
    out, _ = evolve_schema(tgt, src, strict=False)
    assert out.fields[0].dataType == T.StringType()


def test_align_to_schema_nullfill_drop_cast(spark):
    df = spark.createDataFrame([(1, "x", 9)], "a int, b string, extra int")
    target = T.StructType(
        [
            T.StructField("a", T.LongType()),      # cast
            T.StructField("b", T.StringType()),    # kept
            T.StructField("c", T.DoubleType()),    # null-fill
        ]
    )
    out = align_to_schema(df, target)
    assert out.schema == T.StructType(
        [f if f.name != "a" else T.StructField("a", T.LongType()) for f in target.fields]
    )
    row = out.collect()[0]
    assert (row["a"], row["b"], row["c"]) == (1, "x", None)


def test_sink_evolves_added_column_and_backfills_null(spark, tmp_table):
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), 0)

    # batch 2 carries a NEW column tool_meta
    b2 = feed_df(spark, [ev("I", "c2", 0, 2)]).withColumn(
        "tool_meta", F.lit("vision-v2")
    )
    m = sink.apply_batch(b2, 1)
    assert m.schema_added == ["tool_meta"]
    rows = {r["conv_id"]: r for r in sink.read().collect()}
    assert rows["c2"]["tool_meta"] == "vision-v2"
    assert rows["c1"]["tool_meta"] is None  # vectorized NULL backfill


def test_sink_widens_turn_idx_int_to_long(spark, tmp_table):
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), 0)
    b2 = feed_df(spark, [ev("I", "c2", 2_200_000_000 % 2**31, 2)]).withColumn(
        "turn_idx", F.col("turn_idx").cast("long") + F.lit(3_000_000_000)
    )
    m = sink.apply_batch(b2, 1)
    assert ("turn_idx", "int", "bigint") in m.schema_widened
    out = sink.read()
    assert dict(out.dtypes)["turn_idx"] == "bigint"
    assert out.filter(F.col("turn_idx") > 2_000_000_000).count() == 1
    # old rows survived the widen
    assert out.filter(F.col("conv_id") == "c1").count() == 1
    # a point lookup of a pre-widen row hashes its (now bigint) key to
    # the bucket the int-typed write used
    assert [r["conv_id"] for r in sink.read_keys([("c1", 0)]).collect()] == ["c1"]


def test_sink_tolerates_missing_payload_columns(spark, tmp_table):
    # the reference silently writes the intersection of item keys ×
    # table columns (tests/test_sql.py:54-62) — a batch missing 'tool'
    # must apply with NULL, not fail.
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1, tool="browser")]), 0)
    b2 = feed_df(spark, [ev("U", "c1", 0, 2, text="no tool col")]).drop("tool")
    sink.apply_batch(b2, 1)
    row = sink.read().collect()[0]
    assert row["text"] == "no tool col" and row["tool"] is None


def test_schema_evolution_commit_touches_only_batch_buckets(spark, tmp_path):
    # metadata-only evolution (round 4): ADD COLUMN must NOT rewrite the
    # table.  Proof by file listing: every data file of untouched
    # buckets is byte-identical (same path, same mtime) across the
    # evolution commit; only the evolving batch's buckets gain files.
    import os

    from pyspark.sql import functions as F

    from chomper_spark.operators.merge import SnapshotMergeSink
    from tests.helpers import ev, feed_df

    sink = SnapshotMergeSink(spark, str(tmp_path / "t"), n_buckets=8)
    sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i) for i in range(32)]), 0)

    def files():
        out = {}
        for root, _, fs in os.walk(str(tmp_path / "t" / "snapshots")):
            for f in fs:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    before = files()
    man0 = sink.current_manifest()
    # one-key batch with a NEW column → touches exactly one bucket
    b = feed_df(spark, [ev("U", "c0", 0, 99)]).withColumn("extra", F.lit("x"))
    m = sink.apply_batch(b, 1)
    assert m.schema_added == ["extra"] and m.buckets_touched == 1
    after = files()
    # all pre-existing files survive untouched (carried by reference)
    for p, mt in before.items():
        assert p in after and after[p] == mt, f"rewritten: {p}"
    # the manifest still references old files for untouched buckets
    man1 = sink.current_manifest()
    same = [k for k in man0["buckets"] if man0["buckets"][k] == man1["buckets"][k]]
    assert len(same) == len(man0["buckets"]) - 1
    assert len(man1["schema_history"]) == 2
    # reads NULL-backfill the old files and keep values intact
    rows = {r["conv_id"]: r for r in sink.read().collect()}
    assert rows["c0"]["extra"] == "x" and rows["c1"]["extra"] is None
    assert len(rows) == 32
    # time travel to the pre-evolution snapshot still reads the old schema
    old = sink.read(as_of_snapshot=man0["snapshot_id"])
    assert "extra" not in old.columns and old.count() == 32
