"""Merge-on-read mode: O(batch) delta appends + read-side latest-wins
reduce + inline compaction must be observationally identical to the
copy-on-write MERGE (same oracle, same exactly-once)."""

from __future__ import annotations

import pytest

from chomper_spark.operators.merge import SnapshotMergeSink
from tests.helpers import (
    assert_state_equals_oracle, committed_batches, ev, feed_df, write_plans,
)


def _mor(spark, path, **kw):
    return SnapshotMergeSink(spark, str(path), n_buckets=4, write_mode="mor", **kw)


def test_mor_matches_oracle_with_deletes_and_out_of_order(spark, tmp_path):
    b0 = [ev("I", "c1", 0, 10, text="newer"), ev("I", "c2", 0, 2)]
    b1 = [ev("U", "c1", 0, 5, text="stale, must lose"), ev("D", "c2", 0, 7)]
    b2 = [ev("I", "c2", 0, 9, text="resurrected"), ev("I", "c3", 1, 11)]
    sink = _mor(spark, tmp_path / "t")
    for i, b in enumerate([b0, b1, b2]):
        sink.apply_batch(feed_df(spark, b), i)
    assert_state_equals_oracle(sink.read(), b0 + b1 + b2)
    texts = {r["conv_id"]: r["text"] for r in sink.read().collect()}
    assert texts["c1"] == "newer" and texts["c2"] == "resurrected"


def test_mor_equals_cow_final_state(spark, tmp_path):
    from chomper_spark.sources.feed import synthetic_change_feed, with_batch_id
    from pyspark.sql import functions as F

    feed = with_batch_id(
        synthetic_change_feed(spark, 4000, n_convs=80, zipf_skew=1.0, seed=3), 3
    ).persist()
    cow = SnapshotMergeSink(spark, str(tmp_path / "cow"), n_buckets=4)
    mor = _mor(spark, tmp_path / "mor", mor_compact_threshold=2)
    for b in range(3):
        batch = feed.filter(F.col("batch_id") == b).drop("batch_id")
        cow.apply_batch(batch, b, collect_metrics=False)
        mor.apply_batch(batch, b, collect_metrics=False)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    a = cow.read().select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    b_ = mor.read().select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    feed.unpersist()
    import pandas as pd

    pd.testing.assert_frame_equal(a, b_)


def test_mor_ledger_skips_replay(spark, tmp_path):
    events = [ev("I", "c1", 0, 1), ev("U", "c1", 0, 2)]
    sink = _mor(spark, tmp_path / "t")
    m0 = sink.apply_batch(feed_df(spark, events), 0)
    m1 = sink.apply_batch(feed_df(spark, events), 0)
    assert not m0.skipped and m1.skipped
    assert sink.read().count() == 1
    assert_state_equals_oracle(sink.read(), events)


def test_mor_compaction_bounds_delta_chains(spark, tmp_path):
    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=3)
    all_events = []
    for i in range(7):
        b = [ev("U" if i else "I", "c1", 0, i, text=f"v{i}"), ev("I", f"x{i}", 0, 100 + i)]
        all_events += b
        sink.apply_batch(feed_df(spark, b), i)
    man = sink.current_manifest()
    assert all(len(v) < 3 for v in man.get("deltas", {}).values())
    assert man["buckets"], "compaction must have produced base files"
    assert_state_equals_oracle(sink.read(), all_events)
    # GC after many snapshots keeps the table readable
    before = sorted(r["conv_id"] for r in sink.read().collect())
    sink.expire_snapshots(keep_manifests=1)
    assert sorted(r["conv_id"] for r in sink.read().collect()) == before


def test_mor_rejects_preimage_modes(spark, tmp_path):
    sink = _mor(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="cow"):
        sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), 0, update_only_nulls=True)


def test_mor_schema_evolution_is_metadata_only(spark, tmp_path):
    from pyspark.sql import functions as F

    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=99)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), 0)
    b2 = feed_df(spark, [ev("I", "c2", 0, 2)]).withColumn("tool_meta", F.lit("v2"))
    m = sink.apply_batch(b2, 1)
    assert m.schema_added == ["tool_meta"]
    rows = {r["conv_id"]: r for r in sink.read().collect()}
    assert rows["c2"]["tool_meta"] == "v2" and rows["c1"]["tool_meta"] is None
    # metadata-only: batch 0's old-schema delta chain was NOT rewritten —
    # the commit recorded a new schema_history entry instead
    man = sink.current_manifest()
    assert man["deltas"]
    assert len(man["schema_history"]) == 2
    # lazy completion: upgrade-compaction folds everything to the
    # current schema and collapses the history
    rep = sink.compact(upgrade_schema=True)
    assert rep["buckets_compacted"] >= 1
    man2 = sink.current_manifest()
    assert man2["deltas"] == {} and len(man2["schema_history"]) == 1
    rows2 = {r["conv_id"]: r for r in sink.read().collect()}
    assert rows2["c2"]["tool_meta"] == "v2" and rows2["c1"]["tool_meta"] is None


def test_streaming_apply_in_mor_mode(spark, tmp_path):
    from chomper_spark.streaming import StreamingApply
    from tests.helpers import feed_df

    feed_dir = str(tmp_path / "feed")
    c1 = [ev("I", "c1", 0, 1), ev("I", "c2", 0, 2)]
    c2 = [ev("U", "c1", 0, 3, text="v2"), ev("D", "c2", 0, 4)]
    for chunk in (c1, c2):
        feed_df(spark, chunk).coalesce(1).write.mode("append").parquet(feed_dir)
    app = StreamingApply(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, n_buckets=4, write_mode="mor",
    )
    app.run_available()
    assert_state_equals_oracle(
        app.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        c1 + c2,
    )


def test_mor_write_never_mutates_shared_session_conf(spark, tmp_path):
    # the round-2 AQE-off toggle around the MOR write mutated SHARED
    # session conf (a concurrently-planned COW join could observe AQE
    # disabled and lose skew handling); it is gone — the write runs with
    # the session conf untouched and metrics still ride the write job.
    sink = SnapshotMergeSink(spark, str(tmp_path / "t"), n_buckets=4, write_mode="mor")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    m = sink.apply_batch(
        feed_df(spark, [ev("I", "c1", 0, 1), ev("U", "c1", 0, 2), ev("I", "c2", 0, 3)]),
        batch_id=0, collect_metrics=True,
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (m.events_in, m.merge_rows, m.dedup_drops) == (3, 2, 1)


def _data_files(root):
    import os
    out = []
    for r, _, fs in os.walk(root):
        out += [os.path.join(r, f) for f in fs if f.endswith(".parquet")]
    return out


def test_mor_single_file_delta_layout(spark, tmp_path):
    # delta_layout="single": each micro-batch writes ONE delta file
    # (bucket id as a data column) instead of one per bucket — the
    # layout for small/frequent streaming triggers where per-bucket
    # files explode file counts at scale.  Semantics are identical:
    # deletes, out-of-order, partial-bucket reads, compaction, GC.
    b0 = [ev("I", "c1", 0, 10, text="newer"), ev("I", "c2", 0, 2)]
    b1 = [ev("U", "c1", 0, 5, text="stale, must lose"), ev("D", "c2", 0, 7)]
    b2 = [ev("I", "c2", 0, 9, text="resurrected"), ev("I", "c3", 1, 11)]
    sink = _mor(spark, tmp_path / "t")
    all_ev = []
    for i, b in enumerate([b0, b1, b2]):
        all_ev += b
        m = sink.apply_batch(feed_df(spark, b), i, delta_layout="single",
                             collect_metrics=True)
        assert m.buckets_touched >= 1
        snap_files = _data_files(
            str(tmp_path / "t" / "snapshots" / f"s{i:08d}"))
        assert len(snap_files) == 1  # ONE file per micro-batch
    assert_state_equals_oracle(sink.read(), all_ev)
    texts = {r["conv_id"]: r["text"] for r in sink.read().collect()}
    assert texts == {"c1": "newer", "c2": "resurrected", "c3": "text c3/1 v11"}
    # partial-bucket reads bucket-filter the shared file: a point lookup
    # must not surface foreign-bucket rows
    one = sink.read_keys([("c1", 0)]).collect()
    assert len(one) == 1 and one[0]["text"] == "newer"
    # mixed layouts interoperate
    sink.apply_batch(feed_df(spark, [ev("U", "c3", 1, 20, text="bk")]), 3,
                     delta_layout="bucketed")
    assert {r["conv_id"]: r["text"] for r in sink.read().collect()}["c3"] == "bk"
    # layout guardrails
    with pytest.raises(ValueError, match="bucketed.*single|single.*bucketed"):
        sink.apply_batch(feed_df(spark, b0), 9, delta_layout="nope")
    cow = SnapshotMergeSink(spark, str(tmp_path / "cow"), n_buckets=4)
    with pytest.raises(ValueError, match="mor"):
        cow.apply_batch(feed_df(spark, b0), 0, delta_layout="single")


def test_mor_single_layout_compaction_and_gc(spark, tmp_path):
    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=3)
    all_ev = []
    for i in range(7):
        b = [ev("U" if i else "I", "c1", 0, i, text=f"v{i}"), ev("I", f"x{i}", 0, 100 + i)]
        all_ev += b
        sink.apply_batch(feed_df(spark, b), i, delta_layout="single")
    man = sink.current_manifest()
    assert all(len(v) < 3 for v in man.get("deltas", {}).values())
    assert_state_equals_oracle(sink.read(), all_ev)
    before = {(r["conv_id"], r["text"]) for r in sink.read().collect()}
    sink.expire_snapshots(keep_manifests=1)
    assert {(r["conv_id"], r["text"]) for r in sink.read().collect()} == before


def test_streaming_apply_single_delta_layout(spark, tmp_path):
    from chomper_spark.streaming import StreamingApply
    from tests.helpers import assert_state_equals_oracle as chk

    feed_dir = str(tmp_path / "feed")
    evs = []
    for b in range(3):
        chunk = [ev("I", f"c{b}", 0, b + 1), ev("U", "c0", 0, 10 + b, text=f"u{b}")]
        evs += chunk
        feed_df(spark, chunk).coalesce(1).write.mode("append").parquet(feed_dir)
    app = StreamingApply(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, n_buckets=8, write_mode="mor",
        delta_layout="single",
    )
    app.run_available()
    chk(app.read(), evs)
    files = _data_files(str(tmp_path / "state" / "snapshots"))
    assert len(files) <= 3  # one delta file per micro-batch, not per bucket


def test_on_demand_compact_folds_all_chains(spark, tmp_path):
    # sink.compact(): the maintenance twin of inline compaction — folds
    # every delta chain (bucketed AND shared) into fresh bases, commits
    # one snapshot, and leaves reads identical
    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=100)  # inline off
    all_ev = []
    for i in range(4):
        b = [ev("U" if i else "I", "c1", 0, i, text=f"v{i}"), ev("I", f"x{i}", 0, 50 + i)]
        all_ev += b
        sink.apply_batch(feed_df(spark, b), i,
                         delta_layout="single" if i % 2 else "bucketed")
    assert sink.current_manifest()["deltas"]
    before = {(r["conv_id"], r["text"]) for r in sink.read().collect()}
    rep = sink.compact()
    assert rep["buckets_compacted"] >= 1 and rep["delta_refs_folded"] >= 4
    man = sink.current_manifest()
    assert man["deltas"] == {} and man["buckets"]
    assert {(r["conv_id"], r["text"]) for r in sink.read().collect()} == before
    assert_state_equals_oracle(sink.read(), all_ev)
    # idempotent no-op on a compacted table; ledger untouched
    assert sink.compact() == {"buckets_compacted": 0, "delta_refs_folded": 0}
    assert committed_batches(sink) == {0, 1, 2, 3}
    # the batch ledger still skips replays after compaction
    assert sink.apply_batch(feed_df(spark, all_ev[:2]), 0).skipped


def test_table_properties_come_from_manifest_not_constructor(spark, tmp_path):
    # n_buckets/key_cols are TABLE properties: reopening an existing
    # table with different constructor values must honor the manifest —
    # otherwise a maintenance compact() with a default n_buckets
    # re-hashes rows into unreferenced dirs (silent data loss, caught
    # in round-3 review and reproduced before this guard existed)
    evs = [ev("I", f"c{i}", 0, i) for i in range(12)]
    sink = _mor(spark, tmp_path / "t")  # n_buckets=4
    sink.apply_batch(feed_df(spark, evs), 0)
    # reopen as a maintenance job would: wrong bucket count + key cols
    maint = SnapshotMergeSink(spark, str(tmp_path / "t"), n_buckets=256,
                              key_cols=["text_hash"], write_mode="mor")
    assert maint.n_buckets == 4 and maint.key_cols == ["conv_id", "turn_idx"]
    rep = maint.compact()
    assert rep["buckets_compacted"] >= 1
    assert maint.read().count() == 12  # every row survived
    assert maint.current_manifest()["n_buckets"] == 4
    assert_state_equals_oracle(maint.read(), evs)


def test_shared_delta_read_filters_per_referencing_bucket(spark, tmp_path):
    # partial-compaction hazard: a shared (delta_layout="single") file
    # holds rows of buckets {j, k}, but k's chain was folded into a
    # base and no longer references it.  A multi-bucket read must admit
    # the shared file's rows ONLY for buckets whose chains reference it
    # — not lean on the latest-wins reduce to re-hide folded rows.
    import os

    from pyspark.sql import functions as F

    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=100)
    # batch 0 writes a shared delta holding rows of 2+ buckets
    rows = [ev("I", f"c{i}", 0, i) for i in range(12)]
    sink.apply_batch(feed_df(spark, rows), 0, delta_layout="single")
    man = sink.current_manifest()
    ref_buckets = sorted(int(k) for k in man["deltas"])
    assert len(ref_buckets) >= 2
    j, k = ref_buckets[0], ref_buckets[1]
    # simulate k's chain having been folded away: manifest stops
    # referencing the shared file for k (no base for k either — so any
    # k-row the read returns can only have leaked from the shared file)
    pruned = {
        "buckets": dict(man["buckets"]),
        "deltas": {kk: list(v) for kk, v in man["deltas"].items() if int(kk) != k},
        "schema": man["schema"],
        "schema_history": man["schema_history"],
    }
    got = sink._read_buckets(pruned, [j, k])
    got_buckets = {
        r["b"] for r in got.select(F.expr(sink._bucket_sql()).alias("b")).distinct().collect()
    }
    assert j in got_buckets and k not in got_buckets

    # mixed referencing sets across TWO shared files exercise the
    # per-file (input_file_name) branch: batch 1's shared file still
    # references k, batch 0's does not
    sink.apply_batch(
        feed_df(spark, [ev("U", f"c{i}", 0, 100 + i, text="v2") for i in range(12)]),
        1, delta_layout="single",
    )
    man2 = sink.current_manifest()
    mixed = {
        "buckets": dict(man2["buckets"]),
        "deltas": {
            kk: (list(v) if int(kk) != k else list(v)[1:])  # drop batch-0 ref for k
            for kk, v in man2["deltas"].items()
        },
        "schema": man2["schema"],
        "schema_history": man2["schema_history"],
    }
    got2 = sink._read_buckets(mixed, [j, k])
    texts = {r["conv_id"]: r["text"] for r in got2.collect()}
    # k's rows come only from the batch-1 file (text v2); j's reduce
    # still sees both versions and picks v2 as well
    assert all(v == "v2" for v in texts.values())
    assert {r["conv_id"] for r in got2.collect()} == {
        r["conv_id"]
        for r in sink.read_state()
        .withColumn("b", F.expr(sink._bucket_sql()))
        .filter(F.col("b").isin([j, k]))
        .collect()
    }


# -- the fused fold: a compacting apply is ONE write plan ----------------


def _keys_by_bucket(spark, sink, n_keys=64):
    """conv ids (turn 0) grouped by the bucket they hash to."""
    df = feed_df(spark, [ev("I", f"k{i}", 0, i) for i in range(n_keys)])
    out: dict[int, list[str]] = {}
    for r in df.selectExpr("conv_id", f"{sink._bucket_sql()} AS b").collect():
        out.setdefault(r["b"], []).append(r["conv_id"])
    return out


def _batch(convs, seq0, text, op="U"):
    return [ev(op, c, 0, seq0 + i, text=text) for i, c in enumerate(convs)]


def _bucket_dirs(snap_dir):
    import os

    return {
        f"{sub}/{b}"
        for sub in os.listdir(snap_dir)
        if os.path.isdir(os.path.join(snap_dir, sub))
        for b in os.listdir(os.path.join(snap_dir, sub))
        if b.startswith("_bucket=")
    }


def test_folding_apply_is_one_write_with_one_exchange(spark, tmp_path):
    # the batch that brings every chain to the threshold folds them in
    # its own plan: one parquet write, one Exchange, no Join — and the
    # fold buckets get a base, never a throw-away delta beside it
    import os

    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=3)
    by_b = _keys_by_bucket(spark, sink)
    convs = [c for k in range(4) for c in by_b[k][:4]]
    evs = []
    for b in range(2):
        evs += _batch(convs, 100 * b, f"v{b}", op="I" if b == 0 else "U")
        sink.apply_batch(feed_df(spark, evs[-16:]), b)
    folded = _batch(convs[:12], 200, "v2") + [ev("D", convs[12], 0, 299)]
    evs += folded
    plans, _ = write_plans(lambda: sink.apply_batch(feed_df(spark, folded), 2))
    assert len(plans) == 1
    assert plans[0].count("Exchange") == 1, plans[0]
    assert "Join" not in plans[0], plans[0]
    man = sink.current_manifest()
    assert man["deltas"] == {} and len(man["buckets"]) == 4
    snap = str(tmp_path / "t" / "snapshots" / "s00000002")
    referenced = {rel.split("/", 2)[2] for rel in man["buckets"].values()}
    assert _bucket_dirs(snap) == referenced == {f"data/_bucket={k}" for k in range(4)}
    assert not os.path.exists(os.path.join(snap, "delta"))
    assert_state_equals_oracle(sink.read(), evs)


def test_folding_apply_jobs_and_counters_match_a_delta_apply(spark, tmp_path):
    # twin sinks fed the same history: one folds on the third batch,
    # one appends a delta.  The fold launches no more jobs, and its
    # counters count batch rows only — never the stored rows it reduces
    from tests.helpers import jobs_and_result

    fold = _mor(spark, tmp_path / "fold", mor_compact_threshold=3)
    delta = _mor(spark, tmp_path / "delta", mor_compact_threshold=100)
    convs = [f"c{i}" for i in range(24)]
    evs = []
    for b in range(2):
        evs += _batch(convs, 100 * b, f"v{b}", op="I" if b == 0 else "U")
        for s in (fold, delta):
            s.apply_batch(feed_df(spark, evs[-24:]), b)
    # duplicates within the batch (dedup drops) and a brand-new key
    third = _batch(convs[:10], 200, "v2") + _batch(convs[:4], 300, "v3") + [
        ev("I", "new", 0, 400)
    ]
    evs += third
    (jd, md), (jf, mf) = (
        jobs_and_result(
            spark, lambda s=s: s.apply_batch(feed_df(spark, third), 2, collect_metrics=True)
        )
        for s in (delta, fold)
    )
    assert fold.current_manifest()["deltas"] == {}
    assert delta.current_manifest()["deltas"]
    assert jf <= jd, (jf, jd)
    assert (mf.events_in, mf.merge_rows, mf.dedup_drops) == (
        md.events_in, md.merge_rows, md.dedup_drops,
    ) == (15, 11, 4)
    for s in (fold, delta):
        assert_state_equals_oracle(s.read(), evs)


def test_folding_apply_with_evolved_schema_backfills_stored_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=3)
    sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i) for i in range(8)]), 0)
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 10, text="u1")]), 1)
    b2 = feed_df(spark, [ev("U", "c2", 0, 20, text="u2"), ev("I", "n1", 0, 21)])
    m = sink.apply_batch(b2.withColumn("tool_meta", F.lit("v2")), 2)
    assert m.schema_added == ["tool_meta"]
    man = sink.current_manifest()
    # c1's bucket folded its two-long chain in this apply
    assert any(rel.startswith("snapshots/s00000002/") for rel in man["buckets"].values())
    rows = {r["conv_id"]: r for r in sink.read().collect()}
    assert len(rows) == 9
    assert (rows["c2"]["tool_meta"], rows["n1"]["tool_meta"]) == ("v2", "v2")
    assert all(rows[f"c{i}"]["tool_meta"] is None for i in (0, 1, 3, 4, 5, 6, 7))
    assert (rows["c1"]["text"], rows["c2"]["text"]) == ("u1", "u2")


def test_folding_apply_under_single_delta_layout(spark, tmp_path):
    # a folding apply writes per-bucket files even when the batch asks
    # for one shared delta: fold buckets get bases, a touched bucket
    # with no chain gets a per-bucket delta
    import os

    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=3)
    by_b = _keys_by_bucket(spark, sink)
    old, new = by_b[0][:3] + by_b[1][:3], by_b[2][:3]
    evs = []
    for b in range(2):
        evs += _batch(old, 100 * b, f"v{b}", op="I" if b == 0 else "U")
        sink.apply_batch(feed_df(spark, evs[-6:]), b, delta_layout="single")
    third = _batch(old[:2], 200, "v2") + _batch(new, 300, "n", op="I")
    evs += third
    m = sink.apply_batch(feed_df(spark, third), 2, delta_layout="single")
    assert m.buckets_touched == 3
    man = sink.current_manifest()
    assert man["deltas"] == {"2": ["snapshots/s00000002/data/_bucket=2"]}
    assert {k: man["buckets"][k] for k in ("0", "1")} == {
        k: f"snapshots/s00000002/data/_bucket={k}" for k in ("0", "1")
    }
    assert not os.path.exists(tmp_path / "t" / "snapshots" / "s00000002" / "delta_shared")
    assert_state_equals_oracle(sink.read(), evs)


def test_fold_bucket_the_batch_misses_keeps_its_state(spark, tmp_path):
    # the fold set comes from the manifest, not the batch: a bucket at
    # threshold - 1 folds even when this batch has no event for it
    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=3)
    by_b = _keys_by_bucket(spark, sink)
    a, b = by_b[0][:3], by_b[1][:3]
    evs = []
    for i in range(2):
        evs += _batch(a + b, 100 * i, f"v{i}", op="I" if i == 0 else "U")
        sink.apply_batch(feed_df(spark, evs[-6:]), i)
    before_b = sink.read_keys([(c, 0) for c in b]).collect()
    evs += _batch(a, 200, "v2")
    sink.apply_batch(feed_df(spark, evs[-3:]), 2)
    man = sink.current_manifest()
    assert man["deltas"] == {}
    assert man["buckets"]["1"] == "snapshots/s00000002/data/_bucket=1"
    assert sorted(sink.read_keys([(c, 0) for c in b]).collect()) == sorted(before_b)
    assert_state_equals_oracle(sink.read(), evs)


def test_compact_write_plan_has_one_exchange(spark, tmp_path):
    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=100)
    evs = []
    for i in range(3):
        evs += [ev("U" if i else "I", f"c{j}", 0, 10 * i + j, text=f"v{i}") for j in range(8)]
        sink.apply_batch(feed_df(spark, evs[-8:]), i, delta_layout="single" if i == 1 else "bucketed")
    plans, rep = write_plans(sink.compact)
    assert rep["delta_refs_folded"] >= 3
    assert len(plans) == 1
    assert plans[0].count("Exchange") == 1, plans[0]
    assert "Join" not in plans[0], plans[0]
    assert sink.current_manifest()["deltas"] == {}
    assert_state_equals_oracle(sink.read(), evs)


@pytest.mark.parametrize("crash", ["before_link", "before_flip"])
def test_crash_in_folding_apply_commit(spark, tmp_path, monkeypatch, crash):
    # fault injection at the fold: the fold's data is written, then the
    # commit dies — before the manifest link (nothing committed: no
    # partial base is visible, the retry re-folds, GC frees the dead
    # claimed dir) or after it, before the _CURRENT flip (committed:
    # the retry is a ledger skip)
    import os

    root = str(tmp_path / "t")
    sink = _mor(spark, root, mor_compact_threshold=3)
    evs = []
    for i in range(2):
        evs += [ev("U" if i else "I", f"c{j}", 0, 10 * i + j, text=f"v{i}") for j in range(8)]
        sink.apply_batch(feed_df(spark, evs[-8:]), i)
    head = sink.current_manifest()["_name"]
    third = [ev("U", f"c{j}", 0, 100 + j, text="v2") for j in range(5)]

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    if crash == "before_link":
        monkeypatch.setattr(sink, "_commit", boom)
    else:
        real_replace = os.replace

        def replace(src, dst):
            if str(dst).endswith("_CURRENT"):
                boom()
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", replace)
    snaps = os.path.join(root, "snapshots")
    dirs_before = set(os.listdir(snaps))
    with pytest.raises(RuntimeError, match="injected"):
        sink.apply_batch(feed_df(spark, third), 2)
    monkeypatch.undo()
    (claimed,) = set(os.listdir(snaps)) - dirs_before
    assert _bucket_dirs(os.path.join(snaps, claimed))  # the fold was written

    fresh = _mor(spark, root, mor_compact_threshold=3)
    if crash == "before_link":
        assert fresh.current_manifest()["_name"] == head
        assert fresh.current_manifest()["deltas"]  # no partial base visible
        assert_state_equals_oracle(fresh.read(), evs)
    m = fresh.apply_batch(feed_df(spark, third), 2)
    assert m.skipped == (crash == "before_flip")
    assert fresh.current_manifest()["deltas"] == {}
    assert_state_equals_oracle(fresh.read(), evs + third)
    fresh.expire_snapshots(keep_manifests=1)
    assert os.path.exists(os.path.join(snaps, claimed)) == (crash == "before_flip")
    assert_state_equals_oracle(fresh.read(), evs + third)


def test_expire_frees_unreferenced_bucket_dirs_in_live_snapshots(spark, tmp_path):
    # buckets fold at different applies, so a snapshot dir can hold a
    # live base beside a delta a later fold retired: GC frees the dead
    # bucket dir and every retained manifest reads the same
    import os

    root = str(tmp_path / "t")
    sink = _mor(spark, root, mor_compact_threshold=3)
    by_b = _keys_by_bucket(spark, sink)
    touch = [(0, 1), (0,), (0, 1), (1, 2), (0, 2), (1, 2, 3)]
    evs = []
    for i, bks in enumerate(touch):
        evs += [ev("U" if i else "I", c, 0, 100 * i + j, text=f"v{i}")
                for j, c in enumerate(c for k in bks for c in by_b[k][:2])]
        sink.apply_batch(feed_df(spark, evs[len(evs) - 2 * len(bks):]), i)
    keep = sorted(n for n in os.listdir(os.path.join(root, "manifests"))
                  if n.endswith(".json"))[-2:]
    sids = [int(n[1:9]) for n in keep]

    def snapshot_rows():
        return [sorted(map(tuple, sink.read(as_of_snapshot=s).collect())) for s in sids]

    def dead_bucket_dirs(in_live_dirs=False):
        live = set()
        for s in sids:
            man = sink.manifest_at(s)
            live |= set(man["buckets"].values())
            live |= {r for chain in man["deltas"].values() for r in chain}
        live_dirs = {r.split("/")[1] for r in live}
        return {
            f"snapshots/{d}/{b}"
            for d in os.listdir(os.path.join(root, "snapshots"))
            if d in live_dirs or not in_live_dirs
            for b in _bucket_dirs(os.path.join(root, "snapshots", d))
        } - live

    rows = snapshot_rows()
    # e.g. bucket 1's delta in s2, retired when bucket 1 folded in s3,
    # beside bucket 0's live base
    assert "snapshots/s00000002/data/_bucket=1" in dead_bucket_dirs(in_live_dirs=True)
    sink.expire_snapshots(keep_manifests=2)
    assert dead_bucket_dirs() == set()
    assert snapshot_rows() == rows
    assert_state_equals_oracle(sink.read(), evs)


# -- a COW apply is the fold over the buckets it touches -----------------


def test_cow_apply_over_delta_chains_is_one_write_with_one_exchange(spark, tmp_path):
    # a MOR table with a delta chain on every bucket, reopened as COW:
    # the chains' rows join the fold raw, with no latest-wins pass of
    # their own, so a protected apply writes through one plan with one
    # Exchange (as on a plain COW table) and retires every chain
    sink = _mor(spark, tmp_path / "t", mor_compact_threshold=100)
    by_b = _keys_by_bucket(spark, sink)
    evs = []
    for b in range(3):
        evs += _batch([c for k in range(4) for c in by_b[k][2 * b:2 * b + 2]], 100 * b, "v", op="I")
        sink.apply_batch(feed_df(spark, evs[-8:]), b)
    assert {k: len(v) for k, v in sink.current_manifest()["deltas"].items()} == {
        str(k): 3 for k in range(4)
    }
    cow = SnapshotMergeSink(spark, str(tmp_path / "t"), n_buckets=4, write_mode="cow")
    upd = _batch([c for k in range(4) for c in by_b[k][:3]], 400, "new") + [ev("I", "fresh", 0, 500)]
    evs += upd
    plans, m = write_plans(
        lambda: cow.apply_batch(feed_df(spark, upd), 3, protected=("text",), collect_metrics=True)
    )
    assert len(plans) == 1
    assert plans[0].count("Exchange") == 1, plans[0]
    assert "Join" not in plans[0], plans[0]
    assert cow.current_manifest()["deltas"] == {}
    assert (m.inserted, m.updated, m.deleted) == (1, 12, 0)
    # the history before the protected batch inserts distinct keys only,
    # so the oracle may apply ``protected`` to all of it
    assert_state_equals_oracle(cow.read(), evs, protected=("text",))


def _cow_over_chain(spark, path, base, delta):
    """(A COW sink, the events it holds) over one bucket: a base built
    from event ``base`` and filler keys, then a one-delta chain holding
    event ``delta``.  The base file is the larger, and Spark lists a
    scan's files largest first, so the older stored row reaches the
    reduce first."""
    fill = [ev("I", f"f{i}", 0, 100 + i) for i in range(32)]
    sink = SnapshotMergeSink(
        spark, str(path), n_buckets=1, write_mode="mor", mor_compact_threshold=100
    )
    sink.apply_batch(feed_df(spark, [base, *fill]), 0)
    sink.compact()
    sink.apply_batch(feed_df(spark, [delta]), 1)
    man = sink.current_manifest()
    assert len(man["buckets"]) == 1 and len(man["deltas"]["0"]) == 1
    return SnapshotMergeSink(spark, str(path), write_mode="cow"), [base, *fill, delta]


def test_cow_pre_image_is_the_newest_stored_row_of_a_chain(spark, tmp_path):
    # stored rows reach the COW fold raw, base and chain: the pre-image
    # and the live flag are the NEWEST stored row's, not any stored row's
    # live base → tombstone delta: a re-insert is an insert
    cow, evs = _cow_over_chain(
        spark, tmp_path / "a", ev("I", "c1", 0, 1, text="orig"), ev("D", "c1", 0, 2)
    )
    evs.append(ev("I", "c1", 0, 3, text="again"))
    m = cow.apply_batch(feed_df(spark, evs[-1:]), 2, collect_metrics=True)
    assert (m.inserted, m.updated, m.deleted) == (1, 0, 0)
    assert_state_equals_oracle(cow.read(), evs)

    # tool NULL in the base → "x" in the delta: update_only_nulls keeps
    # "x".  The delta repeats the base's other values, so a plain and an
    # update_only_nulls apply of it agree and the oracle may use the mode
    # throughout
    base = ev("I", "c1", 0, 1, text="t")
    cow, evs = _cow_over_chain(
        spark, tmp_path / "b", base, {**ev("U", "c1", 0, 2, text="t", tool="x"), "ts": base["ts"]}
    )
    evs.append(ev("U", "c1", 0, 3, text="t2", tool="y"))
    m = cow.apply_batch(feed_df(spark, evs[-1:]), 2, update_only_nulls=True, collect_metrics=True)
    assert (m.inserted, m.updated) == (0, 1)
    assert cow.read_keys([("c1", 0)]).first()["tool"] == "x"
    assert_state_equals_oracle(cow.read(), evs, update_only_nulls=True)
