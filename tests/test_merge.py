"""MERGE apply engine vs the pandas reference applier.

Mirrors the reference's upsert state-machine suite
(tests/test_sql.py:99-210): row counts after mixed update/insert,
no-overwrite-nulls-only, protected columns, listener firing — plus the
north rule's deletes, out-of-order events, and idempotent replay.
"""

from __future__ import annotations

import pandas as pd
import pytest

from chomper_spark.operators.merge import SnapshotMergeSink
from tests.helpers import (
    assert_state_equals_oracle, committed_batches, ev, feed_df, jobs_and_result,
)


def test_single_batch_upsert_matches_oracle(spark, tmp_table):
    events = [
        ev("I", "c1", 0, 1),
        ev("I", "c1", 1, 2),
        ev("U", "c1", 0, 3, text="updated"),
        ev("I", "c2", 0, 4, tool="browser"),
        ev("D", "c1", 1, 5),
        ev("U", "c3", 0, 6),  # update-on-missing → insert (upsert)
    ]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4)
    m = sink.apply_batch(feed_df(spark, events), batch_id=0)
    assert m.events_in == 6 and m.merge_rows == 4 and m.dedup_drops == 2
    assert m.inserted == 3  # c1/0 (latest U image), c2/0, c3/0
    assert_state_equals_oracle(sink.read(), events)


def test_multi_batch_with_cross_batch_out_of_order(spark, tmp_table):
    # batch 0 applies seq 10; batch 1 carries an OLDER event (seq 5)
    # for the same key — must NOT overwrite.
    b0 = [ev("I", "c1", 0, 10, text="newer")]
    b1 = [ev("U", "c1", 0, 5, text="stale"), ev("I", "c2", 0, 6)]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4)
    sink.apply_batch(feed_df(spark, b0), 0)
    sink.apply_batch(feed_df(spark, b1), 1)
    assert_state_equals_oracle(sink.read(), b0 + b1)
    texts = {r["conv_id"]: r["text"] for r in sink.read().collect()}
    assert texts["c1"] == "newer"


def test_delete_tombstone_blocks_late_event(spark, tmp_table):
    b0 = [ev("I", "c1", 0, 1), ev("D", "c1", 0, 9)]
    b1 = [ev("U", "c1", 0, 5, text="late, pre-delete")]  # older than the D
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, b0), 0)
    sink.apply_batch(feed_df(spark, b1), 1)
    assert sink.read().count() == 0
    assert_state_equals_oracle(sink.read(), b0 + b1)


def test_reinsert_after_delete(spark, tmp_table):
    b0 = [ev("I", "c1", 0, 1), ev("D", "c1", 0, 2)]
    b1 = [ev("I", "c1", 0, 3, text="resurrected")]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, b0), 0)
    sink.apply_batch(feed_df(spark, b1), 1)
    rows = sink.read().collect()
    assert len(rows) == 1 and rows[0]["text"] == "resurrected"
    assert_state_equals_oracle(sink.read(), b0 + b1)


def test_idempotent_replay_same_batch_id_skipped(spark, tmp_table):
    events = [ev("I", "c1", 0, 1), ev("U", "c1", 0, 2)]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    m0 = sink.apply_batch(feed_df(spark, events), 0)
    m1 = sink.apply_batch(feed_df(spark, events), 0)  # replay
    assert not m0.skipped and m1.skipped
    assert sink.read().count() == 1
    assert_state_equals_oracle(sink.read(), events)


def test_replay_with_new_batch_id_still_converges(spark, tmp_table):
    # even if the ledger is bypassed (new batch id, same events), the
    # latest-wins merge is idempotent.
    events = [ev("I", "c1", 0, 1), ev("D", "c2", 0, 2), ev("I", "c3", 3, 3)]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, events), 0)
    before = sink.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    sink.apply_batch(feed_df(spark, events), 1)
    after = sink.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


def test_update_only_nulls_mode(spark, tmp_table):
    # E9 .overwrite(False): matched rows only fill target-NULL columns
    # (reference tests/test_sql.py:167-175).
    b0 = [ev("I", "c1", 0, 1, tool=None, text="orig")]
    b1 = [ev("U", "c1", 0, 2, tool="browser", text="SHOULD NOT WIN")]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, b0), 0)
    sink.apply_batch(feed_df(spark, b1), 1, update_only_nulls=True)
    row = sink.read().collect()[0]
    assert row["text"] == "orig" and row["tool"] == "browser"
    assert_state_equals_oracle(sink.read(), b0 + b1, update_only_nulls=True)


def test_update_only_missing_not_inserted(spark, tmp_table):
    # E3 Updater: no insert-if-missing (chomper/contrib/postgres.py:184-259).
    b0 = [ev("I", "c1", 0, 1)]
    b1 = [ev("U", "c1", 0, 2, text="upd"), ev("U", "c9", 0, 3)]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, b0), 0)
    sink.apply_batch(feed_df(spark, b1), 1, insert_missing=False)
    rows = {r["conv_id"]: r for r in sink.read().collect()}
    assert set(rows) == {"c1"} and rows["c1"]["text"] == "upd"


def test_protected_columns_never_updated(spark, tmp_table):
    # E11 protected columns (chomper/contrib/sql/exporters.py:50-54).
    b0 = [ev("I", "c1", 0, 1, role="user")]
    b1 = [ev("U", "c1", 0, 2, role="assistant", text="upd")]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, b0), 0)
    sink.apply_batch(feed_df(spark, b1), 1, protected=("role",))
    row = sink.read().collect()[0]
    assert row["role"] == "user" and row["text"] == "upd"
    assert_state_equals_oracle(sink.read(), b0 + b1, protected=("role",))


def test_protected_column_does_not_survive_delete(spark, tmp_table):
    # a tombstone protects nothing: I, D, I as three batches must end
    # with the re-inserted value, as the oracle does
    batches = [
        [ev("I", "c1", 0, 1, text="orig")],
        [ev("D", "c1", 0, 2)],
        [ev("I", "c1", 0, 3, text="reinserted")],
    ]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    for i, b in enumerate(batches):
        sink.apply_batch(feed_df(spark, b), i, protected=("text",))
    assert [r["text"] for r in sink.read().collect()] == ["reinserted"]
    assert_state_equals_oracle(sink.read(), sum(batches, []), protected=("text",))


def test_change_listener_counts(spark, tmp_table):
    # E6 on_insert/on_update/on_<field>_change as per-batch counts
    # (chomper/contrib/postgres.py:395-444; tests/test_sql.py:177-210).
    b0 = [ev("I", "c1", 0, 1, text="a"), ev("I", "c2", 0, 2, text="b")]
    b1 = [
        ev("U", "c1", 0, 3, text="a2"),      # text changes
        ev("U", "c2", 0, 4, text="b"),       # no-op update: text unchanged
        ev("I", "c3", 0, 5),                  # insert
        ev("D", "c2", 0, 6),                  # wait — dedup keeps only latest per key
    ]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, b0), 0)
    m = sink.apply_batch(feed_df(spark, b1), 1, listen_fields=("text", "role"))
    # c2's latest event is the D, so the U never lands: 1 update, 1 insert, 1 delete
    assert (m.inserted, m.updated, m.deleted) == (1, 1, 1)
    assert m.field_changes == {"text": 1, "role": 0}
    assert_state_equals_oracle(sink.read(), b0 + b1)


def test_untouched_buckets_carried_forward(spark, tmp_table):
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=16)
    b0 = [ev("I", f"c{i}", 0, i) for i in range(1, 33)]
    sink.apply_batch(feed_df(spark, b0), 0)
    man0 = sink.current_manifest()
    b1 = [ev("U", "c1", 0, 100, text="only one key")]
    m = sink.apply_batch(feed_df(spark, b1), 1)
    man1 = sink.current_manifest()
    assert m.buckets_touched == 1
    # every untouched bucket still points at the snapshot-0 files
    same = [k for k in man0["buckets"] if man0["buckets"][k] == man1["buckets"][k]]
    assert len(same) == len(man0["buckets"]) - 1
    assert_state_equals_oracle(sink.read(), b0 + b1)


def test_resume_with_fresh_sink_instance_cross_restart(spark, tmp_table):
    # "crash" between batches: all ledger/state lives on disk, so a brand
    # new sink object (≙ new driver process) must skip committed batches
    # and apply only the new one, converging to the oracle state.
    b0 = [ev("I", "c1", 0, 1), ev("I", "c2", 0, 2)]
    b1 = [ev("U", "c1", 0, 3, text="v2"), ev("D", "c2", 0, 4)]
    b2 = [ev("I", "c3", 0, 5)]
    sink1 = SnapshotMergeSink(spark, tmp_table, n_buckets=4)
    sink1.apply_batch(feed_df(spark, b0), 0)
    sink1.apply_batch(feed_df(spark, b1), 1)
    del sink1

    sink2 = SnapshotMergeSink(spark, tmp_table, n_buckets=4)
    assert committed_batches(sink2) == {0, 1}
    ms = [
        sink2.apply_batch(feed_df(spark, b), i)
        for i, b in enumerate([b0, b1, b2])
    ]
    assert [m.skipped for m in ms] == [True, True, False]
    assert_state_equals_oracle(sink2.read(), b0 + b1 + b2)


def test_empty_batch_applies_cleanly(spark, tmp_table):
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), 0)
    m = sink.apply_batch(feed_df(spark, []), 1)
    assert m.merge_rows == 0 and not m.skipped
    assert sink.read().count() == 1


def test_truncate_empties_table_and_is_replay_safe(spark, tmp_table):
    # E4/E10 Truncator: full-refresh precursor (examples/companies.py:13)
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1), ev("I", "c2", 0, 2)]), 0)
    sink.truncate(batch_id=1)
    assert sink.read().count() == 0
    assert committed_batches(sink) == {0, 1}
    snap = sink.current_manifest()["snapshot_id"]
    sink.truncate(batch_id=1)  # replayed truncation is a no-op
    assert sink.current_manifest()["snapshot_id"] == snap
    # refresh pattern: reload after truncate
    sink.apply_batch(feed_df(spark, [ev("I", "c9", 0, 9)]), 2)
    rows = sink.read().collect()
    assert len(rows) == 1 and rows[0]["conv_id"] == "c9"


def test_expire_snapshots_keeps_live_state(spark, tmp_table):
    import os

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4)
    batches = [[ev("I", f"c{i}", 0, i)] for i in range(1, 7)]
    for i, b in enumerate(batches):
        sink.apply_batch(feed_df(spark, b), i)
    n_snaps_before = len(os.listdir(os.path.join(tmp_table, "snapshots")))
    before = sorted(r["conv_id"] for r in sink.read().collect())

    stats = sink.expire_snapshots(keep_manifests=2)
    assert stats["snapshots_removed"] > 0
    # table still reads identically — carried-forward bucket dirs survive
    assert sorted(r["conv_id"] for r in sink.read().collect()) == before
    assert len(os.listdir(os.path.join(tmp_table, "snapshots"))) < n_snaps_before
    # and the sink still applies new batches afterwards
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 99, text="post-gc")]), 99)
    assert {r["text"] for r in sink.read().filter("conv_id = 'c1'").collect()} == {"post-gc"}


def test_read_plan_is_single_scan(spark, tmp_table):
    # the state read must be ONE parquet relation over many bucket dirs,
    # never a union of per-bucket scans (O(N) planning/listing per batch).
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=8)
    sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i) for i in range(20)]), 0)
    plan = sink.read()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1 and "Union" not in plan


def test_time_travel_read_reconstructs_any_snapshot(spark, tmp_table):
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1, text="v1")]), 0)     # snapshot 0
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 2, text="v2"),
                                     ev("I", "c2", 0, 3)]), 1)                # snapshot 1
    sink.apply_batch(feed_df(spark, [ev("D", "c2", 0, 4)]), 2)                # snapshot 2
    s0 = {(r["conv_id"], r["text"]) for r in sink.read(as_of_snapshot=0).collect()}
    s1 = {(r["conv_id"], r["text"]) for r in sink.read(as_of_snapshot=1).collect()}
    s2 = {(r["conv_id"], r["text"]) for r in sink.read().collect()}
    assert s0 == {("c1", "v1")}
    assert s1 == {("c1", "v2"), ("c2", "text c2/0 v3")}
    assert s2 == {("c1", "v2")}


def test_read_keys_semantics(spark, tmp_table):
    # point lookups must honor tombstones, MOR deltas, and time travel —
    # same visibility rules as the full-scan read()
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4, write_mode="mor")
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1, text="v1"),
                                     ev("I", "c2", 0, 2)]), 0)
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 3, text="v2"),
                                     ev("D", "c2", 0, 4)]), 1)
    got = {(r["conv_id"], r["text"]) for r in sink.read_keys([("c1", 0), ("c2", 0)]).collect()}
    assert got == {("c1", "v2")}  # delta-reduced latest, tombstone hidden
    old = {(r["conv_id"], r["text"])
           for r in sink.read_keys([("c1", 0), ("c2", 0)], as_of_snapshot=0).collect()}
    assert old == {("c1", "v1"), ("c2", "text c2/0 v2")}
    # a duplicated key reads its row once (semi-join, not inner join)
    assert sink.read_keys([("c1", 0), ("c1", 0)]).count() == 1
    assert sink.read_keys([("zz", 9)]).count() == 0  # absent key
    assert sink.read_keys([]).count() == 0  # empty key list
    with pytest.raises(ValueError):
        sink.read_keys([("c1",)])  # a key tuple missing a key column
    fresh = SnapshotMergeSink(spark, tmp_table + "_none")
    assert fresh.read_keys([("c1", 0)]) is None  # table never created


def test_audit_timestamps_created_survives_updated_advances(spark, tmp_table):
    # E9 .timestamps() (chomper/contrib/sql/exporters.py:110-145,
    # tests/test_sql.py:116-128): created_at fixed at insert,
    # updated_at advances on every applied change — both from the
    # batch_time parameter, never current_timestamp().
    import datetime as dt

    from chomper_spark.operators.merge import SnapshotMergeSink

    t0, t1, t2 = (dt.datetime(2026, 1, 1) + dt.timedelta(days=d) for d in range(3))
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2, audit_timestamps=True)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1), ev("I", "c2", 0, 2)]),
                     batch_id=0, batch_time=t0)
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 3, text="v2")]),
                     batch_id=1, batch_time=t1)
    # stale event (older than applied state) must NOT advance updated_at
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 0, secs=0, text="stale")]),
                     batch_id=2, batch_time=t2)
    rows = {r["conv_id"]: r for r in sink.read().collect()}
    assert rows["c1"]["created_at"] == t0 and rows["c1"]["updated_at"] == t1
    assert rows["c2"]["created_at"] == t0 and rows["c2"]["updated_at"] == t0
    assert rows["c1"]["text"] == "v2"
    # resurrect keeps the original created_at (tombstone preserves it)
    sink.apply_batch(feed_df(spark, [ev("D", "c2", 0, 10)]), batch_id=3, batch_time=t1)
    sink.apply_batch(feed_df(spark, [ev("I", "c2", 0, 11)]), batch_id=4, batch_time=t2)
    r = sink.read().filter("conv_id = 'c2'").collect()[0]
    assert r["created_at"] == t0 and r["updated_at"] == t2


def test_audit_timestamps_requires_batch_time_and_cow(spark, tmp_table):
    import pytest as _pytest

    from chomper_spark.operators.merge import SnapshotMergeSink

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2, audit_timestamps=True)
    with _pytest.raises(ValueError, match="batch_time"):
        sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), batch_id=0)
    sink_mor = SnapshotMergeSink(
        spark, tmp_table + "_m", n_buckets=2, write_mode="mor", audit_timestamps=True
    )
    with _pytest.raises(ValueError, match="cow"):
        sink_mor.apply_batch(
            feed_df(spark, [ev("I", "c1", 0, 1)]), batch_id=0,
            batch_time=__import__("datetime").datetime(2026, 1, 1),
        )


def test_change_rows_emitted_per_field(spark, tmp_table):
    # full E6 (chomper/contrib/sql/exporters.py:304-333,
    # tests/test_sql.py:195-210): per-field change ROWS with pre/post
    # values, not just counts.
    from chomper_spark.operators.merge import SnapshotMergeSink

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    kw = dict(listen_fields=("text", "role"), emit_change_rows=True)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1, text="a", role="user")]),
                     batch_id=0, **kw)
    sink.apply_batch(
        feed_df(spark, [ev("U", "c1", 0, 2, text="b", role="user"),
                        ev("I", "c2", 0, 3, text="x")]),
        batch_id=1, **kw)
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 4, text="b", role="tool")]),
                     batch_id=2, **kw)
    changes = sink.read_changes().collect()
    got = {(r["batch_id"], r["conv_id"], r["field"]): (r["old_value"], r["new_value"])
           for r in changes}
    # batch 0: pure insert → no change rows; batch 1: text a→b only
    # (role unchanged emits nothing); batch 2: role change only
    assert got == {
        (1, "c1", "text"): ("a", "b"),
        (2, "c1", "role"): ("user", "tool"),
    }
    # replaying a batch must not duplicate its change rows
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 4, text="zzz")]), batch_id=2, **kw)
    assert sink.read_changes().count() == 2


def test_collect_metrics_adds_no_extra_jobs(spark, tmp_table):
    # the observe() rework: metrics ride the existing merge jobs —
    # MOR and COW batch applies launch the SAME number of Spark jobs
    # with metrics on and off.
    from chomper_spark.operators.merge import SnapshotMergeSink

    events = [ev("I", f"c{i}", i % 4, i) for i in range(64)]
    for mode in ("mor", "cow"):
        counts = {}
        for metrics_on in (False, True):
            root = f"{tmp_table}_{mode}_{metrics_on}"
            sink = SnapshotMergeSink(spark, root, n_buckets=4, write_mode=mode)
            sink.apply_batch(feed_df(spark, events), batch_id=0,
                             collect_metrics=metrics_on)
            counts[metrics_on], _ = jobs_and_result(
                spark,
                lambda: sink.apply_batch(
                    feed_df(spark, [ev("U", "c1", 1, 100 + i) for i in range(8)]),
                    batch_id=1, collect_metrics=metrics_on,
                ),
            )
        assert counts[True] == counts[False], (mode, counts)


def test_point_lookup_job_count(spark, tmp_table):
    # the key list is a driver-local relation: building the lookup
    # runs no Spark job (bucket ids fold on the driver), and reading one
    # key costs the scan's jobs only
    events = [ev("I", f"c{i}", 0, i) for i in range(32)]
    for mode, max_jobs in (("cow", 2), ("mor", 3)):
        sink = SnapshotMergeSink(spark, f"{tmp_table}_{mode}", n_buckets=4, write_mode=mode)
        sink.apply_batch(feed_df(spark, events), batch_id=0)
        sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 100)]), batch_id=1)
        n, lookup = jobs_and_result(spark, lambda: sink.read_keys([("c1", 0)]))
        assert n == 0, mode
        n, rows = jobs_and_result(spark, lookup.collect)
        assert n <= max_jobs, (mode, n)
        assert [(r["conv_id"], r["text"]) for r in rows] == [("c1", "text c1/0 v100")]


def test_cow_apply_matches_oracle_with_metrics_on_and_off(spark, tmp_table):
    # the one COW plan (union + latest-wins reduce) must land the oracle
    # state with metrics on and off, across batches exercising inserts,
    # updates, deletes, intra-batch dupes, out-of-order events, and
    # upsert-on-missing.
    batches = [
        [ev("I", "c1", 0, 1), ev("I", "c1", 1, 2), ev("U", "c1", 0, 3, text="dup"),
         ev("U", "c1", 0, 4, text="dup2"), ev("I", "c2", 0, 5)],
        [ev("D", "c1", 1, 6), ev("U", "c3", 2, 7), ev("U", "c2", 0, 8, text="upd")],
        # late event: older op_ts than the applied state → must lose
        [ev("U", "c1", 0, 9, secs=2, text="stale"), ev("I", "c1", 1, 10)],
    ]
    for metrics_on in (False, True):
        sink = SnapshotMergeSink(spark, f"{tmp_table}_{metrics_on}", n_buckets=4)
        for b, events in enumerate(batches):
            sink.apply_batch(feed_df(spark, events), batch_id=b, collect_metrics=metrics_on)
        assert_state_equals_oracle(sink.read(), sum(batches, []))


def test_cow_write_plan_single_exchange_no_join_every_mode(spark, tmp_table):
    # every COW mode, metrics on, writes through ONE plan: one exchange
    # (on _bucket) and no join — captured by hooking the parquet writer.
    import datetime as dt

    from pyspark.sql.readwriter import DataFrameWriter

    first = [ev("I", f"c{i}", i % 4, i) for i in range(32)]
    modes = [
        {},
        {"protected": ("role",)},
        {"update_only_nulls": True},
        {"insert_missing": False},
        {"listen_fields": ("text",)},
    ]
    plain = SnapshotMergeSink(spark, tmp_table, n_buckets=4)
    plain.apply_batch(feed_df(spark, first), batch_id=0)
    audit = SnapshotMergeSink(spark, tmp_table + "_audit", n_buckets=4, audit_timestamps=True)
    t0 = dt.datetime(2026, 1, 1)
    audit.apply_batch(feed_df(spark, first), batch_id=0, batch_time=t0)
    applies = [(plain, b, kw) for b, kw in enumerate(modes, start=1)]
    applies.append((audit, 1, {"batch_time": t0}))
    orig = DataFrameWriter.parquet
    for sink, b, kw in applies:
        plans: list[str] = []

        def hooked(self, path, **pkw):
            plans.append(self._df._jdf.queryExecution().executedPlan().toString())
            return orig(self, path, **pkw)

        DataFrameWriter.parquet = hooked
        try:
            sink.apply_batch(
                feed_df(spark, [ev("U", f"c{i}", i % 4, 100 * b + i) for i in range(16)]),
                batch_id=b, collect_metrics=True, **kw,
            )
        finally:
            DataFrameWriter.parquet = orig
        assert len(plans) == 1, kw
        assert plans[0].count("Exchange") == 1, (kw, plans[0])
        assert "Join" not in plans[0], (kw, plans[0])


def test_insert_missing_false_does_not_revive_deleted_key(spark, tmp_table):
    # E3 Updater: a tombstone is not a live row to update — I, D, then
    # U with insert_missing=False as three batches ends empty, as the
    # oracle does, and reports no insert
    batches = [
        [ev("I", "c1", 0, 1, text="orig")],
        [ev("D", "c1", 0, 2)],
        [ev("U", "c1", 0, 3, text="upd")],
    ]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, batches[0]), 0)
    sink.apply_batch(feed_df(spark, batches[1]), 1)
    m = sink.apply_batch(feed_df(spark, batches[2]), 2, insert_missing=False)
    assert sink.read().count() == 0
    assert (m.inserted, m.updated, m.deleted) == (0, 0, 0)
    assert_state_equals_oracle(sink.read(), sum(batches, []), insert_missing=False)
    # the tombstone survives: a late pre-delete event still cannot land
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 0, secs=1, text="late")]), 3)
    assert sink.read().count() == 0


def test_batch_changed_between_passes_is_refused(spark, tmp_table, monkeypatch):
    # the stats pass and the write each evaluate the batch: a bucket the
    # stats pass missed had no target rows read, so the apply must fail
    # before its commit instead of dropping that bucket's state
    first = [ev("I", f"c{i}", 0, i) for i in range(16)]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4)
    sink.apply_batch(feed_df(spark, first), 0)
    stats = sink._bucket_stats
    monkeypatch.setattr(sink, "_bucket_stats", lambda df: stats(df)[1:])
    with pytest.raises(RuntimeError, match="changed between"):
        sink.apply_batch(feed_df(spark, [ev("U", f"c{i}", 0, 100 + i) for i in range(16)]), 1)
    assert committed_batches(sink) == {0}
    assert_state_equals_oracle(sink.read(), first)


def test_metrics_values_unchanged_by_observe_rework(spark, tmp_table):
    from chomper_spark.operators.merge import SnapshotMergeSink

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    m0 = sink.apply_batch(
        feed_df(spark, [ev("I", "c1", 0, 1), ev("I", "c1", 0, 2), ev("I", "c2", 0, 3)]),
        batch_id=0)
    assert (m0.events_in, m0.merge_rows, m0.dedup_drops, m0.inserted) == (3, 2, 1, 2)
    m1 = sink.apply_batch(
        feed_df(spark, [ev("U", "c1", 0, 4, text="new"), ev("D", "c2", 0, 5)]),
        batch_id=1, listen_fields=("text",))
    assert (m1.events_in, m1.updated, m1.deleted) == (2, 1, 1)
    assert m1.field_changes == {"text": 1}


def test_crashed_commit_leftovers_do_not_break_gc_or_reads(spark, tmp_table):
    # simulate a crash mid-_commit: an orphan snapshot data dir (written
    # but never referenced — _CURRENT was never flipped) plus a half-
    # written m*.json.tmp manifest.  Reads ignore them (only _CURRENT
    # matters), expire_snapshots must neither let the .tmp consume a
    # retention slot nor crash parsing it, and the orphan dir is GC'd.
    import json
    import os

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    for i in range(1, 5):
        sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i)]), batch_id=i)
    before = sorted(r["conv_id"] for r in sink.read().collect())

    # crash debris; the high-id orphan dir is backdated past the GC age
    # guard (a FRESH high-id dir is protected as a possible live
    # writer's claim — see expire_snapshots)
    orphan = os.path.join(tmp_table, "snapshots", "s00000099", "data")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as fh:
        fh.write("not parquet")
    os.utime(os.path.join(tmp_table, "snapshots", "s00000099"), (1, 1))
    with open(os.path.join(tmp_table, "manifests", "m00000099.json.tmp"), "w") as fh:
        fh.write('{"snapshot_id": 99, "committed')  # truncated JSON

    assert sorted(r["conv_id"] for r in sink.read().collect()) == before
    stats = sink.expire_snapshots(keep_manifests=2)
    assert not os.path.exists(os.path.join(tmp_table, "snapshots", "s00000099"))
    assert stats["snapshots_removed"] >= 1
    assert sorted(r["conv_id"] for r in sink.read().collect()) == before
    # ledger intact: replays still skip, new batches still apply
    assert sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), batch_id=1).skipped
    sink.apply_batch(feed_df(spark, [ev("I", "c9", 0, 9)]), batch_id=9)
    assert "c9" in {r["conv_id"] for r in sink.read().collect()}


def test_audit_timestamps_compose_with_update_only_nulls(spark, tmp_table):
    # E9 .overwrite(False) + .timestamps() together: a matched row only
    # fills NULL columns, but updated_at still advances (an UPDATE ran)
    import datetime as dt

    t0, t1 = dt.datetime(2026, 1, 1), dt.datetime(2026, 1, 2)
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2, audit_timestamps=True)
    sink.apply_batch(
        feed_df(spark, [ev("I", "c1", 0, 1, text="keep", tool=None)]),
        batch_id=0, batch_time=t0)
    sink.apply_batch(
        feed_df(spark, [ev("U", "c1", 0, 2, text="clobber", tool="browser")]),
        batch_id=1, batch_time=t1, update_only_nulls=True)
    r = sink.read().collect()[0]
    assert r["text"] == "keep" and r["tool"] == "browser"  # only NULL filled
    assert r["created_at"] == t0 and r["updated_at"] == t1


def test_user_created_at_column_not_swallowed_by_plain_sink(spark, tmp_table):
    # a NON-audit sink must treat payload columns that merely share the
    # audit names (created_at/updated_at are common in source tables)
    # as ordinary user data
    import datetime as dt

    from chomper_spark.schema import CHANGE_EVENT
    from pyspark.sql import types as T

    schema = T.StructType(
        CHANGE_EVENT.fields + [T.StructField("created_at", T.TimestampType(), True)]
    )
    ts = dt.datetime(2020, 5, 5)
    rows = [{**ev("I", "c1", 0, 1), "created_at": ts}]
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(spark.createDataFrame(rows, schema=schema), batch_id=0)
    out = sink.read().collect()[0]
    assert out["created_at"] == ts  # user column survived


def test_change_rows_respect_update_only_nulls_and_protected(spark, tmp_table):
    # change counts/rows must reflect what the MERGE actually WROTE:
    # update_only_nulls keeps non-NULL targets, protected never writes
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(
        feed_df(spark, [ev("I", "c1", 0, 1, text="keep", tool=None, role="user")]),
        batch_id=0)
    m = sink.apply_batch(
        feed_df(spark, [ev("U", "c1", 0, 2, text="clobber", tool="browser", role="admin")]),
        batch_id=1, update_only_nulls=True, protected=("role",),
        listen_fields=("text", "tool", "role"), emit_change_rows=True)
    # applied: text kept (non-NULL target), tool filled (was NULL), role protected
    assert m.field_changes == {"text": 0, "tool": 1, "role": 0}
    changes = sink.read_changes().collect()
    assert len(changes) == 1
    c = changes[0]
    assert (c["field"], c["old_value"], c["new_value"]) == ("tool", None, "browser")
    row = sink.read().collect()[0]
    assert row["text"] == "keep" and row["tool"] == "browser" and row["role"] == "user"


def test_changes_commit_atomic_and_truncate_clears(spark, tmp_table):
    import os

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    kw = dict(listen_fields=("text",), emit_change_rows=True)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1, text="a")]), batch_id=0, **kw)
    sink.apply_batch(feed_df(spark, [ev("U", "c1", 0, 2, text="b")]), batch_id=1, **kw)
    assert sink.read_changes().count() == 1
    # an UNREFERENCED change dir (crash before commit) must be invisible
    orphan = os.path.join(tmp_table, "changes", "batch_id=99")
    sink.read_changes().limit(1).write.mode("overwrite").parquet(orphan)
    assert sink.read_changes().count() == 1  # still only the committed row
    # truncate resets visible change history; GC removes the orphans
    sink.truncate(batch_id=50)
    assert sink.read_changes() is None
    sink.expire_snapshots(keep_manifests=1)
    assert not os.path.exists(orphan)


def test_every_commit_kind_writes_the_one_manifest_format(spark, tmp_path):
    # one commit of each kind; after each, a fresh sink folds HEAD from
    # disk to exactly the writer's cached fold, and every manifest on
    # disk carries the format's keys.  A checkpoint that lacks one is
    # refused on open with an error naming it, not folded partway.
    import json
    import os

    from pyspark.sql import functions as F

    from chomper_spark.operators.merge import _CHECKPOINT_KEYS, _HEAD_KEYS

    def public(m):
        return {k: v for k, v in m.items() if not k.startswith("_")}

    def check(sink):
        head = sink._current_name()
        assert sink._fold_cache[0] == head
        fresh = SnapshotMergeSink(spark, sink.root).current_manifest()
        assert public(fresh) == public(sink._fold_cache[1])
        mdir = os.path.join(sink.root, "manifests")
        for name in os.listdir(mdir):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as fh:
                    doc = json.load(fh)
                keys = _HEAD_KEYS if doc.get("delta") else _CHECKPOINT_KEYS
                assert set(keys) <= set(doc), (name, set(keys) - set(doc))

    cow = SnapshotMergeSink(spark, str(tmp_path / "cow"), n_buckets=4)
    chg = dict(listen_fields=("text",), emit_change_rows=True)
    cow.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i) for i in range(8)]), 0)
    check(cow)
    cow.apply_batch(feed_df(spark, [ev("U", "c1", 0, 10, text="b")]), 1, **chg)
    assert cow.read_changes().count() == 1
    check(cow)
    evolved = feed_df(spark, [ev("I", "c9", 0, 11)]).withColumn("tool_meta", F.lit("v2"))
    assert cow.apply_batch(evolved, 2).schema_added == ["tool_meta"]
    assert len(cow.current_manifest()["schema_history"]) == 2
    check(cow)
    assert cow.compact(upgrade_schema=True)["buckets_compacted"] >= 1
    check(cow)
    cow.truncate(batch_id=3)
    check(cow)
    cow.apply_batch(feed_df(spark, [ev("I", "c5", 0, 12)]), 4)
    assert cow.expire_snapshots(keep_manifests=1)["manifests_removed"] >= 1
    check(cow)  # HEAD was a delta, rewritten in place as a checkpoint

    mor = SnapshotMergeSink(
        spark, str(tmp_path / "mor"), n_buckets=4, write_mode="mor", mor_compact_threshold=2
    )
    mor.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i) for i in range(8)]), 0)
    check(mor)
    assert mor.current_manifest()["deltas"]
    mor.apply_batch(feed_df(spark, [ev("U", f"c{i}", 0, 10 + i) for i in range(8)]), 1)
    assert mor.current_manifest()["deltas"] == {}  # the apply folded every chain
    check(mor)

    head = os.path.join(cow.root, "manifests", cow._current_name())
    with open(head) as fh:
        doc = json.load(fh)
    assert not doc.get("delta")
    for key in _CHECKPOINT_KEYS:
        with open(head, "w") as fh:
            json.dump({k: v for k, v in doc.items() if k != key}, fh)
        with pytest.raises(ValueError, match=rf"{os.path.basename(head)} lacks \['{key}'\]"):
            SnapshotMergeSink(spark, cow.root)


def test_commit_metadata_bounded_by_batch_not_history(spark, tmp_table):
    # the 100x-scale liability fixed in round 4: a years-long stream
    # commits 10^5+ micro-batches, so NOTHING written per commit may
    # grow with table history.  Replay a run of tiny batches and check
    # (a) delta-manifest file size is flat (O(touched buckets), not
    # O(batches-so-far) and not O(n_buckets)), (b) the ledger stays a
    # watermark with an EMPTY out-of-order set under contiguous epochs,
    # (c) checkpoints appear every _CHECKPOINT_EVERY commits, (d) a
    # fresh sink folds the chain and replay-skip still works.
    import json
    import os

    from chomper_spark.operators.merge import _CHECKPOINT_EVERY

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=16)
    n = _CHECKPOINT_EVERY + 5  # cross a checkpoint boundary
    for i in range(n):
        sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i)]), i)

    mdir = os.path.join(tmp_table, "manifests")
    docs = {}
    for name in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, name)) as fh:
            docs[name] = (os.path.getsize(os.path.join(mdir, name)), json.load(fh))
    deltas = [(sz, d) for sz, d in docs.values() if d.get("delta")]
    fulls = [(sz, d) for sz, d in docs.values() if not d.get("delta")]
    assert len(fulls) >= 2  # the creation checkpoint + the rollover one
    assert len(deltas) >= _CHECKPOINT_EVERY
    # v2 manifests never materialize the full batch-id list
    for _, d in docs.values():
        assert "committed_batches" not in d
        assert d["recent_batches"] == []  # contiguous epochs → empty set
    # flat delta size: the LAST delta (after n-1 commits of history) is
    # no bigger than the first-ish one beyond jitter
    sizes = [sz for sz, _ in deltas]
    assert max(sizes) < min(sizes) * 1.5 + 200
    # each delta references exactly the touched bucket (1 tiny batch)
    for _, d in deltas:
        assert len(d.get("bucket_updates", {})) <= 1
    # fresh sink folds chain + ledger correctly across the checkpoint
    reopened = SnapshotMergeSink(spark, tmp_table)
    m = reopened.current_manifest()
    assert m["batch_watermark"] == n - 1 and m["recent_batches"] == []
    assert reopened.apply_batch(feed_df(spark, [ev("I", "c0", 0, 0)]), 3).skipped
    assert sorted(r["conv_id"] for r in reopened.read().collect()) == sorted(
        f"c{i}" for i in range(n)
    )


def test_ledger_watermark_handles_out_of_order_batch_ids(spark, tmp_table):
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4)
    for b in (0, 1, 5, 3):
        sink.apply_batch(feed_df(spark, [ev("I", f"k{b}", 0, b)]), b)
    m = sink.current_manifest()
    assert m["batch_watermark"] == 1 and m["recent_batches"] == [3, 5]
    assert sink.apply_batch(feed_df(spark, [ev("I", "x", 0, 9)]), 5).skipped
    # filling the gap advances the watermark through the whole prefix
    sink.apply_batch(feed_df(spark, [ev("I", "k2", 0, 2)]), 2)
    sink.apply_batch(feed_df(spark, [ev("I", "k4", 0, 4)]), 4)
    m = sink.current_manifest()
    assert m["batch_watermark"] == 5 and m["recent_batches"] == []
    assert committed_batches(sink) == {0, 1, 2, 3, 4, 5}


def test_ledger_metadata_constant_over_thousand_batches():
    # pure-metadata twin of the replay test above: 10^3 contiguous
    # commits never grow the ledger beyond the watermark int
    from chomper_spark.operators.merge import _ledger_add, _ledger_contains

    m = None
    for b in range(1000):
        wm, recent = _ledger_add(m, b)
        m = {"batch_watermark": wm, "recent_batches": recent}
    assert m == {"batch_watermark": 999, "recent_batches": []}
    assert _ledger_contains(m, 500) and not _ledger_contains(m, 1000)


def test_negative_batch_ids_rejected_not_silently_skipped(spark, tmp_table):
    # review catch: the watermark ledger would treat any id <= watermark
    # as an already-committed replay — a negative id must raise, never
    # silently drop the batch
    import pytest

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), 0)
    with pytest.raises(ValueError, match="batch_id"):
        sink.apply_batch(feed_df(spark, [ev("I", "c2", 0, 2)]), -1)
    with pytest.raises(ValueError, match="batch_id"):
        sink.truncate(batch_id=-5)


def test_expire_inplace_checkpoint_resets_chain_len_on_disk(spark, tmp_table):
    # review catch: the in-place checkpoint rewrite must not leak the
    # delta's chain_len (or delta/parent keys) into the full manifest
    import json
    import os

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4)
    for i in range(5):
        sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i)]), i)
    assert sink.current_manifest()["chain_len"] == 4
    sink.expire_snapshots(keep_manifests=2)
    name = sink._current_name()
    with open(os.path.join(tmp_table, "manifests", name)) as fh:
        doc = json.load(fh)
    assert doc["chain_len"] == 0
    assert "delta" not in doc and "parent" not in doc
    # a fresh process folds the rewritten checkpoint and keeps working
    re2 = SnapshotMergeSink(spark, tmp_table)
    assert re2.current_manifest()["chain_len"] == 0
    re2.apply_batch(feed_df(spark, [ev("I", "cX", 0, 9)]), 5)
    assert re2.read().count() == 6


def test_describe_reports_table_metadata_without_scanning(spark, tmp_table):
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4, write_mode="mor")
    assert sink.describe() == {"exists": False, "root": tmp_table}
    for i in range(3):
        sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i)]), i)
    sc = spark.sparkContext
    before = sc._jsc.sc().dagScheduler().nextJobId()
    d = sink.describe()
    # metadata only: no Spark job ran
    assert sc._jsc.sc().dagScheduler().nextJobId() == before
    assert d["exists"] and d["snapshot_id"] == 2
    assert d["batch_watermark"] == 2 and d["out_of_order_batches"] == 0
    assert d["n_buckets"] == 4 and d["key_cols"] == ["conv_id", "turn_idx"]
    assert d["delta_chains"] >= 1 and d["delta_refs"] >= 3
    assert d["schema_versions_live"] == 1
    assert "conv_id" in d["columns"] and "_op_ts" in d["columns"]


def test_crash_after_manifest_link_before_pointer_flip(spark, tmp_table):
    # the v3 crash point: since round 5 the COMMIT POINT is the atomic
    # exclusive link of the sequence-numbered manifest (the CAS); the
    # _CURRENT flip after it is only a read hint.  A crash between link
    # and flip therefore leaves a COMMITTED batch: readers probe
    # forward past the stale hint, the ledger includes the batch, and
    # a replay of it is skipped — exactly-once holds on both sides of
    # the crash point.  (A crash BEFORE the link leaves nothing: the
    # content temp is unlinked debris and the batch replays cleanly —
    # no torn state is representable because the link carries full
    # content or does not exist.)
    import os

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), 0)
    sink.apply_batch(feed_df(spark, [ev("I", "c2", 0, 2)]), 1)
    # simulate the lost pointer flip: rewind _CURRENT to the previous
    # manifest (the batch-1 commit's link survived the "crash")
    with open(os.path.join(tmp_table, "_CURRENT"), "w") as fh:
        fh.write("m00000000.json")

    fresh = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    # probe-forward finds the linked commit: batch 1 is visible...
    assert {r["conv_id"] for r in fresh.read().collect()} == {"c1", "c2"}
    assert fresh.current_manifest()["batch_watermark"] == 1
    # ...and replaying it is a ledger no-op, never a double-apply
    assert fresh.apply_batch(feed_df(spark, [ev("I", "c2", 0, 2)]), 1).skipped
    # the next real batch parents onto the probed HEAD, not the hint
    fresh.apply_batch(feed_df(spark, [ev("I", "c3", 0, 3)]), 2)
    reopened = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    assert {r["conv_id"] for r in reopened.read().collect()} == {"c1", "c2", "c3"}
    assert reopened.current_manifest()["snapshot_id"] == 2

    # a gap in manifest numbering stops the probe: a stray FUTURE
    # manifest (e.g. leftover from a host copy) cannot hijack HEAD
    with open(os.path.join(tmp_table, "manifests", "m00000009.json"), "w") as fh:
        fh.write("{}")
    assert SnapshotMergeSink(spark, tmp_table).current_manifest()["snapshot_id"] == 2
    os.remove(os.path.join(tmp_table, "manifests", "m00000009.json"))


def test_concurrent_writer_cas_apply_vs_compact(spark, tmp_table):
    # deterministic interleave of the realistic two-writer race: a
    # maintenance compact() computes against HEAD, and BEFORE its
    # commit lands a streaming apply_batch commits the same chain
    # position.  The compact must lose the CAS (never silently clobber
    # the apply), re-read the new HEAD, and re-fold — BOTH effects
    # survive.
    import types

    sinkA = SnapshotMergeSink(spark, tmp_table, n_buckets=4, write_mode="mor",
                              mor_compact_threshold=100)
    sinkB = SnapshotMergeSink(spark, tmp_table, n_buckets=4, write_mode="mor",
                              mor_compact_threshold=100)
    for i in range(3):
        sinkA.apply_batch(
            feed_df(spark, [ev("I", f"c{i}", 0, i + 1)]), batch_id=i,
            collect_metrics=False)

    conflicts = {"n": 0}
    orig = SnapshotMergeSink._write_manifest

    def racing(self, doc):
        if conflicts["n"] == 0:
            conflicts["n"] += 1
            # B sneaks in a commit at the position A is about to take
            sinkB.apply_batch(
                feed_df(spark, [ev("I", "late", 0, 99)]), batch_id=3,
                collect_metrics=False)
        return orig(self, doc)

    sinkA._write_manifest = types.MethodType(racing, sinkA)
    out = sinkA.compact()
    assert conflicts["n"] == 1  # the race really happened
    assert out["buckets_compacted"] >= 1
    # both effects survive: B's batch rows AND A's compaction
    final = SnapshotMergeSink(spark, tmp_table)
    assert {r["conv_id"] for r in final.read().collect()} == {
        "c0", "c1", "c2", "late"}
    m = final.current_manifest()
    assert m["batch_watermark"] == 3
    # the retried compact folded the chains as of the NEW head — B's
    # late batch was included in the refold or left as its own chain;
    # either way nothing references a clobbered manifest
    assert final.read().count() == 4


def test_concurrent_writer_cas_duplicate_batch_skips(spark, tmp_table):
    # two workers racing to apply the SAME batch id (at-least-once
    # delivery upstream): the loser's retry must see the winner's
    # ledger entry and skip — never a double-apply.
    import types

    sinkA = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sinkB = SnapshotMergeSink(spark, tmp_table, n_buckets=2)
    sinkA.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1)]), 0)

    fired = {"n": 0}
    orig = SnapshotMergeSink._write_manifest

    def racing(self, doc):
        if fired["n"] == 0:
            fired["n"] += 1
            sinkB.apply_batch(feed_df(spark, [ev("I", "c2", 0, 2)]), 1)
        return orig(self, doc)

    sinkA._write_manifest = types.MethodType(racing, sinkA)
    m = sinkA.apply_batch(feed_df(spark, [ev("I", "c2", 0, 2)]), 1)
    assert fired["n"] == 1
    assert m.skipped  # the retry pass ledger-checked and skipped
    final = SnapshotMergeSink(spark, tmp_table)
    assert final.read().count() == 2  # c2 applied exactly once
    assert final.current_manifest()["snapshot_id"] == 1  # no extra commit


def _manifest_bytes(root):
    import os

    total = 0
    mdir = os.path.join(root, "manifests")
    for r, _, fs in os.walk(mdir):
        for f in fs:
            total += os.path.getsize(os.path.join(r, f))
    return total


def test_wide_table_checkpoint_shards_bound_commit_bytes(spark, tmp_table):
    # the round-4 finding: every 16th commit rewrote the FULL bucket
    # map — O(table width) manifest bytes on a wide table.  Sharded
    # checkpoints must make checkpoint bytes O(touched shards): drive
    # the manifest layer directly (no Spark data needed) with a
    # 10^4-bucket table and 1-bucket batches, and assert the periodic
    # checkpoint writes a small fraction of the full map.
    import json
    import os

    n_buckets = 10_000
    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=n_buckets,
                             key_cols=["conv_id", "turn_idx"])
    schema_json = json.dumps({"type": "struct", "fields": []})
    base_full = {
        "snapshot_id": 0, "batch_watermark": 0, "recent_batches": [],
        "buckets": {str(k): f"snapshots/s00000000/data/_bucket={k}"
                    for k in range(n_buckets)},
        "deltas": {}, "changes": {},
        "schema": schema_json,
        "schema_history": [{"from_snapshot": 0, "schema": schema_json}],
        "key_cols": sink.key_cols, "bucket_cols": sink.bucket_cols,
        "n_buckets": n_buckets,
    }
    sink._commit(base_full, None)
    full_ckpt_bytes = _manifest_bytes(tmp_table)
    assert full_ckpt_bytes > 100_000  # the full map really is wide

    # 40 one-bucket delta commits -> several periodic checkpoints
    per_commit = []
    man = sink.current_manifest()
    for i in range(1, 41):
        bytes_before = _manifest_bytes(tmp_table)
        touched = str((i * 37) % n_buckets)
        buckets = dict(man["buckets"])
        buckets[touched] = f"snapshots/s{i:08d}/data/_bucket={touched}"
        new_full = {
            "snapshot_id": i, "batch_watermark": i, "recent_batches": [],
            "buckets": buckets, "deltas": dict(man["deltas"]),
            "changes": {}, "schema": schema_json,
            "schema_history": man["schema_history"],
            "key_cols": sink.key_cols, "bucket_cols": sink.bucket_cols,
            "n_buckets": n_buckets,
        }
        sink._commit(
            new_full, parent=man,
            delta_doc={"bucket_updates": {touched: buckets[touched]},
                       "delta_removals": [], "changes_updates": {}},
        )
        man = sink.current_manifest()
        per_commit.append(_manifest_bytes(tmp_table) - bytes_before)

    ckpt_commits = [b for b in per_commit if b > 3 * min(per_commit)]
    assert ckpt_commits, "expected at least one periodic checkpoint in 40 commits"
    # each periodic checkpoint writes O(touched shards + shard map),
    # a small fraction of the full O(width) map it used to write
    assert max(ckpt_commits) < full_ckpt_bytes * 0.25, (
        f"checkpoint wrote {max(ckpt_commits)} bytes vs full map "
        f"{full_ckpt_bytes} - sharding not engaged?"
    )

    # correctness: fresh sink folds the sharded chain identically
    fresh = SnapshotMergeSink(spark, tmp_table)
    m2 = fresh.current_manifest()
    assert m2["buckets"] == man["buckets"]
    assert m2["batch_watermark"] == 40
    # time travel onto a sharded checkpoint still folds
    old = fresh.manifest_at(17)
    assert len(old["buckets"]) == n_buckets


def test_wide_table_end_to_end_shard_checkpoint_reads(spark, tmp_table):
    # end-to-end at the sharding threshold: MOR single-layout keeps the
    # per-batch write to ONE file, so a 1024-bucket table is cheap to
    # drive through real applies across a checkpoint boundary; reads,
    # point lookups and time travel must all fold the sharded
    # checkpoints transparently, and GC must not break them.
    import os

    sink = SnapshotMergeSink(spark, tmp_table, n_buckets=1024,
                             write_mode="mor", mor_compact_threshold=1000)
    for i in range(18):
        sink.apply_batch(
            feed_df(spark, [ev("I", f"c{i}", 0, i + 1)]), batch_id=i,
            collect_metrics=False, delta_layout="single")
    assert os.path.isdir(os.path.join(tmp_table, "manifests", "shards"))
    fresh = SnapshotMergeSink(spark, tmp_table)
    assert fresh.read().count() == 18
    got = fresh.read_keys([("c7", 0)]).collect()
    assert len(got) == 1 and got[0]["conv_id"] == "c7"
    # time travel across the checkpoint boundary
    assert fresh.read(as_of_snapshot=10).count() == 11
    # GC keeps referenced shards; reads still work after
    fresh.expire_snapshots(keep_manifests=3)
    assert SnapshotMergeSink(spark, tmp_table).read().count() == 18


def test_threaded_apply_vs_compact_stress(spark, tmp_table):
    # non-deterministic counterpart of the CAS interleave tests: a real
    # applier thread races a real maintenance thread on the same root
    # (separate sink instances, shared SparkSession — Spark job
    # submission is thread-safe).  Whatever the interleaving, every
    # batch's effect must land exactly once and no commit may be lost.
    import threading

    errs = []

    def applier():
        try:
            sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4,
                                     write_mode="mor", mor_compact_threshold=100)
            for i in range(8):
                sink.apply_batch(
                    feed_df(spark, [ev("I", f"a{i}", 0, i + 1)]), batch_id=i,
                    collect_metrics=False)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def maintainer():
        try:
            sink = SnapshotMergeSink(spark, tmp_table, n_buckets=4,
                                     write_mode="mor", mor_compact_threshold=100)
            for _ in range(4):
                sink.compact()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    # ensure the table exists before the maintenance thread opens it
    SnapshotMergeSink(spark, tmp_table, n_buckets=4, write_mode="mor").apply_batch(
        feed_df(spark, [ev("I", "seed", 0, 1)]), batch_id=100, collect_metrics=False)
    t1, t2 = threading.Thread(target=applier), threading.Thread(target=maintainer)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    final = SnapshotMergeSink(spark, tmp_table)
    got = {r["conv_id"] for r in final.read().collect()}
    assert got == {"seed", *{f"a{i}" for i in range(8)}}
    m = final.current_manifest()
    assert m["batch_watermark"] == 7  # 0..7 contiguous
    assert 100 in committed_batches(final)
