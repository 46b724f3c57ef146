"""Property-based replay testing: random change feeds, random batch
splits and out-of-order timestamps — the engine's final table must
always equal the single-threaded pandas reference applier (SURVEY.md §5:
the reference asserts final-table state after upsert sequences; we
generalize it with hypothesis)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from chomper_spark.operators.merge import SnapshotMergeSink
from tests.helpers import assert_state_equals_oracle, ev, feed_df

_event = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.sampled_from(["c0", "c1", "c2"]),
    st.integers(min_value=0, max_value=2),   # turn_idx
    st.integers(min_value=0, max_value=40),  # op_ts seconds (dupes allowed)
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(_event, min_size=1, max_size=24),
    n_batches=st.integers(min_value=1, max_value=3),
)
def test_random_replay_matches_reference(spark, tmp_path_factory, events, n_batches):
    # batch_seq = arrival order (unique, the binlog tiebreaker);
    # op_ts drawn independently → out-of-order arrivals are common.
    evs = [
        ev(op, conv, turn, seq, secs=ts, text=f"t{seq}")
        for seq, (op, conv, turn, ts) in enumerate(events)
    ]
    root = str(tmp_path_factory.mktemp("prop") / "table")
    sink = SnapshotMergeSink(spark, root, n_buckets=4)
    for b in range(n_batches):
        chunk = evs[b::n_batches]  # interleaved split → late events cross batches
        if chunk:
            sink.apply_batch(feed_df(spark, chunk), batch_id=b)
    assert_state_equals_oracle(sink.read(), evs)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(_event, min_size=1, max_size=24),
    n_batches=st.integers(min_value=1, max_value=3),
    layouts=st.lists(
        st.sampled_from(["bucketed", "single"]), min_size=3, max_size=3
    ),
)
def test_random_replay_mor_matches_reference(
    spark, tmp_path_factory, events, n_batches, layouts
):
    # the merge-on-read sink must satisfy the SAME oracle on the same
    # random feeds — base∪deltas reduce ≡ the COW table at every point,
    # with per-batch delta layouts (bucketed / shared single-file)
    # chosen at random and interleaved
    evs = [
        ev(op, conv, turn, seq, secs=ts, text=f"t{seq}")
        for seq, (op, conv, turn, ts) in enumerate(events)
    ]
    root = str(tmp_path_factory.mktemp("propm") / "table")
    sink = SnapshotMergeSink(spark, root, n_buckets=4, write_mode="mor",
                             mor_compact_threshold=2)  # force compaction paths
    for b in range(n_batches):
        chunk = evs[b::n_batches]
        if chunk:
            sink.apply_batch(feed_df(spark, chunk), batch_id=b,
                             delta_layout=layouts[b])
    assert_state_equals_oracle(sink.read(), evs)


_PATHS = [
    "a", "s.x", "s.y", "s.inner.z", "arr[0].v", "arr[1].v", "arr[2].v"
]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    path=st.sampled_from(_PATHS),
    value=st.integers(min_value=-100, max_value=100),
    null_struct=st.booleans(),
    arr_len=st.integers(min_value=0, max_value=3),
)
def test_nested_path_set_get_roundtrip(spark, path, value, null_struct, arr_len):
    # path_set/path_get laws (chomper/utils.py:100-122): after set, get
    # returns the value iff every parent exists; otherwise the row is
    # untouched (silent no-op) — for ALL paths, values and null shapes.
    from pyspark.sql import functions as F

    from chomper_spark.operators import fields as fp
    from chomper_spark.operators.transforms import pipe

    row_df = spark.range(1).select(
        F.lit(7).alias("a"),
        (
            F.lit(None).cast("struct<x:int,y:int,inner:struct<z:int>>")
            if null_struct
            else F.named_struct(
                F.lit("x"), F.lit(1), F.lit("y"), F.lit(2),
                F.lit("inner"), F.named_struct(F.lit("z"), F.lit(3)),
            ).cast("struct<x:int,y:int,inner:struct<z:int>>")
        ).alias("s"),
        F.slice(
            F.array(*[F.struct(F.lit(i).alias("v")) for i in range(3)]), 1, arr_len
        ).alias("arr"),
    )
    before = row_df.collect()[0]
    out = pipe(row_df, fp.set_path(path, value)).collect()[0]
    got = pipe(row_df, fp.set_path(path, value)).select(
        fp.get_path(path).alias("g")
    ).collect()[0]["g"]

    keys = fp.parse_path(path)
    if keys[0] == "a":
        parents_ok = True
    elif keys[0] == "s":
        parents_ok = not null_struct
    else:  # arr[i].v
        parents_ok = keys[1] < arr_len
    if parents_ok:
        assert got == value
    else:
        # untouched: whole row equals the original
        assert out == before


_lifecycle_op = st.one_of(
    st.tuples(
        st.just("apply"), st.lists(_event, min_size=1, max_size=6), st.booleans()
    ),
    st.tuples(
        st.just("evolve"), st.lists(_event, min_size=1, max_size=4), st.booleans()
    ),
    st.tuples(st.just("truncate"), st.none(), st.booleans()),
    st.tuples(st.just("compact"), st.none(), st.booleans()),
    st.tuples(st.just("expire"), st.none(), st.booleans()),
    st.tuples(st.just("reopen"), st.none(), st.booleans()),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(_lifecycle_op, min_size=3, max_size=8),
    mode=st.sampled_from(["cow", "mor"]),
)
def test_random_table_lifecycle_matches_model(spark, tmp_path_factory, ops, mode):
    # model-based lifecycle check for the round-4 manifest machinery:
    # random interleavings of apply / replayed-apply / truncate /
    # compact / expire_snapshots / reopen (fresh sink = fresh fold
    # cache, folding the delta chain from disk) must always read back
    # as the reference latest-wins state of the events visible since
    # the last truncate, with replayed batch ids ledger-skipped.
    root = str(tmp_path_factory.mktemp("life") / "table")
    sink = SnapshotMergeSink(spark, root, n_buckets=4, write_mode=mode)
    model_events: list = []  # events visible since the last truncate
    applied_ids: list = []
    next_id, seq = 0, 0
    for kind, payload, flag in ops:
        if kind in ("apply", "evolve"):
            evs = [
                ev(op, conv, turn, seq + i, secs=ts, text=f"t{seq + i}")
                for i, (op, conv, turn, ts) in enumerate(payload)
            ]
            seq += len(payload)
            batch = feed_df(spark, evs)
            if kind == "evolve":
                # schema evolution mid-stream: the batch carries an
                # extra column (metadata-only commit); the model's
                # events carry the same value — non-evolved events
                # after it overwrite extra with NULL (full-row image)
                from pyspark.sql import functions as F

                val = f"x{next_id}"
                batch = batch.withColumn("extra", F.lit(val))
                evs = [dict(e, extra=val) for e in evs]
            if flag and applied_ids:
                # replay of an already-committed id: ledger must skip
                m = sink.apply_batch(batch, applied_ids[0])
                assert m.skipped
            else:
                sink.apply_batch(batch, next_id)
                applied_ids.append(next_id)
                next_id += 1
                model_events.extend(evs)
        elif kind == "truncate":
            sink.truncate()
            model_events = []
        elif kind == "compact":
            sink.compact(upgrade_schema=flag)
        elif kind == "expire":
            sink.expire_snapshots(keep_manifests=2)
        elif kind == "reopen":
            sink = SnapshotMergeSink(spark, root, n_buckets=4, write_mode=mode)
    out = sink.read()
    if model_events:
        assert_state_equals_oracle(out, model_events)
    else:
        assert out is None or out.count() == 0


_mops = st.lists(
    st.one_of(
        # delta commit touching a random bucket set
        st.tuples(st.just("delta"),
                  st.sets(st.integers(min_value=0, max_value=4999),
                          min_size=1, max_size=5)),
        # forced checkpoint (maintenance-style, touched subset known)
        st.tuples(st.just("ckpt"),
                  st.sets(st.integers(min_value=0, max_value=4999),
                          min_size=0, max_size=5)),
        # bucket removals (compaction emptying buckets)
        st.tuples(st.just("remove"),
                  st.sets(st.integers(min_value=0, max_value=4999),
                          min_size=1, max_size=3)),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(ops=_mops)
def test_manifest_fold_matches_model_under_random_commits(
    spark, tmp_path_factory, ops
):
    # model-based check of the MANIFEST layer alone (no Spark jobs):
    # random interleavings of delta commits, forced sharded checkpoints
    # and bucket removals on a WIDE (5000-bucket) table must always
    # fold — from disk, in a fresh sink — to the same bucket map a
    # plain dict model maintains, with the ledger watermark advancing
    # contiguously.  Exercises delta folding, shard write/reuse/GC
    # linkage, dirty-bucket tracking and the periodic checkpoint path
    # together.
    import json

    root = str(tmp_path_factory.mktemp("mprop") / "t")
    sink = SnapshotMergeSink(spark, root, n_buckets=5000,
                             key_cols=["conv_id", "turn_idx"])
    schema_json = json.dumps({"type": "struct", "fields": []})
    model: dict[str, str] = {}
    man = None
    for i, (kind, buckets) in enumerate(ops):
        sid = (man["snapshot_id"] + 1) if man else 0
        new_buckets = dict(model)
        delta_doc = {"bucket_updates": {}, "bucket_removals": [],
                     "changes_updates": {}}
        if kind in ("delta", "ckpt"):
            for b in buckets:
                rel = f"snapshots/s{sid:08d}/data/_bucket={b}"
                new_buckets[str(b)] = rel
                delta_doc["bucket_updates"][str(b)] = rel
        else:
            for b in buckets:
                if new_buckets.pop(str(b), None) is not None:
                    delta_doc["bucket_removals"].append(str(b))
        new_full = {
            "snapshot_id": sid, "batch_watermark": i, "recent_batches": [],
            "buckets": new_buckets, "deltas": {}, "changes": {},
            "schema": schema_json,
            "schema_history": [{"from_snapshot": 0, "schema": schema_json}],
            "key_cols": sink.key_cols, "bucket_cols": sink.bucket_cols,
            "n_buckets": 5000,
        }
        if kind == "ckpt":
            sink._commit(new_full, parent=man,
                         touched_keys=set(delta_doc["bucket_updates"]))
        else:
            sink._commit(new_full, parent=man, delta_doc=delta_doc)
        model = new_buckets
        man = sink.current_manifest()
        assert man["buckets"] == model
        assert man["batch_watermark"] == i
    # a FRESH sink folding purely from disk agrees
    fresh = SnapshotMergeSink(spark, root)
    m2 = fresh.current_manifest()
    assert m2["buckets"] == model
    assert m2["batch_watermark"] == len(ops) - 1
