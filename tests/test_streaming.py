"""Structured Streaming: file-tail micro-batches → MERGE, checkpoint
resume, watermark/late-data, lineage emission.

Mirrors the reference's continuous mode (poll-loop importer,
chomper/importers.py:54-62; Redis tail, chomper/contrib/redis.py:39-61)
rebuilt as readStream + foreachBatch.
"""

from __future__ import annotations

from chomper_spark.streaming import StreamingApply
from tests.helpers import assert_state_equals_oracle, ev, feed_df, jobs_and_result


def _write_chunk(spark, events, feed_dir):
    feed_df(spark, events).coalesce(1).write.mode("append").parquet(feed_dir)


def _dirs(tmp_path):
    return (
        str(tmp_path / "feed"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "lineage"),
    )


def test_stream_micro_batches_apply_and_match_oracle(spark, tmp_path):
    feed_dir, state, ckpt, lineage = _dirs(tmp_path)
    c1 = [ev("I", "c1", 0, 1), ev("I", "c2", 0, 2)]
    c2 = [ev("U", "c1", 0, 3, text="updated"), ev("D", "c2", 0, 4), ev("I", "c3", 0, 5)]
    _write_chunk(spark, c1, feed_dir)
    _write_chunk(spark, c2, feed_dir)

    app = StreamingApply(
        spark, feed_dir, state, ckpt, lineage_root=lineage,
        max_files_per_trigger=1, n_buckets=4,
    )
    app.run_available()

    # maxFilesPerTrigger=1 → one micro-batch per file
    assert len(app.batch_metrics) >= 2
    assert_state_equals_oracle(
        app.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        c1 + c2,
    )
    lin = app.lineage.read()
    assert lin.count() > 0
    assert set(lin.columns) >= {"batch_id", "partition_id", "events_applied", "merge_rows"}
    # processing-time lag behind each partition's newest event
    lags = [r["watermark_lag_ms"] for r in lin.collect()]
    assert all(lag is not None and lag >= 0 for lag in lags), lags


def test_stream_lineage_cow_runs_no_spark_job_and_mor_matches(spark, tmp_path):
    # COW: the lineage rows come from the apply's touched-bucket
    # aggregate and are written from the driver — appending them runs
    # no Spark job.  MOR computes the same rows with the same helper.
    events = [ev("I", f"c{i % 3}", i % 2, i) for i in range(12)]
    counts = {}
    for mode in ("cow", "mor"):
        feed_dir, state, ckpt, lineage = _dirs(tmp_path / mode)
        _write_chunk(spark, events, feed_dir)
        app = StreamingApply(
            spark, feed_dir, state, ckpt, lineage_root=lineage,
            n_buckets=4, write_mode=mode,
        )
        jobs = []
        append = app.lineage.append
        app.lineage.append = lambda rows, b: jobs.append(
            jobs_and_result(spark, lambda: append(rows, b))[0]
        )
        app.run_available()
        assert jobs and (mode == "mor" or jobs == [0] * len(jobs)), (mode, jobs)
        assert_state_equals_oracle(
            app.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts"), events
        )
        counts[mode] = sorted(
            (r["partition_id"], r["events_applied"], r["dedup_drops"], r["merge_rows"])
            for r in app.lineage.read().collect()
        )
        assert sum(c[1] for c in counts[mode]) == 12
        assert sum(c[3] for c in counts[mode]) == 6
    assert counts["cow"] == counts["mor"]


def test_stream_resume_from_checkpoint_applies_only_new(spark, tmp_path):
    feed_dir, state, ckpt, lineage = _dirs(tmp_path)
    c1 = [ev("I", "c1", 0, 1), ev("I", "c2", 0, 2)]
    _write_chunk(spark, c1, feed_dir)
    app = StreamingApply(spark, feed_dir, state, ckpt, max_files_per_trigger=1, n_buckets=4)
    app.run_available()
    n_before = len(app.batch_metrics)
    assert n_before >= 1

    # new data arrives; a NEW driver process resumes from the checkpoint
    c2 = [ev("U", "c1", 0, 3, text="after restart"), ev("I", "c3", 0, 4)]
    _write_chunk(spark, c2, feed_dir)
    app2 = StreamingApply(spark, feed_dir, state, ckpt, max_files_per_trigger=1, n_buckets=4)
    app2.run_available()

    # checkpoint prevents re-delivery: only the new file becomes a batch
    assert len(app2.batch_metrics) == 1 and not app2.batch_metrics[0].skipped
    assert_state_equals_oracle(
        app2.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        c1 + c2,
    )


def test_stream_lost_checkpoint_sink_ledger_still_exactly_once(spark, tmp_path):
    # kill the Spark checkpoint but keep the table state: the feed is
    # re-delivered from scratch with the same batch ids — the sink's
    # committed-batch manifest must skip them all, state unchanged.
    feed_dir, state, ckpt, _ = _dirs(tmp_path)
    events = [ev("I", "c1", 0, 1), ev("U", "c1", 0, 2, text="v2"), ev("I", "c2", 0, 3)]
    _write_chunk(spark, events, feed_dir)
    app = StreamingApply(spark, feed_dir, state, ckpt, max_files_per_trigger=1, n_buckets=4)
    app.run_available()
    before = sorted(app.read().collect())

    app2 = StreamingApply(
        spark, feed_dir, state, str(tmp_path / "ckpt2"), max_files_per_trigger=1, n_buckets=4
    )
    app2.run_available()
    assert all(m.skipped for m in app2.batch_metrics)
    assert sorted(app2.read().collect()) == before


def test_stream_late_event_version_checked_not_clock_checked(spark, tmp_path):
    # an event far older than the watermark still merges correctly —
    # correctness is (op_ts, batch_seq) versioning, not the watermark.
    feed_dir, state, ckpt, _ = _dirs(tmp_path)
    _write_chunk(spark, [ev("I", "c1", 0, 100, text="new")], feed_dir)
    app = StreamingApply(
        spark, feed_dir, state, ckpt, watermark="1 seconds",
        max_files_per_trigger=1, n_buckets=2,
    )
    app.run_available()
    _write_chunk(spark, [ev("U", "c1", 0, 1, text="very late, stale")], feed_dir)
    app2 = StreamingApply(
        spark, feed_dir, state, ckpt, watermark="1 seconds",
        max_files_per_trigger=1, n_buckets=2,
    )
    app2.run_available()
    rows = app2.read().collect()
    assert len(rows) == 1 and rows[0]["text"] == "new"


def test_stateful_conversation_tracker_across_batches(spark, tmp_path):
    # applyInPandasWithState: per-conv running state must accumulate
    # ACROSS micro-batches (one file = one batch via maxFilesPerTrigger).
    from chomper_spark import schema as S
    from chomper_spark.streaming.stateful import conversation_tracker

    feed_dir = str(tmp_path / "feed")
    _write_chunk(spark, [ev("I", "c1", 0, 1, tool="browser"), ev("I", "c1", 1, 2)], feed_dir)
    _write_chunk(spark, [ev("U", "c1", 0, 3), ev("I", "c2", 0, 4, tool="search")], feed_dir)

    stream = (
        spark.readStream.schema(S.CHANGE_EVENT)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed_dir)
    )
    out_rows = []
    q = (
        conversation_tracker(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _bid: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {}
    for r in out_rows:  # last update per conv wins
        final[r["conv_id"]] = (r["turns_seen"], r["tool_calls"])
    assert final["c1"] == (3, 1)  # 2 events batch A + 1 batch B, one tool call
    assert final["c2"] == (1, 1)


def test_stream_continuous_producer_multi_file_batches(spark, tmp_path):
    # the reference's continuous-queue shape (chomper/contrib/redis.py:39-61):
    # a producer keeps appending files WHILE the query runs on a
    # processing-time trigger, and maxFilesPerTrigger>1 folds several
    # files into one micro-batch.  Files land via atomic rename so the
    # source never lists a half-written file.
    import os
    import shutil
    import threading
    import time

    feed_dir, state, ckpt, _ = _dirs(tmp_path)
    os.makedirs(feed_dir, exist_ok=True)
    stage_root = str(tmp_path / "stage")

    def make_chunk(idx, events):
        stage = os.path.join(stage_root, f"s{idx}")
        feed_df(spark, events).coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part),
                  os.path.join(feed_dir, f"chunk{idx:03d}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    chunks = [
        [ev("I", f"c{4 * i + j}", 0, 4 * i + j) for j in range(4)] for i in range(8)
    ]
    all_events = [e for c in chunks for e in c]
    # two files exist BEFORE the query starts → the first trigger must
    # fold both into one micro-batch (maxFilesPerTrigger=3 allows it)
    make_chunk(0, chunks[0])
    make_chunk(1, chunks[1])

    app = StreamingApply(
        spark, feed_dir, state, ckpt,
        max_files_per_trigger=3, n_buckets=4, collect_metrics=True,
    )
    q = app.start(available_now=False, processing_time="1 second")
    try:
        stop = threading.Event()

        def produce():
            for i in range(2, 8):
                make_chunk(i, chunks[i])
                time.sleep(0.4)

        t = threading.Thread(target=produce)
        t.start()
        deadline = time.time() + 90
        while time.time() < deadline:
            applied = sum(m.events_in for m in app.batch_metrics if not m.skipped)
            if applied >= len(all_events):
                break
            time.sleep(0.5)
        t.join()
    finally:
        q.stop()

    applied = sum(m.events_in for m in app.batch_metrics if not m.skipped)
    assert applied == len(all_events)
    # at least one micro-batch consumed MULTIPLE files (the seed pair)
    assert max(m.events_in for m in app.batch_metrics) >= 8
    assert_state_equals_oracle(
        app.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        all_events,
    )


def test_feed_source_seam_explicit_file_source(spark, tmp_path):
    # the FeedSource seam: constructor-injected FileFeedSource behaves
    # identically to the feed_dir shorthand (which builds one internally)
    import pytest

    from chomper_spark.streaming import FileFeedSource

    feed_dir, state, ckpt, _ = _dirs(tmp_path)
    _write_chunk(spark, [ev("I", "c1", 0, 1), ev("U", "c1", 0, 2)], feed_dir)
    src = FileFeedSource(feed_dir, max_files_per_trigger=2)
    app = StreamingApply(spark, None, state, ckpt, n_buckets=2, source=src)
    app.run_available()
    rows = app.read().collect()
    assert len(rows) == 1 and rows[0]["text"] == "text c1/0 v2"
    with pytest.raises(ValueError, match="exactly one"):
        StreamingApply(spark, feed_dir, state, ckpt, source=src)
    with pytest.raises(ValueError, match="exactly one"):
        StreamingApply(spark, None, state, ckpt)


def test_kafka_source_contract_options_and_decode(spark):
    # the Kafka adapter's reader options are code under test (the exact
    # set a production tail needs), and its value-decode projection runs
    # on a static DataFrame with Kafka's wire shape — only .load()
    # itself needs the connector jar.
    import json

    from chomper_spark.streaming import KafkaFeedSource

    src = KafkaFeedSource("broker1:9092,broker2:9092", "transcript-changes",
                          max_offsets_per_trigger=5000)
    assert src.options() == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "transcript-changes",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "5000",
    }
    e = ev("I", "c1", 3, 7, role="assistant", text="hello", tool="browser")
    payload = dict(e, op_ts=e["op_ts"].isoformat(), ts=e["ts"].isoformat())
    raw = spark.createDataFrame(
        [(json.dumps(payload).encode(), b"k")], "value binary, key binary"
    )
    out = src.decode(raw).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["op"], r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"]) == (
        "I", "c1", 3, "assistant", "hello", "browser"
    )
    assert r["op_ts"] == e["op_ts"]
    # unparseable value → DROPPED (never a phantom all-NULL event into
    # the MERGE, never an inflated events_in), and never a crash; a good
    # message in the same micro-batch still decodes
    bad = spark.createDataFrame(
        [(b"not json", b"k"), (json.dumps(payload).encode(), b"k")],
        "value binary, key binary",
    )
    kept = src.decode(bad).collect()
    assert len(kept) == 1 and kept[0]["conv_id"] == "c1"
    # the drop is counted, not silent: schema drift ({} parses but
    # matches no field) and corruption are distinguishable from an
    # idle/empty topic via the decode observation
    drift = spark.createDataFrame(
        [(b"{}", b"k"), (b"not json", b"k"), (json.dumps(payload).encode(), b"k")],
        "value binary, key binary",
    )
    out2 = src.decode(drift)
    assert out2.count() == 1
    m = dict(src.last_decode_observation.get)
    assert m["records_in"] == 3 and m["corrupt_dropped"] == 2


def test_streaming_rejects_delta_layout_on_cow(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="mor"):
        StreamingApply(
            spark, str(tmp_path / "f"), str(tmp_path / "s"), str(tmp_path / "c"),
            write_mode="cow", delta_layout="single",
        )


def test_kafka_seam_end_to_end_decode_apply_resume(spark, tmp_path):
    # the full Kafka seam with a broker-shaped stand-in: wire-schema
    # records (key/value binary + topic/partition/offset/timestamp)
    # stream through the REAL KafkaFeedSource.decode into
    # StreamingApply, with a checkpoint restart mid-stream.  After
    # this, the one line of the Kafka path never executed in-sandbox is
    # format("kafka").load() itself.
    import json as _json

    from chomper_spark.streaming import KafkaWireReplaySource

    wire_dir = str(tmp_path / "wire")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def wire_chunk(events, offset0, with_corrupt=False):
        rows = [
            (
                e["conv_id"].encode(),
                _json.dumps(
                    dict(e, op_ts=e["op_ts"].isoformat(), ts=e["ts"].isoformat())
                ).encode(),
                "transcript-changes", 0, offset0 + i, e["op_ts"], 0,
            )
            for i, e in enumerate(events)
        ]
        if with_corrupt:
            rows.append((b"k", b"not json at all", "transcript-changes", 0,
                         offset0 + len(rows), events[0]["op_ts"], 0))
        spark.createDataFrame(
            rows,
            "key binary, value binary, topic string, partition int, "
            "offset long, timestamp timestamp, timestampType int",
        ).coalesce(1).write.mode("append").parquet(wire_dir)

    c1 = [ev("I", "c1", 0, 1), ev("I", "c2", 0, 2)]
    c2 = [ev("U", "c1", 0, 3, text="updated"), ev("D", "c2", 0, 4)]
    c3 = [ev("I", "c2", 0, 9, text="resurrected"), ev("I", "c3", 0, 5)]
    wire_chunk(c1, 0)
    wire_chunk(c2, 100, with_corrupt=True)

    def app():
        return StreamingApply(
            spark, feed_dir=None, state_root=state, checkpoint_dir=ckpt,
            n_buckets=4,
            source=KafkaWireReplaySource(
                "broker1:9092", "transcript-changes", wire_dir=wire_dir
            ),
        )

    a1 = app()
    q1 = a1.start(available_now=True)  # phase 1: two micro-batches, then "crash"
    q1.awaitTermination()
    assert len(a1.batch_metrics) == 2
    mid = {r["conv_id"]: r["text"] for r in a1.read().collect()}
    assert mid == {"c1": "updated"}  # c2 deleted; corrupt msg dropped

    wire_chunk(c3, 200)
    a2 = app()  # restart: fresh driver objects, same checkpoint
    a2.run_available()
    # checkpoint resume: ONLY the new file becomes a micro-batch
    assert len(a2.batch_metrics) == 1
    assert_state_equals_oracle(
        a2.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        c1 + c2 + c3,
    )
    # lost-checkpoint redelivery: the sink's own ledger still skips
    import shutil

    shutil.rmtree(ckpt)
    a3 = app()
    a3.run_available()
    assert a3.batch_metrics and all(m.skipped for m in a3.batch_metrics)
    assert_state_equals_oracle(
        a3.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        c1 + c2 + c3,
    )
    # the decode drop counter surfaces in StreamingQueryProgress
    # observedMetrics (phase 1 — the phase that actually APPLIED the
    # corrupt chunk; a ledger-skipped batch runs no action, so its
    # metrics stay empty) — the operator-facing signal that
    # distinguishes topic corruption/schema drift from an idle feed.
    # Counts are per-ACTION accumulations (the COW apply runs two
    # actions per batch), so assert presence, not exact totals.
    obs = [
        p["observedMetrics"]["kafka_decode"]
        for p in (
            _json.loads(j if isinstance(j, str) else j.json)
            for j in q1.recentProgress
        )
        if "kafka_decode" in p.get("observedMetrics", {})
    ]
    assert obs, "kafka_decode observation missing from streaming progress"
    assert any((m["corrupt_dropped"] or 0) > 0 for m in obs)  # planted bad msg seen
    assert all((m["records_in"] or 0) >= (m["corrupt_dropped"] or 0) for m in obs)


def test_streaming_neardup_end_to_end_and_replay_determinism(spark, tmp_path):
    # the continuous X40b shape: a doc feed tailed by StreamingNearDup;
    # each micro-batch classifies against the persistent band index,
    # appends links, and upserts bands+corpus exactly-once.
    from chomper_spark.streaming import StreamingNearDup

    base = " ".join(f"tok{i}" for i in range(30))
    feed = tmp_path / "feed"
    feed.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(feed / name))

    # batch 0: two distinct docs; batch 1: a near-dup of doc 1, an exact
    # intra-batch pair, and an unrelated doc
    drop("b0", [(1, base), (2, "completely different words about engines")])
    job = StreamingNearDup(
        spark, str(feed) + "/*", str(tmp_path / "idx"), str(tmp_path / "corpus"),
        str(tmp_path / "links"), str(tmp_path / "ckpt"),
        lineage_root=str(tmp_path / "lin"), n_buckets=8, max_files_per_trigger=1,
    )
    job.run_available()
    assert job.read_links().count() == 0  # nothing similar in batch 0
    drop("b1", [(10, base + " extra"), (11, base + " extra"),
                (12, "nothing like anything else at all")])
    job.run_available()
    links = {(r["doc_id"], r["dup_of"]): round(r["jaccard"], 3)
             for r in job.read_links().collect()}
    # 10 matches corpus doc 1; 11 matches 10 (intra-batch) and 1 (corpus)
    assert (10, 1) in links and (11, 10) in links and links[(11, 10)] == 1.0
    assert not any(12 in pair for pair in links)
    # lineage rows recorded per classification run
    lin = {r["batch_id"]: r for r in job.lineage.read().collect()}
    assert set(lin) == {0, 1} and all(r["op"] == "incremental_neardup"
                                      for r in lin.values())
    n_index = job.index.read().count()
    links_before = sorted(links)

    # crash-replay determinism at the nastiest point: index/corpus
    # committed but the streaming checkpoint lost → the batch replays
    # with its own bands already indexed.  Classification must converge
    # to row-identical links (the (hi, lo) normalization) and the
    # sinks must ledger-skip.
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    job2 = StreamingNearDup(
        spark, str(feed) + "/*", str(tmp_path / "idx"), str(tmp_path / "corpus"),
        str(tmp_path / "links"), str(tmp_path / "ckpt"),
        lineage_root=str(tmp_path / "lin"), n_buckets=8, max_files_per_trigger=1,
    )
    job2.run_available()
    links_after = sorted(
        (r["doc_id"], r["dup_of"]) for r in job2.read_links().collect()
    )
    assert links_after == links_before
    assert job2.index.read().count() == n_index  # ledger-skipped, no growth


def test_streaming_neardup_recrawl_updates_corpus_text(spark, tmp_path):
    # review-found divergence (round 5): a re-crawled doc_id with NEW
    # text must update the corpus (latest-wins), so a later doc similar
    # to the NEW text both band-matches AND survives the Jaccard verify
    # — pinning the first crawl would silently drop the true link.
    from chomper_spark.streaming import StreamingNearDup

    text_a = " ".join(f"aaa{i}" for i in range(30))
    text_b = " ".join(f"bbb{i}" for i in range(30))

    feed = tmp_path / "feed"
    feed.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(feed / name))

    job_args = (
        spark, str(feed) + "/*", str(tmp_path / "idx"), str(tmp_path / "corpus"),
        str(tmp_path / "links"), str(tmp_path / "ckpt"),
    )
    drop("b0", [(5, text_a)])
    StreamingNearDup(*job_args, n_buckets=8).run_available()
    drop("b1", [(5, text_b)])  # re-crawl: content changed entirely
    StreamingNearDup(*job_args, n_buckets=8).run_available()
    drop("b2", [(99, text_b + " extra")])  # near-dup of the NEW text
    job = StreamingNearDup(*job_args, n_buckets=8)
    job.run_available()
    links = {(r["doc_id"], r["dup_of"]) for r in job.read_links().collect()}
    assert (99, 5) in links  # verified against the re-crawled text
    # corpus holds the new text
    row = job.corpus.read_keys([(5,)]).collect()
    assert row and row[0]["text"] == text_b
