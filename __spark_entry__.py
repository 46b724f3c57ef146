"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship CDC replay on sf0.001: reshape the events
table into a binlog-shaped change feed, split into micro-batches,
apply through the SnapshotMergeSink (dedup → bucket-pruned MERGE with
tombstones + exactly-once ledger), return the final transcript table.

``queries()`` / ``oracle_sql()`` — per-operator DuckDB cross-checks at
sf0.01 (SURVEY.md §2 inventory).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from chomper_spark import schema as S
from chomper_spark.functions import curation as cur
from chomper_spark.functions import docdedup as dd
from chomper_spark.functions import multimodal as mm
from chomper_spark.functions import similarity as sim
from chomper_spark.functions import text as txt
from chomper_spark.operators.dedup import dedup_latest
from chomper_spark.operators.merge import SnapshotMergeSink
from chomper_spark.operators import transforms as tx
from chomper_spark.sources.feed import RESHAPE_SQL, change_feed_from_events, with_batch_id

N_BATCHES = 4

# Shared CTE text (ANSI, runs in BOTH Spark SQL and DuckDB): the feed
# reshape + latest-wins ranking used by several oracles.
_FEED_CTE = "feed AS (" + RESHAPE_SQL.format(events="events") + ")"
_RANKED_CTE = (
    "ranked AS (SELECT *, row_number() OVER ("
    "PARTITION BY conv_id, turn_idx ORDER BY op_ts DESC, batch_seq DESC) AS rn FROM feed)"
)
FINAL_STATE_SQL = (
    f"WITH {_FEED_CTE}, {_RANKED_CTE} "
    "SELECT conv_id, turn_idx, role, text, tool, ts "
    "FROM ranked WHERE rn = 1 AND op <> 'D'"
)


def _replay_sink(
    spark: SparkSession, sf_dir: str, replay_twice: bool = False, write_mode: str = "cow"
) -> SnapshotMergeSink:
    """Run the real engine: micro-batch the feed, MERGE each batch;
    return the sink for reading (full scan or point lookup)."""
    feed = with_batch_id(change_feed_from_events(spark, sf_dir, spread=False), N_BATCHES)
    feed = feed.persist()
    sink = SnapshotMergeSink(
        spark,
        tempfile.mkdtemp(prefix="chomper_spark_state_"),
        n_buckets=16,
        write_mode=write_mode,
    )
    passes = 2 if replay_twice else 1
    for p in range(passes):
        for b in range(N_BATCHES):
            batch = feed.filter(F.col("batch_id") == b).drop("batch_id")
            # second pass replays the SAME batch ids → ledger skips them;
            # idempotent MERGE would make them harmless regardless.
            sink.apply_batch(batch, batch_id=b, collect_metrics=False)
    feed.unpersist()
    return sink


def _apply_feed(
    spark: SparkSession, sf_dir: str, replay_twice: bool = False, write_mode: str = "cow"
) -> DataFrame:
    sink = _replay_sink(spark, sf_dir, replay_twice=replay_twice, write_mode=write_mode)
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _apply_feed(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries / oracle pairs
# ---------------------------------------------------------------------------


def _q_reshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    return change_feed_from_events(spark, sf_dir, spread=False)


def _q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_latest(change_feed_from_events(spark, sf_dir, spread=False))


def _q_apply_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _apply_feed(spark, sf_dir)


def _q_apply_replay_twice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _apply_feed(spark, sf_dir, replay_twice=True)


def _q_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    feed = with_batch_id(change_feed_from_events(spark, sf_dir, spread=False), N_BATCHES)
    return (
        feed.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("events_in"),
            (F.count(F.lit(1)) - F.count_distinct("conv_id", "turn_idx")).alias("dedup_drops"),
            F.count_distinct("conv_id", "turn_idx").alias("merge_rows"),
        )
    )


def _q_tx_defaults_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 flat Defaulter (chomper/processors.py:181-205) + E7
    insert_get_id surrogate (chomper/contrib/postgres.py:341-347) in one
    pipeline — consolidated so every registered query fits the driver's
    50-query correctness window."""
    feed = change_feed_from_events(spark, sf_dir, spread=False)
    return tx.pipe(
        feed,
        tx.defaults({"tool": "none"}),
        tx.assign_surrogate_id("row_id", ["conv_id", "turn_idx"]),
        tx.pick(["conv_id", "turn_idx", "batch_seq", "tool", "row_id"]),
    )


def _q_tx_assign_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 Assigner + P12 expression ops + P6 value-mode Mapper
    (chomper/processors.py:145-178, :283-299) in one pipeline."""
    feed = change_feed_from_events(spark, sf_dir, spread=False)
    return tx.pipe(
        feed,
        tx.assign("source", "cdc"),
        tx.assign("text_len", F.length(F.col("text"))),
        tx.scalar_map("role", lambda c: F.upper(c)),
        tx.map_values("tool", {"browser": "web"}),
        tx.pick(["batch_seq", "role", "source", "text_len", "tool"]),
    )


def _q_tx_reshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 row Dropper + P4 field Dropper (NULL-out) + P7 key-mode
    Mapper (rename) + P9 Omitter + P8 Picker in one pipeline
    (chomper/processors.py:208-233, :302-316, :236-263) — consolidated
    so every registered query fits the driver's 50-query window."""
    feed = change_feed_from_events(spark, sf_dir, spread=False)
    return tx.pipe(
        feed,
        tx.drop_rows(F.col("op").isin("D") | (F.col("turn_idx") < 2)),
        tx.nullify_field("tool", F.col("role") == "system"),
        tx.rename({"conv_id": "conversation_id"}),
        tx.omit(["op_ts", "ts"]),
        tx.pick(
            ["conversation_id", "turn_idx", "batch_seq", "op", "role", "text", "tool"]
        ),
    )


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X40 incremental corpus dedup through the real engine: ingest the
    even-doc_id half into a hash-index table (SnapshotMergeSink keyed on
    text_hash, update_only_nulls so canonical identity never migrates),
    then classify the odd-doc_id half against it — O(new batch), never
    O(corpus), the only dedup shape that holds on a continuously-
    ingesting 100 TB store."""
    docs = _docs(spark, sf_dir)
    sink = SnapshotMergeSink(
        spark,
        tempfile.mkdtemp(prefix="chomper_spark_hidx_"),
        n_buckets=8,
        key_cols=["text_hash"],
    )
    sink.apply_batch(
        dd.hash_index_events(docs.filter(F.col("doc_id") % 2 == 0), batch_seq=0),
        batch_id=0,
        update_only_nulls=True,
        collect_metrics=False,
    )
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    # bucket-pruned index read: scan only the index buckets the batch's
    # hashes land in (driver collect bounded by n_buckets, not batch size)
    known = sink.read_prune_for(new_docs.select(F.md5("text").alias("text_hash")))
    return dd.incremental_exact_dedup(known, new_docs)


def _q_dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X40b incremental NEAR-dup through the real engine: ingest the
    even-doc_id half's MinHash bands into a persistent band-index table
    (SnapshotMergeSink keyed (band_idx, band_val, doc_id), BUCKETED on
    the band prefix), then classify the odd-doc_id half against it —
    batch signatures → band-join against the bucket-pruned index →
    exact-Jaccard verify on candidates only → O(batch) per arriving
    batch, never O(corpus).  The near-dup completion of X40
    (_q_dedup_incremental is exact-hash only)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    sink = SnapshotMergeSink(
        spark,
        tempfile.mkdtemp(prefix="chomper_spark_bidx_"),
        n_buckets=8,
        key_cols=["band_idx", "band_val", "doc_id"],
        bucket_cols=["band_idx", "band_val"],
    )
    sink.apply_batch(
        dd.band_index_events(corpus, batch_seq=0), batch_id=0, collect_metrics=False
    )
    # the batch's band frame feeds the bucket probe AND both candidate
    # joins — persist it once (O(batch × bands) tiny rows; the probe's
    # collect materializes the cache, so classification never
    # re-shingles the batch)
    batch_bands = dd.minhash_bands(new_docs).persist()
    index = sink.read_prune_for(
        batch_bands.select("band_idx", "band_val")
    ).select("band_idx", "band_val", "doc_id")
    return dd.incremental_neardup(index, new_docs, corpus, batch_bands=batch_bands)


def _q_emb_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X42 incremental EMBEDDING near-dup through the real engine: the
    even-vec_id half's LSH bands live in a persistent vector index
    (SnapshotMergeSink keyed (band_idx, bucket, vec_id), bucketed on
    the band prefix); the odd half classifies against it — batch
    signatures → capped band-join against the pruned index → exact
    cosine on candidates only.  The embedding twin of X40b."""
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    new_emb = emb.filter(F.col("vec_id") % 2 == 1)
    sink = SnapshotMergeSink(
        spark,
        tempfile.mkdtemp(prefix="chomper_spark_eidx_"),
        n_buckets=8,
        key_cols=["band_idx", "bucket", "vec_id"],
        bucket_cols=["band_idx", "bucket"],
    )
    sink.apply_batch(
        sim.emb_band_index_events(corpus, batch_seq=0),
        batch_id=0,
        collect_metrics=False,
    )
    batch_bands = sim.embedding_bands(new_emb).persist()
    index = sink.read_prune_for(
        batch_bands.select("band_idx", "bucket")
    ).select("band_idx", "bucket", "vec_id")
    return sim.incremental_emb_neardup(
        index, new_emb, corpus, batch_bands=batch_bands
    )


def _q_tx_nested_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-path transforms over a struct-bearing feed: the dict-field
    Defaulter (chomper/processors.py:181-205) on a struct column built
    from the change feed — NULL struct materializes the defaults, NULL
    members are filled, new keys appended.  Output is the flattened
    leaves so the DuckDB compare stays engine-portable."""
    from chomper_spark.operators import fields as fpath

    feed = change_feed_from_events(spark, sf_dir, spread=False)
    df = feed.select(
        "batch_seq",
        F.when(
            F.col("role") == "system",
            F.lit(None).cast("struct<tool:string,score:int>"),
        )
        .otherwise(F.struct(F.col("tool").alias("tool"), F.col("turn_idx").alias("score")))
        .alias("meta"),
    )
    out = tx.pipe(df, fpath.nested_defaults("meta", {"tool": "none", "lang": "en"}))
    return out.select(
        "batch_seq",
        F.col("meta.tool").alias("m_tool"),
        F.col("meta.score").alias("m_score"),
        F.col("meta.lang").alias("m_lang"),
    )


def _q_tx_nested_rename_pathset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-path transforms in one pipeline: key-mode Mapper inside
    nested fields (chomper/processors.py:302-316) — rename struct keys
    at the top level and one level down — plus indexed-path writes
    (examples/fields.py:34-41): per-path scalar map on turns[0].n
    (NULL-skip) and a literal set on turns[1].n — array elements rebuilt
    via transform, structs via UpdateFields, no Python anywhere."""
    from chomper_spark.operators import fields as fpath

    feed = change_feed_from_events(spark, sf_dir, spread=False)
    df = feed.select(
        "batch_seq",
        F.struct(
            F.col("role").alias("r"),
            F.struct(F.col("tool").alias("tl")).alias("inner"),
        ).alias("info"),
        F.array(
            F.struct(F.col("text").alias("n")), F.struct(F.col("tool").alias("n"))
        ).alias("turns"),
    )
    out = tx.pipe(
        df,
        fpath.rename_keys("info", {"r": "role"}),
        fpath.rename_keys("info.inner", {"tl": "tool"}),
        fpath.scalar_map_path("turns[0].n", lambda c: F.upper(c)),
        fpath.set_path("turns[1].n", F.lit("x")),
    )
    return out.select(
        "batch_seq",
        fpath.get_path("info.role").alias("i_role"),
        fpath.get_path("info.inner.tool").alias("i_tool"),
        fpath.get_path("turns[0].n").alias("t0"),
        fpath.get_path("turns[1].n").alias("t1"),
    )


def _q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned point reads (SnapshotMergeSink.read_keys): replay
    the feed through the engine, then look up every key of the 5
    lexicographically-first conversations by exact key — the serving
    path.  The key list is collected driver-side (bounded, point
    lookups are driver-initiated by nature); the bucket scan itself
    stays distributed and touches only the hashed-to buckets."""
    sink = _replay_sink(spark, sf_dir)
    feed = change_feed_from_events(spark, sf_dir, spread=False)
    ids = feed.select("conv_id").distinct().orderBy("conv_id").limit(5)
    keys = [
        (r[0], r[1])
        for r in feed.join(F.broadcast(ids), "conv_id")
        .select("conv_id", "turn_idx")
        .distinct()
        .collect()
    ]
    return sink.read_keys(keys).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def _q_apply_final_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the merge-on-read engine must converge to the SAME final state
    # (one shared oracle for both sink modes)
    return _apply_feed(spark, sf_dir, write_mode="mor")


def _q_conv_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble each conversation's final transcript text in turn order
    (the 'stable turn ordering' invariant made visible as one string)."""
    final = _apply_feed(spark, sf_dir)
    return final.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                lambda x: x["text"],
            ),
            " | ",
        ).alias("transcript"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
    )


def _q_field_change_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 change-listener analogue: per-key count of events whose text
    differs from the previous event's text (in (op_ts, batch_seq) order)."""
    from pyspark.sql import Window

    feed = change_feed_from_events(spark, sf_dir, spread=False)
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("op_ts", "batch_seq")
    prev = F.lag("text").over(w)
    changed = F.when(prev.isNotNull() & ~prev.eqNullSafe(F.col("text")), 1).otherwise(0)
    return (
        feed.withColumn("_chg", changed)
        .groupBy("conv_id")
        .agg(F.sum("_chg").cast("long").alias("text_changes"))
    )


def _q_apply_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 .timestamps(): replay the feed through an audit sink with a
    deterministic per-batch time (batch b → 2026-01-01 + b days);
    created_at must survive updates while updated_at advances.

    5 batches, not the usual 4: turn_idx cycles mod 32 and batch_seq%4
    divides it, so %4 would pin every key to ONE batch and no key would
    ever see a cross-batch update — %5 (coprime with 32) spreads each
    key's events across batches, actually exercising the audit arms."""
    import datetime as dt

    feed = with_batch_id(change_feed_from_events(spark, sf_dir, spread=False), 5).persist()
    sink = SnapshotMergeSink(
        spark,
        tempfile.mkdtemp(prefix="chomper_spark_audit_"),
        n_buckets=16,
        audit_timestamps=True,
    )
    for b in range(5):
        sink.apply_batch(
            feed.filter(F.col("batch_id") == b).drop("batch_id"),
            batch_id=b,
            batch_time=dt.datetime(2026, 1, 1) + dt.timedelta(days=b),
            collect_metrics=False,
        )
    feed.unpersist()
    return sink.read().select(
        "conv_id", "turn_idx", "text", "created_at", "updated_at"
    )


def _q_change_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full E6: the per-field change-audit rows the engine emits while
    applying the feed (chomper/contrib/sql/exporters.py:304-333) —
    (key, field, old, new, batch_id) for every applied UPDATE that
    changed a listened field on a live row.  5 batches — see
    _q_apply_timestamps for why %4 batching would make this vacuous."""
    feed = with_batch_id(change_feed_from_events(spark, sf_dir, spread=False), 5).persist()
    sink = SnapshotMergeSink(
        spark, tempfile.mkdtemp(prefix="chomper_spark_chg_"), n_buckets=16
    )
    for b in range(5):
        sink.apply_batch(
            feed.filter(F.col("batch_id") == b).drop("batch_id"),
            batch_id=b,
            listen_fields=("text", "role"),
            emit_change_rows=True,
            collect_metrics=False,
        )
    feed.unpersist()
    ch = sink.read_changes()
    if ch is None:
        return spark.createDataFrame(
            [],
            "conv_id string, turn_idx int, field string, "
            "old_value string, new_value string, batch_id long",
        )
    return ch.select(
        "conv_id", "turn_idx", "field", "old_value", "new_value", "batch_id"
    )


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: for each event, the user's latest order
    at-or-before the event timestamp (custom as-of join operator)."""
    from chomper_spark.operators.asof import asof_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    right = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("ots"),
        )
        .agg(
            F.max("o_orderkey").alias("last_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("last_totalprice"),
        )
    )
    left = events.select("event_id", "user_id", "ts")
    return asof_join(left, right, on=["user_id"], left_ts="ts", right_ts="ots")


def _q_asof_join_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-hardened two-pass as-of join (time-chunk salting with
    boundary carry-forward) must produce byte-identical results to the
    single-window form — same DuckDB ASOF JOIN oracle."""
    from chomper_spark.operators.asof import asof_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    right = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ots"),
    ).agg(
        F.max("o_orderkey").alias("last_orderkey"),
        F.max_by("o_totalprice", "o_orderkey").alias("last_totalprice"),
    )
    left = events.select("event_id", "user_id", "ts")
    return asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ots",
        chunk_seconds=86_400 * 365,  # year-sized chunks over ~7y of data
    )


def _q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25 time travel under the hash gate: apply 5 batches, then read
    the table AS OF the snapshot committed by batch 2 — must equal
    latest-wins over only the events of batches 0..2."""
    feed = with_batch_id(change_feed_from_events(spark, sf_dir, spread=False), 5).persist()
    sink = SnapshotMergeSink(
        spark, tempfile.mkdtemp(prefix="chomper_spark_tt_"), n_buckets=16
    )
    for b in range(5):
        sink.apply_batch(
            feed.filter(F.col("batch_id") == b).drop("batch_id"),
            batch_id=b,
            collect_metrics=False,
        )
    feed.unpersist()
    # snapshot ids are 0-based per apply → snapshot 2 = after batch 2
    return sink.read(as_of_snapshot=2).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def _q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule schema evolution under the hash gate: batch 0 carries
    an INT score and no lang column; batch 1 widens score to DOUBLE and
    adds lang.  The table must evolve (widen + add, NULL-backfill) and
    the final state must match the relational oracle."""
    feed = change_feed_from_events(spark, sf_dir, spread=False)
    base = ["op", "op_ts", "batch_seq", "conv_id", "turn_idx", "role", "text"]
    batch_a = feed.filter(F.col("batch_seq") % 2 == 0).select(
        *base, F.col("turn_idx").cast("int").alias("score")
    )
    batch_b = feed.filter(F.col("batch_seq") % 2 == 1).select(
        *base,
        (F.col("turn_idx") * F.lit(1.5)).alias("score"),
        F.lit("en").alias("lang"),
    )
    sink = SnapshotMergeSink(
        spark, tempfile.mkdtemp(prefix="chomper_spark_evo_"), n_buckets=16
    )
    sink.apply_batch(batch_a, batch_id=0, collect_metrics=False)
    sink.apply_batch(batch_b, batch_id=1, collect_metrics=False)
    return sink.read().select("conv_id", "turn_idx", "role", "text", "score", "lang")


def _q_streaming_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 under the hash gate: the Structured Streaming path (file-tail
    → foreachBatch → MERGE with checkpoint + ledger) drained with
    availableNow must converge to the SAME final state as batch replay
    (one shared oracle).  File arrival order is irrelevant — the merge
    is version-checked, not order-dependent."""
    import os

    from chomper_spark.streaming import StreamingApply

    work = tempfile.mkdtemp(prefix="chomper_spark_stream_")
    feed_dir = os.path.join(work, "feed")
    feed = with_batch_id(change_feed_from_events(spark, sf_dir, spread=False), 5)
    for b in range(5):
        feed.filter(F.col("batch_id") == b).drop("batch_id").coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)
    app = StreamingApply(
        spark,
        feed_dir,
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
        max_files_per_trigger=2,
        n_buckets=16,
    )
    app.run_available()
    return app.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_truncate_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E10 TRUNCATE under the hash gate: apply batches 0..2, truncate
    (the full-refresh precursor, examples/companies.py:13), then apply
    batches 3..4 — the table must hold exactly the post-truncate
    batches' latest-wins state, with the batch ledger intact."""
    feed = with_batch_id(change_feed_from_events(spark, sf_dir, spread=False), 5).persist()
    sink = SnapshotMergeSink(
        spark, tempfile.mkdtemp(prefix="chomper_spark_trunc_"), n_buckets=16
    )
    for b in range(3):
        sink.apply_batch(
            feed.filter(F.col("batch_id") == b).drop("batch_id"),
            batch_id=b, collect_metrics=False,
        )
    sink.truncate(batch_id=100)
    for b in range(3, 5):
        sink.apply_batch(
            feed.filter(F.col("batch_id") == b).drop("batch_id"),
            batch_id=b, collect_metrics=False,
        )
    feed.unpersist()
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_stateful_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X20 under the hash gate: the applyInPandasWithState per-conv
    tracker run over the streamed feed; after draining, each conv's
    LAST emitted update must equal the full-feed aggregate (events
    seen, tool calls, newest op_ts) — cross-batch state, relationally
    checked."""
    import os

    from chomper_spark.streaming.stateful import conversation_tracker

    work = tempfile.mkdtemp(prefix="chomper_spark_state_q_")
    feed_dir = os.path.join(work, "feed")
    out_dir = os.path.join(work, "out")
    feed = with_batch_id(change_feed_from_events(spark, sf_dir, spread=False), 2)
    for b in range(2):
        feed.filter(F.col("batch_id") == b).drop("batch_id").coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)
    stream = (
        spark.readStream.schema(S.CHANGE_EVENT)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed_dir)
    )
    tracked = conversation_tracker(stream)

    def _sink(batch_df, batch_id: int) -> None:
        batch_df.withColumn("_b", F.lit(batch_id)).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id}")
        )

    # the state store opens one instance per shuffle partition per
    # trigger — at sf0.01 (150 convs) 32 partitions is pure overhead;
    # restore the session setting afterwards
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            tracked.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    updates = spark.read.parquet(os.path.join(out_dir, "*"))
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy(F.col("_b").desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("conv_id", "turns_seen", "tool_calls", "last_op_ts")
    )


def _q_importer_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's top-level Importer shape end-to-end
    (chomper/importers.py:25-89; examples/companies.py:10-23): named
    pipeline of declarative transforms feeding the MERGE sink, then the
    final table read back."""
    from chomper_spark.plans import Importer

    sink = SnapshotMergeSink(
        spark, tempfile.mkdtemp(prefix="chomper_spark_imp_"), n_buckets=16
    )
    imp = Importer(
        name="transcripts",
        feeder=lambda s: change_feed_from_events(s, sf_dir, spread=False),
        pipeline=[
            tx.drop_rows(F.col("role") == "system"),
            tx.map_values("tool", {"browser": "web"}),
            tx.scalar_map("text", lambda c: F.upper(c)),
        ],
        sink=sink,
    )
    imp.run(spark, batch_id=0)
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool")


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = dedup_latest(change_feed_from_events(spark, sf_dir, spread=False))
    out = tx.pipe(deduped.select("conv_id", "turn_idx"), tx.sessionize(gap_turns=4))
    return out.select(
        "conv_id", "turn_idx", F.col("session_id").cast("long").alias("session_id")
    )


def _q_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chomper_spark.operators.skew import salted_count_per_conv

    return salted_count_per_conv(change_feed_from_events(spark, sf_dir, spread=False), n_salts=8)


def _q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return tx.pipe(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        tx.lookup_join(customer, on=["c_custkey"], how="left",
                       select_cols=["c_custkey", "c_name", "c_mktsegment"]),
        tx.drop_rows(F.col("o_orderstatus") != "O"),
        tx.pick(["o_orderkey", "o_totalprice", "c_name", "c_mktsegment"]),
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the single-row-group scan spread across cores —
    ONLY for the per-row-HEAVY pipelines (per-position hashing,
    shingling): on trivial projections and Arrow/pandas paths the extra
    exchange costs more than the serial scan saves (measured; see
    OPTIMIZATION_r06.md).  No-op on many-file tables."""
    from chomper_spark.sources.feed import ensure_scan_parallelism

    path = f"{sf_dir}/documents.parquet"
    return ensure_scan_parallelism(spark.read.parquet(path), spark, path=path)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver checks the FIRST 50 entries, so the first 50 are the
    oracle-gated registry (near-duplicate tx_* pipelines merged — every
    SURVEY §2 operator keeps a covering query), ordered engine-first so
    the core CDC family is never tail-positioned; parameter variants of
    already-covered operators sit past the window (still selfchecked
    via tools/selfcheck.py and benched)."""
    return {
        # -- the CDC engine itself
        "cdc_reshape_feed": _q_reshape,
        "cdc_dedup_latest": _q_dedup,
        "cdc_apply_final_state": _q_apply_final,
        "cdc_apply_final_state_mor": _q_apply_final_mor,
        "cdc_apply_replay_twice": _q_apply_replay_twice,
        "cdc_apply_timestamps": _q_apply_timestamps,
        "cdc_change_rows": _q_change_rows,
        "cdc_time_travel": _q_time_travel,
        "cdc_schema_evolution": _q_schema_evolution,
        "cdc_streaming_apply": _q_streaming_apply,
        "cdc_truncate_reload": _q_truncate_reload,
        "cdc_point_lookup": _q_point_lookup,
        "cdc_lineage_per_batch": _q_lineage,
        "stream_stateful_tracker": _q_stateful_tracker,
        # -- operators over the feed / TPC-H side tables
        "asof_join_last_order": _q_asof_join,
        "conv_assemble_text": _q_conv_assemble,
        "conv_sessionize": _q_sessionize,
        "tx_field_change_counts": _q_field_change_counts,
        "skew_salted_conv_counts": _q_salted_counts,
        "pipeline_importer_run": _q_importer_pipeline,
        "tx_defaults_surrogate": _q_tx_defaults_surrogate,
        "tx_assign_map": _q_tx_assign_map,
        "tx_reshape": _q_tx_reshape,
        "tx_lookup_join": _q_lookup_join,
        "tx_nested_defaults": _q_tx_nested_defaults,
        "tx_nested_rename_pathset": _q_tx_nested_rename_pathset,
        # -- training-data pipeline ops over documents/embeddings
        "text_token_stats": lambda s, d: txt.token_stats(_docs(s, d)),
        "text_quality_score": lambda s, d: txt.quality_score(_docs(s, d)),
        "text_lang_id": lambda s, d: txt.lang_id(_docs(s, d)),
        "text_fingerprint": lambda s, d: txt.fingerprint(_docs_par(s, d)),
        "text_repetition_stats": lambda s, d: txt.repetition_stats(_docs_par(s, d)),
        "text_redact_pii": lambda s, d: txt.redact_pii(_docs(s, d)),
        "dedup_exact": lambda s, d: dd.exact_dedup(_docs(s, d)),
        "dedup_ngram_jaccard": lambda s, d: dd.ngram_jaccard_pairs(_docs_par(s, d)),
        "dedup_minhash_lsh": lambda s, d: dd.minhash_lsh_pairs(_docs_par(s, d)),
        "dedup_clusters": lambda s, d: dd.dedup_clusters(
            dd.minhash_lsh_pairs(_docs_par(s, d)).filter(F.col("jaccard") >= 0.8)
        ),
        "dedup_simhash": lambda s, d: dd.simhash(_docs(s, d)),
        "dedup_simhash_pairs": lambda s, d: dd.simhash_pairs(_docs(s, d)),
        "dedup_incremental": _q_dedup_incremental,
        "dedup_incremental_neardup": _q_dedup_incremental_neardup,
        "ann_bruteforce_topk": lambda s, d: sim.ann_bruteforce_topk(_emb(s, d)),
        "ann_lsh_bucketed": lambda s, d: sim.lsh_bucketed_ann(_emb(s, d)),
        "ann_ivf_topk": lambda s, d: sim.ivf_topk(_emb(s, d)),
        "emb_neardup_cosine": lambda s, d: sim.embedding_neardup_pairs(_emb(s, d)),
        "curation_stratified_sample": lambda s, d: cur.stratified_sample(
            _docs(s, d), {"en": 0.3, "de": 0.8}
        ),
        "curation_pack_chunks": lambda s, d: cur.pack_chunks(_docs(s, d)),
        "curation_decontaminate": lambda s, d: cur.decontaminate(_docs_par(s, d)),
        "multimodal_features": lambda s, d: mm.multimodal_features(_docs(s, d)),
        "multimodal_resize": lambda s, d: mm.multimodal_resize(_docs(s, d)),
        "multimodal_frames": lambda s, d: mm.multimodal_frames(_docs(s, d)),
        # -- beyond the driver's 50-query window (still selfchecked and
        # benched): parameter variants / extensions of operators already
        # covered above
        "asof_join_chunked": _q_asof_join_chunked,
        "emb_incremental_neardup": _q_emb_incremental_neardup,
    }


def oracle_sql() -> dict[str, str]:
    feed_sql = RESHAPE_SQL.format(events="events")
    return {
        "text_token_stats": txt.TOKEN_STATS_SQL,
        "text_quality_score": txt.QUALITY_SCORE_SQL,
        "text_lang_id": txt.LANG_ID_SQL,
        "text_fingerprint": txt.FINGERPRINT_SQL,
        "text_repetition_stats": txt.REPETITION_STATS_SQL,
        "text_redact_pii": txt.REDACT_PII_SQL,
        "dedup_exact": dd.EXACT_DEDUP_SQL,
        "dedup_ngram_jaccard": dd.ngram_jaccard_sql(),
        "dedup_minhash_lsh": dd.minhash_lsh_sql(),
        "dedup_clusters": dd.dedup_clusters_sql(dd.minhash_lsh_sql(), threshold=0.8),
        "dedup_simhash": dd.simhash_sql(),
        "dedup_simhash_pairs": dd.simhash_pairs_sql(),
        "ann_bruteforce_topk": sim.ann_bruteforce_sql(),
        "ann_lsh_bucketed": sim.lsh_bucketed_ann_sql(),
        "ann_ivf_topk": sim.ivf_topk_sql(),
        "emb_neardup_cosine": sim.embedding_neardup_sql(),
        "curation_stratified_sample": cur.stratified_sample_sql({"en": 0.3, "de": 0.8}),
        "curation_pack_chunks": cur.pack_chunks_sql(),
        "curation_decontaminate": cur.decontaminate_sql(),
        "multimodal_features": mm.MULTIMODAL_FEATURES_SQL,
        "multimodal_resize": mm.multimodal_resize_sql(),
        "multimodal_frames": mm.multimodal_frames_sql(),
        "cdc_reshape_feed": feed_sql,
        "cdc_dedup_latest": (
            f"WITH {_FEED_CTE}, {_RANKED_CTE} "
            "SELECT op, op_ts, batch_seq, conv_id, turn_idx, role, text, tool, ts "
            "FROM ranked WHERE rn = 1"
        ),
        "cdc_apply_final_state": FINAL_STATE_SQL,
        "cdc_apply_replay_twice": FINAL_STATE_SQL,
        "cdc_lineage_per_batch": (
            f"WITH {_FEED_CTE} "
            "SELECT batch_seq % 4 AS batch_id, count(*) AS events_in, "
            "count(*) - count(DISTINCT concat(conv_id, '#', cast(turn_idx AS STRING))) AS dedup_drops, "
            "count(DISTINCT concat(conv_id, '#', cast(turn_idx AS STRING))) AS merge_rows "
            "FROM feed GROUP BY batch_seq % 4"
        ),
        "tx_defaults_surrogate": (
            f"WITH {_FEED_CTE} "
            "SELECT conv_id, turn_idx, batch_seq, coalesce(tool, 'none') AS tool, "
            + tx.surrogate_id_sql(["conv_id", "turn_idx"])
            + " AS row_id FROM feed"
        ),
        "tx_assign_map": (
            f"WITH {_FEED_CTE} "
            "SELECT batch_seq, upper(role) AS role, 'cdc' AS source, "
            "length(text) AS text_len, "
            "CASE WHEN tool = 'browser' THEN 'web' ELSE tool END AS tool FROM feed"
        ),
        "tx_reshape": (
            f"WITH {_FEED_CTE} "
            "SELECT conv_id AS conversation_id, turn_idx, batch_seq, op, role, text, "
            "CASE WHEN role = 'system' THEN NULL ELSE tool END AS tool FROM feed "
            "WHERE NOT (op IN ('D') OR turn_idx < 2)"
        ),
        "dedup_incremental": dd.incremental_exact_dedup_sql(),
        "dedup_incremental_neardup": dd.incremental_neardup_sql(),
        "emb_incremental_neardup": sim.incremental_emb_neardup_sql(),
        "tx_lookup_join": (
            "SELECT o_orderkey, o_totalprice, c_name, c_mktsegment "
            "FROM orders LEFT JOIN customer ON o_custkey = c_custkey "
            "WHERE o_orderstatus = 'O'"
        ),
        "tx_nested_defaults": (
            f"WITH {_FEED_CTE} "
            "SELECT batch_seq, "
            "CASE WHEN role = 'system' THEN 'none' ELSE coalesce(tool, 'none') END AS m_tool, "
            "CASE WHEN role = 'system' THEN NULL ELSE turn_idx END AS m_score, "
            "'en' AS m_lang FROM feed"
        ),
        "tx_nested_rename_pathset": (
            f"WITH {_FEED_CTE} "
            "SELECT batch_seq, role AS i_role, tool AS i_tool, "
            "upper(text) AS t0, 'x' AS t1 FROM feed"
        ),
        "cdc_point_lookup": (
            f"WITH {_FEED_CTE}, {_RANKED_CTE}, "
            "ids AS (SELECT DISTINCT conv_id FROM feed ORDER BY conv_id LIMIT 5) "
            "SELECT conv_id, turn_idx, role, text, tool, ts "
            "FROM ranked WHERE rn = 1 AND op <> 'D' "
            "AND conv_id IN (SELECT conv_id FROM ids)"
        ),
        "pipeline_importer_run": (
            f"WITH {_FEED_CTE}, "
            "filt AS (SELECT * FROM feed WHERE NOT (role = 'system')), "
            "ranked AS (SELECT *, row_number() OVER ("
            "PARTITION BY conv_id, turn_idx ORDER BY op_ts DESC, batch_seq DESC) AS rn FROM filt) "
            "SELECT conv_id, turn_idx, role, upper(text) AS text, "
            "CASE WHEN tool = 'browser' THEN 'web' ELSE tool END AS tool "
            "FROM ranked WHERE rn = 1 AND op <> 'D'"
        ),
        "conv_sessionize": (
            f"WITH {_FEED_CTE}, {_RANKED_CTE}, "
            "dd AS (SELECT conv_id, turn_idx FROM ranked WHERE rn = 1), "
            "g AS (SELECT conv_id, turn_idx, "
            "CASE WHEN lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) IS NULL "
            "OR turn_idx - lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) > 4 "
            "THEN 1 ELSE 0 END AS is_new FROM dd) "
            "SELECT conv_id, turn_idx, "
            "CAST(sum(is_new) OVER (PARTITION BY conv_id ORDER BY turn_idx "
            "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g"
        ),
        "skew_salted_conv_counts": (
            f"WITH {_FEED_CTE} "
            "SELECT conv_id, count(*) AS n_events FROM feed GROUP BY conv_id"
        ),
        "cdc_apply_final_state_mor": FINAL_STATE_SQL,
        # created_at = batch time of the key's FIRST batch (its first
        # event materializes the state row, live or tombstone);
        # updated_at = batch time of the batch holding the key's
        # globally-latest event (that batch's apply always wins, and no
        # later batch can beat it) — see SnapshotMergeSink audit logic.
        "cdc_apply_timestamps": (
            f"WITH {_FEED_CTE}, "
            "batched AS (SELECT *, CAST(batch_seq % 5 AS INTEGER) AS batch_id FROM feed), "
            "firstb AS (SELECT conv_id, turn_idx, min(batch_id) AS cb "
            "FROM batched GROUP BY 1, 2), "
            "latest AS (SELECT conv_id, turn_idx, batch_id AS ub, op, text FROM ("
            "SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx "
            "ORDER BY op_ts DESC, batch_seq DESC) AS rn FROM batched) WHERE rn = 1) "
            "SELECT l.conv_id, l.turn_idx, l.text, "
            "TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (f.cb) DAY AS created_at, "
            "TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (l.ub) DAY AS updated_at "
            "FROM latest l JOIN firstb f "
            "ON l.conv_id = f.conv_id AND l.turn_idx = f.turn_idx "
            "WHERE l.op <> 'D'"
        ),
        "cdc_time_travel": (
            f"WITH {_FEED_CTE}, "
            "sub AS (SELECT * FROM feed WHERE CAST(batch_seq % 5 AS INTEGER) <= 2), "
            "ranked AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx "
            "ORDER BY op_ts DESC, batch_seq DESC) AS rn FROM sub) "
            "SELECT conv_id, turn_idx, role, text, tool, ts "
            "FROM ranked WHERE rn = 1 AND op <> 'D'"
        ),
        "cdc_schema_evolution": (
            f"WITH {_FEED_CTE}, {_RANKED_CTE} "
            "SELECT conv_id, turn_idx, role, text, "
            "CASE WHEN batch_seq % 2 = 0 THEN CAST(turn_idx AS DOUBLE) "
            "ELSE turn_idx * 1.5 END AS score, "
            "CASE WHEN batch_seq % 2 = 1 THEN 'en' END AS lang "
            "FROM ranked WHERE rn = 1 AND op <> 'D'"
        ),
        "cdc_streaming_apply": FINAL_STATE_SQL,
        "cdc_truncate_reload": (
            f"WITH {_FEED_CTE}, "
            "sub AS (SELECT * FROM feed WHERE CAST(batch_seq % 5 AS INTEGER) >= 3), "
            "ranked AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx "
            "ORDER BY op_ts DESC, batch_seq DESC) AS rn FROM sub) "
            "SELECT conv_id, turn_idx, role, text, tool, ts "
            "FROM ranked WHERE rn = 1 AND op <> 'D'"
        ),
        "stream_stateful_tracker": (
            f"WITH {_FEED_CTE} "
            "SELECT conv_id, CAST(count(*) AS BIGINT) AS turns_seen, "
            "CAST(count(tool) AS BIGINT) AS tool_calls, max(op_ts) AS last_op_ts "
            "FROM feed GROUP BY conv_id"
        ),
        # the applied-event sequence per key = each batch's newest event
        # iff it beats every earlier batch's newest; change rows compare
        # consecutive applied events on live (non-deleted) state.
        "cdc_change_rows": (
            f"WITH {_FEED_CTE}, "
            "batched AS (SELECT *, CAST(batch_seq % 5 AS INTEGER) AS batch_id FROM feed), "
            "cand AS (SELECT * FROM ("
            "SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, batch_id "
            "ORDER BY op_ts DESC, batch_seq DESC) AS rn FROM batched) WHERE rn = 1), "
            "applied AS (SELECT * FROM cand a WHERE NOT EXISTS ("
            "SELECT 1 FROM cand e WHERE e.conv_id = a.conv_id "
            "AND e.turn_idx = a.turn_idx AND e.batch_id < a.batch_id "
            "AND (e.op_ts > a.op_ts OR (e.op_ts = a.op_ts AND e.batch_seq > a.batch_seq)))), "
            "seq AS (SELECT conv_id, turn_idx, batch_id, op, text, role, "
            "lag(op) OVER w AS prev_op, lag(text) OVER w AS prev_text, "
            "lag(role) OVER w AS prev_role FROM applied "
            "WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY batch_id)) "
            "SELECT conv_id, turn_idx, 'text' AS field, prev_text AS old_value, "
            "text AS new_value, CAST(batch_id AS BIGINT) AS batch_id FROM seq "
            "WHERE prev_op IS NOT NULL AND prev_op <> 'D' AND op <> 'D' "
            "AND text IS DISTINCT FROM prev_text "
            "UNION ALL "
            "SELECT conv_id, turn_idx, 'role' AS field, prev_role AS old_value, "
            "role AS new_value, CAST(batch_id AS BIGINT) AS batch_id FROM seq "
            "WHERE prev_op IS NOT NULL AND prev_op <> 'D' AND op <> 'D' "
            "AND role IS DISTINCT FROM prev_role"
        ),
        "asof_join_last_order": (
            "WITH ro AS (SELECT o_custkey AS user_id, "
            "CAST(o_orderdate AS TIMESTAMP) AS ots, "
            "max(o_orderkey) AS last_orderkey, "
            "arg_max(o_totalprice, o_orderkey) AS last_totalprice "
            "FROM orders GROUP BY 1, 2) "
            "SELECT e.event_id, e.user_id, e.ts, r.last_orderkey, r.last_totalprice "
            "FROM events e ASOF LEFT JOIN ro r "
            "ON e.user_id = r.user_id AND r.ots <= e.ts"
        ),
        # identical semantics, skew-hardened implementation — one oracle
        "asof_join_chunked": (
            "WITH ro AS (SELECT o_custkey AS user_id, "
            "CAST(o_orderdate AS TIMESTAMP) AS ots, "
            "max(o_orderkey) AS last_orderkey, "
            "arg_max(o_totalprice, o_orderkey) AS last_totalprice "
            "FROM orders GROUP BY 1, 2) "
            "SELECT e.event_id, e.user_id, e.ts, r.last_orderkey, r.last_totalprice "
            "FROM events e ASOF LEFT JOIN ro r "
            "ON e.user_id = r.user_id AND r.ots <= e.ts"
        ),
        "conv_assemble_text": (
            f"WITH {_FEED_CTE}, {_RANKED_CTE}, "
            "final AS (SELECT conv_id, turn_idx, text FROM ranked WHERE rn = 1 AND op <> 'D') "
            "SELECT conv_id, string_agg(text, ' | ' ORDER BY turn_idx) AS transcript, "
            "count(*)::BIGINT AS n_turns FROM final GROUP BY conv_id"
        ),
        "tx_field_change_counts": (
            f"WITH {_FEED_CTE}, "
            "g AS (SELECT conv_id, CASE WHEN lag(text) OVER "
            "(PARTITION BY conv_id, turn_idx ORDER BY op_ts, batch_seq) IS NOT NULL "
            "AND lag(text) OVER (PARTITION BY conv_id, turn_idx ORDER BY op_ts, batch_seq) "
            "IS DISTINCT FROM text THEN 1 ELSE 0 END AS chg FROM feed) "
            "SELECT conv_id, CAST(sum(chg) AS BIGINT) AS text_changes FROM g GROUP BY conv_id"
        ),
    }
