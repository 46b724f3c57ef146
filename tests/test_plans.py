"""Plan-quality assertions: filters and projections must reach the
parquet scan (PushedFilters / ReadSchema), small-side joins must
broadcast, and the hot paths must stay inside whole-stage codegen with
no per-row Python.  These guard the properties that decide 100 TB
behavior, not just correctness."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_push_to_parquet_scan(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: the scan must read only the 3 needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "doc_id" in read_schema


def test_partition_pruned_state_read_lists_only_touched_buckets(spark, tmp_path):
    from chomper_spark.operators.merge import SnapshotMergeSink
    from tests.helpers import ev, feed_df

    sink = SnapshotMergeSink(spark, str(tmp_path / "t"), n_buckets=8)
    sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i) for i in range(32)]), 0)
    man = sink.current_manifest()
    one = [int(k) for k in list(man["buckets"])[:2]]
    pruned = sink._read_buckets(man, one)
    full = sink.read_state()
    # bucket pruning is file-level: fewer files scanned than the full read
    assert pruned.inputFiles() and len(pruned.inputFiles()) < len(full.inputFiles())


def test_point_lookup_scans_only_hashed_buckets(spark, tmp_path):
    # read_keys is the serving-side pruning twin of the write-side
    # touched-bucket test above: a 1-key lookup must scan exactly the
    # one bucket file that key hashes to, not the whole table.
    from chomper_spark.operators.merge import SnapshotMergeSink
    from tests.helpers import ev, feed_df

    sink = SnapshotMergeSink(spark, str(tmp_path / "t"), n_buckets=8)
    sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i) for i in range(32)]), 0)
    one = sink.read_keys([("c3", 0)])
    files = one.inputFiles()
    assert len(files) == 1 and "_bucket=" in files[0]
    # and the lookup returns exactly that row
    rows = one.collect()
    assert len(rows) == 1 and rows[0]["conv_id"] == "c3"
    # multi-key lookups prune to the union of hashed buckets, never more
    many = sink.read_keys([("c3", 0), ("c7", 0), ("c11", 0)])
    assert len(many.inputFiles()) <= 3
    assert many.count() == 3


def test_read_prune_for_scans_only_probed_buckets(spark, tmp_path):
    # set-oriented pruning: a probe batch whose keys land in one bucket
    # must scan one bucket file, while the key set itself stays
    # distributed (only the bucket-id list is collected, <= n_buckets)
    from chomper_spark.operators.merge import SnapshotMergeSink
    from tests.helpers import ev, feed_df

    sink = SnapshotMergeSink(spark, str(tmp_path / "t"), n_buckets=8)
    sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i) for i in range(32)]), 0)
    probe = spark.createDataFrame([("c3", 0)], "conv_id string, turn_idx int")
    pruned = sink.read_prune_for(probe)
    assert len(pruned.inputFiles()) == 1
    # the pruned frame contains every live row of that bucket (caller joins)
    assert {r["conv_id"] for r in pruned.collect()} >= {"c3"}
    full = sink.read()
    assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_merge_source_dedup_has_mapside_partial_combine(spark):
    # max_by plans as SortAggregate (struct buffers aren't hash-aggregable)
    # but MUST keep the partial/map-side combine before the exchange —
    # that's what collapses duplicate keys pre-shuffle at 10^10 events —
    # and exactly one exchange, no per-row Python.
    from chomper_spark.operators.dedup import dedup_latest_agg
    from tests.helpers import ev, feed_df

    df = dedup_latest_agg(feed_df(spark, [ev("I", "c1", 0, 1), ev("U", "c1", 0, 2)]))
    plan = _plan(df)
    assert "partial_max_by" in plan
    assert plan.index("partial_max_by") > plan.index("Exchange")  # partial below exchange
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_mor_write_plan_single_exchange(spark, tmp_path):
    # a MOR delta apply groups on (bucket, key); HashPartitioning(bucket)
    # satisfies that clustering → exactly ONE exchange in its write
    # plan, and no join against stored rows
    from chomper_spark.operators.merge import SnapshotMergeSink
    from tests.helpers import ev, feed_df, write_plans

    sink = SnapshotMergeSink(spark, str(tmp_path / "t"), n_buckets=16, write_mode="mor")
    sink.apply_batch(feed_df(spark, [ev("I", f"c{i}", 0, i) for i in range(40)]), 0)
    batch = [ev("U", f"c{i}", 0, 100 + i) for i in range(0, 40, 3)] + [ev("D", "c1", 0, 200)]
    plans, _ = write_plans(lambda: sink.apply_batch(feed_df(spark, batch), 1))
    assert sink.current_manifest()["buckets"] == {}  # delta appends, no fold
    assert len(plans) == 1
    assert plans[0].count("Exchange") == 1, plans[0]
    assert "Join" not in plans[0], plans[0]


def test_whole_stage_codegen_covers_transform_pipeline(spark):
    from chomper_spark.operators import transforms as tx

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = tx.pipe(
        docs,
        tx.drop_rows(F.col("n_chars") < 10),
        tx.assign("words", F.size(F.split("text", " "))),
        tx.pick(["doc_id", "words"]),
    )
    plan = _plan(q)
    # codegen'd stages carry the "*(n)" marker in this plan rendering
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "BatchEvalPython" not in plan


def test_nested_field_stack_is_single_projection_no_shuffle(spark):
    # a chain of nested-path edits must collapse into projection(s)
    # over the scan — zero exchanges, zero Python, codegen'd
    from chomper_spark.operators import fields as fp
    from chomper_spark.operators import transforms as tx

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nested = docs.select(
        "doc_id", F.struct(F.col("lang").alias("lg"), F.col("source").alias("src")).alias("meta")
    )
    q = tx.pipe(
        nested,
        fp.nested_defaults("meta", {"lg": "und", "score": 0}),
        fp.rename_keys("meta", {"src": "origin"}),
        fp.scalar_map_path("meta.lg", lambda c: F.upper(c)),
    )
    plan = _plan(q)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_asof_chunked_windows_are_keyed_on_chunk(spark):
    # the skew-hardened as-of join must window on (key, chunk) for the
    # bulk data — the only key-wide window runs over the tiny per-chunk
    # boundary table
    from chomper_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 1, "e")], "k string, ts int, ev string")
    right = spark.createDataFrame([("k", 1, "v")], "k string, ts int, v string")
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts", chunk_seconds=10)
    plan = _plan(out)
    assert plan.count("_asof_chunk") > 0
    # bulk window partitions include the chunk column
    assert "hashpartitioning(k" in plan.replace(" ", "").lower()
    assert "BatchEvalPython" not in plan


def test_similarity_projections_compile_and_stay_vectorized(spark):
    # round-3's literal-embedded hyperplane/centroid projections overflowed
    # the JVM 64KB method limit ("Failed to compile" → interpreted
    # fallback, 3-5× slower).  The Arrow-vectorized rewrite must
    # (a) carry no giant literal trees — plan string stays small,
    # (b) project via ArrowEvalPython (vectorized), never BatchEvalPython
    # (per-row), and (c) execute clean with codegen fallback DISABLED,
    # which turns any failed whole-stage compile into a hard error.
    from chomper_spark.functions import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for fn in (sim.lsh_bucketed_ann, sim.ivf_topk, sim.embedding_neardup_pairs):
            df = fn(emb)
            plan = _plan(df)
            assert len(plan) < 200_000, f"{fn.__name__}: literal blowup ({len(plan)} chars)"
            assert "ArrowEvalPython" in plan
            assert "BatchEvalPython" not in plan
            df.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_change_row_emission_adds_no_python_and_reuses_join(spark, tmp_path):
    # the change-audit rows derive from the SAME pre/post-image join the
    # merge computes — pure Catalyst (explode over struct array), no
    # Python anywhere in the sink write path
    from chomper_spark.operators.merge import SnapshotMergeSink
    from tests.helpers import ev, feed_df

    sink = SnapshotMergeSink(spark, str(tmp_path / "t"), n_buckets=2)
    sink.apply_batch(feed_df(spark, [ev("I", "c1", 0, 1, text="a")]), batch_id=0)
    sink.apply_batch(
        feed_df(spark, [ev("U", "c1", 0, 2, text="b")]),
        batch_id=1, listen_fields=("text",), emit_change_rows=True,
    )
    ch = sink.read_changes()
    assert "BatchEvalPython" not in _plan(ch)
    assert ch.count() == 1


def test_incremental_neardup_plan_python_free_and_band_pruned(spark, tmp_path):
    # X40b scale shape: (a) candidate generation + exact-Jaccard verify
    # is pure Catalyst — no Python eval nodes anywhere; (b) the
    # persistent band index is bucketed on the band PREFIX, so a batch
    # probe scans only the buckets its band hashes land in, never the
    # whole index.
    from chomper_spark.functions import docdedup as dd
    from chomper_spark.operators.merge import SnapshotMergeSink

    corpus = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(8))) for i in range(12)],
        "doc_id long, text string",
    )
    sink = SnapshotMergeSink(
        spark, str(tmp_path / "bidx"), n_buckets=16,
        key_cols=["band_idx", "band_val", "doc_id"],
        bucket_cols=["band_idx", "band_val"],
    )
    sink.apply_batch(dd.band_index_events(corpus, 0), 0, collect_metrics=False)
    new_docs = spark.createDataFrame(
        [(100, " ".join(f"w3x{j}" for j in range(8)))], "doc_id long, text string"
    )
    probe = dd.minhash_bands(new_docs).select("band_idx", "band_val")
    index = sink.read_prune_for(probe)
    full = sink.read()
    # band-prefix pruning: the 4-band probe scans at most 4 of the
    # index's bucket files
    assert 0 < len(index.inputFiles()) <= 4
    assert len(index.inputFiles()) < len(full.inputFiles())
    out = dd.incremental_neardup(
        index.select("band_idx", "band_val", "doc_id"), new_docs, corpus
    )
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
