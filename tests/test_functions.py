"""Unit tests for the training-data function library (text analysis,
dedup family, similarity, multimodal plumbing) on tiny frames.  The
full-table DuckDB cross-checks run via tools/selfcheck.py and the
driver's correctness gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chomper_spark.functions import docdedup as dd
from chomper_spark.functions import multimodal as mm
from chomper_spark.functions import similarity as sim
from chomper_spark.functions import text as txt


def _docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    return spark.createDataFrame(
        [
            (0, base, "en", "s0", len(base)),
            (1, base, "en", "s0", len(base)),  # exact dup of 0
            (2, base + " iota", "en", "s1", len(base) + 5),  # near dup of 0
            (3, "the cat sat on the mat and the dog slept", "en", "s1", 41),
            (4, "der hund und die katze und das haus", "de", "s2", 35),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_token_stats(spark):
    r = {x["doc_id"]: x for x in txt.token_stats(_docs(spark)).collect()}
    assert r[0]["n_tokens_ws"] == 8 and r[0]["n_tokens_bpe"] == 8
    assert r[3]["n_tokens_ws"] == 10


def test_quality_score_monotone_in_length(spark):
    r = {x["doc_id"]: x for x in txt.quality_score(_docs(spark)).collect()}
    assert 0.0 <= r[3]["quality_score"] <= 1.0
    assert r[3]["stopword_ratio"] == pytest.approx(4 / 10, abs=1e-6)


def test_lang_id_markers(spark):
    r = {x["doc_id"]: x["lang_pred"] for x in txt.lang_id(_docs(spark)).collect()}
    assert r[3] == "en" and r[4] == "de"
    assert r[0] == "und"  # no markers at all


def test_fingerprint_equal_for_equal_text(spark):
    r = {x["doc_id"]: x for x in txt.fingerprint(_docs(spark)).collect()}
    assert r[0]["fp_md5"] == r[1]["fp_md5"]
    assert r[0]["fp_winnow"] == r[1]["fp_winnow"]
    assert r[0]["fp_md5"] != r[3]["fp_md5"]


def test_exact_dedup_groups(spark):
    r = {x["doc_id"]: x for x in dd.exact_dedup(_docs(spark)).collect()}
    assert r[1]["canonical_doc_id"] == 0 and r[1]["is_duplicate"]
    assert not r[0]["is_duplicate"] and not r[3]["is_duplicate"]


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (x["doc_a"], x["doc_b"]): x["jaccard"]
        for x in dd.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_lsh_candidates_contain_planted_dups(spark):
    pairs = {
        (x["doc_a"], x["doc_b"]): x["jaccard"]
        for x in dd.minhash_lsh_pairs(_docs(spark)).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs always collide in every band
    assert (0, 3) not in pairs or pairs[(0, 3)] < 0.2


def test_simhash_identical_and_hamming(spark):
    sig = {x["doc_id"]: x["simhash"] for x in dd.simhash(_docs(spark)).collect()}
    assert sig[0] == sig[1]
    assert 0 <= sig[0] < 2**60
    pairs = {(x["doc_a"], x["doc_b"]): x["hamming"] for x in dd.simhash_pairs(_docs(spark)).collect()}
    assert pairs[(0, 1)] == 0


def _emb(spark):
    # 4-dim toy embeddings with a known nearest-neighbor structure
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.98, 0.2, 0.0], 1),   # closest to 2
        (4, [-1.0, 0.0, 0.0, 0.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_ann_bruteforce_topk(spark):
    out = sim.ann_bruteforce_topk(_emb(spark), n_queries=3, top_k=1, dim=4)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert top1[0] == 1 and top1[1] == 0 and top1[2] == 3


def test_lsh_buckets_group_similar_vectors(spark):
    out = sim.lsh_bucketed_ann(_emb(spark), bands=4, rows=4, top_k=2, dim=4)
    rows = out.collect()
    # identical-direction vectors agree on every band and find each
    # other; opposite vectors disagree on every plane that separates
    # them, so they are never each other's neighbors
    got = {(r["vec_id"], r["neighbor_id"]) for r in rows}
    assert (0, 1) in got and (1, 0) in got
    assert (0, 4) not in got


def test_embedding_neardup_pairs(spark):
    out = sim.embedding_neardup_pairs(_emb(spark), threshold=0.9, bands=4, rows=4, dim=4)
    pairs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in out.collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99


def test_ivf_topk_probes_nearest_cells(spark):
    # identical-direction vectors share a cell → IVF finds them; the
    # data side is assigned with a pure projection (no explode)
    out = sim.ivf_topk(_emb(spark), n_centroids=4, n_probes=2, n_queries=3, top_k=1, dim=4)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert top1[0] == 1 and top1[1] == 0  # planted identical pair
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # probes broadcast, corpus never shuffles wide
    # exactly one Generate (the tiny query-side melt): the corpus side
    # must NOT be exploded C times (AQE prints final+initial plans —
    # count within the final section only)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate") == 1


def test_ivf_topk_accepts_trained_centroids(spark):
    # caller-supplied (k-means-trained) centroids replace the md5
    # default without touching the assignment/probe/verify plumbing:
    # with one centroid per axis, vectors assign to their dominant-axis
    # cell and only same-cell neighbors surface at n_probes=1.
    import pytest

    axes = [[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0], [0, 0, 0, 1.0]]
    emb = spark.createDataFrame(
        [(0, [1.0, 0.1, 0.0, 0.0]), (1, [0.9, 0.2, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.1]), (3, [0.0, 0.0, 0.9, 0.2])],
        "vec_id long, embedding array<float>",
    )
    out = sim.ivf_topk(emb, n_centroids=4, n_probes=1, n_queries=4, top_k=1,
                       dim=4, centroids=axes)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert top1 == {0: 1, 1: 0, 2: 3, 3: 2}  # same-cell pairs only
    with pytest.raises(ValueError, match="centroids must be"):
        sim.ivf_topk(emb, n_centroids=4, dim=4, centroids=axes[:2])


def test_lsh_bucket_cap_bounds_candidates_on_skew(spark):
    # degenerate fixture: 60 identical vectors — every band puts all of
    # them in ONE bucket.  Uncapped that is 60×59 directed candidates;
    # with cap=10 only the 10 lowest vec_ids per (band, bucket) emit
    # candidates, so the candidate pool is bounded by bands·cap·(cap-1).
    emb = spark.createDataFrame(
        [(i, [1.0, 0.5, 0.25, 0.125]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    capped = sim._banded(emb, bands=2, rows=4, dim=4, cap=10)
    cand = (
        capped.alias("a")
        .join(capped.alias("b"), ["band_idx", "bucket"])
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(F.col("a.vec_id"), F.col("b.vec_id"))
        .distinct()
    )
    n = cand.count()
    assert 0 < n <= 10 * 9  # distinct pairs: both bands share one bucket
    stats = sim.lsh_candidate_stats(emb, bands=2, rows=4, dim=4, cap=10).collect()
    assert all(r["members"] == 60 and r["members_dropped"] == 50 for r in stats)
    assert len(stats) == 2  # one hot bucket per band
    # the query itself stays bounded and deterministic under the cap
    out = sim.lsh_bucketed_ann(emb, bands=2, rows=4, top_k=1, dim=4, cap=10)
    assert out.count() == 10  # only capped members surface neighbors


def test_simhash_chunk_cap_bounds_candidates_on_skew(spark):
    # degenerate fixture: 30 identical docs — one signature, so every
    # chunk bucket holds all 30.  Uncapped that is 4·C(30,2) candidate
    # pairs; with chunk_cap=6 only the 6 lowest doc_ids per chunk emit,
    # bounding distinct pairs at C(6,2) (same 6 docs in all 4 chunks).
    docs = spark.createDataFrame(
        [(i, "same exact text for everyone here") for i in range(30)]
        + [(100, "completely different words entirely now")],
        "doc_id long, text string",
    )
    pairs = dd.simhash_pairs(docs, chunk_cap=6)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(a, b) for a in range(6) for b in range(6) if a < b}
    stats = dd.simhash_candidate_stats(docs, chunk_cap=6).collect()
    hot = [r for r in stats if r["members"] == 30]
    assert len(hot) == 4 and all(r["members_dropped"] == 24 for r in hot)
    # uncapped default leaves small corpora untouched
    assert dd.simhash_pairs(docs).count() == 30 * 29 // 2


def test_incremental_exact_dedup_against_engine_index(spark, tmp_path):
    # the hash index lives in the MERGE engine (keyed on text_hash,
    # update_only_nulls): canonical identity must never migrate to a
    # later duplicate, replays are ledger-skipped, and classification
    # of a new batch is O(batch) + one hash join
    from chomper_spark.operators.merge import SnapshotMergeSink

    corpus0 = spark.createDataFrame(
        [(10, "alpha text"), (11, "beta text"), (12, "alpha text")],
        "doc_id long, text string",
    )
    corpus1 = spark.createDataFrame(
        [(20, "alpha text"), (21, "gamma text")], "doc_id long, text string"
    )
    sink = SnapshotMergeSink(spark, str(tmp_path / "idx"), n_buckets=4,
                             key_cols=["text_hash"])
    sink.apply_batch(dd.hash_index_events(corpus0, 0), 0,
                     update_only_nulls=True, collect_metrics=False)
    sink.apply_batch(dd.hash_index_events(corpus1, 1), 1,
                     update_only_nulls=True, collect_metrics=False)
    idx = {r["canonical_doc_id"] for r in sink.read().collect()}
    assert idx == {10, 11, 21}  # alpha stays canonical=10 despite doc 20
    # replaying batch 1 is a no-op (exactly-once ledger)
    m = sink.apply_batch(dd.hash_index_events(corpus1, 1), 1,
                         update_only_nulls=True, collect_metrics=False)
    assert m.skipped
    new_batch = spark.createDataFrame(
        [(30, "alpha text"), (31, "delta text"), (32, "delta text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["canonical_doc_id"], r["is_duplicate"])
           for r in dd.incremental_exact_dedup(sink.read(), new_batch).collect()}
    assert out == {
        30: (10, True),    # known corpus hash -> corpus canonical
        31: (31, False),   # new hash, batch canonical
        32: (31, True),    # intra-batch repeat
    }


def test_incremental_neardup_against_engine_band_index(spark, tmp_path):
    # the persistent MinHash band index lives in the MERGE engine, keyed
    # (band_idx, band_val, doc_id) but BUCKETED on the band prefix so an
    # arriving batch probes only its own buckets; replays are ledger-
    # skipped and classification is O(batch) + the candidate verify
    from chomper_spark.operators.merge import SnapshotMergeSink

    base = " ".join(f"tok{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(10, base), (12, "completely different words about spark engines")],
        "doc_id long, text string",
    )
    sink = SnapshotMergeSink(
        spark, str(tmp_path / "bidx"), n_buckets=4,
        key_cols=["band_idx", "band_val", "doc_id"],
        bucket_cols=["band_idx", "band_val"],
    )
    sink.apply_batch(dd.band_index_events(corpus, 0), 0, collect_metrics=False)
    # replaying the same batch is a no-op (exactly-once ledger on the
    # index table itself)
    n_before = sink.read().count()
    m = sink.apply_batch(dd.band_index_events(corpus, 0), 0, collect_metrics=False)
    assert m.skipped and sink.read().count() == n_before
    # batch: 31 is a near-dup of corpus 10 (one token changed), 33 an
    # exact intra-batch dup of 31, 35 unrelated; 10 re-crawled under its
    # own id must NOT match itself
    new_docs = spark.createDataFrame(
        [
            (31, base + " extra"),
            (33, base + " extra"),
            (35, "nothing like anything else in this tiny corpus here"),
            (10, base),
        ],
        "doc_id long, text string",
    )
    probe = dd.minhash_bands(new_docs).select("band_idx", "band_val")
    index = sink.read_prune_for(probe).select("band_idx", "band_val", "doc_id")
    out = {(r["doc_id"], r["dup_of"]): r["jaccard"]
           for r in dd.incremental_neardup(index, new_docs, corpus).collect()}
    assert (31, 10) in out and out[(31, 10)] < 1.0
    assert out.get((33, 31)) == 1.0
    assert (10, 10) not in out  # re-crawl of same id never self-matches
    assert not any(a == 35 for a, _ in out)
    # classification is idempotent: same batch, same index → same links
    out2 = {(r["doc_id"], r["dup_of"])
            for r in dd.incremental_neardup(index, new_docs, corpus).collect()}
    assert out2 == set(out)
    # band-prefix bucketing is a recorded table property, adopted on
    # reopen (a maintenance job must never re-hash the index)
    reopened = SnapshotMergeSink(spark, str(tmp_path / "bidx"))
    assert reopened.bucket_cols == ["band_idx", "band_val"]
    assert reopened.key_cols == ["band_idx", "band_val", "doc_id"]


def test_bucket_cols_must_be_key_subset(spark, tmp_path):
    import pytest

    from chomper_spark.operators.merge import SnapshotMergeSink

    with pytest.raises(ValueError, match="subset"):
        SnapshotMergeSink(
            spark, str(tmp_path / "bad"), key_cols=["a", "b"], bucket_cols=["c"]
        )


def test_dedup_clusters_connected_components(spark):
    # chain 1-2-3-4 plus pair 10-11 plus isolated pair member ordering:
    # clusters = min-id components; canonical = the min member
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in dd.dedup_clusters(pairs).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        10: (10, True), 11: (10, False),
        20: (20, True), 21: (20, False),
    }


def test_dedup_clusters_nonconvergence_raises(spark):
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dd.dedup_clusters(chain, max_iters=2, algorithm="label")


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_dedup_clusters_chain_graph_escalates_to_star(spark):
    # adversarial chain of depth 40: min-label would need ~40 rounds —
    # max_iters=4 exhausts it, and auto must escalate to
    # large-star/small-star (O(log d) alternations) and still return
    # exact union-find components
    edges = [(i, i + 1) for i in range(40)] + [(100, 101), (101, 103), (102, 103)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = {r["doc_id"]: r["cluster_id"]
           for r in dd.dedup_clusters(pairs, max_iters=4).collect()}
    assert out == _union_find_components(edges)


def test_star_components_match_union_find_on_random_graphs(spark):
    import random

    rng = random.Random(11)
    for trial in range(3):
        n = 60
        edges = list({
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(50 + 20 * trial)
        })
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        out = {r["doc_id"]: r["cluster_id"]
               for r in dd.dedup_clusters(pairs, algorithm="star").collect()}
        assert out == _union_find_components(edges), f"trial {trial}"


def test_ngram_jaccard_df_cap_bounds_candidates(spark):
    # planted hot shingle: every doc shares the phrase "of the and" —
    # uncapped candidate generation is O(docs²); with max_df the hot
    # shingles emit nothing and candidates stay O(planted near-dups)
    docs = spark.createDataFrame(
        [(i, f"of the and unique{i} token{i} word{i}") for i in range(40)]
        + [(100, "aa bb cc dd ee"), (101, "aa bb cc dd ee")],  # true near-dup
        "doc_id long, text string",
    )
    out = dd.ngram_jaccard_pairs(docs, threshold=0.8, max_df=5)
    pairs = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert pairs == {(100, 101)}
    # candidate pool (pre-verify) is bounded: the 40 hot docs share
    # only capped-out shingles, so they produce zero candidates
    sh = dd.shingles(docs)
    from pyspark.sql import Window

    w = Window.partitionBy("shingle")
    rare = sh.withColumn("_df", F.count(F.lit(1)).over(w)).filter(F.col("_df") <= 5)
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .distinct()
    )
    assert cand.count() == 1  # only the planted near-dup pair


def _pair_jaccard(sh):
    """Exact Jaccard of every co-shingled doc pair, by a self-join on
    the exploded shingles — the unrestricted ground truth."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a",
        "doc_b",
        txt.stable6(
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double")
        ).alias("jaccard"),
    )


def test_ngram_jaccard_hot_shingle_common_is_exact(spark):
    # round-6 verify restructure: exact common = common_rare +
    # common_hot.  Plant a qualifying pair whose overlap INCLUDES
    # capped-out (hot) shingles, and check the emitted jaccard equals
    # the direct full-shingle-set computation.
    hot = "x y z w"  # shingles "x y z", "y z w" appear in every doc → hot
    docs = spark.createDataFrame(
        [(i, f"{hot} u{i} v{i}") for i in range(10)]
        + [(100, f"{hot} same1 same2 same3"), (101, f"{hot} same1 same2 same3")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.8, max_df=5).collect()
    }
    # ground truth via the unrestricted exact-Jaccard helper
    sh = dd.shingles(docs)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _pair_jaccard(sh).filter(F.col("jaccard") >= 0.8).collect()
        if (r["doc_a"], r["doc_b"]) == (100, 101)
    }
    assert out == exact and out[(100, 101)] == 1.0


def test_minhash_signature_projection_equals_groupby_min(spark):
    # the array_min(transform(md5)) projection must be value-identical
    # to the exploded groupBy-min signature for EVERY doc and EVERY
    # salt.  Regression: an arity-2 lambda (lambda s, i=i) made
    # F.transform pass the array INDEX as the second argument,
    # silently corrupting every salt — pair-level oracle checks at
    # small SF masked it (identical docs still collide on identical
    # garbage); this pins the signatures themselves.
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i%3} alpha beta gamma delta") for i in range(30)],
        "doc_id long, text string",
    )
    # K min-hashes per doc as an exploded groupBy-min over md5 strings
    old = dd.shingles(docs).groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
            for i in range(dd.MINHASH_K)
        ]
    )
    new = dd.shingle_sets(docs).select("doc_id", *dd._signature_cols(dd.MINHASH_K))
    cond = " or ".join(f"o.h{i} <> n.h{i}" for i in range(dd.MINHASH_K))
    assert old.alias("o").join(new.alias("n"), "doc_id").filter(cond).count() == 0


def test_embedding_melt_equals_duckdb_melted_cte(spark):
    # the Arrow-vectorized band melt and the oracle's literal-embedded
    # ``melted`` CTE must agree on EVERY (vec_id, band_idx, bucket) —
    # pair-level oracle checks only see buckets that produce verified
    # pairs.  Varied inputs: mixed scales, sign-only vectors, exact
    # zeros (every dot is 0.0, so every ``>= 0`` bit is set), subnormal
    # and large magnitudes, and duplicated vectors.
    import duckdb
    import numpy as np

    rng = np.random.default_rng(13)
    n = 2400
    m = rng.normal(0, 1, (n, sim.DIM)) * rng.choice([1e-3, 1.0, 1e3], (n, 1))
    m[::97] = 0.0
    m[1::89] = np.sign(m[1::89])
    m[2::83] = rng.normal(0, 1, sim.DIM) * 1e-40
    m[3::79] = m[4::79][: len(m[3::79])]
    m = m.astype(np.float32)
    rows = [(i, [float(x) for x in m[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        (r["vec_id"], r["band_idx"], r["bucket"])
        for r in sim.embedding_bands(emb).collect()
    )
    con = duckdb.connect()
    con.register("_emb", emb.toPandas())
    con.sql("CREATE VIEW embeddings AS SELECT vec_id, embedding::FLOAT[] AS embedding FROM _emb")
    cte = sim._banded_sql(sim._DK, sim.NEARDUP_BANDS, sim.LSH_ROWS, sim.DIM, sim.BUCKET_CAP)
    exp = sorted(
        tuple(int(x) for x in r)
        for r in con.sql(f"WITH {cte} SELECT vec_id, band_idx, bucket FROM melted").fetchall()
    )
    assert len(got) == n * sim.NEARDUP_BANDS
    assert got == exp
    assert len({b for _, _, b in got}) > 200  # the buckets really vary


def test_simhash_equals_duckdb_simhash_sql(spark):
    # the SimHash signature pinned value by value against its DuckDB
    # twin: varied lengths (1..80 tokens), heavy repeats (term-frequency
    # weighting and exact-majority ties), empty tokens from doubled
    # spaces, and non-ASCII tokens.
    import random

    import duckdb

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)] + ["é", "naïve", "日本", "ß", "x"]
    rows = []
    for i in range(2200):
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 80))]
        if i % 7 == 0:
            toks = toks[:2] * rng.randint(1, 6)
        text = " ".join(toks)
        if i % 11 == 0:
            text = text.replace(" ", "  ", 1)
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r["doc_id"], r["simhash"]) for r in dd.simhash(docs).collect())
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    exp = sorted((int(a), int(b)) for a, b in con.sql(dd.simhash_sql()).fetchall())
    assert len(got) == len(rows)
    assert got == exp
    assert len({s for _, s in got}) > 2000


def test_multimodal_plumbing_fake_decode(spark):
    out = mm.multimodal_features(_docs(spark), fake_decode=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["n_bytes"] == len("alpha beta gamma delta epsilon zeta eta theta")
    assert rows[0]["header_byte"] == ord("a")
    assert rows[0]["modality"] == "image" and rows[1]["modality"] == "audio"
    assert rows[0]["content_hash"] == rows[1]["content_hash"]


def test_ppm_encode_decode_roundtrip_and_header_grammar():
    import numpy as np

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert (mm.decode_ppm(mm.encode_ppm(img)) == img).all()
    # netpbm header grammar: comments and arbitrary whitespace between
    # tokens must parse (a real-world PPM writer emits these)
    raw = b"P6 # comment\n# another\n 3\t2 # w h\n255\n" + img.tobytes()
    assert (mm.decode_ppm(raw) == img).all()
    with pytest.raises(ValueError, match="P6"):
        mm.decode_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="maxval"):
        mm.decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")


def test_multimodal_resize_real_pixel_math(spark):
    # decode of REAL P6 bytes + block-average resize, checked against
    # hand-computed pixel math for doc 0: pixel(x,y,c) = ((y*16+x)*3+c)%256
    import numpy as np

    out = mm.multimodal_resize(_docs(spark), out_w=4, out_h=3)
    rows = {r["doc_id"]: r for r in out.collect()}
    r0 = rows[0]
    assert (r0["width"], r0["height"], r0["out_w"], r0["out_h"]) == (16, 12, 4, 3)
    ramp = (np.arange(16 * 12 * 3, dtype=np.int64) % 256).reshape(12, 16, 3)
    exp_mean_r = np.floor(ramp[..., 0].mean() * 1e6) / 1e6
    exp_r00 = np.floor(ramp[:4, :4, 0].mean() * 1e6) / 1e6
    exp_b_last = np.floor(ramp[8:, 12:, 2].mean() * 1e6) / 1e6
    assert r0["mean_r"] == exp_mean_r
    assert r0["r00"] == exp_r00
    assert r0["b_last"] == exp_b_last
    # the doc_id*7 offset shifts every pixel: doc 1 differs from doc 0
    assert rows[1]["r00"] != rows[0]["r00"]


def test_multimodal_frame_sampling_fanout(spark):
    out = mm.multimodal_frames(_docs(spark), every_n=2)
    rows = out.collect()
    # only video-modality docs (doc_id % 3 == 2) fan out
    assert {r["doc_id"] for r in rows} == {2}
    base = "alpha beta gamma delta epsilon zeta eta theta iota"
    n_frames = len(base) % 7 + 1
    assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == list(
        range(0, n_frames, 2)
    )
    import hashlib

    first = next(r for r in rows if r["frame_idx"] == 0)
    assert first["frame_hash"] == hashlib.md5(base[:8].encode()).hexdigest()


def test_multimodal_decode_stub_raises_without_libs():
    with pytest.raises(NotImplementedError):
        mm._decode_stub(b"bytes", "image", fake=False)


def test_function_queries_stay_jvm_side(spark):
    # every text/dedup op must compile to pure Catalyst exprs — no
    # BatchEvalPython (row-at-a-time Python) anywhere (input_hint).
    for df in (
        txt.token_stats(_docs(spark)),
        txt.quality_score(_docs(spark)),
        dd.exact_dedup(_docs(spark)),
        dd.simhash(_docs(spark)),
        sim.ann_bruteforce_topk(_emb(spark), n_queries=2, top_k=1, dim=4),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    from chomper_spark.functions import curation as cur

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en" if i % 2 == 0 else "de") for i in range(400)],
        "doc_id long, text string, lang string",
    )
    out = cur.stratified_sample(docs, {"en": 0.0, "de": 1.0})
    kept = {r["doc_id"]: r["kept"] for r in out.collect()}
    assert not any(kept[i] for i in range(0, 400, 2))   # en: rate 0
    assert all(kept[i] for i in range(1, 400, 2))       # de: rate 1
    # a mid rate keeps roughly that fraction, identically across runs
    mid = cur.stratified_sample(docs, {"en": 0.5}, default_rate=0.5)
    a = {r["doc_id"]: r["kept"] for r in mid.collect()}
    b = {r["doc_id"]: r["kept"] for r in mid.collect()}
    assert a == b
    frac = sum(a.values()) / len(a)
    assert 0.35 < frac < 0.65


def test_pack_chunks_layout(spark):
    from chomper_spark.functions import curation as cur

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(12)], "doc_id long, text string"
    )
    out = cur.pack_chunks(docs, budget=25, n_shards=1).collect()
    rows = sorted(out, key=lambda r: r["doc_id"])
    # 10-token docs into 25-token sequences: offsets cycle 0,10,20,5,15,...
    assert [r["offset"] for r in rows[:5]] == [0, 10, 20, 5, 15]
    assert [r["seq_in_shard"] for r in rows[:5]] == [0, 0, 0, 1, 1]
    # every doc placed exactly once; cumulative layout is gapless
    total = sum(r["n_tokens"] for r in rows)
    last = rows[-1]
    assert last["seq_in_shard"] * 25 + last["offset"] == total - last["n_tokens"]


def test_decontaminate_flags_ngram_overlap(spark):
    from chomper_spark.functions import curation as cur

    eval_doc = (0, "the quick brown fox jumps over the lazy dog")
    docs = spark.createDataFrame(
        [
            eval_doc,                                         # doc 0: eval (0 % 97 == 0)
            (1, "prefix the quick brown fox jumps suffix x"), # shares a 5-gram
            (2, "completely different words entirely here"),  # clean
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["contaminated"] for r in cur.decontaminate(docs).collect()}
    assert out == {1: True, 2: False}  # eval doc itself excluded from output


def test_repetition_stats_flags_repetitive_docs(spark):
    docs = spark.createDataFrame(
        [(0, "buy now buy now buy now buy now"),  # pure repetition
         (1, "each word here appears exactly once total")],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in txt.repetition_stats(docs).collect()}
    assert r[0]["dup_bigram_frac"] > 0.8 and r[0]["top_bigram_frac"] > 0.5
    assert r[1]["dup_bigram_frac"] == 0.0


def test_redact_pii(spark):
    docs = spark.createDataFrame(
        [(0, "mail me at jane.doe+x@example.org or call 555-123-4567 now"),
         (1, "nothing sensitive here")],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in txt.redact_pii(docs).collect()}
    assert r[0]["text_redacted"] == "mail me at <EMAIL> or call <PHONE> now"
    assert r[0]["n_emails"] == 1 and r[0]["n_phones"] == 1
    assert r[1]["text_redacted"] == "nothing sensitive here"
    assert r[1]["n_emails"] == 0 and r[1]["n_phones"] == 0


def test_stratified_sample_sql_empty_rates_parses():
    import duckdb

    from chomper_spark.functions import curation as cur

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT 1::BIGINT AS doc_id, 'en' AS lang, 't' AS text")
    out = con.sql(cur.stratified_sample_sql({}, default_rate=1.0)).df()
    assert bool(out["kept"][0]) is True


def test_simhash_recall_survives_cap_on_realistic_corpus(spark):
    # the round-3 scale flaw: 32-bit signatures with 256-value chunks
    # put ~n/256 docs in EVERY bucket, so at corpus scale the member
    # cap truncated every bucket and recall collapsed to the lowest
    # cap doc_ids.  With 60-bit/15-bit chunks a 2000-doc varied corpus
    # leaves buckets nearly singleton: a planted near-dup pair must
    # survive a cap (8) that is far below n/256 ≈ 8 — the regime where
    # the old design was already dropping true pairs.
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(20))) for i in range(2000)
    ]
    planted = rows[123][1]  # doc 9000 duplicates doc 123 → hamming 0
    rows.append((9000, planted))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.simhash_pairs(docs, chunk_cap=8).collect()
    }
    assert (123, 9000) in pairs
    # and the bucket distribution is non-degenerate: no chunk bucket
    # anywhere near the 2000/256 ≈ 8 the 8-bit design would average
    stats = dd.simhash_candidate_stats(docs, chunk_cap=8).collect()
    assert max(r["members"] for r in stats) <= 8
    assert sum(r["members_dropped"] for r in stats) == 0


def test_dedup_clusters_keeps_degenerate_pair_docs(spark):
    # review catch: docs whose only pairs are degenerate — a self-loop
    # (a,a) or a NULL partner — must still appear as their own
    # singleton clusters: the contract is "every doc appearing in >= 1
    # pair"
    pairs = spark.createDataFrame(
        [(1, 2), (7, 7), (9, None), (None, 13)], "doc_a long, doc_b long"
    )
    for alg in ("auto", "star"):
        out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
               for r in dd.dedup_clusters(pairs, algorithm=alg).collect()}
        assert out == {1: (1, True), 2: (1, False), 7: (7, True),
                       9: (9, True), 13: (13, True)}, alg


def test_incremental_dedup_recrawl_of_canonical_not_flagged(spark):
    # a replay/re-crawl of the canonical doc itself (same doc_id, hash
    # already in the index pointing at it) is NOT a duplicate; another
    # doc with that hash is
    from pyspark.sql import functions as F

    new = spark.createDataFrame(
        [(11, "same text"), (42, "same text")], "doc_id long, text string"
    )
    # the index hash must equal md5("same text") — derive it
    h = new.select(F.md5("text").alias("h")).first()["h"]
    known = spark.createDataFrame([(h, 11)], "text_hash string, canonical_doc_id long")
    out = {r["doc_id"]: r["is_duplicate"]
           for r in dd.incremental_exact_dedup(known, new).collect()}
    assert out == {11: False, 42: True}


def test_incremental_emb_neardup_against_engine_index(spark, tmp_path):
    # the vector-LSH index lives in the MERGE engine keyed
    # (band_idx, bucket, vec_id), bucketed on the band prefix; an
    # arriving embedding batch classifies in O(batch) with exact
    # cosine verified on candidates only
    import numpy as np

    from chomper_spark.functions import similarity as sim
    from chomper_spark.operators.merge import SnapshotMergeSink

    rng = np.random.default_rng(7)
    base = rng.normal(0, 1, 64).astype("float32")
    other = rng.normal(0, 1, 64).astype("float32")
    rows = [(10, [float(x) for x in base]), (12, [float(x) for x in other])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sink = SnapshotMergeSink(
        spark, str(tmp_path / "eidx"), n_buckets=4,
        key_cols=["band_idx", "bucket", "vec_id"],
        bucket_cols=["band_idx", "bucket"],
    )
    sink.apply_batch(sim.emb_band_index_events(corpus, 0), 0, collect_metrics=False)
    n_before = sink.read().count()
    m = sink.apply_batch(sim.emb_band_index_events(corpus, 0), 0, collect_metrics=False)
    assert m.skipped and sink.read().count() == n_before  # exactly-once

    near = base + rng.normal(0, 0.02, 64).astype("float32")  # ~0.999 cosine
    batch = spark.createDataFrame(
        [
            (31, [float(x) for x in near]),
            (33, [float(x) for x in near]),       # exact intra-batch dup of 31
            (10, [float(x) for x in base]),       # re-ingest of corpus id
        ],
        "vec_id long, embedding array<float>",
    )
    bands = sim.embedding_bands(batch)
    index = sink.read_prune_for(bands.select("band_idx", "bucket")).select(
        "band_idx", "bucket", "vec_id"
    )
    out = {(r["vec_id"], r["dup_of"]): r["cosine"]
           for r in sim.incremental_emb_neardup(
               index, batch, corpus, threshold=0.9).collect()}
    assert (31, 10) in out and out[(31, 10)] > 0.99
    assert out.get((33, 31)) == 1.0
    assert (10, 10) not in out  # re-ingest never self-matches
    assert not any(12 in k for k in out)
