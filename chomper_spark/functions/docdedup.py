"""Document deduplication family — exact, n-gram Jaccard, MinHash+LSH,
SimHash — over the ``documents`` table.

These are the operators a 100 TB training-data pipeline needs that the
reference (a row-at-a-time ETL loop) has no analogue for; they extend
the SURVEY.md §2 inventory as first-class engine capabilities.

Design for scale:
  * exact        — one hash-partitioned window on md5(text): shuffle is
                   on the 128-bit hash, never the raw text (tiny keys).
  * n-gram Jaccard — candidate pairs come from a join on *shared
                   shingles* (lossless: Jaccard > 0 ⇔ ≥1 shared
                   shingle), then exact Jaccard on the candidates.
                   Shuffle is on the shingle; no O(n²) cross join.
  * MinHash+LSH  — the real 100 TB path: K min-hashes per doc (one
                   groupBy), banding (B bands × R rows), candidates =
                   pairs sharing a band bucket (equi-join on band
                   value), exact Jaccard verified on candidates only.
  * SimHash      — 60-bit majority-of-token-hash-bits signature; near-
                   dup candidates via 15-bit chunk banding (pigeonhole:
                   hamming ≤ 3 ⇒ at least one of 4 chunks equal — a
                   lossless filter), hamming verified with bit_count.

Everything is deterministic md5-based hashing so the DuckDB oracle
reproduces results exactly (see functions/text.py for the hex60
convention).  No Python UDFs anywhere — all codegen'd Column exprs.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, Window, functions as F

from chomper_spark.functions.bands import (
    band_pairs,
    batch_wins,
    bucket_stats,
    cap_per_bucket,
    incremental_candidates,
    incremental_candidates_sql,
    index_events,
)
from chomper_spark.functions.text import hex60_duck, hex60_spark, stable6, stable6_sql

SHINGLE_N = 3
MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS = 3  # K = BANDS * ROWS
BAND_COLS = ["band_idx", "band_val"]  # MinHash band melt / index bucket key
SIMHASH_BITS = 60  # hex60(md5) yields 60 bits; 32-bit signatures saturate
#                    corpus-scale chunk buckets (see simhash_pairs)
SIMHASH_CHUNKS = 4  # 15-bit chunks → lossless for hamming <= 3
SIMHASH_CHUNK_BITS = 15  # 2^15 = 32768 values per chunk (~128x the 8-bit
#                          granularity the 32-bit design had)
CHUNK_COLS = ["chunk_idx", "chunk_val"]  # SimHash chunk melt bucket key
HAMMING_MAX = 3


# ---------------------------------------------------------------- shingling


def _shingle_array(n: int):
    """Each doc's n-token shingles as one codegen'd array expression."""
    return F.expr(
        f"transform(sequence(1, greatest(size(split(text, ' ')) - {n - 1}, 1)), "
        f"i -> array_join(slice(split(text, ' '), i, {n}), ' '))"
    )


def shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Distinct n-token shingles per doc (one explode; DISTINCT
    shuffles on (doc_id, shingle))."""
    return docs.select("doc_id", F.explode(_shingle_array(n)).alias("shingle")).distinct()


def _shingles_sql(n: int = SHINGLE_N) -> str:
    return (
        "SELECT DISTINCT doc_id, shingle FROM ("
        "SELECT doc_id, unnest(list_transform("
        f"range(1, greatest(len(string_split(text, ' ')) - {n - 1}, 1) + 1), "
        f"i -> array_to_string((string_split(text, ' '))[i:i+{n - 1}], ' '))) AS shingle "
        "FROM documents)"
    )


# The exact shingle-Jaccard verify, shared by every shingle oracle: the
# ``sz`` (set size) and ``common`` (shared shingles) CTEs over a
# ``cand`` CTE of (doc_a, doc_b) pairs and the ``su`` shingle CTE; the
# final SELECT reads the 6-decimal ``_JACCARD_SQL`` ``_JACCARD_FROM`` them.
_JACCARD_CTES = """sz AS (SELECT doc_id, count(*) AS n_sh FROM su GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS common
  FROM cand c
  JOIN su a ON a.doc_id = c.doc_a
  JOIN su b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)"""
_JACCARD_SQL = stable6_sql("common::DOUBLE / (x.n_sh + y.n_sh - common)::DOUBLE")
_JACCARD_FROM = "FROM common c JOIN sz x ON c.doc_a = x.doc_id JOIN sz y ON c.doc_b = y.doc_id"


# -------------------------------------------------------------- exact dedup


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: group on md5(text), canonical = min doc_id."""
    w = Window.partitionBy("text_hash")
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_doc_id"))
    )


EXACT_DEDUP_SQL = """
SELECT doc_id,
       md5(text) AS text_hash,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents
"""


# ------------------------------------------------------- n-gram Jaccard dedup


MAX_SHINGLE_DF = 500  # candidate-generation document-frequency cap


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    max_df: int = MAX_SHINGLE_DF,
    persist_shingles: bool = False,
) -> DataFrame:
    """Near-dup pairs with exact n-gram Jaccard ≥ threshold.

    Candidate generation joins on shared shingles but DROPS shingles
    whose document frequency exceeds ``max_df`` first: a shingle in d
    docs emits O(d²) candidate pairs, so one stop-word trigram ("of
    the and") at corpus scale is a cartesian product wearing a join
    key.  Standard DF-capping; recall loss at threshold ≥ 0.8 is tiny
    because a ≥0.8-Jaccard pair shares many shingles and only the
    globally-common ones are dropped.  The exact Jaccard verify still
    uses the FULL shingle sets — the cap only limits which pairs are
    considered, mirrored exactly in the DuckDB oracle.

    ``persist_shingles``: the shingle frame is referenced by ~4 plan
    subtrees (DF filter, candidate join, size + common verify), so
    without caching the corpus text is re-shingled per subtree.
    Measured at sf0.1 (see BASELINE.md round-5 note): recompute wins
    on this corpus — shingling is cheap codegen'd string work while
    persist pays MEMORY_AND_DISK materialization + lineage-blocking,
    and Spark reuses the scan via in-memory parquet footers.  At
    100 TB the trade flips when text IO dominates: pass True there
    (or persist upstream) — the knob exists so the choice is explicit
    and measurable rather than implicit."""
    # Round-6 restructure (guide §1.2 "the distributed algorithm").
    # One explode+collect_set shuffle builds the per-doc DISTINCT
    # shingle-set arrays; the exploded occurrence view derives from it.
    #
    # The candidate self-join yields, per pair, the count of shared
    # RARE shingles (count instead of distinct — same join, same
    # shuffle).  Exact common = common_rare + common_hot with
    # common_hot ≤ min(hot_a, hot_b) (hot_x = doc x's count of
    # capped-out shingles), and jaccard is monotone in common for
    # fixed sizes, so
    #   ub = (common_rare + min(hot_a, hot_b)) /
    #        (n_a + n_b - common_rare - min(hot_a, hot_b))
    # is a TRUE upper bound: pairs with ub < threshold are pruned
    # before the exact verify — never a qualifying pair (ub ≥ true
    # jaccard), only skipped work.  The few survivors verify EXACTLY
    # via size(array_intersect) of their full shingle sets — replacing
    # the former full-shingle-set join of EVERY candidate pair (the
    # measured 70%+ of this query's runtime: ~1.1M candidate pairs ×
    # ~50 shingles each at sf0.1, of which 256 survive).
    sets = shingle_sets(docs, SHINGLE_N)
    if persist_shingles:
        from pyspark import StorageLevel

        sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    occ = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    # per-shingle document frequency via groupBy (NOT a window over
    # partitionBy(shingle): that would shuffle every occurrence of a hot
    # shingle into ONE task — reintroducing, as a single-task sort
    # buffer, the exact stop-word hot spot the cap exists to kill).
    rare_shingles = (
        occ.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("shingle")
    )
    rare = occ.join(rare_shingles, "shingle", "left_semi")
    pair_rare = (
        rare.alias("a")
        .join(rare.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("_common_rare"))
    )
    sizes = (
        sets.select("doc_id", F.size("shingles").alias("n_sh"))
        .join(
            rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n_rare")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_sh",
            (F.col("n_sh") - F.coalesce(F.col("_n_rare"), F.lit(0))).alias("_n_hot"),
        )
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.col("_n_hot").alias("_hot_a"),
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("_n_hot").alias("_hot_b"),
    )
    ub_common = F.col("_common_rare") + F.least(F.col("_hot_a"), F.col("_hot_b"))
    survivors = (
        pair_rare.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            ub_common.cast("double")
            / (F.col("n_a") + F.col("n_b") - ub_common).cast("double")
            >= F.lit(threshold) - F.lit(1e-9)
        )
        .select("doc_a", "doc_b")
    )
    return _pair_jaccard_sets(survivors, sets).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_sql(threshold: float = 0.8, max_df: int = MAX_SHINGLE_DF) -> str:
    return f"""
WITH su AS ({_shingles_sql()}),
rare AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS _df FROM su)
  WHERE _df <= {max_df}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_JACCARD_CTES}
SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
{_JACCARD_FROM}
WHERE {_JACCARD_SQL} >= {threshold}
"""


# ------------------------------------------------------------- MinHash + LSH


def _band_rows(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """Melt a signature frame (doc_id, h0..h{k-1}) into LSH band rows
    (doc_id, band_idx, band_val): band b is the md5 of its ``rows``
    consecutive signature values."""

    def band(b: int):
        return F.md5(F.concat_ws("|", *[F.col(f"h{b * rows + r}") for r in range(rows)]))

    bv = F.array(
        *[F.struct(F.lit(b).alias("band_idx"), band(b).alias("band_val")) for b in range(bands)]
    )
    return sig.select("doc_id", F.explode(bv).alias("bv")).select(
        "doc_id", "bv.band_idx", "bv.band_val"
    )


def minhash_bands(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Melt each doc's MinHash signature into LSH band rows
    (doc_id, band_idx, band_val) — the candidate-generation key AND
    the row shape of the persistent band index (see
    ``incremental_neardup``).

    Round 6: signatures come from the one-shuffle set-based projection
    (``shingle_sets`` + ``_signature_cols``) instead of the two-shuffle
    explode→distinct→groupBy-min — value-identical (pinned by
    ``test_minhash_signature_projection_equals_groupby_min``)."""
    return _band_rows(shingle_sets(docs).select("doc_id", *_signature_cols(k)), bands, rows)


def shingle_sets(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingles: array<string>) — each doc's DISTINCT shingle
    set in ONE shuffle: explode + collect_set (the set dedups, so no
    separate DISTINCT exchange).  The compact per-doc form that lets
    signatures become projections and pair verification become an
    array intersection (round 6, guide §2.3: shuffle sets once instead
    of re-exploding per consumer)."""
    return (
        docs.select("doc_id", F.explode(_shingle_array(n)).alias("shingle"))
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shingles"))
    )


def _pair_jaccard_sets(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Exact Jaccard for (doc_a, doc_b) pairs from per-doc shingle-set
    arrays: common = |array_intersect| — identical to the exploded
    shared-shingle count, computed in one codegen'd expression per pair
    instead of a candidate × shingle join + re-aggregate."""
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_sh_b"))
    common = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    denom = F.size(F.col("_sh_a")) + F.size(F.col("_sh_b")) - common
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            stable6(common.cast("double") / denom.cast("double")).alias("jaccard"),
        )
    )


def _signature_cols(k: int):
    """MinHash signature columns from a ``shingles`` set array — a pure
    projection (array_min over per-salt md5 transforms), no shuffle;
    value-identical to an exploded per-salt groupBy-min (pinned by
    ``test_minhash_signature_projection_equals_groupby_min``).

    The per-salt lambda comes from a factory, NOT ``lambda s, i=i``:
    a defaulted second parameter makes the lambda arity 2, which
    ``F.transform`` interprets as (element, INDEX) — the index column
    would silently overwrite the salt (caught by the sf1.0 scale
    selfcheck; sf0.01 happened to mask it)."""

    def _salted_md5(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))

    return [
        F.array_min(F.transform(F.col("shingles"), _salted_md5(i))).alias(f"h{i}")
        for i in range(k)
    ]


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """MinHash+LSH near-dup: candidates = pairs agreeing on ≥1 band,
    verified with exact Jaccard (computed only for candidates — this is
    the scale path: candidate count ≪ n²).

    Round-6 shape: ONE explode+collect_set shuffle produces per-doc
    shingle-set arrays; signatures/bands are projections over it, and
    the candidate verify intersects the two arrays directly — the
    former plan re-exploded the corpus into (doc_id, shingle) rows four
    times (signature build, size join ×2, shared-shingle count join)."""
    sets = shingle_sets(docs)
    melted = _band_rows(sets.select("doc_id", *_signature_cols(k)), bands, rows)
    cand = band_pairs(
        melted, melted, BAND_COLS, "doc_id", operator.lt, ("doc_a", "doc_b")
    ).distinct()
    return _pair_jaccard_sets(cand, sets)


def _minhash_bands_sql(k: int, bands: int, rows: int) -> str:
    """DuckDB twin of ``minhash_bands`` over the ``su`` shingle CTE: the
    ``sig`` (groupBy-min signature) and ``bands`` (UNION ALL melt) CTEs."""
    mins = ", ".join(f"min(md5(concat('{i}|', shingle))) AS h{i}" for i in range(k))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(concat_ws('|', {', '.join(f'h{b * rows + r}' for r in range(rows))})) AS band_val "
        "FROM sig"
        for b in range(bands)
    )
    return f"sig AS (SELECT doc_id, {mins} FROM su GROUP BY doc_id),\nbands AS ({band_selects})"


def minhash_lsh_sql(
    k: int = MINHASH_K, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> str:
    return f"""
WITH su AS ({_shingles_sql()}),
{_minhash_bands_sql(k, bands, rows)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
{_JACCARD_CTES}
SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
{_JACCARD_FROM}
"""


# --------------------------------------------------- incremental exact dedup


def incremental_exact_dedup(known: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Classify a NEW batch of documents against an existing corpus
    hash index — the shape a continuously-ingesting pipeline actually
    runs: re-hashing the whole corpus per arriving batch is O(corpus),
    this is O(batch) + one equi-join on the 128-bit hash (text never
    shuffles).  The index is a plain (text_hash, canonical_doc_id)
    relation — maintain it with ``hash_index_events`` through a
    SnapshotMergeSink keyed on text_hash, so index maintenance gets the
    engine's exactly-once ledger/replay semantics for free.

    Returns one row per new doc: (doc_id, text_hash, canonical_doc_id,
    is_duplicate).  canonical = the existing corpus doc when the hash
    is known, else the min doc_id within the new batch; is_duplicate ⇔
    the doc is not its own canonical — so a re-crawl/replay of the
    canonical doc itself (same doc_id arriving again) is NOT flagged,
    while corpus hits by other docs and intra-batch non-canonical
    repeats are.
    """
    hashed = new_docs.select("doc_id", F.md5("text").alias("text_hash"))
    batch_canon = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("_batch_canon")
    )
    idx = known.select(
        "text_hash", F.col("canonical_doc_id").alias("_known_canon")
    )
    return (
        hashed.join(batch_canon, "text_hash")
        .join(idx, "text_hash", "left")
        .select(
            "doc_id",
            "text_hash",
            F.coalesce("_known_canon", "_batch_canon").alias("canonical_doc_id"),
            (
                F.coalesce("_known_canon", "_batch_canon") != F.col("doc_id")
            ).alias("is_duplicate"),
        )
    )


def hash_index_events(new_docs: DataFrame, batch_seq: int) -> DataFrame:
    """One upsert event per distinct hash in the batch, shaped for a
    SnapshotMergeSink keyed on text_hash.  Apply with
    ``apply_batch(update_only_nulls=True)``: a hash already in the
    index keeps its original canonical_doc_id (first writer wins —
    canonical identity must never migrate to a later duplicate), new
    hashes insert."""
    return (
        new_docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"))
        .select(
            F.lit("I").alias("op"),
            F.to_timestamp(F.lit("2026-01-01")).alias("op_ts"),
            F.lit(batch_seq).cast("long").alias("batch_seq"),
            "text_hash",
            "canonical_doc_id",
        )
    )


def incremental_exact_dedup_sql() -> str:
    """DuckDB twin for the driver query: index = even doc_ids (the
    already-ingested corpus), new batch = odd doc_ids."""
    return """
WITH known AS (
  SELECT md5(text) AS text_hash, min(doc_id) AS known_canon
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
),
new_batch AS (
  SELECT doc_id, md5(text) AS text_hash FROM documents WHERE doc_id % 2 = 1
),
bc AS (SELECT text_hash, min(doc_id) AS batch_canon FROM new_batch GROUP BY 1)
SELECT n.doc_id, n.text_hash,
       coalesce(k.known_canon, b.batch_canon) AS canonical_doc_id,
       (coalesce(k.known_canon, b.batch_canon) <> n.doc_id) AS is_duplicate
FROM new_batch n
JOIN bc b ON n.text_hash = b.text_hash
LEFT JOIN known k ON n.text_hash = k.text_hash
"""


# ------------------------------------------- incremental NEAR-dup (X40b)

INDEX_BUCKET_CAP = 64  # lowest doc_ids considered per band bucket


def band_index_events(
    new_docs: DataFrame,
    batch_seq: int,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Insert events for the persistent MinHash band index, a
    SnapshotMergeSink keyed (band_idx, band_val, doc_id) and bucketed on
    the band prefix (``bands.index_events``): an arriving batch probes
    only the buckets its own bands land in (``read_prune_for``), so
    candidate generation is O(batch), never O(corpus).  The near-dup
    twin of ``hash_index_events``."""
    return index_events(minhash_bands(new_docs, k, bands, rows), batch_seq, BAND_COLS, "doc_id")


def incremental_neardup(
    index: DataFrame,
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.8,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    batch_bands: DataFrame | None = None,
    index_bucket_cap: int = INDEX_BUCKET_CAP,
    cache_registry: list | None = None,
) -> DataFrame:
    """Classify a NEW batch of documents for near-duplicates against a
    persistent MinHash band index — the only near-dup shape that holds
    on a continuously-ingesting 100 TB store: re-running LSH over the
    whole corpus per arriving batch is O(corpus); this is O(batch)
    signatures + a band-join against the (bucketed, prunable) index +
    exact-Jaccard verification on the candidates only.

    ``index``       — (band_idx, band_val, doc_id) rows of the already-
                      ingested corpus (maintain via ``band_index_events``
                      through a SnapshotMergeSink; pass the
                      ``read_prune_for(batch_bands)`` projection so only
                      probed buckets are scanned).
    ``corpus_docs`` — (doc_id, text) for corpus docs; read only to
                      verify candidates (semi-join pruned to candidate
                      ids — a point-ish lookup, never a corpus scan).

    Returns (doc_id, dup_of, jaccard): one row per verified near-dup
    link where ``doc_id`` is a batch doc and ``dup_of`` is either a
    corpus doc or an earlier (lower-id) doc of the same batch.  A
    re-crawl of a doc_id already in the corpus never matches itself.

    ``batch_bands``: pass a PERSISTED ``minhash_bands(new_docs)``
    frame when the caller already computed it (it must — the index
    probe needs it): it feeds the index probe and both candidate
    joins, and uncached the batch is re-shingled per subtree.  It is
    O(batch × bands) tiny rows, so caching it pays at every scale.

    ``index_bucket_cap``: the index join considers only the lowest
    doc_ids per (band_idx, band_val) — see
    ``bands.incremental_candidates``; saturation is observable via
    ``bands.bucket_stats`` of the index rows.

    ``cache_registry``: the function persists two candidate-bounded
    frames (candidates first); a looping caller (StreamingNearDup)
    passes a list to collect them and unpersists after consuming the
    result, so a long-running stream never accumulates cache entries."""
    if batch_bands is None:
        batch_bands = minhash_bands(new_docs, k, bands, rows)
    cand = incremental_candidates(
        index, batch_bands, BAND_COLS, "doc_id", index_bucket_cap,
        ("doc_a", "doc_b"), cache_registry,
    )
    # verify on candidates only: shingle just the docs that appear in a
    # candidate pair (left_semi prune), never the whole corpus; a
    # re-crawled doc verifies with its batch text
    texts = batch_wins(new_docs, corpus_docs, "doc_id", "text")
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # round 6: verify via per-doc shingle-set arrays (one
    # explode+collect_set shuffle over the candidate docs only) and a
    # codegen'd array_intersect per pair — same exact jaccard as the
    # exploded shared-shingle join, two fewer joins and no re-explosion
    sets = shingle_sets(texts.join(ids, "doc_id", "left_semi")).persist()
    if cache_registry is not None:
        cache_registry.append(sets)
    return (
        _pair_jaccard_sets(cand, sets)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("dup_of"),
            "jaccard",
        )
    )


def incremental_neardup_sql(
    threshold: float = 0.8,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    index_bucket_cap: int = INDEX_BUCKET_CAP,
) -> str:
    """DuckDB twin: index = band rows of even doc_ids (the ingested
    corpus), new batch = odd doc_ids — same split convention as
    ``incremental_exact_dedup_sql``."""
    cand = incremental_candidates_sql(
        "bands", BAND_COLS, "doc_id", index_bucket_cap, ("doc_a", "doc_b")
    )
    return f"""
WITH su AS ({_shingles_sql()}),
{_minhash_bands_sql(k, bands, rows)},
{cand},
{_JACCARD_CTES}
SELECT c.doc_a AS doc_id, c.doc_b AS dup_of, {_JACCARD_SQL} AS jaccard
{_JACCARD_FROM}
WHERE {_JACCARD_SQL} >= {threshold}
"""


# ------------------------------------------------------- duplicate clusters


def _undirect(e: DataFrame) -> DataFrame:
    """Canonical both-direction edge set: distinct, no self-loops."""
    return (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_components(edges: DataFrame, max_iters: int = 40) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the adversarial-graph path: converges in O(log d) alternations even
    on long chains, where min-label propagation needs diameter rounds.

    Each alternation transforms the EDGE SET (both-direction form):
      large-star(u): every neighbor v > u re-attaches to
          m(u) = min(N(u) ∪ {u});
      small-star(u): every neighbor v ≤ u, and u itself, attach to m(u).
    The fixpoint is a forest of stars centered at each component's
    minimum node.  Per alternation: two groupBy-min + two joins over
    the edge list only (never the corpus); lineage is truncated per
    round with an eager localCheckpoint so the iteration cannot
    accumulate plan depth or cached orphans.

    ``edges`` must be the both-direction form; returns
    (doc_id, cluster_id) for every node."""
    edges = edges.localCheckpoint(eager=True)
    for _ in range(max_iters):
        # large-star
        mins = edges.groupBy("src").agg(F.min("dst").alias("_mn"))
        mins = mins.select("src", F.least("_mn", F.col("src")).alias("m"))
        large = (
            edges.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        edges2 = _undirect(large).localCheckpoint(eager=True)
        # small-star
        mins = edges2.groupBy("src").agg(F.min("dst").alias("_mn"))
        mins = mins.select("src", F.least("_mn", F.col("src")).alias("m"))
        small = (
            edges2.join(mins, "src")
            .filter(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(mins.select(F.col("src").alias("src"), F.col("m").alias("dst")))
        )
        new_edges = _undirect(small).localCheckpoint(eager=True)
        # fixpoint = identical edge sets (same count + empty one-way diff)
        if (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).limit(1).count() == 0
        ):
            edges = new_edges
            break
        edges = new_edges
    else:
        raise RuntimeError(
            f"star components did not converge in {max_iters} alternations"
        )
    # star forest: every non-center node has exactly one smaller
    # neighbor — its component's minimum; centers label themselves
    leaves = (
        edges.filter(F.col("dst") < F.col("src"))
        .groupBy("src")
        .agg(F.min("dst").alias("cluster_id"))
        .select(F.col("src").alias("doc_id"), "cluster_id")
    )
    centers = (
        edges.select("src")
        .distinct()
        .join(leaves.select(F.col("doc_id").alias("src")), "src", "left_anti")
        .select(F.col("src").alias("doc_id"), F.col("src").alias("cluster_id"))
    )
    return leaves.unionByName(centers)


def dedup_clusters(
    pairs: DataFrame,
    col_a: str = "doc_a",
    col_b: str = "doc_b",
    max_iters: int = 25,
    algorithm: str = "auto",
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS (connected
    components) and pick a canonical doc per cluster — the step a
    dedup pipeline actually acts on ("keep one per cluster").

    Iterative min-label propagation (Pregel-style connected
    components): every node starts labeled with itself; each round a
    node takes the min of its own and its neighbors' labels; converged
    when no label changes.  Rounds needed = component diameter —
    near-dup clusters are shallow (dupes of one source), so this
    terminates in a few rounds.  Per-round cost: one shuffle join of
    the (small) edge list against the label table + one aggregate — at
    10^10 docs the edge list is the candidate-pair output, orders of
    magnitude smaller than the corpus.

    ``algorithm``: "auto" (default) runs min-label and, if ``max_iters``
    rounds do not converge (adversarial chain-shaped graphs),
    escalates to the large-star/small-star variant
    (``_star_components``) which converges in O(log d) alternations;
    "star" goes straight there; "label" preserves the raise-on-
    exhaustion behavior for callers that treat deep components as a
    data-quality signal.

    Returns (doc_id, cluster_id, is_canonical) for every doc appearing
    in ≥1 pair; cluster_id = min doc_id of the component."""
    if algorithm not in ("auto", "star", "label"):
        raise ValueError(f"algorithm must be auto|star|label, got {algorithm!r}")
    # persist the projected pairs ONCE and materialize EAGERLY: the
    # edge set and the self-loop check both derive from it, and the
    # caller's pairs plan is typically an expensive candidate pipeline
    # (MinHash/LSH) that must not be recomputed per consumer.  Eager
    # matters: the first loop round otherwise fans out into concurrent
    # broadcast-exchange builds that each race to compute the still-
    # cold cache, re-running the candidate pipeline several times in
    # parallel (measured 6s → 25-100s bimodal wall on the same input).
    e = pairs.select(F.col(col_a).alias("src"), F.col(col_b).alias("dst")).persist()
    e.count()
    # _undirect drops degenerate pairs — self-loops (a,a) and pairs
    # with a NULL partner — but the contract is "every doc appearing in
    # ≥1 pair": a doc whose only pairs are degenerate is its own
    # singleton cluster.  Candidate generators never emit either shape,
    # so the reconciliation join is gated behind a cheap cached-probe
    # and costs nothing in the common case.
    degenerate = (
        e.filter(F.col("dst").isNull() | (F.col("src") == F.col("dst")))
        .select(F.col("src").alias("doc_id"))
        .unionByName(
            e.filter(F.col("src").isNull()).select(F.col("dst").alias("doc_id"))
        )
        .filter(F.col("doc_id").isNotNull())
        .distinct()
    )

    def _finish(labels: DataFrame) -> DataFrame:
        out = labels.select("doc_id", "cluster_id")
        if degenerate.limit(1).count() > 0:  # probe rides the e cache
            missing = degenerate.join(out, "doc_id", "left_anti").select(
                "doc_id", F.col("doc_id").alias("cluster_id")
            )
            out = out.unionByName(missing)
        return out.select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        ).localCheckpoint(eager=True)

    edges = _undirect(e).persist()
    if algorithm == "star":
        try:
            return _finish(_star_components(edges))
        finally:
            edges.unpersist()
            e.unpersist()
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("doc_id"), F.col("src").alias("cluster_id"))
        .persist()
    )
    try:
        # convergence probe: labels can only DECREASE (least of self and
        # neighbors), so a round changed something iff the label sum
        # dropped — one aggregate riding the materialization of the new
        # labels cache, instead of a second join-and-count job per round
        # (decimal sum: 10^10 nodes × int64-sized ids overflows BIGINT).
        label_sum = lambda df: df.agg(  # noqa: E731
            F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        prev_sum = label_sum(labels)
        for _ in range(max_iters):
            neigh = (
                edges.join(
                    labels.select(
                        F.col("doc_id").alias("dst"), F.col("cluster_id").alias("_nl")
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("_nl").alias("_min_neigh"))
            )
            new_labels = (
                labels.join(neigh.withColumnRenamed("src", "doc_id"), "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("cluster_id"), F.coalesce(F.col("_min_neigh"), F.col("cluster_id"))
                    ).alias("cluster_id"),
                )
                .persist()
            )
            new_sum = label_sum(new_labels)
            labels.unpersist()
            labels = new_labels
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            if algorithm == "label":
                raise RuntimeError(
                    f"dedup_clusters did not converge in {max_iters} rounds "
                    "(component diameter too large — use algorithm='star')"
                )
            # auto: a chain-shaped adversarial graph — escalate to
            # large-star/small-star, which needs O(log d) alternations
            labels.unpersist()
            return _finish(_star_components(edges))
        # materialize off the cache (the eager localCheckpoint inside
        # _finish truncates the per-round join lineage) so the final
        # labels cache can be released — callers get a self-contained
        # result, and repeated calls don't accumulate orphaned caches
        return _finish(labels)
    finally:
        edges.unpersist()
        labels.unpersist()
        e.unpersist()


def dedup_clusters_sql(pairs_sql: str, threshold: float | None = None) -> str:
    """DuckDB twin: recursive CTE reachability → min node per component.
    ``pairs_sql`` is any query yielding (doc_a, doc_b[, jaccard])."""
    where = f"WHERE jaccard >= {threshold}" if threshold is not None else ""
    return f"""
WITH RECURSIVE
pairs AS (SELECT * FROM ({pairs_sql}) {where}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, root) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
)
SELECT doc_id, min(root) AS cluster_id, doc_id = min(root) AS is_canonical
FROM reach GROUP BY doc_id
"""


# ------------------------------------------------------------------- SimHash


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash: bit p is set iff the majority of token hashes
    have bit p set (term frequency weighted — repeats count).  One
    explode + one groupBy with ``bits`` (60) conditional sums
    (map-side combine)."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).withColumn("h", F.expr(hex60_spark("tok")))
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.expr(f"shiftright(h, {p}) & 1")).alias(f"s{p}")
            for p in range(bits)
        ],
    )
    sim = None
    for p in range(bits):
        term = F.when(F.col(f"s{p}") * 2 > F.col("n"), F.lit(1 << p)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    sums = ", ".join(f"sum((h >> {p}) & 1) AS s{p}" for p in range(bits))
    sim = " + ".join(
        f"(CASE WHEN s{p} * 2 > n THEN {1 << p} ELSE 0 END)" for p in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {hex60_duck("tok")} AS h FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
),
agg AS (SELECT doc_id, count(*) AS n, {sums} FROM toks GROUP BY doc_id)
SELECT doc_id, ({sim})::BIGINT AS simhash FROM agg
"""


SIMHASH_CHUNK_CAP = 10_000  # max members per (chunk_idx, chunk_val) bucket


def _simhash_chunks(docs: DataFrame) -> DataFrame:
    """Melt each signature into (doc_id, simhash, chunk_idx, chunk_val)."""
    sig = simhash(docs)
    return sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.expr(
                            f"shiftright(simhash, {SIMHASH_CHUNK_BITS * c}) & {(1 << SIMHASH_CHUNK_BITS) - 1}"
                        ).alias("chunk_val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("cv"),
    ).select(
        "doc_id",
        "simhash",
        F.col("cv.chunk_idx").alias("chunk_idx"),
        F.col("cv.chunk_val").alias("chunk_val"),
    )


def simhash_pairs(
    docs: DataFrame,
    hamming_max: int = HAMMING_MAX,
    chunk_cap: int = SIMHASH_CHUNK_CAP,
) -> DataFrame:
    """SimHash near-dup pairs: candidates share one of 4 15-bit chunks
    (lossless for hamming ≤ 3 by pigeonhole), verified via bit_count.

    Chunk width is the corpus-scale recall dial: 8-bit chunks (256
    values) put ~n/256 docs in EVERY bucket, so any member cap collapses
    recall; 60-bit signatures with 15-bit chunks give 32768 values per
    chunk while staying lossless for hamming ≤ 3.  On mass-duplicate
    corpora ``chunk_cap`` still bounds each bucket's self-join to its
    lowest doc_ids (``bands.cap_per_bucket``); what it drops is
    observable via ``simhash_candidate_stats``.  The capped melt
    carries only (doc_id, simhash, two small ints), so the window sort
    that enforces the cap stays task-sized even on an all-equal corpus."""
    capped = cap_per_bucket(_simhash_chunks(docs), CHUNK_COLS, "doc_id", chunk_cap)
    return (
        capped.alias("a")
        .join(capped.alias("b"), CHUNK_COLS)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= hamming_max)
    )


def simhash_candidate_stats(
    docs: DataFrame, chunk_cap: int = SIMHASH_CHUNK_CAP
) -> DataFrame:
    """Per-(chunk_idx, chunk_val) occupancy + what the cap drops, over
    the same melt ``simhash_pairs`` caps."""
    return bucket_stats(_simhash_chunks(docs), CHUNK_COLS, chunk_cap)


def simhash_pairs_sql(
    hamming_max: int = HAMMING_MAX, chunk_cap: int = SIMHASH_CHUNK_CAP
) -> str:
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk_idx, "
        f"(simhash >> {SIMHASH_CHUNK_BITS * c}) & {(1 << SIMHASH_CHUNK_BITS) - 1} AS chunk_val FROM sig"
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH sig AS ({simhash_sql()}),
chunks AS ({chunk_selects}),
capped AS (
  SELECT doc_id, simhash, chunk_idx, chunk_val FROM (
    SELECT *, row_number() OVER (PARTITION BY chunk_idx, chunk_val ORDER BY doc_id) AS _rn
    FROM chunks)
  WHERE _rn <= {chunk_cap}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM capped a JOIN capped b
  ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {hamming_max}
"""
