"""Banded candidate generation, defined once for every near-dup family.

Each family melts its items into (id, band columns) rows — MinHash
bands and SimHash chunks in ``docdedup``, hyperplane bands in
``similarity``.  What follows the melt lives here: the per-bucket cap,
the occupancy stats, the band-join pairs, the incremental probe of a
persistent band index (and its DuckDB twin), the batch-wins verify
payload and the index events.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, Window, functions as F


def cap_per_bucket(
    df: DataFrame, part_cols: list[str], order_col: str, cap: int
) -> DataFrame:
    """THE deterministic bucket-cap convention, shared by every capped
    candidate generator (SimHash chunks, doc/embedding LSH bands, the
    incremental band indexes): keep the ``cap`` lowest ``order_col``
    values per ``part_cols`` bucket.  One definition so the Spark side
    and every DuckDB oracle (row_number() OVER (PARTITION BY …
    ORDER BY id) <= cap) can never drift apart."""
    w = Window.partitionBy(*part_cols).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def bucket_stats(melt: DataFrame, band_cols: list[str], cap: int) -> DataFrame:
    """Per-bucket occupancy + what ``cap`` drops — the "no silent caps"
    counter (``members_dropped`` members emit no candidates from that
    bucket).  Feed it the SAME melt (or index rows) the candidate
    generation caps, and through ``lineage.dedup_drop_lineage`` to make
    cap saturation a production signal."""
    return melt.groupBy(*band_cols).agg(
        F.count(F.lit(1)).alias("members"),
        F.greatest(F.count(F.lit(1)) - F.lit(cap), F.lit(0)).alias("members_dropped"),
    )


def band_pairs(
    a: DataFrame, b: DataFrame, band_cols: list[str], id_col: str, keep, out: tuple[str, str]
) -> DataFrame:
    """Candidate pairs: rows of ``a`` and ``b`` sharing every band
    column, kept where ``keep(a.id, b.id)`` holds (``operator.lt`` for
    unordered pairs, ``ne`` for directed ones), projected to the two
    ids named ``out``.  No ``distinct``: a pair sharing several bands
    appears once per band until the caller collapses it."""
    return (
        a.alias("a")
        .join(b.alias("b"), band_cols)
        .filter(keep(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias(out[0]), F.col(f"b.{id_col}").alias(out[1]))
    )


def incremental_candidates(
    index: DataFrame, batch_bands: DataFrame, band_cols: list[str], id_col: str,
    cap: int, out: tuple[str, str], cache_registry: list | None,
) -> DataFrame:
    """A batch's candidate pairs against a persistent band index: the
    batch probes the index capped to its ``cap`` lowest ids per bucket
    (``!=``: a re-ingested id never pairs with itself), united with the
    batch's own pairs (``>``: the later id first, each pair once).

    The cap: a mass-duplicate corpus degenerates a bucket (10^5 copies
    share every band), and an uncapped probe would emit O(batch ×
    occupancy) candidates per arriving dup.  The lowest ids are the
    right subset for dedup — canonical identity is min-id, so a true
    near-dup still meets the bucket's canonical members and the cap
    only prunes links to already-linked duplicates.  The cap window
    runs over the PRUNED index read: O(probed buckets), not the corpus.

    The result is persisted and appended to ``cache_registry`` FIRST,
    so ``cache_registry[0]`` is the candidate frame: every verify
    subtree references it, and without the cache each reference would
    re-run the band joins and the index read.  It is candidate-bounded
    (the cap above), i.e. tiny at any corpus size."""
    capped = cap_per_bucket(index, band_cols, id_col, cap)
    cand = (
        band_pairs(batch_bands, capped, band_cols, id_col, operator.ne, out)
        .unionByName(band_pairs(batch_bands, batch_bands, band_cols, id_col, operator.gt, out))
        .distinct()
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(cand)
    return cand


def incremental_candidates_sql(
    src: str, band_cols: list[str], id_col: str, cap: int, out: tuple[str, str]
) -> str:
    """DuckDB twin of ``incremental_candidates`` as the ``idx``, ``nb``
    and ``cand`` CTEs over the melt CTE ``src``: the index is the even
    ids (capped per bucket), the batch the odd ids."""
    keys = ", ".join(band_cols)

    def on(x: str, y: str) -> str:
        return " AND ".join(f"{x}.{c} = {y}.{c}" for c in band_cols)

    return f"""idx AS (
  SELECT {id_col}, {keys} FROM (
    SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY {id_col}) AS _rn
    FROM {src} WHERE {id_col} % 2 = 0)
  WHERE _rn <= {cap}
),
nb AS (SELECT {id_col}, {keys} FROM {src} WHERE {id_col} % 2 = 1),
cand AS (
  SELECT DISTINCT n.{id_col} AS {out[0]}, i.{id_col} AS {out[1]}
  FROM nb n JOIN idx i
    ON {on("n", "i")} AND n.{id_col} <> i.{id_col}
  UNION
  SELECT DISTINCT a.{id_col}, b.{id_col}
  FROM nb a JOIN nb b
    ON {on("a", "b")} AND a.{id_col} > b.{id_col}
)"""


def batch_wins(batch: DataFrame, corpus: DataFrame, id_col: str, payload: str) -> DataFrame:
    """(id, payload) for verification: every batch row, plus the corpus
    rows whose id the batch does not carry — for an id on BOTH sides (a
    re-ingest) the batch's payload wins, so classification verifies
    what just arrived, not the stale copy."""
    return batch.select(id_col, payload).unionByName(
        corpus.select(id_col, payload).join(batch.select(id_col), id_col, "left_anti")
    )


def index_events(
    melt: DataFrame, batch_seq: int, band_cols: list[str], id_col: str
) -> DataFrame:
    """One insert event per melt row, shaped for a SnapshotMergeSink
    keyed on (band cols, id) and bucketed on the band columns — the
    persistent band index.  A replayed batch re-emits the same rows and
    the sink's ledger skips it; ``added_batch`` records the batch that
    inserted each member."""
    return melt.select(
        F.lit("I").alias("op"),
        F.to_timestamp(F.lit("2026-01-01")).alias("op_ts"),
        F.lit(batch_seq).cast("long").alias("batch_seq"),
        *band_cols,
        id_col,
        F.lit(batch_seq).cast("long").alias("added_batch"),
    )
