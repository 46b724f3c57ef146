"""Latest-wins deduplication of a change micro-batch.

North rule: "deduplicate by (conv_id, turn_idx, op_ts) with
window/row_number".  One shuffle on the key; the window's hash
partitioning doubles as the per-key staging the MERGE join reuses.

The reference applies events one at a time so the *last processed*
event wins implicitly (chomper/contrib/postgres.py:335-393); at scale
we make the total order explicit: (op_ts DESC, batch_seq DESC) —
batch_seq is the binlog sequence tie-breaker giving the "stable turn
ordering" the invariant requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from chomper_spark import schema as S
from chomper_spark.operators.evolve import quote


def dedup_latest(
    batch: DataFrame,
    key_cols: list[str] | None = None,
    version_cols: list[str] | None = None,
) -> DataFrame:
    """Keep only the newest event per key within a micro-batch
    (window/row_number form — the north rule's named construct)."""
    key_cols = key_cols or S.KEY_COLS
    version_cols = version_cols or S.VERSION_COLS
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in version_cols])
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_latest_agg(
    batch: DataFrame,
    key_cols: list[str] | None = None,
    version_cols: list[str] | None = None,
) -> DataFrame:
    """Same semantics as ``dedup_latest`` via a max_by aggregate.

    Performance form for the merge hot path: partial (map-side)
    aggregation collapses duplicate keys BEFORE the shuffle and avoids
    the window's sort — at 10^10 events/batch the shuffle volume drop
    is the difference that matters.  Equivalent because
    (op_ts, batch_seq) is a total order (batch_seq is unique), so
    max_by is deterministic and picks exactly the window's rn=1 row."""
    key_cols = key_cols or S.KEY_COLS
    version_cols = version_cols or S.VERSION_COLS
    rest = [c for c in batch.columns if c not in key_cols]
    return (
        batch.groupBy(*key_cols)
        .agg(F.expr(
            f"max_by(struct({', '.join(map(quote, rest))}), "
            f"struct({', '.join(map(quote, version_cols))})) AS _r"
        ))
        .selectExpr(*map(quote, key_cols), *[f"_r.{quote(c)} AS {quote(c)}" for c in rest])
    )
