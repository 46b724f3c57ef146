"""Seeded input generators.  The engine sees only what these produce;
the same ``--seed`` gives the same inputs.

* Change events share the engine's ``CHANGE_EVENT`` shape and key space
  ``conv_%08d`` x ``turn_idx`` (64 turns per conversation), so a seeded
  table of ``n_rows`` live rows covers conversations ``0 .. n_rows/64``
  and every generated event lands on a seeded key.
* Seed rows are versioned before every generated event (``op_ts`` on
  2023-12-31, negative ``batch_seq``), so the oracle replays seed rows
  first.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TURNS = 64
SEED_TS = pd.Timestamp("2023-12-31 00:00:00")
FEED_T0 = pd.Timestamp("2024-01-01 00:00:00")
ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)

EVENT_ARROW = pa.schema(
    [
        ("op", pa.string()),
        ("op_ts", pa.timestamp("us", tz="UTC")),
        ("batch_seq", pa.int64()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def conv_ids(idx: np.ndarray) -> np.ndarray:
    return np.array([f"conv_{int(i):08d}" for i in idx], dtype=object)


# ------------------------------------------------------------ seed table


def seed_events_spark(spark, n_rows: int, seed: int, n_partitions: int):
    """``n_rows`` insert events, one per key, as a Spark frame."""
    from pyspark.sql import functions as F

    ts = F.to_timestamp(F.lit(str(SEED_TS)))
    rid = F.col("id")
    return spark.range(0, n_rows, 1, n_partitions).select(
        F.lit("I").alias("op"),
        ts.alias("op_ts"),
        (rid - F.lit(n_rows)).alias("batch_seq"),
        F.concat(F.lit("conv_"), F.lpad((rid / TURNS).cast("long").cast("string"), 8, "0")).alias("conv_id"),
        (rid % TURNS).cast("int").alias("turn_idx"),
        F.element_at(F.array(*[F.lit(r) for r in ROLES]), (rid % 4 + 1).cast("int")).alias("role"),
        F.concat(F.lit(f"seed {seed} row "), rid.cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        ts.alias("ts"),
    )


def seed_events_pandas(row_ids: np.ndarray, n_rows: int, seed: int) -> pd.DataFrame:
    """The seed events of the given row ids, built the same way as
    ``seed_events_spark`` builds them, for the oracle."""
    row_ids = np.asarray(row_ids, dtype=np.int64)
    return pd.DataFrame(
        {
            "op": "I",
            "op_ts": SEED_TS,
            "batch_seq": row_ids - n_rows,
            "conv_id": conv_ids(row_ids // TURNS),
            "turn_idx": (row_ids % TURNS).astype("int32"),
            "role": ROLES[row_ids % 4],
            "text": [f"seed {seed} row {i}" for i in row_ids],
            "tool": None,
            "ts": SEED_TS,
        }
    )


def seed_file(path: str, n_rows: int, seed: int) -> None:
    write_events(path, seed_events_pandas(np.arange(n_rows), n_rows, seed))


def sample_keys(rng: np.random.Generator, n_rows: int, n: int) -> list[tuple]:
    """Half hot keys (the low conversations the skewed feeds hit most),
    half uniform over the table."""
    n_convs = n_rows // TURNS
    hot = rng.integers(0, max(1, n_convs // 50), n // 2)
    cold = rng.integers(0, n_convs, n - n // 2)
    turns = rng.integers(0, TURNS, n)
    keys = {(f"conv_{int(c):08d}", int(t)) for c, t in zip(np.concatenate([hot, cold]), turns)}
    return sorted(keys)


def key_row_ids(keys: list[tuple]) -> np.ndarray:
    return np.array([int(c[5:]) * TURNS + t for c, t in keys], dtype=np.int64)


# ------------------------------------------------------------ change feeds


BATCH_SEQ_STRIDE = 1_000_000  # batch k's events carry batch_seq in [k, k+1) x stride


def backfill_batch(spark, n_events: int, n_rows: int, seed: int, batch_no: int, n_partitions: int):
    """Batch ``batch_no`` (1-based) of the catch-up replay: the engine's
    own ``synthetic_change_feed`` (Zipf skew 1.0, mixed I/U/D), shifted
    so each batch's versions follow the previous batch's (``n_events``
    at most ``BATCH_SEQ_STRIDE``)."""
    from pyspark.sql import functions as F

    from chomper_spark.sources.feed import synthetic_change_feed

    feed = synthetic_change_feed(
        spark,
        n_events,
        n_convs=n_rows // TURNS,
        max_turns=TURNS,
        zipf_skew=1.0,
        seed=seed * 1000 + batch_no,
        n_partitions=n_partitions,
    )
    off = batch_no * BATCH_SEQ_STRIDE
    return feed.withColumn("batch_seq", F.col("batch_seq") + F.lit(off)).withColumn(
        "op_ts", F.col("op_ts") + F.make_interval(secs=F.lit(off / 10.0))
    )


def tail_arrival(rng: np.random.Generator, n_rows: int, seq0: int, n: int, rate: float) -> pd.DataFrame:
    """One arrival of ``n`` change events for the continuous tail:
    Zipf-skewed keys, 5% deletes, 25% inserts, the rest updates; commit
    times advance with the offered rate."""
    n_convs = n_rows // TURNS
    seq = seq0 + np.arange(n, dtype=np.int64)
    u = rng.random(n)
    conv = np.minimum((u**2.0 * n_convs).astype(np.int64), n_convs - 1)
    u2 = rng.random(n)
    op = np.where(u2 < 0.05, "D", np.where(u2 < 0.30, "I", "U")).astype(object)
    op_ts = FEED_T0 + pd.to_timedelta((seq * 1_000_000 // int(rate)).astype(np.int64), unit="us")
    return pd.DataFrame(
        {
            "op": op,
            "op_ts": op_ts,
            "batch_seq": seq,
            "conv_id": conv_ids(conv),
            "turn_idx": rng.integers(0, TURNS, n).astype("int32"),
            "role": ROLES[seq % 4],
            "text": [f"tail text v{s}" for s in seq],
            "tool": np.where(seq % 5 == 0, "browser", None).astype(object),
            "ts": op_ts,
        }
    )


def write_events(path: str, df: pd.DataFrame) -> None:
    out = df.copy()
    for c in ("op_ts", "ts"):
        out[c] = pd.to_datetime(out[c]).dt.tz_localize("UTC")
    pq.write_table(pa.Table.from_pandas(out, schema=EVENT_ARROW, preserve_index=False), path)


# ------------------------------------------------------------ embeddings


def embedding_batches(
    rng: np.random.Generator, n_index: int, n_batches: int, batch: int, dim: int, dup_frac: float
) -> list[np.ndarray]:
    """The index corpus, then ``n_batches`` arriving batches.  Vectors
    are i.i.d. Gaussian (distinct); ``dup_frac`` of each batch are
    near-duplicates (cosine ~0.999) of earlier vectors."""
    out = [rng.standard_normal((n_index, dim)).astype(np.float32)]
    for _ in range(n_batches):
        v = rng.standard_normal((batch, dim)).astype(np.float32)
        prev = np.vstack(out)
        n_dup = max(1, int(batch * dup_frac))
        pos = rng.choice(batch, n_dup, replace=False)
        src = rng.integers(0, len(prev), n_dup)
        v[pos] = prev[src] + rng.normal(0.0, 0.03, (n_dup, dim)).astype(np.float32)
        out.append(v)
    return out


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)


def _planes(n_planes: int, dim: int) -> np.ndarray:
    """The LSH hyperplanes, derived as documented in
    ``functions.similarity``: component (p, d) = hex60(md5("p_d"))/2^59 - 1."""
    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(1, dim + 1):
            h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
            out[p, d - 1] = h / 2**59 - 1.0
    return out


def band_buckets(vecs: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """(n, bands) bucket ids, accumulated left to right in float64 as the
    engine's signature does, so ids agree bit for bit."""
    dim = vecs.shape[1]
    planes = _planes(bands * rows, dim)
    m = vecs.astype(np.float64)
    acc = m[:, 0:1] * planes[:, 0]
    for d in range(1, dim):
        acc = acc + m[:, d : d + 1] * planes[:, d]
    weights = np.tile(1 << np.arange(rows, dtype=np.int64), bands)
    bits = (acc >= 0.0).astype(np.int64) * weights
    return bits.reshape(len(m), bands, rows).sum(axis=2)


def ensure_dir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path
