"""Correctness gate: every run checks the engine's outputs against an
oracle that shares no code path with the engine's merge.

* Table state: for a seeded sample of keys, the rows the engine returns
  must equal ``oracle.reference_apply`` replayed over every event of
  those keys (seed rows included).
* Lookups: each one-key lookup must return exactly the oracle's row.
* Near-duplicate batches: the classified pairs must equal the oracle's
  pairs for the same vectors.  The oracle is ``numpy_neardup``, a NumPy
  twin of ``incremental_emb_neardup_sql()``; DuckDB spends ~13 s just
  planning that SQL, too long to run per batch inside the run budget,
  so ``selftest.py`` checks the twin against DuckDB on the same inputs.

Each comparison is one gated operation in ``Run.check``; any mismatch
makes the run's ``correct`` false and raises ``failed``.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float) and np.isnan(v):
        return None
    if v is pd.NaT:
        return None
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, (np.integer,)):
        return int(v)
    return v


def canon_rows(rows, cols: list[str] = PAYLOAD) -> dict:
    """{key: canonical row tuple} from Spark Rows or a pandas frame."""
    if isinstance(rows, pd.DataFrame):
        rows = rows[cols].itertuples(index=False, name=None)
    else:
        rows = (tuple(r[c] for c in cols) for r in rows)
    out = {}
    for r in rows:
        t = tuple(_canon(v) for v in r)
        out[t[:2]] = t
    return out


def expected_state(events: pd.DataFrame) -> dict:
    """Oracle final state of the keys the events touch."""
    from chomper_spark.oracle.reference_apply import reference_apply

    return canon_rows(reference_apply(events[["op", "op_ts", "batch_seq", *PAYLOAD]]))


def check_state(run, engine: dict, expected: dict, keys: list[tuple]) -> None:
    for k in keys:
        got, want = engine.get(k), expected.get(k)
        run.check(got == want, f"state {k}: engine {got} != oracle {want}")


def check_lookups(run, lookups: list[tuple], expected: dict) -> None:
    """``lookups``: (key, rows collected by the timed lookup)."""
    for key, rows in lookups:
        got = canon_rows(rows)
        want = {key: expected[key]} if key in expected else {}
        run.check(got == want, f"lookup {key}: engine {got} != oracle {want}")


# ----------------------------------------------------- near-dup batches


def duckdb_neardup(index_ids, index_vecs, batch_ids, batch_vecs, threshold: float) -> set:
    """DuckDB's answer for one batch.  ``incremental_emb_neardup_sql``
    reads the corpus as the even ``vec_id`` rows and the batch as the
    odd ones, so ids are mapped order-preservingly (index 2x, batch
    2x+1) and mapped back."""
    import duckdb

    from chomper_spark.functions.similarity import incremental_emb_neardup_sql

    ids = np.concatenate([np.asarray(index_ids) * 2, np.asarray(batch_ids) * 2 + 1])
    vecs = np.vstack([index_vecs, batch_vecs])
    frame = pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
    con = duckdb.connect()
    try:
        con.execute("SET threads=1")
        con.register("_vecs", frame)
        con.execute(
            "CREATE TABLE embeddings AS SELECT vec_id::BIGINT AS vec_id, "
            "embedding::FLOAT[] AS embedding FROM _vecs"
        )
        rows = con.execute(incremental_emb_neardup_sql(threshold=threshold)).fetchall()
    finally:
        con.close()

    def back(v: int) -> int:
        return (v - 1) // 2 if v % 2 else v // 2

    return {(back(a), back(b), float(c)) for a, b, c in rows}


def numpy_neardup(index_ids, index_vecs, batch_ids, batch_vecs, threshold: float) -> set:
    """The same answer as ``duckdb_neardup``, computed with NumPy: band
    buckets of every vector, the index capped to its lowest ids per
    (band, bucket), candidates batch-vs-index and batch-vs-earlier-batch
    sharing a bucket, then cosine accumulated left to right in float64
    and truncated to 6 decimals, as the SQL spells it."""
    from chomper_spark.functions import similarity as sim

    from perfbench.inputs import band_buckets

    index_ids, batch_ids = np.asarray(index_ids), np.asarray(batch_ids)
    ib = band_buckets(index_vecs, sim.NEARDUP_BANDS, sim.LSH_ROWS)
    bb = band_buckets(batch_vecs, sim.NEARDUP_BANDS, sim.LSH_ROWS)
    cand = set()
    for band in range(sim.NEARDUP_BANDS):
        members: dict = {}
        for pos in np.lexsort((index_ids, ib[:, band])):
            lst = members.setdefault(int(ib[pos, band]), [])
            if len(lst) < sim.EMB_INDEX_BUCKET_CAP:
                lst.append(pos)
        arriving: dict = {}
        for pos in range(len(batch_ids)):
            arriving.setdefault(int(bb[pos, band]), []).append(pos)
        for bucket, new in arriving.items():
            for a in new:
                cand.update((("b", a), ("i", i)) for i in members.get(bucket, ()))
                cand.update((("b", a), ("b", b)) for b in new if batch_ids[a] > batch_ids[b])
    if not cand:
        return set()
    pairs = sorted(cand)
    vec = {"i": np.asarray(index_vecs, np.float64), "b": np.asarray(batch_vecs, np.float64)}
    ids = {"i": index_ids, "b": batch_ids}
    a = np.stack([vec[s][p] for (s, p), _ in pairs])
    b = np.stack([vec[s][p] for _, (s, p) in pairs])
    dot, na, nb = a[:, 0] * b[:, 0], a[:, 0] * a[:, 0], b[:, 0] * b[:, 0]
    for d in range(1, a.shape[1]):
        dot = dot + a[:, d] * b[:, d]
        na = na + a[:, d] * a[:, d]
        nb = nb + b[:, d] * b[:, d]
    cos = np.floor(dot / (np.sqrt(na) * np.sqrt(nb)) * 1e6) / 1e6
    return {
        (int(ids[sa][pa]), int(ids[sb][pb]), float(c))
        for ((sa, pa), (sb, pb)), c in zip(pairs, cos)
        if c >= threshold
    }


def check_neardup_batches(run, batches: list[dict], threshold: float) -> None:
    """``batches``: dicts with index/batch ids+vectors and the engine's
    pairs for that batch."""
    for b in batches:
        want = numpy_neardup(b["index_ids"], b["index_vecs"], b["batch_ids"], b["batch_vecs"], threshold)
        got = {(int(a), int(d), float(c)) for a, d, c in b["pairs"]}
        run.check(
            got == want,
            f"near-dup batch {b['batch_no']}: {len(got - want)} extra, "
            f"{len(want - got)} missing pairs vs the oracle",
        )
