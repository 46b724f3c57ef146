"""Self-test of the correctness gate: plant one wrong row and show that
the gate fires, and that it stays quiet on a clean run.

    python3 perfbench/selftest.py

1. Table state: a small MOR table is replayed through the engine and
   gated against the oracle (must pass); then one sampled key gets an
   extra update the oracle never sees (must fail on exactly that key).
2. Lookups: a lookup result with one altered field must fail.
3. Near-dup: the NumPy twin used per run must equal DuckDB running
   ``incremental_emb_neardup_sql()``; a batch missing one pair must fail.

Exits 0 when every expectation holds, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    from perfbench.harness import Run

    work = tempfile.mkdtemp(prefix="perfbench_selftest_", dir=ROOT)
    results: list[tuple[str, bool]] = []

    def expect(what: str, ok: bool) -> None:
        results.append((what, ok))
        print(("ok   " if ok else "FAIL ") + what, flush=True)

    run = Run("selftest", 7, 1, False, ROOT, work)
    try:
        return _checks(run, work, expect, results)
    finally:
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)


def _checks(run, work, expect, results) -> int:
    import numpy as np
    import pandas as pd

    from perfbench import gate, inputs
    from perfbench.harness import Run

    run.start_session({"spark.driver.memory": "1g"})
    spark = run.spark
    from pyspark.sql import functions as F

    from chomper_spark.operators.merge import SnapshotMergeSink

    n_rows, n_events = 1024, 4000
    sink = SnapshotMergeSink(spark, os.path.join(work, "t"), n_buckets=2, write_mode="mor")
    sink.apply_batch(inputs.seed_events_spark(spark, n_rows, 7, 2), batch_id=0, collect_metrics=False)
    feed = inputs.backfill_batch(spark, n_events, n_rows, 7, 1, 2).persist()
    sink.apply_batch(feed, batch_id=1, collect_metrics=False)
    keys = inputs.sample_keys(np.random.default_rng(7), n_rows, 24)
    kdf = spark.createDataFrame(keys, "conv_id string, turn_idx int")
    fed = feed.join(kdf, ["conv_id", "turn_idx"], "left_semi").toPandas()
    seeded = inputs.seed_events_pandas(inputs.key_row_ids(keys), n_rows, 7)
    expected = gate.expected_state(pd.concat([seeded, fed], ignore_index=True))

    def gated() -> Run:
        r = Run("selftest", 7, 1, False, ROOT, work)
        gate.check_state(r, gate.canon_rows(sink.read_keys(keys).toPandas()), expected, keys)
        return r

    clean = gated()
    expect(f"clean table passes the state gate ({clean.attempted} keys)", clean.failed == 0)

    victim = next(k for k in keys if k in expected)  # a live key
    ok_run = Run("selftest", 7, 1, False, ROOT, work)
    gate.check_lookups(ok_run, [(victim, sink.read_keys([victim]).collect())], expected)
    expect("clean lookup passes", ok_run.failed == 0)
    wrong = expected[victim][:3] + ("wrong text",) + expected[victim][4:]
    bad_run = Run("selftest", 7, 1, False, ROOT, work)
    gate.check_lookups(bad_run, [(victim, [dict(zip(gate.PAYLOAD, wrong))])], expected)
    expect("lookup with one wrong field fails", bad_run.failed == 1)

    planted = (
        spark.createDataFrame([victim], "conv_id string, turn_idx int")
        .select(
            F.lit("U").alias("op"),
            F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("op_ts"),
            F.lit(10**12).cast("long").alias("batch_seq"),
            "conv_id",
            "turn_idx",
            F.lit("user").alias("role"),
            F.lit("planted row").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("ts"),
        )
    )
    sink.apply_batch(planted, batch_id=2, collect_metrics=False)
    dirty = gated()
    expect(
        f"planted row fails the state gate on exactly that key ({dirty.failed} failed)",
        dirty.failed == 1 and str(victim) in dirty.failures[0],
    )
    run.stop_session()

    rng = np.random.default_rng(7)
    vecs = inputs.embedding_batches(rng, 1024, 1, 128, 64, 0.1)
    idx_ids, new_ids = np.arange(1024), 1024 + np.arange(128)
    twin = gate.numpy_neardup(idx_ids, vecs[0], new_ids, vecs[1], 0.9)
    duck = gate.duckdb_neardup(idx_ids, vecs[0], new_ids, vecs[1], 0.9)
    expect(f"NumPy near-dup twin equals DuckDB ({len(twin)} pairs)", twin == duck and len(twin) > 0)
    batch = {"batch_no": 1, "index_ids": idx_ids, "index_vecs": vecs[0], "batch_ids": new_ids, "batch_vecs": vecs[1]}
    good, bad = Run("selftest", 7, 1, False, ROOT, work), Run("selftest", 7, 1, False, ROOT, work)
    gate.check_neardup_batches(good, [dict(batch, pairs=sorted(duck))], 0.9)
    gate.check_neardup_batches(bad, [dict(batch, pairs=sorted(duck)[1:])], 0.9)
    expect("near-dup batch equal to DuckDB passes", good.failed == 0)
    expect("near-dup batch missing one pair fails", bad.failed == 1)
    return 0 if all(ok for _, ok in results) else 1


if __name__ == "__main__":
    sys.exit(main())
