"""The two workloads.  Each drives the engine only through its public
API, times those calls from here, and gates its outputs (``gate``).

Every workload reports every end-to-end metric (see DESIGN.md for what
each means on each workload), and with tracing on every per-layer
metric, a layer the workload does not exercise reading 0.  The
near-duplicate ingest (``functions.similarity`` and pruned reads) runs
as the last phase of ``backfill_mor``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from statistics import median

import numpy as np
import pandas as pd

from perfbench import gate, inputs
from perfbench.harness import Run, dir_bytes, percentile
from perfbench.tracing import Tracer, parse_event_log

N_BUCKETS = 4  # table layout, the same on every host

# backfill_mor: catch-up replay into a merge-on-read table
BF_ROWS = 32_768  # seeded live rows (512 conversations x 64 turns)
BF_BATCH = 40_000  # change events per apply
BF_CYCLE = 8  # = the sink's default mor_compact_threshold
BF_CYCLES = 1  # timed compaction cycles: the same work on every commit
# Warm-up: the seed apply + 3 smaller applies.  The apply gets ~3x
# faster over its first four calls in a JVM; the warm-up also leaves
# every bucket at chain depth 4, where each timed cycle starts and ends.
BF_WARM = 3
BF_WARM_BATCH = 20_000

# tail_cow: open-loop continuous tail into a copy-on-write table
TC_ROWS = 32_768
TC_RATE = 600.0  # offered events/s
TC_TICK = 0.05  # one arrival (feed file) per tick: 30 events
TC_TRIGGER = "100 milliseconds"
# untimed warm-up arrivals through the same running query: the trigger
# body keeps getting faster over its first ~4 triggers in a JVM
TC_WARM_S = 5.0

# near-duplicate ingest (last phase of backfill_mor): classify each
# arriving batch against a persistent LSH index, then index it
DD_INDEX = 4_096  # vectors indexed before the first batch
DD_BATCH = 512  # vectors per arriving batch
DD_DIM = 64
DD_DUP_FRAC = 0.03
DD_THRESHOLD = 0.9
DD_WARM = 1  # untimed batches (Python worker start, first plans)
DD_BATCHES = 1  # timed batches
DD_BUCKETS = 4

# Reads: two untimed lookups and scans (the first of each is ~3x
# slower, the second still ~15% slower than the rest), then (rounds,
# scans per round) rounds of one timed lookup and timed scans,
# interleaved so that a burst of host contention lands on a few samples
# of each metric rather than on all of one.  A MOR lookup or scan costs
# ~1.1 / 0.5 s, a COW one ~0.8 / 0.13 s.
LOOKUP_WARM = 2
SCAN_WARM = 2
READS = {"backfill_mor": (4, 2), "tail_cow": (4, 3)}
GATE_KEYS = 48

PER_LAYER = [
    ("session.start_s", "s"),
    ("merge.apply_s", "s"),
    ("merge.apply_jobs", "count"),
    ("merge.apply_tasks", "count"),
    ("merge.apply_shuffle_bytes_per_event", "bytes"),
    ("merge.apply_spill_bytes", "bytes"),
    ("merge.apply_task_skew", "ratio"),
    ("merge.compact_applies", "count"),
    ("merge.compact_s_share", "ratio"),
    ("merge.buckets_touched", "count"),
    ("merge.bytes_written_per_event", "bytes"),
    ("merge.read_keys_s", "s"),
    ("merge.read_keys_jobs", "count"),
    ("merge.read_keys_bytes_read", "bytes"),
    ("merge.scan_bytes_read", "bytes"),
    ("merge.delta_refs_at_read", "count"),
    ("merge.read_prune_s", "s"),
    ("merge.read_prune_buckets", "count"),
    ("merge.expire_s", "s"),
    ("merge.expire_bytes_freed", "bytes"),
    ("stream.trigger_s", "s"),
    ("stream.add_batch_s", "s"),
    ("stream.overhead_s", "s"),
    ("stream.jobs_per_trigger", "count"),
    ("stream.events_per_trigger", "count"),
    ("stream.backlog_files", "count"),
    ("lineage.append_s", "s"),
    ("lineage.jobs_per_trigger", "count"),
    ("sim.candidates_s", "s"),
    ("sim.verify_s", "s"),
    ("sim.candidates_per_vec", "count"),
    ("sim.verify_yield", "ratio"),
    ("sim.index_apply_s", "s"),
    ("ingest_vecs_per_s", "vectors/s"),
    ("batch_ingest_s_p50", "s"),
    ("spark.gc_share", "ratio"),
    ("proc.jvm_rss_mb", "MB"),
    ("self.session_s", "s"),
    ("self.merge_s", "s"),
    ("self.stream_s", "s"),
    ("self.lineage_s", "s"),
    ("self.sim_s", "s"),
    ("self.bench_s", "s"),
    ("trace.timed_wall_s", "s"),
    ("trace.phase_sum_share", "ratio"),
    ("trace.overhead_s", "s"),
]


# ------------------------------------------------------------ helpers


def _session(run: Run, tr: Tracer) -> None:
    extra = {}
    if tr.enabled:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": inputs.ensure_dir(os.path.join(run.work, "eventlog")),
        }
    with tr.span("session.start"):
        run.start_session(extra)
    tr.sc = run.spark.sparkContext
    run.mark("session")


def _timed_reads(run: Run, tr: Tracer, sink, lookup_keys: list[tuple]) -> tuple[list, list]:
    """The untimed warm-up reads, then the workload's ``READS`` rounds of
    one timed one-key lookup and timed full scans.  Returns the lookups
    (key, rows) for the gate and the scan counts."""
    lookups, lk_s, counts, scan_s = [], [], [], []

    def lookup(key) -> float:
        t = time.perf_counter()
        with tr.span("merge.read_keys", group=True):
            rows = sink.read_keys([key]).collect()
        lookups.append((key, rows))
        return time.perf_counter() - t

    def scan() -> float:
        t = time.perf_counter()
        with tr.span("merge.scan", group=True):
            counts.append(sink.read().count())
        return time.perf_counter() - t

    keys = iter(lookup_keys)
    for _ in range(LOOKUP_WARM):
        lookup(next(keys))
    for _ in range(SCAN_WARM):
        scan()
    rounds, scans = READS[run.workload]
    for _ in range(rounds):
        lk_s.append(lookup(next(keys)))
        scan_s += [scan() for _ in range(scans)]
    for c in counts:
        run.check(c == counts[0], f"scan count {c} != first scan {counts[0]}")
    run.put("lookup_ms_p50", 1000 * median(lk_s), "ms", len(lk_s))
    run.put("scan_s", median(scan_s), "s", len(scan_s))
    run.put("table_bytes_per_live_row", dir_bytes(sink.root) / max(1, counts[0]), "bytes")
    run.diag["lookup_ms"] = [round(1000 * x, 1) for x in lk_s]
    run.diag["scan_s"] = [round(x, 4) for x in scan_s]
    return lookups, counts


def _put_latency(run: Run, batch_s: list[float], fresh: list[float]) -> None:
    run.put("batch_apply_s_p50", median(batch_s), "s", len(batch_s))
    run.put("freshness_s_p50", percentile(fresh, 50), "s", len(fresh))
    run.put("freshness_s_p90", percentile(fresh, 90), "s", len(fresh))


def _gate_state(run: Run, sink, keys: list[tuple], events: pd.DataFrame, lookups) -> None:
    engine = gate.canon_rows(sink.read_keys(keys).toPandas())
    expected = gate.expected_state(events)
    gate.check_state(run, engine, expected, keys)
    gate.check_lookups(run, lookups, expected)


# ------------------------------------------------------------ backfill_mor


def backfill_mor(run: Run, tr: Tracer) -> dict:
    """Closed-loop catch-up replay into a MOR table, whole compaction
    cycles only; reads at a fixed delta-chain depth; then the
    near-duplicate ingest phase (``_dedup``)."""
    from pyspark.sql import functions as F

    from chomper_spark.operators.merge import SnapshotMergeSink

    rng = np.random.default_rng(run.seed)
    t_setup = time.perf_counter()
    _session(run, tr)
    spark = run.spark
    feed_dir = os.path.join(run.work, "feed")
    root = os.path.join(run.work, "table")

    def write_batches(sizes: dict) -> None:
        frames = [
            inputs.backfill_batch(spark, size, BF_ROWS, run.seed, k, N_BUCKETS).withColumn(
                "batch_no", F.lit(k)
            )
            for k, size in sizes.items()
        ]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        with tr.span("bench.gen", group=True):
            union.write.mode("append").partitionBy("batch_no").parquet(feed_dir)

    def batch(k: int):
        return spark.read.parquet(os.path.join(feed_dir, f"batch_no={k}"))

    sink = SnapshotMergeSink(spark, root, n_buckets=N_BUCKETS, write_mode="mor")
    # every batch of the replay, warm-up and timed, in one write
    n_timed = BF_CYCLES * BF_CYCLE
    write_batches({k: BF_WARM_BATCH if k <= BF_WARM else BF_BATCH for k in range(1, BF_WARM + n_timed + 1)})
    run.mark("feed")
    applies: list = []  # (batch_no, seconds, MergeMetrics, delta_refs before, after)

    def apply(k: int, frame) -> None:
        before = sink.describe().get("delta_refs", 0) if tr.enabled else 0
        t = time.perf_counter()
        with tr.span("merge.apply", group=True):
            m = sink.apply_batch(frame, batch_id=k, collect_metrics=False)
        dt = time.perf_counter() - t
        after = sink.describe()["delta_refs"] if tr.enabled else 0
        applies.append((k, dt, m, before, after))

    with tr.span("bench.warmup"):
        apply(0, inputs.seed_events_spark(spark, BF_ROWS, run.seed, N_BUCKETS))
        run.mark("seed")
        for k in range(1, BF_WARM + 1):
            apply(k, batch(k))
    run.put("setup_s", time.perf_counter() - t_setup, "s")
    run.mark("setup")
    n_warm = len(applies)

    # timed: whole compaction cycles
    k = BF_WARM + 1
    with tr.span("bench.timed") as timed:
        t0 = time.perf_counter()
        for _ in range(BF_CYCLES):
            with tr.span("bench.cycle"):
                for _ in range(BF_CYCLE):
                    apply(k, batch(k))
                    k += 1
        wall = time.perf_counter() - t0
    timed_applies = applies[n_warm:]
    batch_s = [a[1] for a in timed_applies]
    run.put("apply_events_per_s", BF_BATCH * len(timed_applies) / wall, "events/s", len(timed_applies))
    # closed loop: every event of an apply is offered when the apply
    # starts, so freshness is the apply time (all batches are one size)
    _put_latency(run, batch_s, batch_s)
    run.diag["apply_s"] = [round(a[1], 3) for a in applies]

    with tr.span("merge.expire", group=True):
        t = time.perf_counter()
        freed = sink.expire_snapshots()
        expire = (time.perf_counter() - t, freed.get("bytes_freed", 0))
    depth = sink.describe()["delta_refs"]
    keys = inputs.sample_keys(rng, BF_ROWS, GATE_KEYS)
    lookup_keys = [keys[i] for i in rng.permutation(len(keys))]
    run.mark("timed")
    with tr.span("bench.reads") as reads:
        lookups, counts = _timed_reads(run, tr, sink, lookup_keys)
    run.mark("reads")
    dedup = _dedup(run, tr)
    run.diag["timed_wall_s"] = round(wall + dedup["wall"], 4)
    run.mark("dedup")

    with tr.span("bench.gate"):
        _gate_dedup(run, dedup)
        kdf = spark.createDataFrame(keys, "conv_id string, turn_idx int")
        fed = (
            spark.read.parquet(feed_dir)
            .join(kdf, ["conv_id", "turn_idx"], "left_semi")
            .drop("batch_no")
            .toPandas()
        )
        seeded = inputs.seed_events_pandas(inputs.key_row_ids(keys), BF_ROWS, run.seed)
        _gate_state(run, sink, keys, pd.concat([seeded, fed], ignore_index=True), lookups)
        run.diag["describe"] = {k: v for k, v in sink.describe().items() if k != "root"}
        run.diag["live_rows"] = counts[0]
    run.mark("gate")

    return {"timed": timed, "reads": reads, "applies": timed_applies,
            "events_per_apply": BF_BATCH, "depth": depth, "expire": expire,
            "dedup": dedup}


# ------------------------------------------------------------ tail_cow


def tail_cow(run: Run, tr: Tracer) -> dict:
    """Open-loop tail of a feed directory through ``StreamingApply``
    (COW, metrics and lineage on); then expire and the same reads."""
    from chomper_spark.streaming.stream import StreamingApply

    rng = np.random.default_rng(run.seed)
    t_setup = time.perf_counter()
    pending = inputs.ensure_dir(os.path.join(run.work, "pending"))
    feed = inputs.ensure_dir(os.path.join(run.work, "feed"))
    ckpt = os.path.join(run.work, "ckpt")
    n_arr = int(round(run.seconds / TC_TICK))
    n_warm = int(round(TC_WARM_S / TC_TICK))
    per = int(round(TC_RATE * TC_TICK))
    with tr.span("bench.gen"):
        inputs.seed_file(os.path.join(feed, "seed.parquet"), TC_ROWS, run.seed)
        events, seq = [], 0
        for a in range(n_warm + n_arr):
            df = inputs.tail_arrival(rng, TC_ROWS, seq, per, TC_RATE)
            inputs.write_events(os.path.join(pending, f"a{a:06d}.parquet"), df)
            events.append(df)
            seq += per
    _session(run, tr)
    spark = run.spark

    sa = StreamingApply(
        spark,
        feed,
        os.path.join(run.work, "table"),
        ckpt,
        lineage_root=os.path.join(run.work, "lineage"),
        max_files_per_trigger=100_000,
        n_buckets=N_BUCKETS,
        collect_metrics=True,
    )
    body: dict = {}  # batch_id -> [apply start, apply end, lineage end, MergeMetrics]
    apply_batch, lineage_append = sa.sink.apply_batch, sa.lineage.append

    def timed_apply(batch, batch_id, **kw):
        t = time.perf_counter()
        with tr.span("merge.apply", group=True):
            m = apply_batch(batch, batch_id, **kw)
        body[batch_id] = [t, time.perf_counter(), None, m]
        return m

    def timed_lineage(df, batch_id):
        with tr.span("lineage.append", group=True):
            lineage_append(df, batch_id)
        body[batch_id][2] = time.perf_counter()

    sa.sink.apply_batch = timed_apply
    sa.lineage.append = timed_lineage

    due, moved = [], []

    def arrive(first: int, n: int) -> None:
        """Open loop: move arrival ``a`` into the tailed directory at its
        scheduled tick, whatever the stream is doing."""
        t0 = time.perf_counter()
        for a in range(first, first + n):
            d = t0 + (a - first) * TC_TICK
            wait = d - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            name = f"a{a:06d}.parquet"
            os.rename(os.path.join(pending, name), os.path.join(feed, name))
            due.append(d)
            moved.append(time.perf_counter())

    with tr.span("bench.warmup"):
        q = sa.start(available_now=False, processing_time=TC_TRIGGER)
        q.processAllAvailable()  # batch 0: the seed rows
        run.mark("seed")
        arrive(0, n_warm)
        q.processAllAvailable()
    run.put("setup_s", time.perf_counter() - t_setup, "s")
    run.mark("setup")
    first_timed = max(body) + 1

    with tr.span("bench.timed") as timed:
        t0 = time.perf_counter()
        arrive(n_warm, n_arr)
        q.processAllAvailable()
        q.stop()
    run.diag["timed_wall_s"] = round(time.perf_counter() - t0, 4)
    progress = [p for p in q.recentProgress if int(p.batchId) >= first_timed]

    file_batch = _source_log(ckpt)
    fresh = [body[file_batch[f"a{a:06d}.parquet"]][1] - due[a] for a in range(n_warm, n_warm + n_arr)]
    timed_ids = sorted(b for b in body if b >= first_timed)
    body_s = [body[b][2] - body[b][0] for b in timed_ids]
    timed_events = n_arr * per
    run.put("apply_events_per_s", timed_events / sum(body_s), "events/s", len(body_s))
    _put_latency(run, body_s, fresh)
    late = [m - d for m, d in zip(moved[n_warm:], due[n_warm:])]
    run.diag["generator_late_s_p90"] = round(percentile(late, 90), 4)
    run.diag["generator_late_s_max"] = round(max(late), 4)
    run.diag["triggers"] = len(timed_ids)
    run.diag["body_s"] = [round(body[b][2] - body[b][0], 3) for b in sorted(body)]

    with tr.span("merge.expire", group=True):
        t = time.perf_counter()
        freed = sa.sink.expire_snapshots()
        expire = (time.perf_counter() - t, freed.get("bytes_freed", 0))
    sink = sa.sink
    depth = sink.describe().get("delta_refs", 0)
    keys = inputs.sample_keys(rng, TC_ROWS, GATE_KEYS)
    lookup_keys = [keys[i] for i in rng.permutation(len(keys))]
    run.mark("timed")
    with tr.span("bench.reads") as reads:
        lookups, counts = _timed_reads(run, tr, sink, lookup_keys)
    run.mark("reads")

    with tr.span("bench.gate"):
        allev = pd.concat(events, ignore_index=True)
        kset = set(keys)
        mask = [k in kset for k in zip(allev["conv_id"], allev["turn_idx"])]
        seeded = inputs.seed_events_pandas(inputs.key_row_ids(keys), TC_ROWS, run.seed)
        _gate_state(run, sink, keys, pd.concat([seeded, allev[mask]], ignore_index=True), lookups)
        run.diag["describe"] = {k: v for k, v in sink.describe().items() if k != "root"}
        run.diag["live_rows"] = counts[0]
    run.mark("gate")

    return {
        "timed": timed,
        "reads": reads,
        "applies": [(b, body[b][1] - body[b][0], body[b][3], 0, 0) for b in timed_ids],
        "events_per_apply": timed_events / max(1, len(timed_ids)),
        "depth": depth,
        "expire": expire,
        "progress": progress,
        "files_per_trigger": [sum(1 for b in file_batch.values() if b == bid) for bid in timed_ids],
    }


def _source_log(ckpt: str) -> dict:
    """{file name: micro-batch id} from the file source's metadata log
    in the streaming checkpoint (compacted or not)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


# ------------------------------------------------------------ near-dup ingest


def _dedup(run: Run, tr: Tracer) -> dict:
    """Near-duplicate ingest into a persistent LSH index: ``DD_INDEX``
    vectors are indexed in a sink keyed ``(band_idx, bucket, vec_id)``
    and bucketed on ``(band_idx, bucket)``; then, in a closed loop, each
    arriving batch is classified with ``incremental_emb_neardup`` against
    ``read_prune_for`` of the index and indexed with ``apply_batch``.
    ``DD_WARM`` untimed batches, then ``DD_BATCHES`` timed ones."""
    from chomper_spark.functions import similarity as sim
    from chomper_spark.operators.merge import SnapshotMergeSink

    spark = run.spark
    rng = np.random.default_rng([run.seed, 1])
    vec_dir = inputs.ensure_dir(os.path.join(run.work, "vectors"))
    pending = inputs.ensure_dir(os.path.join(run.work, "pending_vectors"))
    n_total = DD_WARM + DD_BATCHES
    with tr.span("bench.gen"):
        vecs = inputs.embedding_batches(rng, DD_INDEX, n_total, DD_BATCH, DD_DIM, DD_DUP_FRAC)
        ids = [np.arange(DD_INDEX, dtype=np.int64)] + [
            DD_INDEX + (j - 1) * DD_BATCH + np.arange(DD_BATCH, dtype=np.int64)
            for j in range(1, n_total + 1)
        ]
        inputs.write_vectors(os.path.join(vec_dir, "b0.parquet"), ids[0], vecs[0])
        for j in range(1, n_total + 1):
            inputs.write_vectors(os.path.join(pending, f"b{j}.parquet"), ids[j], vecs[j])
    sink = SnapshotMergeSink(
        spark,
        os.path.join(run.work, "index"),
        n_buckets=DD_BUCKETS,
        key_cols=["band_idx", "bucket", "vec_id"],
        bucket_cols=["band_idx", "bucket"],
    )
    batches: list = []  # per batch: wall, candidates, pairs, prune buckets, apply s

    def ingest(j: int) -> None:
        t = time.perf_counter()
        new = spark.read.parquet(os.path.join(pending, f"b{j}.parquet"))
        corpus = spark.read.parquet(vec_dir)
        ev = sim.emb_band_index_events(new, batch_seq=j).persist()
        bands = ev.select("band_idx", "bucket", "vec_id")
        with tr.span("merge.read_prune", group=True):
            index = sink.read_prune_for(bands.select("band_idx", "bucket"))
        n_buckets = 0
        if tr.enabled:
            n_buckets = len({m.group(1) for f in index.inputFiles() for m in [re.search(r"_bucket=(\d+)", f)] if m})
        reg: list = []
        found = sim.incremental_emb_neardup(
            index.select("band_idx", "bucket", "vec_id"),
            new,
            corpus,
            threshold=DD_THRESHOLD,
            batch_bands=bands,
            cache_registry=reg,
        )
        with tr.span("sim.candidates", group=True):
            n_cand = reg[0].count()
        with tr.span("sim.verify", group=True):
            pairs = found.collect()
        t2 = time.perf_counter()
        with tr.span("merge.apply", group=True):
            m = sink.apply_batch(ev, batch_id=j, collect_metrics=False)
        apply_s = time.perf_counter() - t2
        for c in reg:
            c.unpersist()
        ev.unpersist()
        os.rename(os.path.join(pending, f"b{j}.parquet"), os.path.join(vec_dir, f"b{j}.parquet"))
        batches.append(
            {"j": j, "wall": time.perf_counter() - t, "cand": n_cand, "pairs": pairs,
             "prune_buckets": n_buckets, "apply_s": apply_s, "m": m}
        )

    with tr.span("bench.dedup_warmup"):
        with tr.span("merge.apply", group=True):
            sink.apply_batch(
                sim.emb_band_index_events(spark.read.parquet(os.path.join(vec_dir, "b0.parquet")), batch_seq=0),
                batch_id=0,
                collect_metrics=False,
            )
        for j in range(1, DD_WARM + 1):
            ingest(j)
    run.mark("dedup_warmup")
    with tr.span("bench.dedup") as span:
        for j in range(DD_WARM + 1, n_total + 1):
            with tr.span("bench.batch"):
                ingest(j)
    timed_b = batches[DD_WARM:]
    wall = sum(b["wall"] for b in timed_b)
    run.diag["dedup"] = {
        "batch_ingest_s": [round(b["wall"], 3) for b in batches],
        "ingest_vecs_per_s": round(DD_BATCH * len(timed_b) / wall, 2),
        "pairs_per_batch": [len(b["pairs"]) for b in batches],
    }
    return {"span": span, "sink": sink, "batches": batches, "timed": timed_b,
            "wall": wall, "ids": ids, "vecs": vecs, "rng": rng}


def _gate_dedup(run: Run, dd: dict) -> None:
    """Each batch's pairs equal the NumPy twin of
    ``incremental_emb_neardup_sql()``; sampled index rows carry the
    band buckets recomputed in NumPy and the right ``added_batch``; the
    index holds one row per band per vector."""
    from chomper_spark.functions import similarity as sim

    sink, ids, vecs, rng = dd["sink"], dd["ids"], dd["vecs"], dd["rng"]
    all_ids, ingested = np.concatenate(ids), np.vstack(vecs)
    pick = rng.choice(len(all_ids), GATE_KEYS, replace=False)
    bands_np = inputs.band_buckets(ingested[pick], sim.NEARDUP_BANDS, sim.LSH_ROWS)
    band_of = rng.integers(0, sim.NEARDUP_BANDS, GATE_KEYS)
    added = np.searchsorted(np.cumsum([len(x) for x in ids]), pick, side="right")
    expect = {
        (int(b), int(bands_np[i, b]), int(all_ids[p]), int(added[i]))
        for i, (p, b) in enumerate(zip(pick, band_of))
    }
    cols = ["band_idx", "bucket", "vec_id", "added_batch"]
    keys = [e[:3] for e in expect]
    got = {tuple(int(x) for x in r) for r in sink.read_keys(keys).select(*cols).collect()}
    run.check(got == expect, f"index rows: {len(got ^ expect)} differ")
    n_rows, want = sink.read().count(), sim.NEARDUP_BANDS * len(all_ids)
    run.check(n_rows == want, f"index scan {n_rows} rows != {want}")
    gate.check_neardup_batches(
        run,
        [
            {
                "batch_no": b["j"],
                "index_ids": np.concatenate(ids[: b["j"]]),
                "index_vecs": np.vstack(vecs[: b["j"]]),
                "batch_ids": ids[b["j"]],
                "batch_vecs": vecs[b["j"]],
                "pairs": [(r["vec_id"], r["dup_of"], r["cosine"]) for r in b["pairs"]],
            }
            for b in dd["batches"]
        ],
        DD_THRESHOLD,
    )
    run.diag["index_describe"] = {k: v for k, v in sink.describe().items() if k != "root"}


WORKLOADS = {"backfill_mor": backfill_mor, "tail_cow": tail_cow}


# ------------------------------------------------------------ traced run


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(median(xs)) if xs else 0.0


def per_layer(run: Run, tr: Tracer, ctx: dict) -> dict:
    """Every per-layer metric of a traced run (0 for layers the workload
    does not exercise), from the spans, the workload's ``ctx`` and the
    event log, which is complete once the session has stopped."""
    timed, reads = ctx["timed"], ctx["reads"]
    groups, jobs, totals = parse_event_log(os.path.join(run.work, "eventlog"))
    out = {name: 0.0 for name, _ in PER_LAYER}

    def gm(sp):
        return groups.get(sp.group) if sp.group else None

    sess = tr.named("session.start")
    out["session.start_s"] = sess[0].dur if sess else 0.0

    applies = tr.named("merge.apply", within=timed)
    app_g = [gm(s) for s in applies if gm(s)]
    n_ev = ctx["events_per_apply"] * max(1, len(applies))
    if applies:
        out["merge.apply_s"] = _med(s.dur for s in applies)
        out["merge.apply_jobs"] = _med(len(s.jobs) for s in applies)
        out["merge.apply_tasks"] = _med(s.tasks for s in applies)
        out["merge.apply_shuffle_bytes_per_event"] = sum(g.shuffle_write for g in app_g) / n_ev
        out["merge.apply_spill_bytes"] = float(sum(g.spill for g in app_g))
        out["merge.apply_task_skew"] = _med(g.skew for g in app_g)
        out["merge.bytes_written_per_event"] = sum(g.bytes_written for g in app_g) / n_ev
    recs = ctx["applies"]
    out["merge.buckets_touched"] = _med(r[2].buckets_touched for r in recs)
    compact = [r for r in recs if r[4] < r[3]]
    out["merge.compact_applies"] = float(len(compact))
    total_apply = sum(r[1] for r in recs)
    out["merge.compact_s_share"] = sum(r[1] for r in compact) / total_apply if total_apply else 0.0

    lk = tr.named("merge.read_keys", within=reads)[LOOKUP_WARM:]
    if lk:
        out["merge.read_keys_s"] = _med(s.dur for s in lk)
        out["merge.read_keys_jobs"] = _med(len(s.jobs) for s in lk)
        out["merge.read_keys_bytes_read"] = _med(gm(s).bytes_read for s in lk if gm(s))
    scans = tr.named("merge.scan", within=reads)[SCAN_WARM:]
    out["merge.scan_bytes_read"] = _med(gm(s).bytes_read for s in scans if gm(s))
    out["merge.delta_refs_at_read"] = float(ctx["depth"])

    if "expire" in ctx:
        out["merge.expire_s"], out["merge.expire_bytes_freed"] = map(float, ctx["expire"])

    progress = ctx.get("progress") or []
    if progress:
        offset = time.time() - time.perf_counter()
        trig = [float(p.durationMs.get("triggerExecution", 0)) / 1000 for p in progress]
        addb = [float(p.durationMs.get("addBatch", 0)) / 1000 for p in progress]
        out["stream.trigger_s"] = _med(trig)
        out["stream.add_batch_s"] = _med(addb)
        out["stream.overhead_s"] = _med(t - a for t, a in zip(trig, addb))
        out["stream.events_per_trigger"] = _med(float(p.numInputRows) for p in progress)
        out["stream.backlog_files"] = _med(ctx["files_per_trigger"])
        windows = []
        for p, d in zip(progress, trig):
            start = pd.Timestamp(p.timestamp).timestamp()
            windows.append((start, start + d))
            s0 = start - offset
            tsp = tr.add("stream.trigger", s0, s0 + d, parent=timed.sid)
            for sp in tr.spans:
                if sp.name in ("merge.apply", "lineage.append") and sp.start >= s0 - 0.05 and sp.end <= s0 + d + 0.05:
                    sp.parent = tsp.sid
        in_win = [g for ms, g in jobs if any(a <= ms / 1000 <= b for a, b in windows)]
        out["stream.jobs_per_trigger"] = len(in_win) / len(progress)
        lin = tr.named("lineage.append", within=timed)
        out["lineage.append_s"] = _med(s.dur for s in lin)
        out["lineage.jobs_per_trigger"] = sum(len(s.jobs) for s in lin) / len(progress)
    for sp in tr.spans:  # stray callback spans hang off the timed phase
        if sp.parent is None and sp is not timed and timed.start <= sp.start and sp.end <= timed.end:
            sp.parent = timed.sid

    roots = [timed]
    if "dedup" in ctx:
        span, dd = ctx["dedup"]["span"], ctx["dedup"]["timed"]
        roots.append(span)
        out["merge.read_prune_s"] = _med(s.dur for s in tr.named("merge.read_prune", within=span))
        out["merge.read_prune_buckets"] = _med(b["prune_buckets"] for b in dd)
        out["sim.candidates_s"] = _med(s.dur for s in tr.named("sim.candidates", within=span))
        out["sim.verify_s"] = _med(s.dur for s in tr.named("sim.verify", within=span))
        out["sim.candidates_per_vec"] = sum(b["cand"] for b in dd) / (DD_BATCH * len(dd))
        out["sim.verify_yield"] = sum(len(b["pairs"]) for b in dd) / max(1, sum(b["cand"] for b in dd))
        out["sim.index_apply_s"] = _med(s.dur for s in tr.named("merge.apply", within=span))
        out["ingest_vecs_per_s"] = DD_BATCH * len(dd) / sum(b["wall"] for b in dd)
        out["batch_ingest_s_p50"] = _med(b["wall"] for b in dd)

    out["spark.gc_share"] = totals.get("gc_ms", 0) / totals["run_ms"] if totals.get("run_ms") else 0.0
    out["proc.jvm_rss_mb"] = run.diag["jvm_peak_rss_mb"]

    # timed phases: the replay or the tail, and the near-dup batches
    selft: dict = {}
    for root in roots:
        for layer, v in tr.self_times(root).items():
            selft[layer] = selft.get(layer, 0.0) + v
    for layer in ("session", "merge", "stream", "lineage", "sim", "bench"):
        out[f"self.{layer}_s"] = selft.get(layer, 0.0)
    sids = {r.sid for r in roots}
    kids = [s for s in tr.spans if s.parent in sids]
    # the same interval the untraced run reports as diag timed_wall_s:
    # whole cycles / batches on the closed loops, start to stop on the tail
    loops = [s for s in kids if s.name in ("bench.cycle", "bench.batch")]
    out["trace.timed_wall_s"] = sum(s.dur for s in loops) if loops else timed.dur
    root_s = sum(r.dur for r in roots)
    out["trace.phase_sum_share"] = sum(s.dur for s in kids) / root_s if root_s else 0.0
    out["trace.overhead_s"] = tr.overhead_s
    run.diag["self_times_timed"] = {k: round(v, 4) for k, v in selft.items()}
    return out
