"""The MERGE apply engine — the heart of the CDC sink.

Reference semantics being reproduced, set-oriented (SURVEY.md §2.3):
  E5 PostgresUpserter — per-row SELECT→UPDATE|INSERT with a documented
     race (chomper/contrib/postgres.py:295-393, race noted :301-302)
  E3 PostgresUpdater  — update-only, no insert-if-missing
     (chomper/contrib/postgres.py:184-259)
  E9 sql Upserter     — .overwrite(False) = update only target-NULL
     columns; .protected() columns never written
     (chomper/contrib/sql/exporters.py:202-322, :239, :50-54)
  E6 change listeners — on_insert / on_update / on_<field>_change
     (chomper/contrib/postgres.py:312-313,395-444)

plus the north rule's delete arm (op='D') and exactly-once.

Physical design (a snapshot/manifest table whose apply semantics
match ``MERGE INTO``; no lakehouse catalog is needed):

* Table state = hash-bucketed parquet: bucket k holds keys with
  ``pmod(xxhash64(cast(conv_id as string), cast(turn_idx as string)),
  n_buckets) = k`` (canonical string form — widen-stable).  Bucketing on
  the FULL key (not conv_id alone) is deliberate skew handling: a hot
  conversation's turns spread over all buckets, so no single task
  owns a hot key (north rule: salted-key skew handling — turn_idx is
  the natural salt; see also ``with_salt`` in operators/skew.py).
* A batch touches only the buckets its keys hash to → the apply
  reads/rewrites just those buckets (Iceberg-style partition pruning);
  untouched buckets are carried forward by manifest reference, never
  rewritten.  At 10^10 rows this is what keeps a micro-batch O(batch),
  not O(table).
* Snapshot isolation + exactly-once: each apply writes a NEW snapshot
  directory and commits a manifest — normally a DELTA manifest carrying
  only the touched buckets' map entries (O(batch)), checkpointed to a
  full manifest every _CHECKPOINT_EVERY commits so opening the table
  folds a bounded chain.  The commit is a single atomic rename of the
  ``_CURRENT`` pointer; the batch-id ledger lives INSIDE the manifest
  as a contiguous high-watermark + bounded out-of-order set (never the
  full id list — a years-long stream commits 10^5-10^6 batches), so
  "state updated" and "batch recorded" are one atomic action — a
  replayed/resumed batch is skipped (ledger) and harmless anyway
  (idempotent latest-wins merge keyed on (conv_id, turn_idx, version)).
* Late events: the state carries the applied version (_op_ts,
  _batch_seq) per key and deletes are tombstoned, so an out-of-order
  event arriving in a later batch can never overwrite newer state nor
  resurrect a deleted row.  Replay from ANY checkpoint converges to
  the same final table (global latest-wins order).
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import re
import tempfile
from dataclasses import dataclass, field

import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from chomper_spark import schema as S
from chomper_spark.operators.dedup import dedup_latest_agg
from chomper_spark.operators.evolve import align_to_schema, evolve_schema, quote, sql_str

_BUCKET = "_bucket"
_SRC = "_src"  # fold input: true for batch events, false for stored rows
_MANIFEST_RE = re.compile(r"^m\d{8}\.json$")
_SNAP_RE = re.compile(r"snapshots/s(\d{8})/")
_SNAP_DIR_RE = re.compile(r"^s(\d{8})$")
_SHARED_SID = r"(s\d{8})/delta_shared"  # a shared delta file's snapshot dir
_COMMIT_RETRIES = 5


class CommitConflictError(RuntimeError):
    """Another writer committed the same chain position first.  The
    loser's work (data files under its claimed snapshot dir) is
    unreferenced garbage; the public entry points (apply_batch,
    compact, truncate) re-read HEAD and retry against the new parent —
    raised to callers only after ``_COMMIT_RETRIES`` straight losses."""


def _schema_for_rel(history: list[dict], rel: str) -> str:
    """The schema (JSON text) a data file carries, derived from the
    snapshot id embedded in its path: the newest ``schema_history``
    entry whose ``from_snapshot`` ≤ the file's snapshot.  No per-file
    metadata needed — a file always carries the schema that was
    current when its snapshot was written."""
    sid = int(_SNAP_RE.search(rel).group(1))
    cur = history[0]["schema"]
    for h in history:
        if h["from_snapshot"] <= sid:
            cur = h["schema"]
        else:
            break
    return cur


def _live(state: DataFrame) -> DataFrame:
    """User-facing rows of a state frame: no tombstones, no version
    metadata."""
    return state.where(f"NOT {S.META_DELETED}").drop(*S.META_COLS)


def _swap_in_bases(
    buckets: dict, deltas: dict, fold: list[int], written: list[int], rel: str
) -> dict:
    """Point each ``fold`` bucket at the base its fold wrote under
    ``rel`` (or drop the bucket when the fold left no rows) and retire
    its delta chain.  Edits ``buckets``/``deltas`` in place; returns
    the matching delta-manifest entries."""
    doc: dict = {"bucket_updates": {}, "bucket_removals": [], "delta_removals": []}
    done = set(written)
    for k in map(str, fold):
        if int(k) in done:
            buckets[k] = doc["bucket_updates"][k] = f"{rel}/{_BUCKET}={k}"
        elif buckets.pop(k, None) is not None:
            doc["bucket_removals"].append(k)
        if deltas.pop(k, None) is not None:
            doc["delta_removals"].append(k)
    return doc

# Commit-metadata bounds (round 4).  A continuous stream commits one
# snapshot per micro-batch for years — 10^5-10^6 commits over 10^4-10^6
# buckets at the design point — so nothing written PER COMMIT may be
# proportional to table history or table width:
#   * the batch-id ledger is a contiguous high-watermark plus a bounded
#     out-of-order set (foreachBatch epochs are contiguous, so the set
#     is empty in steady state), never the full id list;
#   * a normal commit writes a DELTA manifest carrying only the touched
#     buckets' map entries (O(batch)); every _CHECKPOINT_EVERY commits
#     a full checkpoint manifest bounds the fold chain, so opening a
#     table reads ≤ _CHECKPOINT_EVERY small files + one checkpoint
#     (Iceberg's snapshot/manifest-list split, file-system flavored).
_CHECKPOINT_EVERY = 16
# sanity bound for pathological non-contiguous batch-id use (manual
# callers skipping ids); contiguous streaming never grows the set.
_RECENT_MAX = 100_000
# Checkpoint SHARDING (round 5): a checkpoint's bucket/delta maps are
# O(table width), so on a wide table every 16th commit wrote a
# multi-MB manifest (amortized O(width/16) bytes per commit).  Wide
# tables (n_buckets >= _SHARD_MIN_BUCKETS) now split those maps into
# per-bucket-range shard files of _SHARD_SIZE buckets each; a
# checkpoint rewrites ONLY the shards containing buckets touched since
# the previous checkpoint and carries the rest forward by file
# reference — Iceberg's manifest-list/manifest split, file-system
# flavored.  Per-checkpoint bytes = O(touched shards) + the shard map
# (O(width/_SHARD_SIZE) ~30-byte entries), so per-commit manifest
# bytes are bounded by the batch's locality, not the table width.
_SHARD_SIZE = 256
_SHARD_MIN_BUCKETS = 1024
_SHARD_SEQ = itertools.count()
# The manifest format.  Every manifest, delta or checkpoint, carries
# the HEAD keys (snapshot id, chain position, batch ledger, schema,
# table properties); folding a delta adopts its head verbatim.  A
# checkpoint also carries the state a delta edits: the schema history
# (in a delta only when it changed) and the bucket, delta-chain and
# change-dir maps (bucket/delta maps in shard files on wide tables).
# ``_fold_by_name`` refuses a manifest that lacks any of them.
_HEAD_KEYS = (
    "snapshot_id", "chain_len", "batch_watermark", "recent_batches",
    "schema", "key_cols", "bucket_cols", "n_buckets",
)
_CHECKPOINT_KEYS = (*_HEAD_KEYS, "schema_history", "buckets", "deltas", "changes")


def _check_format(name: str, doc: dict, keys: tuple[str, ...]) -> dict:
    """``doc`` if it carries every key in ``keys``; a manifest is input
    from outside the program, so a missing key is refused here, before
    any fold or apply reads it."""
    missing = [k for k in keys if k not in doc]
    if missing:
        raise ValueError(
            f"manifest {name} lacks {missing}: it was written in an older "
            "format this engine does not read; the table needs a rewrite "
            "into a new root"
        )
    return doc


def _ledger_contains(manifest: dict | None, batch_id: int) -> bool:
    """Exactly-once skip check against the bounded ledger — O(recent),
    not O(all batches ever committed)."""
    if manifest is None:
        return False
    return batch_id <= manifest["batch_watermark"] or batch_id in manifest["recent_batches"]


def _ledger_add(manifest: dict | None, batch_id: int) -> tuple[int, list[int]]:
    """New (watermark, recent) after committing ``batch_id``: the
    watermark advances through any now-contiguous prefix, so recent
    stays empty under in-order epochs."""
    wm = manifest["batch_watermark"] if manifest else -1
    recent = set(manifest["recent_batches"]) if manifest else set()
    recent.add(batch_id)
    while wm + 1 in recent:
        wm += 1
        recent.discard(wm)
    if len(recent) > _RECENT_MAX:
        raise ValueError(
            f"batch-id ledger out-of-order set exceeded {_RECENT_MAX} ids "
            f"(watermark {wm}); use contiguous batch ids"
        )
    return wm, sorted(recent)


def _edited_keys(d: dict) -> set:
    """The buckets a delta doc's map edits touch."""
    return {
        k for part in ("bucket_updates", "bucket_removals", "delta_sets", "delta_removals")
        for k in d.get(part, ())
    }


def _apply_manifest_delta(base: dict, d: dict) -> dict:
    """Fold one delta manifest onto a resolved base.  Copies the maps
    it edits so a cached base is never aliased."""
    out = dict(base)
    out.update({k: d[k] for k in _HEAD_KEYS})
    if "schema_history" in d:  # present only on evolution commits
        out["schema_history"] = d["schema_history"]
    buckets = dict(base["buckets"])
    buckets.update(d.get("bucket_updates", {}))
    for k in d.get("bucket_removals", ()):
        buckets.pop(k, None)
    out["buckets"] = buckets
    deltas = {k: list(v) for k, v in base["deltas"].items()}
    deltas.update({k: list(v) for k, v in d.get("delta_sets", {}).items()})
    for k in d.get("delta_removals", ()):
        deltas.pop(k, None)
    out["deltas"] = deltas
    # shard bookkeeping: which buckets changed since the base
    # checkpoint (drives which shard files the NEXT checkpoint must
    # rewrite), and the base's shard map (what it can reuse)
    out["_dirty_buckets"] = base["_dirty_buckets"] | _edited_keys(d)
    out["_shard_map"] = dict(base["_shard_map"])
    if d.get("changes_updates"):
        out["changes"] = {**base["changes"], **d["changes_updates"]}
    return out


def _obs_row(obs) -> dict:
    """Read an Observation's metrics, tolerating elimination: when a
    batch is a statically-empty relation, PropagateEmptyRelation
    rewrites the subtree and the CollectMetrics node never fires —
    the true counts are then all zero, surfaced as a Py4J-wrapped
    ``java.lang.AssertionError`` from Observation.get.  ONLY that error
    is mapped to {}; anything else (listener failure, network, a future
    API change) propagates — the counters are the Importer's contract,
    so a silent 0 would misreport dropped rows as applied."""
    try:
        return dict(obs.get)
    except Py4JJavaError as e:
        if "java.lang.AssertionError" in str(e):
            return {}
        raise


@dataclass
class MergeMetrics:
    batch_id: int
    skipped: bool = False
    events_in: int = 0
    dedup_drops: int = 0
    merge_rows: int = 0
    inserted: int = 0
    updated: int = 0
    deleted: int = 0
    buckets_touched: int = 0
    field_changes: dict = field(default_factory=dict)
    # COW only: (bucket, events, distinct keys, newest op_ts as epoch ms)
    # per touched bucket — the rows of the per-batch lineage table
    bucket_stats: list = field(default_factory=list)
    schema_added: list = field(default_factory=list)
    schema_widened: list = field(default_factory=list)

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def _meta_schema(payload: T.StructType, audit: bool = False) -> T.StructType:
    """State schema = key+payload columns [+ audit timestamps]
    + version/tombstone metadata."""
    audit_fields = (
        [
            T.StructField(S.AUDIT_CREATED, T.TimestampType(), True),
            T.StructField(S.AUDIT_UPDATED, T.TimestampType(), True),
        ]
        if audit
        else []
    )
    return T.StructType(
        list(payload.fields)
        + audit_fields
        + [
            T.StructField(S.META_OP_TS, T.TimestampType(), False),
            T.StructField(S.META_BATCH_SEQ, T.LongType(), False),
            T.StructField(S.META_DELETED, T.BooleanType(), False),
        ]
    )


class SnapshotMergeSink:
    """MERGE INTO target USING batch ON key — snapshot/manifest engine.

    What an apply computes, as Iceberg SQL (plus the tombstone and
    pre-image rules of ``apply_batch``):

        MERGE INTO target t USING deduped_batch s
        ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
        WHEN MATCHED AND s.op = 'D' AND <s newer> THEN DELETE
        WHEN MATCHED AND <s newer> THEN UPDATE SET ...
        WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT ...
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 32,
        key_cols: list[str] | None = None,
        version_cols: list[str] | None = None,
        write_mode: str = "cow",
        mor_compact_threshold: int = 8,
        audit_timestamps: bool = False,
        bucket_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.key_cols = key_cols or S.KEY_COLS
        self.version_cols = version_cols or S.VERSION_COLS
        # bucket_cols: the key-column PREFIX/subset rows are physically
        # bucketed by (default: the full key).  Bucketing on a subset is
        # merge-correct — every row of a key still lands in one bucket —
        # and lets probe-side pruning use partial keys: an index table
        # keyed (band_idx, band_val, doc_id) but bucketed on
        # (band_idx, band_val) supports read_prune_for() with just the
        # band columns, so a micro-batch probes only the buckets its
        # band hashes land in instead of scanning/shuffling the corpus.
        self.bucket_cols = list(bucket_cols) if bucket_cols else list(self.key_cols)
        if not set(self.bucket_cols) <= set(self.key_cols):
            raise ValueError(
                f"bucket_cols {self.bucket_cols} must be a subset of "
                f"key_cols {self.key_cols}"
            )
        # audit_timestamps: E9 .timestamps() (chomper/contrib/sql/
        # exporters.py:110-145, tests/test_sql.py:116-128) — created_at
        # set when a key's state row first materializes, updated_at
        # advanced on every applied change; both parameterized by the
        # apply_batch(batch_time=...) argument, never current_timestamp()
        # (replay must be deterministic).  Needs the pre-image → COW only.
        self.audit_timestamps = audit_timestamps
        # write_mode: both modes apply a batch through the one fold plan
        # (``_fold_write``); they differ in which buckets it folds.
        #   "cow" (copy-on-write): every touched bucket folds — its stored
        #     rows and the batch's events reduce latest-wins per key into
        #     a new base — so reads are a plain scan, but every batch
        #     writes O(touched table).  Matches Iceberg COW MERGE.
        #   "mor" (merge-on-read): each batch APPENDS a per-bucket delta
        #     file (O(batch) write — the only shape that holds at 10^10
        #     events) and reads reduce base+deltas latest-wins; only a
        #     bucket whose chain reaches ``mor_compact_threshold`` folds
        #     (amortized rewrites).  Matches Iceberg/Hudi MOR.
        #     Modes needing the pre-image at write time (update_only_nulls,
        #     insert_missing=False, protected, listen_fields, audit
        #     timestamps, per-op metrics) require "cow".
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        self.write_mode = write_mode
        self.mor_compact_threshold = mor_compact_threshold
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        # n_buckets and key_cols are TABLE properties, recorded in the
        # manifest at creation: every existing row's location is a
        # function of them, so honoring a different constructor value on
        # an existing table would orphan all current state (e.g. a
        # maintenance compact() re-hashing into dirs the manifest never
        # references — silent data loss).  Re-bucketing/re-keying needs
        # an explicit full rewrite, not a config change; until that
        # exists, the on-disk values win.
        m = self.current_manifest()
        if m is not None:
            self.n_buckets = int(m["n_buckets"])
            self.key_cols = list(m["key_cols"])
            self.bucket_cols = list(m["bucket_cols"])

    # ---------------------------------------------------------- manifest io

    def _current_path(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def _current_name(self) -> str | None:
        """HEAD manifest name.  ``_CURRENT`` is a fast HINT, not the
        commit point: the commit point is the exclusive-create of the
        sequence-numbered manifest file itself (see ``_write_manifest``),
        so after reading the hint we probe FORWARD for higher-numbered
        manifests — commit ids are contiguous (CAS forces every commit
        to be parent+1), so the probe walks at most the number of
        commits since the hint was last flipped (normally 0; >0 only
        when racing another writer or after a crash between link and
        flip)."""
        p = self._current_path()
        if not os.path.exists(p):
            # bootstrap race/crash window: m00000000.json linked but
            # _CURRENT never flipped
            if os.path.exists(os.path.join(self.root, "manifests", "m00000000.json")):
                name = "m00000000.json"
            else:
                return None
        else:
            with open(p) as fh:
                name = fh.read().strip()
        sid = int(name[1:9])
        while os.path.exists(
            os.path.join(self.root, "manifests", f"m{sid + 1:08d}.json")
        ):
            sid += 1
        return f"m{sid:08d}.json"

    def _load_raw(self, name: str) -> dict:
        with open(os.path.join(self.root, "manifests", name)) as fh:
            return json.load(fh)

    def _fold_by_name(self, name: str) -> dict:
        """Resolve a manifest name to the FULL logical manifest, folding
        its delta chain onto the nearest checkpoint (≤ _CHECKPOINT_EVERY
        file reads; one cached fold makes the steady-state cost O(1)
        per commit).  The folded dict carries ``_name`` for delta-commit
        parent linkage; it is never written to disk.  Every manifest
        loaded is checked against the format (``_check_format``) before
        anything folds it."""
        cached = getattr(self, "_fold_cache", None)
        if cached and cached[0] == name:
            return cached[1]
        chain: list[dict] = []
        cur = name
        while True:
            if cached and cached[0] == cur:
                base = cached[1]
                break
            raw = self._load_raw(cur)
            if not raw.get("delta"):
                base = self._expand_checkpoint(cur, raw)
                break
            chain.append(_check_format(cur, raw, _HEAD_KEYS))
            cur = raw["parent"]
        for d in reversed(chain):
            base = _apply_manifest_delta(base, d)
        base["_name"] = name
        self._fold_cache = (name, base)
        return base

    def current_manifest(self) -> dict | None:
        """Folded HEAD.  Retries on a vanished ancestor: a concurrent
        ``expire_snapshots`` may rewrite kept delta manifests in place
        as self-contained checkpoints and then DELETE their ancestors —
        a fold walk that started just before loses the parent file
        mid-chain.  The rewrite lands before any deletion, so re-reading
        HEAD always folds cleanly; bounded retries make the reader/
        writer side of GC concurrency-safe to match the commit CAS."""
        for _ in range(_COMMIT_RETRIES):
            name = self._current_name()
            if name is None:
                return None
            try:
                return self._fold_by_name(name)
            except FileNotFoundError:
                self._fold_cache = None
                continue
        return self._fold_by_name(self._current_name())

    def _write_manifest(self, doc: dict) -> str:
        """Publish a manifest with a compare-and-swap.

        The manifest's full content is written to a temp file, then
        ``os.link``ed to its sequence-numbered name — an ATOMIC
        exclusive-create that carries complete content (no reader can
        observe a half-written manifest, no two writers can both own
        one chain position).  That link IS the commit point: state +
        batch ledger become visible together or not at all.  A second
        writer racing for the same position gets ``FileExistsError`` →
        ``CommitConflictError``; the public entry points re-read HEAD
        and retry against the new parent, so concurrent streaming
        apply + maintenance compaction can never silently clobber each
        other's commits (last-wins ``os.replace`` did exactly that
        before round 5).  The ``_CURRENT`` flip afterwards is only a
        read hint — ``_current_name`` probes forward past it."""
        name = f"m{doc['snapshot_id']:08d}.json"
        mpath = os.path.join(self.root, "manifests", name)
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "manifests"),
                                   suffix=".inflight")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(doc, fh)
            try:
                os.link(tmp, mpath)
            except FileExistsError:
                raise CommitConflictError(
                    f"manifest {name} already committed by another writer"
                ) from None
        finally:
            os.unlink(tmp)
        fd, tmp = tempfile.mkstemp(dir=self.root)
        with os.fdopen(fd, "w") as fh:
            fh.write(name)
        os.replace(tmp, self._current_path())
        return name

    def _claim_snapshot_dir(self) -> tuple[int, str]:
        """Claim a UNIQUE snapshot data directory via exclusive mkdir —
        concurrent writers each write their data under their own claim,
        so a pre-commit Spark overwrite can never clobber files a
        racing winner's manifest references.  Ids are claimed above the
        max existing dir id, so committed dir ids stay monotone with
        commit order (``_schema_for_rel`` relies on that to map a
        file's path to its schema epoch); a loser's abandoned claim is
        unreferenced garbage for ``expire_snapshots``.  The dir id can
        therefore run AHEAD of the manifest's commit id — they are
        decoupled on purpose."""
        sdir = os.path.join(self.root, "snapshots")
        # the directory listing runs once per sink instance; afterwards
        # the cursor advances in memory, so a long-running stream pays
        # O(1) per commit instead of O(#snapshot dirs) (the mkdir loop
        # still resolves any collision with another process's claims)
        nxt = getattr(self, "_claim_cursor", None)
        if nxt is None:
            nxt = (
                max(
                    (
                        int(m.group(1))
                        for d in os.listdir(sdir)
                        if (m := _SNAP_DIR_RE.match(d))
                    ),
                    default=-1,
                )
                + 1
            )
        while True:
            path = os.path.join(sdir, f"s{nxt:08d}")
            try:
                os.mkdir(path)
                self._claim_cursor = nxt + 1
                return nxt, path
            except FileExistsError:
                nxt += 1

    def _expand_checkpoint(self, name: str, raw: dict) -> dict:
        """The folded state of checkpoint ``name``: exactly its
        ``_CHECKPOINT_KEYS`` (checked), with a sharded checkpoint's
        (wide table's) bucket/delta maps loaded from its shard files,
        plus an empty dirty set and the checkpoint's shard map."""
        shard_map = raw.pop("bucket_shards", None)
        if shard_map is not None:
            raw["buckets"], raw["deltas"] = {}, {}
            for rel in shard_map.values():
                with open(os.path.join(self.root, "manifests", rel)) as fh:
                    sh = json.load(fh)
                raw["buckets"].update(sh.get("buckets", {}))
                raw["deltas"].update(sh.get("deltas", {}))
        _check_format(name, raw, _CHECKPOINT_KEYS)
        return {
            **{k: raw[k] for k in _CHECKPOINT_KEYS},
            "_shard_map": shard_map or {},
            "_dirty_buckets": set(),
        }

    def _checkpoint_doc(
        self, full: dict, prev_map: dict, dirty_keys: set | None
    ) -> dict:
        """The checkpoint doc of ``full`` (a complete manifest at
        ``chain_len`` 0): its ``_CHECKPOINT_KEYS``.  On wide tables the
        bucket/delta maps move into per-range shard files, rewriting
        ONLY the shards containing ``dirty_keys`` (None = unknown →
        rewrite all) and carrying clean shards forward from
        ``prev_map`` by reference.  Resets ``full``'s shard
        bookkeeping to match the doc."""
        doc = {"format": 2, **{k: full[k] for k in _CHECKPOINT_KEYS}}
        full["_dirty_buckets"] = set()
        if int(full["n_buckets"]) < _SHARD_MIN_BUCKETS:
            full["_shard_map"] = {}
            return doc
        n_shards = -(-int(full["n_buckets"]) // _SHARD_SIZE)
        if not prev_map or dirty_keys is None:
            dirty_shards = set(range(n_shards))
        else:
            dirty_shards = {int(k) // _SHARD_SIZE for k in dirty_keys}
        shard_map = {
            s: rel for s, rel in prev_map.items() if int(s) not in dirty_shards
        }
        sdir = os.path.join(self.root, "manifests", "shards")
        os.makedirs(sdir, exist_ok=True)
        by_shard: dict[int, dict] = {}
        for part in ("buckets", "deltas"):
            for k, v in doc.pop(part).items():
                s = int(k) // _SHARD_SIZE
                if s in dirty_shards:
                    by_shard.setdefault(s, {"buckets": {}, "deltas": {}})[part][k] = v
        for s, content in sorted(by_shard.items()):
            # name must be unique across concurrent writers racing the
            # same commit position (pid) and across same-process
            # retries/instances (module counter) — a loser's file must
            # never overwrite one a winner's manifest references
            fname = (
                f"c{doc['snapshot_id']:08d}_{s}_{os.getpid()}_"
                f"{next(_SHARD_SEQ)}.json"
            )
            with open(os.path.join(sdir, fname), "w") as fh:
                json.dump(content, fh)
            shard_map[str(s)] = f"shards/{fname}"
        doc["bucket_shards"] = shard_map
        full["_shard_map"] = dict(shard_map)
        return doc

    def _commit(
        self,
        new_full: dict,
        parent: dict | None,
        delta_doc: dict | None = None,
        touched_keys: set | None = None,
    ) -> None:
        """Commit ``new_full``: the next manifest's ledger, schema,
        ``schema_history`` and bucket/delta/change maps.  The snapshot
        id (parent's + 1), ``chain_len`` and the table properties are
        filled in here, for every commit.

        With a ``delta_doc`` and a parent, only the delta — O(touched
        buckets) — is written, and it carries ``schema_history`` only
        when the history changed; every _CHECKPOINT_EVERY commits, and
        for every full-rewrite operation (no ``delta_doc``: truncate,
        compact), a checkpoint is written instead.  Either way the
        in-memory folded state is installed into the fold cache, so the
        next ``apply_batch`` re-reads nothing."""
        chain_len = 0 if parent is None else parent["chain_len"] + 1
        as_delta = (
            delta_doc is not None
            and parent is not None
            and chain_len <= _CHECKPOINT_EVERY
        )
        new_full.update(
            snapshot_id=parent["snapshot_id"] + 1 if parent else 0,
            chain_len=chain_len if as_delta else 0,
            key_cols=self.key_cols,
            bucket_cols=self.bucket_cols,
            n_buckets=self.n_buckets,
        )
        # keys this commit touches (for shard dirtiness): derivable from
        # the delta_doc when present, else supplied by maintenance ops
        if delta_doc is not None and touched_keys is None:
            touched_keys = _edited_keys(delta_doc)
        if as_delta:
            doc = {
                "format": 2,
                "delta": True,
                "parent": parent["_name"],
                **{k: new_full[k] for k in _HEAD_KEYS},
                **delta_doc,
            }
            if new_full["schema_history"] != parent["schema_history"]:
                doc["schema_history"] = new_full["schema_history"]
            new_full["_shard_map"] = dict(parent["_shard_map"])
            new_full["_dirty_buckets"] = parent["_dirty_buckets"] | touched_keys
        else:
            dirty = (
                parent["_dirty_buckets"] | touched_keys
                if parent is not None and touched_keys is not None
                else None
            )
            doc = self._checkpoint_doc(new_full, parent["_shard_map"] if parent else {}, dirty)
        name = self._write_manifest(doc)
        new_full["_name"] = name
        self._fold_cache = (name, new_full)

    def _next_schema(
        self, manifest: dict | None, evolved: bool, dir_id: int, state_schema: T.StructType
    ) -> dict:
        """``schema`` and ``schema_history`` for an apply's commit.  The
        history appends an entry only on evolution (bounded by the
        number of evolutions ever, not by commits), keyed by the
        DATA-DIR id ``_schema_for_rel`` parses out of file paths, not by
        the commit id."""
        schema_json = json.dumps(state_schema.jsonValue())
        history = manifest["schema_history"] if manifest else []
        if evolved or manifest is None:
            history = [*history, {"from_snapshot": dir_id, "schema": schema_json}]
        return {"schema": schema_json, "schema_history": history}

    # ------------------------------------------------------------- reading

    def _bucket_sql(self) -> str:
        # hash the CANONICAL STRING form of each key column: xxhash64 is
        # type-sensitive (hash(0::int) != hash(0::long)), so hashing raw
        # values would relocate every key when a key column is widened —
        # orphaning/duplicating state.  String form is widen-stable.
        keys = ", ".join(f"CAST({quote(c)} AS STRING)" for c in self.bucket_cols)
        return f"CAST(pmod(xxhash64({keys}), {self.n_buckets}) AS INT)"

    def _bucket_stats(self, df: DataFrame) -> list[tuple]:
        """(bucket, events, distinct keys, newest op_ts as epoch ms) for
        every bucket ``df`` touches, sorted by bucket — at most
        ``n_buckets`` rows.  ``df`` carries ``_bucket``, the key columns
        and ``_op_ts``.  ONE exchange: HashPartitioning on the bucket
        clusters both the per-key and the per-bucket aggregate
        (``count_distinct`` would plan a second)."""
        rows = (
            df.repartition(_BUCKET)
            .groupBy(_BUCKET, *self.key_cols)
            .agg(F.expr("count(1) AS n"), F.expr(f"max({S.META_OP_TS}) AS ts"))
            .groupBy(_BUCKET)
            .agg(*map(F.expr, ("sum(n)", "count(1)", "unix_millis(CAST(max(ts) AS TIMESTAMP))")))
            .collect()
        )
        return sorted(tuple(r) for r in rows)

    def bucket_stats(self, batch: DataFrame) -> list[tuple]:
        """``_bucket_stats`` of a raw change batch: what a COW apply
        reports in ``MergeMetrics.bucket_stats``, for applies that
        compute none (MOR)."""
        return self._bucket_stats(
            batch.selectExpr(
                *map(quote, self.key_cols),
                f"{quote(self.version_cols[0])} AS {S.META_OP_TS}",
                f"{self._bucket_sql()} AS {_BUCKET}",
            )
        )

    def _scan_buckets(self, manifest: dict, buckets: list[int]) -> DataFrame | None:
        """The stored rows of the given buckets, raw: base ∪ chain, not
        reduced (reads reduce them in ``_read_buckets``; every apply and
        ``compact`` reduce them in ``_fold_write``, via ``_stored_rows``).  ONE
        parquet scan per live SCHEMA VERSION (plus one more per version when
        shared small-batch deltas exist) — in steady state exactly one.

        A single multi-path relation (not a union of per-bucket reads —
        N separate relations make planning and listing O(N) per batch).
        Schema evolution is METADATA-ONLY (round 4): an ADD COLUMN /
        type-widen commit touches just its own batch's buckets, so live
        files may carry an older schema.  Each file's schema is derived
        from the snapshot id in its path via the manifest's
        ``schema_history`` (``_schema_for_rel``); files are grouped by
        version, each group scans with ITS exact schema and is aligned
        to the current one with vectorized NULL-backfill/casts
        (``align_to_schema``) before the union.  Compaction rewrites
        lazily fold old versions away (``compact(upgrade_schema=True)``
        forces it), so the group count trends back to one.

        Shared deltas (``delta_layout="single"``, one file holding many
        buckets' rows with the bucket id as a DATA column) are read
        separately, filtered PER FILE to the requested buckets whose
        chains actually reference that file, and unioned.  The
        per-file grain matters after partial compaction: a shared file
        can hold bucket k's rows while only bucket j's chain still
        references it (k's chain was folded into a base) — admitting
        k's rows from it would re-read folded data.  The latest-wins
        reduce would still dedup them against the newer base row, but
        the read should not depend on that.  Filters are SQL text (one
        py4j call, not several per Column op)."""
        cur_json = manifest["schema"]
        schema = T.StructType.fromJson(json.loads(cur_json))
        history = manifest["schema_history"]
        multi_version = len({h["schema"] for h in history}) > 1

        def rel_schema(rel: str) -> str:
            return _schema_for_rel(history, rel) if multi_version else cur_json

        deltas = manifest["deltas"]
        by_schema: dict[str, list[str]] = {}  # schema json → rel paths
        shared: dict[str, set[int]] = {}  # shared rel path → referencing buckets
        for k in buckets:
            rel = manifest["buckets"].get(str(k))
            if rel is not None:
                by_schema.setdefault(rel_schema(rel), []).append(rel)
            for d in deltas.get(str(k), ()):
                if d.endswith("/delta_shared"):
                    shared.setdefault(d, set()).add(int(k))
                else:
                    by_schema.setdefault(rel_schema(d), []).append(d)
        parts = []
        for sjson, rels in sorted(by_schema.items()):
            grp = self.spark.read.schema(
                T.StructType.fromJson(json.loads(sjson))
            ).parquet(*[os.path.join(self.root, r) for r in rels])
            parts.append(grp if sjson == cur_json else align_to_schema(grp, schema))

        def in_set(allowed: set[int]) -> str:
            return f"{_BUCKET} IN ({', '.join(map(str, sorted(allowed)))})"

        shared_by_schema: dict[str, dict[str, set[int]]] = {}
        for d, refs in shared.items():
            shared_by_schema.setdefault(rel_schema(d), {})[d] = refs
        for sjson, grp_shared in sorted(shared_by_schema.items()):
            file_schema = T.StructType.fromJson(json.loads(sjson))
            shared_schema = T.StructType(
                file_schema.fields + [T.StructField(_BUCKET, T.IntegerType(), True)]
            )
            sdf = self.spark.read.schema(shared_schema).parquet(
                *[os.path.join(self.root, d) for d in sorted(grp_shared)]
            )
            allowed_sets = {frozenset(v) for v in grp_shared.values()}
            if len(allowed_sets) == 1:
                # common case: every shared file serves the same subset
                cond = in_set(next(iter(allowed_sets)))
            else:
                # mixed referencing sets → per-file condition keyed on
                # the snapshot dir embedded in the file path (each
                # shared file lives in snapshots/s<id>/delta_shared)
                sid = f"regexp_extract(input_file_name(), {sql_str(_SHARED_SID)}, 1)"
                cond = " OR ".join(  # d = snapshots/<sid>/delta_shared
                    f"({sid} = {sql_str(d.split('/')[1])} AND {in_set(allowed)})"
                    for d, allowed in sorted(grp_shared.items())
                )
            flt = sdf.where(cond).drop(_BUCKET)
            parts.append(flt if sjson == cur_json else align_to_schema(flt, schema))
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _read_buckets(self, manifest: dict, buckets: list[int]) -> DataFrame | None:
        """State rows of the given buckets: ``_scan_buckets``, reduced
        latest-wins per key by applied version when a chain has deltas."""
        df = self._scan_buckets(manifest, buckets)
        deltas = manifest["deltas"]
        if df is None or not any(deltas.get(str(k)) for k in buckets):
            return df
        return dedup_latest_agg(df, self.key_cols, [S.META_OP_TS, S.META_BATCH_SEQ])

    def manifest_at(self, snapshot_id: int) -> dict:
        """Load a historical manifest (time travel; available until
        expire_snapshots removes it), folded to its full logical form."""
        return self._fold_by_name(f"m{snapshot_id:08d}.json")

    def read_state(self, as_of_snapshot: int | None = None) -> DataFrame | None:
        """Full state including tombstones and version metadata.
        None only if the table was never created; an existing empty
        table (e.g. just truncated) reads as an empty DataFrame.
        ``as_of_snapshot`` reads a historical snapshot (time travel)."""
        m = (
            self.current_manifest()
            if as_of_snapshot is None
            else self.manifest_at(as_of_snapshot)
        )
        if m is None:
            return None
        all_buckets = {int(k) for k in m["buckets"]} | {int(k) for k in m["deltas"]}
        out = self._read_buckets(m, sorted(all_buckets))
        if out is None:
            schema = T.StructType.fromJson(json.loads(m["schema"]))
            return self.spark.createDataFrame([], schema=schema)
        return out

    def read(self, as_of_snapshot: int | None = None) -> DataFrame | None:
        """User-facing table: live rows, user columns only.  Pass
        ``as_of_snapshot`` for a point-in-time (time-travel) read —
        every commit is a snapshot, so any committed batch boundary is
        reconstructible until GC'd."""
        st = self.read_state(as_of_snapshot)
        return None if st is None else _live(st)

    def read_keys(
        self, keys: list[tuple], as_of_snapshot: int | None = None
    ) -> DataFrame | None:
        """Bucket-pruned point lookup (the serving-side analogue of the
        write-side bucket pruning): read ONLY the bucket files the
        requested keys hash to, then semi-join the key list.

        A 1-key lookup scans 1 of ``n_buckets`` files instead of the
        whole table (``read()`` always scans every bucket because
        bucket = hash(full key) admits no predicate pruning).  ``keys``
        are tuples in ``key_cols`` order; the list is driver-sized by
        nature (point lookups), so it becomes a driver-local relation
        (an Arrow table, not an RDD): the bucket ids are computed
        without a Spark job and the semi-join broadcasts a local table.
        The bucket scan stays distributed.  The bucket ids come from
        the SAME widen-stable hash expression the writer uses,
        evaluated by Spark over the key relation itself, so pruning and
        data can never disagree.  None if the table was never created.
        """
        m = (
            self.current_manifest()
            if as_of_snapshot is None
            else self.manifest_at(as_of_snapshot)
        )
        if m is None:
            return None
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        user_schema = T.StructType(
            [f_ for f_ in schema.fields if f_.name not in S.META_COLS]
        )
        if not keys:
            return self.spark.createDataFrame([], schema=user_schema)
        by_name = {f_.name: f_ for f_ in schema.fields}
        key_schema = T.StructType([by_name[c] for c in self.key_cols])
        keys_df = self.spark.createDataFrame(
            pa.Table.from_pylist(
                [dict(zip(self.key_cols, k, strict=True)) for k in keys],
                schema=to_arrow_schema(key_schema),
            )
        )
        # a projection of a local relation is folded on the driver (0
        # jobs); deduplicate here, since a Spark distinct would plan an
        # aggregate and run jobs again
        buckets = sorted({r[0] for r in keys_df.selectExpr(self._bucket_sql()).collect()})
        st = self._read_buckets(m, buckets)
        if st is None:
            return self.spark.createDataFrame([], schema=user_schema)
        return _live(st).join(keys_df.hint("broadcast"), on=self.key_cols, how="left_semi")

    def read_prune_for(
        self, keys_df: DataFrame, as_of_snapshot: int | None = None
    ) -> DataFrame | None:
        """Live rows from ONLY the buckets that any key in ``keys_df``
        hashes to — set-oriented pruning for batch-vs-table joins
        (e.g. an arriving micro-batch probing the corpus hash index).

        Unlike ``read_keys`` the key set stays distributed: the only
        driver-side collect is the DISTINCT bucket-id list, bounded by
        ``n_buckets`` ints regardless of batch size.  The caller joins
        the returned frame itself; rows from shared buckets that match
        no key are simply dropped by that join.  Pruning pays off when
        the batch's keys cluster into few buckets or n_buckets is large
        relative to the batch; a batch touching every bucket degrades
        gracefully to the full scan ``read()`` would do anyway."""
        m = (
            self.current_manifest()
            if as_of_snapshot is None
            else self.manifest_at(as_of_snapshot)
        )
        if m is None:
            return None
        buckets = sorted(
            r[0] for r in keys_df.selectExpr(self._bucket_sql()).distinct().collect()
        )
        st = self._read_buckets(m, buckets)
        if st is None:
            st = self.spark.createDataFrame([], T.StructType.fromJson(json.loads(m["schema"])))
        return _live(st)

    def read_changes(self) -> DataFrame | None:
        """The per-field change-audit table written by
        ``apply_batch(emit_change_rows=True)``: one row per
        (key, field, old_value, new_value, batch_id) — what downstream
        CDC consumers tail (full E6, chomper/contrib/sql/
        exporters.py:304-333).  Only change dirs referenced by the
        CURRENT manifest are visible (commit-atomic with the table
        state; truncate clears them).  None if no committed changes."""
        m = self.current_manifest()
        rels = sorted(m["changes"].values()) if m else []
        if not rels:
            return None
        return self.spark.read.parquet(
            *[os.path.join(self.root, rel) for rel in rels]
        )

    # ------------------------------------------------------------- merging

    def _retry_conflicts(self, op):
        """Run ``op()`` (which re-reads HEAD itself), retrying on commit
        CAS conflicts — the loser of a concurrent-writer race recomputes
        against the winner's manifest, so both effects land (or, for a
        replayed batch, the ledger re-check inside ``op`` skips it)."""
        for _ in range(_COMMIT_RETRIES):
            try:
                return op()
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"lost the commit race {_COMMIT_RETRIES} times in a row on "
            f"{self.root} — check for a runaway concurrent writer"
        )

    def apply_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        update_only_nulls: bool = False,
        insert_missing: bool = True,
        protected: tuple[str, ...] = (),
        listen_fields: tuple[str, ...] = (),
        collect_metrics: bool = True,
        batch_time=None,
        emit_change_rows: bool = False,
        delta_layout: str = "bucketed",
    ) -> MergeMetrics:
        """Public apply — see ``_apply_batch_attempt`` for semantics.
        Wraps one attempt in the commit-conflict retry loop: a batch
        that loses the CAS race to a concurrent maintenance commit
        (compaction, truncate) re-reads HEAD and re-applies against the
        new parent; a batch whose id the winner already committed is
        skipped by the ledger re-check on the retry pass."""
        return self._retry_conflicts(
            lambda: self._apply_batch_attempt(
                batch,
                batch_id,
                update_only_nulls=update_only_nulls,
                insert_missing=insert_missing,
                protected=protected,
                listen_fields=listen_fields,
                collect_metrics=collect_metrics,
                batch_time=batch_time,
                emit_change_rows=emit_change_rows,
                delta_layout=delta_layout,
            )
        )

    def _apply_batch_attempt(
        self,
        batch: DataFrame,
        batch_id: int,
        *,
        update_only_nulls: bool,
        insert_missing: bool,
        protected: tuple[str, ...],
        listen_fields: tuple[str, ...],
        collect_metrics: bool,
        batch_time,
        emit_change_rows: bool,
        delta_layout: str,
    ) -> MergeMetrics:
        """Apply one micro-batch of change events. Idempotent.

        ``update_only_nulls`` — E9 .overwrite(False): matched rows only
        fill target-NULL columns.  ``insert_missing=False`` — E3 Updater
        (matched-only: a deleted key is not a match, its tombstone
        stays).  ``protected`` — E11 columns never updated.
        ``listen_fields`` — E6: count per-field changes on updates.
        ``batch_time`` — the event/commit time stamped into the E9
        audit columns (required when ``audit_timestamps``; a datetime,
        NOT current_timestamp, so replay is deterministic).
        ``emit_change_rows`` — full E6: write the per-field change rows
        (key, field, old, new, batch_id) for ``listen_fields`` to the
        table's ``changes/`` area (idempotent per batch); read them
        back with ``read_changes()``.
        ``delta_layout`` (MOR only) — "bucketed" (default) appends one
        delta file per touched bucket: right for big batches, but a
        SMALL batch still pays O(n_buckets) files/tasks, so a
        high-frequency streaming trigger on a 4096-bucket table would
        write 4096 tiny files per trigger (measured ~78 ms/file —
        file-count explosion).  "single" writes the whole batch as ONE
        delta file carrying the bucket id as a data column, referenced
        by every touched bucket's chain and bucket-filtered at read;
        the apply that brings a chain to the threshold folds it into a
        per-bucket base (and writes per-bucket files).

        Both modes write through ONE plan (``_fold_write``): the batch's
        events ∪ the stored rows of the buckets it folds, one exchange
        on the bucket, one reduce per key, one write.  COW folds every
        touched bucket; MOR folds the chains that reach
        ``mor_compact_threshold`` and appends deltas elsewhere.

        Metrics cost no extra Spark job.  COW takes events in, merge
        rows and dedup drops from its touched-bucket aggregate (which
        runs regardless, and also fills ``MergeMetrics.bucket_stats``),
        and the ins/upd/del and field-change counts from one
        ``df.observe`` on the write; MOR observes its counts on its
        single write job, from batch rows only.
        """
        if batch_id < 0:
            # the watermark ledger treats every id ≤ watermark as
            # committed, so a negative id would be silently skipped as
            # a replay — reject it instead of dropping data
            raise ValueError(f"batch_id must be >= 0, got {batch_id}")
        metrics = MergeMetrics(batch_id=batch_id)
        manifest = self.current_manifest()
        if _ledger_contains(manifest, batch_id):
            metrics.skipped = True
            return metrics
        if self.audit_timestamps and batch_time is None:
            raise ValueError("audit_timestamps sinks need batch_time=<datetime>")
        if emit_change_rows and not listen_fields:
            raise ValueError("emit_change_rows needs listen_fields")
        if delta_layout not in ("bucketed", "single"):
            raise ValueError(f"delta_layout must be 'bucketed' or 'single', got {delta_layout!r}")
        if delta_layout == "single" and self.write_mode != "mor":
            raise ValueError("delta_layout='single' applies to write_mode='mor' only")
        if self.write_mode == "mor" and (
            update_only_nulls or not insert_missing or protected or listen_fields
            or self.audit_timestamps
        ):
            raise ValueError(
                "update_only_nulls / insert_missing=False / protected / "
                "listen_fields / audit_timestamps need the pre-image at "
                "write time — use write_mode='cow'"
            )

        # on an AUDIT sink the audit column names are engine-reserved
        # (never payload); a plain sink must NOT strip user columns that
        # merely share those common names
        reserved = (
            (S.OP_COL, *self.version_cols, "batch_id", *S.AUDIT_COLS)
            if self.audit_timestamps
            else (S.OP_COL, *self.version_cols, "batch_id")
        )
        payload_schema = T.StructType(
            [f_ for f_ in batch.schema.fields if f_.name not in reserved]
        )
        # -- schema evolution against the live table schema
        if manifest:
            cur_state_schema = T.StructType.fromJson(json.loads(manifest["schema"]))
            cur_payload = T.StructType(
                [
                    f_
                    for f_ in cur_state_schema.fields
                    if f_.name not in S.META_COLS
                    and not (self.audit_timestamps and f_.name in S.AUDIT_COLS)
                ]
            )
            new_payload, report = evolve_schema(cur_payload, payload_schema)
            metrics.schema_added = report.added_columns
            metrics.schema_widened = report.widened_columns
        else:
            new_payload = payload_schema
        state_schema = _meta_schema(new_payload, audit=self.audit_timestamps)
        payload_cols = [f_.name for f_ in new_payload.fields]

        # -- project the raw batch to the (evolved) payload + version/meta
        # columns, with the widen-stable bucket id (pure codegen, no action)
        projected = align_to_schema(
            batch,
            new_payload,
            quote(S.OP_COL),
            f"{quote(self.version_cols[0])} AS {S.META_OP_TS}",
            f"CAST({quote(self.version_cols[1])} AS BIGINT) AS {S.META_BATCH_SEQ}",
        ).selectExpr("*", f"{self._bucket_sql()} AS {_BUCKET}")

        evolved = bool(metrics.schema_added or metrics.schema_widened)
        mor = self.write_mode == "mor"
        audit = list(S.AUDIT_COLS) if self.audit_timestamps else []
        if audit:
            # a batch event carries the batch time in both audit columns
            bt = F.lit(batch_time).cast("timestamp")
            projected = projected.withColumns({c: bt for c in audit})
        rows = projected.selectExpr(
            *map(quote, payload_cols),
            *audit,
            f"CAST({S.META_OP_TS} AS TIMESTAMP) AS {S.META_OP_TS}",
            S.META_BATCH_SEQ,
            f"{quote(S.OP_COL)} = 'D' AS {S.META_DELETED}",
            _BUCKET,
            f"true AS {_SRC}",
        )

        # -- the fold set: the buckets whose stored rows (base ∪ chain,
        # raw) join the batch in the one write plan and get a new base.
        # COW folds every bucket the batch touches.  MOR folds every
        # chain this batch brings to ``mor_compact_threshold`` (also one
        # the batch misses) and appends a delta to each other touched
        # bucket: an O(batch) write, with amortized rewrites.
        deltas = {k: list(v) for k, v in manifest["deltas"].items()} if manifest else {}
        if mor:
            fold = sorted(
                int(k) for k, v in deltas.items() if len(v) + 1 >= self.mor_compact_threshold
            )
            # a folding apply writes per-bucket files, so its other
            # buckets get per-bucket deltas
            shared = delta_layout == "single" and not fold
            n_parts = 1 if shared else self.n_buckets
        else:
            # bucket pruning: only the touched buckets are read and
            # rewritten.  The same one-exchange pass yields the batch
            # counters and the per-bucket lineage rows, so none of them
            # costs a job.  The batch is evaluated here and again by the
            # write, not cached (AQE builds a cache in a job of its
            # own); the commit checks that both touched the same buckets.
            stats = self._bucket_stats(projected)
            fold = [b for b, *_ in stats]
            metrics.bucket_stats = stats
            metrics.buckets_touched = len(fold)
            metrics.events_in = sum(n for _, n, _, _ in stats)
            metrics.merge_rows = sum(k for _, _, k, _ in stats)
            metrics.dedup_drops = metrics.events_in - metrics.merge_rows
            shared = False
            n_parts = min(self.n_buckets, max(1, len(fold)))
        dir_id, _ = self._claim_snapshot_dir()
        rel = f"snapshots/s{dir_id:08d}/" + ("delta_shared" if shared else "data")
        # schema evolution is metadata-only: stored rows under an older
        # schema NULL-backfill/cast here, and the commit records the new
        # schema in schema_history
        stored = self._stored_rows(manifest, fold, state_schema)
        if stored is not None:
            rows = stored.unionByName(rows)
        # change rows compare with the pre-image: a batch whose buckets
        # hold no stored rows writes no change dir
        changes = f"changes/batch_id={batch_id}" if emit_change_rows and stored is not None else None
        written, obs = self._fold_write(
            rows, os.path.join(self.root, rel), n_parts, shared=shared,
            collect_metrics=collect_metrics,
            pre=None if mor else {
                "update_only_nulls": update_only_nulls,
                "insert_missing": insert_missing,
                "protected": protected,
                "listen_fields": listen_fields,
                "changes": changes and os.path.join(self.root, changes),
                "batch_id": batch_id,
            },
        )
        if mor:
            metrics.buckets_touched = len(written)  # incl. fold buckets it missed
            if collect_metrics:
                metrics.events_in = int(obs.get("ev") or 0)
                metrics.merge_rows = int(obs.get("keys") or 0)
                metrics.dedup_drops = metrics.events_in - metrics.merge_rows
        elif not set(written) <= set(fold):
            # the stats pass and the write each evaluate the batch; a
            # bucket only the write produced had no stored rows read, so
            # committing it would drop that bucket's state
            raise RuntimeError(
                f"batch {batch_id} changed between its stats pass and its "
                f"write (new buckets {sorted(set(written) - set(fold))}); "
                "apply a deterministic or persisted batch"
            )
        elif collect_metrics:
            metrics.inserted = int(obs.get("ins") or 0)
            metrics.updated = int(obs.get("upd") or 0)
            metrics.deleted = int(obs.get("del") or 0)
            metrics.field_changes = {
                c: int(obs.get(f"chg_{c}") or 0) for c in listen_fields
            }

        buckets = dict(manifest["buckets"]) if manifest else {}
        delta_doc = _swap_in_bases(buckets, deltas, fold, written, rel)
        delta_doc["delta_sets"] = {}
        for k in map(str, sorted(set(written) - set(fold))):  # MOR delta appends
            deltas[k] = [*deltas.get(k, []), rel if shared else f"{rel}/{_BUCKET}={k}"]
            delta_doc["delta_sets"][k] = deltas[k]
        # change-audit dirs become VISIBLE only via the manifest: the
        # parquet write happens pre-commit, so a crash before the
        # _CURRENT flip leaves an unreferenced (invisible) dir, never a
        # phantom change row for an uncommitted batch
        changes_map = dict(manifest["changes"]) if manifest else {}
        if changes:
            changes_map[str(batch_id)] = changes
            delta_doc["changes_updates"] = {str(batch_id): changes}
        wm, recent = _ledger_add(manifest, batch_id)
        self._commit(
            {
                "batch_watermark": wm,
                "recent_batches": recent,
                "buckets": buckets,
                "deltas": deltas,
                "changes": changes_map,
                **self._next_schema(manifest, evolved, dir_id, state_schema),
            },
            parent=manifest,
            delta_doc=delta_doc,
        )
        return metrics

    def _stored_rows(
        self, manifest: dict | None, buckets: list[int], state_schema: T.StructType
    ) -> DataFrame | None:
        """``_fold_write`` input from storage: the raw scan of
        ``buckets`` (base ∪ chain, not reduced), aligned to
        ``state_schema`` (new columns NULL-fill); None when they hold
        no files."""
        scan = self._scan_buckets(manifest, buckets) if manifest else None
        if scan is None:
            return None
        return align_to_schema(
            scan, state_schema, f"{self._bucket_sql()} AS {_BUCKET}", f"false AS {_SRC}",
        )

    def _fold_write(
        self, rows: DataFrame, out_path: str, n_parts: int, *, shared: bool,
        collect_metrics: bool, pre: dict | None,
    ) -> tuple[list[int], dict]:
        """The engine's one apply/compact write plan: ``rows`` (state
        columns, ``_bucket``, ``_src``) → ONE exchange on ``_bucket`` →
        ONE reduce per (bucket, key), which that HashPartitioning
        already clusters → one write, one file per bucket dir
        (``shared``: one file, bucket id as data).  The reduce's winner
        ``_r`` is the newest row by version, a stored row winning an
        exact tie (an event must be STRICTLY newer), so it also dedups
        the batch.  Returns (buckets written, observed row): the bucket
        set rides the write job.  The plan is SQL text: a selectExpr
        crosses to the JVM in one py4j call, where each Column op costs
        several round trips.

        ``pre`` is None where ``rows`` need not hold every stored row
        of a key (a MOR apply, ``compact``): the winner is written, and
        ``collect_metrics`` counts ``ev`` (batch events) and ``keys``
        (keys with one) from ``_src``, so stored rows never count.  A
        COW apply passes its modes as ``pre`` (``apply_batch``'s
        ``update_only_nulls``, ``insert_missing``, ``protected`` and
        ``listen_fields``; ``changes``, the change-rows dir or None;
        ``batch_id``) with every stored row of the touched buckets in
        ``rows``.  Stored rows arrive raw, so the pre-image ``_t`` is
        the NEWEST stored row of the key, and the same reduce carries
        the mode projections, the ins/upd/del/field-change counts and
        the rows ``changes`` gets."""
        q = quote
        cols = [c for c in rows.columns if c not in (_BUCKET, _SRC)]
        rest = [c for c in cols if c not in self.key_cols]
        version = f"{S.META_OP_TS}, {S.META_BATCH_SEQ}"
        aggs = [
            f"max_by(struct({', '.join(map(q, rest))}, {_SRC}), "
            f"struct({version}, NOT {_SRC})) AS _r"
        ]
        observed = {"bks": f"collect_set({_BUCKET})"}
        keep = changes = None
        need_pre = False
        audit = self.audit_timestamps
        if pre is None:
            if collect_metrics:
                aggs.append(f"count_if({_SRC}) AS _n")
                observed.update(ev="sum(_n)", keys="count_if(_n > 0)")
        else:
            protected, listen, changes = pre["protected"], pre["listen_fields"], pre["changes"]
            need_pre = bool(
                protected or pre["update_only_nulls"] or not pre["insert_missing"]
                or listen or audit
            )
            if need_pre or collect_metrics:
                # the counters need only the pre-image's tombstone bit
                t_cols = rest if need_pre else [S.META_DELETED]
                aggs.append(
                    f"max_by(IF({_SRC}, NULL, struct({', '.join(map(q, t_cols))})), "
                    f"IF({_SRC}, NULL, struct({version}))) AS _t"
                )
            take_src = f"_r.{_SRC}"
            live_t = f"(_t IS NOT NULL AND NOT _t.{S.META_DELETED})"
            if not pre["insert_missing"]:
                # E3 Updater: only a LIVE row is a match — a tombstone is not
                keep = "_t IS NOT NULL"
                take_src = f"({take_src} AND {live_t})"
            upsert = f"{take_src} AND NOT _r.{S.META_DELETED}"

            def applied_val(c: str) -> str:
                """The value an applied UPDATE of a live row writes for c —
                change counts/rows reflect what lands in the table, not the
                raw event (update_only_nulls only fills stored NULLs;
                protected columns are never written)."""
                if c in protected:
                    return f"_t.{q(c)}"
                if pre["update_only_nulls"]:
                    return f"coalesce(_t.{q(c)}, _r.{q(c)})"
                return f"_r.{q(c)}"

            def field_changed(c: str) -> str:
                return f"NOT ({applied_val(c)} <=> _t.{q(c)})"

            if collect_metrics:
                observed.update({
                    "ins": f"count_if({upsert} AND NOT {live_t})",
                    "upd": f"count_if({upsert} AND {live_t})",
                    "del": f"count_if({take_src} AND {live_t} AND _r.{S.META_DELETED})",
                    **{
                        f"chg_{c}": f"count_if({upsert} AND {live_t} AND {field_changed(c)})"
                        for c in listen
                    },
                })

        def pick(c: str) -> str:
            if not need_pre:
                return f"_r.{q(c)} AS {q(c)}"
            if audit and c == S.AUDIT_CREATED:
                # fixed at first materialization (it survives a
                # tombstone); updated_at advances on every change
                return f"CASE WHEN _t IS NOT NULL THEN _t.{c} ELSE _r.{c} END AS {c}"
            # an insert, or a re-insert over a tombstone, writes the
            # whole event: only a LIVE stored row protects or keeps its
            # values
            engine = (*S.AUDIT_COLS, *S.META_COLS) if audit else S.META_COLS
            upd = "" if c in engine else f"WHEN {take_src} AND {live_t} THEN {applied_val(c)} "
            return f"CASE {upd}WHEN {take_src} THEN _r.{q(c)} ELSE _t.{q(c)} END AS {q(c)}"

        reduced = (
            rows.repartition(n_parts, _BUCKET)
            .groupBy(_BUCKET, *self.key_cols)
            .agg(*map(F.expr, aggs))
        )
        if keep:
            reduced = reduced.filter(keep)
        if changes:
            reduced = reduced.persist()  # the change rows are a second action over it
        obs = Observation()
        w = (
            reduced.observe(obs, *[F.expr(f"{e} AS {q(n)}") for n, e in observed.items()])
            .selectExpr(*[q(c) if c in self.key_cols else pick(c) for c in cols], _BUCKET)
            .write.mode("overwrite")
        )
        (w if shared else w.partitionBy(_BUCKET)).parquet(out_path)
        if changes:
            # full E6 (chomper/contrib/sql/exporters.py:304-333): one
            # change row per (key, listened field) whose value an applied
            # UPDATE of a live row changed — the audit feed downstream CDC
            # consumers tail.  Overwrite-per-batch = replay-idempotent.
            chg = ", ".join(
                f"named_struct('field', {sql_str(c)}, "
                f"'old_value', CAST(_t.{q(c)} AS STRING), "
                f"'new_value', CAST({applied_val(c)} AS STRING), "
                f"'_chg', {field_changed(c)})"
                for c in listen
            )
            reduced.filter(f"{upsert} AND {live_t}").selectExpr(
                *map(q, self.key_cols), f"inline(filter(array({chg}), x -> x._chg))",
            ).selectExpr(
                *map(q, self.key_cols), "field", "old_value", "new_value",
                f"CAST({pre['batch_id']} AS BIGINT) AS batch_id",
            ).write.mode("overwrite").parquet(changes)
            reduced.unpersist()
        row = _obs_row(obs)  # populated by the write job
        return sorted(map(int, row.get("bks") or [])), row

    def describe(self) -> dict:
        """Operator-facing table summary (metadata only — no data scan):
        snapshot/ledger position, manifest-chain state, bucket and
        delta-chain counts, schema-version spread.  The first thing a
        maintenance runbook checks before compact/expire decisions."""
        m = self.current_manifest()
        if m is None:
            return {"exists": False, "root": self.root}
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        return {
            "exists": True,
            "root": self.root,
            "snapshot_id": m["snapshot_id"],
            "batch_watermark": m["batch_watermark"],
            "out_of_order_batches": len(m["recent_batches"]),
            "manifest_chain_len": m["chain_len"],
            "n_buckets": self.n_buckets,
            "key_cols": list(self.key_cols),
            "bucket_cols": list(self.bucket_cols),
            "live_buckets": len(m["buckets"]),
            "delta_chains": len(m["deltas"]),
            "delta_refs": sum(len(v) for v in m["deltas"].values()),
            "schema_versions_live": len({h["schema"] for h in m["schema_history"]}),
            "columns": [f_.name for f_ in schema.fields],
            "change_batches_visible": len(m["changes"]),
        }

    def compact(self, upgrade_schema: bool = False) -> dict:
        """Commit-conflict-retrying wrapper over ``_compact_attempt``:
        a maintenance compaction racing the streaming apply re-reads
        HEAD (picking up the applied batch's new delta chains) and
        re-folds — never a silent clobber in either direction."""
        return self._retry_conflicts(lambda: self._compact_attempt(upgrade_schema))

    def _compact_attempt(self, upgrade_schema: bool) -> dict:
        """Fold EVERY delta chain into fresh per-bucket bases, now —
        the maintenance twin of a MOR apply's threshold fold, through
        the same ``_fold_write`` plan over stored rows only (Iceberg's
        rewrite_data_files / Hudi's compactor).  Run from a maintenance
        job before serving-heavy periods: MOR reads then scan one base
        file per bucket with no latest-wins reduce work beyond the scan.

        ``upgrade_schema`` additionally rewrites every bucket whose
        files predate the newest schema version — the lazy-rewrite
        completion of metadata-only evolution: after it, all live files
        carry the current schema and reads are single-scan again.

        Commits a new snapshot; a no-op (returns unchanged counts)
        when there is nothing to fold.  Safe alongside readers — they
        follow the atomic ``_CURRENT`` pointer."""
        manifest = self.current_manifest()
        if manifest is None:
            return {"buckets_compacted": 0, "delta_refs_folded": 0}
        deltas = manifest["deltas"]
        to_compact_set = {int(k) for k in deltas}
        history = manifest["schema_history"]
        if upgrade_schema and len({h["schema"] for h in history}) > 1:
            latest_from = history[-1]["from_snapshot"]
            for k, rel in manifest["buckets"].items():
                if int(_SNAP_RE.search(rel).group(1)) < latest_from:
                    to_compact_set.add(int(k))
        if not to_compact_set:
            return {"buckets_compacted": 0, "delta_refs_folded": 0}
        to_compact = sorted(to_compact_set)
        n_refs = sum(len(v) for v in deltas.values())
        schema_json = manifest["schema"]
        state_schema = T.StructType.fromJson(json.loads(schema_json))
        dir_id, _ = self._claim_snapshot_dir()
        rel = f"snapshots/s{dir_id:08d}/data"
        written, _ = self._fold_write(
            self._stored_rows(manifest, to_compact, state_schema),
            os.path.join(self.root, rel),
            min(self.n_buckets, len(to_compact)),
            shared=False, collect_metrics=False, pre=None,
        )
        buckets = dict(manifest["buckets"])
        _swap_in_bases(buckets, dict(deltas), to_compact, written, rel)
        if upgrade_schema:
            # every live file now carries the current schema (old-schema
            # buckets and all delta chains were just rewritten) — the
            # history collapses, so it cannot grow over years of
            # evolutions
            history = [{"from_snapshot": 0, "schema": schema_json}]
        self._commit(
            {
                "batch_watermark": manifest["batch_watermark"],
                "recent_batches": manifest["recent_batches"],
                "buckets": buckets,
                "deltas": {},
                "changes": manifest["changes"],
                "schema": schema_json,
                "schema_history": history,
            },
            parent=manifest,
            # maintenance rewrite (no delta_doc) → natural checkpoint;
            # checkpoint sharding: only the folded buckets' shards are
            # rewritten — a targeted compaction on a wide table stays
            # O(touched shards) in manifest bytes too
            touched_keys={str(k) for k in to_compact},
        )
        return {"buckets_compacted": len(to_compact), "delta_refs_folded": n_refs}

    def expire_snapshots(
        self, keep_manifests: int = 3, orphan_age_seconds: int = 86_400
    ) -> dict:
        """Garbage-collect snapshot data no longer reachable.

        A continuous stream commits one snapshot per micro-batch; without
        retention the state dir grows O(batches × table).  Untouched
        buckets are carried forward BY REFERENCE, so a bucket dir from an
        old snapshot may still be live — snapshot dirs referenced by no
        retained manifest are deleted, and so are the ``_bucket=k`` dirs
        no retained manifest references inside the ones that stay.
        (Iceberg's expire_snapshots is the managed-catalog equivalent.)
        Returns {snapshots_removed, manifests_removed, bytes_freed}.

        ``orphan_age_seconds`` — the contract for cleaning ABOVE-HEAD
        debris (claimed snapshot dirs, checkpoint shard files,
        manifest-content temps that no committed manifest references):
        such a path might belong to a writer whose commit has not
        landed yet, so it is deleted only when older than this.  Like
        Iceberg's remove_orphan_files ``older_than``, it MUST exceed
        the longest possible in-flight write (claim-to-commit time);
        the 24 h default leaves orders of magnitude of headroom over
        any realistic micro-batch or compaction.  Below-HEAD
        unreferenced dirs need no age guard — a live writer only ever
        writes under claims above every committed dir id."""
        import shutil as _shutil

        mdir = os.path.join(self.root, "manifests")
        current_name = self._current_name()
        if current_name is None:  # table never created — nothing to GC
            return {"snapshots_removed": 0, "manifests_removed": 0, "bytes_freed": 0}
        # only committed manifests participate in retention: a leftover
        # m*.json.tmp from a crashed _commit must neither consume a
        # retention slot nor be loaded as JSON
        names = sorted(
            (n for n in os.listdir(mdir) if _MANIFEST_RE.match(n)), reverse=True
        )  # newest first
        keep = set(names[:keep_manifests]) | {current_name}
        # a kept DELTA manifest folds over ancestors that may fall
        # outside retention: rewrite each kept delta IN PLACE as a
        # self-contained checkpoint (atomic replace, same name/id)
        # BEFORE deleting anything — afterwards every kept manifest
        # stands alone, so ancestor files and the stale data they pinned
        # are all collectible.  Concurrency: commits race via the CAS
        # (_write_manifest), and a reader/writer whose fold walk loses
        # an ancestor to the deletions below retries from HEAD
        # (current_manifest), which the rewrite has made
        # self-contained.  A reader racing the replace follows HEAD and
        # sees
        # either the delta (parents still on disk) or the checkpoint.
        for name in sorted(keep):
            try:
                raw = self._load_raw(name)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            if not raw.get("delta"):
                continue
            folded = self._fold_by_name(name)
            # wide tables: the rewrite checkpoints shard too — only the
            # shards dirtied since the chain's base are rewritten
            rewrite_state = {**folded, "chain_len": 0}
            doc = self._checkpoint_doc(
                rewrite_state, folded["_shard_map"], folded["_dirty_buckets"]
            )
            mpath = os.path.join(mdir, name)
            with open(mpath + ".tmp", "w") as fh:
                json.dump(doc, fh)
            os.replace(mpath + ".tmp", mpath)
            self._fold_cache = (name, rewrite_state)
        live_rels: set[str] = set()  # referenced data paths
        live_changes: set[str] = set()
        live_shards: set[str] = set()
        for name in keep:
            try:
                man = self._fold_by_name(name)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            live_rels.update(man["buckets"].values())
            for chain in man["deltas"].values():
                live_rels.update(chain)
            for rel in man["changes"].values():
                live_changes.add(rel.split("/", 1)[1])  # changes/<dir>
            live_shards.update(man["_shard_map"].values())
        # snapshots/<sid>/...: a dir id is a claim, not a commit id, so
        # only referenced paths make a dir live
        live_snapshots = {rel.split("/")[1] for rel in live_rels}
        def _rm_sized(full: str) -> int:
            freed = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(full)
                for f in fs
            )
            _shutil.rmtree(full, ignore_errors=True)
            return freed

        sdir = os.path.join(self.root, "snapshots")
        stats = {"snapshots_removed": 0, "manifests_removed": 0, "bytes_freed": 0}
        # a concurrent writer's CLAIMED-but-uncommitted dir always has a
        # higher id than anything a committed manifest references
        # (_claim_snapshot_dir claims above the max existing id) — those
        # are protected while RECENT (age guard), so GC can run
        # alongside a live writer; an abandoned claim becomes
        # collectible once stale or once later commits reference higher
        # dirs.  Dirs at-or-below the kept max are plain unreferenced
        # garbage regardless of age.
        import time as _time

        max_live = max(
            (
                int(m.group(1))
                for d in live_snapshots
                if (m := _SNAP_DIR_RE.match(d))
            ),
            default=-1,
        )
        for d in os.listdir(sdir):
            if d in live_snapshots:
                continue
            full = os.path.join(sdir, d)
            dm = _SNAP_DIR_RE.match(d)
            if dm is not None and int(dm.group(1)) > max_live:
                try:
                    if _time.time() - os.path.getmtime(full) <= orphan_age_seconds:
                        continue  # possibly a live writer's claim
                except OSError:
                    continue
            stats["bytes_freed"] += _rm_sized(full)
            stats["snapshots_removed"] += 1
        # unreferenced bucket dirs inside the dirs that stay — buckets
        # that folded or were rewritten later than a live sibling.  Their
        # writer has committed, so no age guard applies; shared deltas
        # are whole-dir and handled above.
        for d in sorted(live_snapshots):
            pattern = os.path.join(glob.escape(os.path.join(sdir, d)), "*", f"{_BUCKET}=*")
            for full in glob.glob(pattern):
                if os.path.relpath(full, self.root) not in live_rels:
                    stats["bytes_freed"] += _rm_sized(full)
        for name in names:
            if name not in keep:
                os.remove(os.path.join(mdir, name))
                stats["manifests_removed"] += 1
        # crash debris from _write_manifest (content temp linked-or-not);
        # an AGE guard keeps GC from unlinking a concurrent writer's
        # temp in the instant between its write and its link
        for f in os.listdir(mdir):
            fp = os.path.join(mdir, f)
            try:
                stale = _time.time() - os.path.getmtime(fp) > orphan_age_seconds
            except OSError:
                continue
            if f.endswith(".inflight") and stale:
                os.remove(fp)
        # checkpoint shard files referenced by no kept manifest; same
        # age guard (a racing writer writes shards BEFORE its manifest
        # link, so fresh unreferenced shards may be about to be linked)
        shdir = os.path.join(mdir, "shards")
        if os.path.isdir(shdir):
            for f in os.listdir(shdir):
                fp = os.path.join(shdir, f)
                if f"shards/{f}" in live_shards:
                    continue
                try:
                    if _time.time() - os.path.getmtime(fp) > orphan_age_seconds:
                        stats["bytes_freed"] += os.path.getsize(fp)
                        os.remove(fp)
                except OSError:
                    continue
        # change-audit dirs not referenced by any retained manifest
        # (crash debris or pre-truncate history) are garbage too
        cdir = os.path.join(self.root, "changes")
        if os.path.isdir(cdir):
            for d in os.listdir(cdir):
                if d not in live_changes:
                    stats["bytes_freed"] += _rm_sized(os.path.join(cdir, d))
        return stats

    def truncate(self, batch_id: int | None = None) -> None:
        """Commit-conflict-retrying wrapper (see ``apply_batch``)."""
        return self._retry_conflicts(lambda: self._truncate_attempt(batch_id))

    def _truncate_attempt(self, batch_id: int | None) -> None:
        """TRUNCATE (E4 PostgresTruncator, chomper/contrib/postgres.py:262-292;
        E10 sql Truncator, chomper/contrib/sql/exporters.py:325-333):
        atomically flip to an empty snapshot — the full-refresh precursor
        pattern (examples/companies.py:13).  The batch ledger is preserved
        (truncation is table history, not a reset of exactly-once
        tracking); pass ``batch_id`` to make the truncation replay-safe."""
        manifest = self.current_manifest()
        if batch_id is not None:
            if batch_id < 0:
                raise ValueError(f"batch_id must be >= 0, got {batch_id}")
            if _ledger_contains(manifest, batch_id):
                return
            wm, recent = _ledger_add(manifest, batch_id)
        else:
            wm = manifest["batch_watermark"] if manifest else -1
            recent = manifest["recent_batches"] if manifest else []
        schema = (
            manifest["schema"]
            if manifest
            else json.dumps(
                _meta_schema(
                    T.StructType(S.TRANSCRIPT.fields), audit=self.audit_timestamps
                ).jsonValue()
            )
        )
        self._commit(
            {
                "batch_watermark": wm,
                "recent_batches": recent,
                "buckets": {},
                "deltas": {},
                # full refresh also resets the visible change history —
                # the orphaned dirs are GC'd by expire_snapshots
                "changes": {},
                "schema": schema,
                # no live files → single-version history
                "schema_history": [{"from_snapshot": 0, "schema": schema}],
            },
            parent=manifest,  # no delta_doc: the reset is a checkpoint
        )
