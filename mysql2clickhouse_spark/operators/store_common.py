"""Helpers shared by the maintained stores' lifecycle code.

The round-9 extraction of ``BucketedStore``/``StagedCommit`` stopped
the two bucketed stores of that round from drifting; round 10 added
two more stores whose lifecycle bodies repeat smaller fragments, and a
self-review caught the first drift-shaped defect landing in FOUR call
sites at once (tombstoned rows inflating hot-bucket occupancy). The
fragments live here now so the next fix lands once.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: bucket id embedded in a bucketed table's file name:
#: ``part-00003-<uuid>_00007.c000.snappy.parquet`` -> 7
_BUCKET_ID_RE = re.compile(r"_(\d{5})\.c\d+\.")


def has_files(fs, d: str) -> bool:
    """True iff ``d`` holds parquet FILES at the top level — a
    delete-all compact legitimately leaves an empty-but-present dir
    that must read as an empty store, never a schema-inference error."""
    return fs.is_dir(d) and any(n.endswith(".parquet") for n in fs.listdir(d))


def data_files(fs, store: str):
    """Parquet census through the ``fs`` seam (truthful on
    ``hdfs://``/``s3a://`` roots); recursion descends the ``key=N/``
    dirs of a partitioned table — the bucketed layouts are flat."""
    if not fs.is_dir(store):
        return
    stack = [store]
    while stack:
        d = stack.pop()
        for name in fs.listdir(d):
            full = os.path.join(d, name)
            if fs.is_dir(full):
                stack.append(full)
            elif name.endswith(".parquet"):
                yield full


#: advisory single-writer lock file at the store root — the engine's
#: analog of the reference's single-instance rule (B5): a timestamped
#: lock file refused while fresh, taken over once stale
#: (matomo2clickhouse.py:851-868 — stale after 2× the run budget).
WRITER_LOCK = "_WRITER_LOCK"

#: lock staleness horizon: the reference treats a lock older than 2×
#: replication_max_minutes (default 50) as a crashed holder's leftover
LOCK_TTL_MINUTES = 100.0


class StoreLockedError(RuntimeError):
    """Another writer holds the store's advisory lock and it is not
    yet stale — the caller must not mutate."""


class writer_lock:
    """Advisory single-writer lock at a store root: acquire = stamp a
    lock file (refuse if a FRESH foreign one exists, take over a stale
    one), release = remove it iff still ours. Reentrant per owner id —
    a locked method calling another locked method on the same index
    neither refuses itself nor drops the outer hold on inner exit.
    Advisory only, like the reference's: the check-then-write has a
    race window two simultaneous first-acquirers can slip through —
    the lock makes the single-writer DISCIPLINE mechanical, it is not
    a distributed mutex (object stores have no portable one). Readers
    (``probe``/``stats``/``search``) never touch it."""

    def __init__(self, fs, root: str, owner: str,
                 ttl_minutes: float = LOCK_TTL_MINUTES):
        self.fs, self.root, self.owner = fs, root, owner
        self.ttl_minutes = ttl_minutes
        self.path = os.path.join(root, WRITER_LOCK)
        self._reentered = False

    def __enter__(self):
        now = time.time()
        if self.fs.exists(self.path):
            try:
                meta = json.loads(self.fs.read_text(self.path))
            except ValueError:
                meta = {}  # torn lock file: treat as stale debris
            if meta.get("owner") == self.owner:
                self._reentered = True
                return self
            if now < float(meta.get("expires_at", 0)):
                raise StoreLockedError(
                    f"store {self.root!r} is locked by writer "
                    f"{meta.get('owner')!r} until "
                    f"{meta.get('expires_at')} — refusing to mutate "
                    "(remove the _WRITER_LOCK file only if that "
                    "writer is known dead)"
                )
            # stale: the holder crashed past the TTL — take over
        self.fs.write_text_atomic(
            self.path,
            json.dumps({
                "owner": self.owner,
                "acquired_at": now,
                "expires_at": now + self.ttl_minutes * 60.0,
            }),
        )
        return self

    def __exit__(self, exc_type, exc, tb):
        if self._reentered:
            return False  # the outer hold owns the release
        try:
            meta = json.loads(self.fs.read_text(self.path))
        except Exception:
            return False
        if meta.get("owner") == self.owner:
            self.fs.rmtree(self.path)
        return False


def single_writer(method):
    """Decorator for a maintained store's MUTATING entry points
    (``add_batch`` / ``remove_batch`` / ``compact`` /
    ``compact_buckets`` / ``build``): holds the store's advisory
    writer lock for the duration of the call. The owner id is
    per-index-instance, so two instances — two CLIs, or a CLI racing
    scheduled ``maintain_stores`` upkeep — refuse each other while
    fresh, and sequential calls on one instance re-stamp freely."""

    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        if not hasattr(self, "_writer_id"):
            self._writer_id = uuid.uuid4().hex
        with writer_lock(self.fs, self.path, self._writer_id):
            return method(self, *args, **kwargs)

    return wrapper


def bucket_census(fs, store: str) -> dict[int, list[str]]:
    """Per-bucket file lists of a bucketed store dir, parsed from the
    bucket ids Spark bakes into the file NAMES — the unit of per-bucket
    compaction (buckets are independent file sets). Through the ``fs``
    seam; flat layout only (bucketed stores never nest)."""
    out: dict[int, list[str]] = {}
    if not fs.is_dir(store):
        return out
    for name in fs.listdir(store):
        m = _BUCKET_ID_RE.search(name)
        if m and name.endswith(".parquet"):
            out.setdefault(int(m.group(1)), []).append(name)
    return out


def compact_hot_buckets(
    spark,
    journal,
    staging_path: str,
    tables,
    max_files_per_bucket: int = 1,
) -> dict:
    """Per-unit small-files compaction — the O(hot units) defrag of
    every table layout (a unit is a bucket of a bucketed table, a
    ``key=N/`` dir of a partitioned one): ONLY units holding more than
    ``max_files_per_bucket`` files are read and rewritten (one fresh
    file per hot unit via the table's own ``stage``, so rows land in
    exactly the unit they came from); untouched units' files are never
    listed in the commit and keep their byte identity. The hot units'
    old files are removed and the fresh ones renamed in under ONE
    journal marker carrying the delete list
    (``StagedCommit.commit(delete=...)``), so a crash anywhere
    converges at the next entry with no row lost or doubled.

    This is DEFRAG ONLY: tombstones are not applied and not cleared —
    rows move between files unchanged, so the logical store content is
    byte-identical and the tombstone lifecycle stays whole-store
    ``compact()``'s job (clearing the set requires rewriting EVERY
    unit that may hold a tombstoned row).

    ``tables``: iterable of ``(route_sub, table)`` — route_sub must
    match the journal's staging route for that table's live dir.
    Returns a per-table report with before/after file counts."""
    report: dict = {}
    delete: dict[str, list[str]] = {}
    for sub, store in tables:
        census = store.census()
        hot = {
            b: fl for b, fl in census.items() if len(fl) > max_files_per_bucket
        }
        report[sub] = {
            "files_before": sum(len(fl) for fl in census.values()),
            "buckets_total": len(census),
            "buckets_compacted": len(hot),
        }
        if not hot:
            continue
        delete[sub] = [name for fl in hot.values() for name in fl]
        # basePath keeps a partitioned table's key column on the rows
        rows = spark.read.option("basePath", store.location).parquet(
            *[os.path.join(store.location, name) for name in delete[sub]]
        )
        store.stage(rows, os.path.join(staging_path, sub))
    if delete:
        journal.commit(delete=delete)
    for sub, store in tables:
        report[sub]["files_after"] = sum(len(fl) for fl in store.census().values())
    return report


#: probe-batch distinct-key cap for the pushed store filter: below it,
#: the key set collects to the driver and prunes the store scan; above
#: it the probe falls back to the full store scan (the ingest contract).
#: bands × batch-rows bounds the set, so a decontam-shaped probe (a
#: handful of eval docs) is always far below the cap.
PROBE_PUSHDOWN_MAX_KEYS = 8192

#: smallest store (bytes) worth pruning: the pushed filter costs one
#: extra driver-side Spark job (collecting the batch's distinct keys,
#: ~0.1-0.5 s fixed, plus a candidate checkpoint on the verify side),
#: and what it buys is NOT reading/joining the rest of the store —
#: below this size the whole store joins in less than the fixed cost.
#: Measured (BENCH_NOTES_r11 §1): sf0.01 stores (≤30 MB)
#: fullscan_over_pruned 0.95-1.0 (pruning loses outright); 100 MB of
#: sf0.1 bands won only 1.07× — inside box noise; 1.2 GB won 1.54×
#: and 4.8 GB won 4.23×. 256 MB puts the break-even safely on the
#: full-scan side — any real corpus crosses it in its first batches.
PROBE_PUSHDOWN_MIN_STORE_BYTES = 256 * 1024 * 1024


def worth_pruning(fs, path: str) -> bool:
    """The one size gate of every pruned store read: True iff the
    store dir at ``path`` holds at least PROBE_PUSHDOWN_MIN_STORE_BYTES
    on disk. The constant is read at call time (tests patch it)."""
    return fs.du(path) >= PROBE_PUSHDOWN_MIN_STORE_BYTES

#: largest key set pushed to parquet as a literal In predicate: the
#: parquet-mr record filter evaluates a pushed In as a LEFT-DEEP
#: or-chain, and chains past ~1-2k values overflow the task thread's
#: stack (StackOverflowError reproduced at 2000 values on Spark 4.1.2,
#: 1000 fine; 512 leaves 2-4× headroom for deeper record shapes).
#: Between this and PROBE_PUSHDOWN_MAX_KEYS the probe still filters —
#: Spark pushes the min/max RANGE to parquet and evaluates the exact
#: INSET JVM-side above the scan — it just prunes fewer row groups.
PARQUET_IN_PUSHDOWN_SAFE = 512


def probe_pruned(
    store_rows: DataFrame,
    hash_col: str,
    batch_keys: DataFrame,
    cap: int = PROBE_PUSHDOWN_MAX_KEYS,
    fs=None,
    store_dir: str | None = None,
) -> DataFrame:
    """Prune a READ-ONLY probe's store scan by the probe batch's own
    key set: the store files are SORTED BY the bucket key
    (``bucketed.py stage_bucketed``), so an ``In(hash_col, ...)``
    predicate pushed into the parquet scan skips every row group whose
    min/max excludes all probe keys — a decontam lookup against a
    grown store reads O(probe keys) row groups, not O(store). Ingest
    keeps the full-scan contract (it must mine the whole store's
    candidates anyway via the batch side, and its key set is large);
    the probe is the advertised point-lookup shape, so it must not pay
    a full store scan per batch.

    Correctness: the retained rows are a SUPERSET of every row the
    candidate equi-join on ``hash_col`` (plus any other key columns)
    can match — rows dropped have a hash no probe row carries — so the
    join result is identical; above the cap the unfiltered store is
    returned (full-scan fallback, same plan as before).

    ``fs`` + ``store_dir`` (pass both or neither): gate on the store's
    on-disk size — a store below PROBE_PUSHDOWN_MIN_STORE_BYTES skips
    pruning entirely, because the extra key-collect job costs more
    than the whole scan-and-join it would avoid (measured; see the
    constant's note).
    """
    if fs is not None and store_dir is not None and not worth_pruning(fs, store_dir):
        return store_rows
    vals = [
        r[0]
        for r in batch_keys.select(hash_col)
        .filter(F.col(hash_col).isNotNull())
        .distinct()
        .limit(cap + 1)
        .collect()
    ]
    if not vals or len(vals) > cap:
        return store_rows
    spark = store_rows.sparkSession
    # perf-only runtime conf, raised once and never lowered: above the
    # default threshold (10) Spark rewrites the pushed In to a
    # min/max RANGE predicate, which for uniformly-hashed probe keys
    # spans the whole store and prunes nothing (measured 2× slower
    # than the literal parquet In on a sorted 40M-row store). Raised
    # only to the stack-safe bound, NOT to the collect cap — see
    # PARQUET_IN_PUSHDOWN_SAFE.
    thr_key = "spark.sql.parquet.pushdown.inFilterThreshold"
    try:
        thr = int(spark.conf.get(thr_key))
    except Exception:
        thr = 10
    if thr < PARQUET_IN_PUSHDOWN_SAFE:
        spark.conf.set(thr_key, str(PARQUET_IN_PUSHDOWN_SAFE))
    return store_rows.filter(F.col(hash_col).isin(vals))


def bucket_id_col(key_cols, n_buckets: int):
    """The bucket id Spark assigns a row of a bucketed table:
    ``pmod(murmur3(keys…), n)`` — ``HashPartitioning.partitionIdExpression``
    with the default seed, which is exactly ``F.hash``. This is how
    ``stage_bucketed``'s repartition routes rows AND how the bucket id
    baked into each file name is chosen, so tombstoned rows can be
    located WITHOUT scanning the store (pinned against physical file
    content in test_bucket_compaction)."""
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


def rewrite_tombstoned_buckets(
    spark,
    fs,
    store,
    tombs: DataFrame,
    id_col: str,
    dirty_buckets: set[int],
    staging_sub: str,
) -> list[str]:
    """Stage the tombstone-applying rewrite of ONLY the dirty buckets
    of one bucketed store table: read those buckets' files, drop rows
    owned by tombstoned docs, re-stage through the store's own
    ``stage_bucketed`` (rows re-hash into exactly the buckets they came
    from). Returns the file names the commit must delete — O(dirty
    buckets) I/O, untouched buckets keep their byte identity (the r12
    tombstone-aware unit the r11 whole-store ``compact`` lacked)."""
    census = bucket_census(fs, store.location)
    files = [n for b in sorted(dirty_buckets) for n in census.get(b, ())]
    if not files:
        return []
    rows = spark.read.parquet(
        *[os.path.join(store.location, n) for n in files]
    )
    live = rows.join(F.broadcast(tombs.select(id_col)), id_col, "left_anti")
    store.stage_bucketed(live, staging_sub)
    return files


def batch_keyed_wide(df: DataFrame, id_col: str) -> DataFrame:
    """Key-partition an ingest batch at a width AQE cannot shrink —
    the r12 fix for single-threaded batch signing (guide §2.5).

    ``add_batch`` dedups the batch on its id before the CPU-heavy
    signing pass; ``dropDuplicates`` introduces a hash exchange whose
    width AQE coalesces by BYTES — and a few thousand documents are
    only a few MB, so the dedup, the ledger anti-join probe and the
    whole shingle/sign projection downstream of it ran as ONE task
    (measured: 3.3-3.8 s of the 9.5 s bench ingest was the signing
    barrier). An explicit ``repartition(n, id)`` is exempt from AQE
    coalescing, satisfies ``dropDuplicates``' required distribution
    (no second exchange — §2.4 two operations keyed the same way share
    one exchange) and the left side of the ledger anti-join likewise.
    ``n`` is never below what a non-AQE dedup would have used
    (``spark.sql.shuffle.partitions``), so a large batch keeps its
    full shuffle width; the knob stays scale-adaptive through
    SPARK_GRAFT_SHUFFLE_PARTITIONS (session.py)."""
    spark = df.sparkSession
    try:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n_shuffle = 200
    width = max(n_shuffle, spark.sparkContext.defaultParallelism)
    return df.repartition(width, F.col(id_col))


def ingest_pruned(
    store_rows: DataFrame,
    keys: list[str] | tuple[str, ...],
    batch_rows: DataFrame,
) -> DataFrame:
    """Prune an INGEST-side store read to the batch's own key set with
    a broadcast LEFT SEMI join above the bucketed scan — the r12 fix
    for the last O(store)-rows-per-batch reads (r11 verdict task 1:
    the probe path prunes, ingest did not, and ingest is the biggest
    measured cost surface).

    Why a semi join and not the probe's ``In`` pushdown: ingest key
    sets are bands×batch (~10k-100k keys), past both the driver-collect
    cap and the parquet record filter's stack-safe bound
    (PARQUET_IN_PUSHDOWN_SAFE) — above ~512 values the pushed ``In``
    degrades to a useless min/max range over uniform hashes anyway. The
    semi join needs NO driver collect and NO cap: the batch's distinct
    keys broadcast through the ordinary exchange machinery (bounded by
    batch size by contract), and pruning is EXACT — no false positives,
    and trivially a superset of every store row the candidate equi-join
    or the occupancy count on the batch's own buckets can use, so
    results are identical by construction.

    The streamed (store) side keeps its bucketed HashPartitioning
    through the semi join, so the candidate join above still exchanges
    only the batch side and the occupancy groupBy still runs without an
    Exchange (plan-pinned in test_plan_shapes). Honest scope note: this
    prunes ROWS entering the join/aggregate machinery, not scan BYTES —
    row-group skipping needs the ``In`` form the stack bound forbids at
    ingest cardinality; at 100 TB the store scan still streams its
    column bytes once, but joins, occupancy counts and downstream
    shuffles are O(batch ∩ store), not O(store).

    No ``distinct()`` on the key side: a LEFT SEMI probe is
    set-semantic by construction (the broadcast hash relation folds
    duplicate keys), and the distinct would add an exchange + aggregate
    to every broadcast build — measured +1.4 s per bench ingest for
    zero row difference."""
    dk = batch_rows.select(*keys)
    return store_rows.join(F.broadcast(dk), list(keys), "left_semi")


def live_bucket_sizes(
    store_rows: DataFrame,
    tombs: DataFrame | None,
    keys: list[str],
    id_col: str,
) -> DataFrame:
    """Per-bucket LIVE occupancy of a banded store — the ``base_sizes``
    arm of the hot-bucket quarantine: rows owned by tombstoned docs are
    excluded (broadcast anti-join above the bucketed scan, partitioning
    preserved) BEFORE counting, so a bucket whose population was
    deleted does not keep quarantining fresh arrivals the one-shot over
    the live corpus would mine. Output: ``keys + __bn_base``.

    Cost note (a deliberate decision, not an oversight): this is one
    extra 2-column scan of the band/block store per ingest/probe, on
    top of the candidate join's own full scan — the accepted
    store-scan-per-batch contract. A maintained per-bucket counts table
    could shave part of that IO but adds another journaled table to
    two stores and still approaches O(distinct buckets) reads per
    batch; revisit only if the occupancy pass ever shows up in the
    flatness probe."""
    rows = store_rows
    if tombs is not None:
        rows = rows.join(F.broadcast(tombs), id_col, "left_anti")
    return rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bn_base"))
