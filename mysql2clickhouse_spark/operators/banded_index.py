"""Banded near-dup store skeleton — the lifecycle the two incremental
near-dup indexes share (``MinHashIndex`` in ``neardup_index.py``,
``SimHashIndex`` in ``simhash_index.py``). Each family plugs in its
signer, its banding and its verify score; everything else lives here
once.

Layout under ``path`` (the bucketed-plus-slim-ledger standard of every
maintained store, ``operators/bucketed.py`` + ``operators/journal.py``):

- ``sigs/`` — (doc_id, signature columns): one row per ingested doc,
  BUCKETED on ``doc_id`` so the verify join resolves stored signatures
  with no Exchange above the store scan;
- the key table (``bands/`` for MinHash, ``blocks/`` for SimHash) —
  (key_0, key_1, doc_id) bucket membership, BUCKETED on the candidate
  join's exact composite key, so each ingest exchanges only the
  batch's key rows into the store's bucket space (plan-pinned in
  ``tests/test_plan_shapes.py``) and candidate semantics stay
  bit-identical to the one-shot (no hash folding, no cross-band
  candidates);
- ``ids/`` — (doc_id,): the slim ingest ledger the at-least-once replay
  anti-join probes;
- ``tombstones/`` — (doc_id,): pending deletes;
- ``_STORE_META`` — signature geometry + bucket count, written once:
  geometry is store identity (a reopen with other geometry raises),
  and the bucket count is baked into file names (a reopen adopts it).

Contracts both families hold:

- **Incremental equals one-shot.** After any sequence of ``add_batch``
  calls, the union of the returned pair sets equals the family's
  one-shot (``verified_near_dups`` / ``simhash_near_dups``) over the
  full corpus: banding, estimate and verify are the SAME functions, so
  the candidate nets are identical by construction (SimHash's
  pigeonhole net is moreover exact for hamming ≤ n_blocks − 1).
  Certified as oracle rows (``dedup_incremental``,
  ``dedup_simhash_incremental``).
- **Hot-bucket quarantine is monotone.** A bucket whose LIVE occupancy
  (stored rows minus tombstoned docs, plus the batch's rows) exceeds
  ``max_bucket_size`` is dropped from that batch's mining with a
  logged count — one pathological bucket would otherwise turn the
  candidate join into a batch×store blowup in one task. Pairs emitted
  before a bucket crossed the cap stand, whereas the one-shot drops
  the whole bucket retroactively; a bucket hot from its first
  appearance (the realistic mass-duplicate shape) emits what the
  one-shot emits, which is nothing. The equality above therefore holds
  on any corpus whose buckets stay under the cap. Ingest itself is
  unaffected: quarantined docs' rows still land in the store.
- **One-marker ingest commit.** Pairs materialize BEFORE the store
  commit (a streaming replay sees the pre-append store); the batch's
  sig rows, key rows and ledger ids then commit under ONE
  ``StagedCommit`` marker, so no crash can leave key rows whose ids
  the ledger has not seen. Ids already in the ledger (and duplicates
  inside the batch) are dropped up front, so a replayed batch appends
  nothing and pairs nothing.
- **Tombstone lifecycle.** ``remove_batch`` journals ids into
  ``tombstones/``; until a compaction applies them, every ``add_batch``
  and ``probe`` filters its batch-bounded candidate pairs against the
  set (the store is untouched), so deleted docs answer as never
  ingested, and a pre-compaction redelivery of a deleted id is dropped
  by the ledger. ``compact`` (whole store) and ``compact_tombstones``
  (dirty buckets only) apply tombstones physically and swap in the
  cleared set under the SAME marker as the rewrites — no crash can
  leave a stale tombstone hiding a re-ingestable id — after which a
  deleted id may re-ingest as new. ``compact_buckets`` is defrag only.

Store reads are pruned to the batch only above a measured store size
(``store_common.worth_pruning``): below it the extra broadcast and
checkpoint jobs cost more than reading the store whole.

Reference basis: the reference maintains dedup state per run window
(_settings.py:230-287) rather than rescanning history; this is that
discipline applied to the LLM-pipeline extension family.
"""

from __future__ import annotations

import functools
import json
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import fs_for
from ..functions.minhash import _quarantine_hot_buckets
from ..session import release_cache, rotate_cache
from .bucketed import BucketedStore
from .journal import StagedCommit, journaled_tombstone_append
from .store_common import (
    batch_keyed_wide,
    bucket_census,
    bucket_id_col,
    compact_hot_buckets,
    data_files,
    has_files,
    ingest_pruned,
    live_bucket_sizes,
    probe_pruned,
    rewrite_tombstoned_buckets,
    single_writer,
    worth_pruning,
)

_META = "_STORE_META"


class BandedIndex:
    """A persisted banded near-dup index over an append-only document
    store. Subclasses set the class-level family hooks below and their
    geometry attributes, then call ``BandedIndex.__init__``."""

    #: key table sub-dir (also its journal route and stats key stem)
    KEY_SUB: str
    #: the key table's composite bucket key = the candidate join key
    KEY_COLS: tuple[str, ...]
    #: key column the read-only probe pushes into the key-table scan
    PROBE_COL: str
    #: catalog-table name prefixes of (sigs, key table)
    TABLE_PREFIXES: tuple[str, str]
    #: cache and quarantine tag stem (``<TAG>.add_batch``/``<TAG>.probe``)
    TAG: str
    #: constructor fields stored in ``_STORE_META`` and checked on reopen
    GEOMETRY_FIELDS: tuple[str, ...]
    #: signature columns ``_sign`` emits next to the id, in sigs/ order
    SIG_COLS: tuple[str, ...]
    #: verify score column and its empty-result literal (sets its type)
    SCORE: str
    SCORE_ZERO: float | int
    # Callable hooks, bound by each subclass to its family methods:
    # ``_sign(batch)`` -> (id, *SIG_COLS) rows of a deduped batch;
    # ``_key_rows(sigs)`` -> (*KEY_COLS, id) rows, null signatures dropped;
    # ``_side_cols()`` -> ((prefix, Column over a sigs row), ...) each
    # pair side resolves; ``_score(resolved)`` -> (id_a, id_b, SCORE)
    # pairs within the family's threshold.

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str,
        text_col: str,
        n_buckets: int,
        max_bucket_size: int | None,
    ):
        self.spark = spark
        self.path = path
        self.id_col, self.text_col = id_col, text_col
        self.n_buckets = n_buckets
        # mining-cost knob like the score threshold, NOT store identity:
        # quarantined docs' sig and key rows are still ingested in full
        self.max_bucket_size = max_bucket_size
        # swap seam for staged commits — POSIX for bare paths, Hadoop
        # FileSystem for hdfs:// s3a:// index roots; crash tests swap it
        self.fs = fs_for(spark, path)
        meta_path = os.path.join(path, _META)
        fresh = not self.fs.exists(meta_path)
        if not fresh:
            meta = json.loads(self.fs.read_text(meta_path))
            for name in self.GEOMETRY_FIELDS:
                if int(meta[name]) != getattr(self, name):
                    raise ValueError(
                        f"store at {path} was built with {name}="
                        f"{meta[name]}, got {getattr(self, name)} — "
                        "signature geometry is store identity"
                    )
            self.n_buckets = int(meta["n_buckets"])
        elif not self._legacy_layout():
            self._write_meta()
        # catalog-fronted bucketed tables; the shared seam also drops a
        # stale catalog entry left by a previous (deleted) store here
        sig_prefix, key_prefix = self.TABLE_PREFIXES
        self._sigs = BucketedStore(
            spark, lambda: self.fs, self.sigs_path,
            self.id_col, self.n_buckets, sig_prefix, fresh,
        )
        self._keys = BucketedStore(
            spark, lambda: self.fs, self.keys_path,
            self.KEY_COLS, self.n_buckets, key_prefix, fresh,
        )

    def _legacy_layout(self) -> bool:
        """True iff a store without meta holds an older layout that
        ``recover`` migrates (then no fresh meta is written yet)."""
        return False

    def _write_meta(self) -> None:
        self.fs.write_text_atomic(
            os.path.join(self.path, _META),
            json.dumps(
                {name: getattr(self, name) for name in self.GEOMETRY_FIELDS}
                | {"n_buckets": self.n_buckets, "layout": "bucketed"}
            ),
        )

    @property
    def sigs_path(self) -> str:
        return os.path.join(self.path, "sigs")

    @property
    def keys_path(self) -> str:
        return os.path.join(self.path, self.KEY_SUB)

    @property
    def ids_path(self) -> str:
        return os.path.join(self.path, "ids")

    @property
    def tombstones_path(self) -> str:
        return os.path.join(self.path, "tombstones")

    @property
    def staging_path(self) -> str:
        return os.path.join(self.path, "__maint_staging")

    def _has_files(self, d: str) -> bool:
        return has_files(self.fs, d)

    def _data_files(self, store: str):
        """Parquet file census through the ``fs`` seam (truthful on
        remote index roots — see ``store_common.data_files``)."""
        yield from data_files(self.fs, store)

    def _tombstones(self) -> DataFrame | None:
        if not self._has_files(self.tombstones_path):
            return None
        return self.spark.read.parquet(self.tombstones_path)

    def _journal(self) -> StagedCommit:
        """The staged-commit journal: sigs, key table, ids ledger AND
        the tombstone set commit under ONE marker. Constructed per call
        so crash tests can swap ``self.fs``."""
        return StagedCommit(
            self.spark,
            self.fs,
            self.staging_path,
            (
                ("sigs", self.sigs_path),
                (self.KEY_SUB, self.keys_path),
                ("ids", self.ids_path),
                ("tombstones", self.tombstones_path),
            ),
            refresh_table=(self._sigs.table, self._keys.table),
        )

    def recover(self) -> int:
        """Converge any interrupted commit — called at every entry
        point, same contract as the runner's ``recover_all``. Returns
        the number of true roll-forwards."""
        return self._journal().recover()

    # --- candidate + verify plans (fragments, pinned by plan tests) -------

    def _key_match(self, left: str, right: str) -> Column:
        return functools.reduce(
            lambda acc, c: acc & c,
            [F.col(f"{left}.{k}") == F.col(f"{right}.{k}") for k in self.KEY_COLS],
        )

    def _candidates(self, new_keys: DataFrame) -> DataFrame:
        """Banded candidate pairs (id_a < id_b) for a batch: new×old
        against the bucketed key table (store side never exchanged — the
        join keys ARE the bucket columns) plus the in-batch self-join,
        after the hot-bucket quarantine on live store+batch occupancy.

        Above the size gate both store reads — occupancy and candidate
        join — go through ONE batch-key-pruned frame
        (``store_common.ingest_pruned``). Superset-safe: the key set is
        taken from the PRE-quarantine batch keys, so occupancy stays
        exact for every bucket the quarantine judges, and the semi
        prunes only rows in buckets the batch never touches."""
        keys, i = list(self.KEY_COLS), self.id_col
        old = None
        if self._keys.has_files():
            old = self._keys.read()
            if worth_pruning(self.fs, self.keys_path):
                old = ingest_pruned(old, self.KEY_COLS, new_keys)
        if self.max_bucket_size is not None:
            base_sizes = None
            if old is not None:
                base_sizes = live_bucket_sizes(old, self._tombstones(), keys, i)
            new_keys = _quarantine_hot_buckets(
                new_keys, keys, self.max_bucket_size,
                f"{self.TAG}.add_batch", base_sizes=base_sizes,
            )
        self_cands = (
            new_keys.alias("a")
            .join(
                new_keys.alias("b"),
                self._key_match("a", "b") & (F.col(f"a.{i}") < F.col(f"b.{i}")),
            )
            .select(F.col(f"a.{i}").alias("id_a"), F.col(f"b.{i}").alias("id_b"))
            .distinct()
        )
        if old is None:
            return self_cands
        cross = (
            new_keys.alias("n")
            .join(old.alias("o"), self._key_match("n", "o"))
            # normalize to id_a < id_b (a stored id is not necessarily
            # smaller than a batch id)
            .select(
                F.least(F.col(f"o.{i}"), F.col(f"n.{i}")).alias("id_a"),
                F.greatest(F.col(f"o.{i}"), F.col(f"n.{i}")).alias("id_b"),
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct()
        )
        # the two sets are disjoint (store ids ∩ batch ids = ∅ after the
        # ledger anti-join) — the distinct is cheap batch-bounded insurance
        return cross.unionByName(self_cands).distinct()

    def _attach(
        self,
        pairs: DataFrame,
        side: str,
        store_rows: DataFrame | None,
        batch_rows: DataFrame,
        batch_first: bool = False,
    ) -> DataFrame:
        """Resolve ``side``'s signature columns from the bucketed sigs
        store (left join — store scan never exchanged; the batch-bounded
        pairs shuffle into its bucket space) with the batch's own rows
        filling ids not yet stored. ``batch_first`` flips the coalesce
        for a side KNOWN to be batch-local (the probe side of
        ``probe()``), so an id collision with a stored doc can never
        substitute the stored doc's signature."""
        tag = side[-1]  # "a" / "b"
        cols = self._side_cols()

        def sel(rows: DataFrame, suffix: str) -> DataFrame:
            return rows.select(
                F.col(self.id_col).alias(side),
                *[c.alias(f"{p}_{tag}{suffix}") for p, c in cols],
            )

        out = pairs
        if store_rows is not None:
            out = out.join(sel(store_rows, "_s"), side, "left")
        out = out.join(sel(batch_rows, "_n"), side, "left")
        first, second = ("_n", "_s") if batch_first else ("_s", "_n")
        for p, _ in cols:
            if store_rows is not None:
                value = F.coalesce(f"{p}_{tag}{first}", f"{p}_{tag}{second}")
            else:
                value = F.col(f"{p}_{tag}_n")
            out = out.withColumn(f"{p}_{tag}", value)
        return out.drop(*[f"{p}_{tag}{s}" for p, _ in cols for s in ("_s", "_n")])

    def _verified_pairs(
        self,
        cands: DataFrame,
        new: DataFrame,
        batch_first_sides: tuple = (),
        store_rows: DataFrame | None = None,
    ) -> DataFrame:
        """The family's score over candidate pairs whose sides resolve
        from store ∪ batch (store rows only ever joined, never
        re-derived, never exchanged). ``store_rows`` overrides the sigs
        frame (a candidate-pruned read); default is the full bucketed
        scan."""
        batch_rows = new.select(self.id_col, *self.SIG_COLS)
        if store_rows is None:
            store_rows = self._sigs.read() if self._sigs.has_files() else None
        resolved = cands
        for side in ("id_a", "id_b"):
            resolved = self._attach(
                resolved, side, store_rows, batch_rows,
                batch_first=side in batch_first_sides,
            )
        return self._score(resolved)

    def _empty(self, rows: DataFrame, a: str, b: str) -> DataFrame:
        return rows.select(
            F.col(self.id_col).alias(a),
            F.col(self.id_col).alias(b),
            F.lit(self.SCORE_ZERO).alias(self.SCORE),
        ).limit(0)

    # --- ingest + lookup -----------------------------------------------------

    @single_writer
    def add_batch(self, batch: DataFrame) -> DataFrame:
        """Ingest one batch; return its near-dup pairs (id_a, id_b,
        SCORE) — new×old (one id stored) and new×new (both in batch).
        Idempotent under at-least-once redelivery; commits under one
        journal marker (see the module docstring)."""
        self.recover()  # converge any interrupted commit / migration
        # ONE user-numbered keyed exchange feeds the dedup, the ledger
        # anti-join AND the CPU-heavy signing pass at a width AQE cannot
        # coalesce away (see store_common.batch_keyed_wide)
        batch = batch_keyed_wide(batch, self.id_col).dropDuplicates([self.id_col])
        if self._has_files(self.ids_path):
            stored_ids = self.spark.read.parquet(self.ids_path)
            batch = batch.join(stored_ids, self.id_col, "left_anti")
        tag = f"{self.TAG}.add_batch"
        release_cache(tag)  # BEFORE persist — see session.py
        new = self._sign(batch).persist()
        n_new = new.count()  # eager barrier: feeds keys, verify, and the commit
        rotate_cache(tag, new)
        if n_new == 0:
            # full replay / empty delivery: nothing to judge, nothing to
            # commit — answer without touching the store
            return self._empty(new, "id_a", "id_b").localCheckpoint(eager=True)
        new_keys = self._key_rows(new)

        cands = self._candidates(new_keys)
        # tombstoned docs answer as never ingested: their key rows stay
        # in the store until compaction, so filter the batch-bounded
        # CANDIDATE pairs (minority ⇒ broadcast; the store is untouched)
        tombs = self._tombstones()
        if tombs is not None:
            dead = tombs.select(F.col(self.id_col).alias("id_a"))
            cands = cands.join(F.broadcast(dead), "id_a", "left_anti").join(
                F.broadcast(dead.select(F.col("id_a").alias("id_b"))),
                "id_b",
                "left_anti",
            )

        # above the size gate the verify joins resolve stored signatures
        # through a candidate-id-pruned sigs read (superset-safe — a sig
        # row pruned matches no candidate id); below it the candidate
        # checkpoint costs more than the whole unpruned sigs join
        store_rows = None
        if self._sigs.has_files() and worth_pruning(self.fs, self.sigs_path):
            cands = cands.localCheckpoint(eager=True)
            store_rows = ingest_pruned(
                self._sigs.read(),
                (self.id_col,),
                cands.select(F.col("id_a").alias(self.id_col)).union(
                    cands.select(F.col("id_b").alias(self.id_col))
                ),
            )
        pairs = self._verified_pairs(cands, new, store_rows=store_rows)
        # materialize pairs BEFORE the store commit (severs the report
        # from the store paths the promotion is about to mutate)
        out = pairs.localCheckpoint(eager=True)

        staging = self.staging_path  # recover() left no staging behind
        self._sigs.stage_bucketed(new, os.path.join(staging, "sigs"))
        self._keys.stage_bucketed(new_keys, os.path.join(staging, self.KEY_SUB))
        # ledger append sized by rows, not by the (now wide) batch
        # partitioning — one slim file per ~2M ids, not one per task
        new.select(self.id_col).coalesce(
            max(1, -(-n_new // 2_000_000))
        ).write.mode("overwrite").parquet(os.path.join(staging, "ids"))
        # COMMIT POINT: everything staged before this call is
        # reconstructible debris; everything after is pure idempotent
        # promotion (see journal.StagedCommit)
        self._journal().commit()
        return out

    def probe(self, batch: DataFrame) -> DataFrame:
        """READ-ONLY near-dup lookup: (probe_id, match_id, SCORE) for
        every batch doc within threshold of a STORED doc — the same
        banding and verify as ``add_batch``'s new×old pass, with NOTHING
        written (no ledger check, no commit). The decontamination shape:
        "is this eval doc a near-dup of anything already in the corpus?"
        answered against the maintained store.

        In-batch pairs are NOT mined; ``probe_id`` is always the batch
        doc, ``match_id`` the stored doc. Tombstoned docs never match.
        Probe ids that collide with stored ids drop their self-pair
        only. The quarantine applies with the ingest's occupancy rule."""
        self.recover()
        batch = batch.dropDuplicates([self.id_col])
        if not self._keys.has_files():
            return self._empty(batch, "probe_id", "match_id")
        keys, i = list(self.KEY_COLS), self.id_col
        tag = f"{self.TAG}.probe"
        release_cache(tag)  # BEFORE persist
        new = self._sign(batch).persist()
        new.count()
        rotate_cache(tag, new)
        new_keys = self._key_rows(new)
        # push the probe's key set into EVERY store read of this lookup
        # (candidate join AND occupancy): the store files are sorted by
        # the bucket key, so row-group stats skip everything outside the
        # probe's keys — a point lookup against a grown store stays
        # O(probe). Occupancy stays exact for the probe's buckets: all
        # store rows sharing a probe PROBE_COL value are retained.
        stored_keys = probe_pruned(
            self._keys.read(), self.PROBE_COL, new_keys,
            fs=self.fs, store_dir=self.keys_path,
        )
        if self.max_bucket_size is not None:
            base_sizes = live_bucket_sizes(stored_keys, self._tombstones(), keys, i)
            new_keys = _quarantine_hot_buckets(
                new_keys, keys, self.max_bucket_size, tag, base_sizes=base_sizes
            )
        cands = (
            new_keys.alias("n")
            .join(stored_keys.alias("o"), self._key_match("n", "o"))
            .select(F.col(f"n.{i}").alias("id_a"), F.col(f"o.{i}").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct()
        )
        tombs = self._tombstones()
        if tombs is not None:
            dead = tombs.select(F.col(i).alias("id_b"))
            cands = cands.join(F.broadcast(dead), "id_b", "left_anti")
        # the verify side's sigs scan prunes by the candidate MATCH ids
        # (the probe side resolves batch-locally), above the same gate
        stored_sigs = None
        if self._sigs.has_files() and worth_pruning(self.fs, self.sigs_path):
            cands = cands.localCheckpoint(eager=True)
            stored_sigs = probe_pruned(
                self._sigs.read(), i, cands.select(F.col("id_b").alias(i))
            )
        return self._verified_pairs(
            cands, new, batch_first_sides=("id_a",), store_rows=stored_sigs
        ).select(
            F.col("id_a").alias("probe_id"),
            F.col("id_b").alias("match_id"),
            self.SCORE,
        )

    def pairs_equal(self, other: DataFrame, mine: DataFrame) -> bool:
        """Bag equality on (id_a, id_b, SCORE) — certification helper;
        ``other``'s score is cast to this index's score type."""
        s = self.SCORE
        a = mine.select("id_a", "id_b", s)
        b = other.select(
            "id_a", "id_b", F.col(s).cast(a.schema[s].dataType).alias(s)
        )
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    # --- store maintenance ---------------------------------------------------

    @single_writer
    def remove_batch(self, ids: DataFrame) -> int:
        """Mark documents DELETED; returns the number newly tombstoned.
        Idempotent: ids never ingested, or already tombstoned, are
        dropped up front. The write commits through the journal, so a
        crash leaves either the old set or the converged new set."""
        self.recover()
        if not self._has_files(self.ids_path):
            return 0
        return journaled_tombstone_append(
            self._journal(),
            self.staging_path,
            ids,
            self.id_col,
            self.spark.read.parquet(self.ids_path),
            self._tombstones(),
        )

    @single_writer
    def compact_buckets(self, max_files_per_bucket: int = 1) -> dict:
        """Per-bucket small-files compaction: rewrite ONLY buckets
        holding more than ``max_files_per_bucket`` files (sigs and key
        table judged independently), untouched buckets' files kept by
        identity. Defrag only: tombstones are neither applied nor
        cleared (see ``store_common.compact_hot_buckets``)."""
        self.recover()
        if not self._sigs.has_files():
            return {}
        return compact_hot_buckets(
            self.spark,
            self.fs,
            self._journal(),
            self.staging_path,
            (("sigs", self._sigs), (self.KEY_SUB, self._keys)),
            max_files_per_bucket,
        )

    def _rewrite_ledger_without(self, tombs: DataFrame) -> bool:
        """Stage the ids ledger minus ``tombs`` (sized from its row
        count — single slim column); False if there is no ledger."""
        if not self._has_files(self.ids_path):
            return False
        ledger = self.spark.read.parquet(self.ids_path)
        if tombs is not None:
            ledger = ledger.join(tombs, self.id_col, "left_anti")
        nfiles = max(1, math.ceil(ledger.count() / 2_000_000))
        ledger.repartition(nfiles).write.mode("overwrite").parquet(
            os.path.join(self.staging_path, "ids")
        )
        return True

    @single_writer
    def compact_tombstones(self) -> dict:
        """Apply pending tombstones PHYSICALLY while touching ONLY the
        buckets that hold a tombstoned row — the O(dirty buckets) delete
        unit. Dirty-bucket discovery needs NO store scan: a tombstoned
        doc's sigs row lives in bucket ``pmod(hash(doc_id), n)``
        (``store_common.bucket_id_col``), and its key rows' buckets
        re-derive from its STORED signature, read from only those dirty
        sigs files. Each table rewrites just its dirty buckets through
        the journal's delete-list mode, while the ledger forget and the
        cleared tombstone set promote in whole-dir replace mode — all
        under ONE marker. The ledger rewrite is O(ledger rows), single
        slim column; the byte-heavy tables are O(dirty buckets).
        Untouched buckets' files keep their BYTE identity."""
        self.recover()
        tombs = self._tombstones()
        if tombs is None or not self._sigs.has_files():
            return {}
        # sever from tombstones/ before the commit clears it
        tombs = tombs.select(self.id_col).localCheckpoint()
        n_tombs = tombs.count()
        if n_tombs == 0:
            return {}
        staging = self.staging_path
        dirty_sigs = {
            r[0]
            for r in tombs.select(
                bucket_id_col([self.id_col], self.n_buckets).alias("b")
            )
            .distinct()
            .collect()
        }
        del_sigs = rewrite_tombstoned_buckets(
            self.spark, self.fs, self._sigs, tombs, self.id_col,
            dirty_sigs, os.path.join(staging, "sigs"),
        )
        del_keys: list[str] = []
        if self._has_files(self.keys_path):
            census = bucket_census(self.fs, self.sigs_path)
            sig_files = [
                os.path.join(self.sigs_path, n)
                for b in sorted(dirty_sigs)
                for n in census.get(b, ())
            ]
            if sig_files:
                dead = self.spark.read.parquet(*sig_files).join(
                    F.broadcast(tombs), self.id_col, "left_semi"
                )
                dirty_keys = {
                    r[0]
                    for r in self._key_rows(dead)
                    .select(bucket_id_col(self.KEY_COLS, self.n_buckets).alias("b"))
                    .distinct()
                    .collect()
                }
                del_keys = rewrite_tombstoned_buckets(
                    self.spark, self.fs, self._keys, tombs, self.id_col,
                    dirty_keys, os.path.join(staging, self.KEY_SUB),
                )
        replace_subs = ["tombstones"]
        if self._rewrite_ledger_without(F.broadcast(tombs)):
            replace_subs.append("ids")
        # an EMPTY staged tombstones dir = the cleared set
        self.fs.makedirs(os.path.join(staging, "tombstones"))
        self._journal().commit(
            delete={"sigs": del_sigs, self.KEY_SUB: del_keys},
            replace_subs=tuple(replace_subs),
        )
        return {
            "n_tombstones_applied": n_tombs,
            "sigs": {
                "buckets_rewritten": len(dirty_sigs),
                "files_rewritten": len(del_sigs),
            },
            self.KEY_SUB: {"files_rewritten": len(del_keys)},
        }

    @single_writer
    def compact(self) -> dict:
        """Rewrite both store tables to one file per bucket — every
        ``add_batch`` appends one file set, so after N batches each
        bucket's scan opens O(N) files AND loses its sort-merge
        sortedness (Spark trusts per-bucket sort order only with a
        single file per bucket). Tombstones apply physically here: both
        rewrites, the ledger forget AND the cleared tombstone set stage
        under ONE replace-mode commit."""
        self.recover()
        report: dict = {}
        if not self._sigs.has_files():
            return report
        tombs = self._tombstones()
        if tombs is not None:
            tombs = tombs.localCheckpoint()  # sever before tombstones/ clears
        staging = self.staging_path
        tables = (("sigs", self._sigs), (self.KEY_SUB, self._keys))
        files_before = {
            name: sum(1 for _ in self._data_files(t.location)) for name, t in tables
        }
        for name, table in tables:
            if not self._has_files(table.location):
                continue
            rows = self.spark.read.parquet(table.location)
            if tombs is not None:
                rows = rows.join(tombs, self.id_col, "left_anti")
            table.stage_bucketed(rows, os.path.join(staging, name))
        self._rewrite_ledger_without(tombs)
        if tombs is not None:
            # an EMPTY staged tombstones dir = the cleared set; the
            # replace promotion swaps it in atomically with the stores
            self.fs.makedirs(os.path.join(staging, "tombstones"))
        self._journal().commit(replace=True)
        for name, table in tables:
            report[name] = {
                "files_before": files_before[name],
                "files_after": sum(1 for _ in self._data_files(table.location)),
            }
        return report

    def stats(self) -> dict:
        """Operational snapshot: ingested docs (slim ledger count),
        pending tombstones, and the key table's file census (the
        compaction trigger, ``band_files``/``block_files``). Converges
        any interrupted commit first, so a crash-interrupted store
        reports its true state."""
        self.recover()
        tombs = self._tombstones()
        if self._has_files(self.ids_path):
            n_docs = self.spark.read.parquet(self.ids_path).count()
        elif self._sigs.has_files():
            n_docs = self.spark.read.parquet(self.sigs_path).count()
        else:
            n_docs = 0
        return {
            "n_docs": n_docs,
            "n_tombstoned": tombs.count() if tombs is not None else 0,
            f"{self.KEY_SUB[:-1]}_files": sum(
                1 for _ in self._data_files(self.keys_path)
            ),
        }
