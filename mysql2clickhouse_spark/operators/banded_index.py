"""Banded near-dup store — what the two incremental near-dup indexes
share (``MinHashIndex`` in ``neardup_index.py``, ``SimHashIndex`` in
``simhash_index.py``) on top of the ``MaintainedStore`` skeleton
(``operators/maintained.py``: construction, ledger, journal,
tombstones, compaction, census). Each family plugs in its signer, its
banding and its verify score.

Layout under ``path``:

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
- ``ids/`` — the ledger; ``tombstones/``; ``_STORE_META`` with the
  signature geometry as store identity.

Contracts both families hold on top of the skeleton's:

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
- **Pairs before the commit.** Pairs materialize BEFORE the store
  commit, so a streaming replay sees the pre-append store; tombstoned
  docs are filtered from the batch-bounded candidate pairs (the store
  is untouched until compaction).
- **Per-bucket tombstone compaction.** Besides the skeleton's
  whole-store ``compact``, ``compact_tombstones`` applies tombstones
  to the dirty buckets only.

Store reads are pruned to the batch only above a measured store size
(``store_common.worth_pruning``): below it the extra broadcast and
checkpoint jobs cost more than reading the store whole.

Reference basis: the reference maintains dedup state per run window
(_settings.py:230-287) rather than rescanning history; this is that
discipline applied to the LLM-pipeline extension family.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.minhash import _quarantine_hot_buckets
from ..session import release_cache, rotate_cache
from .maintained import MaintainedStore
from .store_common import (
    batch_keyed_wide,
    bucket_census,
    bucket_id_col,
    ingest_pruned,
    live_bucket_sizes,
    probe_pruned,
    rewrite_tombstoned_buckets,
    single_writer,
    worth_pruning,
)


class BandedIndex(MaintainedStore):
    """A persisted banded near-dup index over an append-only document
    store. Subclasses set the class-level family hooks below, ``IDENTITY``
    and ``CENSUS_KEY``, and their geometry attributes, then call
    ``BandedIndex.__init__``."""

    LEDGER = "ids"
    STAGING = "__maint_staging"

    #: key table sub-dir (also its journal route); the census table
    KEY_SUB: str
    #: the key table's composite bucket key = the candidate join key
    KEY_COLS: tuple[str, ...]
    #: key column the read-only probe pushes into the key-table scan
    PROBE_COL: str
    #: catalog-table name prefixes of (sigs, key table)
    TABLE_PREFIXES: tuple[str, str]
    #: cache and quarantine tag stem (``<TAG>.add_batch``/``<TAG>.probe``)
    TAG: str
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
        self.text_col = text_col
        # mining-cost knob like the score threshold, NOT store identity:
        # quarantined docs' sig and key rows are still ingested in full
        self.max_bucket_size = max_bucket_size
        super().__init__(spark, path, id_col, n_buckets)
        self._sigs, self._keys = self._tables["sigs"], self._tables[self.KEY_SUB]

    @property
    def TABLES(self):
        sig_prefix, key_prefix = self.TABLE_PREFIXES
        return (
            ("sigs", self.id_col, sig_prefix),
            (self.KEY_SUB, self.KEY_COLS, key_prefix),
        )

    @property
    def sigs_path(self) -> str:
        return os.path.join(self.path, "sigs")

    @property
    def keys_path(self) -> str:
        return os.path.join(self.path, self.KEY_SUB)

    ids_path = MaintainedStore.ledger_path

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
        journal marker (see ``operators/maintained.py``)."""
        self.recover()  # converge any interrupted commit / migration
        # ONE user-numbered keyed exchange feeds the dedup, the ledger
        # anti-join AND the CPU-heavy signing pass at a width AQE cannot
        # coalesce away (see store_common.batch_keyed_wide)
        batch = self._unseen(
            batch_keyed_wide(batch, self.id_col).dropDuplicates([self.id_col])
        )
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
        Untouched buckets' files keep their BYTE identity. Banded-only:
        the gram and posting stores keep no per-doc record of the keys
        a deleted doc owns, so their dirty buckets need a store scan."""
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
            replace_subs.append(self.LEDGER)
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
