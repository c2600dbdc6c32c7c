"""Incremental exact-substring dedup — the ExactSubstr pass as a
MAINTAINED store, not a per-run recompute.

``functions.text.substring_dedup`` re-tokenizes and re-grams the whole
corpus every invocation — right for a one-shot audit, O(corpus) work
per O(batch) new data for an ingest pipeline (the same scale-killer
``operators/neardup_index.py`` removes for MinHash). This operator
persists the one derived table the incremental pass needs:

- ``firsts/`` — (gram, doc_id, s): the FIRST occurrence of every
  k-gram ever ingested (gram strings, not digests — same exactness
  contract as the one-shot: a digest collision would silently delete a
  non-duplicate span). Written BUCKETED on ``gram`` (a Spark bucketed
  table registered over this location), so the per-batch membership
  join reads the store with its layout: the store side of the join is
  never exchanged — only the batch's grams shuffle, O(batch) rows per
  ingest no matter how large the store grows (plan-pinned in
  ``tests/test_plan_shapes.py``).
- ``docs/``   — (doc_id,): the ingest ledger.

The ledger, the one-marker commit, the tombstone lifecycle and
compaction are the ``MaintainedStore`` skeleton's
(``operators/maintained.py``). What is substring-specific is how a
delete reads — FORGET, the direction that can only miss dedup, never
falsely remove: grams whose stored first occurrence belongs to a
deleted doc are logically absent from the store (a later batch
re-claims them as its own firsts; an exact copy of the deleted doc
arriving later is judged FRESH for the grams it solely owned). Exact
as-if-never-ingested ownership transfer is impossible from this store
— it retains only FIRST occurrences, so the next-earliest occurrence of
a forgotten gram is unknowable — and the report already issued for the
deleted doc's own ingest is history, not state.

Per batch, ``add_batch``:

1. rolls forward / clears any interrupted prior ingest (``recover``);
2. tokenizes and grams the BATCH only (one scan of the new text);
3. marks an occurrence duplicated iff its gram is in the store OR an
   earlier occurrence exists within the batch (the batch-local
   min-struct groupBy — identical aggregation to the one-shot);
4. produces the per-doc removal report via the SHARED
   ``removal_report`` (the one-shot and incremental paths cannot
   drift — same window rule, same reassembly, same hash);
5. commits the batch's NEW first occurrences and its doc ids under
   one journal marker, so a replay is NEVER judged against its own
   grams (``tests/test_crash_matrix.py`` drives both fault points).

Precedence contract: the store encodes FIRST-SEEN order. When batches
partition the corpus into ascending id ranges, first-seen order equals
the one-shot's lexicographic (id, position) order and the union of
batch reports is EXACTLY the one-shot report (``test_substring_index``
pins it; the ``dedup_substring_incremental`` oracle row certifies it
at corpus scale). Under arbitrary arrival order the semantics remain
well-defined — arrival precedence, the production contract for a
stream that never re-orders history.

Scale: the batch-vs-store membership join is the cost center — batch
grams (O(batch×tokens) rows) against the store's gram column. The
bucketed layout keeps that join store-shuffle-free at ANY store size:
each ingest exchanges only the batch's grams into the store's bucket
space (size ``n_buckets`` to the cluster — thousands at 100 TB; it is
fixed at store creation and recorded in ``_STORE_META``). Everything
else is batch-bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import gram_rows, removal_report, tokenized_docs
from ..session import release_cache, rotate_cache
from .maintained import MaintainedStore
from .store_common import probe_pruned, single_writer


class SubstringIndex(MaintainedStore):
    """A persisted first-occurrence k-gram store for incremental
    exact-substring dedup."""

    TABLES = (("firsts", "gram", "m2c_ssidx_"),)
    LEDGER = "docs"
    STAGING = "__ingest_staging"
    CENSUS_KEY = "firsts_files"
    IDENTITY = ("k",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int | None = 10,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 32,
    ):
        """``k=None`` ADOPTS the gram width from the store's meta — the
        path-only reopen shape a streaming ingest job uses (it knows
        only the store location); a fresh store requires an explicit
        ``k``. A mismatching explicit ``k`` still raises: silently
        re-gramming an existing store would corrupt it."""
        self.k = k
        self.text_col = text_col
        super().__init__(spark, path, id_col, n_buckets)
        self._store = self._tables["firsts"]

    @property
    def firsts_path(self) -> str:
        return os.path.join(self.path, "firsts")

    docs_path = MaintainedStore.ledger_path

    def _stored_grams(self, pruned_by: DataFrame | None = None) -> DataFrame:
        """The store's gram column THROUGH the bucketed table, so joins
        on ``gram`` inherit HashPartitioning(gram, n_buckets) from the
        scan itself — no Exchange ever sits above the store side.
        ``pruned_by`` (read-only probe path only): a frame whose
        ``gram`` column bounds the store read — the probe's own gram
        set is pushed into the scan so row-group stats skip everything
        else (``store_common.probe_pruned``); ingest always passes
        None and keeps the full-scan contract.
        Grams whose first-occurrence OWNER is tombstoned are logically
        absent (the minority tombstone set broadcasts into an anti-join
        above the scan — broadcast joins preserve the store's
        partitioning, so the no-Exchange plan pin holds). The store
        never shows two live rows per gram: a re-claimed gram's old row
        stays tombstone-filtered until compact physically drops it."""
        rows = self._store.read()
        if pruned_by is not None:
            rows = probe_pruned(
                rows, "gram", pruned_by,
                fs=self.fs, store_dir=self.firsts_path,
            )
        tombs = self._tombstones()
        if tombs is not None:
            rows = rows.join(F.broadcast(tombs), self.id_col, "left_anti")
        return rows.select("gram").withColumn("__stored", F.lit(1))

    def _judged(self, toks: DataFrame, prune: bool):
        """(batch first occurrences, stored membership view, duplicated
        span starts) of a tokenized batch: an occurrence is duplicated
        iff its gram is in the store OR an earlier occurrence exists
        within the batch (the one-shot's min-struct groupBy). ``prune``
        pushes the batch's gram set into the store read (probe only)."""
        grams = gram_rows(toks, self.k, self.id_col)
        batch_first = grams.groupBy("gram").agg(
            F.min(F.struct(self.id_col, "s")).alias("first_occ")
        )
        if self._has_files(self.firsts_path):
            stored = self._stored_grams(pruned_by=batch_first if prune else None)
        else:
            stored = batch_first.select("gram").withColumn(
                "__stored", F.lit(1)
            ).limit(0)
        occ = grams.join(batch_first, "gram").join(stored, "gram", "left")
        dup_starts = occ.filter(
            F.col("__stored").isNotNull()
            | (F.col(self.id_col) != F.col(f"first_occ.{self.id_col}"))
            | (F.col("s") != F.col("first_occ.s"))
        ).select(self.id_col, "s")
        return batch_first, stored, dup_starts

    def _tokens(self, batch: DataFrame, tag: str) -> tuple[DataFrame, int]:
        release_cache(tag)  # BEFORE persist — see session.py
        toks = tokenized_docs(batch, self.id_col, self.text_col).persist()
        n = toks.count()
        rotate_cache(tag, toks)
        return toks, n

    def _empty_report(self, toks: DataFrame) -> DataFrame:
        none = toks.select(self.id_col).limit(0).withColumn("s", F.lit(1))
        return removal_report(toks, none, self.k, self.id_col)

    def probe(self, batch: DataFrame) -> DataFrame:
        """READ-ONLY ExactSubstr judgment: the removal report
        ``add_batch`` would produce for this batch — duplicated spans
        judged against the store's live membership view AND earlier
        occurrences within the batch — with NOTHING committed (no
        ledger check, no staging; the store's bytes and file census are
        untouched). The decontamination shape for the substring family:
        \"which spans of this candidate doc already exist in the
        corpus?\" answered from the maintained store instead of a full
        re-gram. Unlike ingest, already-ledgered ids are NOT dropped —
        probing a stored doc legitimately reports it fully duplicated
        (its own grams are in the store). Tombstoned docs' grams are
        logically absent, as in ingest."""
        self.recover()
        batch = batch.dropDuplicates([self.id_col])
        toks, n = self._tokens(batch, "substring_index.probe")
        if n == 0:
            return self._empty_report(toks)
        _, _, dup_starts = self._judged(toks, prune=True)
        # no localCheckpoint: nothing mutates, so the report's lineage
        # over the store paths stays valid for the caller to consume
        return removal_report(toks, dup_starts, self.k, self.id_col)

    @single_writer
    def add_batch(self, batch: DataFrame) -> DataFrame:
        """Ingest one batch; return its per-doc removal report
        (id, n_tokens, n_removed, kept_hash) — duplicated spans judged
        against the store AND the batch itself. Replayed ids report
        nothing and append nothing; firsts and docs commit under one
        marker, so a redelivered batch after ANY crash is either dropped
        whole (post-commit crash) or re-judged against the pre-batch
        store (pre-commit crash) — never against its own grams."""
        self.recover()  # converge any interrupted prior ingest first
        batch = self._unseen(batch.dropDuplicates([self.id_col]))
        toks, n = self._tokens(batch, "substring_index.add_batch")
        if n == 0:
            # replay / empty delivery: nothing to judge, nothing to
            # stage — the store (and its file census) is untouched
            return self._empty_report(toks)
        batch_first, stored, dup_starts = self._judged(toks, prune=False)

        # localCheckpoint (eager) SEVERS the report's lineage from the
        # store paths before they mutate: a plain persist is not enough
        # — Spark's append refreshes every cached plan that reads the
        # written path, and the invalidated report would lazily
        # recompute against the post-commit ledger, where the batch
        # anti-joins itself away to zero rows (empirically reproduced;
        # neardup_index survives the same hazard only because its
        # recompute is value-identical by construction — this one
        # cannot be)
        report = removal_report(toks, dup_starts, self.k, self.id_col).localCheckpoint()

        new_firsts = (
            batch_first.join(stored, "gram", "left")
            .filter(F.col("__stored").isNull())
            .select(
                "gram",
                F.col(f"first_occ.{self.id_col}").alias(self.id_col),
                F.col("first_occ.s").alias("s"),
            )
        )
        staging = self.staging_path  # recover() left no staging behind
        self._store.stage_bucketed(new_firsts, os.path.join(staging, "firsts"))
        toks.select(self.id_col).write.mode("overwrite").parquet(
            os.path.join(staging, "docs")
        )
        self._journal().commit()
        return report

    def n_grams(self) -> int:
        """Stored first-occurrence rows, PHYSICAL count (pre-compact it
        includes rows owned by tombstoned docs, which the membership
        view already filters)."""
        if not self._has_files(self.firsts_path):
            return 0
        return self.spark.read.parquet(self.firsts_path).count()

    def stats(self) -> dict:
        """The skeleton's snapshot plus the stored-gram count."""
        base = super().stats()
        return {"n_grams": self.n_grams(), **base}
