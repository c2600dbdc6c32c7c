"""Incremental MinHash+LSH near-dup index — dedup as a MAINTAINED
store, not a per-run recompute.

``verified_near_dups`` re-shingles and re-signs the whole corpus every
invocation. That is the right shape for a one-shot audit, but a 100 TB
ingest pipeline adds a bounded batch per run (exactly like the CDC
runner's micro-batches) — re-hashing an ever-growing corpus per batch
is O(corpus) work for O(batch) new data, the same scale-killer the
runner's mutate path avoids by partition-scoped folds.

The store layout, the ingest/probe/delete lifecycle and their contracts
are the shared banded skeleton (``operators/banded_index.py``). What is
MinHash-specific:

- ``sigs/`` holds (doc_id, hset, minhash): the integer shingle set and
  the signature, so text is never re-read after ingest; empty-text docs
  keep their hset row but have no signature and no band rows;
- ``bands/`` holds (band_idx, band_hash, doc_id): ``bands`` slices of
  ``rows`` signature values each, hashed per band;
- verify keeps pairs whose signature estimate clears
  ``threshold - estimate_margin`` and whose exact shingle Jaccard
  (rounded to 4 places) clears ``threshold`` — the one-shot's arithmetic;
- stores written before the bucketed layout (plain parquet sigs, bands
  ``partitionBy(band_idx)``, no ids ledger, no meta) migrate once, as a
  journaled replace rewrite at the first entry, and per-store swaps left
  by the older compaction protocol converge in ``recover``.

``dedup_incremental`` and ``dedup_minhash_index_deletes``
(plans/extensions.py) certify the incremental equality and the delete
lifecycle as oracle rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.minhash import (
    DEFAULT_BANDS,
    DEFAULT_ESTIMATE_MARGIN,
    DEFAULT_MAX_BUCKET,
    DEFAULT_NUM_PERM,
    DEFAULT_ROWS,
    DEFAULT_THRESHOLD,
    estimated_jaccard_col,
    jaccard_col,
    minhash_signatures_arrow,
    with_hset,
)
from .banded_index import BandedIndex

#: legacy per-store swap marker — kept so ``recover`` converges stores
#: crashed under the pre-journal compaction protocol
_SWAP_MARKER = "_SWAP_COMMIT"


class MinHashIndex(BandedIndex):
    """A persisted MinHash+LSH index over an append-only document store."""

    KEY_SUB = "bands"
    KEY_COLS = ("band_idx", "band_hash")
    PROBE_COL = "band_hash"
    TABLE_PREFIXES = ("m2c_ndsig_", "m2c_ndband_")
    TAG = "neardup_index"
    IDENTITY = ("num_perm", "bands", "rows", "seed", "k")
    CENSUS_KEY = "band_files"
    SIG_COLS = ("hset", "minhash")
    SCORE, SCORE_ZERO = "jaccard", 0.0
    #: set at construction when a meta-less pre-bucketed store awaits
    #: its one-time migration
    _legacy_pending = False

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_perm: int = DEFAULT_NUM_PERM,
        bands: int = DEFAULT_BANDS,
        rows: int = DEFAULT_ROWS,
        seed: int = 42,
        threshold: float = DEFAULT_THRESHOLD,
        estimate_margin: float = DEFAULT_ESTIMATE_MARGIN,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 5,
        n_buckets: int = 32,
        max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    ):
        self.num_perm, self.bands, self.rows = num_perm, bands, rows
        self.seed, self.k = seed, k
        self.threshold, self.estimate_margin = threshold, estimate_margin
        super().__init__(spark, path, id_col, text_col, n_buckets, max_bucket_size)

    bands_path = BandedIndex.keys_path

    # --- family hooks ------------------------------------------------------

    def _batch_tables(self, batch: DataFrame) -> DataFrame:
        """(doc_id, hset, minhash) for the new batch — ONE text scan."""
        hashed = with_hset(batch, self.text_col, self.k).select(self.id_col, "hset")
        # arrow signer: zero-shuffle per-batch signing, values
        # bit-identical to the aggregate form (stored sigs stay
        # compatible across engine versions)
        sigs = minhash_signatures_arrow(hashed, self.id_col, self.num_perm, self.seed)
        # empty-hset docs have no signature rows (policy: they must not
        # reach the bands) but their hset row is still stored for verify
        return hashed.join(sigs, self.id_col, "left")

    def _band_rows(self, sigs: DataFrame) -> DataFrame:
        sigs = sigs.filter(F.col("minhash").isNotNull()).select(self.id_col, "minhash")
        return sigs.select(
            self.id_col,
            F.posexplode(
                F.array(
                    *[
                        F.slice("minhash", i * self.rows + 1, self.rows)
                        for i in range(self.bands)
                    ]
                )
            ).alias("band_idx", "band"),
        ).select("band_idx", F.hash("band").alias("band_hash"), self.id_col)

    def _sig_and_hset(self):
        return (("sig", F.col("minhash")), ("h", F.col("hset")))

    def _jaccard_verified(self, resolved: DataFrame) -> DataFrame:
        """Signature estimate-filter, then exact shingle Jaccard."""
        return (
            resolved.withColumn(
                "est",
                estimated_jaccard_col(F.col("sig_a"), F.col("sig_b"), self.num_perm),
            )
            .filter(F.col("est") >= self.threshold - self.estimate_margin)
            .withColumn("jaccard", F.round(jaccard_col(F.col("h_a"), F.col("h_b")), 4))
            .filter(F.col("jaccard") >= self.threshold)
            .select("id_a", "id_b", "jaccard")
        )

    _sign, _key_rows = _batch_tables, _band_rows
    _side_cols, _score = _sig_and_hset, _jaccard_verified

    # --- legacy layouts ------------------------------------------------------

    def _legacy_layout(self) -> bool:
        # a sigs dir with no meta is a pre-bucketed store: migrated ONCE
        # at the next entry, and no live catalog table can belong to it
        self._legacy_pending = self.fs.is_dir(self.sigs_path)
        return self._legacy_pending

    def _staging(self, store: str) -> str:
        """Legacy per-store swap staging path."""
        return store + "__compactidx"

    def recover(self) -> int:
        """The journal's convergence, plus any legacy per-store swap and
        the one-time migration of a pre-bucketed layout. Returns the
        number of true roll-forwards."""
        rolled = super().recover()
        for store in (self.sigs_path, self.bands_path, self.tombstones_path):
            staging = self._staging(store)
            marker = os.path.join(staging, _SWAP_MARKER)
            if self.fs.exists(marker):
                try:
                    json.loads(self.fs.read_text(marker))
                except ValueError:
                    self.fs.rmtree(marker)  # torn ⇒ pre-commit debris
                else:
                    if self.fs.exists(store):
                        self.fs.rmtree(store)
                    self.fs.rename(staging, store)
                    rolled += 1
            stale = os.path.join(store, _SWAP_MARKER)
            if self.fs.exists(stale):
                self.fs.rmtree(stale)
        if self._legacy_pending:
            rolled += self._migrate_legacy()
        return rolled

    def _migrate_legacy(self) -> int:
        """One-time journaled rewrite of a pre-bucketed store into the
        bucketed layout. Replace-mode commit: a crash at any point either
        leaves the old layout intact (pre-marker — the migration re-runs
        whole) or rolls forward at the next entry; a crash between the
        commit and the meta write re-runs the migration over the
        already-bucketed files, which re-stages the same rows — wasteful
        once, never wrong. Tombstones carry over untouched."""
        staging = self.staging_path
        sigs = self.spark.read.parquet(self.sigs_path)
        self._sigs.stage_bucketed(sigs, os.path.join(staging, "sigs"))
        bands = self.spark.read.parquet(self.bands_path).select(
            F.col("band_idx").cast("int").alias("band_idx"),
            "band_hash",
            self.id_col,
        )
        self._keys.stage_bucketed(bands, os.path.join(staging, "bands"))
        sigs.select(self.id_col).write.mode("overwrite").parquet(
            os.path.join(staging, "ids")
        )
        self._journal().commit(replace=True)
        self._write_meta()
        self._legacy_pending = False
        return 1
