"""Incremental SimHash near-dup index — the SimHash member of the
dedup-family × maintained-store matrix.

``simhash_near_dups`` re-tokenizes and re-votes the whole corpus every
invocation — right for a one-shot audit, O(corpus) work per O(batch)
new data for an ingest pipeline. This index maintains the tables the
incremental pigeonhole pass needs on the shared banded skeleton
(``operators/banded_index.py``: layout, ingest/probe/delete lifecycle
and their contracts). What is SimHash-specific:

- ``sigs/`` holds (doc_id, simhash): the 64-bit fingerprint as the hex
  string ``with_simhash`` emits — null for empty/whitespace-only docs,
  the one-shot's no-collapse policy, so such docs get no block rows;
- ``blocks/`` holds (b_idx, b_val, doc_id): the pigeonhole blocks
  (Manku/Jain/Sarma WWW'07 — 4 × 16-bit blocks by default; hamming ≤ 3
  ⇒ at least one identical block);
- verify keeps pairs whose EXACT hamming distance is ≤ ``max_hamming``.
  Pigeonhole banding is an exact candidate net for hamming ≤
  n_blocks − 1, so incremental-equals-one-shot is guaranteed recall on
  both sides, not just same-function equality.

``dedup_simhash_incremental`` and ``dedup_simhash_index_deletes``
(plans/extensions.py) certify the equality and the delete lifecycle as
oracle rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.minhash import DEFAULT_MAX_BUCKET, with_simhash
from .banded_index import BandedIndex


def _blocks_col(sim_col: str, n_blocks: int):
    """The pigeonhole block array (bigint per block) from the hex
    fingerprint — same arithmetic as ``simhash_near_dups``."""
    hex_per_block = 16 // n_blocks
    return F.array(
        *[
            F.conv(
                F.substring(sim_col, 1 + hex_per_block * i, hex_per_block), 16, 10
            ).cast("bigint")
            for i in range(n_blocks)
        ]
    )


def _hamming_col(blk_a, blk_b, n_blocks: int):
    """Exact hamming distance between two block arrays — JVM-side
    zip_with + bit_count, identical to the one-shot's verify."""
    return F.aggregate(
        F.zip_with(blk_a, blk_b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")


class SimHashIndex(BandedIndex):
    """A persisted pigeonhole-banded SimHash index over an append-only
    document store."""

    KEY_SUB = "blocks"
    KEY_COLS = ("b_idx", "b_val")
    PROBE_COL = "b_val"
    TABLE_PREFIXES = ("m2c_shsig_", "m2c_shblk_")
    TAG = "simhash_index"
    IDENTITY = ("n_blocks",)
    CENSUS_KEY = "block_files"
    SIG_COLS = ("simhash",)
    SCORE, SCORE_ZERO = "hamming", 0

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_blocks: int = 4,
        max_hamming: int = 3,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 32,
        max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    ):
        if n_blocks not in (2, 4, 8, 16):
            # hex_per_block = 16 // n_blocks must cover the WHOLE
            # 16-hex-char fingerprint: a non-divisor silently drops the
            # trailing bits from both the pigeonhole blocks and the
            # hamming verify (false pairs), and n_blocks=1 overflows
            # conv()'s bigint to NULL (missed exact duplicates)
            raise ValueError(
                f"n_blocks must be one of 2/4/8/16 (got {n_blocks}): the"
                " blocks must tile the 64-bit fingerprint exactly"
            )
        if max_hamming > n_blocks - 1:
            raise ValueError(
                "pigeonhole banding is exact only for max_hamming <= "
                f"n_blocks - 1 (got {max_hamming} > {n_blocks - 1})"
            )
        self.n_blocks = n_blocks
        # query-time knob, NOT store identity (like MinHash threshold)
        self.max_hamming = max_hamming
        super().__init__(spark, path, id_col, text_col, n_buckets, max_bucket_size)

    blocks_path = BandedIndex.keys_path

    # --- family hooks ------------------------------------------------------

    def _fingerprints(self, batch: DataFrame) -> DataFrame:
        """(doc_id, simhash) for the new batch — one text scan, the
        codegen'd packed-lane vote aggregate."""
        return with_simhash(batch, self.text_col, id_col=self.id_col).select(
            self.id_col, "simhash"
        )

    def _block_rows(self, sigs: DataFrame) -> DataFrame:
        return sigs.filter(F.col("simhash").isNotNull()).select(
            self.id_col,
            F.posexplode(_blocks_col("simhash", self.n_blocks)).alias(
                "b_idx", "b_val"
            ),
        ).select("b_idx", "b_val", self.id_col)

    def _block_array(self):
        return (("blk", _blocks_col("simhash", self.n_blocks)),)

    def _hamming_verified(self, resolved: DataFrame) -> DataFrame:
        return (
            resolved.withColumn(
                "hamming",
                _hamming_col(F.col("blk_a"), F.col("blk_b"), self.n_blocks),
            )
            .filter(F.col("hamming") <= self.max_hamming)
            .select("id_a", "id_b", "hamming")
        )

    _sign, _key_rows = _fingerprints, _block_rows
    _side_cols, _score = _block_array, _hamming_verified
