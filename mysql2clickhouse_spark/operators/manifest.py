"""Maintained corpus-statistics MANIFEST — the seventh maintained
store: the running answer to "what is in this corpus?" kept current in
O(batch) per ingest and O(partials) to read, so corpus-level numbers
(doc/token/char totals, distinct-doc cardinality, language mix,
sequence-length distribution) never require rescanning the corpus.
This is the 100 TB shape for pipeline observability: every statistic
is either an exact SUM (associative) or a MERGEABLE sketch
(DataSketches HLL via the native ``hll_sketch_agg``/``hll_union_agg``),
so per-batch partial rows fold into corpus totals by pure aggregation
— the same partial-aggregate algebra Spark's own map-side combine
uses, persisted.

Reference basis: the reference keeps running per-run statistics in its
config-state table rather than recomputing from the target DB
(_settings.py:230-287, ``statistic_*`` fields); this extends that
discipline to the corpus-statistics surface the sketch family
(``sketch_suite``) computes one-shot.

Layout under ``path`` (the engine's journal standard —
``operators/journal.py`` one-marker commits; no buckets: the store is
O(batches) rows, not O(corpus)):

- ``parts/`` — one mergeable partial row per folded batch:
  ``(n_docs, n_tokens, n_chars, hll binary, lang_en/de/es/unk,
  tok_hist array<bigint>[16])``;
- ``seen/``  — the slim replay ledger: ``(fp, n_docs)`` per batch,
  where ``fp = bit_xor(xxhash64(doc_id, text))`` — a deterministic
  content fingerprint (ids alone would skip a redelivered batch whose
  texts changed), so at-least-once redelivery of the SAME batch
  short-circuits without caller cooperation (64-bit fingerprint:
  collisions are vanishing, and callers that need exactness can pass
  an explicit ``batch_id`` which takes precedence).

``compact()`` merges all partials into ONE row (replace-mode commit;
the ledger is kept whole, rewritten to one file) — O(store) like the
sibling stores' tombstone application, but this store is O(batches)
TINY by construction, so the whole-store unit is the right one and
there is deliberately no per-bucket path.

Why this store is not a ``MaintainedStore`` (``operators/maintained.py``):
its one table is neither bucketed nor partitioned, its ledger keys
BATCHES by content fingerprint rather than docs, it has no tombstones,
and its ``compact`` merges partial rows into one — an aggregation, not
the skeleton's rows-minus-tombstones rewrite. Joining would take a
third table layout plus overrides of ``add_batch``, ``compact`` and
``stats``: everything it has now, behind a base it would not use. The
runner's upkeep therefore defrags it through ``compact``.

Statistics carried (every one associative-mergeable):

- ``n_docs`` / ``n_tokens`` / ``n_chars`` — exact sums; token
  definition is the engine's shared ``token_count_col``
  (functions/text.py) so the manifest agrees with ``text_stats``;
- ``hll`` — DataSketches HLL(lgK=14) over ``doc_id``; union-merged at
  read time; estimates distinct docs ever folded (ingest dedups
  nothing — the manifest observes the stream, stores dedup it);
- ``lang_*`` — doc counts per ``langid_col`` class (the closed
  {en,de,es,unk} set, so fixed columns instead of a map);
- ``tok_hist`` — 16 log2 bins of per-doc token count (bin =
  ``min(15, floor(log2(n_tokens + 1)))``): the sequence-length
  distribution that sizes packing/sharding decisions.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import fs_for
from ..functions.text import langid_col, token_count_col
from .journal import StagedCommit
from .store_common import data_files, has_files, single_writer

_META = "_STORE_META"

#: HLL precision — matches ``events_hll_distinct``'s lgK=14
#: (~0.8% standard error)
_LG_K = 14

#: log2 token-count histogram bins (last bin is open-ended)
N_HIST_BINS = 16

_LANGS = ("en", "de", "es", "unk")


def _partial_row(docs: DataFrame) -> DataFrame:
    """ONE aggregation pass over the batch -> one mergeable partial
    row + the batch fingerprint columns. Everything is JVM-side
    codegen (no UDFs) and map-side combinable."""
    toks = token_count_col(F.col("text"))
    lang = langid_col(F.col("text"))
    # null-text docs count as 0-token docs so the histogram tiles
    # n_docs exactly (NB: Spark's least() SKIPS nulls — without the
    # coalesce a null token count would land in the top bin)
    bin_ = F.least(
        F.lit(N_HIST_BINS - 1),
        F.floor(
            F.log2(F.coalesce(toks, F.lit(0)).cast("double") + F.lit(1.0))
        ),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(toks), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(F.sum(F.length("text")), F.lit(0))
        .cast("bigint")
        .alias("n_chars"),
        F.hll_sketch_agg("doc_id", F.lit(_LG_K)).alias("hll"),
        *[
            F.sum(F.when(lang == lg, 1).otherwise(0))
            .cast("bigint")
            .alias(f"lang_{lg}")
            for lg in _LANGS
        ],
        F.array(
            *[
                F.sum(F.when(bin_ == i, 1).otherwise(0)).cast("bigint")
                for i in range(N_HIST_BINS)
            ]
        ).alias("tok_hist"),
        # fingerprint over (doc_id, text), not doc_id alone: a
        # redelivered batch with the SAME ids but changed texts (a
        # re-crawl update) is a DIFFERENT batch and must fold
        F.bit_xor(F.xxhash64("doc_id", "text")).alias("fp"),
    ]
    return docs.agg(*aggs)


class CorpusManifest:
    """A persisted, incrementally-maintained corpus-statistics
    manifest over a stream of document batches."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.fs = fs_for(spark, path)
        meta_path = os.path.join(path, _META)
        if not self.fs.exists(meta_path):
            self.fs.makedirs(path)
            self.fs.write_text_atomic(
                meta_path, json.dumps({"lg_k": _LG_K, "bins": N_HIST_BINS})
            )

    @property
    def parts_path(self) -> str:
        return os.path.join(self.path, "parts")

    @property
    def seen_path(self) -> str:
        return os.path.join(self.path, "seen")

    @property
    def staging_path(self) -> str:
        return os.path.join(self.path, "__maint_staging")

    def _journal(self) -> StagedCommit:
        return StagedCommit(
            self.spark,
            self.fs,
            self.staging_path,
            (("parts", self.parts_path), ("seen", self.seen_path)),
        )

    def recover(self) -> int:
        return self._journal().recover()

    # --- fold one document batch -------------------------------------------

    @single_writer
    def add_batch(
        self, docs: DataFrame, batch_id: int | None = None
    ) -> dict:
        """Fold one ``(doc_id, text)`` batch's statistics into the
        manifest: one aggregation job over the batch, one journaled
        two-row append (partial + ledger row). The corpus is never
        read. Returns a report dict; ``replayed=True`` means the batch
        fingerprint (or explicit ``batch_id``) was already folded and
        the store was not touched."""
        self.recover()
        part = _partial_row(
            docs.select("doc_id", "text")
        ).localCheckpoint(eager=True)
        row = part.first()
        if row["n_docs"] == 0:
            return {"n_docs": 0, "replayed": False}
        fp = int(batch_id) if batch_id is not None else int(row["fp"])
        if has_files(self.fs, self.seen_path):
            hit = (
                self.spark.read.parquet(self.seen_path)
                .filter(
                    (F.col("fp") == fp) & (F.col("n_docs") == row["n_docs"])
                )
                .limit(1)
                .count()
            )
            if hit:
                return {
                    "n_docs": int(row["n_docs"]),
                    "replayed": True,
                }
        staging = self.staging_path
        part.drop("fp").coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "parts")
        )
        self.spark.createDataFrame(
            [(fp, int(row["n_docs"]))], "fp bigint, n_docs bigint"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "seen")
        )
        self._journal().commit()
        return {
            "n_docs": int(row["n_docs"]),
            "n_tokens": int(row["n_tokens"]),
            "replayed": False,
        }

    # --- read surface -------------------------------------------------------

    def snapshot(self) -> DataFrame:
        """The CURRENT corpus statistics as ONE row — pure aggregation
        over the O(batches) partials table: exact sums, union-merged
        HLL estimate, element-wise histogram merge. Read-only (after
        converging any interrupted commit)."""
        self.recover()
        if not has_files(self.fs, self.parts_path):
            return self.spark.createDataFrame(
                [],
                "n_batches bigint, n_docs bigint, n_tokens bigint,"
                " n_chars bigint, distinct_docs_est bigint,"
                + "".join(f" lang_{lg} bigint," for lg in _LANGS)
                + " tok_hist array<bigint>",
            )
        n_batches = (
            self.spark.read.parquet(self.seen_path).count()
            if has_files(self.fs, self.seen_path)
            else 0
        )
        parts = self.spark.read.parquet(self.parts_path)
        return parts.agg(
            F.lit(n_batches).cast("bigint").alias("n_batches"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.round(F.hll_sketch_estimate(F.hll_union_agg("hll")))
            .cast("bigint")
            .alias("distinct_docs_est"),
            *[
                F.sum(f"lang_{lg}").cast("bigint").alias(f"lang_{lg}")
                for lg in _LANGS
            ],
            F.array(
                *[
                    F.sum(F.element_at("tok_hist", i + 1)).cast("bigint")
                    for i in range(N_HIST_BINS)
                ]
            ).alias("tok_hist"),
        )

    # --- maintenance --------------------------------------------------------

    @single_writer
    def compact(self) -> dict:
        """Merge all partial rows into ONE (replace-mode commit) and
        rewrite the ledger to one file — later folds keep appending
        fresh partials on top of the merged base. Whole-store by
        design: the store is O(batches) small."""
        self.recover()
        if not has_files(self.fs, self.parts_path):
            return {}
        files_before = sum(1 for _ in data_files(self.fs, self.parts_path))
        parts = self.spark.read.parquet(self.parts_path)
        merged = parts.agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.hll_union_agg("hll").alias("hll"),
            *[
                F.sum(f"lang_{lg}").cast("bigint").alias(f"lang_{lg}")
                for lg in _LANGS
            ],
            F.array(
                *[
                    F.sum(F.element_at("tok_hist", i + 1)).cast("bigint")
                    for i in range(N_HIST_BINS)
                ]
            ).alias("tok_hist"),
        ).localCheckpoint(eager=True)
        staging = self.staging_path
        merged.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "parts")
        )
        seen = self.spark.read.parquet(self.seen_path).localCheckpoint(
            eager=True
        )
        seen.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "seen")
        )
        self._journal().commit(replace=True)
        return {
            "files_before": files_before,
            "files_after": sum(
                1 for _ in data_files(self.fs, self.parts_path)
            ),
        }

    def stats(self) -> dict:
        """Operational snapshot; converges interrupted commits first."""
        self.recover()
        snap = self.snapshot().collect()
        row = snap[0].asDict() if snap else {}
        return {
            "n_batches": int(row.get("n_batches") or 0),
            "n_docs": int(row.get("n_docs") or 0),
            "distinct_docs_est": int(row.get("distinct_docs_est") or 0),
            "part_files": sum(1 for _ in data_files(self.fs, self.parts_path)),
        }
