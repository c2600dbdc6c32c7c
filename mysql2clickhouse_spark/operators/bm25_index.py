"""Incremental BM25 search index — lexical retrieval as a MAINTAINED
inverted index, not a per-query corpus scan.

``plans.quality.text_bm25_topk`` re-tokenizes the whole corpus every
query — right for a one-shot ranking audit, O(corpus) work per query
for the retrieval jobs an LLM-data pipeline actually runs (decontam
probes, boilerplate hunting, eval-set leakage search: many queries,
slowly-growing corpus). This operator persists the two tables BM25
needs on the ``MaintainedStore`` skeleton (``operators/maintained.py``:
ledger, one-marker commit, tombstones, compaction):

- ``postings/`` — (token, doc_id, tf): the inverted index, written
  BUCKETED on ``token`` (a Spark bucketed catalog table over this
  location), so a query's term lookup is BUCKET-PRUNED — the scan
  opens only the |query-terms| buckets that can hold those tokens
  (``SelectedBucketsCount`` plan-pinned) and the per-term df
  aggregation inherits the store's partitioning with NO exchange above
  the store scan;
- ``doclens/`` — (doc_id, dl): per-doc token counts (dl=0 rows kept —
  the table doubles as the ingest ledger).

BM25's global statistics (N, avgdl, per-term df) are computed AT QUERY
TIME from the store, never frozen at ingest — so after any sequence of
``add_batch`` calls, ``search`` answers IDENTICALLY to the one-shot
``text_bm25_topk`` over the same corpus (scores depend only on store
CONTENTS, which are batch-schedule-invariant). That equivalence is the
certification: the ``text_bm25_indexed`` registry row shares the
one-shot's DuckDB oracle verbatim, and ``tests/test_bm25_index.py``
pins batch-split invariance, replay no-ops, and crash convergence.

Scale: ingest is O(batch) — tokenize the batch once, two staged
writes, commit. A query reads |terms| buckets of postings plus the
doclens table (ids + one int per doc; bucket doclens on doc_id too if
the postings⋈doclens join ever dominates — at 100 TB the postings
side of that join is query-term-bounded, so doclens is the larger
side and ships once). Ranking math, tie-breaks, and the windowless
top-k rank are the one-shot's, kept identical so the two paths cannot
drift numerically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_col
from ..session import release_cache, rotate_cache
from .maintained import MaintainedStore
from .store_common import single_writer


class BM25Index(MaintainedStore):
    """A persisted bucketed inverted index with query-time BM25
    scoring."""

    TABLES = (("postings", "token", "m2c_bm25_"),)
    LEDGER = "doclens"
    STAGING = "__ingest_staging"
    CENSUS_KEY = "postings_files"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k1: float = 1.2,
        b: float = 0.75,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 32,
    ):
        self.k1, self.b = k1, b
        self.text_col = text_col
        super().__init__(spark, path, id_col, n_buckets)
        self._store = self._tables["postings"]

    @property
    def postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    doclens_path = MaintainedStore.ledger_path

    @single_writer
    def add_batch(self, batch: DataFrame) -> int:
        """Index one batch; returns the number of documents indexed
        (replayed ids excluded). Idempotent under at-least-once
        redelivery; the postings/doclens appends commit under one
        journal marker."""
        self.recover()
        batch = self._unseen(batch.dropDuplicates([self.id_col]))
        toks = batch.select(
            self.id_col,
            tokens_col(F.coalesce(F.col(self.text_col), F.lit(""))).alias("toks"),
        ).localCheckpoint()  # sever from the ledger before it mutates
        n_docs = toks.count()
        if n_docs == 0:
            return 0
        dl = toks.select(
            self.id_col, F.size("toks").cast("bigint").alias("dl")
        )
        tf = (
            toks.select(self.id_col, F.explode("toks").alias("token"))
            .groupBy("token", self.id_col)
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        staging = self.staging_path  # recover() left no staging behind
        self._store.stage_bucketed(tf, os.path.join(staging, "postings"))
        dl.write.mode("overwrite").parquet(os.path.join(staging, "doclens"))
        self._journal().commit()
        return n_docs

    def search(self, terms, k: int = 20) -> DataFrame:
        """BM25 top-k for ``terms`` against the store: bucket-pruned
        postings lookup, query-time df/N/avgdl, the one-shot's exact
        formula, rounding, tie-breaks (rounded score desc, id asc) and
        windowless broadcast-self-join rank. Output:
        (doc_id, n_terms_hit, score, rk) — schema-identical to
        ``text_bm25_topk``.

        The result is LAZY over the live store paths: a caller that
        mutates the store afterwards (add/remove/compact) must
        materialize it first (collect / localCheckpoint) — compaction
        deletes the files the plan references (the standard
        maintained-store lineage rule; the delete-lifecycle oracle row
        pins the checkpointed pattern)."""
        self.recover()
        terms = list(terms)
        if not self._has_files(self.doclens_path):
            raise ValueError(
                f"BM25 store at {self.path} has no committed ingest — "
                "call add_batch before search"
            )
        dl_all = self.spark.read.parquet(self.doclens_path)
        tombs = self._tombstones()
        if tombs is not None:
            # logical deletion: survivors only — N/avgdl/df all
            # recompute downstream of this filter, so the answer equals
            # a store that never ingested the tombstoned docs
            dl_all = dl_all.join(tombs, self.id_col, "left_anti")
        # one-shot stats semantics: only docs with >= 1 token count
        # toward N and avgdl (its dl table comes from exploded tokens)
        dl = dl_all.filter(F.col("dl") > 0)
        if not self._has_files(self.postings_path):
            # a legitimate committed state: every ingested doc so far
            # was empty/null text — the ledger exists, the postings dir
            # holds no files. One-shot semantics: no tf rows, empty
            # top-k (self-review finding: reading the table here raised
            # PATH_NOT_FOUND instead)
            id_type = dl_all.schema[self.id_col].dataType.simpleString()
            return self.spark.createDataFrame(
                [],
                f"{self.id_col} {id_type}, n_terms_hit bigint,"
                " score double, rk int",
            )
        stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        tf = self._store.read().filter(F.col("token").isin(terms))
        if tombs is not None:
            # term-bounded side anti-joins the (minority) tombstones,
            # so per-term df counts only the survivors
            tf = tf.join(tombs, self.id_col, "left_anti")
        df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        scored = (
            tf.join(F.broadcast(df_t), "token")
            .join(dl, self.id_col)
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "term_score",
                idf
                * (F.col("tf") * (self.k1 + 1))
                / (
                    F.col("tf")
                    + self.k1
                    * (1 - self.b + self.b * F.col("dl") / F.col("avgdl"))
                ),
            )
            .groupBy(self.id_col)
            .agg(
                F.count(F.lit(1)).alias("n_terms_hit"),
                F.round(F.sum("term_score"), 4).alias("score"),
            )
        )
        release_cache("bm25_index.search")
        top = (
            scored.orderBy(F.col("score").desc(), F.col(self.id_col).asc())
            .limit(k)
            .persist()
        )
        rotate_cache("bm25_index.search", top)
        before = (F.col("b.score") > F.col("a.score")) | (
            (F.col("b.score") == F.col("a.score"))
            & (F.col(f"b.{self.id_col}") < F.col(f"a.{self.id_col}"))
        )
        return (
            top.alias("a")
            .join(F.broadcast(top.alias("b")), before, "left")
            .groupBy(
                F.col(f"a.{self.id_col}").alias(self.id_col),
                F.col("a.n_terms_hit").alias("n_terms_hit"),
                F.col("a.score").alias("score"),
            )
            .agg((F.count(F.col(f"b.{self.id_col}")) + 1).cast("int").alias("rk"))
        )
