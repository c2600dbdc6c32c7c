"""Incremental BM25 index (operators/bm25_index.py): store-backed
retrieval must answer IDENTICALLY to the one-shot corpus scan
(query-time stats make the answer batch-schedule-invariant), replays
must be no-ops, the postings lookup must bucket-prune, and the
journaled commit must survive crashes — the retrieval-side mirror of
test_substring_index.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mysql2clickhouse_spark.fs import LocalFS
from mysql2clickhouse_spark.operators.bm25_index import BM25Index

DOCS = [
    (1, "data stream join window merge data data"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "stream stream stream processing window"),
    (4, "merge sort join hash join"),
    (5, None),
    (6, "data"),
    (7, "window window data merge stream join extra words here now"),
]
QUERY = ("data", "merge", "join", "stream", "window")


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _one_shot(spark, rows, k=20):
    """The text_bm25_topk pipeline inlined over an arbitrary frame (the
    registry one-shot is bound to the documents table)."""
    from mysql2clickhouse_spark.functions.text import tokens_col

    d = _mk(spark, rows)
    tok = d.select(
        "doc_id",
        F.explode(tokens_col(F.coalesce(F.col("text"), F.lit("")))).alias("token"),
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        tok.filter(F.col("token").isin(list(QUERY)))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            idf
            * (F.col("tf") * 2.2)
            / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.round(F.sum("term_score"), 4).alias("score"),
        )
    )
    return sorted(
        (r["doc_id"], r["n_terms_hit"], r["score"])
        for r in scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
    )


def _searched(idx, k=20):
    return sorted(
        (r["doc_id"], r["n_terms_hit"], r["score"])
        for r in idx.search(QUERY, k).collect()
    )


def test_indexed_equals_one_shot_and_batch_split_invariant(spark, tmp_path):
    want = _one_shot(spark, DOCS)

    a = BM25Index(spark, str(tmp_path / "a"), n_buckets=8)
    a.add_batch(_mk(spark, DOCS))
    assert _searched(a) == want

    b = BM25Index(spark, str(tmp_path / "b"), n_buckets=8)
    b.add_batch(_mk(spark, DOCS[:3]))
    b.add_batch(_mk(spark, DOCS[3:]))
    assert _searched(b) == want

    # ranks are 1..n with the deterministic tie-break
    rks = sorted(r["rk"] for r in b.search(QUERY, 20).collect())
    assert rks == list(range(1, len(rks) + 1))


def test_replayed_batch_is_a_noop(spark, tmp_path):
    idx = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    assert idx.add_batch(_mk(spark, DOCS)) == len(DOCS)
    n = idx.n_docs()
    assert idx.add_batch(_mk(spark, DOCS[:4])) == 0  # replay
    assert idx.n_docs() == n
    assert _searched(idx) == _one_shot(spark, DOCS)


def test_reopen_adopts_stored_n_buckets(spark, tmp_path):
    """The bucket count is baked into file names: a reopen adopts the
    stored one, before the first ingest as well as after it."""
    p = str(tmp_path / "idx")
    BM25Index(spark, p, n_buckets=8)
    assert BM25Index(spark, p, n_buckets=16).n_buckets == 8
    idx = BM25Index(spark, p, n_buckets=16)
    assert idx.add_batch(_mk(spark, DOCS)) == len(DOCS)
    reopened = BM25Index(spark, p, n_buckets=16)
    assert reopened.n_buckets == 8
    assert _searched(reopened) == _one_shot(spark, DOCS)


def test_search_bucket_prunes_and_never_exchanges_the_store(spark, tmp_path):
    """The 100 TB read path: the postings scan opens only the buckets
    that can hold the query's terms, and the per-term df aggregation
    sits directly on the bucketed scan with no Exchange above it."""
    idx = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    idx.add_batch(_mk(spark, DOCS))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tf = spark.table(idx._store.ensure_table()).filter(
            F.col("token").isin(list(QUERY))
        )
        df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        plan = df_t._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    assert "Bucketed: true" in plan
    # 5 query terms -> at most 5 of the 8 buckets scanned
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of 8", plan)
    assert m and int(m.group(1)) <= len(QUERY)
    # the partial df aggregation rides the scan's bucket partitioning:
    # no exchange between the store scan and the final agg
    assert "Exchange" not in plan


def test_crash_before_commit_marker_replays_cleanly(spark, tmp_path):
    """Pre-commit crash (shared journal): staged postings exist, marker
    absent — the store is untouched and the replay converges to the
    one-shot answer."""

    class _FailMarkerWrite(LocalFS):
        def write_text_atomic(self, path: str, text: str) -> None:
            if path.endswith("_INGEST_COMMIT"):
                raise OSError("injected crash before ingest commit marker")
            super().write_text_atomic(path, text)

    idx = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    idx.fs = _FailMarkerWrite()
    with pytest.raises(OSError, match="injected crash"):
        idx.add_batch(_mk(spark, DOCS))
    assert idx.n_docs() == 0

    idx2 = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    assert idx2.add_batch(_mk(spark, DOCS)) == len(DOCS)
    assert not os.path.isdir(idx2.staging_path)
    assert _searched(idx2) == _one_shot(spark, DOCS)


def test_crash_mid_promotion_rolls_forward(spark, tmp_path):
    """Post-commit crash mid-promotion (postings moved, doclens not):
    the next entry converges, the replay is dropped whole, and the
    answer equals the one-shot."""

    class _FailDoclensPromotion(LocalFS):
        def rename(self, src: str, dst: str) -> None:
            if f"{os.sep}doclens{os.sep}" in dst:
                raise OSError("injected crash before doclens promotion")
            super().rename(src, dst)

    idx = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    idx.fs = _FailDoclensPromotion()
    with pytest.raises(OSError, match="injected crash"):
        idx.add_batch(_mk(spark, DOCS))

    idx2 = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    assert idx2.add_batch(_mk(spark, DOCS)) == 0  # converged, then dropped
    assert _searched(idx2) == _one_shot(spark, DOCS)


def test_search_on_postings_less_store_returns_empty(spark, tmp_path):
    """Self-review finding (reproduced): a first committed batch of
    only empty/null-text docs leaves the ledger populated and the
    postings dir file-less; search must return the empty top-k with
    the right schema, not PATH_NOT_FOUND."""
    idx = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    assert idx.add_batch(_mk(spark, [(1, None), (2, "")])) == 2
    out = idx.search(QUERY, 5)
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_terms_hit", "score", "rk"]
    # and a later real batch scores normally
    idx.add_batch(_mk(spark, DOCS[5:]))
    assert idx.search(QUERY, 5).count() > 0


def test_store_rebuild_at_same_path_does_not_reuse_stale_catalog(spark, tmp_path):
    """Self-review finding (reproduced): the catalog table outlives an
    rmtree of the store; a rebuild at the same path in the same session
    must not silently answer from the old geometry/file listing."""
    import shutil

    p = str(tmp_path / "idx")
    idx = BM25Index(spark, p, n_buckets=4)
    idx.add_batch(_mk(spark, DOCS))
    assert _searched(idx) == _one_shot(spark, DOCS)

    shutil.rmtree(p)
    rebuilt = BM25Index(spark, p, n_buckets=8)  # different geometry too
    rebuilt.add_batch(_mk(spark, DOCS))
    assert _searched(rebuilt) == _one_shot(spark, DOCS)


def test_substring_store_rebuild_at_same_path(spark, tmp_path):
    """Same stale-catalog class on the gram store: after rmtree +
    rebuild, the membership join must see the NEW store's grams."""
    import shutil

    from mysql2clickhouse_spark.functions.text import substring_dedup
    from mysql2clickhouse_spark.operators.substring_index import SubstringIndex

    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, "f g h i j")]
    p = str(tmp_path / "ss")
    idx = SubstringIndex(spark, p, k=4, n_buckets=4)
    idx.add_batch(_mk(spark, rows))
    shutil.rmtree(p)

    rebuilt = SubstringIndex(spark, p, k=4, n_buckets=8)
    r1 = rebuilt.add_batch(_mk(spark, rows[:1]))
    r2 = rebuilt.add_batch(_mk(spark, rows[1:]))
    got = sorted(tuple(r) for r in r1.collect()) + sorted(
        tuple(r) for r in r2.collect()
    )
    want = sorted(tuple(r) for r in substring_dedup(_mk(spark, rows), 4).collect())
    assert sorted(got) == want


def _mk_ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


def test_remove_batch_logical_then_physical(spark, tmp_path):
    """The store's delete lifecycle: tombstoned docs vanish from
    answers (stats recomputed over survivors — as if never ingested),
    re-deletion and unknown ids are no-ops, compact applies the
    deletions physically with identical answers and clears the
    tombstones, and a deleted id can re-ingest afterwards."""
    idx = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    idx.add_batch(_mk(spark, DOCS))
    remaining = [r for r in DOCS if r[0] not in (1, 4)]

    assert idx.remove_batch(_mk_ids(spark, [1, 4, 999])) == 2  # 999 unknown
    assert _searched(idx) == _one_shot(spark, remaining)
    assert idx.remove_batch(_mk_ids(spark, [1, 4])) == 0  # replay no-op

    rep = idx.compact()
    assert rep["postings"]["files_after"] <= 8
    assert not idx._has_files(idx.tombstones_path)
    assert _searched(idx) == _one_shot(spark, remaining)
    # physically gone: the ledger forgot them, so re-ingest works
    assert idx.add_batch(_mk(spark, [DOCS[0]])) == 1
    assert _searched(idx) == _one_shot(spark, remaining + [DOCS[0]])


def test_remove_crash_before_marker_leaves_store_intact(spark, tmp_path):
    """Pre-commit crash during remove_batch: no tombstone lands, the
    store answers as before, and the retried delete converges."""

    class _FailMarkerWrite(LocalFS):
        def write_text_atomic(self, path: str, text: str) -> None:
            if path.endswith("_INGEST_COMMIT"):
                raise OSError("injected crash before tombstone commit")
            super().write_text_atomic(path, text)

    idx = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    idx.add_batch(_mk(spark, DOCS))
    idx.fs = _FailMarkerWrite()
    with pytest.raises(OSError, match="injected crash"):
        idx.remove_batch(_mk_ids(spark, [3]))

    idx2 = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    assert _searched(idx2) == _one_shot(spark, DOCS)  # nothing committed
    assert idx2.remove_batch(_mk_ids(spark, [3])) == 1
    assert _searched(idx2) == _one_shot(
        spark, [r for r in DOCS if r[0] != 3]
    )


def test_compact_crash_cannot_strand_stale_tombstones(spark, tmp_path):
    """Regression (round-9 review class, pinned per store): a crash
    during compact's journal promotion AFTER the doclens swap (ledger
    forgot the deleted doc) but BEFORE the tombstone-clear swap must
    not leave a stale tombstone — recover() at the next entry converges
    the clear, so a re-ingested deleted id is visible, not silently
    hidden-then-deleted."""

    class _FailNthRename(LocalFS):
        def __init__(self, fail_on: int):
            self.calls = 0
            self.fail_on = fail_on

        def rename(self, src, dst):
            self.calls += 1
            if self.calls == self.fail_on:
                raise OSError(f"injected rename failure #{self.calls}: {src}")
            super().rename(src, dst)

    idx = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    idx.add_batch(_mk(spark, DOCS))
    assert idx.remove_batch(_mk_ids(spark, [1])) == 1
    # replace promotion order is (postings, doclens, tombstones): fail
    # the THIRD rename — stores swapped, cleared set still staged
    idx.fs = _FailNthRename(fail_on=3)
    with pytest.raises(OSError, match="injected"):
        idx.compact()
    assert os.path.isdir(os.path.join(idx.staging_path, "tombstones"))

    idx2 = BM25Index(spark, str(tmp_path / "idx"), n_buckets=8)
    assert idx2.add_batch(_mk(spark, [DOCS[0]])) == 1  # recover() first
    assert idx2.stats()["n_tombstoned"] == 0
    assert _searched(idx2) == _one_shot(spark, DOCS)
