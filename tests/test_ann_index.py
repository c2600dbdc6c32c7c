"""Persistent incremental IVF index (operators/ann_index.py):
frozen-quantizer equivalence, append-only accumulation, journaled
compaction with crash roll-forward — the ANN-side mirror of
test_neardup_index.py."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mysql2clickhouse_spark.operators.ann_index import _SWAP_MARKER, IVFIndex

DIM = 8


def _emb(spark, n=60, seed=3):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


@pytest.fixture()
def corpus(spark):
    return _emb(spark)


def test_incremental_build_equals_oneshot(spark, corpus, tmp_path):
    """N add_batch calls against the frozen quantizer answer
    identically to ingesting everything at build time."""
    q = _emb(spark, n=4, seed=9)

    inc = IVFIndex(spark, str(tmp_path / "inc"), dim=DIM, n_list=4)
    inc.build(corpus.filter(F.pmod("vec_id", F.lit(3)) == 0))
    for m in (1, 2):
        inc.add_batch(corpus.filter(F.pmod("vec_id", F.lit(3)) == m))

    # one-shot with the SAME centroids: copy them, ingest all at once
    one = IVFIndex(spark, str(tmp_path / "one"), dim=DIM, n_list=4)
    os.makedirs(str(tmp_path / "one"))
    spark.read.parquet(inc.centroids_path).coalesce(1).write.parquet(
        one.centroids_path
    )
    one.add_batch(corpus)

    a = inc.search(q, k=3, nprobe=2)
    b = one.search(q, k=3, nprobe=2)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.count() == 4 * 3


def test_crashed_build_leaves_retryable_store(spark, corpus, tmp_path, monkeypatch):
    """The manifest is written BEFORE the centroids: a crash between
    the two leaves manifest-without-centroids, which reads as
    exists()==False and retries cleanly.  (The reverse order left
    centroids-without-manifest — an exists()==True store whose reopen
    demanded geometry the caller can't know.)"""
    import mysql2clickhouse_spark.operators.ann_index as mod

    path = str(tmp_path / "crash")
    idx = IVFIndex(spark, path, dim=DIM, n_list=4)

    def boom(*a, **k):
        raise RuntimeError("simulated crash during quantizer training")

    monkeypatch.setattr(mod, "train_ivf_centroids", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.build(corpus)
    # manifest landed, centroids did not -> store is NOT half-alive
    assert os.path.exists(idx.manifest_path)
    assert not idx.exists()
    # reopen with no geometry args adopts the manifest...
    monkeypatch.undo()
    retry = IVFIndex(spark, path)
    assert (retry.dim, retry.n_list) == (DIM, 4)
    # ...but the crashed-build manifest is PROVISIONAL, not
    # authoritative: a retry may pick different geometry without a
    # mismatch error (build() rewrites the manifest)
    regeo = IVFIndex(spark, path, dim=DIM, n_list=8)
    assert regeo.n_list == 8
    retry.build(corpus)
    assert retry.exists()
    assert retry.search(_emb(spark, n=2, seed=9), k=3, nprobe=2).count() == 2 * 3
    # once the store EXISTS the manifest is authoritative again
    with pytest.raises(ValueError, match="reopen with matching args"):
        IVFIndex(spark, path, dim=DIM, n_list=8)


def test_build_over_existing_index_refuses(spark, corpus, tmp_path):
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus)
    with pytest.raises(ValueError, match="already exists"):
        idx.build(corpus)


def test_compact_reduces_files_and_preserves_answers(spark, corpus, tmp_path):
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus.filter("vec_id < 20"))
    for lo, hi in ((20, 40), (40, 60)):
        idx.add_batch(corpus.filter(f"vec_id >= {lo} and vec_id < {hi}"))
    q = _emb(spark, n=3, seed=11)
    before = idx.search(q, k=3, nprobe=2).collect()
    report = idx.compact(rows_per_file=1000)
    assert report["files_after"] <= report["files_before"]
    assert report["rows"] == 60
    after = idx.search(q, k=3, nprobe=2).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_interrupted_compact_rolls_forward_at_next_entry(spark, corpus, tmp_path):
    """Crash AFTER the staging commit marker but BEFORE the swap: the
    next add_batch entry must roll the compaction forward, losing
    nothing."""
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus.filter("vec_id < 40"))
    n_before = spark.read.parquet(idx.lists_path).count()

    # stage a full compacted copy + commit marker, as if we crashed
    # between marker write and the rmtree/rename
    staging = idx._staging()
    spark.read.parquet(idx.lists_path).write.partitionBy("list_id").parquet(staging)
    idx.fs.write_text_atomic(os.path.join(staging, _SWAP_MARKER), '{"whole": true}')

    added = idx.add_batch(corpus.filter("vec_id >= 40"))  # entry triggers recover
    assert added == 20
    assert not os.path.exists(staging)
    assert not os.path.exists(os.path.join(idx.lists_path, _SWAP_MARKER))
    assert spark.read.parquet(idx.lists_path).count() == n_before + 20


def test_torn_marker_treated_as_debris(spark, corpus, tmp_path):
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus)
    staging = idx._staging()
    os.makedirs(staging)
    with open(os.path.join(staging, _SWAP_MARKER), "w") as f:
        f.write('{"whole"')  # torn json => pre-commit debris
    assert idx.recover() == 0
    assert not os.path.exists(os.path.join(staging, _SWAP_MARKER))
    # live store untouched
    assert spark.read.parquet(idx.lists_path).count() == 60


def test_pq_store_adc_search_recall_and_column_pruning(spark, corpus, tmp_path):
    """PQ-coded store: codes ride as one more column of the lists table
    (parquet column pruning gives the compact ADC scan), the ADC +
    exact-refine search recovers most of the exact top-k, and
    incremental adds stay code-compatible (frozen codebooks)."""
    q = _emb(spark, n=4, seed=9)
    idx = IVFIndex(spark, str(tmp_path / "pq"), dim=DIM, n_list=4, pq_m=4)
    idx.build(corpus.filter("vec_id < 30"))
    idx.add_batch(corpus.filter("vec_id >= 30"))

    got = idx.search_pq(q, k=3, nprobe=4, refine_factor=4)
    exact = idx.search(q, k=3, nprobe=4)
    g = {(r["qid"], r["cid"]) for r in got.collect()}
    e = {(r["qid"], r["cid"]) for r in exact.collect()}
    assert len(g) == 4 * 3
    # refined PQ recall vs the float probe over the same lists
    assert len(g & e) / len(e) >= 0.5
    # the ADC stage's scan must NOT read the float column
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    scans = re.findall(r"ReadSchema: \S+", plan)
    assert any("codes" in s and "c_vec" not in s for s in scans), scans

    # search_pq on a float-only index refuses
    flat = IVFIndex(spark, str(tmp_path / "flat"), dim=DIM, n_list=4)
    flat.build(corpus)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="without pq_m"):
        flat.search_pq(q)


def test_search_pq_answers_as_if_removed_vectors_were_never_ingested(
    spark, corpus, tmp_path
):
    """After ``remove_batch``, ``search_pq`` answers exactly like a store
    that never held the deleted vectors. Every list is probed and the
    shortlist covers the whole store, so the answer is the exact top-k
    over the survivors — computed here in numpy, independently of the
    engine. A deleted vector the ADC scan failed to drop would reach
    the rerank and be returned."""
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4, pq_m=4)
    idx.build(corpus)
    assert idx.remove_batch(corpus.filter("vec_id % 5 = 2").select("vec_id")) == 12

    q = _emb(spark, n=4, seed=9)
    got = idx.search_pq(q, k=3, nprobe=4, refine_factor=20).collect()

    def unit_rows(df):
        rows = df.orderBy("vec_id").collect()
        m = np.array([r.embedding for r in rows])
        return [r.vec_id for r in rows], m / np.linalg.norm(m, axis=1, keepdims=True)

    qids, qm = unit_rows(q)
    live, cm = unit_rows(corpus.filter("vec_id % 5 <> 2"))
    sims = qm @ cm.T
    want = [
        (qid, rk, live[j])
        for qid, row in zip(qids, sims)
        for rk, j in enumerate(sorted(range(len(live)), key=lambda j: (-row[j], live[j]))[:3], 1)
    ]
    assert sorted((r.qid, r.rk, r.cid) for r in got) == want
    want_sim = {(qid, live[j]): row[j] for qid, row in zip(qids, sims) for j in range(len(live))}
    assert all(abs(r.sim - want_sim[(r.qid, r.cid)]) < 1e-4 for r in got)


def test_manifest_makes_store_self_describing(spark, corpus, tmp_path):
    """A PQ-built store reopened WITHOUT pq_m (the CLI reopen path)
    adopts the persisted geometry: later add_batch rows carry codes and
    search_pq keeps working — the silent-null-ADC corruption the
    manifest exists to prevent."""
    path = str(tmp_path / "pq")
    built = IVFIndex(spark, path, dim=DIM, n_list=4, pq_m=4)
    assert built.build(corpus.filter("vec_id < 30")) == 30

    reopened = IVFIndex(spark, path)  # no args beyond the path
    assert (reopened.dim, reopened.n_list, reopened.pq_m, reopened.pq_ksub) == (
        DIM, 4, 4, 16,
    )
    assert reopened.add_batch(corpus.filter("vec_id >= 30")) == 30
    res = reopened.search_pq(_emb(spark, n=2, seed=7), k=3, nprobe=4)
    rows = res.collect()
    assert len(rows) == 2 * 3
    assert all(r["sim"] is not None for r in rows)


def test_manifest_conflict_fails_fast(spark, corpus, tmp_path):
    path = str(tmp_path / "idx")
    IVFIndex(spark, path, dim=DIM, n_list=4, pq_m=4).build(corpus)
    with pytest.raises(ValueError, match="dim"):
        IVFIndex(spark, path, dim=DIM + 1)
    with pytest.raises(ValueError, match="pq_m"):
        IVFIndex(spark, path, pq_m=8)
    # matching explicit args are fine
    IVFIndex(spark, path, dim=DIM, n_list=4, pq_m=4, pq_ksub=16)


def test_new_index_requires_dim(spark, tmp_path):
    with pytest.raises(ValueError, match="dim is required"):
        IVFIndex(spark, str(tmp_path / "fresh"))


def test_search_only_invocation_rolls_swap_forward(spark, corpus, tmp_path):
    """Crash between compact()'s commit marker and the rename, then a
    SEARCH-ONLY reopen (CLI --search-dir alone): search() must recover
    the committed swap instead of failing on the missing lists path."""
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus)
    q = _emb(spark, n=2, seed=5)
    want = sorted(map(tuple, idx.search(q, k=3, nprobe=2).collect()))

    staging = idx._staging()
    spark.read.parquet(idx.lists_path).write.partitionBy("list_id").parquet(staging)
    idx.fs.write_text_atomic(os.path.join(staging, _SWAP_MARKER), '{"whole": true}')
    idx.fs.rmtree(idx.lists_path)  # the live path is GONE post-commit

    fresh = IVFIndex(spark, str(tmp_path / "idx"))
    got = sorted(map(tuple, fresh.search(q, k=3, nprobe=2).collect()))
    assert got == want
    assert not os.path.exists(staging)


def test_replayed_add_batch_is_a_noop(spark, corpus, tmp_path):
    """foreachBatch redelivery safety (the streaming twin's contract):
    a retried micro-batch must not double-append its vectors — ids
    already in the lists store anti-join away, so the replay returns 0
    and the store contents (and search answers) are unchanged."""
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus.filter("vec_id < 30"))
    b = corpus.filter("vec_id >= 30")
    assert idx.add_batch(b) == 30
    n = spark.read.parquet(idx.lists_path).count()
    assert idx.add_batch(b) == 0  # replay: nothing appended...
    assert spark.read.parquet(idx.lists_path).count() == n  # ...on disk either
    # a half-overlapping delivery appends only the genuinely new rows
    nb = corpus.filter("vec_id >= 50").select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    assert idx.add_batch(b.unionByName(nb)) == 10


def test_ingest_crash_mid_promotion_converges_without_double_append(
    spark, corpus, tmp_path
):
    """The journaled lists+ids ingest commit: crash after the lists
    files promoted but before the ids ledger files — the r9
    self-review's corruption class (vectors stored but unledgered would
    replay as duplicates; unstored-but-ledgered would lose them). The
    next entry converges, the replay appends nothing, and search
    answers exactly like an uncrashed store."""
    from mysql2clickhouse_spark.fs import LocalFS

    class _FailIdsPromotion(LocalFS):
        def rename(self, src: str, dst: str) -> None:
            if f"{os.sep}ids{os.sep}" in dst:
                raise OSError("injected crash before ids promotion")
            super().rename(src, dst)

    q = _emb(spark, n=4, seed=9)
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus.filter("vec_id < 30"))
    b = corpus.filter("vec_id >= 30")
    idx.fs = _FailIdsPromotion()
    with pytest.raises(OSError, match="injected crash"):
        idx.add_batch(b)

    idx2 = IVFIndex(spark, str(tmp_path / "idx"))
    assert idx2.add_batch(b) == 0  # converged at entry, replay dropped
    assert spark.read.parquet(idx2.lists_path).count() == 60
    assert spark.read.parquet(idx2.ids_path).count() == 60

    ref = IVFIndex(spark, str(tmp_path / "ref"), dim=DIM, n_list=4)
    os.makedirs(str(tmp_path / "ref"))
    spark.read.parquet(idx2.centroids_path).coalesce(1).write.parquet(
        ref.centroids_path
    )
    ref.add_batch(corpus)
    a = idx2.search(q, k=3, nprobe=2)
    bq = ref.search(q, k=3, nprobe=2)
    assert a.exceptAll(bq).isEmpty() and bq.exceptAll(a).isEmpty()


def test_replay_probe_reads_the_slim_ledger_not_the_lists_store(
    spark, corpus, tmp_path
):
    """The anti-join probe must be O(ledger): after ingests, ids/ holds
    exactly the ingested ids in a flat single-column table, and a
    replay is dropped by it."""
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus.filter("vec_id < 30"))
    idx.add_batch(corpus.filter("vec_id >= 30"))
    ids = spark.read.parquet(idx.ids_path)
    assert ids.columns == ["cid"]
    assert ids.count() == 60
    assert sorted(r["cid"] for r in ids.collect()) == list(range(60))


def test_remove_batch_logical_then_physical(spark, corpus, tmp_path):
    """IVF delete lifecycle (mirrors the BM25 store): tombstoned
    vectors vanish from answers, re-deletion and unknown ids are
    no-ops, compact applies physically (rows gone, ledger forgets,
    tombstones clear), and a deleted id can re-ingest."""
    q = _emb(spark, n=4, seed=9)
    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus)

    doomed = corpus.filter("vec_id % 5 = 2").select("vec_id")
    n_doomed = doomed.count()
    assert idx.remove_batch(doomed) == n_doomed
    assert idx.remove_batch(doomed) == 0  # replay no-op
    assert (
        idx.remove_batch(
            spark.createDataFrame([(777,)], "vec_id bigint")
        )
        == 0
    )  # never ingested

    # logical deletion == a store that never held the doomed vectors
    ref = IVFIndex(spark, str(tmp_path / "ref"), dim=DIM, n_list=4)
    os.makedirs(str(tmp_path / "ref"))
    spark.read.parquet(idx.centroids_path).coalesce(1).write.parquet(
        ref.centroids_path
    )
    ref.add_batch(corpus.filter("vec_id % 5 <> 2"))
    want = ref.search(q, k=3, nprobe=4).localCheckpoint()
    got = idx.search(q, k=3, nprobe=4).localCheckpoint()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    rep = idx.compact()
    assert rep["rows"] == 60 - n_doomed
    assert not idx._has_files(idx.tombstones_path)
    assert spark.read.parquet(idx.lists_path).count() == 60 - n_doomed
    assert spark.read.parquet(idx.ids_path).count() == 60 - n_doomed
    got2 = idx.search(q, k=3, nprobe=4)
    assert got2.exceptAll(want).isEmpty() and want.exceptAll(got2).isEmpty()

    # the ledger forgot the ids: one of them re-ingests
    one = corpus.filter("vec_id = 2")
    assert idx.add_batch(one) == 1


def test_compact_crash_cannot_strand_stale_tombstones(spark, corpus, tmp_path):
    """Regression (round-9 review class, pinned per store): compact's
    ids-ledger forget and tombstone clear commit under ONE journal
    marker — a crash between the ledger swap and the tombstone swap
    converges at the next entry, so a re-ingested deleted id is
    searchable, never hidden by a stale tombstone."""
    from mysql2clickhouse_spark.fs import LocalFS

    class _FailNthRename(LocalFS):
        def __init__(self, fail_on: int):
            self.calls = 0
            self.fail_on = fail_on

        def rename(self, src, dst):
            self.calls += 1
            if self.calls == self.fail_on:
                raise OSError(f"injected rename failure #{self.calls}: {src}")
            super().rename(src, dst)

    idx = IVFIndex(spark, str(tmp_path / "idx"), dim=DIM, n_list=4)
    idx.build(corpus)
    doomed = corpus.filter(F.col("vec_id") % 5 == 2).select("vec_id")
    n_doomed = doomed.count()
    assert idx.remove_batch(doomed) == n_doomed
    # one journal marker; its promotion renames lists (#1), ids (#2)
    # and tombstones (#3) — fail the third
    idx.fs = _FailNthRename(fail_on=3)
    with pytest.raises(OSError, match="injected"):
        idx.compact()

    idx2 = IVFIndex(spark, str(tmp_path / "idx"))
    st = idx2.stats()  # recover() converges the staged clear first
    assert st["n_tombstoned"] == 0
    assert st["n_vectors"] == corpus.count() - n_doomed
    # a deleted id re-ingests and is immediately searchable
    one = corpus.filter(F.col("vec_id") % 5 == 2).limit(1)
    assert idx2.add_batch(one) == 1
    vid = one.collect()[0].vec_id
    got = idx2.search(one, k=1, nprobe=4).collect()
    assert got and got[0].cid == vid
