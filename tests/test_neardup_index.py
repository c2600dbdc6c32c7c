"""Incremental MinHash+LSH index (operators/neardup_index.py).

Contract under test: any batch decomposition of the corpus yields, via
accumulated ``add_batch`` pair sets, exactly the pairs of the one-shot
``verified_near_dups`` over the full corpus — plus append-only store
growth and replay self-pair safety. The lifecycle tests parametrized
over ``family`` run on both banded indexes (operators/banded_index.py),
each against its own one-shot.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mysql2clickhouse_spark.functions.minhash import (
    simhash_near_dups,
    verified_near_dups,
    with_simhash,
)
from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex
from mysql2clickhouse_spark.operators.simhash_index import SimHashIndex
from mysql2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
MUT = 1_000_000

#: banded family -> (index factory, one-shot pair oracle)
FAMILIES = {
    "minhash": (
        lambda spark, path: MinHashIndex(spark, path, threshold=0.7),
        lambda df: verified_near_dups(df, "doc_id", threshold=0.7),
    ),
    "simhash": (
        lambda spark, path: SimHashIndex(spark, path),
        lambda df: simhash_near_dups(with_simhash(df)),
    ),
}
each_family = pytest.mark.parametrize("family", list(FAMILIES))


def _corpus(spark):
    d = load_table(spark, SF, "documents").select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + MUT).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    return d.unionByName(mut)


def test_three_batch_accumulation_equals_one_shot(spark, tmp_path):
    corpus = _corpus(spark).cache()
    batches = [corpus.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    acc = None
    for b in batches:
        p = idx.add_batch(b)
        acc = p if acc is None else acc.unionByName(p)
    full = verified_near_dups(corpus, "doc_id", threshold=0.7)
    assert idx.pairs_equal(full, acc)
    corpus.unpersist()


def test_accumulation_equals_one_shot_with_verify_prune_forced(
    spark, tmp_path, monkeypatch
):
    """r12 ingest prune: with the sigs verify-side prune's size gate
    forced OPEN (test stores are far below the production gate), the
    accumulated pair sets must still equal the one-shot — the
    candidate-id semi prune may drop only sig rows no candidate pair
    references. The bands-side semi prune is ungated and therefore
    exercised by every other test in this file."""
    from mysql2clickhouse_spark.operators import store_common

    monkeypatch.setattr(store_common, "PROBE_PUSHDOWN_MIN_STORE_BYTES", 0)
    corpus = _corpus(spark).cache()
    batches = [corpus.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    idx = MinHashIndex(spark, str(tmp_path / "idx_vp"), threshold=0.7)
    acc = None
    for b in batches:
        p = idx.add_batch(b)
        acc = p if acc is None else acc.unionByName(p)
    full = verified_near_dups(corpus, "doc_id", threshold=0.7)
    assert idx.pairs_equal(full, acc)
    corpus.unpersist()


def test_store_is_append_only(spark, tmp_path):
    corpus = _corpus(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    idx.add_batch(corpus.filter(F.col("doc_id") % 2 == 0))

    def _files(p):
        return {
            os.path.join(r, f)
            for r, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        }

    before = _files(idx.path)
    mtimes = {f: os.path.getmtime(f) for f in before}
    idx.add_batch(corpus.filter(F.col("doc_id") % 2 == 1))
    after = _files(idx.path)
    assert before < after, "second batch must add files"
    assert all(os.path.getmtime(f) == mtimes[f] for f in before), (
        "existing store files must be untouched bytes"
    )


def test_replayed_batch_never_self_pairs(spark, tmp_path):
    one = _corpus(spark).filter(F.col("doc_id") == 0)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    assert idx.add_batch(one).count() == 0
    replay = idx.add_batch(one)  # same doc_id arrives again
    assert replay.filter(F.col("id_a") == F.col("id_b")).count() == 0


def test_replayed_batch_is_store_noop(spark, tmp_path):
    """At-least-once redelivery: a replayed batch must append NOTHING
    to the store (no duplicate sig/band rows) and emit no pairs, and
    later batches must still reproduce the one-shot pair set exactly."""
    corpus = _corpus(spark).cache()
    b0 = corpus.filter(F.col("doc_id") % 2 == 0)
    b1 = corpus.filter(F.col("doc_id") % 2 == 1)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    p0 = idx.add_batch(b0)
    n_sigs = spark.read.parquet(idx.sigs_path).count()
    n_bands = spark.read.parquet(idx.bands_path).count()
    replay = idx.add_batch(b0)  # redelivery of the whole batch
    assert replay.isEmpty()
    assert spark.read.parquet(idx.sigs_path).count() == n_sigs
    assert spark.read.parquet(idx.bands_path).count() == n_bands
    p1 = idx.add_batch(b1)
    assert p1.count() == p1.distinct().count(), "no duplicated pair rows"
    full = verified_near_dups(corpus, "doc_id", threshold=0.7)
    assert idx.pairs_equal(full, p0.unionByName(replay).unionByName(p1))
    corpus.unpersist()


def test_cross_batch_pairs_found_from_store_not_rescan(spark, tmp_path):
    """The planted mutants arrive as a second batch; their pairs must
    surface purely from the store's band/sig tables."""
    d = load_table(spark, SF, "documents").select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + MUT).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    idx.add_batch(d)
    p = idx.add_batch(mut)
    planted = p.filter(
        (F.col("id_a") < MUT) & (F.col("id_b") == F.col("id_a") + MUT)
    ).count()
    n = d.count()
    assert planted >= 0.95 * n


@each_family
def test_compact_bounds_files_and_preserves_pairs(spark, tmp_path, family):
    """compact() rewrites the sig/key stores to a bounded file count
    without changing ANY future pair result: batches ingested after a
    compaction pair against the compacted store exactly as they would
    against the raw append store."""
    make, one_shot = FAMILIES[family]
    corpus = _corpus(spark).cache()
    batches = [corpus.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    idx = make(spark, str(tmp_path / "idx"))
    acc = None
    for b in batches[:3]:
        p = idx.add_batch(b)
        acc = p if acc is None else acc.unionByName(p)

    keys = idx.KEY_SUB  # "bands" / "blocks"
    before = sum(1 for _ in idx._data_files(idx.keys_path))
    rep = idx.compact()
    assert set(rep) == {"sigs", keys}
    assert rep[keys]["files_before"] == before
    assert rep[keys]["files_after"] < before      # 3 appends collapsed
    assert rep["sigs"]["files_after"] <= rep["sigs"]["files_before"]

    # the 4th batch pairs against the compacted store; accumulated set
    # still equals the one-shot result
    acc = acc.unionByName(idx.add_batch(batches[3]))
    assert idx.pairs_equal(one_shot(corpus), acc)
    corpus.unpersist()


def test_compact_crash_after_commit_rolls_forward(spark, tmp_path):
    """Kill the compaction between the committed marker write and the
    live-dir swap: the next add_batch entry must roll the swap forward
    (recover()) and the pair contract must hold as if the compaction
    had succeeded."""
    import pytest

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

    corpus = _corpus(spark).cache()
    batches = [corpus.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    acc = idx.add_batch(batches[0]).unionByName(idx.add_batch(batches[1]))

    # LocalFS marker writes promote via os.replace (not fs.rename), so
    # the first fs.rename IS the sigs swap — fail it post-commit
    idx.fs = _FailNthRename(fail_on=1)
    with pytest.raises(OSError, match="injected"):
        idx.compact()
    # staged + committed under the maintenance journal, live dir deleted
    assert os.path.isdir(os.path.join(idx.staging_path, "sigs"))
    assert not os.path.isdir(idx.sigs_path)

    idx.fs = LocalFS()
    acc = acc.unionByName(idx.add_batch(batches[2]))    # recover() at entry
    assert not os.path.exists(idx.staging_path)
    full = verified_near_dups(corpus, "doc_id", threshold=0.7)
    assert idx.pairs_equal(full, acc)
    corpus.unpersist()


def _base(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def _mutants(d):
    return d.select(
        (F.col("doc_id") + MUT).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )


def test_delete_lifecycle_logical_physical_reingest(spark, tmp_path):
    """remove_batch → deleted docs answer as never ingested (no pair
    ever emitted against them); compact → physically gone, tombstones
    cleared; a deleted id re-ingests as new and pairs against its own
    mutant already in the store."""
    d = _base(spark).cache()
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    idx.add_batch(d)

    doomed = d.filter(F.col("doc_id") % 5 == 2).select("doc_id")
    n_doomed = doomed.count()
    assert idx.remove_batch(doomed) == n_doomed
    assert idx.remove_batch(doomed) == 0  # idempotent re-delete

    # LOGICAL: mutants of every base doc — pairs must be exactly the
    # one-shot over (survivors ∪ mutants) restricted to mutant pairs
    mut = _mutants(d)
    p1 = idx.add_batch(mut)
    survivors = d.filter(F.col("doc_id") % 5 != 2)
    full = verified_near_dups(
        survivors.unionByName(mut), "doc_id", threshold=0.7
    )
    want = full.filter((F.col("id_a") >= MUT) | (F.col("id_b") >= MUT))
    assert idx.pairs_equal(want, p1)

    # PHYSICAL: compact drops the doomed rows and clears tombstones
    idx.compact()
    assert idx._tombstones() is None  # cleared (empty swapped-in dir)
    stored = {
        r.doc_id
        for r in spark.read.parquet(idx.sigs_path).select("doc_id").collect()
    }
    doomed_ids = {r.doc_id for r in doomed.collect()}
    assert stored.isdisjoint(doomed_ids)
    assert stored == {r.doc_id for r in survivors.unionByName(mut).select("doc_id").collect()}

    # RE-INGEST: a deleted id is new again and pairs with its mutant
    d0 = min(doomed_ids)
    p2 = idx.add_batch(d.filter(F.col("doc_id") == d0))
    got = {(r.id_a, r.id_b) for r in p2.collect()}
    assert (d0, d0 + MUT) in got
    d.unpersist()


@each_family
def test_remove_batch_crash_rolls_forward(spark, tmp_path, family):
    """Kill the tombstone swap between the committed marker and the
    live-dir rename: the next add_batch entry must roll it forward, so
    the delete takes effect exactly once — never torn, never lost."""
    from mysql2clickhouse_spark.fs import LocalFS

    make, one_shot = FAMILIES[family]

    class _FailNthRename(LocalFS):
        def __init__(self, fail_on: int):
            self.calls = 0
            self.fail_on = fail_on

        def rename(self, src, dst):
            self.calls += 1
            if self.calls == self.fail_on:
                raise OSError(f"injected rename failure #{self.calls}: {src}")
            super().rename(src, dst)

    d = _base(spark).cache()
    idx = make(spark, str(tmp_path / "idx"))
    idx.add_batch(d)
    doomed = d.filter(F.col("doc_id") % 5 == 2).select("doc_id")

    idx.fs = _FailNthRename(fail_on=1)  # first fs.rename IS the swap
    with pytest.raises(OSError, match="injected"):
        idx.remove_batch(doomed)
    # committed in the journal, not yet promoted
    assert os.path.isdir(os.path.join(idx.staging_path, "tombstones"))
    assert idx._tombstones() is None  # cleared (empty swapped-in dir)

    idx.fs = LocalFS()
    p1 = idx.add_batch(_mutants(d))  # recover() at entry applies the delete
    survivors = d.filter(F.col("doc_id") % 5 != 2)
    full = one_shot(survivors.unionByName(_mutants(d)))
    want = full.filter((F.col("id_a") >= MUT) | (F.col("id_b") >= MUT))
    assert idx.pairs_equal(want, p1)
    d.unpersist()


@each_family
def test_compact_crash_cannot_strand_stale_tombstones(spark, tmp_path, family):
    """Regression for the reproduced round-9 review finding: under the
    old per-store-swap protocol, a crash after the store swaps but
    before the tombstone clear left a stale tombstone that silently hid
    (and on the next compact, deleted) a re-ingested doc. The journal
    commits sigs + bands + cleared tombstones under ONE marker, so any
    partial promotion converges at the next entry and the re-ingested
    deleted id pairs normally."""
    from mysql2clickhouse_spark.fs import LocalFS

    make, one_shot = FAMILIES[family]

    class _FailNthRename(LocalFS):
        def __init__(self, fail_on: int):
            self.calls = 0
            self.fail_on = fail_on

        def rename(self, src, dst):
            self.calls += 1
            if self.calls == self.fail_on:
                raise OSError(f"injected rename failure #{self.calls}: {src}")
            super().rename(src, dst)

    d = _base(spark).cache()
    idx = make(spark, str(tmp_path / "idx"))
    idx.add_batch(d)
    idx.add_batch(_mutants(d))
    doomed = d.filter(F.col("doc_id") % 5 == 2).select("doc_id")
    idx.remove_batch(doomed)

    # crash AFTER sigs+keys promoted but BEFORE the tombstone swap —
    # exactly the old protocol's poison state
    idx.fs = _FailNthRename(fail_on=3)
    with pytest.raises(OSError, match="injected"):
        idx.compact()
    assert os.path.isdir(os.path.join(idx.staging_path, "tombstones"))

    # re-ingest one deleted id whose mutant pair the family's one-shot
    # finds: recover() at entry converges the clear first, so the doc
    # is judged as brand-new and pairs with its mutant
    idx.fs = LocalFS()
    d0 = (
        one_shot(d.unionByName(_mutants(d)))
        .filter((F.col("id_b") == F.col("id_a") + MUT) & (F.col("id_a") % 5 == 2))
        .agg(F.min("id_a"))
        .collect()[0][0]
    )
    p = idx.add_batch(d.filter(F.col("doc_id") == d0))
    assert (d0, d0 + MUT) in {(r.id_a, r.id_b) for r in p.collect()}
    assert idx._tombstones() is None  # cleared, not stale
    # a further compact must keep the re-ingested doc
    idx.compact()
    stored = {r.doc_id for r in spark.read.parquet(idx.sigs_path)
              .select("doc_id").collect()}
    assert d0 in stored
    d.unpersist()


def test_stats_census_routes_through_fs_seam(spark, tmp_path):
    """The file census (the compaction trigger) must list through the
    injected ``fs`` — an ``os.walk`` census silently reported 0 files
    for ``hdfs://``/``s3a://`` index roots, blinding the trigger
    exactly where compaction matters (r9 verdict finding #2)."""
    from mysql2clickhouse_spark.fs import LocalFS

    d = _base(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    idx.add_batch(d)

    class _Recording(LocalFS):
        def __init__(self):
            self.listed = []

        def listdir(self, path):
            self.listed.append(path)
            return super().listdir(path)

    rec = _Recording()
    idx.fs = rec
    st = idx.stats()
    assert st["n_docs"] == d.count()
    assert st["band_files"] > 0
    assert any(p.startswith(idx.bands_path) for p in rec.listed), (
        "band census must go through the fs seam, not os.walk"
    )


def test_legacy_unbucketed_store_migrates_once(spark, tmp_path):
    """A pre-round-10 store (plain parquet sigs, bands partitioned by
    band_idx, no ids ledger, no meta) must migrate to the bucketed
    layout on first entry — one journaled replace rewrite — after which
    ingest, replay idempotence, and the pair contract all hold."""
    d = _base(spark).cache()
    legacy = str(tmp_path / "legacy")

    # fabricate the old on-disk layout with the engine's own signer
    builder = MinHashIndex(spark, str(tmp_path / "builder"), threshold=0.7)
    tables = builder._batch_tables(d)
    tables.write.parquet(os.path.join(legacy, "sigs"))
    builder._band_rows(
        tables.filter(F.col("minhash").isNotNull()).select("doc_id", "minhash")
    ).write.partitionBy("band_idx").parquet(os.path.join(legacy, "bands"))
    assert not os.path.exists(os.path.join(legacy, "_STORE_META"))

    idx = MinHashIndex(spark, legacy, threshold=0.7)
    assert idx._legacy_pending

    # first entry migrates, then the mutant batch pairs against the
    # migrated store exactly as against a natively-built one
    from mysql2clickhouse_spark.functions.minhash import verified_near_dups

    mut = _mutants(d)
    p1 = idx.add_batch(mut)
    full = verified_near_dups(d.unionByName(mut), "doc_id", threshold=0.7)
    want = full.filter((F.col("id_a") >= MUT) | (F.col("id_b") >= MUT))
    assert idx.pairs_equal(want, p1)

    # migrated artifacts: meta, slim ids ledger, bucketed reads work
    assert os.path.exists(os.path.join(legacy, "_STORE_META"))
    assert idx._has_files(idx.ids_path)
    assert idx.stats()["n_docs"] == d.count() + mut.count()

    # the pre-migration corpus replays as a no-op (ledger backfilled)
    assert idx.add_batch(d).count() == 0
    d.unpersist()


def test_geometry_is_store_identity(spark, tmp_path):
    """Signature geometry is store identity: reopening a store with a
    different num_perm/bands/rows/seed/k raises instead of joining
    signatures of two geometries, while a reopen adopts the STORED
    bucket count (baked into file names) over the constructor's."""
    path = str(tmp_path / "idx")
    idx = MinHashIndex(spark, path, threshold=0.7, n_buckets=8)
    idx.add_batch(_base(spark).limit(5))
    for name, value in (
        ("num_perm", 64), ("bands", 12), ("rows", 4), ("seed", 7), ("k", 3)
    ):
        with pytest.raises(
            ValueError, match=f"{name}=.*signature geometry is store identity"
        ):
            MinHashIndex(spark, path, **{name: value})
    # threshold and the bucket-size cap are query-time knobs, not identity
    reopened = MinHashIndex(
        spark, path, threshold=0.9, n_buckets=64, max_bucket_size=10
    )
    assert reopened.n_buckets == 8
    assert reopened._sigs.n_buckets == reopened._keys.n_buckets == 8
    assert reopened.stats()["n_docs"] == 5


def test_hot_bucket_quarantine_total_occupancy(spark, tmp_path):
    """The one-shot's hot-bucket guard, incremental form: a bucket whose
    STORE+BATCH occupancy exceeds max_bucket_size stops being mined
    (batch×store blowup prevented; same degradation direction as the
    one-shot — dropped candidates, never wrong pairs), while ingest is
    unaffected and normal buckets keep pairing. Judged on TOTAL
    occupancy: a bucket under the cap within every single batch still
    quarantines once the store side pushes it over."""
    base = "the quick brown fox jumps over the lazy dog wearing suit"
    hot_text = "identical boilerplate text repeated verbatim in every document"

    def batch(ids_hot, ids_norm, bump=""):
        rows = [(i, hot_text) for i in ids_hot]
        rows += [(i, f"{base} {i} variant{bump}") for i in ids_norm]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    # cap 8: batch 1 carries 6 identical docs (under the cap — mined),
    # batch 2 carries 6 more (total 12 > cap — quarantined)
    idx = MinHashIndex(
        spark, str(tmp_path / "idx"), threshold=0.7, max_bucket_size=8
    )
    p1 = idx.add_batch(batch(range(6), range(100, 110)))
    hot1 = p1.filter((F.col("id_a") < 6) & (F.col("id_b") < 6)).count()
    assert hot1 == 15  # 6 identical docs pair fully while under the cap

    p2 = idx.add_batch(batch(range(6, 12), range(1100, 1110), bump="!"))
    # the hot bucket crossed the cap: batch 2's identical docs mine NO
    # pairs (neither new×new nor against the 6 stored copies)...
    assert p2.filter(F.col("id_b") < 100).count() == 0
    # ...but ingest was unaffected: all 12 hot docs are in the store
    assert idx.stats()["n_docs"] == 32
    stored = spark.read.parquet(idx.sigs_path)
    assert stored.filter(F.col("doc_id") < 12).count() == 12

    # normal buckets keep pairing across batches: the batch-2 mutants
    # of batch-1 normals pair via the store
    idx2 = MinHashIndex(
        spark, str(tmp_path / "idx2"), threshold=0.7, max_bucket_size=8
    )
    # fully-distinct docs (no shared prefix): docs sharing long common
    # text legitimately co-bucket and would quarantine at this tiny cap
    def uniq(i, extra=""):
        return " ".join(f"w{i}x{j}" for j in range(20)) + extra

    idx2.add_batch(
        spark.createDataFrame(
            [(i, uniq(i)) for i in range(100, 110)],
            "doc_id bigint, text string",
        )
    )
    p = idx2.add_batch(
        spark.createDataFrame(
            [(1000 + i, uniq(i, " extra")) for i in range(100, 110)],
            "doc_id bigint, text string",
        )
    )
    assert p.filter(F.col("id_b") == F.col("id_a") + 1000).count() >= 9

    # LIVE occupancy: tombstone the whole hot bucket, then fresh
    # arrivals mine again (dead rows must not keep quarantining)
    idx.remove_batch(
        spark.createDataFrame([(i,) for i in range(12)], "doc_id bigint")
    )
    p3 = idx.add_batch(
        spark.createDataFrame(
            [(200 + i, hot_text) for i in range(3)],
            "doc_id bigint, text string",
        )
    )
    assert p3.count() == 3  # live occupancy 3 <= 8: mined

    # guard off (None): the same hot corpus mines everything
    idx3 = MinHashIndex(
        spark, str(tmp_path / "idx3"), threshold=0.7, max_bucket_size=None
    )
    idx3.add_batch(batch(range(6), []))
    p3 = idx3.add_batch(batch(range(6, 12), []))
    # every new hot doc pairs with all 6 stored + 5 in-batch peers
    assert p3.count() == 6 * 6 + 15


def test_probe_is_read_only_and_equals_one_shot_cross_pairs(spark, tmp_path):
    """probe() answers the decontam question from the store — exactly
    the one-shot's cross (original×mutant) pair set, orientation
    preserved, with zero store mutation (file sets byte-identical) —
    and tombstoned docs never match."""
    d = _base(spark).cache()
    mut = _mutants(d)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    idx.add_batch(d)

    def _census():
        return (
            sorted(idx._data_files(idx.sigs_path))
            + sorted(idx._data_files(idx.bands_path))
            + sorted(idx._data_files(idx.ids_path))
        )

    before = _census()
    pm = idx.probe(mut)
    assert pm.filter(F.col("probe_id") < MUT).count() == 0  # orientation
    assert _census() == before, "probe must not touch the store"
    assert idx.stats()["n_docs"] == d.count()

    full = verified_near_dups(d.unionByName(mut), "doc_id", threshold=0.7)
    cross = full.filter((F.col("id_a") < MUT) & (F.col("id_b") >= MUT))
    mapped = pm.select(
        F.col("match_id").alias("id_a"), F.col("probe_id").alias("id_b"), "jaccard"
    )
    assert mapped.exceptAll(cross).isEmpty() and cross.exceptAll(mapped).isEmpty()

    # tombstoned docs stop matching immediately (logical delete)
    doomed = d.filter(F.col("doc_id") % 5 == 2).select("doc_id")
    idx.remove_batch(doomed)
    pm2 = idx.probe(mut)
    assert pm2.join(doomed.withColumnRenamed("doc_id", "match_id"),
                    "match_id", "left_semi").count() == 0
    d.unpersist()
