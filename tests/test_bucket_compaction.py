"""Per-bucket compaction (r10 verdict finding #2): the maintenance
unit is O(hot buckets), not O(store) — only buckets whose file count
exceeds the threshold are rewritten, untouched buckets keep their
files by identity, and the swap commits under one journal marker
carrying the delete list (crash-converged like every store mutation).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mysql2clickhouse_spark.fs import LocalFS

BASE = "the quick brown fox jumps over the lazy dog wearing suit number"


def _mk_minhash(spark, tmp_path, n_buckets=8):
    from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

    idx = MinHashIndex(spark, str(tmp_path / "nd"), n_buckets=n_buckets)
    idx.add_batch(
        spark.createDataFrame(
            [(i, f"{BASE} {i} variant") for i in range(40)],
            "doc_id bigint, text string",
        )
    )
    return idx


def _files(d):
    return sorted(n for n in os.listdir(d) if n.endswith(".parquet"))


def _rows(spark, d, cols):
    return sorted(
        tuple(r) for r in spark.read.parquet(d).select(*cols).collect()
    )


def test_minhash_compact_buckets_rewrites_only_hot_buckets(spark, tmp_path):
    """Fragmentation driven into a SUBSET of buckets (a small second
    batch touches only the buckets its rows hash into): compact_buckets
    rewrites exactly those, the cold buckets' files survive by NAME
    identity, and the store's logical content is unchanged."""
    from mysql2clickhouse_spark.operators.store_common import bucket_census

    idx = _mk_minhash(spark, tmp_path)
    sigs_before = _rows(spark, idx.sigs_path, ["doc_id"])
    bands_before = _rows(spark, idx.bands_path, ["band_idx", "band_hash", "doc_id"])

    # 2 fresh docs fragment only the buckets they hash into
    idx.add_batch(
        spark.createDataFrame(
            [(1000, f"{BASE} 1000 fresh new doc"), (1001, f"{BASE} 1001 other")],
            "doc_id bigint, text string",
        )
    )
    census = bucket_census(idx.fs, idx.bands_path)
    hot = {b for b, fl in census.items() if len(fl) > 1}
    cold = {b for b, fl in census.items() if len(fl) == 1}
    assert hot and cold, "the small batch must fragment only a subset"
    cold_files = {
        b: census[b][0] for b in cold
    }
    sigs_all = _rows(spark, idx.sigs_path, ["doc_id"])
    bands_all = _rows(spark, idx.bands_path, ["band_idx", "band_hash", "doc_id"])

    rep = idx.compact_buckets(max_files_per_bucket=1)
    assert rep["bands"]["buckets_compacted"] == len(hot)
    after = bucket_census(idx.fs, idx.bands_path)
    assert all(len(fl) == 1 for fl in after.values())
    # cold buckets: byte identity (same file names — fresh writes get
    # new uuids, so a surviving name IS the surviving file)
    for b, name in cold_files.items():
        assert after[b] == [name]
    # logical content unchanged (defrag only)
    assert _rows(spark, idx.sigs_path, ["doc_id"]) == sigs_all
    assert (
        _rows(spark, idx.bands_path, ["band_idx", "band_hash", "doc_id"])
        == bands_all
    )
    assert sigs_before and bands_before  # sanity: store was non-trivial

    # idempotent: nothing hot now — report says so, files untouched
    names = _files(idx.bands_path)
    rep2 = idx.compact_buckets(max_files_per_bucket=1)
    assert rep2["bands"]["buckets_compacted"] == 0
    assert _files(idx.bands_path) == names


def test_compact_buckets_does_not_touch_tombstones(spark, tmp_path):
    """Defrag-only contract: a pending tombstone set survives
    compact_buckets untouched (physically AND logically) — deleted
    docs still answer as deleted, and whole-store compact() still owns
    the physical phase."""
    idx = _mk_minhash(spark, tmp_path)
    idx.add_batch(
        spark.createDataFrame(
            [(2000 + i, f"{BASE} {i} tail {i}") for i in range(10)],
            "doc_id bigint, text string",
        )
    )
    idx.remove_batch(spark.createDataFrame([(3,)], "doc_id bigint"))
    tombs_before = _rows(spark, idx.tombstones_path, ["doc_id"])
    idx.compact_buckets(max_files_per_bucket=1)
    assert _rows(spark, idx.tombstones_path, ["doc_id"]) == tombs_before
    # deleted doc still never matches
    probe = spark.createDataFrame(
        [(9000, f"{BASE} 3 variant")], "doc_id bigint, text string"
    )
    assert idx.probe(probe).filter(F.col("match_id") == 3).count() == 0
    # and the whole-store compact still applies + clears them
    idx.compact()
    assert not idx._has_files(idx.tombstones_path)
    assert (
        spark.read.parquet(idx.sigs_path).filter(F.col("doc_id") == 3).count()
        == 0
    )


def test_compact_buckets_crash_mid_promotion_converges(spark, tmp_path):
    """Post-commit crash between the hot buckets' old-file deletes and
    the staged renames: the marker carries the delete list, so
    recover() at the next entry finishes both idempotently — no row
    lost, no row doubled."""
    from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

    idx = _mk_minhash(spark, tmp_path)
    idx.add_batch(
        spark.createDataFrame(
            [(1000, f"{BASE} 1000 fresh new doc")],
            "doc_id bigint, text string",
        )
    )
    sigs_all = _rows(spark, idx.sigs_path, ["doc_id"])
    bands_all = _rows(spark, idx.bands_path, ["band_idx", "band_hash", "doc_id"])

    class _FailBandsRename(LocalFS):
        def rename(self, src: str, dst: str) -> None:
            if f"{os.sep}bands{os.sep}" in dst and "__maint_staging" in src:
                raise OSError("injected crash mid bucket promotion")
            super().rename(src, dst)

    idx.fs = _FailBandsRename()
    with pytest.raises(OSError, match="injected crash"):
        idx.compact_buckets(max_files_per_bucket=1)
    # dangerous state: some old band files deleted, fresh ones not in
    assert os.path.isfile(os.path.join(idx.staging_path, "_INGEST_COMMIT"))

    idx2 = MinHashIndex(spark, str(tmp_path / "nd"))
    idx2.recover()
    assert not os.path.isdir(idx2.staging_path)
    assert _rows(spark, idx2.sigs_path, ["doc_id"]) == sigs_all
    assert (
        _rows(spark, idx2.bands_path, ["band_idx", "band_hash", "doc_id"])
        == bands_all
    )


def test_compact_buckets_crash_before_marker_leaves_store_intact(
    spark, tmp_path
):
    """Pre-commit crash: the staged rewrite exists but the marker never
    lands — the live store keeps its exact file set and recover()
    clears the debris."""
    from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

    class _FailMarker(LocalFS):
        def write_text_atomic(self, path: str, text: str) -> None:
            if path.endswith("_INGEST_COMMIT"):
                raise OSError("injected crash before marker")
            super().write_text_atomic(path, text)

    idx = _mk_minhash(spark, tmp_path)
    idx.add_batch(
        spark.createDataFrame(
            [(1000, f"{BASE} 1000 fresh new doc")],
            "doc_id bigint, text string",
        )
    )
    names = _files(idx.bands_path)
    idx.fs = _FailMarker()
    with pytest.raises(OSError, match="injected crash"):
        idx.compact_buckets(max_files_per_bucket=1)
    assert _files(idx.bands_path) == names  # live store untouched
    idx2 = MinHashIndex(spark, str(tmp_path / "nd"))
    idx2.recover()
    assert not os.path.isdir(idx2.staging_path)
    assert _files(idx2.bands_path) == names


def test_simhash_substring_bm25_compact_buckets(spark, tmp_path):
    """The shared body on the three sibling bucketed stores: content
    preserved, hot buckets merged, report shape consistent."""
    from mysql2clickhouse_spark.operators.bm25_index import BM25Index
    from mysql2clickhouse_spark.operators.simhash_index import SimHashIndex
    from mysql2clickhouse_spark.operators.substring_index import SubstringIndex

    def two_batches(idx, route, live, cols):
        for b in range(2):
            idx.add_batch(
                spark.createDataFrame(
                    [(b * 100 + i, f"{BASE} {i} v{b} x{i}") for i in range(15)],
                    "doc_id bigint, text string",
                )
            )
        before = _rows(spark, live, cols)
        rep = idx.compact_buckets(max_files_per_bucket=1)
        assert rep[route]["buckets_compacted"] > 0
        assert rep[route]["files_after"] < rep[route]["files_before"]
        assert _rows(spark, live, cols) == before

    sh = SimHashIndex(spark, str(tmp_path / "sh"), n_buckets=8)
    two_batches(sh, "blocks", sh.blocks_path, ["b_idx", "b_val", "doc_id"])
    ss = SubstringIndex(spark, str(tmp_path / "ss"), k=6, n_buckets=8)
    two_batches(ss, "firsts", ss.firsts_path, ["gram", "doc_id", "s"])
    bm = BM25Index(spark, str(tmp_path / "bm"), n_buckets=8)
    two_batches(bm, "postings", bm.postings_path, ["token", "doc_id", "tf"])


def test_ivf_compact_lists_rewrites_only_hot_lists(spark, tmp_path):
    """The IVF analog over list_id partition dirs: two appends make
    every touched list 2 files; compact_buckets(1) merges them, leaves
    single-file lists alone, preserves content, tombstones untouched."""
    import numpy as np

    from mysql2clickhouse_spark.operators.ann_index import IVFIndex

    rng = np.random.default_rng(7)

    def vecs(n, off):
        return spark.createDataFrame(
            [
                (off + i, [float(x) for x in rng.normal(size=8)])
                for i in range(n)
            ],
            "vec_id bigint, embedding array<float>",
        )

    idx = IVFIndex(spark, str(tmp_path / "ivf"), dim=8, n_list=4)
    idx.build(vecs(64, 0))
    idx.add_batch(vecs(32, 1000))
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(idx.lists_path)
        .select("cid", "list_id")
        .collect()
    )
    idx.remove_batch(spark.createDataFrame([(5,)], "vec_id bigint"))
    rep = idx.compact_buckets(max_files_per_bucket=1)["lists"]
    assert rep["buckets_compacted"] > 0
    assert rep["files_after"] < rep["files_before"]
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(idx.lists_path)
        .select("cid", "list_id")
        .collect()
    )
    assert after == before  # defrag only — tombstoned row still present
    assert idx._has_files(idx.tombstones_path)
    # noop when nothing hot
    rep2 = idx.compact_buckets(max_files_per_bucket=1)["lists"]
    assert rep2["buckets_compacted"] == 0


# --- r12: tombstone-aware per-bucket compaction ---------------------------


def test_bucket_id_col_matches_physical_file_placement(spark, tmp_path):
    """The dirty-bucket discovery rests on ``bucket_id_col`` being the
    EXACT bucket function of the store's files — pin it against
    physical placement: for every sigs row, ``pmod(hash(doc_id), n)``
    equals the bucket id baked into the file name the row lives in."""
    from pyspark.sql.functions import input_file_name

    from mysql2clickhouse_spark.operators.store_common import (
        _BUCKET_ID_RE,
        bucket_id_col,
    )

    idx = _mk_minhash(spark, tmp_path)
    rows = (
        spark.read.parquet(idx.sigs_path)
        .select(
            bucket_id_col(["doc_id"], idx.n_buckets).alias("expect"),
            input_file_name().alias("f"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert int(_BUCKET_ID_RE.search(r["f"]).group(1)) == r["expect"]


def test_compact_tombstones_touches_only_dirty_buckets(spark, tmp_path):
    """The r12 delete unit: tombstoned rows leave sigs AND bands, every
    other row survives, untouched buckets keep their files by NAME
    identity, the ledger forgets the ids (re-ingest as new works), and
    the tombstone set clears — all in one call."""
    idx = _mk_minhash(spark, tmp_path)
    doomed = [3, 17]
    idx.remove_batch(
        spark.createDataFrame([(d,) for d in doomed], "doc_id bigint")
    )
    sigs_files_before = _files(idx.sigs_path)
    bands_files_before = _files(idx.bands_path)
    sigs_live = [
        t for t in _rows(spark, idx.sigs_path, ["doc_id"]) if t[0] not in doomed
    ]
    bands_live = [
        t
        for t in _rows(spark, idx.bands_path, ["band_idx", "band_hash", "doc_id"])
        if t[2] not in doomed
    ]

    rep = idx.compact_tombstones()
    assert rep["n_tombstones_applied"] == 2
    assert 0 < rep["sigs"]["files_rewritten"] < len(sigs_files_before)
    # physical: tombstoned rows gone, everything else intact
    assert _rows(spark, idx.sigs_path, ["doc_id"]) == sorted(sigs_live)
    assert (
        _rows(spark, idx.bands_path, ["band_idx", "band_hash", "doc_id"])
        == sorted(bands_live)
    )
    # untouched buckets' files survive by name identity
    kept = set(sigs_files_before) & set(_files(idx.sigs_path))
    assert len(kept) == len(sigs_files_before) - rep["sigs"]["files_rewritten"]
    kept_bands = set(bands_files_before) & set(_files(idx.bands_path))
    assert (
        len(kept_bands)
        == len(bands_files_before) - rep["bands"]["files_rewritten"]
    )
    # lifecycle: tombstones cleared, ledger forgot, re-ingest as new
    assert not idx._has_files(idx.tombstones_path)
    assert (
        spark.read.parquet(idx.ids_path).filter(F.col("doc_id") == 3).count()
        == 0
    )
    p = idx.add_batch(
        spark.createDataFrame(
            [(3, f"{BASE} 3 variant")], "doc_id bigint, text string"
        )
    )
    assert p.count() > 0  # pairs with its old near-dups again
    assert (
        spark.read.parquet(idx.sigs_path).filter(F.col("doc_id") == 3).count()
        == 1
    )
    # idempotent noop with no tombstones pending
    assert idx.compact_tombstones() == {}


def test_compact_tombstones_crash_mid_promotion_converges(spark, tmp_path):
    """Post-commit crash between the dirty buckets' old-file deletes
    and the staged renames (the worst window — delete-list + per-route
    replace in ONE marker): recover() at the next entry converges to
    the fully-compacted state, tombstones cleared, no row lost or
    doubled, no stale tombstone hiding a re-ingestable id."""
    from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

    idx = _mk_minhash(spark, tmp_path)
    idx.remove_batch(spark.createDataFrame([(7,)], "doc_id bigint"))
    sigs_live = [
        t for t in _rows(spark, idx.sigs_path, ["doc_id"]) if t[0] != 7
    ]

    class _FailBandsRename(LocalFS):
        def rename(self, src: str, dst: str) -> None:
            if f"{os.sep}bands{os.sep}" in dst and "__maint_staging" in src:
                raise OSError("injected crash mid tombstone compaction")
            super().rename(src, dst)

    idx.fs = _FailBandsRename()
    with pytest.raises(OSError, match="injected crash"):
        idx.compact_tombstones()
    assert os.path.isfile(os.path.join(idx.staging_path, "_INGEST_COMMIT"))

    idx2 = MinHashIndex(spark, str(tmp_path / "nd"))
    idx2.recover()
    assert not os.path.isdir(idx2.staging_path)
    assert _rows(spark, idx2.sigs_path, ["doc_id"]) == sorted(sigs_live)
    assert (
        spark.read.parquet(idx2.bands_path)
        .filter(F.col("doc_id") == 7)
        .count()
        == 0
    )
    assert not idx2._has_files(idx2.tombstones_path)
    assert (
        spark.read.parquet(idx2.ids_path).filter(F.col("doc_id") == 7).count()
        == 0
    )


def test_simhash_compact_tombstones(spark, tmp_path):
    """The SimHash twin of the r12 delete unit: same contract, blocks
    table instead of bands."""
    from mysql2clickhouse_spark.operators.simhash_index import SimHashIndex

    idx = SimHashIndex(spark, str(tmp_path / "sh"), n_buckets=8)
    idx.add_batch(
        spark.createDataFrame(
            [(i, f"{BASE} {i} variant") for i in range(40)],
            "doc_id bigint, text string",
        )
    )
    idx.remove_batch(spark.createDataFrame([(11,)], "doc_id bigint"))
    blocks_files_before = _files(idx.blocks_path)
    rep = idx.compact_tombstones()
    assert rep["n_tombstones_applied"] == 1
    assert (
        spark.read.parquet(idx.sigs_path).filter(F.col("doc_id") == 11).count()
        == 0
    )
    assert (
        spark.read.parquet(idx.blocks_path)
        .filter(F.col("doc_id") == 11)
        .count()
        == 0
    )
    kept = set(blocks_files_before) & set(_files(idx.blocks_path))
    assert (
        len(kept)
        == len(blocks_files_before) - rep["blocks"]["files_rewritten"]
    )
    assert not idx._has_files(idx.tombstones_path)
