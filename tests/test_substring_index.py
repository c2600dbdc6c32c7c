"""SubstringIndex (incremental exact-substring dedup): the union of
per-batch removal reports must EQUAL the one-shot ``substring_dedup``
over the full corpus when batches arrive in ascending id ranges, the
store must grow by exactly the new first occurrences, and replayed
batches must be no-ops."""

from __future__ import annotations

from mysql2clickhouse_spark.functions.text import substring_dedup
from mysql2clickhouse_spark.operators.substring_index import SubstringIndex

K = 4

B1 = [
    (1, "w1 w2 w3 w4 w5 w6"),
    (2, "x1 x2 x3 x4 x5"),
    (3, "w1 w2 w3 w4 w5 w6"),          # in-batch exact copy of 1
    (4, None),                          # degenerate
]
B2 = [
    (5, "x1 x2 x3 x4 x5"),              # cross-batch exact copy of 2
    (6, "y1 y2 w1 w2 w3 w4 y3"),        # interior span from batch 1
    (7, "z1 z2 z3 z4 z5 z6 z7"),        # fresh
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_batched_ingest_equals_one_shot(spark, tmp_path):
    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    r1 = idx.add_batch(_mk(spark, B1))
    r2 = idx.add_batch(_mk(spark, B2))
    got = _rows(r1) + _rows(r2)
    want = _rows(substring_dedup(_mk(spark, B1 + B2), K))
    assert sorted(got) == sorted(want)
    # cross-batch spans were judged against the STORE: doc 5 is fully
    # removed (its first occurrence lives in batch 1's doc 2)
    by_id = {r[0]: r for r in got}
    assert by_id[5][2] == 5  # n_removed == n_tokens
    assert by_id[6][2] == 4  # the interior w1..w4 span only
    assert by_id[7][2] == 0


def test_store_grows_by_new_firsts_only(spark, tmp_path):
    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    idx.add_batch(_mk(spark, B1))
    n1 = idx.n_grams()
    # doc 1 has 3 grams, doc 2 has 2; doc 3's are all copies; doc 4 none
    assert n1 == 5
    idx.add_batch(_mk(spark, B2))
    # doc 5 adds none; doc 6 adds its 3 non-copied grams (those touching
    # y-tokens); doc 7 adds its 4
    assert idx.n_grams() == n1 + 3 + 4


def test_replayed_batch_is_a_noop(spark, tmp_path):
    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    idx.add_batch(_mk(spark, B1))
    n = idx.n_grams()
    replay = idx.add_batch(_mk(spark, B1))
    assert replay.count() == 0
    assert idx.n_grams() == n
    # the store still judges later batches correctly after the replay
    r2 = idx.add_batch(_mk(spark, B2))
    assert {r["doc_id"]: r["n_removed"] for r in r2.collect()}[5] == 5


def test_compact_bounds_files_and_preserves_store(spark, tmp_path):
    """Per-ingest appends decay into small files; compact must rewrite
    to one file per bucket, preserve every stored gram, and leave the
    bucketed membership join (and later judging) intact."""
    import os

    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K, n_buckets=4)
    idx.add_batch(_mk(spark, B1))
    idx.add_batch(_mk(spark, B2))
    n = idx.n_grams()
    rep = idx.compact()
    assert rep["firsts"]["files_after"] <= 4
    assert rep["firsts"]["files_after"] <= rep["firsts"]["files_before"]
    assert idx.n_grams() == n
    assert not os.path.isdir(idx.staging_path)
    # the compacted store still judges a later batch correctly: doc 9
    # is a whole-doc copy of batch 1's doc 2
    r = idx.add_batch(_mk(spark, [(9, "x1 x2 x3 x4 x5")]))
    assert {x["doc_id"]: x["n_removed"] for x in r.collect()}[9] == 5


def test_interrupted_compact_swap_rolls_forward(spark, tmp_path):
    """Crash between the compaction marker and the dir swaps: the next
    entry must converge the swap (whole-dir replace, not append), with
    no gram lost or duplicated."""
    from mysql2clickhouse_spark.fs import LocalFS

    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K, n_buckets=4)
    idx.add_batch(_mk(spark, B1))
    idx.add_batch(_mk(spark, B2))
    n = idx.n_grams()

    class _FailSwap(LocalFS):
        def rename(self, src: str, dst: str) -> None:
            if src.endswith("firsts") or src.endswith("docs"):
                raise OSError("injected crash mid compaction swap")
            super().rename(src, dst)

    idx.fs = _FailSwap()
    try:
        idx.compact()
        raise AssertionError("compact should have crashed")
    except OSError:
        pass

    idx2 = SubstringIndex(spark, str(tmp_path / "idx"), k=K, n_buckets=4)
    assert idx2.recover() == 1
    assert idx2.n_grams() == n
    r = idx2.add_batch(_mk(spark, [(9, "x1 x2 x3 x4 x5")]))
    assert {x["doc_id"]: x["n_removed"] for x in r.collect()}[9] == 5


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


def test_delete_forget_semantics_logical(spark, tmp_path):
    """remove_batch FORGETS grams owned by deleted docs: a later copy
    of a deleted doc is judged fresh (missed dedup, never false
    removal), re-claims the grams, and survivor-owned grams keep
    deduplicating; pre-compact redelivery of a deleted id is dropped."""
    import os

    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    idx.add_batch(_mk(spark, B1))
    idx.add_batch(_mk(spark, B2))

    # doc 1 owns all three w-grams; doc 7 its four z-grams; 999 unknown
    assert idx.remove_batch(_ids(spark, [1, 7, 999])) == 2
    assert idx.remove_batch(_ids(spark, [1, 7])) == 0  # re-delete no-op

    # copy of deleted doc 1 at a new id: FRESH (grams forgotten)...
    by8 = {r[0]: r for r in _rows(idx.add_batch(_mk(spark, [(8, "w1 w2 w3 w4 w5 w6")])))}
    assert by8[8][2] == 0
    # ...and doc 8 re-claimed them: the next copy is fully duplicated
    by9 = {r[0]: r for r in _rows(idx.add_batch(_mk(spark, [(9, "w1 w2 w3 w4 w5 w6")])))}
    assert by9[9][2] == 6
    # survivor-owned grams still dedup (doc 2 was not deleted)
    by10 = {r[0]: r for r in _rows(idx.add_batch(_mk(spark, [(10, "x1 x2 x3 x4 x5")])))}
    assert by10[10][2] == 5
    # pre-compact redelivery of a tombstoned id: dropped by the ledger
    assert idx.add_batch(_mk(spark, [(1, "w1 w2 w3 w4 w5 w6")])).count() == 0

    # PHYSICAL: compact drops the deleted docs' rows + ledger entries
    idx.compact()
    assert idx._tombstones() is None  # cleared (empty swapped-in dir)
    owners = {
        r.doc_id for r in spark.read.parquet(idx.firsts_path).select("doc_id").collect()
    }
    assert owners.isdisjoint({1, 7})
    # post-compact a deleted id re-ingests as new: judged afresh, and
    # its solely-owned grams (z1..z7, forgotten) re-enter the store
    n_before = idx.n_grams()
    by7 = {r[0]: r for r in _rows(idx.add_batch(_mk(spark, [(7, "z1 z2 z3 z4 z5 z6 z7")])))}
    assert by7[7][2] == 0
    assert idx.n_grams() == n_before + 4


def test_remove_crash_before_marker_leaves_store_intact(spark, tmp_path):
    """Pre-commit crash during remove_batch: no tombstone lands, the
    membership view is unchanged, and the retried delete converges."""
    import pytest

    from mysql2clickhouse_spark.fs import LocalFS

    class _FailMarkerWrite(LocalFS):
        def write_text_atomic(self, path: str, text: str) -> None:
            if path.endswith("_INGEST_COMMIT"):
                raise OSError("injected crash before tombstone commit")
            super().write_text_atomic(path, text)

    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    idx.add_batch(_mk(spark, B1))
    idx.fs = _FailMarkerWrite()
    with pytest.raises(OSError, match="injected crash"):
        idx.remove_batch(_ids(spark, [1]))

    idx2 = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    # nothing committed: a copy of doc 1 is still fully duplicated
    byc = {r[0]: r for r in _rows(idx2.add_batch(_mk(spark, [(20, "w1 w2 w3 w4 w5 w6")])))}
    assert byc[20][2] == 6
    # the retried delete converges (doc 1 still the w-gram owner: the
    # reclaim by doc 20 never happened because nothing was forgotten)
    assert idx2.remove_batch(_ids(spark, [1])) == 1


def test_path_only_reopen_adopts_geometry(spark, tmp_path):
    """k=None adopts k and n_buckets from the store meta (the
    streaming-ingest production shape: the job knows only the path) —
    including for a freshly created, never-ingested store; a fresh
    path with k=None is refused, and a mismatching explicit k still
    raises."""
    import pytest

    path = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="needs k"):
        SubstringIndex(spark, path, k=None)
    SubstringIndex(spark, path, k=K, n_buckets=8)  # meta lands at creation
    re1 = SubstringIndex(spark, path, k=None)
    assert (re1.k, re1.n_buckets) == (K, 8)
    re1.add_batch(_mk(spark, B1))
    re2 = SubstringIndex(spark, path, k=None)
    assert (re2.k, re2.n_buckets) == (K, 8)
    # the adopted reopen judges against the existing store
    by = {r[0]: r for r in _rows(re2.add_batch(_mk(spark, [(30, "w1 w2 w3 w4 w5 w6")])))}
    assert by[30][2] == 6
    with pytest.raises(ValueError, match="built with k"):
        SubstringIndex(spark, path, k=K + 1)


def test_compact_crash_cannot_strand_stale_tombstones(spark, tmp_path):
    """Regression for the reproduced round-9 review finding: a crash
    between the compact promotion and the tombstone clear must not
    leave a stale tombstone that hides (and later silently deletes) a
    re-ingested doc — the cleared set now rides the same commit."""
    import os

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

    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    idx.add_batch(_mk(spark, B1))
    idx.remove_batch(_ids(spark, [1]))

    # replace-mode promotion order is (firsts, docs, tombstones): fail
    # the THIRD rename — stores swapped, clear still staged
    idx.fs = _FailNthRename(fail_on=3)
    with pytest.raises(OSError, match="injected"):
        idx.compact()
    assert os.path.isdir(os.path.join(idx.staging_path, "tombstones"))

    # re-ingest the deleted doc: recover() at entry converges the clear
    # first — judged fresh, grams re-enter, and a further compact keeps
    # them (the old protocol silently deleted them here)
    idx2 = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    by = {r[0]: r for r in _rows(idx2.add_batch(_mk(spark, [(1, "w1 w2 w3 w4 w5 w6")])))}
    assert by[1][2] == 0
    assert idx2._tombstones() is None
    idx2.compact()
    owners = {
        r.doc_id
        for r in spark.read.parquet(idx2.firsts_path).select("doc_id").collect()
    }
    assert 1 in owners


def test_compact_applies_tombstones_without_firsts(spark, tmp_path):
    """A store whose docs are all shorter than k holds no firsts files,
    only its ledger; compact must still apply the tombstones and make
    the ledger forget the deleted id, so it can re-ingest."""
    short = [(1, "a b"), (2, "c")]
    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    idx.add_batch(_mk(spark, short))
    assert idx.n_grams() == 0
    assert idx.remove_batch(_ids(spark, [1])) == 1
    idx.compact()
    st = idx.stats()
    assert st["n_tombstoned"] == 0
    assert st["n_docs"] == 1
    # the re-ingest is judged afresh: its report row is the one-shot's
    got = _rows(idx.add_batch(_mk(spark, short[:1])))
    assert len(got) == 1
    assert got == _rows(substring_dedup(_mk(spark, short[:1]), K))


def test_arrival_precedence_under_non_ascending_order(spark, tmp_path):
    """The docstring's arbitrary-arrival contract: the store encodes
    FIRST-SEEN order, so when batches arrive out of id order the
    earlier ARRIVAL owns the gram and later copies are judged against
    it — well-defined, just not equal to the one-shot's lexicographic
    report."""
    idx = SubstringIndex(spark, str(tmp_path / "idx"), k=K)
    r2 = {r[0]: r for r in _rows(idx.add_batch(_mk(spark, B2)))}  # arrives FIRST
    r1 = {r[0]: r for r in _rows(idx.add_batch(_mk(spark, B1)))}

    # within the first-arriving batch, doc 5's copy text is fresh (its
    # original, doc 2, has not arrived yet)
    assert r2[5][2] == 0
    # doc 2 then arrives second and is judged fully duplicated against
    # doc 5's stored grams (x1..x4, x2..x5)
    assert r1[2][2] == 5
    # doc 6 ("y1 y2 w1 w2 w3 w4 y3") arrived first and owns the gram
    # w1w2w3w4, so doc 1's copy of that span is removed: positions 1-4
    # of "w1 w2 w3 w4 w5 w6" (k=4 span), rest kept
    assert r1[1][2] == 4
    # doc 3 (exact copy of doc 1, same batch) is fully duplicated
    assert r1[3][2] == 6


def test_probe_is_read_only_and_matches_ingest_report(spark, tmp_path):
    """probe() returns exactly the report add_batch would produce for
    the same batch against the same store state, with zero mutation —
    and probing an already-stored doc reports it fully duplicated."""
    import os

    from mysql2clickhouse_spark.operators.substring_index import SubstringIndex

    b1 = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6"), (2, "x1 x2 x3 x4 x5")],
        "doc_id bigint, text string",
    )
    b2 = spark.createDataFrame(
        [(5, "x1 x2 x3 x4 x5"), (7, "z1 z2 z3 z4 z5"), (8, "x1 x2 x3 x4 q9")],
        "doc_id bigint, text string",
    )
    # twin stores with identical state: probe on one, ingest on the other
    a = SubstringIndex(spark, str(tmp_path / "a"), k=4, n_buckets=8)
    b = SubstringIndex(spark, str(tmp_path / "b"), k=4, n_buckets=8)
    a.add_batch(b1)
    b.add_batch(b1)

    def _census(idx):
        return sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(idx.path)
            for f in fs
            if f.endswith(".parquet")
        )

    before = _census(a)
    probed = a.probe(b2)
    ingested = b.add_batch(b2)
    got = sorted(tuple(r) for r in probed.collect())
    want = sorted(tuple(r) for r in ingested.collect())
    assert got == want
    assert _census(a) == before, "probe must not touch the store"
    assert a.stats()["n_docs"] == 2  # nothing ledgered

    # a stored doc probes as fully duplicated (its grams are its own)
    rep = a.probe(b1.filter("doc_id = 2")).collect()[0]
    assert rep.n_removed == rep.n_tokens

    # tombstoned docs' grams are forgotten by the probe too
    a.remove_batch(spark.createDataFrame([(2,)], "doc_id bigint"))
    rep2 = a.probe(b1.filter("doc_id = 2")).collect()[0]
    assert rep2.n_removed == 0
