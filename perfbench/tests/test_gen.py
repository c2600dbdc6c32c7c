"""Seeded generators: the same seed gives the same inputs, another seed
gives other inputs, and the planted properties are what they claim."""

import check
import gen


def test_changelog_is_deterministic_per_seed():
    a, pa_ = gen.changelog(3, n_events=3_000)
    b, pb = gen.changelog(3, n_events=3_000)
    assert a.equals(b)
    assert pa_ == pb


def test_changelog_differs_across_seeds():
    a, _ = gen.changelog(3, n_events=3_000)
    b, _ = gen.changelog(4, n_events=3_000)
    assert not a.equals(b)


def test_changelog_planted_counts_are_exact_on_two_seeds():
    for seed in (5, 6):
        tbl, planted = gen.changelog(seed, n_events=8_000)
        ref = check.reference_fold(tbl)
        assert planted["late_deletes"] > 0 and planted["poison_rows"] > 0
        assert ref["rejected_old_delete"] == planted["late_deletes"]
        assert ref["quarantined"] == planted["poison_rows"]
        assert ref["consumed"] + ref["quarantined"] == planted["events"]


def test_changelog_shape():
    tbl, planted = gen.changelog(9, n_events=5_000, events_per_file=1_000)
    assert tbl.schema == gen.CHANGELOG_SCHEMA
    assert tbl.column("seq").to_pylist() == list(range(5_000))
    assert planted["files"] == 5
    tables = set(tbl.column("table_name").to_pylist())
    assert tables == set(gen.APPEND_TABLES) | set(gen.MUTATE_TABLES)
    share = (planted["mutate_events"]) / (planted["append_events"] + planted["mutate_events"])
    assert 0.15 < share < 0.25


def test_documents_are_deterministic_and_differ_across_seeds():
    a, pa_ = gen.documents(1, 200, 2, 100)
    b, pb = gen.documents(1, 200, 2, 100)
    c, _ = gen.documents(2, 200, 2, 100)
    assert a["texts"] == b["texts"] and pa_ == pb
    assert a["texts"] != c["texts"]


def test_documents_plant_pairs_above_threshold_with_fresh_ids():
    corpus, planted = gen.documents(4, 300, 3, 200)
    ids = list(corpus["base"][0]) + [i for b in corpus["batches"] for i in b[0]]
    assert len(ids) == len(set(ids)) == 300 + 3 * 200
    assert planted["planted_pairs"] > 0
    for a, b, j in planted["pairs"]:
        assert a < b
        assert j >= 0.8
        assert gen.jaccard(corpus["texts"][a], corpus["texts"][b]) == j


def test_replays_reuse_stored_ids_with_far_apart_texts():
    corpus, _ = gen.documents(4, 300, 2, 100)
    ids, texts, sources = gen.replays(4, corpus, 25, 0)
    assert (ids, texts, sources) == gen.replays(4, corpus, 25, 0)
    assert ids != gen.replays(4, corpus, 25, 1)[0]
    assert len(set(ids) | set(sources)) == 50
    assert set(ids) <= set(corpus["base"][0])
    for i, t, s in zip(ids, texts, sources):
        assert t == corpus["texts"][s]
        assert gen.jaccard(corpus["texts"][i], t) < 0.7
