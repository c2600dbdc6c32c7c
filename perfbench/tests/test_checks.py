"""The near-dup pair check rejects a deliberately damaged output (the
CDC check's damaged-output tests are in test_reference_fold.py)."""

import check
import gen


def test_pair_check_rejects_a_wrong_pair():
    corpus, planted = gen.documents(2, 100, 1, 50)
    texts = corpus["texts"]
    good = [(a, b) for a, b, _ in planted["pairs"]]
    assert good and check.check_pairs_jaccard(good, texts, 0.7) == []
    ids = sorted(texts)
    wrong = good + [(ids[0], ids[1])]
    problems = check.check_pairs_jaccard(wrong, texts, 0.7)
    assert len(problems) == 1 and f"({ids[0]}, {ids[1]})" in problems[0]


def test_recall():
    assert check.recall([(1, 2), (3, 4)], [(1, 2), (5, 6)]) == 0.5
    assert check.recall([], []) == 1.0
