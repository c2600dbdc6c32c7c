"""Invariant tests for the hash-family extensions (the ops the driver
checks rows-only): MinHash-LSH recall on planted near-dups, SimHash
hamming locality, LSH-ANN recall vs brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql2clickhouse_spark.functions.minhash import (
    simhash_near_dups,
    verified_near_dups,
    with_minhash_signature,
    with_shingles,
    with_simhash,
)
from mysql2clickhouse_spark.functions.similarity import cosine_topk, lsh_bucketed_topk
from mysql2clickhouse_spark.sources.tables import load_table

MUT_OFFSET = 1000000


@pytest.fixture(scope="module")
def docs_with_mutants(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    return d.unionByName(mut).cache()


def test_minhash_lsh_recovers_planted_pairs(docs_with_mutants):
    n_docs = docs_with_mutants.count() // 2
    shingled = with_shingles(docs_with_mutants, "text", k=5)
    pairs = verified_near_dups(shingled, "doc_id", threshold=0.7)
    planted = pairs.filter(F.col("id_b") == F.col("id_a") + MUT_OFFSET).count()
    # LSH with 8 bands x 4 rows at jaccard ~0.95 => recall ~1
    assert planted >= 0.98 * n_docs
    # and verification keeps precision: every surviving pair really has
    # jaccard >= 0.7 (checked by construction) and a sane count
    assert pairs.count() < 3 * n_docs


def test_minhash_signature_shape(docs_with_mutants):
    from mysql2clickhouse_spark.functions.minhash import DEFAULT_NUM_PERM

    sig = with_minhash_signature(with_shingles(docs_with_mutants.limit(10)))
    row = sig.select("minhash").first()
    assert len(row["minhash"]) == DEFAULT_NUM_PERM
    assert all(v >= 0 for v in row["minhash"])


def test_simhash_locality(docs_with_mutants):
    """Planted near-dup pairs must agree on most simhash bits; random
    pairs must not."""
    sh = with_simhash(docs_with_mutants, "text").select("doc_id", "simhash")
    a = sh.filter(F.col("doc_id") < MUT_OFFSET).alias("a")
    b = sh.filter(F.col("doc_id") >= MUT_OFFSET).alias("b")

    joined = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + MUT_OFFSET).select(
        F.col("a.simhash").alias("h1"), F.col("b.simhash").alias("h2")
    )
    pdf = joined.toPandas()

    def ham(h1, h2):
        return bin(int(h1, 16) ^ int(h2, 16)).count("1")

    dists = [ham(r.h1, r.h2) for r in pdf.itertuples()]
    assert sum(d <= 16 for d in dists) >= 0.95 * len(dists)
    planted_mean = sum(dists) / len(dists)

    rnd = (
        a.limit(50).crossJoin(b.limit(50))
        .filter(F.col("b.doc_id") != F.col("a.doc_id") + MUT_OFFSET)
        .select(F.col("a.simhash").alias("h1"), F.col("b.simhash").alias("h2"))
        .toPandas()
    )
    rnd_d = [ham(r.h1, r.h2) for r in rnd.itertuples()]
    rnd_mean = sum(rnd_d) / len(rnd_d)
    # shared vocabulary compresses distances on this corpus; locality =
    # planted pairs sit far below the random-pair baseline
    assert planted_mean < rnd_mean - 5
    assert rnd_mean > 12


def test_simhash_pair_finding_matches_bruteforce_within_guarantee(docs_with_mutants):
    """4-block banding GUARANTEES every pair with hamming ≤ 3 is
    bucketed together (pigeonhole); the operator's output must EQUAL
    brute force — this is an exact operator, not an approximation."""
    sh = with_simhash(docs_with_mutants, "text").select("doc_id", "simhash").cache()
    found = simhash_near_dups(sh, "doc_id")  # defaults: 4 blocks, ≤ 3
    got = {(r.id_a, r.id_b): r.hamming for r in found.collect()}

    pdf = sh.toPandas()
    hs = dict(zip(pdf.doc_id, pdf.simhash))
    ids = sorted(hs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(int(hs[a], 16) ^ int(hs[b], 16)).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want
    planted_found = sum(1 for (a, b) in got if b == a + MUT_OFFSET)
    n_docs = len(ids) // 2
    assert planted_found >= 0.5 * n_docs  # planted hamming p50 = 2


def test_embedding_cosine_dedup_finds_exact_copies(spark, sf_dir):
    from mysql2clickhouse_spark.plans.extensions import dedup_embedding_cosine

    emb_n = load_table(spark, sf_dir, "embeddings").count()
    pairs = dedup_embedding_cosine(spark, sf_dir).collect()
    # exactly the planted exact-copy pairs, all at cosine ~1.0
    assert len(pairs) == emb_n
    assert all(r.id_b == r.id_a + MUT_OFFSET for r in pairs)
    assert all(r.sim >= 0.9999 for r in pairs)


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    exact = cosine_topk(c, q, k=10)
    approx = lsh_bucketed_topk(c, q, dim=64, k=10, n_planes=6)
    e = {(r.qid, r.cid) for r in exact.collect()}
    a = {(r.qid, r.cid) for r in approx.collect()}
    # 6-bit cosine LSH on random vectors: modest recall demanded, and
    # every approx hit must be a real corpus pair
    assert len(a & e) >= 0.2 * len(e)
    assert all(p[1] >= 5 for p in a)


def test_bruteforce_topk_is_sorted_and_complete(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    res = cosine_topk(c, q, k=10).collect()
    by_q: dict = {}
    for r in res:
        by_q.setdefault(r.qid, []).append((r.rk, r.sim))
    assert set(by_q) == {0, 1, 2, 3, 4}
    for pairs in by_q.values():
        pairs.sort()
        assert [p[0] for p in pairs] == list(range(1, 11))
        sims = [p[1] for p in pairs]
        assert sims == sorted(sims, reverse=True)


def test_ivf_ann_recall_vs_bruteforce(spark, sf_dir):
    from mysql2clickhouse_spark.functions.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    exact = cosine_topk(c, q, k=10)
    approx = ivf_topk(c, q, dim=64, k=10, n_list=8, nprobe=3)
    e = {(r.qid, r.cid) for r in exact.collect()}
    a = {(r.qid, r.cid) for r in approx.collect()}
    # probing 3/8 lists on random vectors: every hit must be a real
    # corpus pair and overlap with the exact top-k must be substantial
    assert len(a & e) >= 0.3 * len(e)
    assert all(p[1] >= 5 for p in a)


def test_ivf_lists_partition_the_corpus(spark, sf_dir):
    from mysql2clickhouse_spark.functions.similarity import (
        train_ivf_centroids,
        with_ivf_lists,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    C = train_ivf_centroids(emb, dim=64, n_list=8)
    assert C.shape == (8, 64)
    # unit-norm centroids (spherical k-means)
    import numpy as np

    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)
    assigned = with_ivf_lists(emb, C, nprobe=1)
    n = emb.count()
    # nprobe=1: exactly one list per vector -> a true partition
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    n_lists_used = assigned.select("list_id").distinct().count()
    assert 2 <= n_lists_used <= 8


def test_pq_ann_recall_and_code_compactness(spark, sf_dir):
    from mysql2clickhouse_spark.functions.similarity import (
        pq_topk,
        train_pq_codebooks,
        with_pq_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    exact = cosine_topk(c, q, k=10)
    approx = pq_topk(c, q, dim=64, k=10)
    e = {(r.qid, r.cid) for r in exact.collect()}
    a = {(r.qid, r.cid) for r in approx.collect()}
    # ADC + 5x refine on random vectors: substantial overlap, real pairs
    assert len(a & e) >= 0.5 * len(e)
    assert all(p[1] >= 5 for p in a)
    # sims on overlapping pairs are the EXACT dot (refine step), so they
    # must agree with brute force bit-for-bit
    es = {(r.qid, r.cid): r.sim for r in exact.collect()}
    for r in approx.collect():
        if (r.qid, r.cid) in es:
            assert r.sim == es[(r.qid, r.cid)]

    # codes: m ids in [0, ksub), deterministic across invocations
    books = train_pq_codebooks(emb, dim=64, m=8, ksub=16)
    assert books.shape == (8, 16, 8)
    coded = with_pq_codes(emb.select("vec_id", "embedding"), books)
    rows = coded.select("vec_id", "codes").collect()
    assert all(len(r.codes) == 8 and all(0 <= x < 16 for x in r.codes) for r in rows)
    books2 = train_pq_codebooks(emb, dim=64, m=8, ksub=16)
    import numpy as np

    assert np.array_equal(books, books2)


def test_ivfpq_ann_recall_and_store_shape(spark, sf_dir):
    from mysql2clickhouse_spark.functions.similarity import cosine_topk, ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    exact = {(r.qid, r.cid): r.sim for r in cosine_topk(c, q, k=10).collect()}
    approx = ivfpq_topk(c, q, dim=64, k=10).collect()
    a = {(r.qid, r.cid) for r in approx}
    assert len(a & set(exact)) >= 0.2 * len(exact)
    # exact refine: overlapping sims agree with brute force bit-for-bit
    for r in approx:
        if (r.qid, r.cid) in exact:
            assert r.sim == exact[(r.qid, r.cid)]
    # full top-k per query, correct ranks
    by_q = {}
    for r in approx:
        by_q.setdefault(r.qid, []).append(r.rk)
    assert set(by_q) == {0, 1, 2, 3, 4}
    assert all(sorted(v) == list(range(1, 11)) for v in by_q.values())


def test_hot_bucket_guard_quarantines_and_logs(spark, caplog):
    """Planted pathological corpus: 60 identical docs collapse every
    band into ONE bucket (60*59/2 = 1770 pairs per band without the
    guard). With the cap set below the clone count the guard must (a)
    log the quarantine with a drop count, (b) keep the clone pairs out
    of the candidate set (bounded task skew), and (c) leave ordinary
    near-dup pairs untouched."""
    import logging

    from mysql2clickhouse_spark.functions.minhash import (
        drain_quarantine_logs,
        lsh_candidate_pairs,
        minhash_signatures,
        with_hset,
    )

    base = "the quick brown fox jumps over the lazy dog in suit number"
    rows = [(i, f"{base} {i} variant") for i in range(20)]
    rows += [(1000 + i, f"{base} {i} variant!") for i in range(5)]  # near-dups
    rows += [(5000 + i, "identical boilerplate " * 8) for i in range(60)]  # hot
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = minhash_signatures(with_hset(docs, "text", 5))

    drain_quarantine_logs()  # flush observations from earlier plans
    with caplog.at_level(logging.WARNING, "mysql2clickhouse_spark.lsh"):
        cands = lsh_candidate_pairs(sigs, max_bucket_size=30).collect()
        # lazy quarantine: the drop count rides an observe() metric that
        # lands with the action — drain emits the WARN, no extra job
        assert drain_quarantine_logs() == 1
    assert any("quarantined" in r.message for r in caplog.records)
    pairs = {(r.id_a, r.id_b) for r in cands}
    # no pair between two clones survives (the n^2 bucket is gone) ...
    assert not any(a >= 5000 and b >= 5000 for a, b in pairs)
    # ... while the planted ordinary near-dups still surface
    assert {(i, 1000 + i) for i in range(5)} <= pairs

    # guard disabled: the clone pairs come back (59 * 60 / 2 of them)
    cands_off = lsh_candidate_pairs(sigs, max_bucket_size=None).collect()
    clone_pairs = {
        (r.id_a, r.id_b)
        for r in cands_off
        if r.id_a >= 5000 and r.id_b >= 5000
    }
    assert len(clone_pairs) == 60 * 59 // 2

    # default cap (4096) leaves this corpus untouched: no log, same pairs
    caplog.clear()
    with caplog.at_level(logging.WARNING, "mysql2clickhouse_spark.lsh"):
        cands_default = lsh_candidate_pairs(sigs).collect()
        assert drain_quarantine_logs() == 0  # zero drop count ⇒ no WARN
    assert not caplog.records
    assert {(r.id_a, r.id_b) for r in cands_default} == {
        (r.id_a, r.id_b) for r in cands_off
    }


def test_simhash_hot_bucket_guard(spark, caplog):
    """Same guard on the simhash block banding: identical fingerprints
    share all four blocks; capping quarantines them with a log line."""
    import logging

    from mysql2clickhouse_spark.functions.minhash import (
        drain_quarantine_logs,
        with_simhash,
    )

    rows = [(i, "constant text for everyone " * 4) for i in range(50)]
    rows += [(1000 + i, f"distinct words here alpha beta {i} gamma delta") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = with_simhash(docs, "text", attach=False)
    drain_quarantine_logs()  # flush observations from earlier plans
    with caplog.at_level(logging.WARNING, "mysql2clickhouse_spark.lsh"):
        pairs = simhash_near_dups(sh, max_bucket_size=20).collect()
        assert drain_quarantine_logs() == 1
    assert any("quarantined" in r.message for r in caplog.records)
    assert not any(r.id_a < 1000 and r.id_b < 1000 for r in pairs)


def test_shingle_scratch_column_survives_collision(spark):
    """A frame already carrying __m2c_lc_text keeps it through the
    shingle/hset passes (the scratch name derives uniquely)."""
    from mysql2clickhouse_spark.functions.minhash import with_hset, with_shingles

    df = spark.createDataFrame(
        [(1, "some text here", "keep me")],
        "doc_id bigint, text string, __m2c_lc_text string",
    )
    for out in (with_shingles(df, "text"), with_hset(df, "text")):
        row = out.collect()[0]
        assert row["__m2c_lc_text"] == "keep me"


def test_ann_lsh_guard_none_disables_and_default_is_on(spark):
    """ADVICE-r4 contract pin: ``max_bucket_size=None`` DISABLES the
    ANN hot-bucket guard (round 4 silently remapped None to the
    default, making opt-out impossible), while the default guards. A
    planted constant-embedding corpus makes every table's bucket hot:
    with the guard capped below the corpus size the hot vectors
    disappear from the candidate set; with None they are retrievable."""
    import numpy as np

    rng = list(range(64))
    rows = [(i, [1.0] * 64) for i in range(60)]          # one hot bucket
    rows += [(1000 + i, [float((i * 37 + j) % 13 - 6) for j in rng]) for i in range(20)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = spark.createDataFrame(
        [(9001, [1.0] * 64)], "vec_id bigint, embedding array<double>"
    )

    guarded = lsh_bucketed_topk(
        corpus, queries, dim=64, k=5, max_bucket_size=30
    ).collect()
    assert not any(r.cid < 60 for r in guarded)  # hot bucket quarantined

    off = lsh_bucketed_topk(
        corpus, queries, dim=64, k=5, max_bucket_size=None
    ).collect()
    assert any(r.cid < 60 for r in off)  # guard off: clones retrievable
    assert all(abs(r.sim - 1.0) < 1e-6 for r in off if r.cid < 60)


def test_arrow_signer_bit_identical_to_aggregate_form(spark, docs_with_mutants):
    """minhash_signatures_arrow must produce EXACTLY the aggregate
    form's values (same params, same int64 arithmetic, same min) and
    the same empty-doc policy — the banding pipeline and the persisted
    neardup_index store both depend on cross-form compatibility."""
    from pyspark.sql import functions as F

    from mysql2clickhouse_spark.functions.minhash import (
        minhash_signatures,
        minhash_signatures_arrow,
        with_hset,
    )

    docs = docs_with_mutants.limit(30).select("doc_id", "text")
    degenerate = spark.createDataFrame(
        [(9000001, None), (9000002, "")],  # null/empty text => empty hset
        "doc_id bigint, text string",
    )
    hashed = with_hset(docs.unionByName(degenerate))
    agg = minhash_signatures(hashed)
    arr = minhash_signatures_arrow(hashed)
    assert agg.count() == arr.count()  # empty docs dropped by BOTH
    mismatches = (
        agg.join(arr.withColumnRenamed("minhash", "m2"), "doc_id")
        .filter(F.col("minhash") != F.col("m2"))
        .count()
    )
    assert mismatches == 0
    ids = {r["doc_id"] for r in arr.select("doc_id").collect()}
    assert ids.isdisjoint({9000001, 9000002})
