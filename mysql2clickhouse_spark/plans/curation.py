"""Corpus-curation operators beyond pair mining: near-dup CLUSTERING
(connected components over the pair graph), test-set DECONTAMINATION
(n-gram overlap against an eval set), sequence PACKING (token-budget
binning for training), and deterministic STRATIFIED SAMPLING.

These are the stages a production training-data pipeline runs after
(or alongside) the dedup/similarity ops in ``plans/extensions.py``:
pairs → clusters → canonical doc; corpus − eval leakage; docs →
fixed-token training sequences; corpus → per-language quota sample.

Every query here is fully deterministic (no engine-specific hash
functions), so each carries a complete DuckDB oracle — including the
connected-components result, which the oracle reproduces with a
recursive CTE (min-reachable-label closure).

Reference parity note: the reference has none of these (its dedup is
per-key latest-version, SURVEY §2.5 Q1-Q3); they are north-star
extensions mandated by BASELINE.json, built on the same corpus tables.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.graph import cluster_summary, connected_components
from ..functions.minhash import jaccard_col, with_shingles
from ..functions.text import (
    langid_col,
    quality_score_cols,
    substring_dedup,
    token_count_col,
    token_ngrams_col,
    tokens_col,
)
from ..sources.tables import load_table, spread

#: near-dup cluster corpus: two mutation generations plant 3-node chains
CC_OFF_1 = 1_000_000   # doc + ' extra'
CC_OFF_2 = 3_000_000   # doc + ' extra extra'
CC_EDGE_THRESHOLD = 0.7

#: decontamination: eval set = every 50th doc's first 12 tokens
DECON_EVAL_MOD = 50
DECON_PREFIX_TOKENS = 12
DECON_NGRAM = 8

#: sequence packing: shard fan-out and per-sequence token budget
PACK_SHARDS = 32
PACK_BUDGET = 2048

#: exact-substring dedup: duplicated-span length in tokens (Lee et al.
#: 2021 use 50 BPE tokens on web text; the synthetic corpus's docs are
#: ~40-60 words, so 10 keeps multiple spans per doc in play)
SUBSTR_K = 10

#: stratified sampling: per-language keep rates (default for unseen)
SAMPLE_RATES = {"en": 0.5, "de": 0.3, "es": 0.2, "fr": 0.4, "zh": 0.1}
SAMPLE_DEFAULT_RATE = 0.05
#: LCG constants (glibc): u = ((id*A + C) mod 2^31) / 2^31 — pure
#: BIGINT arithmetic both engines evaluate identically (no overflow for
#: id < 2^32; at larger ids pre-reduce id mod 2^31 first)
LCG_A, LCG_C, LCG_M = 1103515245, 12345, 1 << 31


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- near-dup clustering ----------------------------------------------------

def _cc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ∪ two mutant generations: (id) — (id+10^6, ' extra') —
    (id+3·10^6, ' extra extra'). Adjacent generations are near-dups, so
    the similarity graph contains 3-node chains — clusters that only
    emerge from transitive closure, which is exactly what the CC
    operator must recover (pair mining alone sees 2-3 separate edges)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    m1 = d.select(
        (F.col("doc_id") + CC_OFF_1).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    m2 = d.select(
        (F.col("doc_id") + CC_OFF_2).alias("doc_id"),
        F.concat("text", F.lit(" extra extra")).alias("text"),
    )
    return spread(d.unionByName(m1).unionByName(m2))


def _cc_edges(sh: DataFrame) -> DataFrame:
    """The deterministic generation-offset edge miner both cluster
    queries share (equi-joins on the mutation offsets — no all-pairs
    stage; exact Jaccard keeps the graph oracle-checkable)."""
    edges = None
    for off in (CC_OFF_1, CC_OFF_2 - CC_OFF_1, CC_OFF_2):
        a, b = sh.alias("a"), sh.alias("b")
        e = (
            a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + off)
            .withColumn(
                "j", jaccard_col(F.col("a.shingles"), F.col("b.shingles"))
            )
            .filter(F.col("j") >= CC_EDGE_THRESHOLD)
            .select(
                F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
            )
        )
        edges = e if edges is None else edges.unionByName(e)
    return edges


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: deterministic edge mining (exact
    5-gram Jaccard ≥ 0.7 on the generation pairs) → connected
    components → per-cluster rollup, singletons included — a complete
    partition of the corpus into (rep_id, n_members) groups, the thing
    a curation job writes back as its keep-list.

    The edge miner here is the ORACLE-CHECKABLE stand-in for the
    production pair source (``verified_near_dups`` — plug its output
    straight into ``connected_components``); exact Jaccard keeps the
    whole query deterministic so the driver can value-hash the cluster
    structure against DuckDB's recursive-CTE closure.

    Scale: edges are mined with equi-joins on the generation offset (no
    all-pairs stage); CC is O(log d) rounds of two narrow shuffles each
    (functions/graph.py); the rollup is one agg. The singleton
    completion is a broadcast anti-join against the (tiny) clustered-
    node set."""
    from ..session import release_cache, rotate_cache

    release_cache("curation.cc_shingles")  # BEFORE persist — see session.py
    sh = with_shingles(_cc_corpus(spark, sf_dir), "text", k=5).select(
        "doc_id", "shingles"
    )
    sh = sh.persist()
    sh.count()  # eager: 3 edge joins + the singleton pass consume it
    rotate_cache("curation.cc_shingles", sh)

    edges = _cc_edges(sh)

    comp = connected_components(edges, "id_a", "id_b")
    clusters = cluster_summary(comp)
    singles = (
        sh.select("doc_id")
        .join(
            F.broadcast(comp.select(F.col("node").alias("doc_id"))),
            "doc_id",
            "left_anti",
        )
        .select(F.col("doc_id").alias("rep_id"), F.lit(1).cast("bigint").alias("n_members"))
    )
    return clusters.unionByName(singles)


def dedup_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance certified against the one-shot
    closure (r10 verdict task 4 — pairs → clusters → canonical as an
    incremental pipeline): the SAME deterministic edge set as
    ``dedup_cluster_cc``, partitioned into 3 batches by edge hash (so
    every chain's edges scatter across folds and components only
    emerge from CROSS-BATCH closure), folded sequentially into a fresh
    ``ClusterIndex`` (operators/cluster_index.py). Certified facts, one
    row:

    - n_edges / n_nodes / n_components of the maintained assignment;
    - incremental_equals_oneshot — the folded table bag-equals
      ``connected_components`` over the full edge set (same canonical
      min-id labels, union-find closure is order-independent);
    - replay_noop — redelivering batch 0 after everything folded
      touches nothing (idempotent BY ALGEBRA: every replayed edge
      resolves to equal endpoint labels).

    The oracle recomputes the closure scalars with the recursive-CTE
    min-label walk (the ``dedup_cluster_cc`` oracle's graph); the two
    booleans are Spark-side certifications with fixed expected
    outcomes — the twin pattern every incremental store here uses."""
    from ..operators.cluster_index import ClusterIndex
    from ..session import release_cache, rotate_cache, scratch_dir

    release_cache("curation.cc_incr_shingles")  # BEFORE persist
    sh = with_shingles(_cc_corpus(spark, sf_dir), "text", k=5).select(
        "doc_id", "shingles"
    ).persist()
    sh.count()
    rotate_cache("curation.cc_incr_shingles", sh)
    edges = _cc_edges(sh).withColumn(
        "b", F.pmod(F.xxhash64("id_a", "id_b"), F.lit(3))
    ).localCheckpoint(eager=True)

    idx = ClusterIndex(
        spark, os.path.join(scratch_dir("m2c_ccinc_"), "cc"), n_buckets=8
    )
    for b in range(3):
        idx.add_pairs(edges.filter(F.col("b") == b))
    mine = idx.assignments()
    want = connected_components(edges, "id_a", "id_b")
    diff = (
        mine.exceptAll(want).unionByName(want.exceptAll(mine)).count()
    )
    rep = idx.add_pairs(edges.filter(F.col("b") == 0))  # redelivery
    replay_noop = rep["n_new_nodes"] == 0 and rep["n_merges"] == 0
    return spark.createDataFrame(
        [(
            edges.count(),
            mine.count(),
            mine.select("component").distinct().count(),
            diff == 0,
            replay_noop,
        )],
        "n_edges bigint, n_nodes bigint, n_components bigint, "
        "incremental_equals_oneshot boolean, replay_noop boolean",
    )


# --- curation pipeline with near-dup canonicalization ----------------------

#: the gate corpus_curation uses — imported, not restated, so the two
#: pipelines can't drift
from .extensions import CURATE_MIN_QUALITY, CURATE_MIN_TOKENS  # noqa: E402


def corpus_curation_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_curation`` extended past exact dedup with the NEAR-dup
    canonicalization stage — the full keep-list pipeline a training-data
    job runs: feature pass → quality gate → near-dup edge mining over
    the gated survivors → connected components → keep the min-id doc
    per cluster, carrying its features and cluster size.

    Exercised on the 3-generation mutant corpus (``_cc_corpus``): each
    surviving chain must collapse to ONE canonical doc whose
    ``cluster_size`` counts the gated generations; gated-out docs take
    no part in clustering (an edge through a dropped doc must not merge
    its neighbors — mirrored exactly in the oracle's closure).

    The edge miner is the deterministic generation-offset Jaccard of
    ``dedup_cluster_cc`` (oracle-checkable); production swaps in
    ``verified_near_dups`` pairs unchanged. Scale shape: gate before
    everything (one codegen scan), equi-join edge mining (no all-pairs),
    O(log d) CC rounds, one rollup agg, one broadcast anti-join for
    singletons."""
    from ..session import release_cache, rotate_cache

    q = quality_score_cols(F.col("text"))
    gated = (
        _cc_corpus(spark, sf_dir)
        .select(
            "doc_id",
            "text",
            q["n_tokens"].alias("n_tokens"),
            q["quality_score"].alias("quality_score"),
            langid_col(F.col("text")).alias("lang_guess"),
        )
        .filter(
            (F.col("n_tokens") >= CURATE_MIN_TOKENS)
            & (F.col("quality_score") >= CURATE_MIN_QUALITY)
        )
    )
    release_cache("curation.neardup_gated")  # BEFORE persist — see session.py
    gated = gated.persist()
    gated.count()  # eager: shingle pass + features + singleton pass
    rotate_cache("curation.neardup_gated", gated)

    sh = with_shingles(gated.select("doc_id", "text"), "text", k=5).select(
        "doc_id", "shingles"
    )
    edges = None
    for off in (CC_OFF_1, CC_OFF_2 - CC_OFF_1, CC_OFF_2):
        a, b = sh.alias("a"), sh.alias("b")
        e = (
            a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + off)
            .withColumn("j", jaccard_col(F.col("a.shingles"), F.col("b.shingles")))
            .filter(F.col("j") >= CC_EDGE_THRESHOLD)
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        )
        edges = e if edges is None else edges.unionByName(e)

    comp = connected_components(edges, "id_a", "id_b")
    clusters = cluster_summary(comp)  # (rep_id, n_members)
    singles = (
        gated.select("doc_id")
        .join(
            F.broadcast(comp.select(F.col("node").alias("doc_id"))),
            "doc_id",
            "left_anti",
        )
        .select(F.col("doc_id").alias("rep_id"), F.lit(1).cast("bigint").alias("n_members"))
    )
    keep = clusters.unionByName(singles)
    feats = gated.select(
        F.col("doc_id").alias("rep_id"), "n_tokens", "quality_score", "lang_guess"
    )
    return keep.join(feats, "rep_id").select(
        F.col("rep_id").alias("doc_id"),
        F.col("n_members").alias("cluster_size"),
        "n_tokens",
        "quality_score",
        "lang_guess",
    )


# --- test-set decontamination ----------------------------------------------

def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-vs-eval n-gram decontamination (the GPT-3 appendix-C
    procedure, 8-gram variant): the eval set is every 50th doc's first
    12 tokens; any training doc sharing ≥ 1 lower-cased 8-token gram
    with the eval set is flagged with its distinct shared-gram count.

    Output: (doc_id, n_shared_grams) for contaminated docs only — the
    source docs of the eval prompts must all flag themselves (their
    prefix IS an eval gram), plus whatever collides naturally.

    Scale: the eval gram set is tiny relative to the corpus (eval
    benchmarks are fixed-size) → broadcast inner join against the
    exploded training grams; one scan of the corpus, one narrow
    groupBy(doc_id). At extreme eval sizes swap the broadcast for a
    bloom-filter pre-pass; the plan shape otherwise survives 100 TB."""
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))

    eval_grams = (
        toks.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select(
            F.explode(
                token_ngrams_col(
                    F.slice("toks", 1, DECON_PREFIX_TOKENS), DECON_NGRAM
                )
            ).alias("gram")
        )
        .distinct()
    )
    train_grams = toks.select(
        "doc_id", F.explode(token_ngrams_col(F.col("toks"), DECON_NGRAM)).alias("gram")
    ).distinct()
    return (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def corpus_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-SUBSTRING dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better" — the ExactSubstr variant):
    doc-level dedup keeps near-copies that share long verbatim spans
    with other docs; this removes the SPANS, keeping the rest of the
    doc. The missing granularity between exact-doc dedup and
    MinHash/SimHash near-dup mining.

    Semantics (deterministic, fully mirrored by the oracle):
    - tokens = the shared whitespace tokenizer; k-gram start positions
      s = 1..len-k+1 with k = ``SUBSTR_K``;
    - a gram occurrence (doc, s) is DUPLICATED iff an occurrence of the
      same gram exists earlier in corpus order (lexicographic
      (doc_id, s) — first occurrence wins, everything later is cut);
    - token p of a doc is removed iff some duplicated occurrence starts
      in [p-k+1, p] (i.e. the token sits inside a duplicated span);
    - the kept text is the surviving tokens in order.

    Output: one row per doc — (doc_id, n_tokens, n_removed, kept_hash)
    with kept_hash = md5 of the space-joined kept text ('' when
    everything was removed / the doc was empty). Runs on the CC mutant
    corpus (base + two whole-doc mutant generations) so the planted
    expectation is layered: m1's base-span grams dedup against the
    base doc, m2's against m1, and the '...extra' tail grams dedup
    BETWEEN generations — span-level structure doc-level dedup can't
    see.

    Scale: suffix arrays (the paper's tool) don't distribute; this is
    the shuffle-native equivalent in exactly three corpus×token
    exchanges — (1) groupBy(gram) with a partial-aggregated min struct
    (map-side combine absorbs hot grams: boilerplate that repeats
    millions of times folds to one row per partition BEFORE the wire,
    the skew-safe alternative to a row_number window over gram), (2)
    the grams⋈first join back on gram (AQE skew-join splits residual
    hot keys), (3) one exchange on doc_id that the removal window AND
    the reassembly groupBy share. The per-doc window frame is
    rows-based over dense positions (bounded by doc length); the
    reassembly collect is grouped and doc-bounded — the lint-legal
    collect pattern. Core: ``functions.text.substring_dedup``
    (planted-expectation unit tests: ``tests/test_substring_dedup.py``;
    null-text docs tokenize to the empty array — one row per doc,
    n_tokens=0)."""
    return substring_dedup(_cc_corpus(spark, sf_dir), SUBSTR_K)


def corpus_substring_dedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-variant twin of ``corpus_substring_dedup``: the two-level
    hash-prefiltered exact pass (``substring_dedup_two_level`` — full
    corpus exchanges carry 8-byte gram hashes, strings cross the wire
    only for multi-occurrence hash buckets). Same semantics, same
    oracle; extended-registry only (plan variants never take a curated
    slot). BENCH_NOTES_r09.md records both forms' wall + shuffle
    bytes and the ship/record decision."""
    from ..functions.text import substring_dedup_two_level

    return substring_dedup_two_level(_cc_corpus(spark, sf_dir), SUBSTR_K)


def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-substring dedup certification
    (``operators/substring_index.py``): the CC corpus arrives as THREE
    batches in ascending id ranges (base docs, then each mutant
    generation — the ingest-pipeline shape), each judged against the
    persisted first-occurrence gram store with only the batch's text
    scanned. Certified, as one oracle row:

    - ``n_docs`` — every doc got a report row (DuckDB recounts 3× the
      documents table);
    - ``n_mismatch = 0`` — the union of per-batch reports is
      row-identical to the one-shot ``corpus_substring_dedup`` over the
      full corpus (ascending arrival ⇒ first-seen order == the
      one-shot's lexicographic (id, position) order; the removal logic
      itself is the SHARED ``removal_report``, so only the
      first-occurrence bookkeeping is actually under test);
    - ``replay_noop`` — redelivering batch 2 reports nothing and leaves
      the gram store unchanged (at-least-once safety).
    """
    from ..operators.substring_index import SubstringIndex
    from ..session import scratch_dir

    corpus = _cc_corpus(spark, sf_dir)
    idx = SubstringIndex(
        spark, os.path.join(scratch_dir("m2c_ssidx_"), "idx"), k=SUBSTR_K
    )
    batches = [
        corpus.filter(F.col("doc_id") < CC_OFF_1),
        corpus.filter(
            (F.col("doc_id") >= CC_OFF_1) & (F.col("doc_id") < CC_OFF_2)
        ),
        corpus.filter(F.col("doc_id") >= CC_OFF_2),
    ]
    got = None
    for b in batches:
        r = idx.add_batch(b)
        got = r if got is None else got.unionByName(r)
    n_grams_before = idx.n_grams()
    replay = idx.add_batch(batches[1])
    replay_noop = replay.count() == 0 and idx.n_grams() == n_grams_before

    want = substring_dedup(corpus, SUBSTR_K)
    n_mismatch = got.exceptAll(want).count() + want.exceptAll(got).count()
    n_docs = got.count()
    return spark.createDataFrame(
        [(n_docs, n_mismatch, bool(replay_noop))],
        "n_docs bigint, n_mismatch bigint, replay_noop boolean",
    )


def dedup_substring_index_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gram store's DELETE lifecycle
    (``SubstringIndex.remove_batch`` + tombstone-applying ``compact``),
    certified as one oracle row. Delete semantics are FORGET — grams
    whose stored first occurrence belongs to a deleted doc become
    logically absent, so the failure direction is missed dedup, never
    false removal (exact ownership transfer is unknowable from a
    firsts-only store; see the operator docstring):

    - ``n_deleted`` — the tombstoned count (DuckDB recounts the
      doc_id % 7 == 3 base-generation subset);
    - ``logical_grams_exact`` — with tombstones live (pre-compact), the
      membership view's gram set EQUALS the one-shot first-occurrence
      table over the full corpus minus rows owned by deleted docs,
      recomputed independently here from the raw text;
    - ``physical_firsts_exact`` — post-compact the persisted ``firsts``
      table equals that expected table row-for-row (gram, owner, and
      offset — not just the gram set), tombstones cleared;
    - ``reingest_ok`` — a deleted id re-ingests after compact, is
      judged afresh, and its report lands (the ledger forgot it).
    """
    from ..functions.text import gram_rows, tokenized_docs
    from ..operators.substring_index import SubstringIndex
    from ..session import scratch_dir

    corpus = _cc_corpus(spark, sf_dir)
    idx = SubstringIndex(
        spark, os.path.join(scratch_dir("m2c_ssdel_"), "idx"), k=SUBSTR_K
    )
    for b in (
        corpus.filter(F.col("doc_id") < CC_OFF_1),
        corpus.filter((F.col("doc_id") >= CC_OFF_1) & (F.col("doc_id") < CC_OFF_2)),
        corpus.filter(F.col("doc_id") >= CC_OFF_2),
    ):
        idx.add_batch(b)

    doomed = corpus.filter(
        (F.col("doc_id") < CC_OFF_1) & (F.pmod("doc_id", F.lit(7)) == 3)
    ).select("doc_id")
    n_deleted = idx.remove_batch(doomed)

    # expected firsts: the one-shot lexicographic (id, position) first
    # occurrence per gram (== first-seen under ascending batch arrival,
    # the contract the incremental cert already pins), minus rows OWNED
    # by deleted docs
    grams = gram_rows(tokenized_docs(corpus, "doc_id", "text"), SUBSTR_K, "doc_id")
    expected = (
        grams.groupBy("gram")
        .agg(F.min(F.struct("doc_id", "s")).alias("f"))
        .select("gram", F.col("f.doc_id").alias("doc_id"), F.col("f.s").alias("s"))
        .join(doomed, "doc_id", "left_anti")
        # the USING join puts doc_id first; exceptAll aligns by
        # POSITION, so re-fix the column order before comparing
        .select("gram", "doc_id", "s")
        .localCheckpoint()
    )

    got_grams = idx._stored_grams().select("gram")
    exp_grams = expected.select("gram")
    logical_grams_exact = (
        got_grams.exceptAll(exp_grams).isEmpty()
        and exp_grams.exceptAll(got_grams).isEmpty()
    )

    idx.compact()
    got_firsts = spark.read.parquet(idx.firsts_path).select("gram", "doc_id", "s")
    physical_firsts_exact = (
        got_firsts.exceptAll(expected).isEmpty()
        and expected.exceptAll(got_firsts).isEmpty()
    )

    d0 = doomed.agg(F.min("doc_id")).collect()[0][0]
    reingest_ok = (
        idx.add_batch(corpus.filter(F.col("doc_id") == d0)).count() == 1
    )
    return spark.createDataFrame(
        [
            (
                n_deleted,
                bool(logical_grams_exact),
                bool(physical_firsts_exact),
                bool(reingest_ok),
            )
        ],
        "n_deleted bigint, logical_grams_exact boolean,"
        " physical_firsts_exact boolean, reingest_ok boolean",
    )


# --- sequence packing -------------------------------------------------------

def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (concat-then-chunk, the standard
    pre-training packing): docs are sharded by ``doc_id % 32``, ordered
    by doc_id within a shard, and cut into sequences wherever the
    running token total crosses a 2048-token boundary. Output: one row
    per (shard, seq_id) with its doc count and token total.

    Scale: the only shuffle is the per-shard window sort; shards are
    independent, so parallelism = shard count — size PACK_SHARDS to the
    cluster (100k+ at 100 TB) and each shard's window stays a local
    sort. No global order is ever imposed."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).alias("shard"),
        token_count_col(F.col("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "seq_id",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(PACK_BUDGET)),
    )
    return c.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
    )


# --- diversity sampling: greedy k-center over embeddings --------------------

KCENTER_K = 16
KCENTER_SAMPLE = 2048


def corpus_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity subset selection: greedy k-center (farthest-point
    traversal, Gonzalez 1985) over the embedding corpus in cosine
    distance — the "cover the semantic space with k exemplars" pass a
    training-data pipeline runs to de-bias a subsample toward diversity
    (the counterpart of SemDeDup, which removes the over-dense regions).

    Scale shape (the production form): greedy selection runs on a
    BOUNDED deterministic sample driver-side
    (``greedy_kcenter_sample`` — the ``train_ivf_centroids`` sampling
    discipline, one TakeOrdered pass capped at KCENTER_SAMPLE rows at
    any corpus size), then ONE full-corpus assignment pass computes
    every point's distance to its nearest center (a BLAS GEMM per Arrow
    batch, no shuffle). Total: ≤ 2 corpus passes REGARDLESS of k —
    versus the exact-greedy alternative's k sequential full-corpus
    materializations, which at 100 TB is k corpus-wide passes held in
    executor storage with a driver serialization point per round.

    Certification (oracle twin pattern), all three facts must hold:
    - greedy separation invariant on the sample: every pair of chosen
      centers is ≥ the sample covering radius apart (the classic
      2-approximation argument) — checked driver-side in numpy;
    - sample ⊆ corpus ⇒ the full-corpus covering radius ``r_cov`` is ≥
      the sample radius (fp tolerance) — checked IN the returned plan;
    - cosine distance to a unit center is ≤ 2 — bounds the GEMM output.
    Row: (k, n_points, separation_ok)."""
    import numpy as np

    from ..functions.similarity import (
        greedy_kcenter_sample,
        with_min_center_distance,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C, r_samp = greedy_kcenter_sample(
        emb, KCENTER_K, KCENTER_SAMPLE, id_col="vec_id", vec_col="embedding"
    )
    pair = 1.0 - C @ C.T
    np.fill_diagonal(pair, np.inf)
    sample_sep_ok = bool(float(pair.min()) >= r_samp - 1e-9)

    # the returned frame IS the single assignment pass: one scan of the
    # embeddings table (plan-pinned in test_plan_shapes), one agg
    assigned = with_min_center_distance(emb, C, vec_col="embedding")
    return assigned.agg(
        F.lit(KCENTER_K).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_points"),
        (
            F.lit(sample_sep_ok)
            & (F.max("mind") >= F.lit(r_samp - 1e-6))
            & (F.max("mind") <= F.lit(2.0 + 1e-9))
        ).alias("separation_ok"),
    )


# --- stratified sampling ----------------------------------------------------

def sample_uniform_col(id_col: Column) -> Column:
    """Deterministic uniform in [0, 1) from an integer id (glibc LCG
    constants). Pure BIGINT arithmetic — replay-stable, engine-agnostic,
    and a plain filter predicate (no shuffle, pushes past scans)."""
    return (
        F.pmod(id_col * F.lit(LCG_A) + F.lit(LCG_C), F.lit(LCG_M))
        / F.lit(float(LCG_M))
    )


def sample_rate_col(lang_col: Column) -> Column:
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(lang_col == lang, F.lit(r)).otherwise(rate)
    return rate


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sampling with a deterministic hash-uniform:
    keep a doc iff u(doc_id) < rate(lang). The per-stratum report
    (n_total, n_sampled) is the auditable artifact; the keep predicate
    itself (``sample_uniform_col < sample_rate_col``) is a pure filter
    any downstream query composes for free.

    Scale: sampling is a stateless per-row predicate — no shuffle, no
    state, survives any corpus size; the report is one agg."""
    d = _docs(spark, sf_dir)
    kept = sample_uniform_col(F.col("doc_id")) < sample_rate_col(F.col("lang"))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept.cast("bigint")).alias("n_sampled"),
        )
    )


# --- corpus mixing weights --------------------------------------------------

#: temperature for the mixing exponent p^(1/T): T=2 → sqrt(p). sqrt is
#: IEEE-754 correctly rounded on BOTH engines (unlike pow, whose libm
#: results may differ in the last ulp), so the oracle hash can't flake.
MIX_TEMPERATURE = 2


def corpus_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain-mixing weights over the per-language
    token counts — the standard multilingual sampling scheme (raise each
    domain's token share to 1/T and renormalize; T>1 up-samples the
    tail so low-resource languages aren't drowned). Output per lang:
    (n_docs, n_tokens, token_share, mix_weight).

    Scale: one scan + one groupBy(lang) — the per-lang frame is
    dimension-sized, so the normalization (two scalar totals) is a
    broadcast crossJoin; no second pass over the corpus."""
    d = _docs(spark, sf_dir)
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col(F.col("text"))).alias("n_tokens"),
    )
    tot = per_lang.agg(F.sum("n_tokens").alias("total_tokens"))
    shared = per_lang.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("n_tokens") / F.col("total_tokens")
    ).withColumn("w_raw", F.sqrt(F.col("share")))
    wtot = shared.agg(F.sum("w_raw").alias("w_total"))
    return (
        shared.crossJoin(F.broadcast(wtot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round("share", 4).alias("token_share"),
            F.round(F.col("w_raw") / F.col("w_total"), 4).alias("mix_weight"),
        )
    )


# --- sliding-window chunking ------------------------------------------------

#: chunk geometry: window of CHUNK_TOKENS with CHUNK_STRIDE advance
#: (overlap = window - stride), the standard long-document training cut
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def corpus_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk plan per document: how many overlapping
    CHUNK_TOKENS-token windows (advancing CHUNK_STRIDE) cover the doc,
    and where the last one starts — the complement of
    ``corpus_pack_sequences`` (that one concatenates SHORT docs into
    budget bins; this one cuts LONG docs into overlapping windows).

    n_chunks = 1 for n <= W, else ceil((n - W) / S) + 1 — pure per-row
    arithmetic on the token count: zero shuffles, the chunk plan rides
    the scan. The chunk slicing itself is then a bounded fan-out
    (posexplode of sequence(0, n_chunks-1)) any downstream tokenizer
    stage applies shard-locally."""
    d = _docs(spark, sf_dir)
    n = token_count_col(F.col("text"))
    w, s = F.lit(CHUNK_TOKENS), F.lit(CHUNK_STRIDE)
    n_chunks = F.when(n <= w, F.lit(1).cast("bigint")).otherwise(
        F.ceil((n - w) / s.cast("double")).cast("bigint") + 1
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        n_chunks.alias("n_chunks"),
        ((n_chunks - 1) * s).alias("last_chunk_start"),
    )


# --- adaptive (percentile) quality gate --------------------------------------

#: fraction of the corpus dropped by the adaptive gate (bottom decile)
GATE_PCT = 0.10

#: rank accuracy of the gate's quantile sketch: the Greenwald-Khanna
#: summary holds O(GATE_ACCURACY·log n) tuples per partition and merges
#: map-side, so the threshold aggregation is bounded-memory at ANY
#: corpus size (the exact ``percentile`` aggregate, by contrast, merges
#: a value→count map of every distinct score into ONE task).  Rank
#: error ≤ n/GATE_ACCURACY: below ~5k rows the sketch is provably exact
#: (error < 1 rank), which is what lets the certification oracle be an
#: EQUALITY twin at test scale; at 100 TB it is a ±0.01% rank gate.
GATE_ACCURACY = 10_000


def corpus_quality_gate_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE quality gate: drop the corpus's bottom decile by
    quality score, with the threshold COMPUTED FROM THE CORPUS rather
    than fixed — the form production filters take when the upstream
    crawl mix drifts (a constant like ``CURATE_MIN_QUALITY`` silently
    starts dropping 40% of a worse crawl or 0% of a better one; a
    percentile gate holds the reject budget).

    The threshold source is ``percentile_approx`` (Greenwald-Khanna
    sketch, ``GATE_ACCURACY`` rank accuracy): mergeable, map-side
    combinable, bounded memory — the aggregate that survives a 100 TB
    score column.  The sketch returns a data ELEMENT, so at
    certification scale (rank error < 1) it equals DuckDB's
    ``quantile_disc`` exactly and every output column hash-matches; the
    exact-interpolation form lives on ONLY as the extended-registry
    certification twin (``corpus_quality_gate_exact``) — the same
    approx-primary / exact-twin discipline as ``sketch_suite``.

    Plan: one sketch aggregation over the score column (a 1-row frame,
    broadcast back as a scalar — never a global sort of the corpus),
    then the gate is a stateless predicate and the per-language report
    one aggregation."""
    d = _docs(spark, sf_dir)
    q = quality_score_cols(F.col("text"))
    feat = d.select("doc_id", "lang", q["quality_score"].alias("qs"))
    thr = feat.agg(
        F.round(
            F.percentile_approx("qs", F.lit(GATE_PCT), F.lit(GATE_ACCURACY)), 4
        ).alias("thr")
    )
    return (
        feat.crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("qs") >= F.col("thr")).cast("bigint")).alias("n_kept"),
            F.min("thr").alias("threshold"),
        )
    )


def corpus_quality_gate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CERTIFICATION TWIN of ``corpus_quality_gate_adaptive`` (extended
    registry only): the exact-interpolation percentile threshold, plus
    a per-language tolerance row proving the sketch gate's kept set
    sits within the rank guarantee of the exact one.  The exact
    ``percentile`` aggregate buffers every distinct score value into
    the final merge task — deliberately NOT the primary path (the
    scale-killer the approx form exists to avoid); it is allowlisted as
    a documented certification twin by the exact-aggregate plan lint
    (rule 3, ``plans/plancheck.py`` ``EXACT_AGG_ALLOWLIST`` — an
    un-allowlisted exact percentile fails every registry CI pass).

    ``kept_within_tol`` bounds |n_kept_approx − n_kept_exact| by the
    sketch's worst-case rank error (ceil(n·1/GATE_ACCURACY) + 1 for the
    round-at-4-decimals boundary)."""
    d = _docs(spark, sf_dir)
    q = quality_score_cols(F.col("text"))
    feat = d.select("doc_id", "lang", q["quality_score"].alias("qs"))
    thr = feat.agg(
        F.round(F.expr(f"percentile(qs, {GATE_PCT})"), 4).alias("thr_exact"),
        F.round(
            F.percentile_approx("qs", F.lit(GATE_PCT), F.lit(GATE_ACCURACY)), 4
        ).alias("thr_approx"),
        F.count(F.lit(1)).alias("n_corpus"),
    )
    per_lang = (
        feat.crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("qs") >= F.col("thr_exact")).cast("bigint")).alias(
                "n_kept_exact"
            ),
            F.sum((F.col("qs") >= F.col("thr_approx")).cast("bigint")).alias(
                "__n_kept_approx"
            ),
            F.min("thr_exact").alias("threshold_exact"),
            F.min(F.ceil(F.col("n_corpus") / F.lit(GATE_ACCURACY)) + 1).alias(
                "__tol"
            ),
        )
    )
    return per_lang.select(
        "lang",
        "n_total",
        "n_kept_exact",
        "threshold_exact",
        (
            F.abs(F.col("__n_kept_approx") - F.col("n_kept_exact"))
            <= F.col("__tol")
        ).alias("kept_within_tol"),
    )


# --- deterministic training-order shuffle -----------------------------------

#: fixed shuffle seed (part of the digest input, so reshuffling = new seed)
SHUFFLE_SEED = "seed42"
#: target docs per training shard. The shard count is DERIVED from the
#: corpus row count (``shuffle_shards_for``) so per-shard write volume
#: stays bounded as the corpus grows — a fixed 16-way split at 100 TB
#: means ~6 TB per-shard write partitions, the scale-killer this
#: replaces. 250k docs ≈ a few hundred MB of text per shard at typical
#: web-doc sizes — one healthy output file batch per writer task.
SHUFFLE_SHARD_ROWS = 250_000
SHUFFLE_MIN_SHARDS = 16
#: cap keeps the shard id comfortably inside the key's modulus headroom
#: and the per-shard certification frame driver-tractable
SHUFFLE_MAX_SHARDS = 1 << 20
SHUFFLE_HEAD = 3


def shuffle_shards_for(n_docs: int) -> int:
    """Training-shard count for a corpus of ``n_docs`` documents:
    ~``n/SHUFFLE_SHARD_ROWS``, clamped to [min, max] (the
    ``_semdedup_k`` sizing pattern, ``plans/extensions.py``). Pure
    arithmetic on the row count — replay-stable and exactly
    reproducible in the SQL oracle via a scalar subquery."""
    return max(
        SHUFFLE_MIN_SHARDS,
        min(SHUFFLE_MAX_SHARDS, n_docs // SHUFFLE_SHARD_ROWS + 1),
    )


def shuffle_shards_col(n_docs: Column) -> Column:
    """Column form of ``shuffle_shards_for`` — the same clamp
    arithmetic over a (1-row) count column, so the shard count can be
    derived IN-PLAN (broadcast scalar) instead of via an eager
    ``count()`` at frame-construction time: plan-only consumers (the
    lint sweeps, the plan-shape tests) must never pay a corpus scan
    for a frame they don't execute."""
    return F.greatest(
        F.lit(SHUFFLE_MIN_SHARDS).cast("bigint"),
        F.least(
            F.lit(SHUFFLE_MAX_SHARDS).cast("bigint"),
            F.floor(n_docs / SHUFFLE_SHARD_ROWS) + 1,
        ),
    )


def shuffle_key_col(id_col: Column, n_shards: int | Column) -> Column:
    """Deterministic 60-bit shuffle key from a seeded md5 of the doc id
    — replay-stable, cluster-size-independent, and exactly expressible
    in ANSI SQL (the same arithmetic as ``operators.checksum``).

    ``n_shards`` (an int, or the 1-row count column from
    ``shuffle_shards_col``) joins the digest input alongside the seed:
    growing the corpus past a shard-count boundary produces a FRESH
    permutation, not a correlated re-bucketing of the old one, and any
    recorded digest is unambiguously tied to the geometry that
    produced it."""
    n = F.lit(n_shards) if isinstance(n_shards, int) else n_shards
    canon = F.concat_ws("|", F.lit(SHUFFLE_SEED), n, id_col.cast("string"))
    return F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")


def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-seed GLOBAL SHUFFLE into training shards —
    the "shuffle before sharding" step every training pipeline runs so
    a sequential shard reader never sees source/topic locality.

    The permutation is pure data arithmetic (seeded md5 → bigint key;
    shard = key mod N; within-shard order = the key), NOT Spark's
    ``rand()``/``repartition`` randomness — so the order is stable
    under replay, retries, and cluster resizes, and the oracle
    recomputes the ENTIRE permutation independently.  Certification
    per (shard, source): row counts (the shuffle must mix every source
    into every shard), the shard's key-xor digest, and the ordered
    HEAD of the shard (first {SHUFFLE_HEAD} doc_ids in shuffled order)
    — pinning the order itself, not just membership.

    Scale: one stateless projection, ONE shuffle on the shard key,
    per-shard aggregation; ranks are per-shard windows (never global).
    The physical write is ``repartition(shard) →
    sortWithinPartitions(key)`` — the export path's discipline. The
    shard count is derived from the corpus row count IN-PLAN
    (``shuffle_shards_col`` over a broadcast 1-row count — frame
    construction stays lazy, so lint sweeps and plan walks never pay a
    scan), mirroring the oracle's scalar subquery exactly."""
    d = _docs(spark, sf_dir).select("doc_id", "source")
    cnt = d.agg(shuffle_shards_col(F.count(F.lit(1))).alias("__shards"))
    key = shuffle_key_col(F.col("doc_id"), F.col("__shards"))
    t = d.crossJoin(F.broadcast(cnt)).select(
        "doc_id",
        "source",
        key.alias("skey"),
        F.pmod(key, F.col("__shards")).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    ranked = t.withColumn("rk", F.row_number().over(w))
    heads = (
        ranked.filter(F.col("rk") <= SHUFFLE_HEAD)
        .groupBy("shard")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
            ).alias("head_ids")
        )
    )
    stats = t.groupBy("shard", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("bit_xor(skey)").alias("xor_key"),
    )
    return stats.join(heads, "shard").select(
        "shard", "source", "n_docs", "xor_key", "head_ids"
    )


# --- training-shard export --------------------------------------------------

EXPORT_ROWS_PER_FILE = 200  # small on purpose: forces a multi-shard layout


def _certify_export(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Shared export certification for all three shard formats: gate →
    dedup → write → read the files BACK and prove the manifest against
    them. See ``corpus_export_shards`` for the certified facts."""
    from ..operators.export import (
        curated_docs,
        export_shards,
        export_shards_jsonl,
        export_shards_tar,
        tar_member_rows,
    )
    from ..session import scratch_dir

    d = _docs(spark, sf_dir).select("doc_id", "text")
    curated = curated_docs(d)
    out = scratch_dir("m2c_shards_")
    if fmt == "jsonl":
        manifest = export_shards_jsonl(
            spark, curated, out, rows_per_file=EXPORT_ROWS_PER_FILE
        )
        data = spark.read.schema(curated.schema).json(out + "/data")
    elif fmt == "tar":
        manifest = export_shards_tar(
            spark, curated, out, rows_per_file=EXPORT_ROWS_PER_FILE
        )
        # read-back = parse the tars the way a trainer would; the
        # member rows carry (shard, doc_id, n_tokens) directly
        data = tar_member_rows(spark, out + "/data").withColumnRenamed(
            "shard", "__shard"
        )
    else:
        manifest = export_shards(
            spark, curated, out, rows_per_file=EXPORT_ROWS_PER_FILE
        )
        data = spark.read.parquet(out + "/data")
    shard_col = (
        F.col("__shard") if fmt == "tar" else F.input_file_name()
    )
    recomputed = (
        data.select(shard_col.alias("shard"), "doc_id", "n_tokens")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("r_rows"),
            F.sum("n_tokens").cast("bigint").alias("r_tokens"),
            F.md5(
                F.concat_ws(",", F.sort_array(F.collect_list("doc_id")))
            ).alias("r_md5"),
        )
    )
    # range non-overlap via a manifest-sized broadcast self-join (one
    # row per shard — bounded), NOT a global-order lead() window: even
    # on a bounded frame an unpartitioned Window is the plan shape the
    # blanket lint (plancheck.py) forbids, and interval overlap is a
    # join predicate anyway
    m = manifest.select("shard", "min_id", "max_id")
    overlaps = (
        m.alias("a")
        .join(
            F.broadcast(m.alias("b")),
            (F.col("a.shard") < F.col("b.shard"))
            & (F.col("a.min_id") <= F.col("b.max_id"))
            & (F.col("b.min_id") <= F.col("a.max_id")),
        )
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )
    joined = manifest.join(recomputed, "shard", "inner")
    checks = joined.agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("n_rows").cast("bigint").alias("m_rows"),
        F.sum("n_tokens").cast("bigint").alias("m_tokens"),
        F.min(
            (F.col("n_rows") == F.col("r_rows"))
            & (F.col("n_tokens") == F.col("r_tokens"))
            & (F.col("ids_md5") == F.col("r_md5"))
            & (F.col("n_rows") <= F.lit(EXPORT_ROWS_PER_FILE))
        ).alias("shards_ok"),
    ).crossJoin(F.broadcast(overlaps)).withColumn(
        "shards_ok", F.col("shards_ok") & (F.col("n_overlaps") == 0)
    )
    totals = curated.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    return totals.crossJoin(F.broadcast(checks)).select(
        "n_kept",
        "total_tokens",
        (
            F.col("shards_ok")
            & (F.col("m_rows") == F.col("n_kept"))
            & (F.col("m_tokens") == F.col("total_tokens"))
        ).alias("manifest_consistent"),
    )


def corpus_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal curation stage (operators/export.py): gate → dedup →
    contiguous-id parquet shards + manifest. Emits the certification
    row:

    - ``n_kept`` / ``total_tokens`` — DuckDB recomputes both from the
      same gate semantics as ``corpus_curation``;
    - ``manifest_consistent`` — manifest row/token sums equal the data,
      shard id ranges are NON-OVERLAPPING (contiguous layout holds),
      every shard respects the size bound, and every per-shard id
      digest matches a recomputation from the data read-back.
    """
    return _certify_export(spark, sf_dir, "parquet")


def corpus_export_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gzip JSON-Lines export path (``export_shards_jsonl`` — the
    format LLM training stacks consume directly) under the SAME
    certification as ``corpus_export_shards``: the manifest is proven
    against a schema-pinned read-back of the written ``.json.gz``
    shards, so the row also certifies the text/token columns survive
    the JSON round-trip byte-exactly."""
    return _certify_export(spark, sf_dir, "jsonl")


def corpus_export_tar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WebDataset-style tar export path (``export_shards_tar`` —
    one ``.tar`` per shard with ``{id}.txt``/``{id}.json`` members,
    the layout streaming training loaders consume) under the SAME
    certification: the manifest is proven against a binaryFile
    read-back that PARSES the tars, so the row certifies what a
    trainer would actually extract, not just what the writer claims."""
    return _certify_export(spark, sf_dir, "tar")


QUERIES = {
    "dedup_cluster_cc": dedup_cluster_cc,
    "dedup_cluster_incremental": dedup_cluster_incremental,
    "corpus_curation_neardup": corpus_curation_neardup,
    "corpus_export_shards": corpus_export_shards,
    "corpus_export_jsonl": corpus_export_jsonl,
    "corpus_export_tar": corpus_export_tar,
    "corpus_decontaminate": corpus_decontaminate,
    "corpus_substring_dedup": corpus_substring_dedup,
    "corpus_substring_dedup_two_level": corpus_substring_dedup_two_level,
    "dedup_substring_incremental": dedup_substring_incremental,
    "dedup_substring_index_deletes": dedup_substring_index_deletes,
    "corpus_pack_sequences": corpus_pack_sequences,
    "corpus_sample_stratified": corpus_sample_stratified,
    "corpus_sample_kcenter": corpus_sample_kcenter,
    "corpus_shuffle_order": corpus_shuffle_order,
    "corpus_quality_gate_adaptive": corpus_quality_gate_adaptive,
    "corpus_quality_gate_exact": corpus_quality_gate_exact,
    "corpus_mixing_weights": corpus_mixing_weights,
    "corpus_chunk_sliding": corpus_chunk_sliding,
}

_CC_CORPUS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {CC_OFF_1} AS doc_id, text || ' extra' AS text FROM documents
UNION ALL
SELECT doc_id + {CC_OFF_2} AS doc_id, text || ' extra extra' AS text FROM documents
"""

_TOK_SQL = "list_filter(string_split_regex(lower(trim(text)), ' +'), t -> t <> '')"

_TOKENS_COUNT_SQL = """
CASE WHEN length(trim(text)) = 0 THEN 0
     ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END
"""


def _gram_sql(toks: str, n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1),"
        f" i -> array_to_string(({toks})[i:i+{n - 1}], ' '))"
    )


from .extensions import _NTHE_SQL, _TOKENS_SQL  # noqa: E402 — shared gate SQL


def _cc_cand_sql(src: str) -> str:
    """Generation-offset candidate pairs with exact Jaccard, as THREE
    equi-join branches: the single-join spelling with
    ``b.doc_id - a.doc_id IN (...)`` forces DuckDB into a nested-loop
    join (measured 70 s vs 2 s at sf0.01 — 36×, identical rows)."""
    branch = """
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / (len(a.shingles) + len(b.shingles)
            - len(list_intersect(a.shingles, b.shingles))) AS j
  FROM {src} a JOIN {src} b ON b.doc_id = a.doc_id + {off}"""
    return "\n  UNION ALL\n".join(
        branch.format(src=src, off=off)
        for off in (CC_OFF_1, CC_OFF_2 - CC_OFF_1, CC_OFF_2)
    )

#: the export certification oracle — the kept-set and its token total
#: are the corpus_curation gate semantics; layout checks are fixed
#: expected outcomes (twin pattern). ONE string for BOTH shard formats
#: (parquet / jsonl.gz): the written layout differs, the certified
#: facts do not.
EXPORT_CERT_SQL = f"""
WITH feat AS (
    SELECT doc_id,
           md5(lower(text)) AS content_hash,
           CAST({_TOKENS_SQL} AS BIGINT) AS n_tokens,
           round(least(1.0, CAST({_TOKENS_SQL} AS DOUBLE) / 64.0) * 0.5
                 + least(1.0, CASE WHEN {_TOKENS_SQL} > 0
                         THEN {_NTHE_SQL} / {_TOKENS_SQL} ELSE 0.0 END * 10.0) * 0.5, 4)
               AS quality_score
    FROM documents
),
gated AS (
    SELECT * FROM feat WHERE n_tokens >= 8 AND quality_score >= 0.3
),
kept AS (
    SELECT content_hash, n_tokens,
           row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
    FROM gated
)
SELECT CAST(count(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(true AS BOOLEAN) AS manifest_consistent
FROM kept WHERE rn = 1
"""

ORACLE = {
    # greedy k-center separation invariant as a fixed expected outcome
    "corpus_sample_kcenter": f"""
SELECT CAST({16} AS INT) AS k, CAST(count(*) AS BIGINT) AS n_points,
       CAST(TRUE AS BOOLEAN) AS separation_ok
FROM embeddings
""",
    "corpus_export_shards": EXPORT_CERT_SQL,
    "corpus_export_jsonl": EXPORT_CERT_SQL,
    "corpus_export_tar": EXPORT_CERT_SQL,
    # min-reachable-label closure reproduces the CC result exactly
    # gate first (same rounded score + lang rules as corpus_curation),
    # THEN mine generation edges among survivors only, close the graph
    # with the recursive CTE, and emit the canonical doc per cluster
    "corpus_curation_neardup": f"""
WITH RECURSIVE corpus AS ({_CC_CORPUS_SQL}),
gated AS (
  SELECT doc_id, text,
         CAST({_TOKENS_SQL} AS BIGINT) AS n_tokens,
         round(least(1.0, CAST({_TOKENS_SQL} AS DOUBLE) / 64.0) * 0.5
               + least(1.0, CASE WHEN {_TOKENS_SQL} > 0
                       THEN {_NTHE_SQL} / {_TOKENS_SQL} ELSE 0.0 END * 10.0) * 0.5, 4)
             AS quality_score,
         CASE WHEN contains(' ' || text || ' ', ' the ') THEN 'en'
              WHEN contains(' ' || text || ' ', ' der ') THEN 'de'
              WHEN contains(' ' || text || ' ', ' que ') THEN 'es'
              ELSE 'unk' END AS lang_guess
  FROM corpus
),
surv AS (
  SELECT * FROM gated
  WHERE n_tokens >= {CURATE_MIN_TOKENS} AND quality_score >= {CURATE_MIN_QUALITY}
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(length(lower(text)) - 4, 1) + 1),
             i -> substring(lower(text), i, 5))) AS shingles
  FROM surv
),
cand AS (
{_cc_cand_sql("sh")}
),
edges AS (SELECT id_a, id_b FROM cand WHERE j >= {CC_EDGE_THRESHOLD}),
sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM edges
),
nodes AS (SELECT DISTINCT u AS node FROM sym),
walk(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.v, w.lbl FROM walk w JOIN sym s ON s.u = w.node
),
comp AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node),
clusters AS (
  SELECT component AS rep_id, count(*) AS n_members FROM comp GROUP BY component
),
singles AS (
  SELECT g.doc_id AS rep_id, CAST(1 AS BIGINT) AS n_members
  FROM surv g WHERE g.doc_id NOT IN (SELECT node FROM nodes)
),
keep AS (
  SELECT rep_id, n_members FROM clusters
  UNION ALL
  SELECT rep_id, n_members FROM singles
)
SELECT k.rep_id AS doc_id, CAST(k.n_members AS BIGINT) AS cluster_size,
       g.n_tokens, g.quality_score, g.lang_guess
FROM keep k JOIN surv g ON g.doc_id = k.rep_id
""",
    "dedup_cluster_cc": f"""
WITH RECURSIVE corpus AS ({_CC_CORPUS_SQL}),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(length(lower(text)) - 4, 1) + 1),
             i -> substring(lower(text), i, 5))) AS shingles
  FROM corpus
),
cand AS (
{_cc_cand_sql("sh")}
),
edges AS (SELECT id_a, id_b FROM cand WHERE j >= {CC_EDGE_THRESHOLD}),
sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM edges
),
nodes AS (SELECT DISTINCT u AS node FROM sym),
walk(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.v, w.lbl FROM walk w JOIN sym s ON s.u = w.node
),
comp AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node),
clusters AS (
  SELECT component AS rep_id, count(*) AS n_members FROM comp GROUP BY component
),
singles AS (
  SELECT c.doc_id AS rep_id, CAST(1 AS BIGINT) AS n_members
  FROM corpus c WHERE c.doc_id NOT IN (SELECT node FROM nodes)
)
SELECT rep_id, n_members FROM clusters
UNION ALL
SELECT rep_id, n_members FROM singles
""",
    # the same min-label closure, reduced to the maintained-assignment
    # scalars; the two certification booleans are fixed expected
    # outcomes (the incremental==one-shot twin pattern)
    "dedup_cluster_incremental": f"""
WITH RECURSIVE corpus AS ({_CC_CORPUS_SQL}),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(length(lower(text)) - 4, 1) + 1),
             i -> substring(lower(text), i, 5))) AS shingles
  FROM corpus
),
cand AS (
{_cc_cand_sql("sh")}
),
edges AS (SELECT id_a, id_b FROM cand WHERE j >= {CC_EDGE_THRESHOLD}),
sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM edges
),
nodes AS (SELECT DISTINCT u AS node FROM sym),
walk(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.v, w.lbl FROM walk w JOIN sym s ON s.u = w.node
),
comp AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(count(DISTINCT component) AS BIGINT) AS n_components,
       CAST(TRUE AS BOOLEAN) AS incremental_equals_oneshot,
       CAST(TRUE AS BOOLEAN) AS replay_noop
FROM comp
""",
    "corpus_decontaminate": f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents WHERE text IS NOT NULL
),
egrams AS (
  SELECT DISTINCT unnest({_gram_sql(f"(toks)[1:{DECON_PREFIX_TOKENS}]", DECON_NGRAM)}) AS gram
  FROM tok WHERE doc_id % {DECON_EVAL_MOD} = 0
),
tgrams AS (
  SELECT DISTINCT doc_id, unnest({_gram_sql("toks", DECON_NGRAM)}) AS gram FROM tok
)
SELECT t.doc_id, count(*) AS n_shared_grams
FROM tgrams t JOIN egrams e USING (gram)
GROUP BY t.doc_id
""",
    # exact-substring dedup recomputed independently: same tokenizer,
    # same k-gram positions, first occurrence by row_number over
    # (doc_id, s), same k-window removal rule, same md5 of the
    # space-joined kept text
    "corpus_substring_dedup": f"""
WITH corpus AS ({_CC_CORPUS_SQL}),
t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(coalesce(text, ''))), ' +'),
                     t -> t <> '') AS toks
  FROM corpus
),
g AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(toks) - {SUBSTR_K - 1}, 0) + 1)) AS s,
         unnest({_gram_sql("toks", SUBSTR_K)}) AS gram
  FROM t
),
occ AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rn
  FROM g
),
dup AS (SELECT doc_id, s FROM occ WHERE rn > 1),
tok AS (
  SELECT doc_id,
         unnest(range(1, len(toks) + 1)) AS p,
         unnest(toks) AS tok
  FROM t
),
fl AS (
  SELECT tok.doc_id, tok.p, tok.tok,
         CASE WHEN dup.s IS NULL THEN 0 ELSE 1 END AS dupflag
  FROM tok LEFT JOIN dup ON dup.doc_id = tok.doc_id AND dup.s = tok.p
),
mk AS (
  SELECT doc_id, p, tok,
         max(dupflag) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN {SUBSTR_K - 1} PRECEDING
                            AND CURRENT ROW) AS removed
  FROM fl
),
pd AS (
  SELECT doc_id, sum(removed) AS n_removed,
         coalesce(string_agg(tok, ' ' ORDER BY p) FILTER (WHERE removed = 0),
                  '') AS kept_text
  FROM mk GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(pd.n_removed, 0) AS BIGINT) AS n_removed,
       md5(coalesce(pd.kept_text, '')) AS kept_hash
FROM t LEFT JOIN pd ON pd.doc_id = t.doc_id
""",
    # incremental == one-shot under ascending batch arrival: fixed
    # expected outcomes (the one-shot itself is value-certified by
    # corpus_substring_dedup's full oracle above); n_docs recounted
    "dedup_substring_incremental": """
SELECT CAST(3 * (SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(TRUE AS BOOLEAN) AS replay_noop
""",
    # delete-lifecycle cert of the gram store: booleans are contract
    # outcomes with fixed expected values; the deleted count is
    # independently recounted (base-generation subset only)
    "dedup_substring_index_deletes": """
SELECT CAST(count(*) AS BIGINT) AS n_deleted,
       CAST(TRUE AS BOOLEAN) AS logical_grams_exact,
       CAST(TRUE AS BOOLEAN) AS physical_firsts_exact,
       CAST(TRUE AS BOOLEAN) AS reingest_ok
FROM documents WHERE doc_id % 7 = 3
""",
    "corpus_pack_sequences": f"""
WITH t AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         CAST({_TOKENS_COUNT_SQL} AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT shard, CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS seq_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
FROM c GROUP BY 1, 2
""",
    # sqrt(share) on both engines is IEEE-exact; the two scalar totals
    # are exact BIGINT / small double sums
    "corpus_mixing_weights": f"""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum({_TOKENS_COUNT_SQL}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
shared AS (
  SELECT lang, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM per_lang) AS share
  FROM per_lang
)
SELECT lang, n_docs, n_tokens,
       round(share, 4) AS token_share,
       round(sqrt(share) / (SELECT sum(sqrt(share)) FROM shared), 4) AS mix_weight
FROM shared
""",
    "corpus_chunk_sliding": f"""
WITH t AS (
  SELECT doc_id, CAST({_TOKENS_COUNT_SQL} AS BIGINT) AS n_tokens FROM documents
)
SELECT doc_id, n_tokens,
       CASE WHEN n_tokens <= {CHUNK_TOKENS} THEN CAST(1 AS BIGINT)
            ELSE CAST(ceil((n_tokens - {CHUNK_TOKENS}) / CAST({CHUNK_STRIDE} AS DOUBLE)) AS BIGINT) + 1
       END AS n_chunks,
       (CASE WHEN n_tokens <= {CHUNK_TOKENS} THEN CAST(1 AS BIGINT)
             ELSE CAST(ceil((n_tokens - {CHUNK_TOKENS}) / CAST({CHUNK_STRIDE} AS DOUBLE)) AS BIGINT) + 1
        END - 1) * {CHUNK_STRIDE} AS last_chunk_start
FROM t
""",
    # same score expression; the sketch threshold returns a data
    # ELEMENT and is exact below ~GATE_ACCURACY/2 rows, so the oracle
    # is DISCRETE quantile equality (quantile_disc), not interpolation
    "corpus_quality_gate_adaptive": f"""
WITH feat AS (
    SELECT lang,
           round(least(1.0, CAST({_TOKENS_COUNT_SQL} AS DOUBLE) / 64.0) * 0.5
                 + least(1.0, CASE WHEN {_TOKENS_COUNT_SQL} > 0
                         THEN ((length(' ' || text || ' ')
                                - length(replace(' ' || text || ' ', ' the ', ''))) / 5.0)
                               / {_TOKENS_COUNT_SQL} ELSE 0.0 END * 10.0) * 0.5, 4)
               AS qs
    FROM documents
),
t AS (SELECT round(quantile_disc(qs, {GATE_PCT}), 4) AS thr FROM feat)
SELECT lang, count(*) AS n_total,
       CAST(sum(CASE WHEN qs >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       min(thr) AS threshold
FROM feat, t
GROUP BY lang
""",
    # certification twin: exact interpolated threshold (quantile_cont
    # == Spark percentile, pinned by events_value_percentiles) + the
    # sketch-vs-exact kept-count tolerance row; the sketch side is
    # reproduced with quantile_disc (exact at this scale)
    "corpus_quality_gate_exact": f"""
WITH feat AS (
    SELECT lang,
           round(least(1.0, CAST({_TOKENS_COUNT_SQL} AS DOUBLE) / 64.0) * 0.5
                 + least(1.0, CASE WHEN {_TOKENS_COUNT_SQL} > 0
                         THEN ((length(' ' || text || ' ')
                                - length(replace(' ' || text || ' ', ' the ', ''))) / 5.0)
                               / {_TOKENS_COUNT_SQL} ELSE 0.0 END * 10.0) * 0.5, 4)
               AS qs
    FROM documents
),
t AS (SELECT round(quantile_cont(qs, {GATE_PCT}), 4) AS thr_exact,
             round(quantile_disc(qs, {GATE_PCT}), 4) AS thr_approx,
             count(*) AS n_corpus
      FROM feat)
SELECT lang, count(*) AS n_total,
       CAST(sum(CASE WHEN qs >= thr_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_exact,
       min(thr_exact) AS threshold_exact,
       abs(CAST(sum(CASE WHEN qs >= thr_approx THEN 1 ELSE 0 END) AS BIGINT)
           - CAST(sum(CASE WHEN qs >= thr_exact THEN 1 ELSE 0 END) AS BIGINT))
           <= min(CAST(ceil(n_corpus / {GATE_ACCURACY}.0) AS BIGINT) + 1)
           AS kept_within_tol
FROM feat, t
GROUP BY lang
""",
    # the full permutation recomputed independently: same derived shard
    # count (scalar subquery over the same table), same seeded-md5 key
    # with the count in the canon, same mod-shard, same (key, doc_id)
    # order
    "corpus_shuffle_order": f"""
WITH n AS (
    SELECT GREATEST({SHUFFLE_MIN_SHARDS},
                    LEAST({SHUFFLE_MAX_SHARDS},
                          count(*) // {SHUFFLE_SHARD_ROWS} + 1)) AS shards
    FROM documents
),
t AS (
    SELECT doc_id, source,
           CAST(('0x' || substr(md5('{SHUFFLE_SEED}|'
                    || CAST((SELECT shards FROM n) AS VARCHAR) || '|'
                    || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS skey
    FROM documents
),
s AS (SELECT *, skey % (SELECT shards FROM n) AS shard FROM t),
heads AS (
    SELECT shard,
           array_to_string(list(doc_id ORDER BY skey, doc_id)[1:{SHUFFLE_HEAD}], ',')
               AS head_ids
    FROM s GROUP BY shard
),
stats AS (
    SELECT shard, source, count(*) AS n_docs, bit_xor(skey) AS xor_key
    FROM s GROUP BY shard, source
)
SELECT stats.shard, source, n_docs, xor_key, head_ids
FROM stats JOIN heads ON stats.shard = heads.shard
""",
    "corpus_sample_stratified": f"""
SELECT lang, count(*) AS n_total,
       CAST(sum(CASE WHEN
           CAST((doc_id * {LCG_A} + {LCG_C}) % {LCG_M} AS DOUBLE) / {LCG_M}
           < (CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items()))}
              ELSE {SAMPLE_DEFAULT_RATE} END)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents GROUP BY lang
""",
}

# the two-level hash-prefiltered plan variant computes the IDENTICAL
# report — it shares the baseline's oracle verbatim
ORACLE["corpus_substring_dedup_two_level"] = ORACLE["corpus_substring_dedup"]
