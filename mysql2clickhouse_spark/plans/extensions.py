"""LLM-data-pipeline operator plans (the north-star extensions):
dedup (exact / minhash-LSH / simhash / n-gram Jaccard), similarity
search, text analysis, multimodal plumbing — over the driver's
``documents`` and ``embeddings`` tables.

Oracle strategy: everything arithmetic/string-deterministic has a full
DuckDB oracle (md5, length arithmetic, double cosine with decimal-free
rounding at 4dp — both engines accumulate in DOUBLE so diffs are
~1e-14, far under the rounding grain). The hash-family ops
(minhash/simhash) depend on Spark's murmur3/xxhash64 and are checked
rows-only by the driver + invariant-tested in pytest.

The synthetic corpus has no planted near-dups, so the near-dup queries
build a deterministic mutated copy of each document inline (id + 10^6,
one word appended) — the operator must find exactly those pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.minhash import (
    hamming_hex_col,
    simhash_near_dups,
    verified_near_dups,
    with_shingles,
    with_simhash,
)
from ..functions.multimodal import (
    attach_binary_payload,
    extract_media_features,
    resize_media,
    sample_frames,
)
from ..functions.similarity import (
    _exact_top_k,
    _unit_vecs,
    cosine_sim_col,
    cosine_topk,
    lsh_bucketed_topk,
    ivf_lists_for,
    lsh_planes_for,
    pq_refine_for,
    unit_vec_col,
    with_lsh_buckets,
)
from ..functions.text import (
    fingerprint_col,
    langid_col,
    quality_score_cols,
    rolling_hash_col,
    subtoken_count_col,
    token_count_col,
)
from ..session import release_cache, rotate_cache
from ..sources.tables import load_table, spread

SIM_THRESHOLD = 0.25
TOPK = 10
N_QUERIES = 5       # vec_id < 5 are the query vectors
EMB_DIM = 64
MUT_OFFSET = 1000000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _docs_with_mutants(
    spark: SparkSession, sf_dir: str, widen: bool = True
) -> DataFrame:
    """Corpus ∪ mutated copies (id+10^6, ' extra' appended) — the planted
    near-duplicates that LSH must recover.

    ``widen=False`` skips the ``spread`` repartition for consumers whose
    very next operator is a partially-aggregating shuffle (e.g. the
    exact-dedup groupBy): there the extra exchange ships the full text
    corpus only to re-land in a map-side combine that would have
    reduced it in place — one shuffle of the payload for zero
    parallelism the aggregate's own exchange doesn't already provide.
    CPU-heavy per-row passes (shingling, token hashing) keep the
    default widening."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    u = d.unionByName(mut)
    return spread(u) if widen else u


# --- dedup ----------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content (md5), keep min doc_id.
    On the mutant corpus the mutants do NOT collide (different bytes) —
    exact dedup's blind spot, which the near-dup ops cover."""
    # widen=False: the groupBy's partial (map-side) aggregation already
    # collapses duplicates before its own exchange — the spread shuffle
    # would move the whole text payload first for nothing (round 11;
    # plan diff: 2 Exchange → 1, interleaved A/B ratio 0.353 at sf0.1)
    d = _docs_with_mutants(spark, sf_dir, widen=False)
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (jaccard >= 0.7 verified). Planted
    mutant pairs (id, id+10^6) must all surface. Rows-only driver check
    (signature depends on Spark murmur3); pair-recall is pytest-asserted.
    """
    pairs = verified_near_dups(_docs_with_mutants(spark, sf_dir), "doc_id", threshold=0.7)
    # single-partition sort: the pair set is tiny relative to the corpus
    # (near-dup rate, not row count), and a global orderBy would run the
    # verify join TWICE (the range partitioner's sampling job executes
    # the child once before the real pass) — measured ~3× on the sort
    return pairs.repartition(1).sortWithinPartitions("id_a", "id_b")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard on the planted pairs (id, id+10^6): the
    ground truth the LSH variant approximates. Oracle-checked via DuckDB
    list functions over the same shingle definition."""
    sh = with_shingles(_docs_with_mutants(spark, sf_dir), "text", k=5).select(
        "doc_id", "shingles"
    )
    a = sh.filter(F.col("doc_id") < MUT_OFFSET).alias("a")
    b = sh.filter(F.col("doc_id") >= MUT_OFFSET).alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))).cast("double")
    union = (
        F.size(F.col("a.shingles")) + F.size(F.col("b.shingles"))
    ).cast("double") - inter
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + MUT_OFFSET)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(inter / union, 4).alias("jaccard"),
        )
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (hex). Rows-only driver check (xxhash64-
    dependent); hamming-locality is pytest-asserted on planted pairs."""
    return with_simhash(_docs_with_mutants(spark, sf_dir), "text", attach=False)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the Manku et al. WWW'07 production
    operating point (64-bit, 4×16-bit blocks, hamming ≤ 3 — EXACT by
    pigeonhole, no probabilistic tail). Planted mutant pairs sit at
    hamming p50 = 2 on this corpus, so a majority surface here; the
    jaccard-family ops catch the rest. Rows-only driver check
    (xxhash64-dependent); brute-force equality is pytest-asserted."""
    sh = with_simhash(_docs_with_mutants(spark, sf_dir), "text", attach=False)
    # (no persist here: simhash_near_dups persists its block frame, the
    # only consumer of ``sh`` — a second cache level would store an
    # extra corpus copy for nothing; single-partition sort: see
    # dedup_minhash_lsh)
    return (
        simhash_near_dups(sh, "doc_id")
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup maintenance (operators/neardup_index.py):
    ingest the corpus as batch 1 into a persisted MinHash index, then
    the planted mutants as batch 2 — batch 2's text is the ONLY text
    scanned in step 2; the stored corpus participates via its band and
    signature tables. Certifies, as one oracle row:

    - ``recall_ok``     — the cross-batch pairs recover ≥ the twin bound
      of the planted (id, id+10^6) pairs;
    - ``incremental_equals_full`` — the union of per-batch pair sets is
      BAG-EQUAL to the one-shot ``verified_near_dups`` over the full
      corpus (same banding/margin/verify ⇒ identical candidate nets —
      this is the contract that makes the incremental form safe to run
      in production instead of the recompute).
    """
    from ..operators.neardup_index import MinHashIndex
    from ..session import scratch_dir

    d = _docs(spark, sf_dir).select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    idx = MinHashIndex(spark, scratch_dir("m2c_ndidx_") + "/index", threshold=0.7)
    p0 = idx.add_batch(d)
    p1 = idx.add_batch(mut)
    inc = p0.unionByName(p1)

    full = verified_near_dups(_docs_with_mutants(spark, sf_dir), "doc_id", threshold=0.7)
    equal = idx.pairs_equal(full, inc)

    n_planted = d.count()
    n_found = p1.filter(
        (F.col("id_a") < MUT_OFFSET) & (F.col("id_b") == F.col("id_a") + MUT_OFFSET)
    ).count()
    return spark.createDataFrame(
        [
            (
                n_planted,
                bool(n_found >= MINHASH_RECALL_BOUND * n_planted),
                bool(equal),
            )
        ],
        "n_planted bigint, recall_ok boolean, incremental_equals_full boolean",
    )


def dedup_minhash_index_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash index's DELETE lifecycle
    (``MinHashIndex.remove_batch`` + tombstone-applying ``compact``),
    certified as one oracle row — completing the tombstone discipline
    across all four maintained stores (BM25/IVF round 9, this and the
    gram store same round):

    - ``n_deleted`` — the tombstoned count (DuckDB recounts the
      doc_id % 5 == 2 subset);
    - ``logical_identical`` — with tombstones live (pre-compact), a
      mutant batch's pairs are EXACTLY ``verified_near_dups`` over
      (survivors ∪ mutants) restricted to mutant-involving pairs:
      deleted docs never pair, as if never ingested;
    - ``physical_store_ok`` — post-compact the signature store holds
      exactly survivors ∪ mutants (tombstoned rows gone, tombstones
      cleared);
    - ``reingest_ok`` — a deleted id re-ingests after compact as a
      brand-new doc and immediately pairs with its own mutant already
      in the store (the as-if-never-ingested contract, round-tripped).
    """
    from ..operators.neardup_index import MinHashIndex
    from ..session import scratch_dir

    d = _docs(spark, sf_dir).select("doc_id", "text")
    idx = MinHashIndex(spark, scratch_dir("m2c_nddel_") + "/index", threshold=0.7)
    idx.add_batch(d)

    doomed = d.filter(F.pmod("doc_id", F.lit(5)) == 2)
    n_deleted = idx.remove_batch(doomed.select("doc_id"))

    mut = d.select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    p1 = idx.add_batch(mut)
    survivors = d.filter(F.pmod("doc_id", F.lit(5)) != 2)
    full = verified_near_dups(
        survivors.unionByName(mut), "doc_id", threshold=0.7
    )
    want = full.filter(
        (F.col("id_a") >= MUT_OFFSET) | (F.col("id_b") >= MUT_OFFSET)
    )
    logical_identical = idx.pairs_equal(want, p1)

    idx.compact()
    stored = spark.read.parquet(idx.sigs_path).select("doc_id")
    expect = survivors.unionByName(mut).select("doc_id")
    physical_store_ok = (
        stored.exceptAll(expect).isEmpty() and expect.exceptAll(stored).isEmpty()
    )

    d0 = doomed.agg(F.min("doc_id")).collect()[0][0]
    p2 = idx.add_batch(d.filter(F.col("doc_id") == d0))
    reingest_ok = (
        p2.filter(
            (F.col("id_a") == d0) & (F.col("id_b") == d0 + MUT_OFFSET)
        ).count()
        == 1
    )
    return spark.createDataFrame(
        [
            (
                n_deleted,
                bool(logical_identical),
                bool(physical_store_ok),
                bool(reingest_ok),
            )
        ],
        "n_deleted bigint, logical_identical boolean,"
        " physical_store_ok boolean, reingest_ok boolean",
    )


def dedup_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash maintenance (operators/simhash_index.py —
    the fifth maintained store, round 10): ingest the corpus as batch 1
    into a persisted pigeonhole-block index, the planted mutants as
    batch 2, then certify as one oracle row:

    - ``incremental_equals_full`` — the union of per-batch pair sets is
      BAG-EQUAL to the one-shot ``simhash_near_dups`` over the full
      corpus. Stronger than the MinHash analog: pigeonhole banding is
      an EXACT candidate net for hamming ≤ n_blocks - 1, so equality is
      guaranteed-recall on both sides, not same-net-by-construction;
    - ``replay_noop`` — redelivering batch 1 pairs nothing and appends
      nothing (the slim ids ledger + the journaled atomic commit).
    """
    from ..operators.simhash_index import SimHashIndex
    from ..session import scratch_dir

    d = _docs(spark, sf_dir).select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    idx = SimHashIndex(spark, scratch_dir("m2c_shidx_") + "/index")
    p0 = idx.add_batch(d)
    p1 = idx.add_batch(mut)
    inc = p0.unionByName(p1)

    full = simhash_near_dups(
        with_simhash(_docs_with_mutants(spark, sf_dir), "text", attach=False),
        "doc_id",
    )
    equal = idx.pairs_equal(full, inc)
    replay_noop = idx.add_batch(d).isEmpty()
    return spark.createDataFrame(
        [(d.count(), bool(equal), bool(replay_noop))],
        "n_docs bigint, incremental_equals_full boolean, replay_noop boolean",
    )


def dedup_simhash_index_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash index's DELETE lifecycle (remove_batch tombstones +
    tombstone-applying compact) certified as one oracle row — the same
    three-phase contract as ``dedup_minhash_index_deletes``:

    - ``logical_identical`` — with tombstones live, a mutant batch's
      pairs equal the one-shot over (survivors ∪ mutants) restricted to
      mutant-involving pairs;
    - ``physical_store_ok`` — post-compact the sigs store holds exactly
      survivors ∪ mutants (one sig row per ledgered doc — null
      fingerprint for empty text — so the doc-id compare is total);
    - ``reingest_ok`` — a deleted id re-ingests after compact as a
      brand-new doc and recovers its one-shot pairs against the store
      (checked on a doomed id whose planted pair the one-shot actually
      finds — simhash mutants sit at hamming p50=2, so not every
      planted pair is ≤ 3)."""
    from ..operators.simhash_index import SimHashIndex
    from ..session import scratch_dir

    d = _docs(spark, sf_dir).select("doc_id", "text")
    idx = SimHashIndex(spark, scratch_dir("m2c_shdel_") + "/index")
    idx.add_batch(d)

    doomed = d.filter(F.pmod("doc_id", F.lit(5)) == 3)
    n_deleted = idx.remove_batch(doomed.select("doc_id"))

    mut = d.select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    p1 = idx.add_batch(mut)
    survivors = d.filter(F.pmod("doc_id", F.lit(5)) != 3)
    full = simhash_near_dups(
        with_simhash(survivors.unionByName(mut), "text", attach=False), "doc_id"
    ).localCheckpoint()
    want = full.filter(
        (F.col("id_a") >= MUT_OFFSET) | (F.col("id_b") >= MUT_OFFSET)
    )
    logical_identical = idx.pairs_equal(want, p1)

    idx.compact()
    stored = spark.read.parquet(idx.sigs_path).select("doc_id")
    expect = survivors.unionByName(mut).select("doc_id")
    physical_store_ok = (
        stored.exceptAll(expect).isEmpty() and expect.exceptAll(stored).isEmpty()
    )

    # re-ingest a doomed id whose planted pair the FULL one-shot finds
    # (re-run over survivors-with-d0 ∪ mutants so d0's pairs are known)
    found = (
        simhash_near_dups(
            with_simhash(d.unionByName(mut), "text", attach=False), "doc_id"
        )
        .filter(
            (F.col("id_b") == F.col("id_a") + MUT_OFFSET)
            & (F.pmod("id_a", F.lit(5)) == 3)
        )
        .agg(F.min("id_a"))
        .collect()[0][0]
    )
    if found is None:
        reingest_ok = True  # no doomed planted pair is ≤ max_hamming
    else:
        p2 = idx.add_batch(d.filter(F.col("doc_id") == found))
        reingest_ok = (
            p2.filter(
                (F.col("id_a") == found)
                & (F.col("id_b") == found + MUT_OFFSET)
            ).count()
            == 1
        )
    return spark.createDataFrame(
        [(n_deleted, bool(logical_identical), bool(physical_store_ok),
          bool(reingest_ok))],
        "n_deleted bigint, logical_identical boolean,"
        " physical_store_ok boolean, reingest_ok boolean",
    )


def dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ-ONLY decontamination probe against BOTH maintained hash
    stores (round 10 — ``MinHashIndex.probe`` / ``SimHashIndex.probe``):
    ingest the corpus, then ask whether the planted mutants near-dup
    anything stored WITHOUT ingesting them — the maintained-store form
    of ``corpus_decontaminate``. One row per store:

    - ``matches_equal_oneshot`` — the probe's (probe, match) set is
      BAG-EQUAL to the one-shot pair set over corpus ∪ mutants
      restricted to cross (original×mutant) pairs — the probe finds
      exactly what a full recompute finds, from the store alone;
    - ``store_untouched`` — the store's data-file set is byte-identical
      before and after the probe (read-only verified, not assumed).

    The substring store's row certifies the same two properties with
    the family's own semantics: ``SubstringIndex.probe`` must return
    exactly the removal report the subsequent ``add_batch`` of the
    same batch produces on the same (probe-untouched) store.
    """
    from ..operators.neardup_index import MinHashIndex
    from ..operators.simhash_index import SimHashIndex
    from ..session import scratch_dir

    d = _docs(spark, sf_dir).select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    n_probed = mut.count()
    rows = []

    mh = MinHashIndex(spark, scratch_dir("m2c_ndprobe_") + "/index", threshold=0.7)
    mh.add_batch(d)
    census0 = sorted(mh._data_files(mh.sigs_path)) + sorted(
        mh._data_files(mh.bands_path)
    )
    got = mh.probe(spread(mut)).select(
        F.col("match_id").alias("id_a"), F.col("probe_id").alias("id_b"), "jaccard"
    )
    full = verified_near_dups(_docs_with_mutants(spark, sf_dir), "doc_id",
                              threshold=0.7)
    cross = full.filter(
        (F.col("id_a") < MUT_OFFSET) & (F.col("id_b") >= MUT_OFFSET)
    )
    mh_equal = got.exceptAll(cross).isEmpty() and cross.exceptAll(got).isEmpty()
    mh_untouched = census0 == sorted(mh._data_files(mh.sigs_path)) + sorted(
        mh._data_files(mh.bands_path)
    )
    rows.append(("minhash", n_probed, bool(mh_equal), bool(mh_untouched)))

    sh = SimHashIndex(spark, scratch_dir("m2c_shprobe_") + "/index")
    sh.add_batch(d)
    census0 = sorted(sh._data_files(sh.sigs_path)) + sorted(
        sh._data_files(sh.blocks_path)
    )
    got = sh.probe(spread(mut)).select(
        F.col("match_id").alias("id_a"), F.col("probe_id").alias("id_b"), "hamming"
    )
    full = simhash_near_dups(
        with_simhash(_docs_with_mutants(spark, sf_dir), "text", attach=False),
        "doc_id",
    )
    cross = full.filter(
        (F.col("id_a") < MUT_OFFSET) & (F.col("id_b") >= MUT_OFFSET)
    )
    sh_equal = sh.pairs_equal(cross, got)
    sh_untouched = census0 == sorted(sh._data_files(sh.sigs_path)) + sorted(
        sh._data_files(sh.blocks_path)
    )
    rows.append(("simhash", n_probed, bool(sh_equal), bool(sh_untouched)))

    # substring store: probe FIRST, then ingest the same batch on the
    # SAME store — probe is read-only (the census check proves it), so
    # add_batch sees the identical pre-state and the two reports must
    # be bag-equal. One store, no twin rebuild.
    from ..operators.substring_index import SubstringIndex

    def _ss_census(idx):
        return sorted(idx.fs.listdir(idx.firsts_path))

    ss = SubstringIndex(spark, scratch_dir("m2c_ssprobe_") + "/index", k=10)
    ss.add_batch(spread(d))
    census0 = _ss_census(ss)
    probed = ss.probe(spread(mut)).localCheckpoint()
    ss_untouched = _ss_census(ss) == census0 and ss.stats()["n_docs"] == d.count()
    ingested = ss.add_batch(spread(mut))
    ss_equal = (
        probed.exceptAll(ingested).isEmpty()
        and ingested.exceptAll(probed).isEmpty()
    )
    rows.append(("substring", n_probed, bool(ss_equal), bool(ss_untouched)))

    # cluster store (round 11): the probe is a MEMBERSHIP lookup, so
    # its one-shot twin is connected components over the full edge set.
    # Deterministic hub edges (doc_id -> doc_id % 23) folded as two
    # batches split even/odd — every component's closure spans both
    # folds, so the probed labels exercise the merge path, not just
    # fresh inserts. Probed ids = every 7th doc PLUS the same set
    # shifted past the corpus (never stored): the cert's bag equality
    # proves known ids resolve to EXACTLY the one-shot CC labels (with
    # is_canonical = node==component) and unknown ids are absent.
    from ..functions.graph import connected_components
    from ..operators.cluster_index import ClusterIndex
    from ..operators.store_common import data_files as _df_census

    cc = ClusterIndex(spark, scratch_dir("m2c_ccprobe_") + "/index")
    edges = d.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") % F.lit(23)).alias("id_b"),
    ).filter(F.col("id_a") != F.col("id_b"))
    cc.add_pairs(edges.filter(F.col("id_a") % 2 == 0))
    cc.add_pairs(edges.filter(F.col("id_a") % 2 == 1))

    def _cc_census(idx):
        return sorted(
            list(_df_census(idx.fs, idx.by_node_path))
            + list(_df_census(idx.fs, idx.by_comp_path))
            + list(_df_census(idx.fs, idx.dead_path))
        )

    census0 = _cc_census(cc)
    probe_ids = d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    probed = cc.probe(
        probe_ids.unionByName(
            probe_ids.select((F.col("doc_id") + 5_000_000).alias("doc_id"))
        )
    )
    want = (
        connected_components(edges, "id_a", "id_b")
        .join(probe_ids.withColumnRenamed("doc_id", "node"), "node")
        .withColumn("is_canonical", F.col("node") == F.col("component"))
    )
    cc_equal = (
        probed.exceptAll(want).isEmpty() and want.exceptAll(probed).isEmpty()
    )
    cc_untouched = _cc_census(cc) == census0
    rows.append(
        ("cluster", 2 * probe_ids.count(), bool(cc_equal), bool(cc_untouched))
    )

    return spark.createDataFrame(
        rows,
        "store string, n_probed bigint, matches_equal_oneshot boolean,"
        " store_untouched boolean",
    )


# --- oracle-checkable recall twins ----------------------------------------
# The hash-family operators (minhash / simhash / LSH-ANN / IVF-ANN) use
# Spark-native hash functions (murmur3 / xxhash64) DuckDB cannot
# reproduce, so their raw outputs are rows-only for the driver. The
# planted mutants are deterministic, though, so each operator gets a
# TWIN query that emits its quality metric AS DATA with a fixed
# expected outcome — fully value-hash-checkable by the driver.
#
# Bounds are set far under measured values at sf0.001 AND sf0.01 (the
# driver's correctness scale), so a green row certifies the operator
# actually recovered the planted structure:
#   minhash planted recall measured 0.994-0.998  -> bound 0.95
#   simhash planted frac(hamming<=16) measured 1 -> bound 0.95
#   simhash banding vs brute force: EXACT (pigeonhole) -> equality
#   lsh-ann per-query hits@10 (corpus-derived planes, r9) measured
#     min 6 (sf0.001) / 6 (sf0.01) / 1 (sf0.1)  -> bound >= 1
#     (sf0.1 sits AT the bound — sf0.1 is a sweep, not a driver gate;
#      the "far under" margin applies at the calibrated driver scales)
#   ivf-ann per-query hits@10 (derived sqrt-n lists, r9) measured
#     min 6 (sf0.001) / 7 (sf0.01) / 5 (sf0.1)  -> bound >= 3

#: embeddings row count per sf_dir, memoized: the derived-geometry
#: queries need n DRIVER-SIDE (hyperplane generation / shortlist
#: sizing), and paying a count() at every plan build would violate the
#: zero-jobs-at-build discipline the plan sweeps rely on — one count
#: per sf_dir per process instead. ASSUMPTION: an sf_dir's contents
#: are immutable for the process lifetime (true for the driver's
#: static test dirs); a session that REBUILDS a dataset in place would
#: derive geometry from the stale n — key the cache on a file
#: fingerprint before reusing this for mutable paths.
_EMB_N_CACHE: dict[str, int] = {}


def _emb_corpus_n(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _EMB_N_CACHE:
        _EMB_N_CACHE[sf_dir] = _emb(spark, sf_dir).count()
    return _EMB_N_CACHE[sf_dir] - N_QUERIES


MINHASH_RECALL_BOUND = 0.95
SIMHASH_LOCALITY_BOUND = 0.95
ANN_LSH_MIN_HITS = 1
ANN_IVF_MIN_HITS = 3
ANN_PQ_MIN_HITS = 3     # derived refine, r9: min 9 (sf0.001) / 8 (sf0.01) / 4 (sf0.1)
ANN_IVFPQ_MIN_HITS = 2  # derived refine, r9: min 4 (sf0.001) / 5 (sf0.01) / 5 (sf0.1)


def dedup_minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall twin of ``dedup_minhash_lsh``: every doc has exactly one
    planted mutant (id+10^6); the fraction the LSH pipeline recovers
    must clear MINHASH_RECALL_BOUND. One row: (n_planted, recall_ok)."""
    pairs = verified_near_dups(_docs_with_mutants(spark, sf_dir), "doc_id", threshold=0.7)
    found = pairs.filter(
        (F.col("id_a") < MUT_OFFSET) & (F.col("id_b") == F.col("id_a") + MUT_OFFSET)
    ).agg(F.count(F.lit(1)).alias("n_found"))
    planted = _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_planted"))
    return found.crossJoin(F.broadcast(planted)).select(
        "n_planted",
        (F.col("n_found") >= F.lit(MINHASH_RECALL_BOUND) * F.col("n_planted")).alias(
            "recall_ok"
        ),
    )


def dedup_simhash_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locality twin of ``dedup_simhash``: planted near-dup pairs must
    agree on most fingerprint bits (hamming <= 16 of 64 for at least
    SIMHASH_LOCALITY_BOUND of pairs). One row: (n_pairs, locality_ok)."""
    sh = with_simhash(_docs_with_mutants(spark, sf_dir), "text", attach=False)
    a = sh.select("doc_id", F.col("simhash").alias("h1"))
    b = sh.select(
        (F.col("doc_id") - MUT_OFFSET).alias("doc_id"), F.col("simhash").alias("h2")
    )
    return (
        a.join(b, "doc_id")
        .withColumn("ham", hamming_hex_col(F.col("h1"), F.col("h2")))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.avg(F.when(F.col("ham") <= 16, 1.0).otherwise(0.0))
                >= SIMHASH_LOCALITY_BOUND
            ).alias("locality_ok"),
        )
    )


def dedup_simhash_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactness twin of ``dedup_simhash_pairs``: 4-block banding is
    GUARANTEED (pigeonhole) to find every pair at hamming <= 3, so its
    pair count must EQUAL the brute-force all-pairs count. Every banded
    pair is verified <= 3 by construction (precision), so count equality
    implies set equality. One row: (n_docs, banding_exact).

    The brute force is O(n²) ON PURPOSE — it is the ground truth this
    twin certifies against, run only at the driver's correctness scale
    (the operator itself never does this)."""
    release_cache("ext.simhash_pairs_exact")  # BEFORE persist — see session.py
    sh = with_simhash(_docs_with_mutants(spark, sf_dir), "text", attach=False).persist()
    rotate_cache("ext.simhash_pairs_exact", sh)
    banded = simhash_near_dups(sh, "doc_id").agg(F.count(F.lit(1)).alias("n_banded"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h1"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h2"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("ham", hamming_hex_col(F.col("h1"), F.col("h2")))
        .filter(F.col("ham") <= 3)
        .agg(F.count(F.lit(1)).alias("n_brute"))
    )
    n_docs = sh.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        banded.crossJoin(F.broadcast(brute))
        .crossJoin(F.broadcast(n_docs))
        .select("n_docs", (F.col("n_banded") == F.col("n_brute")).alias("banding_exact"))
    )


def _ann_recall_twin(spark, sf_dir, approx: DataFrame, min_hits: int) -> DataFrame:
    """Per-query hit count of an ANN result against the exact top-k
    (computed engine-side with the same deterministic arithmetic the
    ``ann_cosine_topk`` oracle already certifies). One row per query:
    (qid, recall_ok)."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    exact = cosine_topk(c, q, k=TOPK).select("qid", "cid")
    hits = (
        approx.select("qid", "cid")
        .join(exact, ["qid", "cid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = q.select(F.col("vec_id").alias("qid"))
    return qids.join(hits, "qid", "left").select(
        "qid",
        (F.coalesce(F.col("n_hits"), F.lit(0)) >= F.lit(min_hits)).alias("recall_ok"),
    )


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall twin of ``ann_lsh_topk``: each query's top-10 must overlap
    the exact top-10 in at least ANN_LSH_MIN_HITS positions."""
    return _ann_recall_twin(
        spark, sf_dir, ann_lsh_topk(spark, sf_dir), ANN_LSH_MIN_HITS
    )


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall twin of ``ann_ivf_topk``: at least ANN_IVF_MIN_HITS of the
    exact top-10 recovered per query."""
    return _ann_recall_twin(
        spark, sf_dir, ann_ivf_topk(spark, sf_dir), ANN_IVF_MIN_HITS
    )


EMB_DUP_THRESHOLD = 0.95  # ambient max pairwise cosine is ~0.60 at sf0.1


def _emb_with_mutants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding corpus ∪ exact copies (vec_id + 10^6) — planted
    duplicate vectors the cosine dedup must recover (cosine = 1.0)."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    mut = e.select((F.col("vec_id") + MUT_OFFSET).alias("vec_id"), "embedding")
    # quarter-parallelism spread: the per-row vector math is one BLAS
    # GEMM per Arrow batch, so FAT batches win — 64 thin partitions of
    # a small frame spend more on Python-worker round-trips than math
    # (measured 3×). At cluster scale the input arrives wide already.
    par = spark.sparkContext.defaultParallelism
    return spread(e.unionByName(mut), min_partitions=max(4, par // 4))


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: LSH-bucket (random hyperplanes) the
    corpus, verify same-bucket pairs with exact cosine ≥ 0.95.

    Identical vectors agree on EVERY hyperplane sign, so recall for true
    duplicates is exactly 1 — which is why this variant stays
    oracle-checkable against DuckDB's exhaustive O(n²) scan (ambient
    cosine tops out at ~0.60, far under the threshold; no boundary
    pairs exist for banding to miss). At 100 TB the bucket join replaces
    the quadratic pair space with corpus/2^planes-sized buckets.

    n_planes sizes the ambient (false-candidate) rate: expected ambient
    pairs ≈ n²·L/2^(b+1), so b should track log2(n) — 12 planes cut the
    sf0.1 candidate set from 79k to ~4k (verify join 40×→2× the true
    pair volume, measured) with recall for exact dups still exactly 1
    (identical vectors agree on every sign bit regardless of b)."""
    release_cache("ext.embedding_cosine.bucket")  # BEFORE persist — see session.py
    release_cache("ext.embedding_cosine.unit")
    emb = _emb_with_mutants(spark, sf_dir).persist()  # bucket pass + both verify sides
    b = with_lsh_buckets(emb, dim=EMB_DIM, n_planes=12, n_tables=2).select(
        "vec_id", "tbl", "bucket"
    ).persist()  # self-joined: without this the Arrow UDF projection runs twice
    # eager barrier (see verified_near_dups): materializing b also fills
    # the emb cache; lazy persist lets the self-join's two concurrent
    # stages each run the Arrow UDF before the cache populates
    b.count()
    rotate_cache("ext.embedding_cosine.bucket", emb, b)
    a_, b_ = b.alias("a"), b.alias("b")
    cands = (
        a_.join(
            b_,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    # normalize once per vector; the per-pair verify is then one dot fold.
    # The count() barrier is NOT only a cache-race guard here: it also
    # gives the InMemoryRelation materialized size statistics, which is
    # what makes the planner broadcast the two unit arms into the verify
    # joins — tried lazily in round 11 and the query measured 0.77 s →
    # 1.17 s (join strategy shifted off the broadcast arms), so the
    # eager barrier stays (recorded loser, OPTIMIZATION_r11.md).
    unit = emb.select("vec_id", unit_vec_col(F.col("embedding")).alias("u")).persist()
    unit.count()
    rotate_cache("ext.embedding_cosine.unit", unit)
    va = unit.select(F.col("vec_id").alias("id_a"), F.col("u").alias("u_a"))
    vb = unit.select(F.col("vec_id").alias("id_b"), F.col("u").alias("u_b"))
    dot = F.aggregate(
        F.zip_with(F.col("u_a"), F.col("u_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", F.round(dot, 4))
        .filter(F.col("sim") >= EMB_DUP_THRESHOLD)
        .select("id_a", "id_b", "sim")
    )


# --- semantic dedup (SemDeDup) --------------------------------------------

#: k tracks corpus size: per-cluster pair volume is (n/k)², so k is
#: derived as ~n / TARGET_CLUSTER_ROWS (the paper's regime — 50k
#: clusters over its web corpus ≈ a few thousand rows per cluster).
SEMDEDUP_TARGET_CLUSTER_ROWS = 256
SEMDEDUP_MIN_CLUSTERS = 8
#: cap sized to keep the DRIVER-side k-means tractable (sample 32·k
#: rows ⇒ ≤ 128k×dim doubles, one GEMM per iter); at k=4096 and
#: target 256 this covers a ~1M-vector corpus per job — larger corpora
#: shard the semdedup pass by partition before clustering.
SEMDEDUP_MAX_CLUSTERS = 4096


def _semdedup_k(n_rows: int) -> int:
    return max(
        SEMDEDUP_MIN_CLUSTERS,
        min(SEMDEDUP_MAX_CLUSTERS, n_rows // SEMDEDUP_TARGET_CLUSTER_ROWS + 1),
    )


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding corpus with
    the IVF coarse quantizer, then drop any vector whose cosine to a
    SMALLER-id vector in the SAME cluster clears the duplicate
    threshold — pairwise work confined to clusters, never the corpus.
    Returns (vec_id, cluster_id, keep).

    Exercised on the corpus ∪ planted exact copies (vec_id + 10^6):
    identical vectors always land in the same cluster (same argmax) at
    cosine exactly 1, so every planted copy must come back keep=false —
    ``semdedup_recall`` pins that as an oracle row.

    Scale: the cluster pass is the IVF assignment (one GEMM per Arrow
    batch, no shuffle); the within-cluster pair join shuffles on
    ``cluster_id`` once, and per-cluster pair volume is (n/k)² — k is
    DERIVED from the corpus row count (``_semdedup_k``: ~n/256, the
    paper's bounded-cluster-population regime) so populations stay
    constant as the corpus grows; the quantizer's training sample
    scales 32·k alongside. The 1-row count that sizes k is bounded
    control-plane work."""
    from ..functions.similarity import train_ivf_centroids, with_ivf_lists
    from ..session import release_cache, rotate_cache

    emb = _emb_with_mutants(spark, sf_dir)
    k = _semdedup_k(emb.count())
    C = train_ivf_centroids(
        emb, EMB_DIM, k, sample_size=max(4096, 32 * k), id_col="vec_id"
    )
    release_cache("ext.semdedup.assigned")  # BEFORE persist — see session.py
    assigned = (
        with_ivf_lists(
            emb.select("vec_id", unit_vec_col(F.col("embedding")).alias("u")),
            C,
            nprobe=1,
            vec_col="u",
        )
        .withColumnRenamed("list_id", "cluster_id")
        .persist()  # feeds both sides of the pair join + the output
    )
    assigned.count()  # eager barrier (see verified_near_dups)
    rotate_cache("ext.semdedup.assigned", assigned)

    a = assigned.select(
        "cluster_id", F.col("vec_id").alias("id_a"), F.col("u").alias("u_a")
    )
    b = assigned.select(
        "cluster_id", F.col("vec_id").alias("id_b"), F.col("u").alias("u_b")
    )
    dot = F.aggregate(
        F.zip_with(F.col("u_a"), F.col("u_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dropped = (
        a.join(b, ["cluster_id"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot >= EMB_DUP_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return assigned.select("vec_id", "cluster_id").join(
        dropped.withColumn("__drop", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id", "cluster_id", F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep")
    )


def semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle twin of ``semdedup``: every planted exact copy must be
    dropped (cosine 1 to its smaller-id original, provably co-clustered)
    and every vector must appear exactly once. One row:
    (n_vectors, n_planted, planted_all_dropped)."""
    out = semdedup(spark, sf_dir)
    planted = out.filter(F.col("vec_id") >= MUT_OFFSET)
    return (
        out.agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("vec_id") >= MUT_OFFSET, 1).otherwise(0)).cast(
                "bigint"
            ).alias("n_planted"),
        )
        .crossJoin(
            F.broadcast(
                planted.agg(
                    (F.sum(F.when(F.col("keep"), 1).otherwise(0)) == 0).alias(
                        "planted_all_dropped"
                    )
                )
            )
        )
    )


# --- text analysis --------------------------------------------------------

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring + language-ID + fingerprint in a
    single scan — the classic pre-training per-doc feature pass."""
    d = _docs(spark, sf_dir)
    q = quality_score_cols(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        q["n_chars"].alias("n_chars_calc"),
        q["n_tokens"].alias("n_tokens"),
        subtoken_count_col(F.col("text")).alias("n_subtokens"),
        q["mean_token_len"].alias("mean_token_len"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["quality_score"].alias("quality_score"),
        langid_col(F.col("text")).alias("lang_guess"),
        fingerprint_col(F.col("text")).alias("fingerprint"),
    )


def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling hash per doc as a JVM-side fold — the
    content-defined-chunking primitive. Oracle-checked: DuckDB folds the
    identical polynomial with list_reduce over the char array."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        rolling_hash_col(F.coalesce(F.col("text"), F.lit(""))).alias("rhash"),
    )


BPE_N_MERGES = 16


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training over ``documents``
    (functions/bpe.py): ONE corpus scan builds the word-frequency
    table; each of the 16 merge iterations runs against that
    vocabulary-sized table only. Emits the corpus-level certification
    row the oracle can check:

    - ``n_docs`` / ``n_words`` — DuckDB recomputes both from the text;
    - ``n_merges`` — fixed at BPE_N_MERGES (the corpus has far more
      than 16 mergeable pairs at every driver scale);
    - ``compression_ok`` — the tokenized corpus satisfies
      words ≤ subwords < chars+markers (each word ≥ 1 token; 16 merges
      provably shrank something).

    The merge SEQUENCE itself is pinned exactly against a pure-Python
    Sennrich reference in ``test_bpe.py`` (count-max + lexicographic
    tie-break + greedy left-to-right in-word application)."""
    from ..functions.bpe import tokenize_counts, train_bpe, word_counts

    d = _docs(spark, sf_dir).select("doc_id", "text")
    merges, vocab = train_bpe(d, n_merges=BPE_N_MERGES)
    tok = tokenize_counts(d, vocab)
    base = word_counts(d).agg(
        F.sum(F.col("n") * (F.length("word") + 1)).alias("chars_plus_markers"),
        F.sum("n").alias("total_words"),
    )
    agg = tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_subwords").alias("n_subwords"),
    )
    return agg.crossJoin(F.broadcast(base)).select(
        "n_docs",
        "n_words",
        F.lit(len(merges)).cast("bigint").alias("n_merges"),
        (
            (F.col("total_words") <= F.col("n_subwords"))
            & (F.col("n_subwords") < F.col("chars_plus_markers"))
        ).alias("compression_ok"),
    )


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale application of the trained BPE tokenizer
    (``functions/bpe.py encode_docs``) with a per-doc LOSSLESSNESS
    certificate: the encoded token stream is DECODED back (symbols
    concatenated, ``</w>`` markers stripped, words re-joined) and its
    md5 must equal the md5 of the canonicalized raw text — which the
    oracle computes INDEPENDENTLY from the documents table, so any
    encode bug (dropped word, wrong merge application, order scramble
    in the rebuild) breaks the value hash on that doc's row.

    ``tokens_in_bounds`` pins the emission arithmetic per doc:
    n_words ≤ n_tokens ≤ non-space chars + n_words (each word emits at
    least 1 and at most len(word)+1 symbols)."""
    from ..functions.bpe import encode_docs, train_bpe

    d = _docs(spark, sf_dir).select("doc_id", "text")
    _merges, vocab = train_bpe(d, n_merges=BPE_N_MERGES)
    enc = encode_docs(d, vocab)
    nonspace = F.length(F.replace(F.col("roundtrip_text"), F.lit(" "), F.lit("")))
    return enc.select(
        "doc_id",
        "n_words",
        F.md5("roundtrip_text").alias("roundtrip_md5"),
        (
            (F.col("n_words") <= F.col("n_tokens"))
            & (F.col("n_tokens") <= nonspace + F.col("n_words"))
        ).alias("tokens_in_bounds"),
    )


def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate corpus profile per (actual, guessed) language — the
    confusion table of the heuristic language-ID."""
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", langid_col(F.col("text")).alias("lang_guess"),
                 token_count_col(F.col("text")).alias("n_tokens"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
    )


# --- similarity search ----------------------------------------------------

def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: query vectors vec_id < 5 against the
    rest of the corpus. The scale baseline every ANN variant is measured
    against."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    return cosine_topk(c, q, k=TOPK)


def ann_cosine_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs (query, candidate) above the similarity threshold —
    order-free, so fully oracle-checkable."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_vec")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_vec")
    )
    from ..functions.similarity import cosine_sim_col

    return (
        c.crossJoin(F.broadcast(q))
        .withColumn("sim", cosine_sim_col(F.col("q_vec"), F.col("c_vec")))
        .filter(F.col("sim") > SIM_THRESHOLD)
        .select("qid", "cid", F.round("sim", 4).alias("sim"))
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path). Rows-only driver check; recall vs
    brute force is pytest-asserted. Hyperplane count is CORPUS-DERIVED
    (``lsh_planes_for``: expected occupancy pinned near 64/bucket) —
    the r9 sf0.1 sweep measured a fixed-6-plane recall dip at 4x the
    driver-scale corpus; derived geometry holds the recall bound at
    every tested scale and is the only rule that survives 10^9 rows."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    return lsh_bucketed_topk(
        c, q, dim=EMB_DIM, k=TOPK,
        n_planes=lsh_planes_for(_emb_corpus_n(spark, sf_dir)),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (the other canonical scale path): spherical-k-means
    coarse quantizer over a bounded sample, corpus in inverted lists,
    queries probe the nprobe nearest lists, exact rerank inside them.
    Rows-only driver check (k-means init is seed-dependent); recall vs
    brute force is pytest-asserted."""
    from ..functions.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    # corpus-derived coarse geometry (ivf_lists_for: ~sqrt(n) lists,
    # constant probe fraction), via the memoized count — closes the
    # fixed-test-geometry backlog the sf0.1 sweep record carried
    n_list = ivf_lists_for(_emb_corpus_n(spark, sf_dir))
    return ivf_topk(
        c, q, dim=EMB_DIM, k=TOPK, n_list=n_list, nprobe=max(8, n_list // 4)
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC + exact refine) — the third
    canonical scale path (Jégou et al. 2011): corpus rows carry m=8
    byte codes instead of 64 floats (32× less scan IO), queries score
    them with per-query lookup tables (8 array reads per pair, zero
    vector math corpus-side), and only the ADC shortlist is reranked
    exactly. Rows-only driver check (k-means codebooks are
    seed-dependent); ``ann_pq_recall`` is the oracle twin."""
    from ..functions.similarity import pq_topk

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    # corpus-derived ADC shortlist (pq_refine_for) — the fixed 5x
    # shortlist measurably starves recall as the corpus grows; derived
    # via the memoized count so plan builds stay job-free
    return pq_topk(
        c, q, dim=EMB_DIM, k=TOPK,
        refine=pq_refine_for(_emb_corpus_n(spark, sf_dir)),
    )


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall twin of ``ann_pq_topk``: at least ANN_PQ_MIN_HITS of the
    exact top-10 recovered per query."""
    return _ann_recall_twin(
        spark, sf_dir, ann_pq_topk(spark, sf_dir), ANN_PQ_MIN_HITS
    )


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composition (faiss's production ``IVFx,PQy`` layout):
    coarse lists prune WHICH rows are scored, PQ codes make each score
    m lookups — the searched store is (cid, list_id, 8 codes), no
    floats. Rows-only driver check; ``ann_ivfpq_recall`` is the twin."""
    from ..functions.similarity import ivfpq_topk

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    n_list = ivf_lists_for(_emb_corpus_n(spark, sf_dir))
    return ivfpq_topk(
        c, q, dim=EMB_DIM, k=TOPK,
        n_list=n_list, nprobe=max(8, n_list // 4),
        refine=pq_refine_for(_emb_corpus_n(spark, sf_dir)),
    )


def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall twin of ``ann_ivfpq_topk``: at least ANN_IVFPQ_MIN_HITS of
    the exact top-10 recovered per query (the compounded nprobe + code
    quantization loss sits above this bound at both driver scales)."""
    return _ann_recall_twin(
        spark, sf_dir, ann_ivfpq_topk(spark, sf_dir), ANN_IVFPQ_MIN_HITS
    )


def ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF served by the persisted store (``operators/ann_index.py``):
    ``IVFIndex.build`` writes the inverted lists ``partitionBy("list_id")``
    and ``search`` probes them via a PARTITION-PRUNED read — the
    index-as-a-table layout (faiss's on-disk IVF analog) that only opens
    the probed list directories at 100 TB. Rows-only check; identity
    with the in-memory IVF is oracle-pinned by
    ``ann_ivf_partitioned_equiv`` and the pruned scan is plan-pinned in
    test_plan_shapes."""
    from ..operators.ann_index import IVFIndex
    from ..session import scratch_dir

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    # SAME derived geometry as ann_ivf_topk — the equivalence twin
    # compares the two result sets row-for-row
    n_list = ivf_lists_for(_emb_corpus_n(spark, sf_dir))
    idx = IVFIndex(spark, scratch_dir("m2c_ivf_") + "/index", dim=EMB_DIM, n_list=n_list)
    idx.build(c)
    return idx.search(q, k=TOPK, nprobe=max(8, n_list // 4))


def ann_ivf_partitioned_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle twin: the partition-pruned IVF must return EXACTLY the
    in-memory IVF's result set — (n_rows, n_mismatch) with fixed
    expected values (5 queries × top-10, zero mismatches)."""
    a = ann_ivf_topk(spark, sf_dir).select("qid", "cid", "sim", "rk")
    b = ann_ivf_partitioned(spark, sf_dir).select("qid", "cid", "sim", "rk")
    n_mismatch = a.exceptAll(b).count() + b.exceptAll(a).count()
    n_rows = b.count()
    return spark.createDataFrame(
        [(n_rows, n_mismatch)], "n_rows bigint, n_mismatch bigint"
    )


def ivf_frozen_reference(idx, c: DataFrame, q: DataFrame) -> DataFrame:
    """In-memory one-shot IVF probe sharing a persisted store's FROZEN
    centroids: assigns the WHOLE corpus ``c`` and queries ``q`` against
    ``idx._centroids()`` and takes the per-query windowed top-k — the
    answer a one-shot build over all of ``c`` would give. Because the
    quantizer is frozen, a store populated by ANY batch/stream schedule
    must answer identically (``ann_ivf_incremental`` pins the batch
    loop, ``stream_ivf_ingest`` the foreachBatch stream — both against
    this same reference, so batch-loop == stream transitively)."""
    from pyspark.sql.window import Window as W

    from ..functions.similarity import with_ivf_lists

    C = idx._centroids()
    cb = with_ivf_lists(
        c.select(F.col("vec_id").alias("cid"), unit_vec_col(F.col("embedding")).alias("c_vec")),
        C, nprobe=1, vec_col="c_vec",
    )
    qb = with_ivf_lists(
        q.select(F.col("vec_id").alias("qid"), unit_vec_col(F.col("embedding")).alias("q_vec")),
        C, nprobe=8, vec_col="q_vec",
    )
    scored = (
        cb.join(F.broadcast(qb), "list_id")
        .withColumn("sim", F.aggregate(
            F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v,
        ))
        .select("qid", "cid", "sim")
    )
    w = W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK)
        .withColumn("sim", F.round("sim", 4))
    )


def ann_ivf_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF store's DELETE lifecycle
    (``IVFIndex.remove_batch`` + tombstone-applying ``compact``),
    certified as one oracle row against ``ivf_frozen_reference`` over
    the corpus MINUS the deleted subset (vec_id % 5 == 2) under the
    same frozen centroids:

    - ``n_deleted`` — the tombstoned count (DuckDB recounts the subset);
    - ``logical_identical`` — post-tombstone search == the filtered
      reference (stats and candidates as if never ingested);
    - ``physical_identical`` — post-compact search unchanged (the
      rewrite dropped the rows, forgot the ledger ids, cleared the
      tombstones);
    - ``reingest_ok`` — a deleted id re-ingests after compact (the
      as-if-never-ingested contract, same as the BM25 store).
    """
    from ..operators.ann_index import IVFIndex
    from ..session import scratch_dir

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    idx = IVFIndex(spark, scratch_dir("m2c_ivfdel_") + "/index", dim=EMB_DIM, n_list=32)
    idx.build(c)

    doomed = c.filter(F.pmod("vec_id", F.lit(5)) == 2).select("vec_id")
    n_deleted = idx.remove_batch(doomed)

    survivors = c.filter(F.pmod("vec_id", F.lit(5)) != 2)
    want = ivf_frozen_reference(idx, survivors, q).localCheckpoint()
    got = idx.search(q, k=TOPK, nprobe=8).localCheckpoint()
    logical_identical = (
        got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    )
    idx.compact()
    got2 = idx.search(q, k=TOPK, nprobe=8)
    physical_identical = (
        got2.exceptAll(want).isEmpty() and want.exceptAll(got2).isEmpty()
    )
    one = survivors.limit(0).unionByName(
        c.filter(F.pmod("vec_id", F.lit(5)) == 2).limit(1)
    )
    reingest_ok = idx.add_batch(one) == one.count()
    return spark.createDataFrame(
        [
            (
                n_deleted,
                bool(logical_identical),
                bool(physical_identical),
                bool(reingest_ok),
            )
        ],
        "n_deleted bigint, logical_identical boolean,"
        " physical_identical boolean, reingest_ok boolean",
    )


def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index maintenance (operators/ann_index.py): the
    corpus lands in a persisted IVF store across THREE add_batch calls
    (build trains the frozen quantizer on batch 0's bounded sample),
    then the store is compacted and searched.  Certifies, as one
    oracle row:

    - ``n_indexed`` — every corpus vector is in the store (DuckDB
      recounts from the embeddings table);
    - ``n_mismatch = 0`` — the batch-ingested store answers
      IDENTICALLY to ``ivf_frozen_reference``, the in-memory one-shot
      probe using the SAME frozen centroids over the whole corpus
      (frozen-quantizer contract: a batch added later lands exactly
      where a one-shot build would have put it; the streaming twin
      ``stream_ivf_ingest`` pins the same identity for foreachBatch
      ingest);
    - ``files_reduced`` — ``compact()`` shrank the per-list file count
      the batch appends created;
    - ``post_compact_identical`` — the compacted store still answers
      identically (the journaled rewrite moved bytes, not rows).
    """
    from ..operators.ann_index import IVFIndex
    from ..session import scratch_dir

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)

    idx = IVFIndex(spark, scratch_dir("m2c_ivfidx_") + "/index", dim=EMB_DIM, n_list=32)
    b0 = c.filter(F.pmod("vec_id", F.lit(3)) == 0)
    idx.build(b0)
    n = b0.count()
    for m in (1, 2):
        n += idx.add_batch(c.filter(F.pmod("vec_id", F.lit(3)) == m))

    got = idx.search(q, k=TOPK, nprobe=8).persist()
    want = ivf_frozen_reference(idx, c, q)
    n_mismatch = got.exceptAll(want).count() + want.exceptAll(got).count()
    n_rows = got.count()

    before = idx.compact()
    again = idx.search(q, k=TOPK, nprobe=8)
    post_identical = (
        again.exceptAll(got).isEmpty() and got.exceptAll(again).isEmpty()
    )
    got.unpersist()
    return spark.createDataFrame(
        [
            (
                n,
                n_rows,
                n_mismatch,
                bool(before["lists"]["files_after"] <= before["lists"]["files_before"]),
                bool(post_identical),
            )
        ],
        "n_indexed bigint, n_rows bigint, n_mismatch bigint,"
        " files_reduced boolean, post_compact_identical boolean",
    )


KNN_K = 3


def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor GRAPH (k=3, cosine) over the embedding
    corpus — the building block of graph-based dedup/diversity passes.
    Baseline form: broadcast one side of the all-pairs product, per-node
    window top-k; sims exact, fully oracle-checked. The scale path is
    ``ann_knn_graph_lsh``."""
    emb = _emb(spark, sf_dir)
    a = _unit_vecs(emb, "vec_id", "embedding", "src", "ua")
    b = _unit_vecs(emb, "vec_id", "embedding", "dst", "ub")
    return _exact_top_k(
        a.crossJoin(F.broadcast(b)).filter(F.col("src") != F.col("dst")),
        KNN_K, "src", "dst", ("ua", "ub"),
    )


def ann_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed kNN graph (scale path): candidates from the
    multi-table hyperplane self-join (both directions), exact rerank
    inside candidates, per-node top-k. At 100 TB this replaces the n²
    product with bucket-sized candidate sets — the same plan family as
    ``dedup_embedding_cosine``, pointed at graph construction. Rows-only
    driver check; ``ann_knn_graph_recall`` is the twin."""
    emb = _emb(spark, sf_dir)
    b = with_lsh_buckets(
        emb.select("vec_id", "embedding"), dim=EMB_DIM, n_planes=6, n_tables=8
    ).select("vec_id", "tbl", "bucket")
    cands = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
        .distinct()
    )
    ua = _unit_vecs(emb, "vec_id", "embedding", "src", "ua")
    ub = _unit_vecs(emb, "vec_id", "embedding", "dst", "ub")
    return _exact_top_k(
        cands.join(ua, "src").join(ub, "dst"), KNN_K, "src", "dst", ("ua", "ub")
    )


KNN_GRAPH_RECALL_BOUND = 0.25  # measured mean edge recall: see twin docstring


def ann_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall twin of ``ann_knn_graph_lsh``: mean per-node edge overlap
    with the exact graph must clear KNN_GRAPH_RECALL_BOUND, and every
    corpus node must appear in the approximate graph. One row:
    (n_nodes, coverage_ok, recall_ok)."""
    exact = ann_knn_graph(spark, sf_dir).select("src", "dst")
    approx = ann_knn_graph_lsh(spark, sf_dir).select("src", "dst")
    hits = (
        approx.join(exact, ["src", "dst"], "left_semi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    nodes = _emb(spark, sf_dir).select(F.col("vec_id").alias("src"))
    per_node = nodes.join(hits, "src", "left").select(
        "src", F.coalesce("n_hit", F.lit(0)).alias("n_hit")
    )
    n_approx_nodes = approx.select("src").distinct().count()
    return per_node.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.lit(n_approx_nodes) == F.count(F.lit(1))).alias("coverage_ok"),
        (F.avg(F.col("n_hit") / F.lit(float(KNN_K))) >= KNN_GRAPH_RECALL_BOUND).alias(
            "recall_ok"
        ),
    )


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm (sequential fold => engine-deterministic) +
    label, rounded at 4dp."""
    from ..functions.similarity import _norm

    return _emb(spark, sf_dir).select(
        "vec_id", "label", F.round(_norm(F.col("embedding")), 4).alias("l2_norm")
    )


def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION standardization (x - mean_d) / std_d — the feature
    preprocessing pass before clustering/quantization when dimensions
    carry different scales. Two stages: (1) dimension stats via
    posexplode + groupBy(dim) — 64 groups, partial agg map-side, so the
    shuffle carries 64 rows per input partition regardless of corpus
    size; (2) stats broadcast back and applied as a per-row zip_with.
    Population std (sqrt(E[x²]-E[x]²)); a constant dimension
    standardizes to 0 (std clamped to 1). Output certifies per-vector
    digests: (vec_id, z_sum, z_md5)."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dims = emb.select("vec_id", F.posexplode("v").alias("dim", "x"))
    stats = dims.groupBy("dim").agg(
        F.avg("x").alias("mu"),
        F.sqrt(
            F.greatest(
                F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x"), F.lit(0.0)
            )
        ).alias("sd"),
    )
    # collect UNORDERED, then array_sort on the leading dim field — a
    # collect_list after orderBy has no order guarantee through the agg
    packed = stats.agg(
        F.array_sort(F.collect_list(F.struct("dim", "mu", "sd"))).alias("st")
    )
    z = F.zip_with(
        F.col("v"),
        F.col("st"),
        lambda x, s: (x - s["mu"])
        / F.when(s["sd"] > 0, s["sd"]).otherwise(F.lit(1.0)),
    )
    # integer digest: round(z·10⁴) as BIGINT — double→string formatting
    # is NOT portable across engines (Spark "1.0E-4" vs DuckDB "0.0001")
    z_int = F.transform(z, lambda t: F.round(t * 10000, 0).cast("bigint"))
    return emb.crossJoin(F.broadcast(packed)).select(
        "vec_id",
        F.aggregate(z_int, F.lit(0).cast("bigint"), lambda a, t: a + t).alias("z_sum"),
        F.md5(F.array_join(F.transform(z_int, lambda t: t.cast("string")), ",")).alias(
            "z_md5"
        ),
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector uint8 scalar quantization — the storage transform that
    cuts an embedding store 4× (float32 → 1 byte/dim + 2 scale floats),
    standard practice before a 100 TB ANN index is persisted.

    code_i = floor((x_i - min) / scale + 0.5) with scale = (max-min)/255
    — round-half-up spelled as floor(+0.5) because DuckDB's round() on
    DOUBLE is half-away-from-zero while the quantity here is always
    ≥ 0; the floor form is bit-identical on both engines. Per-row fold,
    zero shuffles. Output certifies the codebook (md5 over the code
    string) and the reconstruction bound (max |dequant - x| ≤ scale/2).
    """
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mn, mx = F.array_min(v), F.array_max(v)
    scale = F.when(mx > mn, (mx - mn) / F.lit(255.0)).otherwise(F.lit(1.0))
    # the per-row scalars ride into the element lambdas via a repeated
    # struct so they are evaluated once per row — captured directly they
    # re-evaluate their O(dim) folds per element (the unit_vec_col
    # lesson: O(dim²) per row, and CollapseProject defeats attribute
    # hoisting)
    srep = F.array_repeat(F.struct(mn.alias("mn"), scale.alias("scale")), F.size(v))
    codes = F.zip_with(
        v, srep, lambda x, s: F.floor((x - s["mn"]) / s["scale"] + F.lit(0.5)).cast("int")
    )
    dequant = F.zip_with(
        codes, srep, lambda c, s: c.cast("double") * s["scale"] + s["mn"]
    )
    err = F.array_max(F.zip_with(dequant, v, lambda d, x: F.abs(d - x)))
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.round(mn, 4).alias("qmin"),
        F.round(mx, 4).alias("qmax"),
        F.aggregate(codes, F.lit(0).cast("bigint"), lambda a, c: a + c).alias(
            "code_sum"
        ),
        F.md5(F.array_join(F.transform(codes, lambda c: c.cast("string")), ",")).alias(
            "code_md5"
        ),
        (err <= scale / F.lit(2.0) + F.lit(1e-12)).alias("reconstruction_ok"),
    )


# --- corpus curation (end-to-end pipeline composition) --------------------

#: curation thresholds — deliberately permissive so the gate is
#: data-driven, not degenerate (some docs fail, most pass)
CURATE_MIN_TOKENS = 8
CURATE_MIN_QUALITY = 0.3
EXACT_DUP_OFFSET = 2_000_000


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline over ``documents``: per-doc
    feature pass → quality gate → exact dedup (keep lowest doc_id per
    content hash) → curated set with its features.

    Exercised on the corpus ∪ planted EXACT copies (doc_id + 2·10^6,
    same bytes): the dedup stage must drop every planted copy and keep
    every original that clears the gate.

    Shape at 100 TB: one scan computes all features JVM-side (same
    codegen pass as ``text_stats``), the gate filters before the only
    shuffle (groupBy content hash with a partial ``min_by``), so the
    wire carries one packed row per surviving hash per input partition.
    This is the pipeline a curation job would run nightly; every stage
    is also available standalone (``text_stats``, ``dedup_exact``)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.select((F.col("doc_id") + EXACT_DUP_OFFSET).alias("doc_id"), "text")
    corpus = d.unionByName(dup)

    q = quality_score_cols(F.col("text"))
    feat = corpus.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("content_hash"),
        q["n_tokens"].alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
        langid_col(F.col("text")).alias("lang_guess"),
    ).filter(
        (F.col("n_tokens") >= CURATE_MIN_TOKENS)
        & (F.col("quality_score") >= CURATE_MIN_QUALITY)
    )
    kept = feat.groupBy("content_hash").agg(
        F.min_by(
            F.struct("doc_id", "n_tokens", "quality_score", "lang_guess"),
            F.col("doc_id"),
        ).alias("__row"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return kept.select(
        F.col("__row.doc_id").alias("doc_id"),
        "content_hash",
        F.col("__row.n_tokens").alias("n_tokens"),
        F.col("__row.quality_score").alias("quality_score"),
        F.col("__row.lang_guess").alias("lang_guess"),
        "n_copies",
    )


# --- multimodal -----------------------------------------------------------

def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via Arrow ``mapInPandas`` (the
    decode itself is a deterministic stub; the plumbing is real and the
    fake features are oracle-checkable from byte lengths)."""
    media = attach_binary_payload(_docs(spark, sf_dir), "text")
    return extract_media_features(media)


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 binary resize transform (Arrow ``mapInPandas``, stub codec):
    every payload lands at exactly out_w×out_h bytes. Oracle checks the
    full (doc_id, modality, dims, size) contract of the transform."""
    media = attach_binary_payload(_docs(spark, sf_dir), "text")
    resized = resize_media(media, w=32, h=16)
    return resized.select(
        "doc_id",
        "modality",
        "out_w",
        "out_h",
        F.length("content").cast("bigint").alias("n_bytes"),
    )


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (video-style 1→N) over the binary payload
    via ``mapInPandas``. Frame count per doc = ceil-ish chunk math on
    byte length — oracle-checked on (doc_id, n_frames, total_bytes);
    the raw frame bytes stay Spark-side."""
    media = attach_binary_payload(_docs(spark, sf_dir), "text")
    return (
        sample_frames(media, every_n=4)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.length("frame")).alias("frame_bytes"),
        )
    )


def multimodal_export_tar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset export of BINARY media payloads — the tar layout's
    actual raison d'être: one ``{id}.{modality}`` raw-bytes member +
    one ``{id}.json`` metadata member per document, written by
    ``export_shards_tar(payload_col=...)`` and certified by a
    parse-level read-back. The certification row proves (a) manifest
    row/byte sums equal the parsed members, (b) shard id ranges are
    non-overlapping, (c) per-shard id digests match, and (d) EVERY
    payload member's md5 equals the md5 of the source binary column —
    the media bytes round-trip exactly.

    ``n_tokens`` carries the payload byte length (the budget unit a
    media trainer shards by); the DuckDB oracle recomputes the totals
    from the utf-8 byte length of the text the fake payload encodes."""
    from ..operators.export import export_shards_tar, tar_member_rows
    from ..session import scratch_dir

    d = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    media = attach_binary_payload(d, "text")
    curated = media.withColumn("n_tokens", F.length("content").cast("bigint"))
    out = scratch_dir("m2c_media_")
    manifest = export_shards_tar(
        spark,
        curated,
        out,
        rows_per_file=200,
        payload_col="content",
        ext_col="modality",
    )
    rows = tar_member_rows(spark, out + "/data")
    recomputed = rows.groupBy("shard").agg(
        F.count(F.lit(1)).alias("r_rows"),
        F.sum("n_tokens").cast("bigint").alias("r_tokens"),
        F.md5(F.concat_ws(",", F.sort_array(F.collect_list("doc_id")))).alias(
            "r_md5"
        ),
    )
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
    payload_ok = (
        rows.join(curated.select("doc_id", "content"), "doc_id")
        .agg(
            F.min(F.col("text_md5") == F.md5(F.col("content"))).alias("bytes_ok"),
            F.count(F.lit(1)).alias("n_checked"),
        )
    )
    checks = (
        manifest.join(recomputed, "shard", "inner")
        .agg(
            F.sum("n_rows").cast("bigint").alias("m_rows"),
            F.sum("n_tokens").cast("bigint").alias("m_tokens"),
            F.min(
                (F.col("n_rows") == F.col("r_rows"))
                & (F.col("n_tokens") == F.col("r_tokens"))
                & (F.col("ids_md5") == F.col("r_md5"))
                & (F.col("n_rows") <= F.lit(200))
            ).alias("shards_ok"),
        )
        .crossJoin(F.broadcast(overlaps))
        .crossJoin(F.broadcast(payload_ok))
    )
    totals = curated.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_tokens").cast("bigint").alias("total_bytes"),
    )
    return totals.crossJoin(F.broadcast(checks)).select(
        "n_media",
        "total_bytes",
        (
            F.col("shards_ok")
            & (F.col("n_overlaps") == 0)
            & F.col("bytes_ok")
            & (F.col("n_checked") == F.col("n_media"))
            & (F.col("m_rows") == F.col("n_media"))
            & (F.col("m_tokens") == F.col("total_bytes"))
        ).alias("manifest_consistent"),
    )


#: absolute slack for sketch-vs-exact certification at test SF: HLL with
#: lgK=14 is EXACT in sparse mode below ~2^14 distincts and ±0.8% above;
#: KLL/GK percentile rank error is bounded by the accuracy parameter
SKETCH_ABS_SLACK = 3
SKETCH_REL_SLACK = 0.05
#: certification rank window for the quantile sketch: wider than the
#: sketch's own 1/accuracy rank error because the sketch returns a DATA
#: ELEMENT while the exact bound percentiles interpolate between
#: elements — at small group sizes an element can sit just outside an
#: interpolated ±ε window even when its rank is exact
QUANTILE_CERT_EPS = 0.01


def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — Apache DataSketches HLL via
    the native ``hll_sketch_agg`` (Spark 3.5+): one binary sketch per
    day, union-merged for the overall count. This is THE 100 TB shape
    for distinct users: per-partition sketches combine map-side,
    register-wise max is order-independent (deterministic estimates),
    a day's sketch is ~16 KB regardless of cardinality, and the
    overall count is a reduce over day sketches — never a re-scan.
    A COUNT(DISTINCT) rewrite of the same rollup re-shuffles the raw
    id universe per grouping set.

    Certification: each scope row carries the EXACT distinct count and
    a bounded-error flag |estimate − exact| ≤ max(abs, rel·exact); the
    DuckDB oracle recomputes the exacts and expects every flag true.
    Output: (scope, n_exact, est_ok)."""
    from pyspark.sql.functions import (
        hll_sketch_agg,
        hll_sketch_estimate,
        hll_union_agg,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "user_id"
    )
    bound = lambda exact: F.greatest(  # noqa: E731
        F.lit(SKETCH_ABS_SLACK).cast("double"),
        F.lit(SKETCH_REL_SLACK) * exact.cast("double"),
    )
    daily = ev.groupBy("d").agg(
        hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    per_day = daily.select(
        F.concat(F.lit("day:"), F.col("d").cast("string")).alias("scope"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(hll_sketch_estimate("sk") - F.col("n_exact"))
            <= bound(F.col("n_exact"))
        ).alias("est_ok"),
    )
    merged = daily.agg(hll_union_agg("sk").alias("sk"))
    total = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    overall = total.crossJoin(F.broadcast(merged)).select(
        F.lit("all").alias("scope"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(hll_sketch_estimate("sk") - F.col("n_exact"))
            <= bound(F.col("n_exact"))
        ).alias("est_ok"),
    )
    return per_day.unionByName(overall)


def corpus_manifest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAINTAINED corpus-statistics manifest (round 11 —
    ``operators/manifest.py``, the seventh store): fold the documents
    table in three batches (``doc_id % 3``), replay one batch, and
    certify the running manifest against (a) a one-shot manifest
    folded in a single batch — every exact-mergeable statistic
    (doc/token/char sums, per-language counts, the 16-bin log2
    token-length histogram) must be EQUAL, because sums are
    associative over any batching — and (b) the exact distinct-doc
    count, which the union-merged HLL(lgK=14) estimate must match
    within the sketch family's tolerance. ``replay_noop`` certifies
    the fingerprint ledger: redelivering a folded batch leaves the
    partials table untouched (n_batches stays 3).

    The sums are DuckDB-recomputable (the oracle recomputes
    n_docs/n_tokens/n_chars with the shared token SQL); the equality
    and tolerance flags have fixed expected outcomes."""
    from ..operators.manifest import CorpusManifest
    from ..session import scratch_dir

    d = _docs(spark, sf_dir).select("doc_id", "text")
    inc = CorpusManifest(spark, scratch_dir("m2c_manifest_") + "/inc")
    for r in range(3):
        inc.add_batch(d.filter(F.col("doc_id") % 3 == r))
    rep = inc.add_batch(d.filter(F.col("doc_id") % 3 == 1))  # redelivery
    one = CorpusManifest(spark, scratch_dir("m2c_manifest_") + "/one")
    one.add_batch(d)

    si = inc.snapshot().first().asDict()
    so = one.snapshot().first().asDict()
    exact_fields = [
        "n_docs", "n_tokens", "n_chars",
        "lang_en", "lang_de", "lang_es", "lang_unk", "tok_hist",
    ]
    inc_eq_one = all(si[f] == so[f] for f in exact_fields)
    n_exact = d.select("doc_id").distinct().count()
    bound = max(SKETCH_ABS_SLACK, SKETCH_REL_SLACK * n_exact)
    est_ok = (
        abs(si["distinct_docs_est"] - n_exact) <= bound
        and abs(so["distinct_docs_est"] - n_exact) <= bound
    )
    replay_noop = bool(rep["replayed"]) and si["n_batches"] == 3
    return spark.createDataFrame(
        [(
            int(si["n_docs"]), int(si["n_tokens"]), int(si["n_chars"]),
            int(si["n_batches"]), bool(inc_eq_one), bool(est_ok),
            bool(replay_noop),
        )],
        "n_docs bigint, n_tokens bigint, n_chars bigint,"
        " n_batches bigint, incremental_equals_oneshot boolean,"
        " distinct_est_ok boolean, replay_noop boolean",
    )


def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-mergeable VALUE-quantile estimates per event type —
    ``approx_percentile`` (Greenwald-Khanna, deterministic): p50/p90/p99
    of ``value``, certified against the exact percentiles with a
    rank-error bound. At 100 TB the exact form needs a full sort per
    group; the sketch combines map-side in bounded memory. The flag
    asserts each estimate lies between the exact interpolated
    percentiles at rank ±``QUANTILE_CERT_EPS``·n — a window wider than
    the sketch's own 0.1% rank guarantee because the sketch returns a
    data ELEMENT while the bounds interpolate. Output: one row per
    (event_type, p) with the exact percentile and in_bounds."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    eps = QUANTILE_CERT_EPS  # sketch accuracy itself is 1000 (0.1% rank)
    probs = [0.5, 0.9, 0.99]
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", probs, 1000).alias("est"),
        *[
            F.expr(f"percentile(value, {max(p - eps, 0.0)})").alias(f"lo_{i}")
            for i, p in enumerate(probs)
        ],
        *[
            F.expr(f"percentile(value, {min(p + eps, 1.0)})").alias(f"hi_{i}")
            for i, p in enumerate(probs)
        ],
        *[
            F.expr(f"percentile(value, {p})").alias(f"exact_{i}")
            for i, p in enumerate(probs)
        ],
    )
    rows = []
    for i, p in enumerate(probs):
        rows.append(
            agg.select(
                "event_type",
                F.lit(p).alias("p"),
                F.round(F.col(f"exact_{i}"), 4).alias("exact_value"),
                (
                    (F.col("est")[i] >= F.col(f"lo_{i}"))
                    & (F.col("est")[i] <= F.col(f"hi_{i}"))
                ).alias("in_bounds"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def text_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters sketch over the corpus vocabulary —
    ``approx_top_k`` (Spark's frequent-items sketch): the top-10 most
    frequent tokens, certified against the exact counts. At 100 TB the
    exact form is a full token aggregation + TakeOrdered; the sketch
    tracks a bounded item set per partition and merges map-side —
    bounded memory at any vocabulary size.

    Certification per exact-top-10 token: it must appear in the
    sketch's (wider) top-50 item list with a count within
    max(3, 0.5%·total_tokens) of exact — robust to near-tie reordering
    at the boundary while still pinning the sketch found every true
    heavy hitter with a near-exact count. Output: (token, cnt,
    sketch_ok); exact counts are DuckDB-reproducible, tie-break on
    (cnt desc, token)."""
    from ..functions.text import tokens_col

    d = _docs(spark, sf_dir)
    tok = d.select(
        F.explode(tokens_col(F.coalesce(F.col("text"), F.lit("")))).alias("token")
    )
    exact = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(10)
    )
    sk = tok.agg(
        F.expr("approx_top_k(token, 50, 65536)").alias("tk"),
        F.count(F.lit(1)).alias("n_total"),
    )
    sk_items = sk.select(
        "n_total", F.explode("tk").alias("s")
    ).select(
        F.col("s.item").alias("token"),
        F.col("s.count").alias("sk_cnt"),
        "n_total",
    )
    slack = F.greatest(
        F.lit(3).cast("double"), F.lit(0.005) * F.col("n_total").cast("double")
    )
    return (
        exact.join(F.broadcast(sk_items), "token", "left")
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            (
                F.col("sk_cnt").isNotNull()
                & (F.abs(F.col("sk_cnt") - F.col("cnt")) <= slack)
            ).alias("sketch_ok"),
        )
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_recall": dedup_minhash_lsh_recall,
    "dedup_incremental": dedup_incremental,
    "dedup_minhash_index_deletes": dedup_minhash_index_deletes,
    "dedup_simhash_incremental": dedup_simhash_incremental,
    "dedup_simhash_index_deletes": dedup_simhash_index_deletes,
    "dedup_index_probe": dedup_index_probe,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_locality": dedup_simhash_locality,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_simhash_pairs_exact": dedup_simhash_pairs_exact,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "semdedup": semdedup,
    "semdedup_recall": semdedup_recall,
    "multimodal_frames": multimodal_frames,
    "multimodal_resize": multimodal_resize,
    "text_stats": text_stats,
    "text_bpe_train": text_bpe_train,
    "text_bpe_encode": text_bpe_encode,
    "text_rolling_fingerprint": text_rolling_fingerprint,
    "text_lang_profile": text_lang_profile,
    "corpus_curation": corpus_curation,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_cosine_threshold": ann_cosine_threshold,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_lsh_recall": ann_lsh_recall,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_recall": ann_ivf_recall,
    "ann_pq_topk": ann_pq_topk,
    "ann_pq_recall": ann_pq_recall,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_ivfpq_recall": ann_ivfpq_recall,
    "ann_knn_graph": ann_knn_graph,
    "ann_knn_graph_lsh": ann_knn_graph_lsh,
    "ann_knn_graph_recall": ann_knn_graph_recall,
    "ann_ivf_partitioned": ann_ivf_partitioned,
    "ann_ivf_deletes": ann_ivf_deletes,
    "ann_ivf_incremental": ann_ivf_incremental,
    "ann_ivf_partitioned_equiv": ann_ivf_partitioned_equiv,
    "embedding_norms": embedding_norms,
    "embedding_standardize": embedding_standardize,
    "embedding_quantize": embedding_quantize,
    "multimodal_features": multimodal_features,
    "multimodal_export_tar": multimodal_export_tar,
    "events_hll_distinct": events_hll_distinct,
    "corpus_manifest_incremental": corpus_manifest_incremental,
    "events_quantile_sketch": events_quantile_sketch,
    "text_topk_sketch": text_topk_sketch,
}

_MUTANT_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {MUT_OFFSET} AS doc_id, text || ' extra' AS text FROM documents
"""

_TOKENS_SQL = """
CASE WHEN length(trim(text)) = 0 THEN 0
     ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END
"""

_NTHE_SQL = """
(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5
"""

ORACLE = {
    # same floor(+0.5) spelling as the Spark side: bit-identical
    # round-half-up on both engines, no round() dialect divergence
    "embedding_quantize": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
         CASE WHEN list_max(v) > list_min(v)
              THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
  FROM e
),
c AS (
  SELECT vec_id, v, mn, mx, scale,
         list_transform(v, x -> CAST(floor((x - mn) / scale + 0.5) AS INT)) AS codes
  FROM s
)
SELECT vec_id, round(mn, 4) AS qmin, round(mx, 4) AS qmax,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       md5(array_to_string(list_transform(codes, k -> CAST(k AS VARCHAR)), ',')) AS code_md5,
       (list_max(list_transform(range(1, len(codes) + 1),
                 i -> abs(codes[i] * scale + mn - v[i])))
        <= scale / 2.0 + 1e-12) AS reconstruction_ok
FROM c
""",
    # planted exact copies are provably co-clustered at cosine 1, so the
    # expected outcome is a constant the oracle derives from row counts
    "semdedup_recall": """
SELECT CAST(2 * count(*) AS BIGINT) AS n_vectors,
       CAST(count(*) AS BIGINT) AS n_planted,
       TRUE AS planted_all_dropped
FROM embeddings
""",
    "dedup_exact": f"""
WITH d AS ({_MUTANT_SQL})
SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
       count(*) AS n_copies
FROM d GROUP BY md5(text)
""",
    "dedup_ngram_jaccard": f"""
WITH d AS ({_MUTANT_SQL}),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(length(lower(text)) - 4, 1) + 1),
             i -> substring(lower(text), i, 5))) AS shingles
  FROM d
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + {MUT_OFFSET}
""",
    "text_stats": f"""
SELECT doc_id, lang,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST({_TOKENS_SQL} AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT)
           AS n_subtokens,
       round(CASE WHEN {_TOKENS_SQL} > 0
             THEN CAST(length(text) AS DOUBLE) / {_TOKENS_SQL} ELSE 0.0 END, 4) AS mean_token_len,
       round(CASE WHEN {_TOKENS_SQL} > 0
             THEN {_NTHE_SQL} / {_TOKENS_SQL} ELSE 0.0 END, 4) AS stopword_ratio,
       round(least(1.0, CAST({_TOKENS_SQL} AS DOUBLE) / 64.0) * 0.5
             + least(1.0, CASE WHEN {_TOKENS_SQL} > 0
                     THEN {_NTHE_SQL} / {_TOKENS_SQL} ELSE 0.0 END * 10.0) * 0.5, 4)
           AS quality_score,
       CASE WHEN contains(' ' || text || ' ', ' the ') THEN 'en'
            WHEN contains(' ' || text || ' ', ' der ') THEN 'de'
            WHEN contains(' ' || text || ' ', ' que ') THEN 'es'
            ELSE 'unk' END AS lang_guess,
       substring(md5(lower(text)), 1, 16) AS fingerprint
FROM documents
""",
    "corpus_curation": f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {EXACT_DUP_OFFSET} AS doc_id, text FROM documents
),
feat AS (
    SELECT doc_id,
           md5(lower(text)) AS content_hash,
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
gated AS (
    SELECT * FROM feat
    WHERE n_tokens >= {CURATE_MIN_TOKENS} AND quality_score >= {CURATE_MIN_QUALITY}
)
SELECT doc_id, content_hash, n_tokens, quality_score, lang_guess, n_copies
FROM (
    SELECT *,
           row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn,
           CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT) AS n_copies
    FROM gated
) WHERE rn = 1
""",
    # identical polynomial fold: h = (h*257 + ascii(char)) % (2^31-1)
    "text_rolling_fingerprint": """
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(coalesce(text, ''), ''),
                              c -> CAST(ascii(c) AS BIGINT))),
           (acc, ch) -> (acc * 257 + ch) % 2147483647
       ) AS rhash
FROM documents
""",
    # 1:1 resize to 32x16: every payload lands at exactly 512 bytes
    # exact top-10 tokens recomputed with the shared tokenizer and the
    # same (cnt desc, token) tie-break; sketch_ok is the engine-side
    # heavy-hitter certification
    "text_topk_sketch": """
WITH tok AS (
  SELECT unnest(list_filter(
      string_split_regex(lower(trim(coalesce(text, ''))), ' +'),
      t -> t <> '')) AS token
  FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS cnt, true AS sketch_ok
FROM tok GROUP BY token
ORDER BY cnt DESC, token ASC
LIMIT 10
""",
    # exact distinct counts recomputed; the bounded-error flags are the
    # engine-side sketch certification (HLL lgK=14 is exact in sparse
    # mode at these cardinalities)
    # the maintained manifest's exact sums recomputed with the shared
    # token SQL; the equality/tolerance/replay flags are fixed expected
    # outcomes (the Spark side asserts them against the one-shot twin)
    "corpus_manifest_incremental": f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum({_TOKENS_SQL}), 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars,
       CAST(3 AS BIGINT) AS n_batches,
       CAST(TRUE AS BOOLEAN) AS incremental_equals_oneshot,
       CAST(TRUE AS BOOLEAN) AS distinct_est_ok,
       CAST(TRUE AS BOOLEAN) AS replay_noop
FROM documents
""",
    "events_hll_distinct": """
WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events)
SELECT 'day:' || CAST(d AS VARCHAR) AS scope,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       true AS est_ok
FROM e GROUP BY d
UNION ALL
SELECT 'all' AS scope, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       true AS est_ok
FROM e
""",
    # exact interpolated percentiles recomputed (quantile_cont = the
    # same continuous definition as Spark's percentile()); in_bounds is
    # the engine-side GK rank-error certification
    "events_quantile_sketch": """
WITH q AS (
  SELECT event_type,
         round(quantile_cont(value, 0.5), 4) AS e0,
         round(quantile_cont(value, 0.9), 4) AS e1,
         round(quantile_cont(value, 0.99), 4) AS e2
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(0.5 AS DOUBLE) AS p, e0 AS exact_value,
       true AS in_bounds FROM q
UNION ALL
SELECT event_type, CAST(0.9 AS DOUBLE) AS p, e1 AS exact_value,
       true AS in_bounds FROM q
UNION ALL
SELECT event_type, CAST(0.99 AS DOUBLE) AS p, e2 AS exact_value,
       true AS in_bounds FROM q
""",
    # totals recomputed from the utf-8 byte length of the text the fake
    # payload encodes; consistency is the engine-side parse-level cert
    "multimodal_export_tar": """
SELECT CAST(count(*) AS BIGINT) AS n_media,
       CAST(sum(octet_length(encode(coalesce(text, '')))) AS BIGINT)
           AS total_bytes,
       true AS manifest_consistent
FROM documents
""",
    "multimodal_resize": """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
       CAST(32 AS INT) AS out_w,
       CAST(16 AS INT) AS out_h,
       CAST(512 AS BIGINT) AS n_bytes
FROM documents
""",
    # n_docs / n_words recomputed from the text; merge count and the
    # compression bounds are fixed expected outcomes (twin pattern)
    "text_bpe_train": f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST({_TOKENS_SQL} AS BIGINT)) AS BIGINT) AS n_words,
       CAST({BPE_N_MERGES} AS BIGINT) AS n_merges,
       CAST(true AS BOOLEAN) AS compression_ok
FROM documents
""",
    # the decode of the encoded stream must byte-equal the canonical
    # text, whose digest DuckDB computes straight off the raw table
    "text_bpe_encode": f"""
SELECT doc_id,
       CAST({_TOKENS_SQL} AS BIGINT) AS n_words,
       md5(regexp_replace(lower(trim(coalesce(text, ''))), ' +', ' ', 'g'))
           AS roundtrip_md5,
       CAST(true AS BOOLEAN) AS tokens_in_bounds
FROM documents
""",
    "text_lang_profile": f"""
SELECT lang,
       CASE WHEN contains(' ' || text || ' ', ' the ') THEN 'en'
            WHEN contains(' ' || text || ' ', ' der ') THEN 'de'
            WHEN contains(' ' || text || ' ', ' que ') THEN 'es'
            ELSE 'unk' END AS lang_guess,
       count(*) AS n_docs,
       CAST(SUM(CAST({_TOKENS_SQL} AS BIGINT)) AS BIGINT) AS total_tokens
FROM documents GROUP BY 1, 2
""",
    "ann_cosine_topk": f"""
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings WHERE vec_id >= {N_QUERIES}),
s AS (SELECT qid, cid, list_cosine_similarity(qe, ce) AS sim FROM q, c),
r AS (SELECT qid, cid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rk
      FROM s)
SELECT qid, cid, round(sim, 4) AS sim, rk FROM r WHERE rk <= {TOPK}
""",
    "ann_cosine_threshold": f"""
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings WHERE vec_id >= {N_QUERIES})
SELECT qid, cid, round(list_cosine_similarity(qe, ce), 4) AS sim
FROM q, c WHERE list_cosine_similarity(qe, ce) > {SIM_THRESHOLD}
""",
    # same per-dimension population stats, same z arithmetic, same
    # integer digest (double→string is not cross-engine portable)
    "embedding_standardize": """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
d AS (SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
             i -> {'dim': i, 'x': v[i]})) AS u FROM e),
s AS (SELECT u.dim AS dim, avg(u.x) AS mu,
             sqrt(greatest(avg(u.x * u.x) - avg(u.x) * avg(u.x), 0.0)) AS sd
      FROM d GROUP BY u.dim),
st AS (SELECT list_sort(list({'dim': dim, 'mu': mu, 'sd': sd})) AS st FROM s),
z AS (
  SELECT vec_id,
         list_transform(range(1, len(v) + 1),
             i -> CAST(round((v[i] - st[i].mu)
                        / (CASE WHEN st[i].sd > 0 THEN st[i].sd ELSE 1.0 END)
                        * 10000, 0) AS BIGINT)) AS zi
  FROM e CROSS JOIN st
)
SELECT vec_id, CAST(list_sum(zi) AS BIGINT) AS z_sum,
       md5(array_to_string(list_transform(zi, t -> CAST(t AS VARCHAR)), ',')) AS z_md5
FROM z
""",
    "embedding_norms": """
SELECT vec_id, label,
       round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 4)
           AS l2_norm
FROM embeddings
""",
    "multimodal_features": """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS frame_w,
       CAST(octet_length(encode(text)) % 480 AS BIGINT) AS frame_h
FROM documents
""",
    # frame chunking: payload = utf8(text); 256-byte chunks, every 4th
    # sampled; chunks are full except the single short chunk of a
    # sub-256-byte payload — so sampled count = ceil((L div 256)/4)
    "multimodal_frames": """
WITH m AS (SELECT doc_id, octet_length(encode(text)) AS L FROM documents)
SELECT doc_id,
       CASE WHEN L // 256 < 1 THEN CAST(1 AS BIGINT)
            ELSE (L // 256 + 3) // 4 END AS n_frames,
       CASE WHEN L // 256 < 1 THEN CAST(L AS BIGINT)
            ELSE ((L // 256 + 3) // 4) * 256 END AS frame_bytes
FROM m
""",
    "dedup_embedding_cosine": f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {MUT_OFFSET} AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {EMB_DUP_THRESHOLD}
""",
    # dedup_minhash_lsh / dedup_simhash / dedup_simhash_pairs /
    # ann_lsh_topk / ann_ivf_topk: raw outputs are rows-only
    # (hash-function-dependent) — but each has a fully oracle-checked
    # recall/exactness TWIN below: the metric is emitted as data with a
    # fixed expected outcome, so the driver value-hash certifies the
    # operator recovered the planted structure.
    "dedup_minhash_lsh_recall": """
SELECT count(*) AS n_planted, CAST(true AS BOOLEAN) AS recall_ok FROM documents
""",
    # incremental index: planted recall + bag-equality with the one-shot
    # pipeline, both emitted as data with fixed expected outcomes
    "dedup_incremental": """
SELECT count(*) AS n_planted, CAST(true AS BOOLEAN) AS recall_ok,
       CAST(true AS BOOLEAN) AS incremental_equals_full
FROM documents
""",
    # a doc yields a simhash iff it has >= 1 token; a mutant iff its
    # source text is non-NULL (concat propagates NULL) — mirrored here
    # so degenerate corpora can't skew the twin's counts
    "dedup_simhash_locality": """
SELECT count(*) AS n_pairs, CAST(true AS BOOLEAN) AS locality_ok
FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
""",
    "dedup_simhash_pairs_exact": """
SELECT CAST(count(CASE WHEN text IS NOT NULL AND length(trim(text)) > 0 THEN 1 END)
            + count(CASE WHEN text IS NOT NULL THEN 1 END) AS BIGINT) AS n_docs,
       CAST(true AS BOOLEAN) AS banding_exact
FROM documents
""",
    "ann_lsh_recall": f"""
SELECT vec_id AS qid, CAST(true AS BOOLEAN) AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
    "ann_ivf_recall": f"""
SELECT vec_id AS qid, CAST(true AS BOOLEAN) AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
    "ann_pq_recall": f"""
SELECT vec_id AS qid, CAST(true AS BOOLEAN) AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
    "ann_ivfpq_recall": f"""
SELECT vec_id AS qid, CAST(true AS BOOLEAN) AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
    "ann_knn_graph": f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
             list_cosine_similarity(a.v, b.v) AS sim
      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
r AS (SELECT src, dst, sim,
             row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
      FROM s)
SELECT src, dst, round(sim, 4) AS sim, rk FROM r WHERE rk <= {KNN_K}
""",
    "ann_knn_graph_recall": """
SELECT count(*) AS n_nodes, CAST(true AS BOOLEAN) AS coverage_ok,
       CAST(true AS BOOLEAN) AS recall_ok
FROM embeddings
""",
    # the partitioned (index-as-table) IVF must be row-identical to the
    # in-memory IVF: full top-k result set, zero mismatches
    "ann_ivf_partitioned_equiv": f"""
SELECT CAST({N_QUERIES * TOPK} AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_mismatch
""",
    # frozen-quantizer contract: the stream-ingested store answers
    # identically to the in-memory probe, before AND after compaction;
    # n_indexed recounted from the raw table
    "ann_ivf_deletes": f"""
SELECT CAST(count(*) AS BIGINT) AS n_deleted,
       CAST(TRUE AS BOOLEAN) AS logical_identical,
       CAST(TRUE AS BOOLEAN) AS physical_identical,
       CAST(TRUE AS BOOLEAN) AS reingest_ok
FROM embeddings WHERE vec_id >= {N_QUERIES} AND vec_id % 5 = 2
""",
    # delete-lifecycle cert of the MinHash store: booleans are
    # contract outcomes with fixed expected values; the deleted count
    # is independently recounted
    "dedup_minhash_index_deletes": """
SELECT CAST(count(*) AS BIGINT) AS n_deleted,
       CAST(TRUE AS BOOLEAN) AS logical_identical,
       CAST(TRUE AS BOOLEAN) AS physical_store_ok,
       CAST(TRUE AS BOOLEAN) AS reingest_ok
FROM documents WHERE doc_id % 5 = 2
""",
    "dedup_index_probe": """
SELECT 'minhash' AS store, CAST(count(*) AS BIGINT) AS n_probed,
       CAST(TRUE AS BOOLEAN) AS matches_equal_oneshot,
       CAST(TRUE AS BOOLEAN) AS store_untouched
FROM documents
UNION ALL
SELECT 'simhash' AS store, CAST(count(*) AS BIGINT) AS n_probed,
       CAST(TRUE AS BOOLEAN) AS matches_equal_oneshot,
       CAST(TRUE AS BOOLEAN) AS store_untouched
FROM documents
UNION ALL
SELECT 'substring' AS store, CAST(count(*) AS BIGINT) AS n_probed,
       CAST(TRUE AS BOOLEAN) AS matches_equal_oneshot,
       CAST(TRUE AS BOOLEAN) AS store_untouched
FROM documents
UNION ALL
SELECT 'cluster' AS store, CAST(2 * count(*) AS BIGINT) AS n_probed,
       CAST(TRUE AS BOOLEAN) AS matches_equal_oneshot,
       CAST(TRUE AS BOOLEAN) AS store_untouched
FROM documents WHERE doc_id % 7 = 0
""",
    "dedup_simhash_incremental": """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(TRUE AS BOOLEAN) AS incremental_equals_full,
       CAST(TRUE AS BOOLEAN) AS replay_noop
FROM documents
""",
    "dedup_simhash_index_deletes": """
SELECT CAST(count(*) AS BIGINT) AS n_deleted,
       CAST(TRUE AS BOOLEAN) AS logical_identical,
       CAST(TRUE AS BOOLEAN) AS physical_store_ok,
       CAST(TRUE AS BOOLEAN) AS reingest_ok
FROM documents WHERE doc_id % 5 = 3
""",
    "ann_ivf_incremental": f"""
SELECT CAST(count(*) - {N_QUERIES} AS BIGINT) AS n_indexed,
       CAST({N_QUERIES * TOPK} AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(TRUE AS BOOLEAN) AS files_reduced,
       CAST(TRUE AS BOOLEAN) AS post_compact_identical
FROM embeddings
""",
}
