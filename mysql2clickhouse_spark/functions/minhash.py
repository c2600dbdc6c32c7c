"""Near-duplicate detection: shingling, MinHash+LSH, SimHash,
n-gram Jaccard — native column expressions + joins end-to-end.

Design for 100 TB:
- the corpus is scanned ONCE into integer shingle-hash sets (``hset``);
  every later stage works on ints, never re-reading text;
- signatures have TWO bit-identical forms: ``minhash_signatures``
  (explode + 48 codegen'd min aggregates — JVM-only, one exchange) and
  ``minhash_signatures_arrow`` (per-partition numpy fold, ZERO shuffle
  — 2.5× faster on the sign stage at sf0.1, the default in the fused
  dedup pipeline and the incremental index; equality pinned in
  ``test_arrow_signer_bit_identical_to_aggregate_form``). Zero-shuffle
  cuts both ways: the Arrow form inherits the scan's file-layout
  partitioning, so consumers that fan the cached sigs into several
  stages must re-establish parallelism themselves —
  ``verified_near_dups`` adds ONE explicit id repartition before its
  persist (whole-query A/B in ``scripts/bench_signer_ab.py``:
  arrow-as-scanned 4.05 s, aggregate 3.02 s, arrow+repartition 2.66 s);
- LSH banding (b bands × r rows) turns the O(n²) pair space into a
  groupBy on (band_idx, band_hash); candidate rate scales as J^r per
  band — r=8 keeps homogeneous corpora (high ambient Jaccard) from
  exploding the candidate set;
- candidates are culled by a signature-estimated Jaccard (zip_with
  equality mean; std ≈ sqrt(J(1-J)/k)) BEFORE the exact verify, so the
  expensive hset join touches only plausible pairs.

MinHash math (Broder): h_i(s) = (a_i * murmur3_31(s) + b_i) mod p,
signature = elementwise min over the doc's shingle set;
P(sig_i equal) = Jaccard(A, B).
"""

from __future__ import annotations

import logging
from collections import deque

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..session import release_cache, rotate_cache

log = logging.getLogger("mysql2clickhouse_spark.lsh")

#: bucket-size cap for banded self-joins: a (band_idx, band_hash) bucket
#: of n docs contributes n(n-1)/2 candidate pairs, so ONE pathological
#: bucket (mass-duplicated boilerplate that slipped past exact dedup,
#: an adversarial corpus) re-creates the O(n²) blowup LSH exists to
#: avoid — concentrated in a single task. 4096 docs ⇒ ≤ ~8.4M pairs per
#: bucket, bounded task skew at any corpus size.
DEFAULT_MAX_BUCKET = 4096


#: completed-but-unlogged quarantine observations, drained opportunistically
#: (bounded: an abandoned plan's observation is evicted, never leaked)
_PENDING_QUARANTINE_OBS: deque = deque(maxlen=32)


def drain_quarantine_logs() -> int:
    """Emit the WARN line for every quarantine observation whose plan
    has since executed (zero-wait ``future().isCompleted()`` poll — no
    Spark job, no blocking). Called at each quarantine plan build and
    exported for harnesses that want the drop counts flushed right
    after an action. Returns the number of non-zero drop counts
    logged."""
    emitted = 0
    for entry in list(_PENDING_QUARANTINE_OBS):
        label, cap, obs = entry
        try:
            if obs._jo is None or not obs._jo.future().isCompleted():
                continue  # plan not executed yet — keep pending
            n = int(obs.get.get("n_quarantined_rows") or 0)
        except Exception:  # session gone — drop the stale entry
            try:
                _PENDING_QUARANTINE_OBS.remove(entry)
            except ValueError:
                pass
            continue
        try:
            _PENDING_QUARANTINE_OBS.remove(entry)
        except ValueError:
            continue  # already drained by a concurrent caller
        if n:
            log.warning(
                "%s: quarantined %d bucket-membership row(s) in LSH "
                "bucket(s) larger than %d members from pair mining "
                "(route their members through exact dedup)",
                label,
                n,
                cap,
            )
            emitted += 1
    return emitted


def _quarantine_hot_buckets(
    exploded: DataFrame,
    keys: list[str],
    max_bucket_size: int,
    label: str,
    base_sizes: DataFrame | None = None,
) -> DataFrame:
    """Drop bucket-membership rows belonging to buckets with more than
    ``max_bucket_size`` members, WITH A LOGGED DROP COUNT — never a
    silent cap (mirrors the empty-doc guard's no-silent-collapse
    policy).

    LAZY, fully in-plan: bucket sizes aggregate map-side-combined into
    a tiny hot-keys frame that broadcasts into a left-anti-shaped
    (left join + IS NULL filter) prune, and the drop count rides an
    ``observe()`` metric collected when the CALLER's action runs —
    building the plan launches NO Spark job (the round-4 form ran an
    eager sizing ``count()`` per build, which re-executed the whole
    upstream projection when the input wasn't cached). Callers feed
    this from a persisted frame (sigs / base / the LSH bucket
    projection) so the sizes arm of the diamond reads cache, not the
    raw scan. The WARN line is emitted by ``drain_quarantine_logs``
    once the metric lands.

    Why detection is an AGGREGATE and not a count() window over the
    bucket keys (which could reuse the self-join's exchange): the
    window form ships every row of a hot bucket into ONE task before
    counting — the exact concentration this guard exists to prevent,
    merely demoted from O(n²) to O(n). The aggregate combines
    map-side, so even a degenerate bucket costs each mapper one row
    and the detection never concentrates.

    What quarantine MEANS: pairs inside a quarantined bucket are not
    mined by this banding pass. That is the correct degradation — a
    bucket that large is either (a) near-identical boilerplate, which
    exact/content-hash dedup upstream already collapses, or (b) a hash
    pathology, where emitting n²/2 candidates would stall the job
    without producing useful near-dup structure.

    ``base_sizes`` (optional, ``keys + __bn_base``) adds PRE-EXISTING
    per-bucket occupancy to the frame's own counts — the incremental
    store's form of the guard, where a bucket's population is the
    stored rows plus the batch's rows and the blowup to prevent is
    batch×store, not batch×batch. Left-joined on the batch's buckets
    only: a hot bucket the batch never touches contributes no
    candidates and needs no judging."""
    drain_quarantine_logs()
    sizes = exploded.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bn"))
    if base_sizes is not None:
        sizes = (
            sizes.join(base_sizes, keys, "left")
            .withColumn(
                "__bn",
                F.col("__bn") + F.coalesce(F.col("__bn_base"), F.lit(0)),
            )
            .drop("__bn_base")
        )
    hot = (
        sizes.filter(F.col("__bn") > max_bucket_size)
        .select(*keys)
        .withColumn("__m2c_hot", F.lit(True))
    )
    obs = Observation()
    flagged = exploded.join(F.broadcast(hot), keys, "left").observe(
        obs,
        F.sum(
            F.when(F.col("__m2c_hot"), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_quarantined_rows"),
    )
    _PENDING_QUARANTINE_OBS.append((label, max_bucket_size, obs))
    pruned = flagged.filter(F.col("__m2c_hot").isNull()).drop("__m2c_hot")
    # persist the PRUNED membership frame (lazily — no job here): the
    # banding callers self-join it, and an observe() node is never
    # deduplicated by ReuseExchange, so an uncached return would
    # execute the explode+prune subtree once PER JOIN SIDE (measured
    # ~2x on the simhash pass). MEMORY_AND_DISK, narrow rows — and the
    # cache also saves the re-explode the guard-off path pays through
    # exchange reuse.
    release_cache(f"quarantine.{label}")  # BEFORE persist — see session.py
    pruned = pruned.persist()
    rotate_cache(f"quarantine.{label}", pruned)
    return pruned

# Mersenne prime 2^31-1: with 31-bit shingle hashes, h*a + b < 2^62 —
# stays inside BIGINT so the whole permutation family runs as native
# integer arithmetic (no overflow, no BigDecimal fallback).
MERSENNE_P = (1 << 31) - 1

DEFAULT_NUM_PERM = 48
DEFAULT_BANDS = 6
DEFAULT_ROWS = 8

#: the pipeline's operating point: exact-Jaccard keep threshold and the
#: signature-estimate prefilter margin. Single source of truth — the
#: incremental index (operators/neardup_index.py) and the recurring-path
#: bench row (bench.py indexed_dedup_bench) import THESE, so a retune
#: here moves every consumer together.
DEFAULT_THRESHOLD = 0.7
DEFAULT_ESTIMATE_MARGIN = 0.15


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation params via a small LCG (no
    global RNG; replay-stable across cluster restarts)."""
    params, state = [], seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def _scratch_col(df: DataFrame, base: str = "__m2c_lc_text") -> str:
    """Collision-safe scratch-column name: a caller frame that already
    carries ``__m2c_lc_text`` must not have it silently overwritten and
    dropped by the shingle pass."""
    name, i = base, 0
    while name in df.columns:
        i += 1
        name = f"{base}_{i}"
    return name


def with_shingles(df: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Character k-shingle set, lower-cased, distinct. One pass, JVM-side:
    sequence → transform(substring) → array_distinct.

    Null/empty text yields an EMPTY set (not a sentinel shingle): the
    explode in ``minhash_signatures`` then drops such docs entirely, so
    a 100 TB corpus with millions of empty docs cannot collapse them
    into one O(n²) LSH hot bucket."""
    # lower(text) materializes as a column FIRST: captured directly in
    # the transform lambda it would re-evaluate per shingle position —
    # O(len²) chars per doc (measured 2× on this pass at sf0.1)
    tmp = _scratch_col(df)
    t = F.col(tmp)
    n = F.greatest(F.length(t) - (k - 1), F.lit(1))
    shingles = F.array_distinct(
        F.filter(
            F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(t, i, k)),
            lambda s: s.isNotNull() & (F.length(s) > 0),
        )
    )
    return (
        df.withColumn(tmp, F.lower(F.col(text_col)))
        .withColumn("shingles", F.coalesce(shingles, F.array()))
        .drop(tmp)
    )


def with_hashed_shingles(df: DataFrame, shingle_col: str = "shingles") -> DataFrame:
    """31-bit murmur3 hash set of the shingles (``hset``): all downstream
    stages (signatures, verify) run on ints — cheaper to shuffle and to
    intersect than the string sets. Collision odds at 31 bits for ~1e3
    shingles/doc are ~1e-4 per doc — immaterial for dedup."""
    return df.withColumn(
        "hset",
        F.array_distinct(
            F.transform(
                F.col(shingle_col),
                lambda s: F.hash(s).cast("bigint").bitwiseAND(F.lit(MERSENNE_P)),
            )
        ),
    )


def with_hset(df: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Fused text → ``hset`` projection: hash each k-shingle as it is
    extracted, one ``array_distinct`` on the ints. Equivalent to
    ``with_hashed_shingles(with_shingles(df))`` but skips materializing
    the string-shingle array and its string-keyed distinct — measured
    ~2× on the minhash ``base`` stage at sf0.1 (2.2 s → 1.1 s warm).
    Use ``with_shingles`` only when the strings themselves are needed
    (e.g. the oracle-checkable n-gram Jaccard query).

    Same empty-doc policy as ``with_shingles``: null/empty text yields
    an EMPTY set, so empty docs can never share an LSH bucket."""
    # same attribute-materialization as with_shingles: a lambda-captured
    # lower(text) re-evaluates per shingle position (O(len²) per doc)
    tmp = _scratch_col(df)
    t = F.col(tmp)
    n = F.greatest(F.length(t) - (k - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.hash(F.substring(t, i, k)).cast("bigint").bitwiseAND(F.lit(MERSENNE_P)),
    )
    # length(t) > 0 ⇒ every position 1..n yields a non-empty shingle, so
    # the only degenerate case is the empty/null text itself
    hset = F.when(F.length(t) > 0, F.array_distinct(hashes)).otherwise(
        F.array().cast("array<bigint>")
    )
    return (
        df.withColumn(tmp, F.lower(F.col(text_col)))
        .withColumn("hset", F.coalesce(hset, F.array().cast("array<bigint>")))
        .drop(tmp)
    )


def minhash_signatures(
    hashed: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    seed: int = 42,
) -> DataFrame:
    """(id, minhash array<bigint>[num_perm]) via explode + ONE groupBy
    carrying ``num_perm`` ``min`` aggregates — deliberately NOT a
    per-row higher-order-function projection.

    Why this shape wins: lambda bodies inside ``transform``/``aggregate``
    are evaluated by Spark's expression INTERPRETER (higher-order
    functions are excluded from whole-stage codegen), so a per-row
    ``transform(perms, p -> array_min(transform(hset, ...)))`` pays
    ~100 ns per element-op on the corpus×shingles×num_perm product —
    measured 2-5× slower than this form at sf0.1. Here every term is a
    plain column expression: the 48 ``(h*a+b) % P`` projections and the
    48 ``min`` aggregates all run inside whole-stage codegen.

    The exchange stays corpus-sized, not corpus×shingles: each doc's
    shingles live in one partition, so the partial (map-side) aggregate
    folds them locally and the shuffle carries ONE 48-value row per doc
    per partition. Empty-hset docs drop out (no exploded rows) — same
    policy as before: a null/empty doc must never reach the LSH bands.
    Signature VALUES are bit-identical to the per-row form (same params,
    same arithmetic, same min).
    """
    params = _perm_params(num_perm, seed)
    ex = hashed.select(id_col, F.explode("hset").alias("__h"))
    mins = [
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"__m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return (
        ex.groupBy(id_col)
        .agg(*mins)
        .select(
            id_col,
            F.array(*[F.col(f"__m{i}") for i in range(num_perm)]).alias("minhash"),
        )
    )


def minhash_signatures_arrow(
    hashed: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    seed: int = 42,
) -> DataFrame:
    """Arrow-vectorized twin of ``minhash_signatures`` — BIT-IDENTICAL
    values (same ``(a, b)`` params, same ``(h·a + b) mod P`` int64
    arithmetic, same per-doc min), different execution:

    - per-row, per-partition: NO shuffle at all (the explode+groupBy
      form ships one 48-value row per doc through an exchange);
    - the permutation loop runs as numpy array ops over the batch's
      concatenated hash sets with ``np.minimum.reduceat`` folding each
      doc's segment — C loops instead of codegen'd per-row expression
      trees.  Measured 2.5× over the aggregate form on the sf0.1
      corpus (1.65 s → 0.66 s warm), equality-checked row-for-row.

    Memory is bounded by the Arrow batch (default 10k rows): the
    concatenated hash array and one per-permutation temp, ~2 × 64 MB
    at 800 shingles/doc — constant per task regardless of corpus size.
    Same empty-doc contract: rows with an empty ``hset`` produce NO
    output row (they must never reach the LSH bands).

    int64 safety: h < 2^31 and a < 2^31 ⇒ h·a < 2^62; + b < 2^31 never
    overflows."""
    from pyspark.sql.functions import pandas_udf

    params = _perm_params(num_perm, seed)
    A = np.array([p[0] for p in params], dtype=np.int64)
    B = np.array([p[1] for p in params], dtype=np.int64)

    @pandas_udf("array<bigint>")
    def _sign(hsets: pd.Series) -> pd.Series:
        n = len(hsets)
        lens = hsets.map(len).to_numpy()
        if lens.sum() == 0:  # all-empty batch (callers filter, but be safe)
            return pd.Series([None] * n)
        H = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in hsets.to_numpy()]
        )
        starts = np.zeros(n, dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        nonempty = lens > 0
        # reduceat over only the non-empty segment starts: an empty
        # row's start equals the next row's start, so consecutive
        # non-empty starts delimit exactly one doc's hashes
        idx = starts[nonempty]
        out = np.empty((n, num_perm), dtype=np.int64)
        for j in range(num_perm):
            v = (H * A[j] + B[j]) % MERSENNE_P
            out[nonempty, j] = np.minimum.reduceat(v, idx)[
                : int(nonempty.sum())
            ]
        return pd.Series(
            [row.tolist() if ne else None for row, ne in zip(out, nonempty)]
        )

    return hashed.filter(F.size("hset") > 0).select(
        id_col, _sign("hset").alias("minhash")
    )


def signed_partitioned(
    hashed: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    seed: int = 42,
) -> DataFrame:
    """Arrow signer + ONE explicit repartition on the id — the form a
    multi-consumer pipeline must cache.

    The signer itself is per-partition vectorized and zero-shuffle
    (values bit-identical to the aggregate form), but zero-shuffle also
    means it INHERITS the corpus's file-layout partitioning — a few fat
    partitions at typical parquet sizes — and a cached sigs frame then
    feeds the band groupBy and both estimate-filter joins from whatever
    parallelism the scan happened to have. The aggregate form's own
    exchange used to fix that as a side effect; doing it deliberately is
    cheaper than either accident (interleaved signer A/B at sf0.1,
    ``scripts/bench_signer_ab.py``: arrow-as-scanned 4.05 s, aggregate
    3.02 s, arrow+repartition 2.66 s whole-query min —
    BENCH_NOTES_r08.md). The one-row-per-doc shuffle is corpus-sized,
    not corpus×shingles: the cheapest possible exchange on this path.
    Plan shape (ArrowEvalPython + Exchange hashpartitioning(id)) is
    pinned in ``test_plan_shapes.py``."""
    return minhash_signatures_arrow(hashed, id_col, num_perm, seed).repartition(
        F.col(id_col)
    )


def with_minhash_signature(
    df: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Convenience: attach ``minhash`` to a shingled frame."""
    hashed = with_hashed_shingles(df)
    sigs = minhash_signatures(hashed, id_col=id_col, num_perm=num_perm, seed=seed)
    return df.join(sigs, id_col)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH banding: bucket on (band_idx, hash(band slice)), self-join
    buckets for candidate pairs (id_a < id_b), distinct. The only
    corpus-wide shuffle in the pipeline. Buckets larger than
    ``max_bucket_size`` are quarantined with a logged drop count
    (``_quarantine_hot_buckets``) — AQE can split a skewed shuffle
    partition but not the n²/2 pair fan-out a single pathological
    bucket emits; pass ``None`` to disable the guard."""
    exploded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice("minhash", i * rows + 1, rows) for i in range(bands)])
        ).alias("band_idx", "band"),
    ).select(id_col, "band_idx", F.hash("band").alias("band_hash"))
    if max_bucket_size is not None:
        exploded = _quarantine_hot_buckets(
            exploded, ["band_idx", "band_hash"], max_bucket_size,
            "minhash.lsh_candidate_pairs",
        )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def estimated_jaccard_col(sig_a: Column, sig_b: Column, num_perm: int) -> Column:
    """Signature-estimated Jaccard: fraction of agreeing minhash slots."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.lit(float(num_perm))


def jaccard_col(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over two (distinct) set arrays."""
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = (F.size(sh_a) + F.size(sh_b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def verified_near_dups(
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = DEFAULT_THRESHOLD,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
    seed: int = 42,
    estimate_margin: float = DEFAULT_ESTIMATE_MARGIN,
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Full MinHash+LSH dedup: hash shingles once → signatures → banded
    candidates → estimate-filter → exact Jaccard ≥ threshold.
    Returns (id_a, id_b, jaccard).

    Accepts a raw text frame (preferred — uses the fused ``with_hset``
    projection), a pre-shingled frame (``shingles`` column), or a
    pre-hashed one (``hset`` column).

    ``base`` and ``sigs`` are persisted AND eagerly materialized
    before the pair DAG is assembled: the candidate self-join and the
    two verify joins consume each of them from 2-4 concurrent stages,
    and a lazily-persisted frame gets recomputed by every branch that
    starts before the first one finishes populating the cache
    (measured 8.4 s → 2.9 s for the full pipeline at sf0.1). Round 11:
    ONE ``sigs.count()`` job is the barrier for BOTH frames — the sigs
    plan reads through base's InMemoryRelation, so materializing sigs
    fills base's cache in the same linear pass (no concurrent branch
    exists inside one count job); the former separate ``base.count()``
    re-ran the scan+shingle+hash projection as its own job for nothing
    but the barrier (guide §1.2: don't compute things you throw away —
    interleaved A/B at sf0.1 measured 0.999, i.e. free there, kept for
    the one-fewer-job-per-invocation at any scale)."""
    if "hset" in shingled.columns:
        hashed = shingled
    elif "shingles" in shingled.columns:
        hashed = with_hashed_shingles(shingled)
    else:
        hashed = with_hset(shingled, text_col, k)
    release_cache("minhash.verified_near_dups")  # BEFORE persist — see session.py
    base = hashed.select(id_col, "hset").persist()
    sigs = signed_partitioned(base, id_col, num_perm, seed).persist()
    sigs.count()  # one barrier job materializes BOTH caches (see above)
    rotate_cache("minhash.verified_near_dups", base, sigs)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows)

    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b"))
    plausible = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est", estimated_jaccard_col(F.col("sig_a"), F.col("sig_b"), num_perm))
        .filter(F.col("est") >= threshold - estimate_margin)
        .select("id_a", "id_b")
    )

    ha = base.select(F.col(id_col).alias("id_a"), F.col("hset").alias("h_a"))
    hb = base.select(F.col(id_col).alias("id_b"), F.col("hset").alias("h_b"))
    return (
        plausible.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("jaccard", F.round(jaccard_col(F.col("h_a"), F.col("h_b")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    id_col: str = "doc_id",
    attach: bool = True,
) -> DataFrame:
    """SimHash: xxhash64 per token; per bit position, the ±1 vote sum's
    sign; the sign vector packs into a hex string. Hamming-close docs
    share most bits; pairing is ``simhash_near_dups``.

    Computed as explode + ONE groupBy carrying the 16 packed-lane vote
    sums (lane j of sum i holds the vote count of bit ``i + 16·j``,
    vote_k > 0 ⇔ 2·Σbit_k > n), then the 64-bit extraction reads the
    16-long lane array via ``element_at``. Deliberately NOT a per-row
    higher-order-function fold: lambda bodies inside
    ``transform``/``aggregate`` run on Spark's expression INTERPRETER
    (HoFs are excluded from whole-stage codegen), which puts ~100 ns on
    every corpus×tokens×16 element-op. Here ``xxhash64`` and the 16
    ``sum(shiftright & mask)`` aggregates are plain column expressions —
    the whole vote pass is codegen, and the partial (map-side) aggregate
    keeps the exchange at one 16-value row per doc per partition, NOT
    corpus×tokens (each doc's tokens live in one partition).

    Tokens are capped at 32767/doc so no packed field can overflow:
    each 16-bit lane field stays under 65536, AND the top lane's field
    (bits 48-63 of the signed sum) stays under 2^63 — at 32768 a doc
    whose every token sets a bit in lanes 48-63 sums to exactly 2^63,
    an ANSI arithmetic overflow (latent until round 11's
    adversarial-cap test constructed it; simhash over the first 32k
    tokens is standard practice for long docs either way).

    Null/empty/whitespace-only text yields NO signature (no exploded
    rows), same policy as ``with_shingles``: a 100 TB corpus with
    millions of empty docs must not collapse them onto one identical
    fingerprint — that bucket would go O(n²) in ``simhash_near_dups``.
    With ``attach=True`` such docs surface with a null ``simhash``.
    """
    assert bits == 64, "packed-lane simhash is specialized to 64 bits"
    lane_mask = 0x0001000100010001  # bit 0 of each 16-bit lane
    tokens = F.slice(
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), " +"),
            lambda t: F.length(t) > 0,
        ),
        1,
        32767,
    )
    ex = df.select(F.col(id_col), F.explode(tokens).alias("__tok")).withColumn(
        "__h", F.xxhash64("__tok")
    )
    lane_sums = [
        F.sum(F.shiftright("__h", i).bitwiseAND(F.lit(lane_mask))).alias(f"__l{i}")
        for i in range(16)
    ]
    staged = (
        ex.groupBy(id_col)
        .agg(*lane_sums, F.count(F.lit(1)).alias("__n"))
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__l{i}") for i in range(16)]).alias("__lanes"),
            "__n",
        )
    )

    def bit(k: int) -> Column:
        i, j = k % 16, k // 16
        lane = F.shiftright(
            F.element_at("__lanes", i + 1), 16 * j
        ).bitwiseAND(F.lit(0xFFFF))
        return F.when(lane * 2 > F.col("__n"), F.lit(1)).otherwise(F.lit(0))

    half = bits // 2
    hi = sum((bit(i) * F.lit(1 << (half - 1 - i)) for i in range(half)), F.lit(0))
    lo = sum((bit(half + i) * F.lit(1 << (half - 1 - i)) for i in range(half)), F.lit(0))
    sig = staged.select(
        F.col(id_col),
        F.format_string("%08x%08x", hi.cast("bigint"), lo.cast("bigint")).alias("simhash"),
    )
    if not attach:
        # (id, simhash) only — skips joining the (possibly huge) source
        # columns back on when the caller just wants fingerprints
        return sig
    return df.join(sig, id_col, "left")


def hamming_hex_col(h1: Column, h2: Column) -> Column:
    """Exact hamming distance between two 64-bit hex-string fingerprints
    — native expressions only (conv per 32-bit half keeps the parse
    inside BIGINT; a single 64-bit conv could overflow to NULL)."""
    total = None
    for i in range(0, 16, 8):
        a = F.conv(F.substring(h1, i + 1, 8), 16, 10).cast("bigint")
        b = F.conv(F.substring(h2, i + 1, 8), 16, 10).cast("bigint")
        p = F.bit_count(a.bitwiseXOR(b))
        total = p if total is None else total + p
    return total


def simhash_near_dups(
    sh: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    n_blocks: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash pair-finding via block banding (Manku/Jain/Sarma WWW'07,
    their production parameters: 64-bit fingerprint, hamming ≤ 3): split
    into ``n_blocks`` equal blocks; any pair with hamming ≤ n_blocks-1
    shares at least one identical block (pigeonhole), so bucketing on
    (block_idx, block_value) is an EXACT candidate net whenever
    ``max_hamming ≤ n_blocks - 1`` — the default is a guaranteed-recall
    operator, not an approximation. Candidates are verified with the
    exact hamming distance (zip_with + bit_count — JVM-side).

    Block width drives the candidate volume: 16-bit blocks collide at
    ~n²/2^16 per block on random text. (8-bit blocks produced 26M
    candidate pairs on a 10k-doc homogeneous corpus — don't shrink
    blocks below 16 bits to chase recall; raise n_blocks AND max_hamming
    together if a looser distance is needed.)

    Returns (id_a, id_b, hamming), hamming ≤ max_hamming.
    """
    hex_per_block = 16 // n_blocks
    blk = F.array(
        *[
            F.conv(F.substring(sim_col, 1 + hex_per_block * i, hex_per_block), 16, 10).cast("bigint")
            for i in range(n_blocks)
        ]
    )
    # persist + eager count: ``base`` feeds 4 concurrent stages (both
    # sides of the bucket self-join, both verify joins); lazy persist
    # would recompute the upstream simhash aggregation per branch
    release_cache("minhash.simhash_near_dups")  # BEFORE persist — see session.py
    base = sh.select(F.col(id_col), blk.alias("blk")).persist()
    base.count()
    rotate_cache("minhash.simhash_near_dups", base)
    e = base.select(id_col, F.posexplode("blk").alias("b_idx", "b_val"))
    if max_bucket_size is not None:
        # same hot-bucket quarantine as the minhash banding: one 16-bit
        # block shared by n docs emits n²/2 candidates in one task
        e = _quarantine_hot_buckets(
            e, ["b_idx", "b_val"], max_bucket_size, "minhash.simhash_near_dups"
        )
    a = e.alias("a")
    b = e.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.b_idx") == F.col("b.b_idx"))
            & (F.col("a.b_val") == F.col("b.b_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    ba = base.select(F.col(id_col).alias("id_a"), F.col("blk").alias("blk_a"))
    bb = base.select(F.col(id_col).alias("id_b"), F.col("blk").alias("blk_b"))
    hamming = F.aggregate(
        F.zip_with(F.col("blk_a"), F.col("blk_b"), lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(ba, "id_a")
        .join(bb, "id_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
