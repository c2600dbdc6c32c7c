"""Text-analysis column expressions for LLM-data pipelines.

All pure native column expressions — no Python UDFs — so they run inside
whole-stage codegen during the scan of a 100 TB ``documents`` table. Each
is deliberately expressible in ANSI SQL too (the DuckDB oracle mirrors
the exact formulas; see plans/extensions.py).

Ops covered: token counting, stopword/quality scoring, language-ID
heuristic, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def token_count_col(text: Column) -> Column:
    """Whitespace token count: ``#spaces + 1`` on the trimmed text.

    Uses length arithmetic instead of ``split`` so no intermediate array
    materializes per row (matters when text ~ MBs at 100 TB scale).
    """
    t = F.trim(text)
    return (
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise((F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))) + 1)
        .cast("bigint")
    )


#: BPE-ish pre-tokenizer: letter runs | single digits | non-space
#: punctuation — the classic byte-pair pre-split shape. Plain character
#: classes + alternation only, so Java regex (Spark) and RE2 (DuckDB)
#: agree byte-for-byte.
SUBTOKEN_RE = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def subtoken_count_col(text: Column) -> Column:
    """BPE-ish subtoken count: regexp matches of ``SUBTOKEN_RE`` over the
    lower-cased text. Runs as a native regexp_count inside codegen."""
    return F.regexp_count(F.lower(text), F.lit(SUBTOKEN_RE)).cast("bigint")


def stopword_hits_col(text: Column, word: str = "the") -> Column:
    """Occurrences of ``word`` as a standalone token, via padded
    replace-length arithmetic (left-to-right non-overlapping — matching
    SQL REPLACE semantics exactly)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    )


def quality_score_cols(text: Column) -> dict[str, Column]:
    """Quality heuristics: char/token counts, mean token length,
    stopword ratio and a composite score in [0, 1]. Mirrors the usual
    pre-training quality filters (length + stopword-density gates)."""
    n_chars = F.length(text).cast("bigint")
    n_tokens = token_count_col(text)
    n_the = stopword_hits_col(text, "the")
    mean_tok = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_the / n_tokens).otherwise(F.lit(0.0))
    score = F.round(
        F.least(F.lit(1.0), n_tokens / F.lit(64.0)) * 0.5
        + F.least(F.lit(1.0), stop_ratio * 10.0) * 0.5,
        4,
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.round(mean_tok, 4),
        "stopword_ratio": F.round(stop_ratio, 4),
        "quality_score": score,
    }


def langid_col(text: Column) -> Column:
    """Language-ID heuristic: ordered marker-substring rules (a compact
    stand-in for char-n-gram profiles; deterministic and SQL-mirrorable).
    """
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return (
        F.when(padded.contains(" the "), F.lit("en"))
        .when(padded.contains(" der "), F.lit("de"))
        .when(padded.contains(" que "), F.lit("es"))
        .otherwise(F.lit("unk"))
    )


def tokens_col(text: Column) -> Column:
    """Whitespace token array (lower-cased, empties dropped) — the
    shared tokenizer of the n-gram ops. Same token definition as
    ``token_count_col`` (every whitespace run splits)."""
    return F.filter(
        F.split(F.lower(F.trim(text)), " +"),
        lambda t: F.length(t) > 0,
    )


def token_ngrams_col(tokens: Column, n: int) -> Column:
    """All ``n``-token shingles of a token array, joined with single
    spaces — the decontamination / fuzzy-match unit (GPT-3 used 13-gram
    overlap; we default to 8 at the call sites). Fewer than ``n`` tokens
    yields an EMPTY array (such docs can't leak an n-gram).

    Built as ``n - 1`` zip_with passes against shifted slices, NOT a
    per-position ``slice`` inside a transform lambda: lambda-captured
    expressions re-evaluate per element, so with an expression-valued
    ``tokens`` (the common ``tokens_col(text)`` call shape) the old
    spelling re-tokenized the document once PER GRAM — measured 11×
    slower for 2-grams at sf0.1. zip_with arguments evaluate once; the
    lambdas below touch only their element variables. zip_with pads the
    shorter side with null and ``concat`` null-propagates, so the
    trailing ``n - 1`` partial windows drop in the final filter."""
    g = tokens
    for j in range(1, n):
        g = F.zip_with(
            g,
            # length = size(tokens): "rest of the array" without risking
            # the Int overflow of start + INT_MAX inside slice
            F.slice(tokens, j + 1, F.greatest(F.size(tokens), F.lit(1))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    g = F.filter(g, lambda x: x.isNotNull())
    return F.when(F.size(tokens) >= n, g).otherwise(
        F.array().cast("array<string>")
    )


def fingerprint_col(text: Column, bits: int = 64) -> Column:
    """Document fingerprint: first ``bits/4`` hex chars of md5 over the
    lower-cased text — a stable content address for exact dedup and
    shard-local bloom pruning."""
    return F.substring(F.md5(F.lower(text)), 1, bits // 4)


def rolling_hash_col(text: Column, base: int = 257, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash over characters (Rabin-Karp style), as a
    native aggregate over the char array: h = (h*base + code) % mod.

    Kept JVM-side via ``aggregate`` over ``split``. Oracle-checked by
    ``text_rolling_fingerprint`` — DuckDB folds the identical
    polynomial with ``list_reduce`` over ``string_split_regex``.
    """
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def substring_dedup(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-SUBSTRING dedup core (Lee et al. 2021, ExactSubstr): remove
    every k-token span whose token sequence occurred earlier in corpus
    order (lexicographic (id, position) — first occurrence wins), keep
    the rest of each doc. Returns one row per input row:
    (id, n_tokens bigint, n_removed bigint, kept_hash) with kept_hash =
    md5 of the space-joined surviving tokens ('' when nothing survives).

    Removal rule: token p is removed iff some DUPLICATED k-gram starts
    in [p-k+1, p]. Null text tokenizes to the empty array (n_tokens=0),
    never a null row.

    Scale (the suffix arrays the paper uses don't distribute; this is
    the shuffle-native equivalent): three corpus×token exchanges —
    (1) groupBy(gram) with a partially-aggregated min struct (map-side
    combine absorbs hot boilerplate grams BEFORE the wire — the
    skew-safe alternative to a row_number window over gram), (2) the
    grams⋈first join back on gram (AQE skew-join splits residual hot
    keys), (3) one exchange on the id shared by the removal window and
    the reassembly groupBy. The window frame is rows-based over dense
    positions and the reassembly collect is grouped — both bounded by
    a single document's length. Grams travel the shuffle as their
    token strings, NOT a 64-bit digest: a digest collision would
    silently delete a non-duplicate span, and at 10^13 grams collisions
    are certain — exactness is this operator's contract.

    The tokenized corpus is persisted AND eagerly materialized before
    the DAG fans out: four branches consume it (two gram passes, the
    token table, the per-doc sizes), and without the barrier Spark
    re-scans and re-tokenizes the corpus once PER BRANCH (the
    ``verified_near_dups`` persist-then-materialize discipline —
    plan-verified: 4 parquet scan subtrees collapse to 1 cached)."""
    from ..session import release_cache, rotate_cache

    release_cache("text.substring_dedup")  # BEFORE persist — see session.py
    toks = tokenized_docs(df, id_col, text_col).persist()
    toks.count()
    rotate_cache("text.substring_dedup", toks)
    grams = gram_rows(toks, k, id_col)
    first = grams.groupBy("gram").agg(F.min(F.struct(id_col, "s")).alias("first_occ"))
    dup_starts = (
        grams.join(first, "gram")
        .filter(
            (F.col(id_col) != F.col(f"first_occ.{id_col}"))
            | (F.col("s") != F.col("first_occ.s"))
        )
        .select(id_col, "s")
    )
    return removal_report(toks, dup_starts, k, id_col)


def substring_dedup_two_level(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``substring_dedup`` with a HASH-PREFILTERED exact pass — the
    wire-width experiment the r8 verdict asked to measure (finding #3):
    the baseline ships every k-gram occurrence as its token STRING
    (~6× the corpus text at k=10) across two corpus×token exchanges;
    here the full-corpus exchanges carry only ``xxhash64(gram)`` (8 B)
    plus (id, s), and gram strings cross the wire only for the
    occurrences whose hash bucket holds >1 occurrence — the duplicated
    minority plus hash-collision accidentals.

    Bit-exact by construction (same contract as the baseline): a
    duplicated gram always has hash-count ≥ 2, so ALL its occurrences
    reach the exact string-keyed pass, whose first-occurrence rule is
    then identical to the baseline's; a hash collision only ADDS a
    unique gram to the exact pass, where its single string occurrence
    can never be marked duplicated. Survivor strings are re-derived
    DOC-LOCALLY (flagged docs' token arrays ship once on id, grams
    regenerate map-side from the shared tokenizer) rather than joined
    back per-occurrence — corpus text crosses that exchange 1×, not
    the 6× gram blow-up. Exchanges: (1) gh groupBy (8 B keys,
    map-side combined), (2) occurrences⋈multi on gh (24 B rows),
    (3) flagged toks on id (corpus ≤1×), (4+5) the exact pass on the
    minority, (6) the shared removal/reassembly id exchange.

    Same output, same oracle as ``substring_dedup`` (registered as the
    extended-registry twin ``corpus_substring_dedup_two_level``);
    BENCH_NOTES_r09 records the wall + shuffle bytes of both forms
    and which one ships."""
    from ..session import release_cache, rotate_cache

    release_cache("text.substring_dedup_two_level")
    toks = tokenized_docs(df, id_col, text_col).persist()
    toks.count()
    rotate_cache("text.substring_dedup_two_level", toks)
    grams = gram_rows(toks, k, id_col)
    occ_h = grams.select(id_col, "s", F.xxhash64("gram").alias("gh"))
    multi = (
        occ_h.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("gh")
    )
    surv_pos = (
        occ_h.join(multi, "gh")
        .groupBy(id_col)
        # doc-bounded grouped collect (the lint-legal pattern): the
        # flagged start positions of ONE document
        .agg(F.collect_set("s").alias("ss"))
    )
    surv_grams = (
        toks.join(surv_pos, id_col)
        .select(
            id_col,
            "ss",
            F.posexplode(token_ngrams_col(F.col("toks"), k)).alias("s0", "gram"),
        )
        .select(id_col, (F.col("s0") + 1).alias("s"), "gram", "ss")
        .filter(F.array_contains("ss", F.col("s")))
        .drop("ss")
    )
    first = surv_grams.groupBy("gram").agg(
        F.min(F.struct(id_col, "s")).alias("first_occ")
    )
    dup_starts = (
        surv_grams.join(first, "gram")
        .filter(
            (F.col(id_col) != F.col(f"first_occ.{id_col}"))
            | (F.col("s") != F.col("first_occ.s"))
        )
        .select(id_col, "s")
    )
    return removal_report(toks, dup_starts, k, id_col)


def tokenized_docs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, toks) via the shared tokenizer; null text → EMPTY array
    (one row per doc always)."""
    return df.select(
        F.col(id_col),
        tokens_col(F.coalesce(F.col(text_col), F.lit(""))).alias("toks"),
    )


def gram_rows(toks: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """(id, s, gram): every k-gram occurrence with its 1-based start."""
    return toks.select(
        id_col, F.posexplode(token_ngrams_col(F.col("toks"), k)).alias("s0", "gram")
    ).select(id_col, (F.col("s0") + 1).alias("s"), "gram")


def removal_report(
    toks: DataFrame, dup_starts: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Apply the span-removal rule to ``toks`` given the duplicated
    k-gram start positions: token p is removed iff a duplicated start
    lies in [p-k+1, p] (per-doc rows-window over dense positions), then
    reassemble the kept text. One row per doc: (id, n_tokens,
    n_removed, kept_hash) — shared verbatim by the one-shot
    ``substring_dedup`` and the incremental ``SubstringIndex``, so the
    two paths cannot drift."""
    from pyspark.sql import Window

    tok_rows = toks.select(
        id_col, F.posexplode(F.col("toks")).alias("p0", "tok")
    ).select(id_col, (F.col("p0") + 1).alias("p"), "tok")
    flagged = tok_rows.join(
        dup_starts.withColumnRenamed("s", "p").withColumn("dup", F.lit(1)),
        [id_col, "p"],
        "left",
    ).withColumn("dup", F.coalesce("dup", F.lit(0)))
    w = Window.partitionBy(id_col).orderBy("p").rowsBetween(-(k - 1), 0)
    marked = flagged.withColumn("removed", F.max("dup").over(w))
    per_doc = marked.groupBy(id_col).agg(
        F.sum("removed").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.when(F.col("removed") == 0, F.struct("p", "tok")))
                ),
                lambda x: x["tok"],
            ),
        ).alias("kept_text"),
    )
    return (
        toks.select(id_col, F.size("toks").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.md5(F.coalesce("kept_text", F.lit(""))).alias("kept_hash"),
        )
    )
