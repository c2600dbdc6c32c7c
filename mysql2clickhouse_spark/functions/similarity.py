"""Vector similarity search over an ``array<float>`` embedding column.

Baseline: brute-force cosine top-k — one broadcast of the (small) query
set against a scan of the (huge) corpus; the dot product is a JVM-side
fold (``zip_with`` + ``aggregate``) in DOUBLE, so no Python crosses the
hot path and results are deterministic.

Scale path: LSH bucketing via deterministic random hyperplanes — sign
bits bucket the corpus; only same-bucket candidates are reranked
exactly. Bucket assignment is again a pure column expression, so the
corpus pass is a scan + one shuffle on (bucket).

At 100 TB the brute force is O(|corpus| * |queries|) multiply-adds but
embarrassingly parallel with NO shuffle (broadcast join + per-partition
top-k then a tiny driver-side merge via TakeOrdered); the LSH variant
cuts the rerank set by ~2^bits.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from .minhash import DEFAULT_MAX_BUCKET


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_sim_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def unit_vec_col(a: Column) -> Column:
    """L2-normalized copy of the vector (double). Normalize ONCE per
    row before a pairwise join: the per-pair cosine then degenerates to
    a single dot-product fold instead of dot + two norms — 3× less
    higher-order-function work on the quadratic side of the plan.

    The norm rides into the element lambda via ``array_repeat`` so it
    is EVALUATED ONCE PER ROW: capturing the norm expression directly
    inside a ``transform`` lambda re-evaluates the whole O(dim) fold
    per element (O(dim²) per row — measured 5× slower at dim=64), and a
    precomputed attribute column doesn't survive CollapseProject, which
    inlines it straight back into the lambda. Division (not
    multiply-by-inverse) keeps results bit-identical to the naive
    spelling; zero-norm rows pass through unscaled as before."""
    arr = F.array_repeat(_norm(a), F.size(a))
    return F.zip_with(
        a,
        arr,
        lambda x, n: F.when(n > 0, x.cast("double") / n).otherwise(x.cast("double")),
    )


# --- the ANN search stages ---------------------------------------------------
# Every ANN path here (and the IVF store, and the kNN-graph queries) is
# one pipeline: project unit vectors, prune (buckets, lists, an ADC
# shortlist), score the surviving pairs exactly, keep the top k per
# query. Each caller keeps its own joins and broadcast hints; these
# stages own the parts that must not drift between them.

def _unit_vecs(
    df: DataFrame, id_col: str, vec_col: str, as_id: str, as_vec: str
) -> DataFrame:
    """(as_id, as_vec): the id and the L2-normalized vector, normalized
    once per row so every pair score is a single dot fold."""
    return df.select(F.col(id_col).alias(as_id), unit_vec_col(F.col(vec_col)).alias(as_vec))


def _ranked(
    scored: DataFrame, n: int, score: str, rank: str, group: str, key: str
) -> DataFrame:
    """The ranking rule: per ``group``, order by ``score`` desc then
    ``key`` asc (the deterministic tie-break) and keep the first ``n``."""
    w = Window.partitionBy(group).orderBy(F.col(score).desc(), F.col(key).asc())
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= n)


def _exact_top_k(
    pairs: DataFrame, k: int, group: str = "qid", key: str = "cid",
    vecs: tuple[str, str] = ("q_vec", "c_vec"),
) -> DataFrame:
    """Exact rerank + answer: score each (group, key) pair by the dot of
    its two unit vectors, keep the per-group top ``k`` and round ``sim``
    to 4 dp. Returns (group, key, sim, rk)."""
    scored = pairs.withColumn("sim", _dot(F.col(vecs[0]), F.col(vecs[1])))
    scored = scored.select(group, key, "sim")
    return _ranked(scored, k, "sim", "rk", group, key).withColumn("sim", F.round("sim", 4))


def _adc_shortlist(scored: DataFrame, n: int, rank: str = "ark") -> DataFrame:
    """(qid, cid) of the per-query top ``n`` by ``adc`` — the candidate
    set the exact rerank refines. ``rank`` names the window column, which
    the physical plan shows: the in-memory PQ paths call it ``ark``,
    ``IVFIndex.search_pq`` ``rk``."""
    return _ranked(scored, n, "adc", rank, "qid", "cid").select("qid", "cid")


def _unit_rows(vecs) -> np.ndarray:
    """Row-normalized float64 matrix of a sequence of vectors (the
    numpy twin of ``unit_vec_col``, for the driver-side trainers and
    the Arrow-batch GEMMs)."""
    m = np.vstack(vecs).astype(np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    return m


def _training_sample(corpus: DataFrame, sample_size: int, id_col: str, vec_col: str):
    """(ids, unit vectors) of a BOUNDED deterministic sample: the
    per-partition top ``sample_size`` of ``(hash(id), id)`` merged on
    the driver (TakeOrdered — no full sort, no full shuffle), so every
    trainer costs the same at sf0.001 and at 100 TB."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.pmod(F.hash("id"), F.lit(9973)), F.col("id"))
        .limit(sample_size)
        .collect()
    )
    return np.array([r.id for r in rows]), _unit_rows([r.v for r in rows])


def _probe_lists(
    queries: DataFrame, centroids: np.ndarray, nprobe: int,
    lists_path: str, id_col: str, vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The IVF probe step: assign each query to its ``nprobe`` nearest
    lists, collect the probed list-id set (control plane, |queries| ×
    nprobe ints) and read ONLY those ``list_id=N`` partitions of the
    lists table (an ``isin`` PartitionFilter). Returns ``(qb, lists)``
    — the (qid, q_vec, list_id) assignments and the pruned read."""
    q_vecs = _unit_vecs(queries, id_col, vec_col, "qid", "q_vec")
    qb = with_ivf_lists(q_vecs, centroids, nprobe=nprobe, vec_col="q_vec")
    probed = sorted(r["list_id"] for r in qb.select("list_id").distinct().collect())
    lists = queries.sparkSession.read.parquet(lists_path)
    return qb, lists.filter(F.col("list_id").isin(probed))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: for each query row, the k most similar
    corpus rows. Queries are broadcast; the per-query top-k is a window
    over the (query) key — with few queries this is a light shuffle.

    Returns (qid, cid, sim, rk).

    Both sides are L2-normalized ONCE (per row, not per pair), so the
    |corpus|×|queries| rerank is a single dot-product fold per pair —
    the norms would otherwise be recomputed |queries| times per corpus
    row (3× the pair work; same normalize-once discipline as
    ``dedup_embedding_cosine``).
    """
    q = _unit_vecs(queries, id_col, vec_col, "qid", "q_vec")
    c = _unit_vecs(corpus, id_col, vec_col, "cid", "c_vec")
    return _exact_top_k(c.crossJoin(F.broadcast(q)), k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller over a
    SplitMix64 stream — reproducible anywhere, no numpy RNG state)."""
    def splitmix(x: int) -> int:
        x = (x + 0x9E3779B97F4A7C15) % (1 << 64)
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) % (1 << 64)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) % (1 << 64)
        return z ^ (z >> 31)

    planes = []
    state = seed
    for _ in range(n_planes):
        vals = []
        while len(vals) < dim:
            state = splitmix(state)
            u1 = ((state >> 11) + 1) / (1 << 53)
            state = splitmix(state)
            u2 = (state >> 11) / (1 << 53)
            r = math.sqrt(-2.0 * math.log(u1))
            vals.append(r * math.cos(2 * math.pi * u2))
            if len(vals) < dim:
                vals.append(r * math.sin(2 * math.pi * u2))
        planes.append(vals[:dim])
    return planes


def with_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 6,
    n_tables: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Multi-table random-hyperplane LSH (cosine-LSH, Charikar 2002):
    ``n_tables`` independent sets of ``n_planes`` hyperplanes; per table
    the bucket id packs the sign bits. A pair collides if it agrees in
    ANY table — recall 1-(1-p^b)^L for bit-agreement probability
    p = 1 - θ/π.

    The n_tables×n_planes×dim projection is one numpy matmul per Arrow
    batch (a vectorized pandas_udf) — the justified Python path: a
    BLAS-backed GEMM beats any per-plane column expression by orders of
    magnitude, and the hyperplane matrix rides inside the UDF closure
    (broadcast once per executor). Output adds ``tbl`` + ``bucket``
    (exploded: one row per table).
    """
    planes = np.array(
        [p for t in range(n_tables) for p in _hyperplanes(dim, n_planes, seed + 7919 * t)],
        dtype=np.float64,
    ).T  # (dim, n_tables*n_planes)
    pack = (1 << np.arange(n_planes, dtype=np.int64))  # bit weights per table

    @pandas_udf("array<bigint>")
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # (batch, dim)
        bits = (m @ planes) >= 0  # (batch, n_tables*n_planes)
        bits = bits.reshape(len(m), n_tables, n_planes)
        ids = (bits * pack[None, None, :]).sum(axis=2)  # (batch, n_tables)
        return pd.Series(list(ids))

    out_cols = df.columns
    return df.select(
        *out_cols, F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket")
    )


def ivf_lists_for(n: int, lo: int = 8, hi: int = 65536) -> int:
    """CORPUS-DERIVED coarse-list count: the faiss sizing rule
    ``n_list ~ sqrt(n)`` snapped to a power of two — balances the two
    per-query costs (probe work ~ nprobe·n/n_list, quantizer work ~
    n_list), the split that survives any corpus size (32768 lists at
    10^9 rows). Pair with ``nprobe = max(8, n_list // 4)`` — the
    operating point the r9 sf0.001/0.01/0.1 recall sweep validated.

    What the derivation buys, stated honestly: with nprobe ∝ n_list
    the SCANNED FRACTION is constant (~25%) at every scale — the gain
    over fixed geometry is FINER QUANTIZATION (more, smaller cells ⇒
    tighter candidate ordering and, under PQ, residuals the codebooks
    approximate better — the measured recall recovery) plus per-list
    partition parallelism, not reduced scan volume. A deployment that
    needs the fraction itself to shrink at extreme scale should cap
    nprobe's growth (e.g. O(log n_list)) and re-run the recall sweep
    before adopting it — recall at the capped point is unmeasured
    here, which is why this module does not default to it. The floor
    of 8 is the faiss-practice minimum: below it the assignment tail
    dominates recall at small list counts."""
    if n <= 0:
        return lo
    return max(lo, min(hi, 2 ** round(math.log2(max(2.0, math.sqrt(n))))))


def lsh_planes_for(n: int, target_bucket: int = 64, lo: int = 4, hi: int = 24) -> int:
    """CORPUS-DERIVED hyperplane count: enough planes that the expected
    bucket occupancy ``n / 2^planes`` sits near ``target_bucket`` — the
    knob that keeps LSH recall/cost stable as the corpus grows (fixed
    planes at a growing corpus either blow past the hot-bucket cap,
    silently dropping true neighbors, or leave buckets so sparse that
    a query and its neighbor rarely collide in any of the multi-table
    hashes; the r9 sf0.1 sweep measured exactly that dip). Same
    derive-don't-fix discipline as ``shuffle_shards_for``. Clamped to
    [lo, hi]; hi=24 covers 10^9 rows at 64/bucket."""
    if n <= 0:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(max(2.0, n / target_bucket)))))


def pq_refine_for(n: int, lo: int = 5) -> int:
    """CORPUS-DERIVED exact-refine factor: the ADC shortlist
    (``k × refine``) must grow with corpus size — quantization error is
    scale-free, so at a bigger corpus more near-optimal rows crowd the
    true top-k out of a FIXED-size shortlist (measured: 1 hit@10 at the
    sf0.1 sweep). ~4·log10(n) keeps the shortlist poly-log in n: 12 at
    10^3, 24 at 10^6, 36 at 10^9 — still a vanishing fraction of the
    corpus, and the only part of the PQ plan that ever touches a real
    vector."""
    if n <= 0:
        return lo
    return max(lo, 4 * math.ceil(math.log10(max(10.0, float(n)))))


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int | None = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """ANN: exact rerank restricted to candidates sharing an LSH bucket
    with the query in at least one table. The candidate set is deduped
    BEFORE the (expensive) exact rerank. Returns (qid, cid, sim, rk).

    At scale: the corpus-side bucket pass is a scan (+1 shuffle on the
    bucket join key); candidate fan-out is n_tables × bucket size, far
    below the |corpus| × |queries| brute-force product.

    Hot-bucket guard: a degenerate (tbl, bucket) holding a huge slice
    of the corpus (near-constant embeddings, adversarial inputs) turns
    every query probing it into a near-brute-force rerank concentrated
    in one join task. Corpus buckets larger than ``max_bucket_size``
    are quarantined with a logged drop count (the multi-table scheme
    keeps recall: the same vectors stay reachable through their other
    n_tables-1 buckets); ``None`` disables the guard — same contract
    as ``lsh_candidate_pairs`` (round 4 silently remapped None to the
    default, making opt-out impossible).

    The corpus bucket projection ``cb`` is PERSISTED (lazily — the
    quarantine's broadcast arm runs first within the action and
    populates the cache the probe arm then reads), so the Arrow GEMM
    that computes the corpus buckets executes exactly once per query
    regardless of the quarantine diamond; round 4 re-ran the full
    corpus GEMM for the sizing job and again for the candidate join.
    """
    from .minhash import _quarantine_hot_buckets
    from ..session import release_cache, rotate_cache

    if n_planes is None:
        # corpus-derived geometry (lsh_planes_for): one count() job at
        # plan build — callers that build plans repeatedly should
        # derive once and pass the value (the registry queries memoize
        # the corpus count per sf_dir for exactly this reason)
        n_planes = lsh_planes_for(corpus.count())
    cb = with_lsh_buckets(corpus, dim, n_planes, n_tables, vec_col, seed).select(
        F.col(id_col).alias("cid"), "tbl", "bucket"
    )
    if max_bucket_size is not None:
        release_cache("similarity.lsh_bucketed_topk")  # BEFORE persist
        cb = cb.persist()
        rotate_cache("similarity.lsh_bucketed_topk", cb)
        cb = _quarantine_hot_buckets(
            cb, ["tbl", "bucket"], max_bucket_size, "similarity.lsh_bucketed_topk"
        )
    qb = with_lsh_buckets(queries, dim, n_planes, n_tables, vec_col, seed).select(
        F.col(id_col).alias("qid"), "tbl", "bucket"
    )
    cands = cb.join(F.broadcast(qb), ["tbl", "bucket"]).select("qid", "cid").distinct()
    c_vecs = _unit_vecs(corpus, id_col, vec_col, "cid", "c_vec")
    q_vecs = _unit_vecs(queries, id_col, vec_col, "qid", "q_vec")
    return _exact_top_k(cands.join(c_vecs, "cid").join(F.broadcast(q_vecs), "qid"), k)


def greedy_kcenter_sample(
    corpus: DataFrame,
    k: int,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, float]:
    """Greedy k-center (farthest-point traversal, Gonzalez 1985) over a
    BOUNDED deterministic sample, driver-side — the same sampling
    discipline as ``train_ivf_centroids``: the collect is capped at
    ``sample_size`` rows via TakeOrdered on ``(hash(id), id)`` (no full
    sort, no shuffle), so selecting the k centers costs ONE bounded
    corpus pass at any corpus size. The exact-greedy alternative — k
    sequential full-corpus argmax passes — is a driver-paced serial
    loop that materializes the corpus k times; the sample-then-assign
    form is how production pipelines run it.

    Deterministic: the traversal starts at the sample's smallest id and
    ties break on id. Returns ``(centers, r_samp)`` — (k, dim)
    unit-norm centers and the SAMPLE covering radius (max over sample
    points of cosine distance to their nearest center). The greedy
    separation invariant holds on the sample: every pair of centers is
    ≥ r_samp apart (the classic 2-approximation argument)."""
    ids, X = _training_sample(corpus, sample_size, id_col, vec_col)
    k = min(k, len(X))
    chosen = [int(np.argmin(ids))]
    mind = 1.0 - X @ X[chosen[0]]
    mind[chosen[0]] = -np.inf  # a chosen center can't be re-chosen
    for _ in range(k - 1):
        far = np.max(mind)
        # deterministic tie-break: smallest id among the farthest points
        cand = np.flatnonzero(mind >= far - 1e-12)
        nxt = int(cand[np.argmin(ids[cand])])
        chosen.append(nxt)
        mind = np.minimum(mind, 1.0 - X @ X[nxt])
        mind[nxt] = -np.inf
    r_samp = float(np.max(np.where(np.isfinite(mind), mind, 0.0)))
    return X[chosen], r_samp


def with_min_center_distance(
    df: DataFrame,
    centers: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "mind",
) -> DataFrame:
    """Cosine distance to the nearest of ``centers`` per row — ONE BLAS
    GEMM per Arrow batch (centers ride in the UDF closure), the same
    justified-Python pattern as ``with_ivf_lists``. One corpus scan, no
    shuffle, constant work per row regardless of how the centers were
    chosen."""
    Ct = centers.T  # (dim, k)

    @pandas_udf("double")
    def mind(vecs: pd.Series) -> pd.Series:
        return pd.Series(1.0 - (_unit_rows(vecs.to_numpy()) @ Ct).max(axis=1))

    return df.withColumn(out_col, mind(F.col(vec_col)))


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_list: int = 32,
    sample_size: int = 4096,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """IVF coarse quantizer: spherical k-means on a BOUNDED deterministic
    sample, trained driver-side (this is how faiss trains IVF too — the
    quantizer sees a sample, never the corpus). The collect is capped at
    ``sample_size`` rows regardless of corpus size: the sample is the
    per-partition top-k of ``(hash(id), id)`` merged on the driver
    (TakeOrdered — no full sort, no full shuffle), so the training cost
    is identical at sf0.001 and at 100 TB.

    Returns (n_list, dim) unit-norm centroids (cosine metric ⇒ maximize
    dot against normalized vectors).
    """
    _, X = _training_sample(corpus, sample_size, id_col, vec_col)
    rng = np.random.default_rng(seed)
    k = min(n_list, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def with_ivf_lists(
    df: DataFrame,
    centroids: np.ndarray,
    nprobe: int = 1,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest coarse centroids
    (cosine): one BLAS GEMM per Arrow batch, centroid matrix riding in
    the UDF closure. ``nprobe=1`` for corpus indexing (each vector lives
    in exactly one inverted list), >1 on the query side for recall.
    Adds an exploded ``list_id`` column (one row per probed list)."""
    Ct = centroids.T  # (dim, n_list)
    np_probe = min(nprobe, centroids.shape[0])

    @pandas_udf("array<int>")
    def probe(vecs: pd.Series) -> pd.Series:
        sims = _unit_rows(vecs.to_numpy()) @ Ct
        if np_probe == 1:
            top = np.argmax(sims, axis=1)[:, None]
        else:
            part = np.argpartition(-sims, np_probe - 1, axis=1)[:, :np_probe]
            order = np.argsort(-np.take_along_axis(sims, part, axis=1), axis=1)
            top = np.take_along_axis(part, order, axis=1)
        return pd.Series(list(top.astype(np.int32)))

    return df.select(*df.columns, F.explode(probe(F.col(vec_col))).alias("list_id"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_list: int = 32,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus into ``n_list`` inverted
    lists (one list per vector), probe the ``nprobe`` closest lists per
    query, exact-rerank only those lists. Returns (qid, cid, sim, rk).

    At scale this is the canonical ANN layout: the corpus pass is one
    scan + one broadcast-join on ``list_id`` (or a partition-pruned read,
    if the index table was written ``partitionBy("list_id")``), and each
    query reranks ~``nprobe/n_list`` of the corpus instead of all of it."""
    C = train_ivf_centroids(corpus, dim, n_list, id_col=id_col, vec_col=vec_col, seed=seed)
    # unit vectors: the list assignment is norm-invariant under cosine
    c_vecs = _unit_vecs(corpus, id_col, vec_col, "cid", "c_vec")
    q_vecs = _unit_vecs(queries, id_col, vec_col, "qid", "q_vec")
    cb = with_ivf_lists(c_vecs, C, nprobe=1, vec_col="c_vec")
    qb = with_ivf_lists(q_vecs, C, nprobe=nprobe, vec_col="q_vec")
    return _exact_top_k(cb.join(F.broadcast(qb), "list_id"), k)


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 4096,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al., PAMI 2011): split
    the (unit-normalized) vector into ``m`` contiguous subvectors of
    ``dim/m`` dims; per subspace, L2 k-means with ``ksub`` centroids on
    the same bounded deterministic sample discipline as
    ``train_ivf_centroids`` — the trainer sees ≤ ``sample_size`` rows at
    any corpus size. Returns (m, ksub, dim//m).
    """
    assert dim % m == 0, "dim must split evenly into m subvectors"
    dsub = dim // m
    _, X = _training_sample(corpus, sample_size, id_col, vec_col)
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        Xb = X[:, j * dsub : (j + 1) * dsub]
        k = min(ksub, len(Xb))
        C = Xb[rng.choice(len(Xb), size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((Xb[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = Xb[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        if k < ksub:  # degenerate tiny corpus: pad by repetition
            C = np.vstack([C, np.repeat(C[:1], ksub - k, axis=0)])
        books[j] = C
    return books


def with_pq_codes(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Encode each (unit-normalized) vector as ``m`` centroid ids — the
    4-byte-per-m representation that replaces the float vector in the
    search store (dim×4 bytes → m bytes: 32× at dim=64, m=8). One numpy
    pass per Arrow batch; per block, argmin L2 via the
    ``||c||² - 2·x·c`` expansion (one GEMM, no pairwise diff tensor)."""
    m, ksub, dsub = codebooks.shape
    cn = (codebooks**2).sum(axis=2)  # (m, ksub) centroid norms

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        X = _unit_rows(vecs.to_numpy())
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            Xb = X[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = np.argmin(cn[j][None, :] - 2.0 * (Xb @ codebooks[j].T), axis=1)
        return pd.Series(list(codes))

    return df.select(*df.columns, encode(F.col(vec_col)).alias(out_col))


def _pq_query_luts(
    queries: DataFrame, books: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(qid, q_vec, lut): per query, the flattened m×ksub table of
    subvector·centroid dots — ADC reduces every corpus-row score to m
    lookups into this array."""
    m, ksub, dsub = books.shape

    @pandas_udf("array<double>")
    def lut(vecs: pd.Series) -> pd.Series:
        Q = _unit_rows(vecs.to_numpy())
        tables = np.empty((len(Q), m * ksub), dtype=np.float64)
        for j in range(m):
            Qb = Q[:, j * dsub : (j + 1) * dsub]
            tables[:, j * ksub : (j + 1) * ksub] = Qb @ books[j].T
        return pd.Series(list(tables))

    return _unit_vecs(queries, id_col, vec_col, "qid", "q_vec").select(
        "qid", "q_vec", lut(F.col("q_vec")).alias("lut")
    )


def _adc_score_col(m: int, ksub: int) -> Column:
    """ADC score: fold over the m ``codes``, each a ``lut`` lookup —
    JVM-side, m element_at + adds per (query, row)."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(F.col("lut"), (j * ksub + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    refine: int | None = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """PQ ANN with ADC (asymmetric distance computation) + exact refine
    — the third canonical scale path beside LSH and IVF. The corpus is
    represented ONLY by its ``m`` codes; each query precomputes a lookup
    table LUT[j][c] = q_subj · codebook[j][c], so the approximate
    similarity of a corpus row is ``Σ_j LUT[j][codes[j]]`` — m array
    lookups + adds per (query, row), no vector math on the corpus side
    at all. The ADC top ``k×refine`` candidates are then reranked with
    the exact dot product (the standard refine step that buys back the
    quantization error); returns (qid, cid, sim, rk) with EXACT sims.

    At 100 TB: the scan side carries m ints per row instead of dim
    floats (32× less IO at dim=64/m=8), the LUT rides in the broadcast
    query row, the ADC score is a pure JVM fold over 8 elements, and
    only |queries| × k × refine rows ever touch a real vector again.
    """
    if refine is None:
        refine = pq_refine_for(corpus.count())  # corpus-derived shortlist
    books = train_pq_codebooks(
        corpus, dim, m, ksub, id_col=id_col, vec_col=vec_col, seed=seed
    )
    c_vecs = _unit_vecs(corpus, id_col, vec_col, "cid", "c_vec")
    cb = with_pq_codes(c_vecs, books, vec_col="c_vec")
    qb = _pq_query_luts(queries, books, id_col, vec_col)
    shortlist = _adc_shortlist(
        cb.select("cid", "codes")
        .crossJoin(F.broadcast(qb.select("qid", "lut")))
        .withColumn("adc", _adc_score_col(books.shape[0], books.shape[1])),
        k * refine,
    )
    # exact refine of the shortlist only
    return _exact_top_k(
        shortlist.join(c_vecs, "cid").join(F.broadcast(qb.select("qid", "q_vec")), "qid"), k
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_list: int = 32,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    refine: int | None = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF+PQ — the faiss production layout (``IVFx,PQy``): the coarse
    quantizer prunes WHICH rows are scored (nprobe/n_list of the
    corpus), PQ codes decide HOW CHEAPLY (m byte codes + LUT lookups
    instead of a dim-float dot). The searched store carries
    (cid, list_id, codes) — two ints and m bytes per row; real vectors
    are touched only by the k×refine exact rerank.

    Codes quantize the raw unit vectors, not per-list residuals
    (faiss's ``by_residual=false`` mode): one codebook set serves every
    list, which keeps the encode pass a single GEMM and the LUT
    per-query constant — the residual variant buys accuracy at the cost
    of an LUT per (query, probed list), the wrong trade below ~2^20
    rows per list. Returns (qid, cid, sim, rk) with EXACT sims.
    """
    if refine is None:
        refine = pq_refine_for(corpus.count())  # corpus-derived shortlist
    C = train_ivf_centroids(
        corpus, dim, n_list, id_col=id_col, vec_col=vec_col, seed=seed
    )
    books = train_pq_codebooks(
        corpus, dim, m, ksub, id_col=id_col, vec_col=vec_col, seed=seed
    )
    c_vecs = _unit_vecs(corpus, id_col, vec_col, "cid", "c_vec")
    cb = with_pq_codes(
        with_ivf_lists(c_vecs, C, nprobe=1, vec_col="c_vec"), books, vec_col="c_vec"
    ).select("cid", "list_id", "codes")
    qb = _pq_query_luts(queries, books, id_col, vec_col)
    q_lists = with_ivf_lists(qb, C, nprobe=nprobe, vec_col="q_vec")
    shortlist = _adc_shortlist(
        cb.join(F.broadcast(q_lists.select("qid", "lut", "list_id")), "list_id")
        .withColumn("adc", _adc_score_col(m, ksub)),
        k * refine,
    )
    return _exact_top_k(
        shortlist.join(c_vecs, "cid").join(F.broadcast(qb.select("qid", "q_vec")), "qid"), k
    )

