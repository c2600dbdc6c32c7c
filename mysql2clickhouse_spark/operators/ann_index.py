"""Persistent INCREMENTAL IVF index — the ANN-index lifecycle a 100 TB
embedding pipeline actually runs, as opposed to the per-query index
builds in ``plans/extensions.py``.

The reference's analog is the replication loop itself: state accretes
per batch into a queryable store rather than being recomputed per
question (matomo2clickhouse.py run loop; same discipline as
``operators/neardup_index.py`` on the text side).

Layout under ``path``:

- ``centroids/``  — (list_id, centroid array<double>) — n_list rows,
  written ONCE at build and then FROZEN.  Never retrained on add:
  faiss's own discipline (``IVF.add`` assigns against the trained
  quantizer), and the property that makes the index incrementally
  correct — a batch added later lands in exactly the list a one-shot
  build would have put it in, so stream-ingest == one-shot build
  ROW-IDENTICALLY (pinned by the ``ann_ivf_incremental`` oracle row).
- ``lists/``      — unit vectors ``(cid, c_vec) partitionBy(list_id)``
  — the inverted lists as a table.  ``add_batch`` APPENDS one file set
  per touched list; ``search`` opens only the probed list directories
  (partition-pruned — this is the ``ann_ivf_partitioned`` query's
  serving path); ``compact`` is the journaled small-files rewrite.

Scale: ``add_batch`` is one GEMM projection (Arrow batch × frozen
centroid matrix) + a partitioned append — O(batch), no shuffle beyond
the write split, never touches stored rows.  ``search`` reads
``nprobe × |queries|`` list partitions.  The only driver-side state is
the (n_list × dim) centroid matrix — KB-sized control plane.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import fs_for
from .store_common import data_files, has_files, single_writer
from ..functions.similarity import (
    _adc_score_col,
    _adc_shortlist,
    _exact_top_k,
    _pq_query_luts,
    _probe_lists,
    _unit_vecs,
    train_ivf_centroids,
    train_pq_codebooks,
    with_ivf_lists,
    with_pq_codes,
)

_SWAP_MARKER = "_SWAP_COMMIT"

# Index geometry persisted at build time and authoritative on reopen:
# a PQ-built store reopened without pq_m (the CLI has no way to know)
# would otherwise append code-less rows that later null out every ADC
# score.  The manifest makes the store self-describing, faiss-style.
_MANIFEST_FIELDS = ("dim", "n_list", "seed", "pq_m", "pq_ksub")


class IVFIndex:
    """A persisted IVF index over an append-only embedding store.

    Geometry (``dim``/``n_list``/``seed``/``pq_m``/``pq_ksub``) is
    written to ``manifest.json`` at build time and loaded on open:
    constructor args left as ``None`` adopt the stored values; an
    explicit arg that CONTRADICTS the manifest fails fast (reopening a
    PQ store as non-PQ, or with a different dim, can only corrupt it).
    A new index (no manifest) requires ``dim`` and fills the other
    fields with the documented defaults.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int | None = None,
        n_list: int | None = None,
        seed: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        pq_m: int | None = None,
        pq_ksub: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.id_col, self.vec_col = id_col, vec_col
        self.fs = fs_for(spark, path)
        given = {"dim": dim, "n_list": n_list, "seed": seed,
                 "pq_m": pq_m, "pq_ksub": pq_ksub}
        stored = self._load_manifest()
        if stored is not None and not self.exists():
            # manifest without centroids = a build that crashed between
            # the manifest write and the centroids write (build writes
            # the manifest FIRST so this is the only partial state).
            # The manifest is then PROVISIONAL, not authoritative: a
            # retry may legitimately pick different geometry (build()
            # rewrites the manifest), so explicit args win and only the
            # omitted fields adopt the stored values — the no-args
            # crash-retry path keeps recovering the full geometry.
            for k in _MANIFEST_FIELDS:
                if given[k] is None:
                    given[k] = stored.get(k)
        elif stored is not None:
            for k in _MANIFEST_FIELDS:
                if given[k] is not None and given[k] != stored.get(k):
                    raise ValueError(
                        f"IVF index at {path} was built with {k}="
                        f"{stored.get(k)!r}; constructor passed {given[k]!r}"
                        " — reopen with matching args or omit them"
                    )
            given = {k: stored.get(k) for k in _MANIFEST_FIELDS}
        else:
            if given["dim"] is None:
                raise ValueError("dim is required to create a new IVF index")
            defaults = {"n_list": 32, "seed": 42, "pq_ksub": 16, "pq_m": None}
            for k, v in defaults.items():
                if given[k] is None:
                    given[k] = v
        self.dim, self.n_list, self.seed = given["dim"], given["n_list"], given["seed"]
        self.pq_m, self.pq_ksub = given["pq_m"], given["pq_ksub"]

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _load_manifest(self) -> dict | None:
        if not self.fs.exists(self.manifest_path):
            return None
        return json.loads(self.fs.read_text(self.manifest_path))

    @property
    def codebooks_path(self) -> str:
        return os.path.join(self.path, "codebooks")

    @property
    def centroids_path(self) -> str:
        return os.path.join(self.path, "centroids")

    @property
    def lists_path(self) -> str:
        return os.path.join(self.path, "lists")

    def exists(self) -> bool:
        return self.fs.is_dir(self.centroids_path)

    # --- centroids (frozen quantizer) -----------------------------------
    @single_writer
    def build(self, corpus: DataFrame) -> int:
        """Train the coarse quantizer on a BOUNDED sample of ``corpus``
        (same trainer as every IVF plan — the collect is capped
        regardless of corpus size), persist it + the geometry manifest,
        then ingest ``corpus`` as the first batch; returns rows ingested
        (the internal ``add_batch`` already counted them via its
        Observation — callers must not re-count the input).  Idempotent
        guard: building over an existing index is a hard error —
        retraining would silently orphan every stored vector's list
        assignment."""
        if self.exists():
            raise ValueError(f"IVF index already exists at {self.path}")
        # manifest FIRST (derived purely from constructor state): a
        # crash mid-build then leaves manifest-without-centroids, which
        # reads as exists()==False and retries cleanly — the reverse
        # order left centroids-without-manifest, an exists()==True
        # store whose reopen demanded geometry the caller can't know
        self.fs.write_text_atomic(
            self.manifest_path,
            json.dumps({k: getattr(self, k) for k in _MANIFEST_FIELDS}),
        )
        C = train_ivf_centroids(
            corpus, self.dim, self.n_list,
            id_col=self.id_col, vec_col=self.vec_col, seed=self.seed,
        )
        rows = [(i, [float(x) for x in C[i]]) for i in range(C.shape[0])]
        (
            self.spark.createDataFrame(
                rows, "list_id int, centroid array<double>"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(self.centroids_path)
        )
        if self.pq_m:
            # PQ codebooks trained on the same bounded sample discipline
            # and FROZEN with the quantizer: codes stay comparable across
            # every later add_batch
            books = train_pq_codebooks(
                corpus, self.dim, m=self.pq_m, ksub=self.pq_ksub,
                id_col=self.id_col, vec_col=self.vec_col, seed=self.seed,
            )
            brows = [
                (j, c, [float(x) for x in books[j, c]])
                for j in range(books.shape[0])
                for c in range(books.shape[1])
            ]
            (
                self.spark.createDataFrame(
                    brows, "j int, c int, centroid array<double>"
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(self.codebooks_path)
            )
        return self.add_batch(corpus)

    def _centroids(self) -> np.ndarray:
        rows = (
            self.spark.read.parquet(self.centroids_path)
            .orderBy("list_id")
            .collect()
        )
        return np.array([r["centroid"] for r in rows], dtype=np.float64)

    def _codebooks(self) -> np.ndarray:
        rows = (
            self.spark.read.parquet(self.codebooks_path)
            .orderBy("j", "c")
            .collect()
        )
        m = max(r["j"] for r in rows) + 1
        ksub = max(r["c"] for r in rows) + 1
        books = np.empty((m, ksub, len(rows[0]["centroid"])), dtype=np.float64)
        for r in rows:
            books[r["j"], r["c"]] = r["centroid"]
        return books

    # --- ingest ----------------------------------------------------------
    @property
    def ids_path(self) -> str:
        """Slim ingest ledger (one ``cid`` column): the replay
        anti-join probes THIS, not the ever-growing partitioned lists
        store — O(ledger ids) per batch with a flat single-column
        layout instead of a file-listing + scan over every
        ``list_id=N`` partition dir (self-review finding)."""
        return os.path.join(self.path, "ids")

    @property
    def tombstones_path(self) -> str:
        """Deleted vector ids (one ``cid`` column), applied logically
        by every search and physically by ``compact`` — the same
        delete lifecycle as the BM25 store (``operators/bm25_index.py``)."""
        return os.path.join(self.path, "tombstones")

    @property
    def ingest_staging_path(self) -> str:
        return os.path.join(self.path, "__ingest_staging")

    def _ingest_journal(self):
        from .journal import StagedCommit

        return StagedCommit(
            self.spark,
            self.fs,
            self.ingest_staging_path,
            (
                ("lists", self.lists_path),
                ("ids", self.ids_path),
                ("tombstones", self.tombstones_path),
            ),
        )

    def _has_files(self, d: str) -> bool:
        return has_files(self.fs, d)

    def _list_files(self) -> bool:
        """True iff the partitioned lists store holds any parquet FILE
        (nested under ``list_id=N/`` dirs — a top-level listing can't
        see them). Every lists read must gate on this, not on the dir:
        a delete-all compact leaves an empty-but-present lists/ whose
        unconditional read fails schema inference."""
        return self._n_data_files() > 0

    @single_writer
    def add_batch(self, batch: DataFrame) -> int:
        """Assign the batch against the FROZEN centroids (one Arrow
        GEMM, nprobe=1) and append to the partitioned lists store.
        Returns rows added (replayed ids excluded).

        Idempotent under at-least-once redelivery — the contract the
        ``foreachBatch`` streaming twin relies on (a retried
        micro-batch must not double-append its vectors): ids already
        ingested (and duplicate deliveries inside the batch) are
        anti-joined away up front against the ``ids/`` ledger. The
        lists append and the ledger append commit TOGETHER through the
        staged-commit journal (``operators/journal.py`` — the staged
        ``partitionBy`` layout keeps its partition dirs on promotion),
        so a crash can never leave vectors stored but unledgered or
        vice versa; the GEMM and both appends stay O(batch). Stores
        from before the ledger existed fall back to probing the lists
        store's id column."""
        self.recover()
        batch = batch.dropDuplicates([self.id_col])
        backfill_ledger = False
        if self._has_files(self.ids_path):
            stored_ids = self.spark.read.parquet(self.ids_path).select(
                F.col("cid").alias(self.id_col)
            )
            batch = batch.join(stored_ids, self.id_col, "left_anti")
        elif self._list_files():
            # pre-ledger store: one compatibility probe of the lists id
            # column, and this ingest's staged ledger BACKFILLS the
            # stored ids so every later batch probes the ledger only
            stored_ids = self.spark.read.parquet(self.lists_path).select(
                F.col("cid").alias(self.id_col)
            )
            batch = batch.join(stored_ids, self.id_col, "left_anti")
            backfill_ledger = True
        C = self._centroids()
        from pyspark.sql import Observation

        assigned = with_ivf_lists(
            _unit_vecs(batch, self.id_col, self.vec_col, "cid", "c_vec"),
            C, nprobe=1, vec_col="c_vec",
        )
        if self.pq_m:
            # codes ride as ONE MORE COLUMN of the same lists table:
            # parquet's columnar layout gives the 32× scan cut for free —
            # an ADC pass projecting (cid, codes) never reads the float
            # pages (pinned by ReadSchema in test_ann_index.py)
            assigned = with_pq_codes(assigned, self._codebooks(), vec_col="c_vec")
        obs = Observation()
        staging = self.ingest_staging_path
        (
            assigned.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(os.path.join(staging, "lists"))
        )
        n = int(obs.get["n"])
        if n == 0 and not backfill_ledger:
            # full replay / empty delivery: nothing to commit (an empty
            # partitioned write leaves no readable files); the store —
            # and its file census — is untouched
            self.fs.rmtree(staging)
            return 0
        # ledger rows derive from the STAGED files (no second GEMM);
        # a pre-ledger store's ids are backfilled once so every later
        # batch probes the slim ledger only
        ledger = (
            self.spark.read.parquet(os.path.join(staging, "lists")).select("cid")
            if n > 0
            else self.spark.read.parquet(self.lists_path).select("cid").limit(0)
        )
        if backfill_ledger:
            ledger = ledger.unionByName(
                self.spark.read.parquet(self.lists_path).select("cid")
            )
        ledger.write.mode("overwrite").parquet(os.path.join(staging, "ids"))
        self._ingest_journal().commit()
        return n

    @single_writer
    def remove_batch(self, ids: DataFrame) -> int:
        """Mark vectors DELETED (tombstone append through the ingest
        journal — one committed table, crash-converged at every entry);
        returns the number newly tombstoned. Idempotent: ids never
        ingested, or already tombstoned, drop up front. Searches then
        answer as if the vectors were never ingested; ``compact``
        applies tombstones physically and forgets the ids (so a deleted
        id can re-ingest — the BM25 store's contract)."""
        from .journal import journaled_tombstone_append

        self.recover()
        ids = ids.select(F.col(self.id_col).alias("cid"))
        if self._has_files(self.ids_path):
            ledger = self.spark.read.parquet(self.ids_path)
        elif self._list_files():
            # pre-ledger store; FILES required, not just the dir — a
            # delete-all compact leaves lists/ as an empty dir that
            # must read as an empty store, never a schema-inference
            # error (the hazard stats() documents)
            ledger = self.spark.read.parquet(self.lists_path).select("cid")
        else:
            return 0
        return journaled_tombstone_append(
            self._ingest_journal(),
            self.ingest_staging_path,
            ids,
            "cid",
            ledger,
            self._tombstones(),
        )

    def _tombstones(self) -> DataFrame | None:
        if not self._has_files(self.tombstones_path):
            return None
        return self.spark.read.parquet(self.tombstones_path)

    def _without_tombstones(self, rows: DataFrame) -> DataFrame:
        """Logical deletion on a (… cid …) frame: the probe side is
        already list-pruned (query-bounded), so the anti-join cost is
        bounded by the probed lists, not the store."""
        tombs = self._tombstones()
        return rows if tombs is None else rows.join(tombs, "cid", "left_anti")

    # --- query -----------------------------------------------------------
    def _empty_result(self, queries: DataFrame) -> DataFrame:
        """Zero rows with the search result schema — the empty-store
        answer (qid typed from the caller's id column)."""
        return (
            queries.select(F.col(self.id_col).alias("qid"))
            .limit(0)
            .withColumn("cid", F.col("qid"))
            .withColumn("sim", F.lit(0.0))
            .withColumn("rk", F.lit(1))
        )

    def search(
        self, queries: DataFrame, k: int = 10, nprobe: int = 8
    ) -> DataFrame:
        """Partition-pruned probe: assign queries to their ``nprobe``
        nearest lists, collect the probed list-id set (control plane,
        |queries|·nprobe ints), read ONLY those list directories, exact
        rerank inside, per-query top-k.  Same arithmetic and tie-break
        as the in-memory ``ivf_topk`` — a store built via N add_batch
        calls answers identically to a one-shot build."""
        self.recover()  # a search-only invocation must also roll a
        # committed-but-interrupted compaction swap forward, else the
        # live lists path may simply be missing
        if not self._list_files():
            # empty store (never ingested, or delete-all compacted):
            # answer with zero rows, not a schema-inference failure
            return self._empty_result(queries)
        qb, lists = self._probe(queries, nprobe)
        idx = self._without_tombstones(
            lists.withColumn("list_id", F.col("list_id").cast("int"))
        )
        return _exact_top_k(idx.join(F.broadcast(qb), "list_id"), k)

    def search_pq(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 8,
        refine_factor: int = 4,
    ) -> DataFrame:
        """PQ/ADC probe over the stored codes + EXACT refine — faiss's
        ``IVFx,PQy + refine`` lifecycle against the persisted store.

        The candidate pass projects ONLY ``(list_id, cid, codes)``:
        parquet column pruning skips the float pages, so the scan costs
        m bytes per row instead of dim×4.  Per (query, row) the ADC
        score is m lookup-adds into the query's broadcast LUT; the
        per-query top ``refine_factor·k`` candidates then join back to
        the float column (second pruned read, candidate-filtered) for
        exact cosine and the final top-k.  Requires ``pq_m`` at build.
        """
        if not self.pq_m:
            raise ValueError("index was built without pq_m — use search()")
        self.recover()  # same roll-forward contract as search()
        if not self._list_files():
            return self._empty_result(queries)
        books = self._codebooks()
        m, ksub, _ = books.shape
        qb, lists = self._probe(queries, nprobe)
        luts = _pq_query_luts(queries, books, self.id_col, self.vec_col).join(
            qb.select("qid", "list_id"), "qid"
        )
        code_scan = self._without_tombstones(
            lists.select(F.col("list_id").cast("int").alias("list_id"), "cid", "codes")
        )
        cands = _adc_shortlist(
            code_scan.join(F.broadcast(luts), "list_id")
            .withColumn("adc", _adc_score_col(m, ksub))
            .select("qid", "cid", "adc"),
            refine_factor * k,
            rank="rk",
        )
        # candidates are refine_factor·k·|queries| rows — broadcast THEM
        # so the float read streams through a map-side hash join instead
        # of shuffling the probed partitions on cid
        return _exact_top_k(
            lists.select("cid", "c_vec")
            .join(F.broadcast(cands), "cid")
            .join(F.broadcast(qb.select("qid", "q_vec").distinct()), "qid"),
            k,
        )

    def _probe(self, queries: DataFrame, nprobe: int) -> tuple[DataFrame, DataFrame]:
        return _probe_lists(
            queries, self._centroids(), nprobe, self.lists_path, self.id_col, self.vec_col
        )

    # --- maintenance -------------------------------------------------------
    def _staging(self) -> str:
        """Where builds before the single-commit ``compact`` staged the
        whole-store rewrite (``_SWAP_COMMIT`` marker); ``recover`` still
        converges one left behind."""
        return self.lists_path + "__compactidx"

    def recover(self) -> int:
        """Converge an interrupted journaled commit (ingest, delete or
        compaction: the ingest journal) — called at every entry; same
        contract as ``MaintainedStore.recover`` / the runner's
        ``recover_all``. Also rolls forward a committed
        ``lists__compactidx`` swap an older build's ``compact`` left
        (and clears its debris: a torn marker, a stale live-path
        marker)."""
        rolled = self._ingest_journal().recover()
        staging = self._staging()
        marker = os.path.join(staging, _SWAP_MARKER)
        if self.fs.exists(marker):
            try:
                json.loads(self.fs.read_text(marker))
            except ValueError:
                self.fs.rmtree(marker)  # torn ⇒ pre-commit debris
            else:
                if self.fs.exists(self.lists_path):
                    self.fs.rmtree(self.lists_path)
                self.fs.rename(staging, self.lists_path)
                rolled += 1
        stale = os.path.join(self.lists_path, _SWAP_MARKER)
        if self.fs.exists(stale):
            self.fs.rmtree(stale)
        return rolled

    @single_writer
    def compact_lists(self, max_files_per_list: int = 1) -> dict:
        """Per-list small-files compaction — the IVF analog of the
        bucketed stores' ``compact_buckets``: list partitions are
        independent ``list_id=N/`` file sets, so ONLY lists holding
        more than ``max_files_per_list`` files are read (partition
        pruning — the filter on ``list_id`` never touches cold dirs)
        and rewritten, with the old files removed and the fresh ones
        renamed in under ONE ingest-journal marker carrying the delete
        list. Defrag only: tombstones are neither applied nor cleared
        (whole-store ``compact``'s job — clearing requires rewriting
        every list that may hold a deleted vector)."""
        from .store_common import PARTITION_DIR_RE

        self.recover()
        report = {"files_before": self._n_data_files(), "lists_compacted": 0}
        hot: dict[int, list[str]] = {}
        if self.fs.is_dir(self.lists_path):
            for name in self.fs.listdir(self.lists_path):
                m = PARTITION_DIR_RE.match(name)
                full = os.path.join(self.lists_path, name)
                if not m or not self.fs.is_dir(full):
                    continue
                files = [
                    os.path.join(name, f)
                    for f in self.fs.listdir(full)
                    if f.endswith(".parquet")
                ]
                if len(files) > max_files_per_list:
                    hot[int(m.group(1))] = files
        if not hot:
            report["files_after"] = report["files_before"]
            return report
        rows = self.spark.read.parquet(self.lists_path).filter(
            F.col("list_id").isin(list(hot))
        )
        staging = self.ingest_staging_path
        (
            rows.repartition("list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(os.path.join(staging, "lists"))
        )
        self._ingest_journal().commit(
            delete={"lists": [f for fl in hot.values() for f in fl]}
        )
        report["lists_compacted"] = len(hot)
        report["files_after"] = self._n_data_files()
        return report

    @single_writer
    def compact(self, rows_per_file: int = 2_000_000) -> dict:
        """Journaled small-files rewrite of the lists store: every
        ``add_batch`` appends one file set per touched list, so after N
        batches a probe opens O(N) files per list directory.  Recompute
        into the ingest staging dir (file count sized from ONE row
        count, partitions preserved) and swap it in through ONE
        replace-mode ingest-journal commit — the ``MaintainedStore.compact``
        shape; a crash either leaves the live store untouched or rolls
        forward at next entry.

        Tombstones are applied PHYSICALLY in the same rewrite — the
        deleted rows drop from the lists, and the ids-ledger forget and
        the tombstone CLEAR are staged beside the rewritten lists, so
        all three swap under the one marker: a deleted id becomes
        re-ingestable at exactly the moment the tombstone stops hiding
        it, never a state where a re-ingested id is silently hidden."""
        self.recover()
        if not self.fs.is_dir(self.lists_path):
            return {"files_before": 0, "files_after": 0, "rows": 0}
        files_before = self._n_data_files()
        tombs = self._tombstones()
        df = self.spark.read.parquet(self.lists_path)
        if tombs is not None:
            df = df.join(tombs, "cid", "left_anti")
        n = df.count()
        nfiles = max(1, math.ceil(n / rows_per_file))
        staging = self.ingest_staging_path
        (
            df.repartition(nfiles, "list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(os.path.join(staging, "lists"))
        )
        if tombs is not None:
            if self._has_files(self.ids_path):
                (
                    self.spark.read.parquet(self.ids_path)
                    .join(tombs, "cid", "left_anti")
                    .write.mode("overwrite")
                    .parquet(os.path.join(staging, "ids"))
                )
            self.fs.makedirs(os.path.join(staging, "tombstones"))
        self._ingest_journal().commit(replace=True)
        return {
            "files_before": files_before,
            "files_after": self._n_data_files(),
            "rows": n,
        }

    def stats(self) -> dict:
        """Operational snapshot: ingested vectors (ids ledger; falls
        back to a lists count for pre-ledger stores), pending
        tombstones, and the lists file census (compaction trigger).
        Converges any interrupted commit first (see recover); the
        fallback requires actual parquet files — a delete-all compact
        can leave lists/ as an empty dir that must read as 0, not as
        a schema-inference error."""
        self.recover()
        if self._has_files(self.ids_path):
            n = self.spark.read.parquet(self.ids_path).count()
        elif self._list_files():
            n = self.spark.read.parquet(self.lists_path).count()
        else:
            n = 0
        tombs = self._tombstones()
        return {
            "n_vectors": n,
            "n_tombstoned": tombs.count() if tombs is not None else 0,
            "lists_files": self._n_data_files(),
        }

    def _n_data_files(self) -> int:
        """Parquet census of the partitioned lists store through the
        ``fs`` seam (``store_common.data_files``)."""
        return sum(1 for _ in data_files(self.fs, self.lists_path))
