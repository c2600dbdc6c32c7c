"""Maintained-store skeleton — the lifecycle every incremental store
shares: ``BandedIndex`` (``MinHashIndex``, ``SimHashIndex``),
``SubstringIndex``, ``BM25Index``, ``IVFIndex`` and ``ClusterIndex``.
Each store declares its tables and plugs in its ingest derivation and
its reads; construction, the commit journal, deletes, compaction and
the census live here once.

Layout under ``path``:

- one directory per declared table (``TABLES``), in the declared
  ``LAYOUT`` (``operators/bucketed.py``): bucketed — a parquet dir
  whose files carry their bucket ids in their names, fronted by a
  bucketed catalog table — or partitioned — ``partitionBy(key)``, one
  ``key=N/`` dir per unit (the IVF inverted lists);
- the ledger (``LEDGER``, optional): every id ever ingested, one row
  per doc;
- the tombstone set (``TOMBSTONES``, keyed on ``key_col``): pending
  deletes (the cluster store's ``dead/`` merged-away components);
- ``_STORE_META`` — the identity fields (``IDENTITY``) and the bucket
  count, written once when the store is created. Identity fields are
  store identity: an explicit value must match the stored one, ``None``
  adopts it, and a fresh store given ``None`` raises. The bucket count
  is baked into file names, so a reopen adopts the stored one. A store
  with other identity rules overrides ``_open_meta`` (IVF's
  ``manifest.json``).

Contracts every maintained store holds:

- **Replay ledger drop.** ``add_batch`` drops ids already in the
  ledger (and duplicates inside the batch) before deriving anything,
  so an at-least-once redelivery appends nothing and reports nothing.
  (The cluster store has no ledger: a refolded pair batch is a no-op
  by its labeling algebra.)
- **One-marker commit.** Every mutation stages its table files, its
  ledger rows and (for deletes and compaction) its tombstone set under
  the staging dir and commits them with ONE ``StagedCommit`` marker
  (``operators/journal.py``). A crash before the marker leaves debris
  ``recover`` clears; a crash after it is rolled forward by the next
  entry, so data rows and ledger ids can never land separately. Every
  entry point calls ``recover`` first.
- **Tombstone lifecycle.** ``remove_batch`` journals the ids (only ids
  in the ledger, each once) into the tombstone set. Until a compaction
  applies them, every read filters them out, so deleted docs answer as
  never ingested, and a redelivery of a deleted id is still dropped by
  the ledger. ``compact`` rewrites every table minus the tombstoned
  rows, and the ledger forget and the CLEARED (empty) tombstone set
  stage into the SAME replace-mode commit as the rewrites: no crash can
  leave a stale tombstone hiding, then deleting, a re-ingested id.
  After it a deleted id may re-ingest as new. ``compact_buckets`` is
  defrag only, per bucket or per partition unit: tombstones are
  neither applied nor cleared.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import fs_for
from .bucketed import BucketedStore
from .journal import StagedCommit
from .store_common import compact_hot_buckets, data_files, has_files, single_writer

_META = "_STORE_META"


class MaintainedStore:
    """A persisted store of tables plus an optional ids ledger and a
    tombstone set. Subclasses set the class-level declarations below
    and their identity attributes, then call ``MaintainedStore.__init__``."""

    #: ((sub-dir, key col(s), catalog-table prefix), ...) in journal
    #: route order; the LAST table is the file census
    TABLES: tuple[tuple[str, str | tuple[str, ...], str | None], ...]
    #: the table class of every ``TABLES`` entry (``operators/bucketed.py``)
    LAYOUT = BucketedStore
    #: ledger sub-dir (ids ever ingested; may carry more columns), or None
    LEDGER: str | None = None
    #: tombstone sub-dir
    TOMBSTONES = "tombstones"
    #: column the ledger and tombstones hold and tombstoned table rows
    #: carry, when it is not the constructor's ``id_col``
    KEY_COL: str | None = None
    #: staging sub-dir of the commit journal
    STAGING: str
    #: ``stats()`` keys of the ledger size and the census table's file count
    COUNT_KEY = "n_docs"
    CENSUS_KEY: str
    #: constructor fields stored in ``_STORE_META`` and checked on reopen
    IDENTITY: tuple[str, ...] = ()

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str,
        n_buckets: int | None,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.key_col = self.KEY_COL or id_col
        self.n_buckets = n_buckets
        # swap seam for staged commits — POSIX for bare paths, Hadoop
        # FileSystem for hdfs:// s3a:// store roots; crash tests swap it
        self.fs = fs_for(spark, path)
        fresh = self._open_meta()
        # the shared table seam also drops a stale catalog entry left
        # by a previous (deleted) store here
        self._tables = {
            sub: self.LAYOUT(
                spark, lambda: self.fs, os.path.join(path, sub),
                keys, self.n_buckets, prefix, fresh,
            )
            for sub, keys, prefix in self.TABLES
        }

    def _open_meta(self) -> bool:
        """Check or adopt the identity fields and the bucket count from
        ``_STORE_META``, writing it for a new store; True iff fresh."""
        meta_path = os.path.join(self.path, _META)
        fresh = not self.fs.exists(meta_path)
        if fresh:
            for name in self.IDENTITY:
                if getattr(self, name) is None:
                    raise ValueError(f"no store at {self.path}: a new store needs {name}")
            if not self._legacy_layout():
                self._write_meta()
        else:
            meta = json.loads(self.fs.read_text(meta_path))
            for name in self.IDENTITY:
                value, stored = getattr(self, name), int(meta[name])
                if value is not None and value != stored:
                    raise ValueError(
                        f"store at {self.path} was built with {name}={stored}, got "
                        f"{name}={value} — signature geometry is store identity"
                    )
                setattr(self, name, stored)
            self.n_buckets = int(meta["n_buckets"])
        return fresh

    def _legacy_layout(self) -> bool:
        """True iff the store holds an older layout that ``recover``
        migrates (then a fresh store writes no meta yet)."""
        return False

    def _write_meta(self) -> None:
        self.fs.makedirs(self.path)
        self.fs.write_text_atomic(
            os.path.join(self.path, _META),
            json.dumps(
                {name: getattr(self, name) for name in self.IDENTITY}
                | {"n_buckets": self.n_buckets, "layout": "bucketed"}
            ),
        )

    @property
    def ledger_path(self) -> str:
        return os.path.join(self.path, self.LEDGER)

    @property
    def tombstones_path(self) -> str:
        return os.path.join(self.path, self.TOMBSTONES)

    @property
    def staging_path(self) -> str:
        return os.path.join(self.path, self.STAGING)

    def _has_files(self, d: str) -> bool:
        return has_files(self.fs, d)

    def _has_ledger(self) -> bool:
        return self.LEDGER is not None and self._has_files(self.ledger_path)

    def _require_ledger(self, op: str) -> None:
        if self.LEDGER is None:
            raise NotImplementedError(
                f"{type(self).__name__} keeps no ids ledger: {op} is not supported"
            )

    def _data_files(self, store: str):
        """Parquet file census through the ``fs`` seam (truthful on
        remote store roots — see ``store_common.data_files``)."""
        yield from data_files(self.fs, store)

    def _tombstones(self) -> DataFrame | None:
        if not self._has_files(self.tombstones_path):
            return None
        return self.spark.read.parquet(self.tombstones_path)

    def _ledger_ids(self) -> DataFrame:
        return self.spark.read.parquet(self.ledger_path).select(self.key_col)

    def _unseen(self, batch: DataFrame) -> DataFrame:
        """``batch`` minus ids the ledger already holds."""
        if not self._has_files(self.ledger_path):
            return batch
        return batch.join(self._ledger_ids(), self.key_col, "left_anti")

    def _journal(self) -> StagedCommit:
        """The staged-commit journal: every table, the ledger AND the
        tombstone set commit under ONE marker. Constructed per call so
        crash tests can swap ``self.fs``."""
        ledger = ((self.LEDGER, self.ledger_path),) if self.LEDGER else ()
        return StagedCommit(
            self.spark,
            self.fs,
            self.staging_path,
            tuple((sub, t.location) for sub, t in self._tables.items())
            + ledger + ((self.TOMBSTONES, self.tombstones_path),),
            refresh_table=tuple(t.table for t in self._tables.values() if t.table),
        )

    def recover(self) -> int:
        """Converge any interrupted commit — called at every entry
        point, same contract as the runner's ``recover_all``. Returns
        the number of true roll-forwards."""
        return self._journal().recover()

    # --- store maintenance ---------------------------------------------------

    @single_writer
    def remove_batch(self, ids: DataFrame) -> int:
        """Mark documents DELETED (``ids`` carries ``id_col``); returns
        the number newly tombstoned. Idempotent: ids never ingested, or
        already tombstoned, are dropped up front. The write commits
        through the journal, so a crash leaves either the old set or the
        converged new set. A store class without a ledger cannot tell
        an ingested id from a stranger, so it refuses."""
        self._require_ledger("remove_batch")
        self.recover()
        if not self._has_ledger():
            return 0
        key = self.key_col
        ids = ids.select(F.col(self.id_col).alias(key)).dropDuplicates([key])
        ids = ids.join(self._ledger_ids(), key, "left_semi")
        tombs = self._tombstones()
        if tombs is not None:
            ids = ids.join(tombs, key, "left_anti")
        ids = ids.localCheckpoint()  # sever from the tombstones pre-commit
        n = ids.count()
        if n == 0:
            return 0
        ids.write.mode("overwrite").parquet(os.path.join(self.staging_path, self.TOMBSTONES))
        self._journal().commit()
        return n

    @single_writer
    def compact_buckets(self, max_files_per_bucket: int = 1) -> dict:
        """Per-unit small-files compaction: rewrite ONLY buckets (or
        partition units) holding more than ``max_files_per_bucket``
        files (each table judged independently), untouched units' files
        kept by identity. Defrag only (see
        ``store_common.compact_hot_buckets``)."""
        self.recover()
        if not any(t.has_files() for t in self._tables.values()):
            return {}
        return compact_hot_buckets(
            self.spark,
            self._journal(),
            self.staging_path,
            tuple(self._tables.items()),
            max_files_per_bucket,
        )

    def _rewrite_ledger_without(self, tombs: DataFrame | None) -> bool:
        """Stage the ledger minus ``tombs`` (sized from its row count —
        one slim file per ~2M ids); False if there is no ledger, or if
        there is nothing to forget and it is already one file (an
        unstaged route is left alone by the commit)."""
        if not self._has_ledger():
            return False
        if tombs is None and sum(1 for _ in self._data_files(self.ledger_path)) == 1:
            return False
        ledger = self.spark.read.parquet(self.ledger_path)
        if tombs is not None:
            ledger = ledger.join(tombs, self.key_col, "left_anti")
        nfiles = max(1, math.ceil(ledger.count() / 2_000_000))
        ledger.repartition(nfiles).write.mode("overwrite").parquet(
            os.path.join(self.staging_path, self.LEDGER)
        )
        return True

    def _census(self, table) -> int:
        return sum(1 for _ in self._data_files(table.location))

    @single_writer
    def compact(self) -> dict:
        """Rewrite every table to one file per bucket (or partition
        unit) — every ``add_batch`` appends one file set, so after N
        batches each bucket's scan opens O(N) files AND loses its
        sort-merge sortedness (Spark trusts per-bucket sort order only
        with a single file per bucket). Tombstones apply physically
        here: the rewrites, the ledger forget AND the cleared tombstone
        set stage under ONE replace-mode commit. Runs on any store with
        a committed ingest (a ledger, or else table files), even one
        whose tables hold no files."""
        self.recover()
        if not (self._has_ledger() or any(t.has_files() for t in self._tables.values())):
            return {}
        tombs = self._tombstones()
        if tombs is not None:
            tombs = tombs.localCheckpoint()  # sever before the set clears
        files_before = {sub: self._census(t) for sub, t in self._tables.items()}
        for sub, table in self._tables.items():
            if not table.has_files():
                continue
            rows = self.spark.read.parquet(table.location)
            if tombs is not None:
                rows = rows.join(tombs, self.key_col, "left_anti")
            table.stage(rows, os.path.join(self.staging_path, sub))
        self._rewrite_ledger_without(tombs)
        if tombs is not None:
            # an EMPTY staged tombstone dir = the cleared set; the
            # replace promotion swaps it in atomically with the tables
            self.fs.makedirs(os.path.join(self.staging_path, self.TOMBSTONES))
        self._journal().commit(replace=True)
        return {
            sub: {"files_before": files_before[sub], "files_after": self._census(t)}
            for sub, t in self._tables.items()
        }

    def n_docs(self) -> int:
        """Documents ever ingested and not compacted away (ledger size)."""
        self._require_ledger("n_docs")
        if not self._has_ledger():
            return 0
        return self.spark.read.parquet(self.ledger_path).count()

    def stats(self) -> dict:
        """Operational snapshot: ledgered docs, pending tombstones, and
        the census table's file count (the compaction trigger).
        Converges any interrupted commit first, so a crash-interrupted
        store reports its true state."""
        self.recover()
        tombs = self._tombstones()
        return {
            self.COUNT_KEY: self.n_docs(),
            "n_tombstoned": tombs.count() if tombs is not None else 0,
            self.CENSUS_KEY: self._census(list(self._tables.values())[-1]),
        }
