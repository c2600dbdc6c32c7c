"""Journaled staged-commit protocol for maintained stores.

Every incremental store in this engine appends MORE THAN ONE derived
table per ingest (SubstringIndex: firsts + docs ledger; BM25Index:
postings + doclens ledger). Two separate appends have a crash window —
data landed, ledger not — that silently corrupts at-least-once replay
semantics (the r8 verdict's finding #2 on the substring store). This
module is that fix, extracted once: stage every table of the ingest
under one staging dir, commit with a single atomic marker, promote by
pure renames, converge interrupted promotions at the next entry.

States a crash can leave, and what ``recover()`` does with them:

- staging WITHOUT a parsable marker — pre-commit debris: cleared, the
  live store is untouched, a replayed batch re-judges cleanly;
- staging WITH the marker — committed: promotion re-runs (renames are
  idempotent — append mode moves whatever files remain; replace mode
  swaps whole dirs, and a staged dir still present means that swap
  has not happened yet, because the marker lives in the staging ROOT,
  never inside a payload dir).

Same commit-marker discipline as the neardup index's journaled
compaction and the runner's journaled swaps (``_SWAP_COMMIT``); this
class covers the two-mode (append / whole-dir replace) ingest shape.
Single-writer per store is the caller's lock — the reference's
single-instance rule (B5).
"""

from __future__ import annotations

import json
import os

#: commit marker file name — a staging dir carrying a parsable marker
#: is committed (roll forward); without one it is pre-commit debris
INGEST_MARKER = "_INGEST_COMMIT"


class StagedCommit:
    """One store's staged-commit seam. Constructed per call with the
    owner's CURRENT ``fs`` (crash tests inject failing filesystems by
    swapping the owner's ``fs`` attribute after construction)."""

    def __init__(self, spark, fs, staging_path: str, routes, refresh_table=None):
        self.spark, self.fs = spark, fs
        self.staging = staging_path
        #: ((staging subdir name, live destination dir), ...)
        self.routes = tuple(routes)
        #: str | iterable of str — a store may front MORE THAN ONE
        #: bucketed catalog table (MinHash: sigs on doc_id + bands on
        #: (band_idx, band_hash)); every one needs its file listing
        #: refreshed after a rename promotion
        if refresh_table is None:
            self.refresh_tables: tuple[str, ...] = ()
        elif isinstance(refresh_table, str):
            self.refresh_tables = (refresh_table,)
        else:
            self.refresh_tables = tuple(refresh_table)

    @property
    def marker_path(self) -> str:
        return os.path.join(self.staging, INGEST_MARKER)

    def recover(self) -> int:
        """Converge any interrupted prior commit; returns the number of
        true roll-forwards (0 or 1). Control-plane listings only."""
        if not self.fs.is_dir(self.staging):
            return 0
        if self.fs.exists(self.marker_path):
            try:
                meta = json.loads(self.fs.read_text(self.marker_path))
            except ValueError:
                self.fs.rmtree(self.staging)  # torn ⇒ pre-commit debris
                return 0
            self._roll_forward(
                replace=bool(meta.get("replace")),
                delete=meta.get("delete"),
                replace_subs=tuple(meta.get("replace_subs") or ()),
            )
            return 1
        self.fs.rmtree(self.staging)
        return 0

    def commit(
        self,
        replace: bool = False,
        delete: dict[str, list[str]] | None = None,
        replace_subs: tuple[str, ...] = (),
    ) -> None:
        """COMMIT POINT: everything staged before this call is
        reconstructible debris; everything after is pure idempotent
        promotion. ``delete`` (per-bucket compaction): route sub ->
        relative parquet paths to REMOVE from the live dir before the
        staged files rename in — the replaced unit is a file subset,
        not the whole dir. ``replace_subs`` (tombstone-applying
        per-bucket compaction, r12): the NAMED routes promote in
        whole-dir replace mode while the rest keep append/delete-list
        mode — one commit can rewrite a file subset of the big tables
        AND swap the slim ledger + cleared tombstone set atomically.
        Both ride inside the marker so a crash mid-promotion resumes
        with the same plan."""
        self.fs.write_text_atomic(
            self.marker_path,
            json.dumps(
                {
                    "committed": True,
                    "replace": replace,
                    "delete": delete,
                    "replace_subs": list(replace_subs),
                }
            ),
        )
        self._roll_forward(
            replace=replace, delete=delete, replace_subs=replace_subs
        )

    def _roll_forward(
        self,
        replace: bool = False,
        delete: dict[str, list[str]] | None = None,
        replace_subs: tuple[str, ...] = (),
    ) -> None:
        """Promote a COMMITTED staging dir into the live store, then
        clear staging. No Spark job runs here, so a crash at any step
        resumes exactly where it stopped.

        - append mode (ingest): per-FILE renames into the live dirs,
          RECURSIVELY — a staged ``partitionBy`` layout keeps its
          partition subdirs (``list_id=N/…``) on promotion — and
          idempotent, a re-run moves whatever remains;
        - replace mode (compaction): whole-DIR delete+rename swap — a
          re-run after a crash between the delete and the rename just
          swaps again (``replace_subs`` applies the same swap to only
          the named routes);
        - delete-list mode (per-bucket compaction): the marker's listed
          live files are removed first (idempotent — already-removed
          paths skip), then the staged files rename in as in append
          mode. Staged file names are fresh uuids, so a crash between
          the deletes and the renames re-runs both safely."""
        for sub, dst in self.routes:
            src = os.path.join(self.staging, sub)
            if not self.fs.is_dir(src):
                continue
            if replace or sub in replace_subs:
                if self.fs.exists(dst):
                    self.fs.rmtree(dst)
                self.fs.rename(src, dst)
                continue
            for rel in (delete or {}).get(sub, ()):
                old = os.path.join(dst, rel)
                if self.fs.exists(old):
                    self.fs.rmtree(old)  # single file — both fs impls
            for rel in self._walk_parquet(src):
                target = os.path.join(dst, rel)
                parent = os.path.dirname(target)
                self.fs.makedirs(parent if parent else dst)
                self.fs.rename(os.path.join(src, rel), target)
        self.fs.rmtree(self.staging)
        # a bucketed catalog table caches its file listing; files that
        # arrive by rename are invisible until refreshed (saveAsTable
        # appends refresh implicitly — rename promotion must, explicitly)
        for tbl in self.refresh_tables:
            if self.spark.catalog.tableExists(tbl):
                self.spark.catalog.refreshTable(tbl)

    def _walk_parquet(self, root: str, prefix: str = ""):
        """Relative paths of every ``*.parquet`` under ``root``, any
        depth (partitioned staged writes nest one level of
        ``key=value`` dirs; plain writes are flat)."""
        fs = self.fs
        for name in fs.listdir(root):
            rel = os.path.join(prefix, name) if prefix else name
            full = os.path.join(root, name)
            if fs.is_dir(full):
                yield from self._walk_parquet(full, rel)
            elif name.endswith(".parquet"):
                yield rel
