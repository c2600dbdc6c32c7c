"""The replication run — entry-point B of the reference
(``process_binlog``, matomo2clickhouse.py:475-779) as a micro-batch job.

One ``run_once`` call = one cron run of the reference:

1. resume from the ledger (argmax dateid → last applied position,
   matomo2clickhouse.py:786-812, S6);
2. slice the changelog: position > resume point, clamped by the run
   budgets (row cap B4 / file cap S2/O3). The row budget is a
   DISTRIBUTED seq cutoff (file-boundary accumulation + an exact
   quantile inside the one straddling file) — never a global
   sort/TakeOrdered over the batch;
3. route per table policy (catalog.REGISTRY; unregistered tables take
   the append-mode DEFAULT_POLICY so they can never trigger a state
   rewrite) and apply:
   - ``insert_as_update`` tables: versioned APPEND (P5/P6) — the hot
     path; pure columnar append partitioned by yyyymm (O11);
   - ``mutate`` tables: fold the batch into stored state scoped to the
     ``yyyymm`` partitions that contain matched keys — untouched
     partitions stay untouched BYTES (appends-then-mutations ordering
     B2/O6 holds because the fold takes the last event per key);
   - the F6 old-delete guard applies ONLY to tables whose policy sets
     ``not_delete_old_col``, using that table's date column — the
     reference scopes the guard to CONST_TBL_NOT_DELETE_OLD the same
     way (matomo2clickhouse.py:583-606, _settings.py:132-138);
4. write one ledger row per (table, file) slice (S5) AFTER the data
   writes — reproducing the reference's at-least-once contract
   (doc_old_duplicates.md:6-10): a crash between data and ledger
   replays the batch; dedup-at-read (Q1) + compaction (Q3) absorb it;
5. ``dry_run=True`` plans and counts everything but writes nothing
   (S9, _settings.py:53-55).

Scale notes: every apply is a bounded-batch DataFrame op; the stored
mutate-state participates via one column-pruned semi-join (to find the
affected partitions) plus a partition-pruned re-fold of only those
partitions. Appends never read existing data.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import DEFAULT_POLICY, REGISTRY, TablePolicy
from ..fs import fs_for
from ..operators.apply import apply_insert_as_update, apply_mutate, latest_by_key
from ..operators.dedup import dedup_in_window
from ..operators.drift import SchemaDriftError, diff_schemas
from ..operators.filters import filter_pos_range, split_old_deletes, split_poison

#: O9 write fan-in: files per (table, batch) is bounded below by this
#: coalesce (the reference's "too many parts" guidance, README.md:189-194)
#: and above by maxRecordsPerFile — no pre-count of the slice needed
WRITE_PARTITIONS = 8

#: commit-point manifest a journaled partition/whole-dir swap writes
#: into its staging dir before mutating the live table (crash => the
#: next job entry rolls the swap forward from this file)
SWAP_COMMIT_MARKER = "_SWAP_COMMIT"

LEDGER_SCHEMA = (
    "dateid bigint, created_at timestamp, table_name string, sql_type string,"
    " log_time timestamp, log_file bigint, log_pos_start bigint, log_pos_end bigint"
)


@dataclass
class RunConfig:
    target_dir: str
    batch_row_budget: int = 1_000_000      # replication_batch_size (_settings.py:71-73)
    max_files_per_run: int = 20            # replication_max_number_files_per_session
    old_delete_days: int = 31              # F6 horizon (matomo2clickhouse.py:593)
    dry_run: bool = False                  # EXECUTE_CLICKHOUSE=False analog (S9)
    degraded: bool = False                 # B3/O8: previous run failed — shrink
                                           # the budget so the poison surfaces
                                           # (matomo2clickhouse.py:841-847)
    quarantine: bool = True                # B3: divert invalid rows to the
                                           # reject table instead of failing
    schema_drift: str = "ignore"           # ignore | report | strict — the
                                           # freeze_schema analog: strict
                                           # halts on batch-vs-store drift
                                           # (README.md:196-206); report
                                           # surfaces it in RunReport; both
                                           # cost one footer read per table
    table_concurrency: int = 1             # per-table applies submitted as
                                           # concurrent Spark jobs (threads;
                                           # executors are shared, so batch
                                           # wall = max per-table, not sum).
                                           # Tables are independent stores —
                                           # B2 ordering is per-table — so
                                           # this never reorders effects.
                                           # 1 = the reference's serial loop
    store_maintenance: tuple = ()          # opt-in maintained-store upkeep
                                           # specs (see maintain_stores):
                                           # ({"kind": "minhash", "path":
                                           # ..., "max_files": 64}, ...) —
                                           # runs inside run_session's
                                           # budget-gated maintenance block,
                                           # the reference's entry point C,
                                           # so store compaction is
                                           # scheduled, not CLI-manual only

    def effective_row_budget(self) -> int:
        if self.degraded:
            # the reference's degraded formula: size // 1000 + 10
            return self.batch_row_budget // 1000 + 10
        return self.batch_row_budget


@dataclass
class RunReport:
    start_seq: int | None
    end_seq: int | None
    rows_applied: int = 0
    rows_rejected_old_delete: int = 0
    rows_quarantined: int = 0
    tables: dict = field(default_factory=dict)
    dry_run: bool = False


def _missing_path(err: AnalysisException) -> bool:
    """True only for 'nothing readable at this path' analysis errors —
    a first run. Genuine I/O / corruption errors must propagate.
    UNABLE_TO_INFER_SCHEMA is how a missing dir surfaces when the read
    happens inside a streaming ``foreachBatch`` (the FileStreamSink
    metadata probe swallows the plain not-found)."""
    msg = str(err)
    return (
        "PATH_NOT_FOUND" in msg
        or "Path does not exist" in msg
        or "UNABLE_TO_INFER_SCHEMA" in msg
    )


def _canon_cols(df: DataFrame, cols: list[str]) -> list:
    """Schema-driven canonicalization for the integrity-check digest:
    timestamps formatted to seconds, floating payloads floored at cent
    precision, everything else cast to string — each choice exactly
    expressible in ANSI SQL / other engines' dialects so an independent
    side can compute the same digest (``operators/checksum.py``)."""
    out = []
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in cols:
        t = by_name[c]
        if t.startswith("timestamp"):
            out.append(F.date_format(c, "yyyy-MM-dd HH:mm:ss"))
        elif t in ("double", "float"):
            out.append(F.floor(F.col(c) * 100).cast("bigint"))
        else:
            out.append(F.col(c).cast("string"))
    return out


class ReplicationRunner:
    def __init__(self, spark: SparkSession, config: RunConfig):
        self.spark = spark
        self.cfg = config
        # every direct store mutation (partition swap, staged promote,
        # empty-store repair) goes through this seam — POSIX for bare
        # paths, Hadoop FileSystem for hdfs://s3a://... target dirs
        self.fs = fs_for(spark, config.target_dir)
        #: last run_session's maintained-store upkeep report (see
        #: maintain_stores) — surfaced by the CLI
        self.last_store_maintenance: list[dict] = []

    # --- storage paths -----------------------------------------------------
    def table_path(self, name: str) -> str:
        """Target location of a replicated table, including the P11
        schema-rename: the reference rewrites every emitted statement's
        source db to ``CH_matomo_dbname`` (binlog2sql_util.py:44-49);
        here the policy's ``target_namespace`` plays that role as a
        directory level under ``tables/``."""
        policy = REGISTRY.get(name)
        ns = getattr(policy, "target_namespace", None) if policy else None
        if ns:
            return os.path.join(self.cfg.target_dir, "tables", ns, name)
        return os.path.join(self.cfg.target_dir, "tables", name)

    @property
    def ledger_path(self) -> str:
        return os.path.join(self.cfg.target_dir, "ledger")

    # --- ledger ------------------------------------------------------------
    def read_ledger(self) -> DataFrame:
        """Missing ledger (first run) => empty frame. Anything else —
        corruption, I/O, permission — PROPAGATES: silently returning an
        empty ledger would reset the resume point to None and replay the
        whole changelog with no operator signal (the dedup-at-read
        contract absorbs the duplicates, but the full-history re-fold is
        real work and real writes)."""
        try:
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.ledger_path)
        except AnalysisException as e:
            if _missing_path(e):
                return self.spark.createDataFrame([], LEDGER_SCHEMA)
            raise

    def resume_seq(self) -> int | None:
        """S6/Q7 — argmax checkpoint lookup: resume after max applied
        position (log_pos_end of the max-dateid ledger row)."""
        led = self.read_ledger()
        row = (
            led.agg(F.max("dateid").alias("dateid"))
            .join(led, "dateid")
            .select("log_pos_end")
            .collect()
        )
        return row[0]["log_pos_end"] if row else None

    # --- helpers -----------------------------------------------------------
    @staticmethod
    def _poison_key_cols(
        changelog: DataFrame,
    ) -> tuple[list[str], dict[str, list[str]]]:
        """Key columns to null-check in split_poison. The generic
        adapter carries the business key as ``key``; matomo-shaped
        frames carry several tables' key columns side by side, so the
        null check must be scoped PER TABLE (a visits row legitimately
        has NULL idgoal — checking the union of all policies' keys
        would quarantine nearly every valid row). Returns
        ``(fallback_cols, per_table_cols)`` for ``split_poison``:
        unregistered tables null-check ``key`` when present; registered
        tables check only their own policy keys present in the frame."""
        fallback = ["key"] if "key" in changelog.columns else []
        by_table: dict[str, list[str]] = {}
        for name, pol in REGISTRY.items():
            present = [c for c in pol.key_cols if c in changelog.columns]
            by_table[name] = present if present else fallback
        return fallback, by_table

    @staticmethod
    def _resolve_cols(policy: TablePolicy, df: DataFrame) -> list[str]:
        """Policy key columns resolved against the frame: matomo-shaped
        policies (idvisit, idlink_va, ...) name source columns that the
        generic changelog contract folds into ``key``."""
        present = [c for c in policy.key_cols if c in df.columns]
        if present:
            return present
        if "key" in df.columns:
            return ["key"]
        raise ValueError(
            f"table {policy.name}: none of {policy.key_cols} nor 'key' in {df.columns}"
        )

    def _budget_cutoff(self, batch: DataFrame, budget: int) -> int | None:
        """B4 — the row budget as a distributed seq cutoff.

        The reference stops its loop after ``replication_batch_size``
        rows (matomo2clickhouse.py:679-702). A naive
        ``orderBy(seq).limit(budget)`` compiles to TakeOrderedAndProject
        — a budget-sized merge in ONE task, the slowest task of every
        micro-batch at scale. Instead:

        1. per-file row counts (≤ max_files rows — control plane) pick
           the longest file prefix within budget;
        2. if one file straddles the boundary, an exact quantile on that
           single file's ``seq`` refines the cut — bounded by the file's
           row count (changelog files are size-bounded), not the batch.

        The cutoff is data-derived, so replays slice identically. The
        resulting slice plan is a pure pushed-down filter.
        """
        stats = (
            batch.groupBy("file_seq")
            .agg(F.count(F.lit(1)).alias("n"), F.max("seq").alias("max_seq"))
            .orderBy("file_seq")
            .collect()
        )
        cum, hi = 0, None
        for r in stats:
            if cum + r["n"] <= budget:
                cum += r["n"]
                hi = r["max_seq"]
                continue
            remaining = budget - cum
            if remaining > 0:
                frac = min(1.0, remaining / r["n"])
                # relativeError=0 => exact rank; cost bounded by ONE file
                cut = (
                    batch.filter(F.col("file_seq") == r["file_seq"])
                    .select("seq")
                    .approxQuantile("seq", [frac], 0.0)
                )
                if cut:
                    hi = int(cut[0]) if hi is None else max(hi, int(cut[0]))
            break
        return hi

    # --- one run -----------------------------------------------------------
    def run_once(self, changelog: DataFrame) -> RunReport:
        cfg = self.cfg
        if not cfg.dry_run:
            # roll forward EVERY interrupted swap (ledger, table
            # compactions, file compactions, daily aggs) BEFORE this run
            # reads its resume point or any table state: resuming off a
            # half-swapped ledger would replay history, and reading a
            # half-swapped table would fold against missing partitions
            self.recover_all()
        start_seq = self.resume_seq()
        report = RunReport(start_seq, start_seq, dry_run=cfg.dry_run)

        # B3: quarantine BEFORE position slicing — a null-position row
        # can never be attributed to the stream order, so it would
        # otherwise vanish silently in the seq-bounded budget slice.
        # (Like the reference's poison statements, an unfixed bad row
        # re-surfaces every run until the operator clears it — which is
        # why the accounting happens before the empty-batch early
        # return: a backlog of pure poison must still show up in the
        # report and the rejects table.)
        if cfg.quarantine:
            fallback, by_table = self._poison_key_cols(changelog)
            ok, poisoned = split_poison(
                changelog, fallback, key_cols_by_table=by_table
            )
            # one pass: the quarantine count rides on the rejects write
            # (before the batch cache exists, a count-then-write would be
            # two scans of the raw changelog)
            report.rows_quarantined = self._write(
                poisoned.coalesce(1),
                os.path.join(cfg.target_dir, "rejects"),
                staging=os.path.join(cfg.target_dir, "rejects__staging"),
                append=True,
            )
        else:
            ok = changelog

        batch = filter_pos_range(ok, start_seq, None)

        # O3/S2: clamp to N changelog files per run
        files = [
            r["file_seq"]
            for r in batch.select("file_seq").distinct().orderBy("file_seq")
            .limit(cfg.max_files_per_run).collect()
        ]
        if not files:
            return report
        batch = batch.filter(F.col("file_seq").isin(files))

        # B4: row budget — deterministic distributed cutoff
        hi = self._budget_cutoff(batch, cfg.effective_row_budget())
        if hi is not None:
            batch = batch.filter(F.col("seq") <= hi)

        batch = batch.cache()
        report.end_seq = hi

        # batch profile in one job: the batch's own clock (used by the
        # per-table F6 guard) and its tables, sorted so the apply order
        # is deterministic
        profile = batch.agg(
            F.max("ts").alias("now_ts"),
            F.sort_array(F.collect_set("table_name")).alias("tables"),
        ).collect()[0]
        now_ts, tables = profile["now_ts"], profile["tables"]

        def _one(tbl: str) -> tuple[str, dict]:
            policy = REGISTRY.get(tbl, DEFAULT_POLICY)
            tslice = batch.filter(F.col("table_name") == tbl).drop("table_name")
            return tbl, self._apply_table(tbl, policy, tslice, now_ts)

        if cfg.table_concurrency > 1 and len(tables) > 1:
            # concurrent Spark jobs: each table's apply is its own job
            # DAG against the shared cached batch; threads only block on
            # JVM calls, the scheduler interleaves tasks across the same
            # executors. Errors (incl. strict-mode drift) propagate on
            # result collection, exactly like the serial loop.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(cfg.table_concurrency, len(tables))
            ) as pool:
                results = list(pool.map(_one, tables))
        else:
            results = [_one(t) for t in tables]
        for tbl, stats in results:
            report.tables[tbl] = stats
            report.rows_applied += stats["rows"]
            report.rows_rejected_old_delete += stats["rejected_old_deletes"]

        # ledger covers the FULL consumed slice (incl. F6-rejected rows —
        # they are consumed positions even though not applied), so the
        # resume point always advances and replays can't loop.
        self._write_ledger(batch)
        batch.unpersist()
        return report

    def _check_drift(self, tbl: str, batch_schema, stats: dict) -> None:
        """F-series freeze_schema guard: compare the batch's apply-frame
        schema against the stored table's (one footer read, no data
        scan). ``report`` mode records drift rows in the table stats;
        ``strict`` halts the run like the reference does when ClickHouse
        rejects the unknown column (README.md:196-206). Engine-managed
        columns (the yyyymm partition) are excluded."""
        if self.cfg.schema_drift == "ignore":
            return
        try:
            stored = self.spark.read.parquet(self.table_path(tbl)).schema
        except AnalysisException as e:
            if _missing_path(e):
                return  # first write defines the schema — nothing to drift from
            raise
        drift = diff_schemas(batch_schema, stored, ignore={"yyyymm"})
        if not drift:
            return
        stats["schema_drift"] = drift
        if self.cfg.schema_drift == "strict":
            raise SchemaDriftError(f"table {tbl}: schema drift {drift}")

    def _apply_table(
        self, tbl: str, policy: TablePolicy, tslice: DataFrame, now_ts
    ) -> dict:
        cfg = self.cfg
        stats = {"mode": policy.apply_mode, "rows": 0, "rejected_old_deletes": 0}

        # F6: old-delete rejection, scoped to guarded tables only — the
        # reference checks CONST_TBL_NOT_DELETE_OLD per table with that
        # table's date column (matomo2clickhouse.py:583-606). Unguarded
        # tables apply their DELETEs unconditionally.
        if policy.not_delete_old_col:
            date_col = (
                policy.not_delete_old_col
                if policy.not_delete_old_col in tslice.columns
                else "ts"  # the generic changelog contract's event time
            )
            tslice, rejected = split_old_deletes(
                tslice, date_col=date_col, now_col=F.lit(now_ts), days=cfg.old_delete_days
            )
            stats["rejected_old_deletes"] = rejected.count()

        if policy.apply_mode in ("append", "insert_as_update"):
            # hot path: versions append, partitioned monthly (O11); no
            # read of existing data, no shuffle beyond the write split.
            # The file count is bounded WITHOUT knowing n: a fixed
            # coalesce caps files per month from below (O9 "too many
            # parts") and maxRecordsPerFile splits oversized ones from
            # above.
            out = apply_insert_as_update(tslice, self._resolve_cols(policy, tslice))
            out = out.withColumn("yyyymm", F.date_format("ts", "yyyyMM"))
            self._check_drift(tbl, out.schema, stats)
            stats["rows"] = self._write(
                out.coalesce(WRITE_PARTITIONS),
                self.table_path(tbl),
                append=True,
                max_records=500_000,
            )
            return stats

        # mutate: the fold drops ``op``; everything else lands in state
        self._check_drift(tbl, tslice.drop("op").schema, stats)
        stats["rows"] = self._apply_mutate_table(tbl, policy, tslice)
        return stats

    def _apply_mutate_table(self, tbl: str, policy: TablePolicy, tslice: DataFrame) -> int:
        """Mutate mode: fold the batch into stored state, touching ONLY
        the ``yyyymm`` partitions that contain matched keys.

        One layout: monthly ``yyyymm`` partitions, derived from the
        policy's ``partition_col`` when the slice carries it, else from
        the changelog contract's event time ``ts`` (``_month_col``).

        The reference's mutations hit single rows by full-row-image
        WHERE (binlog2sql_util.py:294-341); a full-table rewrite per
        batch would be its 100 TB scale-killer analog. Instead:

        1. one query finds the affected partitions: those holding prior
           versions of touched keys — the batch's distinct keys
           (bounded by batch size) broadcast into a column-pruned
           semi-join against stored state, a scan of (key, yyyymm)
           only, no shuffle — plus the partitions the batch itself
           lands in. A table with no stored state yet skips the scan;
        2. re-fold ONLY those partitions (partition-pruned read) with
           the batch slice, stage, and swap the affected partition
           directories (``_write``). Untouched partitions are
           untouched bytes.

        The two-phase write-ordering barrier (B2/O6) is inherent: the
        fold takes the LAST event per key, so appends can't overtake
        mutations within the batch.
        """
        keys = self._resolve_cols(policy, tslice)
        path = self.table_path(tbl)
        # roll forward any committed-but-interrupted swap BEFORE the
        # state read — the recompute must see the converged table
        self._recover_staging(path + "__staging", path)
        slice_p = tslice.withColumn(
            "yyyymm",
            F.date_format(self._month_col(policy, tslice), "yyyyMM").cast("int"),
        )
        try:
            state = self.spark.read.parquet(path)
        except AnalysisException as e:
            if not _missing_path(e):
                raise
            # first write: an empty prior state, which the optimizer
            # prunes from both queries below (no store scan)
            state = slice_p.drop("op").where(F.lit(False))

        prior_parts = (
            state.select(*keys, "yyyymm")     # column-pruned scan
            .join(F.broadcast(slice_p.select(*keys).distinct()), on=keys, how="left_semi")
            .select("yyyymm")
        )
        affected = sorted(
            r["yyyymm"]
            for r in prior_parts.unionByName(slice_p.select("yyyymm")).distinct().collect()
        )
        base = (
            state.filter(F.col("yyyymm").isin(affected))
            .withColumn("op", F.lit("I"))
            .withColumn("seq", F.lit(-1).cast("bigint"))
        )
        merged = base.unionByName(slice_p, allowMissingColumns=True)
        return self._write(
            apply_mutate(merged, keys, form="argmax"),
            path,
            staging=path + "__staging",
            months=affected,
        )

    @staticmethod
    def _month_col(policy: TablePolicy, df: DataFrame) -> str:
        """The column a table's ``yyyymm`` partition derives from: the
        event time ``ts``, or for a mutate table its policy's
        ``partition_col`` when ``df`` carries it. A frame with neither
        cannot be laid out, so it is refused."""
        cands = ("ts",)
        if policy.apply_mode == "mutate" and policy.partition_col:
            cands = (policy.partition_col, "ts")
        for c in cands:
            if c in df.columns:
                return c
        raise ValueError(
            f"table {policy.name}: none of {list(cands)} in {df.columns}"
            " — the monthly yyyymm layout needs one"
        )

    def _write(
        self,
        df: DataFrame,
        path: str,
        *,
        staging: str | None = None,
        months: list[int] | None = None,
        append: bool = False,
        max_records: int | None = None,
    ) -> int:
        """The runner's one table write; returns its row count. The
        count rides on the write itself (an ``Observation``, not a
        count-then-write second pass over the same rows); under
        ``dry_run`` it is ``df.count()`` and nothing is written.

        Three commits, each deciding its empty outcome here:

        - no ``staging``: a month-partitioned write straight into
          ``path`` (the versioned append, the bootstrap). A table whose
          first write has zero rows does not exist;
        - ``staging`` and ``months``: a month-partitioned write staged
          and swapped in over exactly those ``yyyymm`` partitions
          (``_swap_partitions``: the mutate state, compactions, the
          daily rollup). A table left with no partition holds one
          schema-bearing empty file, so it reads back as zero rows with
          its schema; that flat file is cleared before partitions move
          back in, so it never sits next to ``yyyymm=`` dirs;
        - ``staging`` alone: an unpartitioned write staged, then moved
          in file by file when ``append`` (the rejects: a clean batch
          adds no empty file) or swapped in whole (``_swap_whole``: the
          ledger, which the caller's ``repartition(1)`` keeps at one
          schema-bearing file even at zero rows).
        """
        if self.cfg.dry_run:
            return df.count()
        from pyspark.sql import Observation

        obs = Observation()
        w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "append" if append and staging is None else "overwrite"
        )
        if staging is None or months is not None:
            w = w.partitionBy("yyyymm")
        if max_records:
            w = w.option("maxRecordsPerFile", max_records)
        w.parquet(staging or path)
        n = int(obs.get["n"])

        if staging is None:
            if not n and not self._has_months(path):
                # a zero-row first write left only _SUCCESS, which no
                # reader can infer a schema from
                self.fs.rmtree(path)
        elif months is not None:
            if not self._has_months(path):
                self.fs.rmtree(path)  # an empty table's flat file
                self.fs.makedirs(path)
            self._swap_partitions(staging, path, months)
            if not self._has_months(path):
                # built from the schema, not the frame — the frame may
                # read from this very path; one task writes one file
                self.spark.createDataFrame([], df.schema).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(path)
        elif append:
            if n:
                # part file names carry the write's job UUID, so a plain
                # move into the live dir cannot collide
                self.fs.makedirs(path)
                for fn in self.fs.listdir(staging):
                    if fn.endswith(".parquet"):
                        self.fs.rename(os.path.join(staging, fn), os.path.join(path, fn))
            self.fs.rmtree(staging)
        else:
            self._swap_whole(staging, path)
        return n

    def _has_months(self, path: str) -> bool:
        return self.fs.is_dir(path) and any(
            d.startswith("yyyymm=") for d in self.fs.listdir(path)
        )

    def _swap_partitions(self, staging: str, path: str, months: list[int]) -> None:
        """Swap only the listed ``yyyymm`` partition directories from a
        staging write into the live table (the dynamic-partition-
        overwrite analog). A listed partition absent from staging
        (every row deleted / deduped away) is removed from the live
        table.

        JOURNALED commit: a ``_SWAP_COMMIT`` manifest (which staged
        months to promote, which live months to delete) lands in the
        staging dir BEFORE any live mutation — that write is the commit
        point. The promote loop is idempotent (a month whose staged dir
        is gone was already promoted), so an interruption anywhere
        mid-swap is rolled FORWARD by ``_recover_staging`` at the next
        job entry: no crash window can lose a partition — the worst
        case is a transiently stale reader. Individual renames are
        atomic on POSIX/HDFS and copy+delete on S3-like stores (the
        ``fs.py`` seam documents this; a table format on top buys
        atomic multi-partition visibility)."""
        import json

        promote = [
            m for m in months
            if self.fs.exists(os.path.join(staging, f"yyyymm={m}"))
        ]
        delete = [m for m in months if m not in promote]
        # atomic: the marker's EXISTENCE is the commit point, so it must
        # appear fully-written or not at all — an in-place write could
        # leave a torn marker that recovery reads as committed garbage
        self.fs.write_text_atomic(
            os.path.join(staging, SWAP_COMMIT_MARKER),
            json.dumps({"promote": promote, "delete": delete}),
        )
        self._complete_swap(staging, path)

    def _complete_swap(self, staging: str, path: str) -> None:
        """Execute (or re-execute) a committed swap from its manifest.
        Idempotent: promoted months skip (their staged dir is gone),
        delete months re-delete harmlessly."""
        import json

        manifest = json.loads(
            self.fs.read_text(os.path.join(staging, SWAP_COMMIT_MARKER))
        )
        if manifest.get("whole"):
            self._complete_whole_swap(staging, path)
            return
        for m in manifest["delete"]:
            dst = os.path.join(path, f"yyyymm={m}")
            if self.fs.exists(dst):
                self.fs.rmtree(dst)
        for m in manifest["promote"]:
            src = os.path.join(staging, f"yyyymm={m}")
            dst = os.path.join(path, f"yyyymm={m}")
            if self.fs.exists(src):
                if self.fs.exists(dst):
                    self.fs.rmtree(dst)
                self.fs.rename(src, dst)
            # src absent => this month was already promoted pre-crash
        self.fs.rmtree(staging)

    def _swap_whole(self, staging: str, path: str) -> None:
        """Whole-directory replace (the ledger compaction), same
        journaled roll-forward contract as ``_swap_partitions``."""
        self.fs.write_text_atomic(
            os.path.join(staging, SWAP_COMMIT_MARKER), '{"whole": true}'
        )
        self._complete_whole_swap(staging, path)

    def _complete_whole_swap(self, staging: str, path: str) -> None:
        if self.fs.exists(staging):
            if self.fs.exists(path):
                self.fs.rmtree(path)
            self.fs.rename(staging, path)
        # the marker traveled inside the renamed dir; spark ignores
        # underscore-prefixed files, but remove it for cleanliness
        marker = os.path.join(path, SWAP_COMMIT_MARKER)
        if self.fs.exists(marker):
            self.fs.rmtree(marker)

    def _recover_staging(self, staging: str, path: str) -> bool:
        """Crash recovery, called at every swap-job entry BEFORE reading
        live state: a staging dir carrying a ``_SWAP_COMMIT`` manifest
        is a committed-but-interrupted swap — roll it forward so the
        recompute sees the converged table. Staging debris WITHOUT a
        marker died before its commit point and is left for the next
        staging write to overwrite.

        An UNPARSABLE marker is pre-commit debris too: the atomic
        marker write can't tear on POSIX/HDFS, but a non-atomic writer
        (older build, exotic store) could — treating it as committed
        would raise at every subsequent job entry and block all runs
        until manual cleanup. Remove the torn marker; the data renames
        had not started (they only run after a successful marker write),
        so the live table is untouched and the staging dir is ordinary
        debris.

        Returns True only for a TRUE roll-forward (a committed swap was
        completed) — debris cleanup (torn marker, stale live-path
        marker) returns False so ``recover_all``'s count stays an
        honest "interrupted swaps converged" metric."""
        import json

        rolled = False
        marker = os.path.join(staging, SWAP_COMMIT_MARKER)
        if self.fs.exists(marker):
            try:
                json.loads(self.fs.read_text(marker))
            except ValueError:
                self.fs.rmtree(marker)
            else:
                self._complete_swap(staging, path)
                rolled = True
        # whole-dir swaps can also die between rename and marker removal
        marker = os.path.join(path, SWAP_COMMIT_MARKER)
        if self.fs.exists(marker):
            self.fs.rmtree(marker)
        return rolled

    #: every staging-dir suffix any swap job uses — recover_all scans for
    #: these; a new swap kind MUST register its suffix here
    STAGING_SUFFIXES = ("__filecompact", "__compact", "__staging")

    def recover_all(self) -> int:
        """Roll forward EVERY committed-but-interrupted swap under the
        target dir, not just the ledger's: a crash inside
        ``compact_table`` (``__compact``), ``compact_small_files``
        (``__filecompact``), or the daily agg (``__daily__staging``)
        leaves live partitions deleted-but-not-promoted for ALL readers
        until that same maintenance job happens to re-run — so every
        ``run_once`` entry converges them first. Returns the number of
        swaps truly rolled forward (debris cleanup — torn markers,
        stale live-path markers — is performed but not counted).

        A whole-dir swap that crashed BETWEEN ``rename(staging, path)``
        and marker removal leaves NO staging dir and a stale
        ``_SWAP_COMMIT`` inside the live path — so besides staging
        dirs, every non-staging child (and the ledger path) is checked
        for a leftover live-path marker and cleaned, mirroring
        ``_recover_staging``'s second half.

        Cost: control-plane listings only — one listdir of the target
        dir, one of ``tables/``, one per direct child (a namespace's
        tables or a table's partition dirs) plus one exists() per
        child. No data is read; at 100 TB this is a few metadata RPCs
        per run."""
        roots = [self.cfg.target_dir]
        tables_root = os.path.join(self.cfg.target_dir, "tables")
        if self.fs.is_dir(tables_root):
            roots.append(tables_root)
            for d in self.fs.listdir(tables_root):
                p = os.path.join(tables_root, d)
                # namespace level (P11) — its children are tables whose
                # staging dirs live beside them
                if self.fs.is_dir(p) and not d.endswith(self.STAGING_SUFFIXES):
                    roots.append(p)
        recovered = 0
        for root in roots:
            if not self.fs.is_dir(root):
                continue  # first run: nothing written yet
            for d in self.fs.listdir(root):
                child = os.path.join(root, d)
                for suf in self.STAGING_SUFFIXES:
                    if d.endswith(suf):
                        base = os.path.join(root, d[: -len(suf)])
                        if self.fs.exists(
                            os.path.join(child, SWAP_COMMIT_MARKER)
                        ) and self._recover_staging(child, base):
                            recovered += 1
                        break  # longest-suffix match only
                else:
                    # non-staging child: a whole-dir swap that died
                    # post-rename leaves its marker in the LIVE path
                    stale = os.path.join(child, SWAP_COMMIT_MARKER)
                    if self.fs.is_dir(child) and self.fs.exists(stale):
                        self.fs.rmtree(stale)
        ledger_stale = os.path.join(self.ledger_path, SWAP_COMMIT_MARKER)
        if self.fs.exists(ledger_stale):
            self.fs.rmtree(ledger_stale)
        return recovered

    def _write_ledger(self, batch: DataFrame) -> None:
        """S5 — one ledger row per (table, file) slice; dateid := the
        slice's max seq (structurally monotonic, see with_dateid)."""
        entries = (
            batch.groupBy("table_name", "file_seq")
            .agg(
                F.max("seq").alias("dateid"),
                F.max("ts").alias("log_time"),
                F.min("seq").alias("log_pos_start"),
                F.max("seq").alias("log_pos_end"),
                F.concat_ws(",", F.sort_array(F.collect_set("op"))).alias("sql_type"),
            )
            .select(
                "dateid",
                F.col("log_time").alias("created_at"),
                "table_name",
                "sql_type",
                "log_time",
                F.col("file_seq").alias("log_file"),
                "log_pos_start",
                "log_pos_end",
            )
        )
        if not self.cfg.dry_run:
            entries.coalesce(1).write.mode("append").parquet(self.ledger_path)

    # --- a full cron session: loop under a wall-clock budget, then
    # --- end-of-run maintenance (entry points A + C) -----------------------
    def run_session(
        self,
        changelog: DataFrame,
        max_minutes: float = 50.0,
        grace_minutes: float = 3.0,
        compact_months: list[int] | None = None,
        compact_tables: dict[str, list[str]] | None = None,
    ) -> list[RunReport]:
        """One cron invocation of the reference end-to-end: repeated
        micro-batches under a wall-clock budget, then gated maintenance.

        - B4 time cap: the reference stops its event loop after
          ``replication_max_minutes`` minus a 3-minute grace
          (matomo2clickhouse.py:187-193,688-722; _settings.py:82-84).
          Here each ``run_once`` is one bounded micro-batch; the loop
          stops at EOF (a run that applies/quarantines nothing) or when
          the next batch would start past the deadline.
        - Entry point C: end-of-run dedup compaction runs ONLY when
          ``max_minutes > 10`` (matomo2clickhouse.py:756; README.md:327)
          — short/test runs skip maintenance, exactly like the reference.
          ``compact_tables`` maps table -> key cols (defaults to every
          insert_as_update table's policy keys); ``compact_months`` is
          the O12 window (reference: 14->0 days ≈ current month).
        """
        import time as _time

        # the upkeep report belongs to THIS session: a run whose budget
        # gates the maintenance block off must not carry a previous
        # session's reports to library callers of a reused runner
        self.last_store_maintenance = []
        deadline = _time.monotonic() + 60.0 * max(0.0, max_minutes - grace_minutes)
        reports: list[RunReport] = []
        while True:
            # at least ONE micro-batch per session, even when the grace
            # swallows the whole wall budget (the reference's loop also
            # tests the clock only BETWEEN batches) — a cron session
            # must never no-op silently because of a short budget
            r = self.run_once(changelog)
            reports.append(r)
            # EOF = the resume point didn't advance, read off the report
            # (start_seq comes from the ledger inside run_once; end_seq
            # is the consumed cutoff) — NOT from extra ledger scans per
            # iteration: the ledger grows a file per run, so bracketing
            # each batch with two more read+agg+collect passes makes an
            # N-batch session pay ~3N increasingly expensive reads.
            # (Not "applied == 0": unfixed poison rows are re-quarantined
            # EVERY run, like the reference's poison statements — they
            # must not keep the session spinning until the deadline.)
            # Dry runs never advance the ledger, so one probe batch is
            # the whole session.
            if r.dry_run or r.end_seq == r.start_seq:
                break
            if _time.monotonic() >= deadline:
                break
        if max_minutes > 10 and compact_months:
            targets = compact_tables or {
                name: None
                for name, pol in REGISTRY.items()
                if pol.apply_mode == "insert_as_update"
                and self.fs.exists(self.table_path(name))
            }
            for tbl, keys in targets.items():
                self.compact_table(tbl, compact_months, keys=keys)
                # keep the daily MV fresh for the same window: compaction
                # just rewrote exactly these partitions, so the rollup's
                # version counts change in exactly these months too
                self.refresh_daily_aggregate(tbl, compact_months)
        if max_minutes > 10 and self.cfg.store_maintenance:
            # maintained-store upkeep rides the SAME entry-point-C gate
            # as table compaction (short/test runs skip both); the
            # report is kept on the runner for the CLI to surface
            self.last_store_maintenance = self.maintain_stores(
                self.cfg.store_maintenance
            )
        return reports

    # --- maintenance: maintained-store upkeep (entry point C) --------------
    #: store kind -> (opener, stats key carrying the file census)
    STORE_CENSUS_KEYS = {
        "minhash": "band_files",
        "simhash": "block_files",
        "substring": "firsts_files",
        "bm25": "postings_files",
        "ivf": "lists_files",
        "cluster": "comp_files",
        "manifest": "part_files",
    }

    def _open_store(self, kind: str, path: str, args: dict):
        if kind == "minhash":
            from ..operators.neardup_index import MinHashIndex

            return MinHashIndex(self.spark, path, **args)
        if kind == "simhash":
            from ..operators.simhash_index import SimHashIndex

            return SimHashIndex(self.spark, path, **args)
        if kind == "substring":
            from ..operators.substring_index import SubstringIndex

            # k=None adopts the gram width from the store meta — the
            # path-only reopen shape; setdefault so a spec that pins an
            # explicit k via args wins instead of raising duplicate-kwarg
            args = dict(args)
            args.setdefault("k", None)
            return SubstringIndex(self.spark, path, **args)
        if kind == "bm25":
            from ..operators.bm25_index import BM25Index

            return BM25Index(self.spark, path, **args)
        if kind == "ivf":
            from ..operators.ann_index import IVFIndex

            # geometry adopts from the store manifest
            return IVFIndex(self.spark, path, **args)
        if kind == "cluster":
            from ..operators.cluster_index import ClusterIndex

            return ClusterIndex(self.spark, path, **args)
        if kind == "manifest":
            from ..operators.manifest import CorpusManifest

            return CorpusManifest(self.spark, path, **args)
        raise ValueError(f"unknown maintained-store kind: {kind!r}")

    def maintain_stores(self, specs) -> list[dict]:
        """Scheduled upkeep for the engine's maintained stores (MinHash
        / SimHash / substring / BM25 / IVF / cluster / manifest) — the
        reference runs its dedup and
        retention maintenance at end-of-run from the SAME entry point
        as replication (matomo2clickhouse.py:756-766, entry point C);
        the incremental stores deserve the same scheduled, budget-gated
        path instead of being CLI-manual only.

        Each spec: ``{"kind": one of STORE_CENSUS_KEYS, "path": store
        root, "max_files": census threshold (default 64), "args":
        extra constructor kwargs for non-default store geometry}``.
        Per store: converge any interrupted commit (``recover`` — runs
        inside ``stats()``), read the file census from ``stats()``,
        and when the census exceeds the threshold run the journaled
        per-unit defrag (``MaintainedStore.compact_buckets`` — O(hot
        buckets or IVF lists), untouched units' files kept by identity;
        ``CorpusManifest.compact`` for the manifest store),
        triggered by measured small-files decay, not every session.
        Tombstones: a spec may OPT IN with ``max_tombstones`` — when
        the pending set exceeds it and the store has the r12
        ``compact_tombstones`` unit (O(dirty buckets), not O(store)),
        upkeep applies deletes physically too; without the key the old
        contract holds (tombstone application stays the explicit
        ``compact``/``compact_tombstones`` call). Single-writer
        discipline applies: the caller must not schedule this
        concurrently with the store's ingest job (the reference's
        single-instance rule, B5)."""
        from ..operators.maintained import MaintainedStore

        out: list[dict] = []
        for spec in specs:
            kind, path = spec["kind"], spec["path"]
            census_key = self.STORE_CENSUS_KEYS[kind]
            max_files = int(spec.get("max_files", 64))
            rep = {
                "kind": kind,
                "path": path,
                "threshold": max_files,
                "compacted": False,
            }
            # a broken spec (wrong path, geometry mismatch, store not
            # yet built) must not crash the session AFTER replication
            # committed — the reports the operator is owed would be
            # lost. Upkeep errors are per-store, reported, isolated.
            try:
                idx = self._open_store(kind, path, dict(spec.get("args", ())))
                st = idx.stats()  # converges interrupted commits first
                rep["census"] = st[census_key]
                if st[census_key] > max_files:
                    # per-unit defrag on every maintained store; the
                    # manifest store's whole-store compact() is its
                    # O(batches)-tiny defrag unit AND carries no
                    # tombstones, so the never-apply-tombstones rule
                    # holds vacuously there
                    if isinstance(idx, MaintainedStore):
                        idx.compact_buckets()
                    else:
                        idx.compact()
                    rep["compacted"] = True
                    rep["census_after"] = idx.stats()[census_key]
                max_tombs = spec.get("max_tombstones")
                if (
                    max_tombs is not None
                    and hasattr(idx, "compact_tombstones")
                    and st.get("n_tombstoned", 0) > int(max_tombs)
                ):
                    rep["tombstones_applied"] = idx.compact_tombstones()
            except Exception as e:  # noqa: BLE001 — per-store isolation
                rep["error"] = str(e)
            out.append(rep)
        return out

    # --- initial load: snapshot bootstrap ----------------------------------
    def bootstrap_from_snapshot(
        self, tbl: str, snapshot: DataFrame, as_of_seq: int
    ) -> dict:
        """Initial-load bootstrap — the reference's install procedure:
        create the target tables from a source snapshot, then start
        replication from the snapshot's binlog position (README.md's
        deploy steps; the ledger row at matomo2clickhouse.py:893-899 is
        what makes the first run resume instead of replaying history).

        ``snapshot`` is the source table's full-row image at changelog
        position ``as_of_seq`` (one row per live key). It lands in the
        one layout replication writes, monthly ``yyyymm`` partitions:

        - versioned tables (``append`` / ``insert_as_update``): each
          snapshot row becomes the key's initial version, its month
          taken from ``ts``; ``dateid`` keeps the row's own ``seq`` when
          the snapshot carries one (so later replays order correctly
          against it), else pins to ``as_of_seq``;
        - ``mutate`` tables: the snapshot IS the initial state, its
          month taken from the policy's ``partition_col``, else ``ts``.

        A snapshot without its month column is refused with a
        ``ValueError`` before anything is written: replication could
        not fold into a table laid out any other way. A snapshot with
        zero rows creates no table (see ``_write``).

        A ``BOOTSTRAP`` ledger row at ``as_of_seq`` seeds the resume
        point, so the next ``run_once`` consumes only events with
        ``seq > as_of_seq`` — bootstrap + incremental replay is
        serial-equivalent to a full-history replay (pinned in
        ``test_bootstrap_plus_replay_equals_full_replay``).

        Scale: the snapshot write is a pure partitioned append of an
        already-deduplicated frame — no shuffle beyond the write split,
        no read of existing data; this is how the 100 TB initial load
        avoids replaying months of changelog.
        """
        policy = REGISTRY.get(tbl, DEFAULT_POLICY)
        month = self._month_col(policy, snapshot)  # refuse before any write
        snap = snapshot
        if "seq" not in snap.columns:
            snap = snap.withColumn("seq", F.lit(as_of_seq).cast("bigint"))

        if policy.apply_mode == "mutate":
            out = snap.withColumn("yyyymm", F.date_format(month, "yyyyMM").cast("int"))
        else:
            out = snap.withColumn("dateid", F.col("seq").cast("bigint"))
            out = out.withColumn("yyyymm", F.date_format(month, "yyyyMM"))
        # UNLIKE the per-batch append (budget-bounded, so a fixed
        # coalesce is safe), the initial snapshot is unbounded — a
        # coalesce here would funnel a 100 TB load through
        # WRITE_PARTITIONS tasks. Keep the snapshot's own parallelism
        # and bound file sizes from above.
        n = self._write(out, self.table_path(tbl), max_records=500_000)

        if not self.cfg.dry_run:
            seed = self.spark.createDataFrame(
                [], LEDGER_SCHEMA
            ).unionByName(
                snap.agg(F.max(F.col(month).cast("timestamp")).alias("log_time")).select(
                    F.lit(as_of_seq).cast("bigint").alias("dateid"),
                    F.col("log_time").alias("created_at"),
                    F.lit(tbl).alias("table_name"),
                    F.lit("BOOTSTRAP").alias("sql_type"),
                    "log_time",
                    F.lit(-1).cast("bigint").alias("log_file"),
                    F.lit(as_of_seq).cast("bigint").alias("log_pos_start"),
                    F.lit(as_of_seq).cast("bigint").alias("log_pos_end"),
                )
            )
            seed.coalesce(1).write.mode("append").parquet(self.ledger_path)
        return {"table": tbl, "rows": n, "as_of_seq": as_of_seq}

    # --- maintenance: binlog purge execution (Q6) --------------------------
    def purge_changelog(self, changelog_dir: str, keep_days: int = 180) -> dict:
        """Q6 EXECUTED — physically remove consumed changelog files, the
        engine analog of the reference's ``PURGE BINARY LOGS TO ...``
        (matomo2clickhouse.py:382-398): a changelog file may be dropped
        only when it is wholly older than the retention horizon AND the
        ledger shows replication progressed past the horizon — never
        purge what isn't applied (``purge_eligible_files`` is the
        guard, ``cdc_binlog_purge`` its oracle-checked twin).

        Physical mapping is layout-agnostic and CONSERVATIVE: rows map
        to their parquet files via ``input_file_name()``, and a file is
        deleted only if EVERY row in it carries an eligible file_seq —
        a ``partitionBy(file_seq)`` ingest layout purges exactly; a
        mixed layout keeps straddling files (reported, never split).
        Both collects are bounded by the physical file count
        (control-plane, not data). Dry-run reports without deleting.
        """
        from urllib.parse import unquote, urlparse

        from ..fs import fs_for
        from ..operators.retention import purge_eligible_files

        cl = self.spark.read.parquet(changelog_dir)
        eligible = purge_eligible_files(cl, self.read_ledger(), keep_days=keep_days)
        elig = sorted(r["file_seq"] for r in eligible.collect())
        stats = {
            "eligible_file_seqs": elig,
            "files_removed": 0,
            "files_kept_mixed": 0,
            "dry_run": self.cfg.dry_run,
        }
        if not elig:
            return stats
        per_file = (
            cl.select(F.input_file_name().alias("path"), "file_seq")
            .groupBy("path")
            .agg(
                F.min(F.col("file_seq").isin(elig).cast("int")).alias("all_elig"),
                F.max(F.col("file_seq").isin(elig).cast("int")).alias("any_elig"),
            )
            .collect()
        )
        fs = fs_for(self.spark, changelog_dir)
        for r in per_file:
            if not r["any_elig"]:
                continue
            if not r["all_elig"]:
                stats["files_kept_mixed"] += 1
                continue
            path = r["path"]
            if path.startswith("file:"):
                path = unquote(urlparse(path).path)
            if not self.cfg.dry_run:
                fs.rmtree(path)
                # local-FS checksum sibling (.part-*.crc) goes with it
                d, base = os.path.split(path)
                crc = os.path.join(d, f".{base}.crc")
                if fs.exists(crc):
                    fs.rmtree(crc)
                # a fully-drained file_seq= partition dir is removed
                # outright (the partitioned-ingest layout's clean purge)
                if os.path.basename(d).startswith("file_seq=") and not any(
                    f.endswith(".parquet") for f in fs.listdir(d)
                ):
                    fs.rmtree(d)
            stats["files_removed"] += 1
        return stats

    # --- maintenance: ledger compaction (S5 upkeep) -------------------------
    def compact_ledger(self, keep_created_after=None) -> dict:
        """Every run appends one parquet file to the ledger
        (``_write_ledger``), so a long-lived cron deployment accumulates
        thousands of small files on the resume path's read. Rewrite the
        ledger to ONE file — optionally pruning rows older than
        ``keep_created_after`` first (Q12, README.md:131-134) — via the
        journaled whole-dir swap. ``resume_seq`` is invariant: pruning
        keeps recent rows, and the argmax-dateid row is by definition
        the newest."""
        self._recover_staging(self.ledger_path + "__staging", self.ledger_path)
        led = self.read_ledger()
        if keep_created_after is not None:
            from ..operators.retention import ledger_prune

            led = ledger_prune(led, keep_created_after)
        # one partition: one schema-bearing file, even at zero rows
        n = self._write(
            led.repartition(1), self.ledger_path, staging=self.ledger_path + "__staging"
        )
        stats = {"rows": n, "dry_run": self.cfg.dry_run}
        if not self.cfg.dry_run:
            stats["files_after"] = len(
                [f for f in self.fs.listdir(self.ledger_path) if f.endswith(".parquet")]
            )
        return stats

    # --- maintenance: small-file compaction (O9) ---------------------------
    def compact_small_files(
        self,
        tbl: str,
        months: list[int],
        target_rows_per_file: int = 500_000,
    ) -> dict:
        """Bin-pack each listed ``yyyymm`` partition's accumulated small
        part files into few right-sized, sort-clustered files WITHOUT
        changing a single row — the OPTIMIZE/file-compaction analog of
        the reference's "too many parts" guidance (README.md:189-194:
        every micro-batch append is one more part; ClickHouse merges
        them in the background, parquet needs an explicit job).

        The read is partition-pruned to ``months``; rows are
        range-repartitioned on (yyyymm, order key) — contiguous files,
        cluster-wide parallelism even when one month dominates — and
        sorted within partitions (the ORDER BY clustering analog, O11,
        which also tightens parquet min/max stats for later pruning).
        The rewritten partition dirs swap in via the same staging
        pattern as ``compact_table``; out-of-window partitions are
        untouched BYTES.

        Returns ``{"partitions", "rows", "files_before", "files_after"}``.
        """
        path = self.table_path(tbl)
        self._recover_staging(path + "__filecompact", path)
        policy = REGISTRY.get(tbl, DEFAULT_POLICY)

        def _count_files() -> int:
            return sum(
                len(
                    [
                        f
                        for f in self.fs.listdir(os.path.join(path, d))
                        if f.endswith(".parquet")
                    ]
                )
                for d in self.fs.listdir(path)
                if d.startswith("yyyymm=")
                and int(d.split("=", 1)[1]) in months
            )

        files_before = _count_files()
        in_win = self.spark.read.parquet(path).filter(F.col("yyyymm").isin(months))
        n = in_win.count()
        stats = {"partitions": sorted(months), "rows": n}
        stats["files_before"] = files_before
        if self.cfg.dry_run or n == 0:
            stats["files_after"] = files_before
            return stats
        order_cols = [c for c in policy.order_cols if c in in_win.columns] or [
            c for c in ("seq", "dateid") if c in in_win.columns
        ]
        nfiles = max(1, math.ceil(n / target_rows_per_file))
        staged = (
            in_win.repartitionByRange(nfiles, "yyyymm", *order_cols)
            .sortWithinPartitions("yyyymm", *order_cols)
        )
        self._write(
            staged,
            path,
            staging=path + "__filecompact",
            months=months,
            max_records=target_rows_per_file,
        )
        stats["files_after"] = _count_files()
        return stats

    # --- maintenance: incremental materialized aggregate -------------------
    def refresh_daily_aggregate(
        self, tbl: str, months: list[int], value_col: str = "value"
    ) -> dict:
        """Incremental materialized-view maintenance — the engine-side
        analog of the target DB's aggregate views over ReplacingMergeTree
        (the reference's `view_matomo_*` latest-row views feed exactly
        such rollups; script_create_clickhouse_table.sql:402-563).

        Maintains a per-day (n_rows, sum_value) rollup of ``tbl``'s
        stored rows, partitioned by ``yyyymm`` beside the table. Only
        the given months are recomputed: the source read is
        partition-pruned and the refreshed partitions swap in via the
        same staging pattern as ``compact_table``; out-of-scope months
        are untouched BYTES. A post-batch refresh therefore costs
        O(changed months), not O(table).

        Semantics by apply mode — this is what makes the per-month
        refresh EXACT, not approximate:
        - versioned (``insert_as_update``) tables roll up VERSION
          volume (the Q8 daily-change profile): the store is
          append-only, so a month's rollup is immutable once written —
          a later month's version never retroactively changes it. A
          latest-row rollup would NOT be month-decomposable (an April
          update supersedes a key's March row, silently invalidating
          March), so latest-state rollups belong on…
        - mutate-mode tables, whose stored state IS the latest state:
          there the per-month rollup of stored rows is the latest-row
          MV, and the affected-partition discovery in
          ``_apply_mutate_table`` already names the months to refresh.

        Returns ``{"partitions", "rows"}`` (rows = aggregate rows
        written across the refreshed months).
        """
        path = self.table_path(tbl)
        agg_path = path + "__daily"
        self._recover_staging(agg_path + "__staging", agg_path)
        cur = self.spark.read.parquet(path).filter(F.col("yyyymm").isin(months))
        agg = cur.groupBy("yyyymm", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(value_col).alias("sum_value"),
        )
        n = self._write(agg, agg_path, staging=agg_path + "__staging", months=months)
        return {"partitions": sorted(months), "rows": n}

    # --- maintenance: partition-scoped dedup compaction (Q3/O12) -----------
    def compact_table(
        self,
        tbl: str,
        months: list[int],
        keys: list[str] | None = None,
        version_col: str = "dateid",
    ) -> dict:
        """End-of-run dedup compaction, the write side of O12: inside the
        given ``yyyymm`` partitions keep only the latest version per key;
        every other partition is untouched BYTES — neither read nor
        rewritten.

        The reference runs this hourly as ``ALTER TABLE ... DELETE WHERE
        <date window> AND dateid IN (<superseded subquery>)`` with the
        window bounded to 14→0 days precisely so the mutation never scans
        the whole table (_settings.py:230-287,258,286; gate
        matomo2clickhouse.py:756-766). Here the window is the partition
        list: the read is partition-pruned (``yyyymm IN (...)`` lands in
        PartitionFilters, so out-of-window files are never opened), the
        deduped result is staged, and only the affected partition
        directories are swapped in (``_swap_partitions`` documents the
        per-store commit semantics), same commit pattern as the mutate
        path. ``months`` are ints because parquet partition-type
        inference reads ``yyyymm=202403`` back as an integer column.

        Returns ``{"partitions", "rows_before", "rows_removed"}``.
        """
        policy = REGISTRY.get(tbl, DEFAULT_POLICY)
        if policy.apply_mode == "mutate":
            # mutate tables hold latest-state only — nothing to compact
            return {"partitions": [], "rows_before": 0, "rows_removed": 0}
        path = self.table_path(tbl)
        self._recover_staging(path + "__compact", path)
        in_win = self.spark.read.parquet(path).filter(F.col("yyyymm").isin(months))
        # explicit override wins; otherwise resolve the policy's
        # (matomo-shaped) key names against the stored frame exactly like
        # the apply path does — generic-contract stores carry ``key``
        deduped = dedup_in_window(
            in_win, keys or self._resolve_cols(policy, in_win), version_col=version_col
        )
        # metadata-only count: parquet answers count(*) from row-group
        # stats, no data read
        n_before = in_win.count()
        # write the compacted window right-sized and sort-clustered: the
        # dedup fold's shuffle would otherwise fan every month into
        # shuffle-partition-many small files — the exact debris
        # compact_small_files exists to clean up. Same layout policy as
        # that job: range partitioning on (yyyymm, order key) keeps
        # files contiguous and parquet min/max stats tight (O11).
        # File sizing uses n_before (an upper bound on the surviving
        # rows) and the exact survivor count rides on the write itself —
        # a pre-count of ``deduped`` would execute the whole dedup fold
        # TWICE per maintenance run.
        order_cols = [c for c in policy.order_cols if c in deduped.columns] or [
            c for c in ("seq", version_col) if c in deduped.columns
        ]
        nfiles = max(1, math.ceil(n_before / 500_000))
        # persist the fold: repartitionByRange SAMPLES its child to pick
        # range bounds, which would otherwise execute the whole dedup
        # window a second time before the real write pass
        deduped = deduped.persist()
        try:
            staged = deduped.repartitionByRange(
                nfiles, "yyyymm", *order_cols
            ).sortWithinPartitions("yyyymm", *order_cols)
            n_after = self._write(
                staged,
                path,
                staging=path + "__compact",
                months=months,
                max_records=500_000,
            )
        finally:
            deduped.unpersist()
        return {
            "partitions": sorted(months),
            "rows_before": n_before,
            "rows_removed": n_before - n_after,
        }

    def backfill_dedup(
        self,
        tbl: str,
        months: list[int],
        window: int = 3,
        overlap: int = 1,
        keys: list[str] | None = None,
        version_col: str = "dateid",
    ) -> dict:
        """Overlap-and-slide dedup BACKFILL over a month backlog — the
        reference's manual procedure for clearing a deep duplicate
        history without one giant memory-bound mutation
        (doc_old_duplicates.md:100-106: "периоды должны перекрываться"
        — clean 100-50 days, then 60-10, then 20-0; audit the residual;
        shift the windows and repeat if duplicates remain).

        Why overlapping windows: ``compact_table`` dedups WITHIN its
        month window (that bound is the whole point — it caps the
        per-pass working set, the reference's 17.6 GiB mutation-OOM
        lesson), so a key whose versions straddle a window boundary
        keeps one "latest" per disjoint slice.  Overlap lets the next
        window see the previous window's boundary survivor and
        supersede it.  Passes run OLDEST→NEWEST like the reference.

        A sliding sweep still cannot join versions separated by a gap
        wider than the window, so the procedure ends the way the
        reference's does — with an AUDIT ("проверить сколько осталось
        дублей").  Where the reference re-slides blindly, the engine
        can do better: the audit names the residual keys, and ONE
        targeted pass compacts exactly the months holding their
        versions.  After that the residual is structurally 0 (that
        pass sees every surviving version of every residual key), and
        the returned stats prove it.

        Each pass is the partition-scoped, crash-safe ``compact_table``
        (journaled swap; a crash mid-sweep re-runs idempotently).
        Returns ``{"passes": [...], "residual_after_sweep",
        "retry_months", "residual_final", "rows_removed"}``.
        """
        months = sorted(months)
        path = self.table_path(tbl)
        policy = REGISTRY.get(tbl, DEFAULT_POLICY)
        passes: list[dict] = []
        removed = 0
        step = max(1, window - overlap)
        i = 0
        while i < len(months):
            win = months[i : i + window]
            st = self.compact_table(tbl, win, keys=keys, version_col=version_col)
            passes.append({"months": win, "rows_removed": st["rows_removed"]})
            removed += st["rows_removed"]
            if i + window >= len(months):
                break
            i += step

        def residual():
            stored = self.spark.read.parquet(path).filter(
                F.col("yyyymm").isin(months)
            )
            kcols = keys or self._resolve_cols(policy, stored)
            dup_keys = (
                stored.groupBy(*kcols)
                .agg(F.count(F.lit(1)).alias("n"), F.collect_set("yyyymm").alias("mm"))
                .filter(F.col("n") > 1)
            )
            rows = dup_keys.agg(
                F.count(F.lit(1)).alias("k"),
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("mm")))).alias(
                    "months"
                ),
            ).collect()[0]
            return rows["k"], [int(m) for m in (rows["months"] or [])]

        n_dup, dup_months = residual()
        stats = {
            "passes": passes,
            "residual_after_sweep": n_dup,
            "retry_months": dup_months if n_dup else [],
        }
        if n_dup:
            st = self.compact_table(tbl, dup_months, keys=keys, version_col=version_col)
            removed += st["rows_removed"]
            n_final, _ = residual()
            stats["residual_final"] = n_final
        else:
            stats["residual_final"] = 0
        stats["rows_removed"] = removed
        return stats

    def verify_replication(self, changelog: DataFrame) -> list[dict]:
        """Source-vs-target integrity check — the reference's
        cross-DB verification use case (README.md:259-278: MySQL
        mounted into ClickHouse "для проверки целостности данных").

        For every table routed by the given changelog: fold the
        changelog to the EXPECTED state per the table's policy
        (insert_as_update → argmax over I/U versions; mutate → merge
        fold, deletes terminal), read the STORED table through the
        same read model, and compare per-table row counts plus two
        order-insensitive row digests (``operators/checksum.py``).
        pt-table-checksum shape: each side folds map-side to ONE row,
        so at 100 TB no table data crosses the network for the check —
        the only collect is the per-table verdict list.

        Digest canonicalization is schema-driven over the COMMON
        columns of the two read models (timestamps formatted to
        seconds, floating payloads floored at cent precision, the rest
        cast to string), so the check works for any policy table, not
        just the fixture schema.  Returns one dict per table;
        ``digest_match`` False flags a divergent table for the bounded
        ``operators.checksum.row_diff`` drill-down.

        The expected fold replays the RAW changelog: rows the runner
        deliberately did not apply (F6-rejected old deletes, poison
        quarantine) therefore surface as divergence — that is the
        point of an integrity check; the operator reconciles flagged
        tables against the rejects table and the run reports.

        SINGLE-PASS at any catalog size: tables are grouped driver-side
        by (policy class, key set, digest columns) — a handful of
        groups regardless of table count — and each group gets ONE
        changelog-wide expected fold grouped by ``table_name`` (the
        shape ``cdc_consistency_check`` proves) plus ONE union-fold of
        its stored tables.  All groups' tiny checksum frames union into
        a single compare whose one collect returns every verdict: the
        Spark job count is constant in the number of tables (pinned in
        ``test_runner.py``), never hundreds of sequential per-table
        jobs over the same changelog.  A missing target table reports
        ``n_src`` as its FOLDED expected-state row count — the same
        meaning the field has on matched rows — not the raw changelog
        event count.
        """
        from functools import reduce as _reduce

        from ..operators.checksum import checksum_compare, row_digest, table_checksums

        tables = [
            r["table_name"]
            for r in changelog.select("table_name").distinct().orderBy("table_name").collect()
        ]
        if not tables:
            return []
        exclude = {"op", "yyyymm", "file_seq", "schema_name", "table_name"}
        # driver-side grouping — pure metadata (policy registry + parquet
        # footer schemas), no jobs
        groups: dict[tuple, list[str]] = {}
        stored_map: dict[str, DataFrame] = {}
        missing: set[str] = set()
        for tbl in tables:
            policy = REGISTRY.get(tbl, DEFAULT_POLICY)
            keys = tuple(self._resolve_cols(policy, changelog))
            mode = (
                "versioned"
                if policy.apply_mode in ("append", "insert_as_update")
                else "mutate"
            )
            exp_cols = self._expected_fold(
                changelog.limit(0), list(keys), mode
            ).columns  # schema probe only — never executed
            stored = self._read_stored(tbl)
            if stored is None:
                missing.add(tbl)
                cols = tuple(sorted(set(exp_cols) - exclude))
            else:
                stored_map[tbl] = stored
                cols = tuple(
                    sorted((set(exp_cols) & set(stored.columns)) - exclude)
                )
            groups.setdefault((mode, keys, cols), []).append(tbl)

        exp_parts: list[DataFrame] = []
        act_parts: list[DataFrame] = []
        for (mode, keys, cols), grp in groups.items():
            tslice = changelog.filter(F.col("table_name").isin(grp))
            expected = self._expected_fold(tslice, list(keys), mode)
            exp_parts.append(
                expected.select(
                    "table_name",
                    row_digest(_canon_cols(expected, list(cols))).alias("__d"),
                )
            )
            live = [t for t in grp if t not in missing]
            if not live:
                continue
            acols = sorted(
                (set(cols) | set(keys) | ({"dateid"} if mode == "versioned" else set()))
                - {"table_name"}
            )
            stored_u = _reduce(
                DataFrame.unionByName,
                [
                    stored_map[t].select(F.lit(t).alias("table_name"), *acols)
                    for t in live
                ],
            )
            if mode == "versioned":
                actual = latest_by_key(
                    stored_u, list(keys) + ["table_name"], "dateid", form="argmax"
                )
            else:
                actual = stored_u
            act_parts.append(
                actual.select(
                    "table_name",
                    row_digest(_canon_cols(actual, list(cols))).alias("__d"),
                )
            )

        src_sums = table_checksums(
            _reduce(DataFrame.unionByName, exp_parts), F.col("__d")
        )
        dst_sums = (
            table_checksums(_reduce(DataFrame.unionByName, act_parts), F.col("__d"))
            if act_parts
            else src_sums.limit(0)
        )
        rows = checksum_compare(src_sums, dst_sums).orderBy("table_name").collect()
        # seed from the authoritative table list, not the compare rows:
        # a table whose expected fold is EMPTY (delete-only changelog)
        # and whose stored side is empty or missing appears in NEITHER
        # checksum frame — the contract is still one verdict per table,
        # so absent tables get an explicit n_src=0/n_dst=0 row (both
        # states empty = vacuously consistent) plus the missing-table
        # error when the target has no files at all
        by_name = {r["table_name"]: r for r in rows}
        verdicts: list[dict] = []
        for tbl in tables:
            r = by_name.get(tbl)
            if r is None:
                v = {"table_name": tbl, "n_src": 0, "n_dst": 0,
                     "count_match": True, "digest_match": True}
            else:
                v = {"table_name": tbl, "n_src": r["n_src"],
                     "n_dst": r["n_dst"], "count_match": r["count_match"],
                     "digest_match": r["digest_match"]}
            if tbl in missing:
                v["error"] = "target table missing"
            verdicts.append(v)
        return verdicts

    def _read_stored(self, tbl: str) -> DataFrame | None:
        """Open a stored table WITHOUT a per-table schema-inference job:
        on a local target the first data file's parquet footer is read
        driver-side (pyarrow) and handed to the reader as an explicit
        schema, so opening N tables launches ZERO jobs — the piece that
        keeps ``verify_replication``'s job count constant in the table
        count.  Non-local filesystems fall back to plain inference (one
        metadata-sized job per table).  Returns None when the table has
        no data files (missing target / first run)."""
        path = self.table_path(tbl)
        if "://" not in path:
            if not os.path.isdir(path):
                return None
            leaf = None
            for root, _dirs, files in sorted(os.walk(path)):
                pf = sorted(f for f in files if f.endswith(".parquet"))
                if pf:
                    leaf = os.path.join(root, pf[0])
                    break
            if leaf is None:
                return None
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            st = from_arrow_schema(pq.read_schema(leaf))
            return self.spark.read.schema(st).parquet(path)
        try:
            return self.spark.read.parquet(path)
        except AnalysisException as e:
            if _missing_path(e):
                return None
            raise

    @staticmethod
    def _expected_fold(tslice: DataFrame, keys: list[str], mode: str) -> DataFrame:
        """Expected-state fold of a changelog slice, grouped per table:
        argmax form on both policy classes — the verify pass must
        survive the same Zipf-hot keys the runner's merge path does (a
        window form funnels every version of a hot key into one task);
        dateid/seq are strictly increasing per key, so the max_by is
        tie-free and result-identical."""
        gkeys = keys + ["table_name"]
        if mode == "versioned":
            return latest_by_key(
                apply_insert_as_update(tslice, gkeys), gkeys, "dateid", form="argmax"
            )
        return apply_mutate(tslice, gkeys, form="argmax")

    def _verify_frames(self, changelog: DataFrame, tbl: str):
        """(expected, actual, digest cols, keys) for ONE table's
        bounded drill-down (``diff_table``), or None if the target
        table is missing."""
        policy = REGISTRY.get(tbl, DEFAULT_POLICY)
        tslice = changelog.filter(F.col("table_name") == tbl)
        keys = self._resolve_cols(policy, tslice)
        try:
            stored = self.spark.read.parquet(self.table_path(tbl))
        except AnalysisException as e:
            if _missing_path(e):
                return None
            raise
        if policy.apply_mode in ("append", "insert_as_update"):
            expected = self._expected_fold(tslice, keys, "versioned")
            actual = latest_by_key(stored, keys, "dateid", form="argmax")
        else:
            expected = self._expected_fold(tslice, keys, "mutate")
            actual = stored
        cols = sorted(
            (set(expected.columns) & set(actual.columns))
            - {"op", "yyyymm", "file_seq", "schema_name", "table_name"}
        )
        return expected, actual, cols, keys

    def diff_table(self, changelog: DataFrame, tbl: str, limit: int = 20) -> list[dict]:
        """Row-level drill-down for a table ``verify_replication``
        flagged: full outer join on the business key, each divergent
        key classified only_src / only_dst / value_diff.  Run per
        flagged table only — this is the bounded second pass the
        checksum fold exists to avoid as a primary check."""
        from ..operators.checksum import row_diff, row_digest

        frames = self._verify_frames(changelog, tbl)
        if frames is None:
            return [{"table_name": tbl, "error": "target table missing"}]
        expected, actual, cols, keys = frames
        value_cols = [c for c in cols if c not in keys]
        diff = row_diff(
            expected, actual, keys, row_digest(_canon_cols(expected, value_cols))
        )
        return [
            {"table_name": tbl, **{k: r[k] for k in keys}, "diff": r["diff"]}
            for r in diff.orderBy(*keys).limit(limit).collect()
        ]
