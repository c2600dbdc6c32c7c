"""Operator CLI — the engine's analog of running the reference from
cron (``python matomo2clickhouse.py``, README deploy steps; settings in
``/root/reference/_settings.py``). The reference is operated as a
command, not a library, so a user switching engines needs the same
surface: one command per entry point, flags in place of ``settings.py``
constants, machine-readable run reports on stdout.

    python -m mysql2clickhouse_spark run --changelog-dir ... --target-dir ...
    python -m mysql2clickhouse_spark bootstrap --table t --snapshot-dir ...
    python -m mysql2clickhouse_spark maintain --target-dir ... --months 202403
    python -m mysql2clickhouse_spark query q10_regional_revenue --sf-dir ...
    python -m mysql2clickhouse_spark sql "SELECT ... FROM versioned ..."

Flag ↔ reference-setting map (the names a migrating operator knows):
``--row-budget`` = replication_batch_size (_settings.py:71-73);
``--max-files`` = replication_max_number_files_per_session;
``--max-minutes`` = replication_max_minutes (:82-84); ``--dry-run`` =
EXECUTE_CLICKHOUSE=False (:53-55); ``--degraded`` = the post-error
shrunk batch (matomo2clickhouse.py:841-847); ``--old-delete-days`` =
the F6 horizon (:593); ``--compact-months`` = the end-of-run dedup
window (entry point C, :756-766).

Everything here delegates to the library (``streaming.runner``,
``plans``); the CLI owns only argument parsing and JSON reporting.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import asdict


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mysql2clickhouse_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="one replication session (entry points A+B+C)")
    r.add_argument("--changelog-dir", required=True, help="parquet changelog directory")
    r.add_argument("--target-dir", required=True, help="replication warehouse root")
    r.add_argument("--row-budget", type=int, default=1_000_000)
    r.add_argument("--max-files", type=int, default=20)
    r.add_argument("--max-minutes", type=float, default=50.0)
    r.add_argument("--old-delete-days", type=int, default=31)
    r.add_argument("--dry-run", action="store_true")
    r.add_argument("--degraded", action="store_true",
                   help="previous run failed: shrink the budget so poison surfaces")
    r.add_argument("--no-quarantine", action="store_true",
                   help="fail on invalid rows instead of diverting to rejects")
    r.add_argument("--schema-drift", choices=["ignore", "report", "strict"],
                   default="ignore")
    r.add_argument("--table-concurrency", type=int, default=1,
                   help="per-table applies as concurrent Spark jobs (1 = serial)")
    r.add_argument("--compact-months", type=int, nargs="*", default=None,
                   help="yyyymm partitions for end-of-run dedup compaction")
    r.add_argument("--maintain-store", action="append", default=None,
                   metavar="KIND=PATH[@MAX_FILES]",
                   help="maintained-store upkeep spec (repeatable): kind is "
                        "minhash|simhash|substring|bm25|ivf|cluster|"
                        "manifest; the store is "
                        "recovered every session and compacted when its "
                        "file census exceeds MAX_FILES (default 64) — runs "
                        "inside the same budget-gated maintenance block as "
                        "--compact-months (sessions <= 10 min skip both). "
                        "'@' separates the threshold because store paths "
                        "legitimately contain ':' (hdfs://host:9000/...)")

    b = sub.add_parser("bootstrap", help="initial load from a source snapshot")
    b.add_argument("--table", required=True)
    b.add_argument("--snapshot-dir", required=True, help="parquet snapshot directory")
    b.add_argument("--as-of-seq", type=int, required=True,
                   help="changelog position the snapshot reflects")
    b.add_argument("--target-dir", required=True)
    b.add_argument("--dry-run", action="store_true")

    m = sub.add_parser("maintain", help="partition-scoped maintenance jobs")
    m.add_argument("--target-dir", required=True)
    m.add_argument("--table", required=True)
    m.add_argument("--months", type=int, nargs="+", required=True)
    m.add_argument("--job",
                   choices=["dedup", "small-files", "daily-aggregate", "backfill"],
                   default="dedup")
    m.add_argument("--window", type=int, default=3,
                   help="backfill: months per overlapping pass")
    m.add_argument("--overlap", type=int, default=1,
                   help="backfill: months shared between passes")
    m.add_argument("--dry-run", action="store_true")

    # data dir resolves from $SPARK_GRAFT_SF_DIR (the bench.py
    # convention) so deployments never silently target the machine-local
    # test fixtures; the fixture path is only the sandbox fallback
    sf_default = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    pg = sub.add_parser("purge", help="physically remove consumed changelog files (Q6)")
    pg.add_argument("--changelog-dir", required=True)
    pg.add_argument("--target-dir", required=True, help="holds the guarding ledger")
    pg.add_argument("--keep-days", type=int, default=180,
                    help="LEAVE_BINARY_LOGS_IN_DAYS analog (_settings.py:87-90)")
    pg.add_argument("--dry-run", action="store_true")

    vf = sub.add_parser(
        "verify",
        help="source-vs-target integrity check: per-table checksum compare "
             "of the changelog fold against the replicated store "
             "(reference README.md:259-278 cross-DB verification)",
    )
    vf.add_argument("--changelog-dir", required=True, help="parquet changelog directory")
    vf.add_argument("--target-dir", required=True, help="replication warehouse root")
    vf.add_argument("--diff", action="store_true",
                    help="row-level drill-down (only_src/only_dst/value_diff "
                         "keys) for each FLAGGED table — bounded to tables "
                         "the checksum already failed")
    vf.add_argument("--diff-limit", type=int, default=20,
                    help="max divergent keys printed per flagged table")

    lc = sub.add_parser("ledger-compact", help="rewrite the ledger to one file")
    lc.add_argument("--target-dir", required=True)
    lc.add_argument("--keep-after", default=None,
                    help="optional created_at cutoff (Q12 prune), e.g. 2024-01-01")
    lc.add_argument("--dry-run", action="store_true")

    q = sub.add_parser("query", help="run a named corpus query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=sf_default)
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--output", default=None, help="write full result as parquet here")

    s = sub.add_parser("sql", help="literal Spark SQL over the registered views")
    s.add_argument("statement", help="a SQL_CORPUS name or raw SQL text")
    s.add_argument("--sf-dir", default=sf_default)
    s.add_argument("--limit", type=int, default=20)

    nd = sub.add_parser("neardup", help="incremental near-dup index: ingest one batch")
    nd.add_argument("--index-dir", required=True, help="persistent index root")
    nd.add_argument("--stats", action="store_true",
                    help="emit a JSON store snapshot (docs/tombstones/files)")
    nd.add_argument("--batch-dir", default=None,
                    help="parquet batch with (doc_id, text)")
    nd.add_argument("--threshold", type=float, default=0.7)
    nd.add_argument("--pairs-out", default=None,
                    help="write the batch's near-dup pairs here (parquet)")
    nd.add_argument("--probe-dir", default=None,
                    help="READ-ONLY lookup: parquet (doc_id, text) probed "
                         "against the store (decontam; nothing written)")
    nd.add_argument("--remove-dir", default=None,
                    help="parquet (doc_id) to tombstone — deleted docs "
                         "never pair again; --compact applies physically")
    nd.add_argument("--compact", action="store_true",
                    help="journaled small-files rewrite of the sig/band "
                         "stores, applying tombstones (run between "
                         "ingest sessions)")

    ai = sub.add_parser("annindex", help="persistent incremental IVF index")
    ai.add_argument("--index-dir", required=True, help="index root")
    ai.add_argument("--stats", action="store_true",
                    help="emit a JSON store snapshot (vectors/tombstones/files)")
    ai.add_argument("--dim", type=int, default=None,
                    help="embedding dim (required for a NEW index; an "
                         "existing index reads it from manifest.json)")
    ai.add_argument("--n-list", type=int, default=None,
                    help="coarse lists for a new index (default 32; "
                         "existing index: from manifest)")
    ai.add_argument("--pq-m", type=int, default=None,
                    help="build with PQ codes: subquantizer count "
                         "(existing index: from manifest)")
    ai.add_argument("--pq-ksub", type=int, default=None,
                    help="PQ codebook size per subquantizer (default 16)")
    ai.add_argument("--pq-search", action="store_true",
                    help="answer --search-dir via the PQ/ADC + exact-"
                         "refine path instead of full-float rerank")
    ai.add_argument("--add-dir", default=None,
                    help="parquet batch (vec_id, embedding) to ingest; first "
                         "ingest trains + freezes the quantizer")
    ai.add_argument("--search-dir", default=None,
                    help="parquet queries (vec_id, embedding) to search")
    ai.add_argument("--k", type=int, default=10)
    ai.add_argument("--nprobe", type=int, default=8)
    ai.add_argument("--remove-dir", default=None,
                    help="parquet (vec_id) to tombstone — searches answer "
                         "as if never ingested; --compact applies physically")
    ai.add_argument("--compact", action="store_true",
                    help="journaled small-files rewrite of the lists store, "
                         "applying tombstones")
    ai.add_argument("--output", default=None,
                    help="write search results as parquet here (else print top rows)")

    bi = sub.add_parser("bm25index", help="persistent incremental BM25 inverted index")
    bi.add_argument("--index-dir", required=True, help="store root")
    bi.add_argument("--stats", action="store_true",
                    help="emit a JSON store snapshot (docs/tombstones/files)")
    bi.add_argument("--n-buckets", type=int, default=32,
                    help="postings buckets for a NEW store (an existing "
                         "store reads its geometry from the meta)")
    bi.add_argument("--add-dir", default=None,
                    help="parquet batch (doc_id, text) to ingest")
    bi.add_argument("--remove-dir", default=None,
                    help="parquet (doc_id) to tombstone — search answers "
                         "as if never ingested; --compact applies physically")
    bi.add_argument("--search", default=None,
                    help="space-separated query terms")
    bi.add_argument("--k", type=int, default=20)
    bi.add_argument("--compact", action="store_true",
                    help="apply tombstones + small-files rewrite (journaled)")
    bi.add_argument("--output", default=None,
                    help="write search results as parquet here (else print rows)")

    si = sub.add_parser(
        "substrindex",
        help="persistent first-occurrence gram store (incremental "
             "exact-substring dedup)",
    )
    si.add_argument("--index-dir", required=True, help="store root")
    si.add_argument("--stats", action="store_true",
                    help="emit a JSON store snapshot (grams/docs/tombstones/files)")
    si.add_argument("--gram-k", type=int, default=None,
                    help="k-gram width for a NEW store (an existing store "
                         "adopts it from the meta)")
    si.add_argument("--n-buckets", type=int, default=32,
                    help="firsts buckets for a NEW store")
    si.add_argument("--add-dir", default=None,
                    help="parquet batch (doc_id, text) to ingest")
    si.add_argument("--remove-dir", default=None,
                    help="parquet (doc_id) to tombstone — owned grams are "
                         "forgotten; --compact applies physically")
    si.add_argument("--compact", action="store_true",
                    help="apply tombstones + one-file-per-bucket rewrite")
    si.add_argument("--report-out", default=None,
                    help="write the batch's removal report here (parquet)")
    si.add_argument("--probe-dir", default=None,
                    help="READ-ONLY judgment: parquet (doc_id, text) judged "
                         "against the store (decontam; nothing written)")

    sh = sub.add_parser(
        "simhashindex",
        help="persistent pigeonhole SimHash index (incremental near-dup "
             "pairs at hamming <= 3)",
    )
    sh.add_argument("--index-dir", required=True, help="store root")
    sh.add_argument("--stats", action="store_true",
                    help="emit a JSON store snapshot (docs/tombstones/files)")
    sh.add_argument("--n-blocks", type=int, default=4,
                    help="pigeonhole blocks for a NEW store (store identity)")
    sh.add_argument("--max-hamming", type=int, default=3,
                    help="pair distance bound (must be <= n_blocks - 1)")
    sh.add_argument("--batch-dir", default=None,
                    help="parquet batch (doc_id, text) to ingest")
    sh.add_argument("--pairs-out", default=None,
                    help="write the batch's near-dup pairs here (parquet)")
    sh.add_argument("--probe-dir", default=None,
                    help="READ-ONLY lookup: parquet (doc_id, text) probed "
                         "against the store (decontam; nothing written)")
    sh.add_argument("--remove-dir", default=None,
                    help="parquet (doc_id) to tombstone; --compact applies "
                         "physically")
    sh.add_argument("--compact", action="store_true",
                    help="apply tombstones + one-file-per-bucket rewrite")

    ci = sub.add_parser(
        "clusterindex",
        help="incremental near-dup cluster assignment: fold pair batches",
    )
    ci.add_argument("--index-dir", required=True, help="cluster store root")
    ci.add_argument("--pairs-dir", default=None,
                    help="parquet pair batch (id_a, id_b) to fold")
    ci.add_argument("--probe-dir", default=None,
                    help="READ-ONLY lookup: parquet ids (node or doc_id "
                         "column) resolved to their current component "
                         "without mutating the store")
    ci.add_argument("--assignments-out", default=None,
                    help="write the CURRENT (node, component) table here")
    ci.add_argument("--stats", action="store_true",
                    help="emit a JSON store snapshot (nodes/components/files)")
    ci.add_argument("--compact", action="store_true",
                    help="journaled rewrite to the live view (stale "
                         "merged-away rows dropped, dead set cleared)")
    ci.add_argument("--n-buckets", type=int, default=32)

    mf = sub.add_parser(
        "manifest",
        help="maintained corpus-statistics manifest: fold doc batches "
             "into mergeable partials (sums + HLL + histograms)",
    )
    mf.add_argument("--index-dir", required=True, help="manifest store root")
    mf.add_argument("--add-dir", default=None,
                    help="parquet doc batch (doc_id, text) to fold")
    mf.add_argument("--batch-id", type=int, default=None,
                    help="explicit replay-ledger id for the fold "
                         "(default: the batch's own 64-bit fingerprint)")
    mf.add_argument("--snapshot", action="store_true",
                    help="emit the CURRENT corpus statistics as JSON")
    mf.add_argument("--stats", action="store_true",
                    help="emit a JSON store snapshot (batches/docs/files)")
    mf.add_argument("--compact", action="store_true",
                    help="merge all partial rows into one (journaled "
                         "replace commit; ledger kept whole)")

    ex = sub.add_parser("export", help="curate and write training shards + manifest")
    ex.add_argument("--docs-dir", required=True, help="parquet docs (doc_id, text)")
    ex.add_argument("--out-dir", required=True)
    ex.add_argument("--min-tokens", type=int, default=8)
    ex.add_argument("--min-quality", type=float, default=0.3)
    ex.add_argument("--rows-per-file", type=int, default=500_000)
    ex.add_argument("--format", choices=["parquet", "jsonl", "tar"],
                    default="parquet",
                    help="shard format: parquet, gzip JSON-Lines, or "
                         "WebDataset-style tar")
    return p


def _emit(obj) -> None:
    print(json.dumps(obj, default=str), flush=True)


def _require_existing_store(spark, args, name: str, ingest_attr: str) -> bool:
    """Guard for the store commands' READ-ONLY invocations (--probe-dir
    / --stats / --remove-dir / --compact without an ingest flag): the
    store constructors write their meta eagerly so a path-only reopen
    works before the first ingest, which means a mistyped --index-dir
    would otherwise silently CREATE a fresh empty store — and a
    decontam probe against it would report 0 matches, a false negative
    born from a typo. Emits the error and returns False when the dir
    does not exist and no ingest was requested."""
    if getattr(args, ingest_attr, None):
        return True  # an ingest legitimately creates the store
    if "://" in args.index_dir:
        # remote roots get the SAME typo guard through the fs seam —
        # the store constructors eagerly create remote stores exactly
        # like local ones, so skipping the check here would reopen the
        # silent-creation hazard on hdfs:///s3a:// paths
        from .fs import fs_for

        if fs_for(spark, args.index_dir).exists(args.index_dir):
            return True
    elif os.path.isdir(args.index_dir):
        return True
    _emit({"error": f"no store at {args.index_dir!r} — a read-only "
                    f"{name} invocation will not create one (pass an "
                    "ingest batch to create it)"})
    return False


def _store_maintenance(spark, args, idx, name: str) -> bool:
    """The remove/compact prologue every maintained-store subcommand
    shares (neardup, annindex, bm25index, substrindex, simhashindex) — one
    implementation so a lifecycle change lands once, not four times.
    Returns whether anything ran."""
    acted = False
    if getattr(args, "remove_dir", None):
        n = idx.remove_batch(spark.read.parquet(args.remove_dir))
        _emit({"job": f"{name}-remove", "n_tombstoned": n})
        acted = True
    if args.compact:
        _emit({"job": f"{name}-compact", **idx.compact()})
        acted = True
    return acted


def _store_stats(args, idx, name: str) -> bool:
    """The --stats epilogue: emitted AFTER any ingest/search action in
    the same invocation, so the snapshot reflects what the command just
    did (a combined --add-dir --stats reports the post-ingest store)."""
    if getattr(args, "stats", False):
        _emit({"job": f"{name}-stats", **idx.stats()})
        return True
    return False


def main(argv: list[str] | None = None) -> int:
    try:
        return _main(argv)
    except Exception as e:
        # a refused store mutation (another writer's fresh advisory
        # lock) is an OPERATIONAL answer, not a crash — report it the
        # way every other CLI outcome is reported
        from .operators.store_common import StoreLockedError

        if isinstance(e, StoreLockedError):
            _emit({"error": str(e)})
            return 3
        raise


def _main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from .session import get_spark

    spark = get_spark(f"m2c-cli-{args.cmd}")

    if args.cmd == "run":
        from .streaming.runner import ReplicationRunner, RunConfig

        specs = []
        for raw in args.maintain_store or ():
            kind, _, rest = raw.partition("=")
            if not rest or kind not in ReplicationRunner.STORE_CENSUS_KEYS:
                _emit({"error": f"bad --maintain-store spec: {raw!r}",
                       "expect": "KIND=PATH[@MAX_FILES]"})
                return 2
            path, sep, max_files = rest.rpartition("@")
            if sep and max_files.isdigit() and path:
                specs.append({"kind": kind, "path": path,
                              "max_files": int(max_files)})
            else:
                # a non-numeric suffix after '@' is part of the path
                # (s3a://user@host/store), not a malformed threshold —
                # only an all-digits tail is a MAX_FILES spec
                specs.append({"kind": kind, "path": rest})
        cfg = RunConfig(
            target_dir=args.target_dir,
            batch_row_budget=args.row_budget,
            max_files_per_run=args.max_files,
            old_delete_days=args.old_delete_days,
            dry_run=args.dry_run,
            degraded=args.degraded,
            quarantine=not args.no_quarantine,
            schema_drift=args.schema_drift,
            table_concurrency=args.table_concurrency,
            store_maintenance=tuple(specs),
        )
        runner = ReplicationRunner(spark, cfg)
        changelog = spark.read.parquet(args.changelog_dir)
        reports = runner.run_session(
            changelog,
            max_minutes=args.max_minutes,
            compact_months=args.compact_months,
        )
        for rep in reports:
            _emit(asdict(rep))
        for srep in runner.last_store_maintenance:
            _emit({"job": "store-maintain", **srep})
        return 0

    if args.cmd == "bootstrap":
        from .streaming.runner import ReplicationRunner, RunConfig

        runner = ReplicationRunner(
            spark, RunConfig(target_dir=args.target_dir, dry_run=args.dry_run)
        )
        snap = spark.read.parquet(args.snapshot_dir)
        _emit(runner.bootstrap_from_snapshot(args.table, snap, args.as_of_seq))
        return 0

    if args.cmd == "maintain":
        from .streaming.runner import ReplicationRunner, RunConfig

        runner = ReplicationRunner(
            spark, RunConfig(target_dir=args.target_dir, dry_run=args.dry_run)
        )
        if args.job == "backfill":
            _emit({"job": "backfill",
                   **runner.backfill_dedup(args.table, args.months,
                                           window=args.window,
                                           overlap=args.overlap)})
            return 0
        job = {
            "dedup": runner.compact_table,
            "small-files": runner.compact_small_files,
            "daily-aggregate": runner.refresh_daily_aggregate,
        }[args.job]
        _emit({"job": args.job, **job(args.table, args.months)})
        return 0

    if args.cmd == "purge":
        from .streaming.runner import ReplicationRunner, RunConfig

        runner = ReplicationRunner(
            spark, RunConfig(target_dir=args.target_dir, dry_run=args.dry_run)
        )
        _emit({"job": "purge",
               **runner.purge_changelog(args.changelog_dir, keep_days=args.keep_days)})
        return 0

    if args.cmd == "verify":
        from .streaming.runner import ReplicationRunner, RunConfig

        runner = ReplicationRunner(spark, RunConfig(target_dir=args.target_dir))
        changelog = spark.read.parquet(args.changelog_dir)
        flagged = []
        for verdict in runner.verify_replication(changelog):
            if not verdict["digest_match"]:
                flagged.append(verdict["table_name"])
            _emit({"job": "verify", **verdict})
        if args.diff:
            for tbl in flagged:
                for row in runner.diff_table(changelog, tbl, limit=args.diff_limit):
                    _emit({"job": "verify-diff", **row})
        return 0 if not flagged else 3

    if args.cmd == "ledger-compact":
        from .streaming.runner import ReplicationRunner, RunConfig

        runner = ReplicationRunner(
            spark, RunConfig(target_dir=args.target_dir, dry_run=args.dry_run)
        )
        _emit({"job": "ledger-compact",
               **runner.compact_ledger(keep_created_after=args.keep_after)})
        return 0

    if args.cmd == "query":
        from .plans import all_queries_extended

        queries = all_queries_extended()
        if args.name not in queries:
            _emit({"error": f"unknown query '{args.name}'",
                   "known": sorted(queries)})
            return 2
        df = queries[args.name](spark, args.sf_dir)
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            _emit({"query": args.name, "output": args.output})
        else:
            for row in df.limit(args.limit).collect():
                _emit(row.asDict())
        return 0

    if args.cmd == "neardup":
        from .operators.neardup_index import MinHashIndex

        if not _require_existing_store(spark, args, "neardup", "batch_dir"):
            return 2
        idx = MinHashIndex(spark, args.index_dir, threshold=args.threshold)
        acted = _store_maintenance(spark, args, idx, "neardup")
        if args.probe_dir:
            matches = idx.probe(spark.read.parquet(args.probe_dir))
            _emit({"job": "neardup-probe", "n_matches": matches.count()})
            acted = True
        if args.batch_dir:
            pairs = idx.add_batch(spark.read.parquet(args.batch_dir))
            out = {"n_pairs": pairs.count()}
            if args.pairs_out:
                pairs.write.mode("overwrite").parquet(args.pairs_out)
                out["pairs_out"] = args.pairs_out
            _emit(out)
            acted = True
        acted |= _store_stats(args, idx, "neardup")
        if not acted:
            _emit({"error": "neardup needs --batch-dir, --probe-dir, "
                            "--remove-dir, --stats and/or --compact"})
            return 2
        return 0

    if args.cmd == "annindex":
        from .operators.ann_index import IVFIndex

        if not _require_existing_store(spark, args, "annindex", "add_dir"):
            return 2
        idx = IVFIndex(spark, args.index_dir, dim=args.dim,
                       n_list=args.n_list, pq_m=args.pq_m,
                       pq_ksub=args.pq_ksub)
        acted = _store_maintenance(spark, args, idx, "annindex")
        if args.add_dir:
            batch = spark.read.parquet(args.add_dir)
            # build() returns the ingested row count from its internal
            # add_batch Observation — no second scan of the input
            n = idx.add_batch(batch) if idx.exists() else idx.build(batch)
            _emit({"job": "annindex-add", "rows_added": n})
            acted = True
        if args.search_dir:
            search = idx.search_pq if args.pq_search else idx.search
            res = search(
                spark.read.parquet(args.search_dir), k=args.k, nprobe=args.nprobe
            )
            if args.output:
                res.write.mode("overwrite").parquet(args.output)
                _emit({"job": "annindex-search", "rows": spark.read.parquet(args.output).count(),
                       "output": args.output})
            else:
                for row in res.limit(50).collect():
                    _emit({"job": "annindex-search", **row.asDict()})
            acted = True
        acted |= _store_stats(args, idx, "annindex")
        if not acted:
            _emit({"error": "annindex needs --add-dir, --search-dir, "
                            "--remove-dir, --stats and/or --compact"})
            return 2
        return 0

    if args.cmd == "bm25index":
        from .operators.bm25_index import BM25Index

        if not _require_existing_store(spark, args, "bm25index", "add_dir"):
            return 2
        idx = BM25Index(spark, args.index_dir, n_buckets=args.n_buckets)
        acted = _store_maintenance(spark, args, idx, "bm25index")
        if args.add_dir:
            n = idx.add_batch(spark.read.parquet(args.add_dir))
            _emit({"job": "bm25index-add", "docs_indexed": n})
            acted = True
        if args.search:
            res = idx.search(tuple(args.search.split()), args.k)
            if args.output:
                res.write.mode("overwrite").parquet(args.output)
                _emit({"job": "bm25index-search", "output": args.output})
            else:
                for row in res.collect():
                    _emit({"job": "bm25index-search", **row.asDict()})
            acted = True
        acted |= _store_stats(args, idx, "bm25index")
        if not acted:
            _emit({"error": "bm25index needs --add-dir, --search, "
                            "--remove-dir, --stats and/or --compact"})
            return 2
        return 0

    if args.cmd == "substrindex":
        from .operators.substring_index import SubstringIndex

        if not _require_existing_store(spark, args, "substrindex", "add_dir"):
            return 2
        try:
            idx = SubstringIndex(
                spark, args.index_dir, k=args.gram_k, n_buckets=args.n_buckets
            )
        except ValueError as e:  # fresh store without --gram-k
            _emit({"error": str(e)})
            return 2
        acted = _store_maintenance(spark, args, idx, "substrindex")
        if args.probe_dir and args.add_dir and args.report_out:
            # one --report-out cannot hold two different reports; the
            # old behavior silently wrote only the ingest's
            _emit({"error": "--report-out is ambiguous with BOTH "
                            "--probe-dir and --add-dir — run them as "
                            "separate invocations"})
            return 2
        if args.probe_dir:
            rep = idx.probe(spark.read.parquet(args.probe_dir))
            out = {"job": "substrindex-probe", "n_docs": rep.count()}
            if args.report_out:
                rep.write.mode("overwrite").parquet(args.report_out)
                out["report_out"] = args.report_out
            _emit(out)
            acted = True
        if args.add_dir:
            report = idx.add_batch(spark.read.parquet(args.add_dir))
            out = {"job": "substrindex-add", "n_docs": report.count(),
                   "n_grams_stored": idx.n_grams()}
            if args.report_out:
                report.write.mode("overwrite").parquet(args.report_out)
                out["report_out"] = args.report_out
            _emit(out)
            acted = True
        acted |= _store_stats(args, idx, "substrindex")
        if not acted:
            _emit({"error": "substrindex needs --add-dir, --probe-dir, "
                            "--remove-dir, --stats and/or --compact"})
            return 2
        return 0

    if args.cmd == "simhashindex":
        from .operators.simhash_index import SimHashIndex

        if not _require_existing_store(spark, args, "simhashindex", "batch_dir"):
            return 2
        try:
            idx = SimHashIndex(spark, args.index_dir, n_blocks=args.n_blocks,
                               max_hamming=args.max_hamming)
        except ValueError as e:  # geometry contradiction
            _emit({"error": str(e)})
            return 2
        acted = _store_maintenance(spark, args, idx, "simhashindex")
        if args.probe_dir:
            matches = idx.probe(spark.read.parquet(args.probe_dir))
            _emit({"job": "simhashindex-probe", "n_matches": matches.count()})
            acted = True
        if args.batch_dir:
            pairs = idx.add_batch(spark.read.parquet(args.batch_dir))
            out = {"job": "simhashindex-add", "n_pairs": pairs.count()}
            if args.pairs_out:
                pairs.write.mode("overwrite").parquet(args.pairs_out)
                out["pairs_out"] = args.pairs_out
            _emit(out)
            acted = True
        acted |= _store_stats(args, idx, "simhashindex")
        if not acted:
            _emit({"error": "simhashindex needs --batch-dir, --probe-dir, "
                            "--remove-dir, --stats and/or --compact"})
            return 2
        return 0

    if args.cmd == "clusterindex":
        from .operators.cluster_index import ClusterIndex

        if not _require_existing_store(spark, args, "clusterindex", "pairs_dir"):
            return 2
        idx = ClusterIndex(spark, args.index_dir, n_buckets=args.n_buckets)
        acted = False
        if args.probe_dir:
            hits = idx.probe(spark.read.parquet(args.probe_dir))
            _emit({
                "job": "clusterindex-probe",
                "n_assigned": hits.count(),
                "n_duplicates": hits.filter("NOT is_canonical").count(),
            })
            acted = True
        if args.pairs_dir:
            rep = idx.add_pairs(spark.read.parquet(args.pairs_dir))
            _emit({"job": "clusterindex-fold", **rep})
            acted = True
        if args.compact:
            _emit({"job": "clusterindex-compact", **idx.compact()})
            acted = True
        if args.assignments_out:
            idx.assignments().write.mode("overwrite").parquet(
                args.assignments_out
            )
            _emit({"job": "clusterindex-assignments",
                   "rows": spark.read.parquet(args.assignments_out).count(),
                   "output": args.assignments_out})
            acted = True
        acted |= _store_stats(args, idx, "clusterindex")
        if not acted:
            _emit({"error": "clusterindex needs --pairs-dir, --probe-dir, "
                            "--assignments-out, --stats and/or --compact"})
            return 2
        return 0

    if args.cmd == "manifest":
        from .operators.manifest import CorpusManifest

        if not _require_existing_store(spark, args, "manifest", "add_dir"):
            return 2
        idx = CorpusManifest(spark, args.index_dir)
        acted = False
        if args.add_dir:
            rep = idx.add_batch(
                spark.read.parquet(args.add_dir), batch_id=args.batch_id
            )
            _emit({"job": "manifest-fold", **rep})
            acted = True
        if args.compact:
            _emit({"job": "manifest-compact", **idx.compact()})
            acted = True
        if args.snapshot:
            snap = idx.snapshot().collect()
            row = snap[0].asDict() if snap else {}
            _emit({"job": "manifest-snapshot", **row})
            acted = True
        acted |= _store_stats(args, idx, "manifest")
        if not acted:
            _emit({"error": "manifest needs --add-dir, --snapshot, "
                            "--stats and/or --compact"})
            return 2
        return 0

    if args.cmd == "export":
        from .operators.export import (
            curated_docs,
            export_shards,
            export_shards_jsonl,
            export_shards_tar,
        )

        docs = spark.read.parquet(args.docs_dir)
        curated = curated_docs(
            docs, min_tokens=args.min_tokens, min_quality=args.min_quality
        )
        writer = {
            "parquet": export_shards,
            "jsonl": export_shards_jsonl,
            "tar": export_shards_tar,
        }[args.format]
        manifest = writer(
            spark, curated, args.out_dir, rows_per_file=args.rows_per_file
        )
        stats = manifest.agg(
            {"n_rows": "sum", "n_tokens": "sum", "shard": "count"}
        ).collect()[0]
        _emit(
            {
                "out_dir": args.out_dir,
                "format": args.format,
                "n_shards": stats["count(shard)"],
                "n_docs": stats["sum(n_rows)"],
                "n_tokens": stats["sum(n_tokens)"],
            }
        )
        return 0

    # sql
    from .plans.sql_corpus import SQL_CORPUS, SQL_CORPUS_SPARK, register_corpus_views

    register_corpus_views(spark, args.sf_dir)
    text = {**SQL_CORPUS, **SQL_CORPUS_SPARK}.get(args.statement, args.statement)
    for row in spark.sql(text).limit(args.limit).collect():
        _emit(row.asDict())
    return 0


if __name__ == "__main__":
    sys.exit(main())
