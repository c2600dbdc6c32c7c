"""Replication-runner semantics: resume, budgets, dry-run, rejection
accounting, at-least-once + dedup-at-read (FIXTURES.md invariants 3-5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mysql2clickhouse_spark.operators.apply import latest_by_key
from mysql2clickhouse_spark.streaming.runner import ReplicationRunner, RunConfig

SCHEMA = (
    "op string, table_name string, key bigint, seq bigint, file_seq bigint,"
    " ts timestamp, value double, event_type string"
)

T0 = dt.datetime(2024, 3, 1)


def mk_changelog(spark, n=200, files=4):
    rows = []
    for i in range(n):
        key = i % 10
        op = "I" if i % 5 in (0, 1) else ("U" if i % 5 in (2, 3) else "D")
        tbl = "visits" if key % 2 == 0 else "events_state"
        rows.append(
            (op, tbl, key, i, i // (n // files), T0 + dt.timedelta(minutes=i), float(i), "e")
        )
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def runner(spark, tmp_path):
    return ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))


def test_run_once_applies_and_resumes(spark, runner):
    cl = mk_changelog(spark)
    r1 = runner.run_once(cl)
    assert r1.rows_applied > 0
    # second run over the SAME changelog: nothing new
    r2 = runner.run_once(cl)
    assert r2.rows_applied == 0
    assert runner.resume_seq() == 199


def test_budgets_bound_each_run(spark, tmp_path):
    runner = ReplicationRunner(
        spark,
        RunConfig(target_dir=str(tmp_path / "wh"), batch_row_budget=50, max_files_per_run=1),
    )
    cl = mk_changelog(spark, n=200, files=4)
    r1 = runner.run_once(cl)
    assert r1.end_seq == 49  # one file (=50 rows) and the row budget agree
    r2 = runner.run_once(cl)
    assert r2.start_seq == 49 and r2.end_seq == 99
    # runs until caught up
    for _ in range(2):
        runner.run_once(cl)
    assert runner.resume_seq() == 199


def test_dry_run_writes_nothing(spark, tmp_path):
    runner = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "wh"), dry_run=True)
    )
    cl = mk_changelog(spark)
    r = runner.run_once(cl)
    assert r.rows_applied > 0 and r.dry_run
    assert runner.resume_seq() is None  # no ledger rows written
    import os

    assert not os.path.exists(runner.table_path("visits"))


def test_versioned_table_dedups_at_read(spark, runner):
    cl = mk_changelog(spark)
    runner.run_once(cl)
    stored = spark.read.parquet(runner.table_path("visits"))
    latest = latest_by_key(stored, ["key"], "dateid", form="window")
    per_key = latest.groupBy("key").count().filter(F.col("count") > 1).count()
    assert per_key == 0
    # latest version == max seq for that key in the changelog
    expect = {
        r["key"]: r["m"]
        for r in cl.filter("table_name = 'visits' and op in ('I','U')")
        .groupBy("key").agg(F.max("seq").alias("m")).collect()
    }
    got = {r["key"]: r["dateid"] for r in latest.select("key", "dateid").collect()}
    assert got == expect


def test_mutate_table_reaches_terminal_state(spark, runner):
    cl = mk_changelog(spark)
    runner.run_once(cl)
    stored = spark.read.parquet(runner.table_path("events_state"))
    # terminal op per key in the changelog decides presence
    last = (
        cl.filter("table_name = 'events_state'")
        .withColumn("rn", F.expr("row_number() over (partition by key order by seq desc)"))
        .filter("rn = 1")
    )
    expect = {r["key"] for r in last.filter("op <> 'D'").collect()}
    got = {r["key"] for r in stored.select("key").collect()}
    assert got == expect


def test_old_delete_rejection_counted(spark, tmp_path):
    runner = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "wh"), old_delete_days=31)
    )
    rows = [
        ("I", "events_state", 1, 1, 0, T0, 1.0, "e"),
        ("D", "events_state", 1, 2, 0, T0 - dt.timedelta(days=60), 0.0, "e"),  # old delete
        ("I", "events_state", 2, 3, 0, T0, 2.0, "e"),
    ]
    cl = spark.createDataFrame(rows, SCHEMA)
    r = runner.run_once(cl)
    assert r.rows_rejected_old_delete == 1
    stored = spark.read.parquet(runner.table_path("events_state"))
    assert {x["key"] for x in stored.collect()} == {1, 2}  # key 1 survived (F6)
    # and the consumed position still advanced past the rejected row
    assert runner.resume_seq() == 3


def test_at_least_once_replay_absorbed_by_dedup(spark, tmp_path):
    """Crash between data write and ledger write => replay => duplicates
    in the versioned store; dedup-at-read must hide them (SURVEY §2.7)."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    cl = mk_changelog(spark)
    runner.run_once(cl)
    # simulate the crash-replay: force re-apply of the last slice
    stored_before = spark.read.parquet(runner.table_path("visits")).count()
    import shutil

    shutil.rmtree(runner.ledger_path)           # lose the ledger => replay
    runner.run_once(cl)
    stored_after = spark.read.parquet(runner.table_path("visits"))
    assert stored_after.count() == 2 * stored_before  # duplicates by design
    latest = latest_by_key(stored_after, ["key"], "dateid", form="rank")
    # dedup-at-read: exactly one logical current row per key (the replay
    # ties collapse because the duplicated (key, dateid) rows are
    # value-identical) — visits keys with any I/U event: 0,2,6,8
    # (key 4 only ever sees deletes in this fixture)
    assert latest.dropDuplicates(["key", "dateid"]).count() == 4


def test_poison_rows_quarantined_not_fatal(spark, tmp_path):
    """B3: rows violating schema invariants divert to the reject table
    (with a reason) and the rest of the batch applies normally."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    cl = mk_changelog(spark, n=50)
    poison = spark.createDataFrame(
        [
            ("X", "visits", 7, 1000, 20, T0, 1.0, "e"),          # unknown op
            ("I", "visits", None, 1001, 20, T0, 1.0, "e"),       # null key
            ("I", "visits", 8, None, 20, T0, 1.0, "e"),          # null position
        ],
        SCHEMA,
    )
    r = runner.run_once(cl.unionByName(poison))
    assert r.rows_quarantined == 3
    assert r.rows_applied > 0
    rej = spark.read.parquet(str(tmp_path / "wh" / "rejects"))
    reasons = {row["reject_reason"] for row in rej.collect()}
    assert reasons == {"unknown_op", "null_key:key", "null_position"}


def test_degraded_mode_shrinks_budget(tmp_path):
    cfg = RunConfig(target_dir=str(tmp_path), batch_row_budget=1_000_000, degraded=True)
    assert cfg.effective_row_budget() == 1010  # reference: size // 1000 + 10
    cfg2 = RunConfig(target_dir=str(tmp_path), batch_row_budget=1_000_000)
    assert cfg2.effective_row_budget() == 1_000_000


def test_run_report_formatting_and_redaction(spark, runner):
    from mysql2clickhouse_spark.report import (
        format_run_report,
        redact_secrets,
        should_notify,
    )

    r = runner.run_once(mk_changelog(spark, n=20))
    txt = format_run_report(r)
    assert "SUCCESS" in txt and "rows applied" in txt
    err = format_run_report(r, error="connect failed: password=hunter2 token: abc123")
    assert "hunter2" not in err and "abc123" not in err and "ERROR" in err
    assert redact_secrets('api_key="sk-999"') == 'api_key="***"'
    assert should_notify(False, 0.0)
    assert not should_notify(True, 1.0)
    assert should_notify(True, 5.0)


def _partition_manifest(path):
    """(relpath, size, mtime_ns) of every data file under a partition dir."""
    import os

    out = []
    for root, _, names in os.walk(path):
        for n in sorted(names):
            p = os.path.join(root, n)
            st = os.stat(p)
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return sorted(out)


def test_compact_table_rewrites_only_in_window_partitions(spark, runner):
    """O12 write side: the dedup compaction job touches ONLY the listed
    yyyymm partitions — out-of-window partition files stay byte- and
    mtime-identical — and its read is partition-pruned."""
    import os

    # two months of versioned traffic: even i → 2024-03, odd i → 2024-04
    rows = []
    for i in range(120):
        key = i % 6
        ts = T0 + dt.timedelta(days=35 * (i % 2), minutes=i)
        rows.append(("I" if i < 60 else "U", "visits", key, i, 0, ts, float(i), "e"))
    cl = spark.createDataFrame(rows, SCHEMA)
    runner.run_once(cl)

    path = runner.table_path("visits")
    before_mar = _partition_manifest(os.path.join(path, "yyyymm=202403"))
    full_before = spark.read.parquet(path)
    latest_before = {
        (r["key"], r["value"])
        for r in latest_by_key(full_before, ["key"], "dateid").collect()
    }
    dups_apr_before = (
        full_before.filter(F.col("yyyymm") == 202404).groupBy("key")
        .count().filter(F.col("count") > 1).count()
    )
    assert dups_apr_before > 0  # superseded versions exist pre-compaction

    # the pruned read must land in PartitionFilters, not a post-scan Filter
    plan = (
        spark.read.parquet(path).filter(F.col("yyyymm").isin([202404]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "yyyymm" in plan.split("PartitionFilters", 1)[1][:200]

    stats = runner.compact_table("visits", [202404], keys=["key"])
    assert stats["rows_removed"] > 0

    # out-of-window partition: untouched bytes
    assert _partition_manifest(os.path.join(path, "yyyymm=202403")) == before_mar

    full_after = spark.read.parquet(path)
    # in-window: exactly one version per key remains
    apr = full_after.filter(F.col("yyyymm") == 202404)
    assert apr.groupBy("key").count().filter(F.col("count") > 1).count() == 0
    # out-of-window: superseded versions still there (not compacted)
    mar = full_after.filter(F.col("yyyymm") == 202403)
    assert mar.groupBy("key").count().filter(F.col("count") > 1).count() > 0
    # latest-per-key view is value-preserving across the compaction
    latest_after = {
        (r["key"], r["value"])
        for r in latest_by_key(full_after, ["key"], "dateid").collect()
    }
    assert latest_after == latest_before


def test_compact_table_dry_run_and_mutate_noop(spark, tmp_path):
    import os

    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    cl = mk_changelog(spark, n=100)
    runner.run_once(cl)
    path = runner.table_path("visits")
    manifest = _partition_manifest(path)

    dry = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh"), dry_run=True))
    stats = dry.compact_table("visits", [202403], keys=["key"])
    assert stats["rows_before"] > 0 and stats["rows_removed"] > 0
    assert _partition_manifest(path) == manifest  # dry run wrote nothing

    # mutate-mode tables hold latest-state only — compaction is a no-op
    assert runner.compact_table("events_state", [202403])["rows_before"] == 0


def test_run_session_budget_loop_and_gated_maintenance(spark, tmp_path):
    """Entry points A+C: the session loops micro-batches until EOF under
    the wall-clock budget; end-of-run compaction runs ONLY when
    max_minutes > 10 (the reference's gate, matomo2clickhouse.py:756)."""
    import os

    runner = ReplicationRunner(
        spark,
        RunConfig(target_dir=str(tmp_path / "wh"), batch_row_budget=60),
    )
    cl = mk_changelog(spark, n=200, files=4)

    # short run (<= 10 min): catches up in multiple bounded batches but
    # must NOT compact
    reports = runner.run_session(
        cl, max_minutes=5, compact_months=[202403], compact_tables={"visits": ["key"]}
    )
    assert runner.resume_seq() == 199
    assert len(reports) >= 4  # 200 rows / 60-row budget + the EOF probe
    assert reports[-1].rows_applied == 0
    path = runner.table_path("visits")
    manifest_short = _partition_manifest(path)
    dups = (
        spark.read.parquet(path).groupBy("key").count().filter(F.col("count") > 1).count()
    )
    assert dups > 0  # superseded versions still present — gate held

    # long run (> 10 min): already at EOF, so one empty batch, then the
    # maintenance gate opens and compaction rewrites the window
    runner.run_session(
        cl, max_minutes=50, compact_months=[202403], compact_tables={"visits": ["key"]}
    )
    assert _partition_manifest(path) != manifest_short
    dups_after = (
        spark.read.parquet(path).groupBy("key").count().filter(F.col("count") > 1).count()
    )
    assert dups_after == 0

    # maintenance also refreshed the daily MV for the compacted window,
    # and post-compaction it equals the rollup of the deduped store
    agg = spark.read.parquet(path + "__daily").select(
        "yyyymm", "day", "n_rows", "sum_value"
    )
    expect = (
        spark.read.parquet(path)
        .groupBy("yyyymm", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
    )
    assert agg.exceptAll(expect).count() == 0
    assert expect.exceptAll(agg).count() == 0


def test_mutate_touches_only_affected_partitions(spark, tmp_path):
    """Scale contract of mutate mode: a batch that touches keys in one
    yyyymm partition must leave every other partition's files byte- and
    mtime-identical (no full-table rewrite per batch)."""
    import os

    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    # seed state: keys 1-4 in 2024-03, keys 11-14 in 2024-04
    seed = [
        ("I", "events_state", k, k, 0, T0 + dt.timedelta(days=35 * (k > 10)), float(k), "e")
        for k in [1, 2, 3, 4, 11, 12, 13, 14]
    ]
    runner.run_once(spark.createDataFrame(seed, SCHEMA))
    path = runner.table_path("events_state")
    assert os.path.isdir(os.path.join(path, "yyyymm=202403"))
    before_mar = _partition_manifest(os.path.join(path, "yyyymm=202403"))

    # batch 2: update key 12, delete key 13 — both live in 2024-04 only
    batch2 = [
        ("U", "events_state", 12, 100, 1, T0 + dt.timedelta(days=36), 99.0, "e"),
        ("D", "events_state", 13, 101, 1, T0 + dt.timedelta(days=36), 0.0, "e"),
    ]
    r = runner.run_once(spark.createDataFrame(batch2, SCHEMA))
    assert r.rows_applied > 0

    # March partition: untouched bytes
    assert _partition_manifest(os.path.join(path, "yyyymm=202403")) == before_mar
    # April partition: merged state (12 updated, 13 gone, 11/14 kept)
    state = {r["key"]: r["value"] for r in spark.read.parquet(path).collect()}
    assert state[12] == 99.0 and 13 not in state
    assert set(state) == {1, 2, 3, 4, 11, 12, 14}


def test_mutate_delete_moves_key_across_partitions(spark, tmp_path):
    """A key whose latest event lands in a NEW month must vanish from its
    old partition (prior-version partitions are found via the key
    semi-join and re-folded)."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    seed = [("I", "events_state", 1, 1, 0, T0, 1.0, "e")]
    runner.run_once(spark.createDataFrame(seed, SCHEMA))
    move = [("U", "events_state", 1, 50, 1, T0 + dt.timedelta(days=40), 2.0, "e")]
    runner.run_once(spark.createDataFrame(move, SCHEMA))
    state = spark.read.parquet(runner.table_path("events_state"))
    rows = [(r["key"], r["value"], r["yyyymm"]) for r in state.collect()]
    assert rows == [(1, 2.0, 202404)]  # one row, in the new month only


def test_mutate_bootstrap_without_month_column_is_refused(spark, tmp_path):
    """Mutate tables have one layout, monthly ``yyyymm`` partitions: a
    snapshot with neither ``ts`` nor the policy's ``partition_col``
    cannot be laid out, so bootstrap refuses it before writing anything
    (neither the table nor the ledger's BOOTSTRAP row)."""
    import os

    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    snap = spark.createDataFrame([(1, "a"), (2, "b")], "idsite bigint, name string")
    with pytest.raises(ValueError, match="yyyymm"):
        runner.bootstrap_from_snapshot("site", snap, as_of_seq=5)
    assert not os.path.exists(tmp_path / "wh")
    assert runner.resume_seq() is None


def _slice(spark, rows, tbl):
    """One table's slice of a batch, as ``run_once`` hands it to the
    per-table apply."""
    return (
        spark.createDataFrame(rows, SCHEMA)
        .filter(F.col("table_name") == tbl)
        .drop("table_name")
    )


def test_all_delete_batch_empties_mutate_table_then_refills(spark, tmp_path):
    """An all-delete batch leaves a mutate table that reads back as zero
    rows WITH its schema; the next batch moves partitions back in and no
    flat file stays beside the ``yyyymm=`` dirs."""
    import os

    from mysql2clickhouse_spark.catalog import REGISTRY

    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    policy, path = REGISTRY["events_state"], runner.table_path("events_state")

    def apply(rows):
        return runner._apply_mutate_table(
            "events_state", policy, _slice(spark, rows, "events_state")
        )

    assert apply([("I", "events_state", k, k, 0, T0, float(k), "e") for k in (1, 2)]) == 2
    assert apply([("D", "events_state", k, 10 + k, 1, T0, 0.0, "e") for k in (1, 2)]) == 0
    emptied = spark.read.parquet(path)
    assert emptied.count() == 0
    assert {"key", "value", "seq", "yyyymm"} <= set(emptied.columns)

    later = T0 + dt.timedelta(days=40)
    assert apply([("I", "events_state", 7, 20, 2, later, 7.0, "e")]) == 1
    entries = os.listdir(path)
    assert "yyyymm=202404" in entries
    assert not [e for e in entries if e.endswith(".parquet")]
    assert [(x["key"], x["yyyymm"]) for x in spark.read.parquet(path).collect()] == [
        (7, 202404)
    ]


def test_delete_only_first_batch_creates_no_versioned_table(spark, tmp_path):
    """A versioned table whose first write has zero rows does not exist,
    rather than an unreadable dir holding only ``_SUCCESS``."""
    import os

    from mysql2clickhouse_spark.catalog import REGISTRY

    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    rows = [("D", "visits", k, k, 0, T0, 0.0, "e") for k in (2, 4)]
    stats = runner._apply_table("visits", REGISTRY["visits"], _slice(spark, rows, "visits"), T0)
    assert stats["rows"] == 0
    assert not os.path.exists(runner.table_path("visits"))


def test_dry_run_counts_equal_real_run(spark, tmp_path):
    """``dry_run`` counts each write's frame instead of writing it: the
    per-table rows of both apply modes must equal the real run's over
    the same batch, and the dry run leaves no table behind."""
    import os

    from mysql2clickhouse_spark.catalog import REGISTRY

    rows = [tuple(r) for r in mk_changelog(spark, n=40).collect()]
    wh = str(tmp_path / "wh")

    def rows_by_table(dry_run):
        r = ReplicationRunner(spark, RunConfig(target_dir=wh, dry_run=dry_run))
        return {
            tbl: r._apply_table(tbl, REGISTRY[tbl], _slice(spark, rows, tbl), T0)["rows"]
            for tbl in ("visits", "events_state")
        }

    dry = rows_by_table(True)
    assert not os.path.exists(wh)
    real = rows_by_table(False)
    assert dry == real and all(real.values())


def test_unregistered_table_defaults_to_append(spark, tmp_path):
    """An unregistered table must take the append-mode DEFAULT_POLICY —
    never the mutate path's read-modify-rewrite."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    rows = [
        ("I", "mystery", 1, 1, 0, T0, 1.0, "e"),
        ("U", "mystery", 1, 2, 0, T0, 2.0, "e"),
        ("D", "mystery", 1, 3, 0, T0, 0.0, "e"),
    ]
    r = runner.run_once(spark.createDataFrame(rows, SCHEMA))
    assert r.tables["mystery"]["mode"] == "append"
    stored = spark.read.parquet(runner.table_path("mystery"))
    # versioned append: I and U kept as version rows, D ignored
    assert stored.count() == 2 and "dateid" in stored.columns


def test_old_delete_guard_scoped_to_guarded_tables(spark, tmp_path):
    """F6 applies ONLY to tables whose policy sets not_delete_old_col
    (reference CONST_TBL_NOT_DELETE_OLD, _settings.py:132-138): an old
    DELETE on an unguarded mutate dim ('site') must be APPLIED."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    rows = [
        ("I", "site", 1, 1, 0, T0, 1.0, "e"),
        ("I", "site", 2, 2, 0, T0, 2.0, "e"),
        # recent anchor row keeps the batch clock at T0
        ("I", "events_state", 9, 3, 0, T0, 9.0, "e"),
        # old delete on the UNGUARDED site table: must be applied
        ("D", "site", 1, 4, 0, T0 - dt.timedelta(days=60), 0.0, "e"),
    ]
    r = runner.run_once(spark.createDataFrame(rows, SCHEMA))
    assert r.rows_rejected_old_delete == 0
    assert r.tables["site"]["rejected_old_deletes"] == 0
    site = spark.read.parquet(runner.table_path("site"))
    assert {x["key"] for x in site.collect()} == {2}  # key 1 deleted


def test_null_table_name_quarantined(spark, tmp_path):
    """A NULL table_name row cannot be routed; it must land in the
    rejects table instead of being consumed and silently dropped."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    rows = [
        ("I", "events_state", 1, 1, 0, T0, 1.0, "e"),
        ("I", None, 2, 2, 0, T0, 2.0, "e"),
    ]
    r = runner.run_once(spark.createDataFrame(rows, SCHEMA))
    assert r.rows_quarantined == 1
    rej = spark.read.parquet(str(tmp_path / "wh" / "rejects"))
    assert [x["reject_reason"] for x in rej.collect()] == ["null_table_name"]


def test_poison_counted_even_when_no_new_files(spark, tmp_path):
    """A backlog consisting ONLY of poison rows must still be counted
    and written to the rejects table (the re-surface-every-run
    contract), not vanish behind the empty-batch early return."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    only_poison = spark.createDataFrame(
        [("I", "visits", None, None, None, T0, 1.0, "e")], SCHEMA
    )
    r = runner.run_once(only_poison)
    assert r.rows_applied == 0 and r.rows_quarantined == 1
    rej = spark.read.parquet(str(tmp_path / "wh" / "rejects"))
    assert rej.count() == 1


def test_read_ledger_missing_vs_present(spark, tmp_path):
    """Missing ledger (first run) => empty frame, resume None; once a
    run lands, the ledger read must reflect it (no blanket exception
    swallowing resetting the resume point)."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    assert runner.resume_seq() is None
    runner.run_once(mk_changelog(spark, n=20))
    assert runner.resume_seq() == 19
    assert runner.read_ledger().count() > 0


def test_schema_rename_places_table_under_namespace(spark, tmp_path):
    """P11 — a policy with target_namespace lands its table under the
    renamed namespace directory (binlog2sql_util.py:44-49 analog)."""
    import os

    from mysql2clickhouse_spark.catalog import REGISTRY, TablePolicy

    REGISTRY["renamed_tbl"] = TablePolicy(
        name="renamed_tbl",
        key_cols=("key",),
        order_cols=("key", "seq"),
        apply_mode="insert_as_update",
        target_namespace="CH_matomo_dbname",
    )
    try:
        runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
        rows = [("I", "renamed_tbl", 1, 1, 0, T0, 1.0, "e")]
        runner.run_once(spark.createDataFrame(rows, SCHEMA))
        expected = str(tmp_path / "wh" / "tables" / "CH_matomo_dbname" / "renamed_tbl")
        assert runner.table_path("renamed_tbl") == expected
        assert os.path.isdir(expected)
        assert spark.read.parquet(expected).count() == 1
    finally:
        REGISTRY.pop("renamed_tbl", None)


def test_run_session_poison_does_not_spin(spark, tmp_path):
    """Unfixed poison rows are re-quarantined every run (like the
    reference's poison statements); the session loop must still
    terminate at EOF instead of spinning until the deadline."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    cl = mk_changelog(spark, n=40)
    poison = spark.createDataFrame([("X", "visits", 7, 1000, 20, T0, 1.0, "e")], SCHEMA)
    reports = runner.run_session(cl.unionByName(poison), max_minutes=5)
    assert len(reports) <= 3  # catch-up batch(es) + one no-progress probe
    # the poison row is diverted pre-slice; the good stream is applied
    assert runner.resume_seq() == 39
    assert reports[0].rows_quarantined == 1  # surfaced while progressing


def test_refresh_daily_aggregate_touches_only_given_months(spark, runner):
    """Incremental MV maintenance: refresh after a second batch that
    only touches later months must leave the untouched month's
    aggregate partition byte-identical, and the maintained rollup must
    equal a from-scratch recompute of current state."""
    import os

    def files_snapshot(d):
        out = {}
        for root, _, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    out[p] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    # batch 1: March rows for visits
    rows1 = [
        ("I", "visits", i % 6, i, 0, T0 + dt.timedelta(hours=i), float(i), "e")
        for i in range(60)
    ]
    runner.run_once(spark.createDataFrame(rows1, SCHEMA))
    agg_path = runner.table_path("visits") + "__daily"
    r1 = runner.refresh_daily_aggregate("visits", [202403])
    assert r1["rows"] > 0
    march = {
        p: s
        for p, s in files_snapshot(agg_path).items()
        if "yyyymm=202403" in p
    }
    assert march

    # batch 2: April-only rows (seq continues past batch 1)
    t1 = dt.datetime(2024, 4, 2)
    rows2 = [
        ("U", "visits", i % 6, 100 + i, 1, t1 + dt.timedelta(hours=i), float(i), "e")
        for i in range(24)
    ]
    runner.run_once(spark.createDataFrame(rows2, SCHEMA))
    runner.refresh_daily_aggregate("visits", [202404])

    # March aggregate partition: untouched bytes
    assert {
        p: s
        for p, s in files_snapshot(agg_path).items()
        if "yyyymm=202403" in p
    } == march

    # maintained rollup == from-scratch recompute over the stored
    # version rows (append-only => months are immutable once rolled up)
    stored = spark.read.parquet(runner.table_path("visits"))
    expect = (
        stored.groupBy("yyyymm", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
    )
    got = spark.read.parquet(agg_path).select("yyyymm", "day", "n_rows", "sum_value")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_bootstrap_plus_replay_equals_full_replay(spark, tmp_path):
    """Initial-load bootstrap: snapshot-at-S + incremental replay of
    seq > S must reach the same state as a full-history replay — for
    both a versioned (insert_as_update) and a mutate table. The seeded
    BOOTSTRAP ledger row is what makes run_once skip the history."""
    from mysql2clickhouse_spark.operators.apply import apply_mutate

    cl = mk_changelog(spark, n=200, files=4)
    S = 99

    ra = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "full")))
    ra.run_once(cl)

    rb = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "boot")))
    head = cl.filter(F.col("seq") <= S)
    for tbl in ("visits", "events_state"):
        # source-table state at S: in-place replay of the head slice
        snap = apply_mutate(head.filter(F.col("table_name") == tbl), ["key"]).drop(
            "table_name"
        )
        rb.bootstrap_from_snapshot(tbl, snap, as_of_seq=S)
    assert rb.resume_seq() == S
    r = rb.run_once(cl)
    assert r.start_seq == S and r.rows_applied > 0

    # versioned table: latest row per key must agree (dateid orders the
    # snapshot version below every replayed event)
    for tbl in ("visits", "events_state"):
        a = spark.read.parquet(ra.table_path(tbl))
        b = spark.read.parquet(rb.table_path(tbl))
        if tbl == "visits":
            a = latest_by_key(a, ["key"], "dateid")
            b = latest_by_key(b, ["key"], "dateid")
        a = a.select("key", "value")
        b = b.select("key", "value")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compact_small_files_packs_without_changing_rows(spark, tmp_path):
    """O9 file compaction: many tiny appended part files bin-pack into
    few files; the row set (including versions) is bit-identical and
    out-of-window partitions keep their exact files."""
    import os

    runner = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "wh"), batch_row_budget=25)
    )
    # one month of visits rows, applied across many budget-bounded runs
    rows = [
        ("I", "visits", i % 7, i, i // 25, T0 + dt.timedelta(minutes=i), float(i), "e")
        for i in range(100)
    ] + [
        # second month, single run's worth — stays out of the window
        ("I", "visits", i % 7, 200 + i, 8, dt.datetime(2024, 4, 2, 0, i), float(i), "e")
        for i in range(20)
    ]
    cl = spark.createDataFrame(rows, SCHEMA)
    runner.run_session(cl, max_minutes=5)

    path = runner.table_path("visits")
    before = spark.read.parquet(path).orderBy("seq").collect()

    def files_in(month):
        d = os.path.join(path, f"yyyymm={month}")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    march_before, april_before = files_in(202403), files_in(202404)
    assert len(march_before) > 2  # small-file debris accumulated

    stats = runner.compact_small_files("visits", [202403], target_rows_per_file=1000)
    assert stats["files_after"] < stats["files_before"]
    assert len(files_in(202403)) < len(march_before)
    assert files_in(202404) == april_before  # untouched bytes
    after = spark.read.parquet(path).orderBy("seq").collect()
    assert after == before


def test_schema_drift_report_and_strict(spark, tmp_path):
    """freeze_schema analog: a batch whose schema diverges from the
    stored table is reported in `report` mode and halts the run in
    `strict` mode (the reference's "No such column" hard-stop); the
    unchanged-schema path stays silent."""
    from mysql2clickhouse_spark.operators.drift import SchemaDriftError

    cfg = RunConfig(target_dir=str(tmp_path / "wh"), schema_drift="report")
    runner = ReplicationRunner(spark, cfg)
    runner.run_once(mk_changelog(spark, n=40))
    # same shape again: no drift key in the stats
    r = runner.run_once(mk_changelog(spark, n=80))
    assert all("schema_drift" not in t for t in r.tables.values())

    # evolved source: value retyped to string + a new column
    rows = [("I", "visits", 1, 500, 9, T0, "9.0", "e", "extra")]
    evolved = spark.createDataFrame(
        rows,
        "op string, table_name string, key bigint, seq bigint, file_seq bigint,"
        " ts timestamp, value string, event_type string, new_col string",
    )
    r = runner.run_once(evolved)
    drift = dict((c, s) for c, s, *_ in r.tables["visits"]["schema_drift"])
    assert drift == {"new_col": "new_in_source", "value": "type_changed"}

    strict = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "wh"), schema_drift="strict")
    )
    evolved2 = evolved.withColumn("seq", F.col("seq") + 1)
    with pytest.raises(SchemaDriftError):
        strict.run_once(evolved2)


def test_stale_staging_dirs_do_not_corrupt_next_run(spark, tmp_path):
    """Crash recovery: a maintenance job that died between its staging
    write and the partition swap leaves a ``__compact`` /
    ``__filecompact`` / ``__staging`` dir behind. The next run of any
    job must overwrite the leftover and land the correct state — no
    junk rows, no half-swapped partitions."""
    import os

    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    runner.run_once(mk_changelog(spark, n=100, files=2))
    path = runner.table_path("visits")
    before = spark.read.parquet(path).orderBy("seq").collect()

    # plant stale staging debris with junk content
    for suffix in ("__compact", "__filecompact", "__staging"):
        junk = spark.createDataFrame([(999999,)], "seq bigint")
        junk.write.mode("overwrite").parquet(path + suffix + "/yyyymm=209901")

    # compaction's own semantics: latest version per key survives
    latest = {}
    for r in before:
        if r["key"] not in latest or r["dateid"] > latest[r["key"]]:
            latest[r["key"]] = r["dateid"]
    expected = set(latest.values())

    runner.compact_table("visits", [202403], keys=["key"])
    after = spark.read.parquet(path).orderBy("seq").collect()
    assert {r["seq"] for r in after} == expected
    assert not os.path.exists(path + "__compact")
    # junk from the planted dirs must never surface in the live table
    runner.compact_small_files("visits", [202403], target_rows_per_file=10_000)
    assert not os.path.exists(path + "__filecompact")
    final = spark.read.parquet(path).orderBy("seq").collect()
    assert {r["seq"] for r in final} == expected
    assert not any(d.startswith("yyyymm=2099") for d in os.listdir(path))


def test_concurrent_table_apply_equals_serial(spark, tmp_path):
    """table_concurrency > 1 submits per-table applies as concurrent
    Spark jobs; the resulting stores and report totals must be
    indistinguishable from the serial loop."""
    cl = mk_changelog(spark, n=300, files=3)
    serial = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "ser"))
    )
    conc = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "con"), table_concurrency=4)
    )
    rs, rc = serial.run_once(cl), conc.run_once(cl)
    assert rs.rows_applied == rc.rows_applied
    assert rs.tables == rc.tables
    for tbl in ("visits", "events_state"):
        a = spark.read.parquet(serial.table_path(tbl))
        b = spark.read.parquet(conc.table_path(tbl))
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    # resume points advance identically
    assert serial.resume_seq() == conc.resume_seq()


def test_purge_changelog_removes_only_consumed_eligible_files(spark, tmp_path):
    """Q6 executed: with a file_seq-partitioned changelog, eligible
    partitions' files are physically gone, ineligible ones are untouched
    bytes, resume still works, and dry-run deletes nothing."""
    import os

    cl_dir = str(tmp_path / "cl")
    # 4 binlog files spanning ~45 days => with keep_days=10 the oldest
    # files age out; the newest file is always guarded (progress <)
    rows = []
    for i in range(200):
        key = i % 10
        op = "I" if i % 5 in (0, 1) else ("U" if i % 5 in (2, 3) else "D")
        tbl = "visits" if key % 2 == 0 else "events_state"
        rows.append(
            (op, tbl, key, i, i // 50, T0 + dt.timedelta(hours=5 * i), float(i), "e")
        )
    (
        spark.createDataFrame(rows, SCHEMA)
        .write.mode("overwrite")
        .partitionBy("file_seq")
        .parquet(cl_dir)
    )
    runner = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "wh"), max_files_per_run=10)
    )
    cl = spark.read.parquet(cl_dir)
    runner.run_once(cl)  # consume everything => ledger progress at max ts
    resume_before = runner.resume_seq()

    def files_of(fseq):
        d = os.path.join(cl_dir, f"file_seq={fseq}")
        return _partition_manifest(d) if os.path.isdir(d) else []

    keep_manifest = {f: files_of(f) for f in (2, 3)}

    dry = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "wh"), dry_run=True)
    )
    st = dry.purge_changelog(cl_dir, keep_days=10)
    assert st["eligible_file_seqs"] == [0, 1]
    assert st["files_removed"] > 0  # reported ...
    assert files_of(0) and files_of(1)  # ... but nothing deleted

    st = runner.purge_changelog(cl_dir, keep_days=10)
    assert st["eligible_file_seqs"] == [0, 1]
    assert st["files_removed"] > 0 and st["files_kept_mixed"] == 0
    assert not files_of(0) and not files_of(1)  # eligible: physically gone
    for f in (2, 3):  # ineligible: untouched bytes
        assert files_of(f) == keep_manifest[f]
    # the purged store still reads and the resume point is unchanged
    assert spark.read.parquet(cl_dir).count() == 100
    assert runner.resume_seq() == resume_before


def test_purge_changelog_keeps_mixed_files_intact(spark, tmp_path):
    """Unpartitioned (single-file) changelog: a physical file holding
    both eligible and ineligible file_seqs must be kept, not split."""
    cl_dir = str(tmp_path / "cl")
    rows = []
    for i in range(200):
        rows.append(
            ("I", "visits", i % 10, i, i // 50, T0 + dt.timedelta(hours=5 * i), float(i), "e")
        )
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(cl_dir)
    runner = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "wh"), max_files_per_run=10)
    )
    runner.run_once(spark.read.parquet(cl_dir))
    st = runner.purge_changelog(cl_dir, keep_days=10)
    assert st["eligible_file_seqs"] == [0, 1]
    assert st["files_removed"] == 0 and st["files_kept_mixed"] == 1
    assert spark.read.parquet(cl_dir).count() == 200  # nothing lost


def test_compact_ledger_folds_files_and_keeps_resume(spark, tmp_path):
    """N runs append N ledger files; compaction folds them to ONE with
    resume_seq invariant; the Q12 prune option drops old rows."""
    import os

    runner = ReplicationRunner(
        spark,
        RunConfig(target_dir=str(tmp_path / "wh"), max_files_per_run=1),
    )
    cl = mk_changelog(spark, n=200, files=4)
    for _ in range(4):
        runner.run_once(cl)  # one file per run => 4 ledger appends

    def ledger_files():
        return [
            f for f in os.listdir(runner.ledger_path) if f.endswith(".parquet")
        ]

    assert len(ledger_files()) == 4
    resume_before = runner.resume_seq()
    rows_before = runner.read_ledger().count()

    dry = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "wh"), dry_run=True)
    )
    dry.compact_ledger()
    assert len(ledger_files()) == 4  # dry-run rewrote nothing

    st = runner.compact_ledger()
    assert st["rows"] == rows_before and st["files_after"] == 1
    assert len(ledger_files()) == 1
    assert runner.resume_seq() == resume_before
    assert runner.read_ledger().count() == rows_before

    # prune: drop everything created before an impossible future cutoff
    # EXCEPT nothing — then a real cutoff that keeps only the newest rows
    st = runner.compact_ledger(keep_created_after="2024-03-01 02:00:00")
    assert st["rows"] < rows_before
    assert runner.resume_seq() == resume_before  # argmax row is newest


def test_verify_replication_matches_then_flags_corruption(spark, tmp_path):
    """Source-vs-target integrity check (reference README.md:259-278):
    after a clean replication every table's checksums agree; after the
    target is tampered with, ONLY the tampered table is flagged."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    cl = mk_changelog(spark)
    runner.run_once(cl)

    verdicts = {v["table_name"]: v for v in runner.verify_replication(cl)}
    assert set(verdicts) == {"visits", "events_state"}
    assert all(v["digest_match"] and v["count_match"] for v in verdicts.values())

    # tamper: duplicate one stored state row of the mutate-mode table
    # (append through partitionBy so the row lands inside a partition
    # dir the reader actually picks up)
    path = runner.table_path("events_state")
    stored = spark.read.parquet(path)
    extra = stored.limit(1).withColumn("value", F.col("value") + 1000.0)
    extra.write.mode("append").partitionBy("yyyymm").parquet(path)

    verdicts = {v["table_name"]: v for v in runner.verify_replication(cl)}
    assert not verdicts["events_state"]["count_match"]
    assert not verdicts["events_state"]["digest_match"]
    assert verdicts["visits"]["digest_match"]  # isolation: untouched table stays green


def test_verify_replication_value_corruption_caught_by_digest(spark, tmp_path):
    """A same-count value edit slips past the row count but not the
    digest accumulators (the pt-table-checksum property)."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    cl = mk_changelog(spark)
    runner.run_once(cl)

    path = runner.table_path("events_state")
    stored = spark.read.parquet(path).cache()
    stored.count()
    edited = stored.withColumn(
        "value", F.when(F.col("key") == 1, F.col("value") + 7.0).otherwise(F.col("value"))
    )
    staging = path + "__edit"
    edited.write.mode("overwrite").parquet(staging)
    import shutil
    shutil.rmtree(path)
    shutil.move(staging, path)
    stored.unpersist()

    verdicts = {v["table_name"]: v for v in runner.verify_replication(cl)}
    assert verdicts["events_state"]["count_match"]
    assert not verdicts["events_state"]["digest_match"]


def test_verify_replication_missing_table_reported(spark, tmp_path):
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    cl = mk_changelog(spark)
    runner.run_once(cl)
    import shutil
    shutil.rmtree(runner.table_path("visits"))
    verdicts = {v["table_name"]: v for v in runner.verify_replication(cl)}
    assert verdicts["visits"]["error"] == "target table missing"
    assert not verdicts["visits"]["digest_match"]
    # n_src keeps its folded-expected-state meaning on the missing-table
    # row too: visits keys with I/U versions are 0,2,6,8 (key 4 only
    # ever sees deletes) — four latest-state rows, not the ~100 raw
    # changelog events behind them
    assert verdicts["visits"]["n_src"] == 4
    assert verdicts["visits"]["n_dst"] == 0


def test_verify_replication_delete_only_table_still_gets_verdict(spark, tmp_path):
    """Contract: one verdict dict per routed table, even when a table's
    expected fold is EMPTY (delete-only changelog under the mutate
    policy — deletes are terminal) and its stored side is empty or
    missing.  Such a table appears in NEITHER checksum frame, so the
    verdict list is seeded from the table list, not the compare rows;
    previously the row (and its missing-table error) silently vanished."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    rows = []
    for i in range(40):
        # visits: normal I/U mix; events_state (mutate policy): ONLY
        # deletes -> expected fold is the empty state
        if i % 2 == 0:
            rows.append(("I", "visits", i % 6, i, 0,
                         T0 + dt.timedelta(minutes=i), float(i), "e"))
        else:
            rows.append(("D", "events_state", i % 6, i, 0,
                         T0 + dt.timedelta(minutes=i), float(i), "e"))
    cl = spark.createDataFrame(rows, SCHEMA)

    verdicts = {v["table_name"]: v for v in runner.verify_replication(cl)}
    assert set(verdicts) == {"visits", "events_state"}
    es = verdicts["events_state"]
    # both states empty = vacuously consistent counts/digests, but the
    # missing target is still surfaced as the error
    assert es["n_src"] == 0 and es["n_dst"] == 0
    assert es["count_match"] and es["digest_match"]
    assert es["error"] == "target table missing"
    # the non-empty table keeps its pre-existing missing-target shape
    assert verdicts["visits"]["n_src"] > 0
    assert verdicts["visits"]["error"] == "target table missing"


def _mk_changelog_tables(spark, tables, n=240):
    rows = []
    for i in range(n):
        key = i % 12
        op = "I" if i % 5 in (0, 1) else ("U" if i % 5 in (2, 3) else "D")
        tbl = tables[key % len(tables)]
        rows.append((op, tbl, key, i, 0, T0 + dt.timedelta(minutes=i), float(i), "e"))
    return spark.createDataFrame(rows, SCHEMA)


def test_verify_replication_job_count_constant_in_table_count(spark, tmp_path):
    """The integrity check is a SINGLE PASS: tables fold grouped by
    policy class with table_name as a grouping column, all groups'
    checksum frames union into one compared collect.  The Spark job
    count must therefore NOT grow with the number of tables — at a
    catalog of hundreds, per-table sequential jobs over the same
    changelog is exactly the shape this pins out."""
    sc = spark.sparkContext

    def jobs_for(tables, slot):
        cl = _mk_changelog_tables(spark, tables)
        runner = ReplicationRunner(
            spark, RunConfig(target_dir=str(tmp_path / f"wh{slot}"))
        )
        runner.run_once(cl)
        sc.setJobGroup(f"verify{slot}", "job-count pin")
        try:
            verdicts = runner.verify_replication(cl)
        finally:
            sc.setJobGroup(None, None)
        assert len(verdicts) == len(tables)
        assert all(v["digest_match"] for v in verdicts)
        return len(sc.statusTracker().getJobIdsForGroup(f"verify{slot}"))

    small = jobs_for(["visits", "events_state"], 0)
    # 3× the tables, both policy classes represented
    big = jobs_for(
        ["visits", "actions", "events_state", "site", "goal", "conversions"], 1
    )
    assert big == small, (small, big)


def test_checksum_row_diff_classifies_divergence(spark):
    """Drill-down op for tables the checksum flagged: only_src /
    only_dst / value_diff classification on the business key."""
    from mysql2clickhouse_spark.operators.checksum import row_diff, row_digest

    src = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "key bigint, v string"
    )
    dst = spark.createDataFrame(
        [(2, "b"), (3, "X"), (4, "d")], "key bigint, v string"
    )
    d = row_digest([F.col("v")])
    got = {r["key"]: r["diff"] for r in row_diff(src, dst, ["key"], d).collect()}
    assert got == {1: "only_src", 3: "value_diff", 4: "only_dst"}


def test_checksum_properties_order_invariance_and_sensitivity(spark):
    """Property sweep of the checksum fold (hypothesis-driven rows):
    - ORDER INVARIANCE: any permutation/partitioning of the same rows
      yields identical (n, sum, xor) per table;
    - SENSITIVITY: perturbing any single row's value flips the verdict
      for exactly that table."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from mysql2clickhouse_spark.operators.checksum import (
        checksum_compare,
        row_digest,
        table_checksums,
    )

    rows_strategy = st.lists(
        st.tuples(
            st.sampled_from(["t1", "t2"]),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=2,
        max_size=12,
    )

    @given(rows_strategy, st.randoms())
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def run(rows, rnd):
        df = spark.createDataFrame(rows, "table_name string, key bigint, v bigint")
        d = row_digest([F.col("key").cast("string"), F.col("v").cast("string")])
        base = {
            r["table_name"]: (r["n_rows"], r["sum_digest"], r["xor_digest"])
            for r in table_checksums(df, d).collect()
        }
        # permutation + repartition: identical fold
        shuffled = rows[:]
        rnd.shuffle(shuffled)
        df2 = spark.createDataFrame(
            shuffled, "table_name string, key bigint, v bigint"
        ).repartition(3)
        again = {
            r["table_name"]: (r["n_rows"], r["sum_digest"], r["xor_digest"])
            for r in table_checksums(df2, d).collect()
        }
        assert base == again
        # single-row perturbation: flagged table mismatches, others match
        i = rnd.randrange(len(rows))
        tampered = rows[:]
        tbl, key, v = tampered[i]
        tampered[i] = (tbl, key, v + 1)
        df3 = spark.createDataFrame(tampered, "table_name string, key bigint, v bigint")
        verdicts = {
            r["table_name"]: r["digest_match"]
            for r in checksum_compare(
                table_checksums(df, d), table_checksums(df3, d)
            ).collect()
        }
        assert verdicts[tbl] is False
        for other in verdicts:
            if other != tbl:
                assert verdicts[other] is True

    run()


def test_compact_small_files_tightens_rowgroup_stats(spark, tmp_path):
    """Data-layout evidence for the ORDER BY clustering analog: after
    compact_small_files, each parquet file's (min, max) range on the
    CLUSTERING KEY is disjoint — the property that lets a key-predicate
    scan skip whole files/row-groups at 100 TB.  The fixture routes to
    an UNREGISTERED table (DEFAULT_POLICY: append mode, order
    (key, seq)), so every appended run fragment spans the whole key
    space (keys cycle mod 97) and the before-ranges all overlap."""
    import os as _os

    import pyarrow.parquet as pq

    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    for lo in range(0, 200, 50):
        rows = [
            ("I", "clicks", (lo + i) % 97, lo + i, (lo + i) // 50,
             T0 + dt.timedelta(minutes=lo + i), float(i), "e")
            for i in range(50)
        ]
        runner.run_once(spark.createDataFrame(rows, SCHEMA))

    path = runner.table_path("clicks")

    def key_ranges():
        out = []
        for root, _dirs, files in _os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.read_metadata(_os.path.join(root, f))
                los, his = [], []
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for c in range(g.num_columns):
                        col = g.column(c)
                        if col.path_in_schema == "key" and col.statistics:
                            los.append(col.statistics.min)
                            his.append(col.statistics.max)
                if los:
                    out.append((min(los), max(his)))
        return sorted(out)

    def n_overlaps(ranges):
        return sum(
            1
            for i, (lo, hi) in enumerate(ranges)
            for lo2, hi2 in ranges[i + 1:]
            if lo2 <= hi and lo <= hi2
        )

    before = key_ranges()
    assert len(before) >= 4 and n_overlaps(before) > 0

    st = runner.compact_small_files("clicks", [202403], target_rows_per_file=60)
    assert st["rows"] == 200

    after = key_ranges()
    assert len(after) >= 2  # still multiple files, so disjointness is non-trivial
    # range-partitioned + sorted on (key, seq): a file boundary can at
    # most SHARE one key value with its neighbor, never properly overlap
    assert all(
        not (lo2 < hi and lo < hi2)
        for i, (lo, hi) in enumerate(after)
        for lo2, hi2 in after[i + 1:]
    )


def test_verify_replication_surfaces_quarantined_rows_as_divergence(spark, tmp_path):
    """Documented behavior: the expected fold replays the RAW changelog,
    so rows the runner deliberately quarantined (poison) surface as a
    flagged table — the operator reconciles against the rejects table."""
    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    cl = mk_changelog(spark, n=50)
    poison = spark.createDataFrame(
        [("X", "events_state", 7, 1000, 20, T0, 1.0, "e")], SCHEMA  # unknown op
    )
    runner.run_once(cl.unionByName(poison))

    verdicts = {v["table_name"]: v for v in runner.verify_replication(
        cl.unionByName(poison)
    )}
    # the poison row's table diverges (raw fold counts it, store doesn't)...
    assert not verdicts["events_state"]["digest_match"]
    # ...and reconciling against the rejects table closes the gap
    rejects = spark.read.parquet(str(tmp_path / "wh" / "rejects"))
    assert rejects.count() == 1
    # verify against the changelog MINUS quarantined rows: green again
    clean = {v["table_name"]: v for v in runner.verify_replication(cl)}
    assert all(v["digest_match"] for v in clean.values())


def test_backfill_dedup_overlap_slide_and_targeted_retry(spark, tmp_path):
    """The reference's overlap-and-slide backfill
    (doc_old_duplicates.md:100-106): sliding window passes clear
    boundary-straddling duplicates; versions separated by a gap WIDER
    than the window survive the sweep, the audit names them, and the
    targeted retry pass compacts exactly their months to zero
    residual."""
    import os

    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    months = [202401, 202402, 202403, 202404]
    rows = []
    # key 1: versions in adjacent months 1,2 (boundary dup — the sweep
    # itself must clear it); key 2: months 1 and 4 (gap > window);
    # key 3: duplicate versions inside one month
    for key, mlist in ((1, [202401, 202402]), (2, [202401, 202404]),
                       (3, [202403, 202403])):
        for j, m in enumerate(mlist):
            ts = dt.datetime(2024, m % 100, 5 + j)
            rows.append((key, key * 100 + j, ts, float(j), "e", m))
    df = spark.createDataFrame(
        rows, "key bigint, dateid bigint, ts timestamp, value double,"
        " event_type string, yyyymm int"
    )
    path = runner.table_path("visits")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.write.partitionBy("yyyymm").parquet(path)

    st = runner.backfill_dedup("visits", months, window=2, overlap=1)
    # the sweep alone left key 2 duplicated (its months never share a window)
    assert st["residual_after_sweep"] == 1
    assert st["retry_months"] == [202401, 202404]
    assert st["residual_final"] == 0
    # every key folded to its single latest version
    final = spark.read.parquet(path)
    assert final.count() == 3
    got = {r["key"]: r["dateid"] for r in final.collect()}
    assert got == {1: 101, 2: 201, 3: 301}
    # passes slid with overlap: [1,2],[2,3],[3,4]
    assert [p["months"] for p in st["passes"]] == [
        [202401, 202402], [202402, 202403], [202403, 202404]
    ]


def test_run_session_maintains_stores_past_census_threshold(spark, tmp_path):
    """Entry-point-C extension: maintained stores listed in
    RunConfig.store_maintenance get scheduled upkeep inside the SAME
    budget-gated maintenance block as table compaction — a store driven
    past its file-census threshold is compacted (journaled) during a
    long session, left alone during a short one, and a store under the
    threshold is never rewritten."""
    from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

    base = "the quick brown fox jumps over the lazy dog wearing suit"
    store = str(tmp_path / "ndstore")
    idx = MinHashIndex(spark, store, n_buckets=4)
    for b in range(3):  # 3 ingests -> 3 file sets per store table
        idx.add_batch(
            spark.createDataFrame(
                [(b * 1000 + i, f"{base} {i} v{b}") for i in range(10)],
                "doc_id bigint, text string",
            )
        )
    census0 = idx.stats()["band_files"]
    assert census0 > 4  # past the tiny threshold below

    cfg = RunConfig(
        target_dir=str(tmp_path / "wh"),
        store_maintenance=(
            {"kind": "minhash", "path": store, "max_files": 4},
            # a broken spec (store never built) must not crash the
            # session after replication committed — reported, isolated
            {"kind": "substring", "path": str(tmp_path / "nonexistent")},
        ),
    )
    runner = ReplicationRunner(spark, cfg)
    cl = mk_changelog(spark, n=40, files=2)

    # short session: the gate holds — no store rewrite
    runner.run_session(cl, max_minutes=5)
    assert idx.stats()["band_files"] == census0

    # long session: gate opens, the journaled compact runs
    runner.run_session(cl, max_minutes=50)
    census1 = idx.stats()["band_files"]
    assert census1 < census0

    # below-threshold store (compact leaves <= n_buckets=4 files):
    # upkeep reports but never rewrites
    rep = runner.maintain_stores(cfg.store_maintenance)
    assert rep[0]["census"] == census1 and rep[0]["compacted"] is False
    assert "needs k" in rep[1]["error"] and rep[1]["compacted"] is False
    # pair contract survives scheduled compaction: a mutant batch still
    # pairs against the compacted store
    mut = spark.createDataFrame(
        [(9000 + i, f"{base} {i} v0!") for i in range(0, 10, 3)],
        "doc_id bigint, text string",
    )
    pairs = idx.add_batch(mut)
    assert pairs.count() > 0


def test_run_session_resets_stale_maintenance_report(spark, tmp_path):
    """A session whose budget gates the maintenance block OFF must not
    carry the previous session's upkeep reports on a reused runner
    (ADVICE r10: last_store_maintenance was never reset)."""
    from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

    base = "the quick brown fox jumps over the lazy dog wearing suit"
    store = str(tmp_path / "nd")
    idx = MinHashIndex(spark, store, n_buckets=4)
    for b in range(2):
        idx.add_batch(
            spark.createDataFrame(
                [(b * 100 + i, f"{base} {i} v{b}") for i in range(10)],
                "doc_id bigint, text string",
            )
        )
    cfg = RunConfig(
        target_dir=str(tmp_path / "wh"),
        store_maintenance=({"kind": "minhash", "path": store},),
    )
    runner = ReplicationRunner(spark, cfg)
    cl = mk_changelog(spark, n=40, files=2)
    runner.run_session(cl, max_minutes=50)
    assert runner.last_store_maintenance  # long session: upkeep reported
    runner.run_session(cl, max_minutes=5)
    assert runner.last_store_maintenance == []  # gate held: fresh report


def test_maintain_stores_substring_spec_with_explicit_k(spark, tmp_path):
    """A substring spec may pin the gram width via args={'k': ...} as
    the docstring invites — it must open the store, not raise a
    duplicate-keyword TypeError (ADVICE r10)."""
    cfg = RunConfig(target_dir=str(tmp_path / "wh"))
    runner = ReplicationRunner(spark, cfg)
    spec = {"kind": "substring", "path": str(tmp_path / "sub"),
            "args": {"k": 8}}
    rep = runner.maintain_stores([spec])
    assert "error" not in rep[0] and rep[0]["compacted"] is False
