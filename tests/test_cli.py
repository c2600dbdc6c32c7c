"""Operator CLI (cli.py): each subcommand drives the library end-to-end
in-process (same session as the fixture — subprocess would pay a full
JVM start per test for no extra coverage)."""

from __future__ import annotations

import datetime as dt
import json
import os

from mysql2clickhouse_spark.cli import main

SCHEMA = (
    "op string, table_name string, key bigint, seq bigint, file_seq bigint,"
    " ts timestamp, value double, event_type string"
)
T0 = dt.datetime(2024, 3, 1)


def _stage_changelog(spark, path: str, n=100, files=2):
    rows = []
    for i in range(n):
        key = i % 10
        op = "I" if i % 5 in (0, 1) else ("U" if i % 5 in (2, 3) else "D")
        tbl = "visits" if key % 2 == 0 else "events_state"
        rows.append(
            (op, tbl, key, i, i // (n // files), T0 + dt.timedelta(minutes=i), float(i), "e")
        )
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(path)


def test_cli_run_and_resume(spark, tmp_path, capsys):
    cl = str(tmp_path / "cl")
    wh = str(tmp_path / "wh")
    _stage_changelog(spark, cl)
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh,
               "--max-minutes", "1"])
    assert rc == 0
    reports = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert reports[0]["rows_applied"] > 0
    assert os.path.isdir(os.path.join(wh, "tables", "visits"))
    # second session over the same changelog: caught up, applies nothing
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh,
               "--max-minutes", "1"])
    assert rc == 0
    reports2 = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert reports2[0]["rows_applied"] == 0


def test_cli_dry_run_writes_nothing(spark, tmp_path, capsys):
    cl = str(tmp_path / "cl")
    wh = str(tmp_path / "wh")
    _stage_changelog(spark, cl)
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh, "--dry-run",
               "--max-minutes", "1"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.splitlines()[0])
    assert rep["dry_run"] and rep["rows_applied"] > 0
    assert not os.path.exists(os.path.join(wh, "tables"))


def test_cli_query_known_and_unknown(spark, capsys):
    rc = main(["query", "q9_union_minima", "--limit", "5"])
    assert rc == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert {r["tbl"] for r in rows} == {"orders", "lineitem", "customer"}
    rc = main(["query", "no_such_query"])
    assert rc == 2
    err = json.loads(capsys.readouterr().out.splitlines()[0])
    assert "unknown query" in err["error"]


def test_cli_sql_name_and_raw(spark, capsys):
    rc = main(["sql", "q9_union_minima"])
    assert rc == 0
    assert len(capsys.readouterr().out.splitlines()) == 3
    rc = main(["sql", "SELECT count(*) AS n FROM versioned"])
    assert rc == 0
    row = json.loads(capsys.readouterr().out.splitlines()[0])
    assert row["n"] > 0


def test_cli_maintain_dedup(spark, tmp_path, capsys):
    cl = str(tmp_path / "cl")
    wh = str(tmp_path / "wh")
    _stage_changelog(spark, cl)
    main(["run", "--changelog-dir", cl, "--target-dir", wh, "--max-minutes", "1"])
    capsys.readouterr()
    rc = main(["maintain", "--target-dir", wh, "--table", "visits",
               "--months", "202403", "--job", "dedup"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.splitlines()[0])
    assert stats["job"] == "dedup" and stats["rows_before"] > 0


def test_cli_neardup_incremental(spark, tmp_path, capsys):
    from mysql2clickhouse_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    import pyspark.sql.functions as F

    d.write.mode("overwrite").parquet(str(tmp_path / "b1"))
    d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    ).write.mode("overwrite").parquet(str(tmp_path / "b2"))
    rc = main(["neardup", "--index-dir", str(tmp_path / "idx"),
               "--batch-dir", str(tmp_path / "b1")])
    assert rc == 0
    first = json.loads(capsys.readouterr().out.splitlines()[-1])
    rc = main(["neardup", "--index-dir", str(tmp_path / "idx"),
               "--batch-dir", str(tmp_path / "b2"),
               "--pairs-out", str(tmp_path / "pairs")])
    assert rc == 0
    second = json.loads(capsys.readouterr().out.splitlines()[-1])
    # the mutant batch pairs against the stored corpus
    assert second["n_pairs"] >= 0.95 * 500 > first["n_pairs"]
    assert spark.read.parquet(str(tmp_path / "pairs")).count() == second["n_pairs"]

    # store maintenance: journaled small-files compaction via the CLI
    rc = main(["neardup", "--index-dir", str(tmp_path / "idx"), "--compact"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert rep["job"] == "neardup-compact"
    assert rep["bands"]["files_after"] <= rep["bands"]["files_before"]
    # missing both --batch-dir and --compact is a usage error
    assert main(["neardup", "--index-dir", str(tmp_path / "idx")]) == 2
    capsys.readouterr()


def test_cli_export_shards(spark, tmp_path, capsys):
    from mysql2clickhouse_spark.sources.tables import load_table

    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    rc = main(["export", "--docs-dir", str(tmp_path / "docs"),
               "--out-dir", str(tmp_path / "out"), "--rows-per-file", "50"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert rep["n_docs"] > 0 and rep["n_shards"] >= rep["n_docs"] // 50
    assert os.path.isdir(os.path.join(str(tmp_path / "out"), "manifest"))

    # tar format: same curation + manifest surface, .tar shard files
    rc = main(["export", "--docs-dir", str(tmp_path / "docs"),
               "--out-dir", str(tmp_path / "out_tar"),
               "--rows-per-file", "50", "--format", "tar"])
    assert rc == 0
    rep_t = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert rep_t["format"] == "tar"
    assert rep_t["n_docs"] == rep["n_docs"]
    assert rep_t["n_tokens"] == rep["n_tokens"]
    data = os.path.join(str(tmp_path / "out_tar"), "data")
    assert all(f.endswith(".tar") for f in os.listdir(data))


def test_cli_purge_and_ledger_compact(spark, tmp_path, capsys):
    import datetime as _dt

    cl = str(tmp_path / "cl")
    wh = str(tmp_path / "wh")
    rows = []
    for i in range(200):
        rows.append(
            ("I", "visits", i % 10, i, i // 50,
             T0 + _dt.timedelta(hours=5 * i), float(i), "e")
        )
    (
        spark.createDataFrame(rows, SCHEMA)
        .write.mode("overwrite").partitionBy("file_seq").parquet(cl)
    )
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh,
               "--max-minutes", "1", "--max-files", "10"])
    assert rc == 0
    capsys.readouterr()

    rc = main(["purge", "--changelog-dir", cl, "--target-dir", wh,
               "--keep-days", "10"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert rep["job"] == "purge" and rep["files_removed"] > 0
    assert not os.path.isdir(os.path.join(cl, "file_seq=0"))

    rc = main(["ledger-compact", "--target-dir", wh])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert rep["job"] == "ledger-compact" and rep["files_after"] == 1


def test_cli_verify_green_then_red(spark, tmp_path, capsys):
    cl = str(tmp_path / "cl")
    wh = str(tmp_path / "wh")
    _stage_changelog(spark, cl)
    assert main(["run", "--changelog-dir", cl, "--target-dir", wh,
                 "--max-minutes", "1"]) == 0
    capsys.readouterr()

    rc = main(["verify", "--changelog-dir", cl, "--target-dir", wh])
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert rc == 0
    assert {r["table_name"] for r in lines} == {"visits", "events_state"}
    assert all(r["digest_match"] for r in lines)

    # tamper with one table -> nonzero exit and a flagged verdict line
    path = os.path.join(wh, "tables", "events_state")
    stored = spark.read.parquet(path)
    stored.limit(1).withColumn("value", stored["value"] + 1.0).write.mode(
        "append"
    ).partitionBy("yyyymm").parquet(path)
    rc = main(["verify", "--changelog-dir", cl, "--target-dir", wh, "--diff"])
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert rc == 3
    verdicts = [r for r in lines if r["job"] == "verify"]
    flagged = {r["table_name"]: r["digest_match"] for r in verdicts}
    assert flagged["events_state"] is False and flagged["visits"] is True
    # --diff drills down ONLY on the flagged table and classifies the
    # tampered key (duplicated row with a new value => value_diff)
    diffs = [r for r in lines if r["job"] == "verify-diff"]
    assert diffs and all(r["table_name"] == "events_state" for r in diffs)
    assert {r["diff"] for r in diffs} == {"value_diff"}


def test_cli_annindex_lifecycle(spark, tmp_path, capsys):
    """annindex: first --add-dir trains+freezes the quantizer, later
    adds accumulate, --search returns per-query top-k, --compact packs
    the lists store."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    emb.filter("vec_id < 20").write.parquet(b1)
    emb.filter("vec_id >= 20").write.parquet(b2)
    qdir = str(tmp_path / "q")
    emb.filter("vec_id < 2").write.parquet(qdir)
    idx = str(tmp_path / "idx")

    assert main(["annindex", "--index-dir", idx, "--dim", "8", "--n-list", "4",
                 "--add-dir", b1]) == 0
    assert main(["annindex", "--index-dir", idx, "--dim", "8", "--n-list", "4",
                 "--add-dir", b2]) == 0
    capsys.readouterr()
    assert main(["annindex", "--index-dir", idx, "--dim", "8", "--n-list", "4",
                 "--search-dir", qdir, "--k", "3", "--nprobe", "2",
                 "--compact"]) == 0
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    comp = [r for r in lines if r["job"] == "annindex-compact"]
    hits = [r for r in lines if r["job"] == "annindex-search"]
    assert comp and comp[0]["rows"] == 40
    assert len(hits) == 2 * 3 and {r["qid"] for r in hits} == {0, 1}
    # no arguments at all -> usage error
    assert main(["annindex", "--index-dir", idx]) == 2


def test_cli_bm25index_lifecycle(spark, tmp_path, capsys):
    docs = spark.createDataFrame(
        [(1, "spark join window"), (2, "spark batch"), (3, "join stream")],
        "doc_id bigint, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))
    spark.createDataFrame([(1,)], "doc_id bigint").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "dead"))

    idx_dir = str(tmp_path / "idx")
    rc = main(["bm25index", "--index-dir", idx_dir,
               "--add-dir", str(tmp_path / "docs")])
    assert rc == 0
    added = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert added == {"job": "bm25index-add", "docs_indexed": 3}

    rc = main(["bm25index", "--index-dir", idx_dir, "--search", "spark join",
               "--k", "10"])
    assert rc == 0
    hits = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert {h["doc_id"] for h in hits} == {1, 2, 3}

    # tombstone doc 1, search answers without it, compact applies
    rc = main(["bm25index", "--index-dir", idx_dir,
               "--remove-dir", str(tmp_path / "dead")])
    assert rc == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1])[
        "n_tombstoned"] == 1
    rc = main(["bm25index", "--index-dir", idx_dir, "--compact",
               "--search", "spark join"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[0]["job"] == "bm25index-compact"
    assert {h["doc_id"] for h in lines[1:]} == {2, 3}
    # no action is a usage error
    assert main(["bm25index", "--index-dir", idx_dir]) == 2
    capsys.readouterr()


def test_cli_substrindex_lifecycle(spark, tmp_path, capsys):
    spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "x1 x2 x3 x4")],
        "doc_id bigint, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    spark.createDataFrame(
        [(5, "w1 w2 w3 w4 w5")], "doc_id bigint, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "b2"))
    spark.createDataFrame([(1,)], "doc_id bigint").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "dead"))

    idx_dir = str(tmp_path / "idx")
    # a fresh store without --gram-k is a clean usage error
    assert main(["substrindex", "--index-dir", idx_dir,
                 "--add-dir", str(tmp_path / "b1")]) == 2
    capsys.readouterr()
    rc = main(["substrindex", "--index-dir", idx_dir, "--gram-k", "4",
               "--add-dir", str(tmp_path / "b1")])
    assert rc == 0
    added = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert added["n_docs"] == 2 and added["n_grams_stored"] == 3
    # an exact copy of stored doc 1 is fully duplicated (report written)
    rc = main(["substrindex", "--index-dir", idx_dir,
               "--add-dir", str(tmp_path / "b2"),
               "--report-out", str(tmp_path / "rep")])
    assert rc == 0
    capsys.readouterr()
    rep = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "rep")).collect()}
    assert rep[5].n_removed == rep[5].n_tokens == 5
    # forget doc 1's grams, compact, geometry adopted without --gram-k
    rc = main(["substrindex", "--index-dir", idx_dir,
               "--remove-dir", str(tmp_path / "dead"), "--compact"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[0] == {"job": "substrindex-remove", "n_tombstoned": 1}
    assert lines[1]["job"] == "substrindex-compact"
    # READ-ONLY probe: judged against the store, nothing ingested
    spark.createDataFrame(
        [(9, "x1 x2 x3 x4"), (10, "w1 w2 w3 w4 w5")],
        "doc_id bigint, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "q"))
    rc = main(["substrindex", "--index-dir", idx_dir,
               "--probe-dir", str(tmp_path / "q"),
               "--report-out", str(tmp_path / "prep"), "--stats"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[0]["job"] == "substrindex-probe" and lines[0]["n_docs"] == 2
    assert lines[1]["n_docs"] == 2  # ledger unchanged by the probe
    prep = {r.doc_id: r for r in
            spark.read.parquet(str(tmp_path / "prep")).collect()}
    # doc 2's text still lives in the store -> fully duplicated;
    # doc 1's grams were tombstoned + compacted away AND its full-dup
    # copy (doc 5) never wrote firsts of its own — FORGET semantics,
    # the w-grams are unknowable, so the probe judges them fresh
    assert prep[9].n_removed == prep[9].n_tokens == 4
    assert prep[10].n_removed == 0


def test_cli_neardup_and_annindex_remove(spark, tmp_path, capsys):
    from mysql2clickhouse_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(200).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    # derive the delete set from the WRITTEN batch (a re-evaluated
    # limit() is not guaranteed to pick the same rows)
    spark.read.parquet(str(tmp_path / "b1")).select("doc_id").orderBy(
        "doc_id"
    ).limit(20).write.mode("overwrite").parquet(str(tmp_path / "dead"))
    main(["neardup", "--index-dir", str(tmp_path / "nd"),
          "--batch-dir", str(tmp_path / "b1")])
    capsys.readouterr()
    rc = main(["neardup", "--index-dir", str(tmp_path / "nd"),
               "--remove-dir", str(tmp_path / "dead"), "--compact"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[0] == {"job": "neardup-remove", "n_tombstoned": 20}
    assert lines[1]["job"] == "neardup-compact"

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    ).limit(300)
    emb.write.mode("overwrite").parquet(str(tmp_path / "vecs"))
    spark.read.parquet(str(tmp_path / "vecs")).select("vec_id").orderBy(
        "vec_id"
    ).limit(25).write.mode("overwrite").parquet(str(tmp_path / "vdead"))
    main(["annindex", "--index-dir", str(tmp_path / "ai"), "--dim", "64",
          "--add-dir", str(tmp_path / "vecs")])
    capsys.readouterr()
    rc = main(["annindex", "--index-dir", str(tmp_path / "ai"),
               "--remove-dir", str(tmp_path / "vdead"), "--compact"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[0] == {"job": "annindex-remove", "n_tombstoned": 25}
    assert lines[1]["job"] == "annindex-compact"


def test_cli_store_stats(spark, tmp_path, capsys):
    """--stats emits one JSON snapshot per store; fields reflect the
    lifecycle state (post-remove tombstone count, post-compact zero)."""
    spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i")], "doc_id bigint, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    spark.createDataFrame([(1,)], "doc_id bigint").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "dead"))

    for cmd, extra, n_key in (
        ("bm25index", [], "n_docs"),
        ("substrindex", ["--gram-k", "4"], "n_docs"),
        ("neardup", [], "n_docs"),
    ):
        idx_dir = str(tmp_path / f"idx_{cmd}")
        ingest = "--batch-dir" if cmd == "neardup" else "--add-dir"
        assert main([cmd, "--index-dir", idx_dir, *extra,
                     ingest, str(tmp_path / "docs")]) == 0
        capsys.readouterr()
        assert main([cmd, "--index-dir", idx_dir,
                     "--remove-dir", str(tmp_path / "dead"), "--stats"]) == 0
        lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
        assert lines[-1]["job"] == f"{cmd}-stats"
        assert lines[-1][n_key] == 2 and lines[-1]["n_tombstoned"] == 1
        assert main([cmd, "--index-dir", idx_dir, "--compact", "--stats"]) == 0
        lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
        assert lines[-1]["n_tombstoned"] == 0


def test_cli_annindex_stats_and_post_ingest_snapshot(spark, tmp_path, capsys):
    """annindex --stats (the one store with a ledger-fallback stats
    path), and the ordering contract: a combined --add-dir --stats
    reports the POST-ingest store, not the pre-ingest one."""
    spark.createDataFrame(
        [(i, [float(i), 0.5, -1.0, 2.0]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    ).write.mode("overwrite").parquet(str(tmp_path / "vecs"))
    spark.createDataFrame([(3,), (8,)], "vec_id bigint").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "vdead"))

    idx_dir = str(tmp_path / "ai")
    rc = main(["annindex", "--index-dir", idx_dir, "--dim", "4",
               "--n-list", "4", "--add-dir", str(tmp_path / "vecs"),
               "--stats"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[-1]["job"] == "annindex-stats"
    assert lines[-1]["n_vectors"] == 40  # post-ingest, not 0
    rc = main(["annindex", "--index-dir", idx_dir,
               "--remove-dir", str(tmp_path / "vdead"), "--stats"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[-1]["n_tombstoned"] == 2
    rc = main(["annindex", "--index-dir", idx_dir, "--compact", "--stats"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines[-1]["n_vectors"] == 38 and lines[-1]["n_tombstoned"] == 0


def test_cli_run_maintain_store(spark, tmp_path, capsys):
    """--maintain-store KIND=PATH:MAX_FILES rides the run session's
    budget-gated maintenance: a store past its census threshold is
    compacted and the upkeep report is emitted as a JSON line."""
    from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

    base = "the quick brown fox jumps over the lazy dog wearing suit"
    store = str(tmp_path / "nd")
    idx = MinHashIndex(spark, store, n_buckets=4)
    for b in range(3):
        idx.add_batch(
            spark.createDataFrame(
                [(b * 100 + i, f"{base} {i} v{b}") for i in range(10)],
                "doc_id bigint, text string",
            )
        )
    census0 = idx.stats()["band_files"]
    assert census0 > 4

    cl = str(tmp_path / "cl")
    wh = str(tmp_path / "wh")
    _stage_changelog(spark, cl)

    # bad spec fails fast
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh,
               "--maintain-store", f"bogus={store}"])
    assert rc == 2
    capsys.readouterr()

    # short session: gate holds, report absent, store untouched
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh,
               "--max-minutes", "1",
               "--maintain-store", f"minhash={store}@4"])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert not [x for x in lines if x.get("job") == "store-maintain"]
    assert idx.stats()["band_files"] == census0

    # long session: gate opens, journaled compact runs, report emitted
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh,
               "--max-minutes", "50",
               "--maintain-store", f"minhash={store}@4"])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    srep = [x for x in lines if x.get("job") == "store-maintain"]
    assert len(srep) == 1
    assert srep[0]["compacted"] is True and srep[0]["census"] == census0
    assert idx.stats()["band_files"] <= 4


def test_cli_simhashindex_lifecycle(spark, tmp_path, capsys):
    """simhashindex: ingest -> pairs, remove -> tombstones, compact,
    --stats — the fifth maintained store's ops surface."""
    base = "the quick brown fox jumps over the lazy dog wearing suit"
    docs = [(i, f"{base} {i} variant alpha beta") for i in range(20)]
    # exact copies => hamming 0, guaranteed pairs
    docs += [(1000 + i, f"{base} {i} variant alpha beta")
             for i in range(0, 20, 4)]
    spark.createDataFrame(docs, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "b"))

    rc = main(["simhashindex", "--index-dir", str(tmp_path / "idx"),
               "--batch-dir", str(tmp_path / "b"),
               "--pairs-out", str(tmp_path / "pairs")])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.splitlines()[0])
    assert rep["job"] == "simhashindex-add" and rep["n_pairs"] >= 1
    assert spark.read.parquet(str(tmp_path / "pairs")).columns == [
        "id_a", "id_b", "hamming"
    ]

    spark.createDataFrame([(i,) for i in range(0, 20, 4)],
                          "doc_id bigint").write.mode("overwrite").parquet(
        str(tmp_path / "rm"))
    rc = main(["simhashindex", "--index-dir", str(tmp_path / "idx"),
               "--remove-dir", str(tmp_path / "rm"), "--compact", "--stats"])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert lines[0] == {"job": "simhashindex-remove", "n_tombstoned": 5}
    assert lines[1]["job"] == "simhashindex-compact"
    assert lines[2]["job"] == "simhashindex-stats"
    assert lines[2]["n_docs"] == 20 and lines[2]["n_tombstoned"] == 0

    # read-only probe: matches reported, store untouched
    spark.createDataFrame([(5000, f"{base} 3 variant alpha beta")],
                          "doc_id bigint, text string").write.mode(
        "overwrite").parquet(str(tmp_path / "probe"))
    rc = main(["simhashindex", "--index-dir", str(tmp_path / "idx"),
               "--probe-dir", str(tmp_path / "probe"), "--stats"])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert lines[0]["job"] == "simhashindex-probe" and lines[0]["n_matches"] >= 1
    assert lines[1]["n_docs"] == 20  # probe ingested nothing

    # geometry contradiction fails fast
    rc = main(["simhashindex", "--index-dir", str(tmp_path / "idx"),
               "--n-blocks", "2", "--max-hamming", "1", "--stats"])
    assert rc == 2
    capsys.readouterr()

    # a READ-ONLY invocation against a mistyped dir must NOT create a
    # fresh store and answer 0 matches (decontam false negative)
    rc = main(["simhashindex", "--index-dir", str(tmp_path / "typo"),
               "--probe-dir", str(tmp_path / "probe")])
    assert rc == 2
    assert not os.path.exists(str(tmp_path / "typo"))


def test_cli_store_guard_covers_bm25_and_annindex(spark, tmp_path, capsys):
    """A mistyped --index-dir on a read-only bm25index/annindex command
    must refuse, not silently create a fresh empty store and answer
    zero results (ADVICE r10: the guard covered only the three text
    stores)."""
    rc = main(["bm25index", "--index-dir", str(tmp_path / "typo"),
               "--search", "fox"])
    assert rc == 2
    assert "no store at" in capsys.readouterr().out
    assert not os.path.exists(str(tmp_path / "typo"))
    rc = main(["annindex", "--index-dir", str(tmp_path / "typo"),
               "--stats"])
    assert rc == 2
    assert "no store at" in capsys.readouterr().out
    assert not os.path.exists(str(tmp_path / "typo"))


def test_cli_maintain_store_path_with_at_sign(spark, tmp_path, capsys):
    """A store path that itself contains '@' (s3a://user@host/store) is
    expressible: only an all-digits tail after the last '@' is a
    MAX_FILES threshold (ADVICE r10: rpartition misparsed it into a
    non-numeric threshold and exited 2)."""
    cl = str(tmp_path / "cl")
    wh = str(tmp_path / "wh")
    _stage_changelog(spark, cl)
    weird = str(tmp_path / "we@ird" / "store")
    # short session: the maintenance gate holds, so the spec is parsed
    # but never opened — rc 0 proves the '@' path survived parsing
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh,
               "--max-minutes", "1",
               "--maintain-store", f"minhash={weird}"])
    assert rc == 0
    capsys.readouterr()
    # the numeric-tail form still parses as a threshold
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh,
               "--max-minutes", "1",
               "--maintain-store", f"minhash={weird}@8"])
    assert rc == 0
    capsys.readouterr()


def test_cli_run_accepts_every_maintained_store_kind(spark, tmp_path, capsys):
    """Every kind the help text lists parses as a --maintain-store spec:
    the CLI validates against ``ReplicationRunner.STORE_CENSUS_KEYS``,
    so ``manifest`` is no longer rejected as a bad spec."""
    from mysql2clickhouse_spark.streaming.runner import ReplicationRunner

    cl = str(tmp_path / "cl")
    wh = str(tmp_path / "wh")
    _stage_changelog(spark, cl)
    specs = []
    for kind in ReplicationRunner.STORE_CENSUS_KEYS:
        specs += ["--maintain-store", f"{kind}={tmp_path / kind}@8"]
    # short session: the maintenance gate holds, so the specs are parsed
    # but never opened — rc 0 proves every kind passed validation
    rc = main(["run", "--changelog-dir", cl, "--target-dir", wh,
               "--max-minutes", "1", *specs])
    assert rc == 0
    assert "bad --maintain-store spec" not in capsys.readouterr().out
