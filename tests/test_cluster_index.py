"""Incremental cluster maintenance (r10 verdict task 4): folding pair
batches into the maintained assignment equals one-shot connected
components over the union — any edge partitioning, any order.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mysql2clickhouse_spark.functions.graph import connected_components
from mysql2clickhouse_spark.operators.cluster_index import ClusterIndex


def _edges(spark, rows):
    return spark.createDataFrame(rows, "id_a bigint, id_b bigint")


def _assign(idx):
    return sorted(tuple(r) for r in idx.assignments().collect())


def _one_shot(spark, rows):
    cc = connected_components(_edges(spark, rows), "id_a", "id_b")
    return sorted(tuple(r) for r in cc.collect())


def test_fold_equals_one_shot_over_any_partitioning(spark, tmp_path):
    """Edges of interleaved chains split across 3 batches — components
    only fully emerge from cross-batch transitive closure."""
    rows = []
    # 10 chains of 6 nodes each, ids interleaved so min-labels move
    for c in range(10):
        ids = [c + 10 * k for k in range(6)]
        rows += [(ids[i], ids[i + 1]) for i in range(5)]
    # split by edge hash — scatters each chain across batches
    batches = [[], [], []]
    for i, e in enumerate(rows):
        batches[(e[0] * 31 + e[1]) % 3].append(e)
    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    for b in batches:
        idx.add_pairs(_edges(spark, b))
    assert _assign(idx) == _one_shot(spark, rows)
    # one live row per node
    a = idx.assignments()
    assert a.count() == a.select("node").distinct().count()


def test_cross_batch_merge_relabels_existing_component(spark, tmp_path):
    """Batch 2 connects two EXISTING components through a smaller id:
    every member of both must move under the new min label."""
    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    idx.add_pairs(_edges(spark, [(100, 101), (101, 102)]))  # comp 100
    idx.add_pairs(_edges(spark, [(200, 201)]))              # comp 200
    rep = idx.add_pairs(_edges(spark, [(5, 102), (5, 201)]))  # merges all
    assert rep["n_merges"] >= 2 and rep["n_moved"] == 5
    want = [(5, 5), (100, 5), (101, 5), (102, 5), (200, 5), (201, 5)]
    assert _assign(idx) == want
    # the losing labels are dead, and stats sees through them
    st = idx.stats()
    assert st["n_nodes"] == 6 and st["n_components"] == 1
    assert st["n_dead_components"] >= 2


def test_replayed_batch_is_a_noop(spark, tmp_path):
    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    b = [(1, 2), (2, 3), (10, 11)]
    idx.add_pairs(_edges(spark, b))
    files = sorted(os.listdir(idx.by_comp_path))
    rep = idx.add_pairs(_edges(spark, b))  # at-least-once redelivery
    assert rep["n_new_nodes"] == 0 and rep["n_merges"] == 0
    assert sorted(os.listdir(idx.by_comp_path)) == files  # untouched
    assert _assign(idx) == _one_shot(spark, b)


def test_compact_drops_stale_rows_and_clears_dead(spark, tmp_path):
    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    idx.add_pairs(_edges(spark, [(100, 101)]))
    idx.add_pairs(_edges(spark, [(50, 100)]))   # relabel 100 -> 50
    idx.add_pairs(_edges(spark, [(7, 101)]))    # relabel 50 -> 7
    before = _assign(idx)
    rep = idx.compact()
    assert rep["by_comp"]["files_after"] <= rep["by_comp"]["files_before"]
    assert _assign(idx) == before
    assert idx.stats()["n_dead_components"] == 0
    # physically: exactly one row per node remains
    rows = spark.read.parquet(idx.by_comp_path)
    assert rows.count() == rows.select("node").distinct().count()
    # and folding continues cleanly after the rewrite
    idx.add_pairs(_edges(spark, [(3, 7)]))
    assert (3, 3) in _assign(idx) and (101, 3) in _assign(idx)


def test_fold_crash_before_marker_leaves_assignment_intact(spark, tmp_path):
    from mysql2clickhouse_spark.fs import LocalFS

    class _FailMarker(LocalFS):
        def write_text_atomic(self, path: str, text: str) -> None:
            if path.endswith("_INGEST_COMMIT"):
                raise OSError("injected crash before marker")
            super().write_text_atomic(path, text)

    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    idx.add_pairs(_edges(spark, [(1, 2)]))
    before = _assign(idx)
    idx.fs = _FailMarker()
    with pytest.raises(OSError, match="injected crash"):
        idx.add_pairs(_edges(spark, [(2, 3), (0, 1)]))
    idx2 = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    assert _assign(idx2) == before  # debris cleared, store untouched
    # the redelivered fold then lands exactly once
    idx2.add_pairs(_edges(spark, [(2, 3), (0, 1)]))
    assert _assign(idx2) == _one_shot(spark, [(1, 2), (2, 3), (0, 1)])


def test_compact_crash_after_marker_rolls_forward_at_reopen(spark, tmp_path):
    """``compact`` crashes after its commit marker, before the first
    promotion rename: the reopened store rolls the rewrite forward and
    answers exactly as before, with the dead set cleared and one
    ``by_comp`` row per node."""
    from mysql2clickhouse_spark.fs import LocalFS

    class _FailPromotion(LocalFS):
        def rename(self, src: str, dst: str) -> None:
            raise OSError("injected crash before promotion")

    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    idx.add_pairs(_edges(spark, [(100, 101), (200, 201)]))
    idx.add_pairs(_edges(spark, [(50, 100), (60, 201)]))
    idx.add_pairs(_edges(spark, [(7, 101), (7, 60)]))
    before = _assign(idx)
    assert idx.stats()["n_dead_components"] > 0
    idx.fs = _FailPromotion()
    with pytest.raises(OSError, match="injected crash"):
        idx.compact()
    assert os.path.exists(os.path.join(idx.staging_path, "_INGEST_COMMIT"))

    idx2 = ClusterIndex(spark, str(tmp_path / "cc"))
    assert _assign(idx2) == before
    assert idx2.stats()["n_dead_components"] == 0
    rows = spark.read.parquet(idx2.by_comp_path)
    assert rows.count() == rows.select("node").distinct().count() == len(before)


def test_singleton_free_contract_and_empty_store(spark, tmp_path):
    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    assert _assign(idx) == []
    rep = idx.add_pairs(_edges(spark, [(4, 4)]))  # self-pair only
    assert rep["n_pairs"] == 0 and _assign(idx) == []


def test_cli_clusterindex_lifecycle(spark, tmp_path, capsys):
    """The sixth store's ops surface: fold -> assignments -> stats ->
    compact via the CLI, typo-guarded like its siblings."""
    import json

    from mysql2clickhouse_spark.cli import main

    _edges(spark, [(1, 2), (2, 3)]).write.parquet(str(tmp_path / "p1"))
    _edges(spark, [(0, 3)]).write.parquet(str(tmp_path / "p2"))
    store = str(tmp_path / "cc")
    rc = main(["clusterindex", "--index-dir", store,
               "--pairs-dir", str(tmp_path / "p1")])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert rep["n_new_nodes"] == 3
    rc = main(["clusterindex", "--index-dir", store,
               "--pairs-dir", str(tmp_path / "p2"),
               "--assignments-out", str(tmp_path / "out"), "--stats"])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert lines[-1]["n_components"] == 1  # 0 joined everything
    got = sorted(tuple(r) for r in
                 spark.read.parquet(str(tmp_path / "out")).collect())
    assert got == [(0, 0), (1, 0), (2, 0), (3, 0)]
    rc = main(["clusterindex", "--index-dir", store, "--compact"])
    assert rc == 0
    capsys.readouterr()
    # read-only invocation against a mistyped dir refuses
    rc = main(["clusterindex", "--index-dir", str(tmp_path / "typo"),
               "--stats"])
    assert rc == 2
    assert "no store at" in capsys.readouterr().out


def test_probe_resolves_without_mutating(spark, tmp_path):
    """The read-only membership lookup (round 11 — the sixth store's
    ``probe()``): known ids resolve to their CURRENT post-merge labels,
    unknown ids are absent, and the store's file census is
    byte-identical after."""
    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    idx.add_pairs(_edges(spark, [(100, 101), (200, 201)]))
    idx.add_pairs(_edges(spark, [(5, 101), (5, 200)]))  # merge under 5
    census = sorted(os.listdir(idx.by_node_path)) + sorted(
        os.listdir(idx.by_comp_path)
    )
    ids = spark.createDataFrame(
        [(101,), (200,), (5,), (999,)], "doc_id bigint"
    )
    got = sorted(tuple(r) for r in idx.probe(ids).collect())
    assert got == [(5, 5, True), (101, 5, False), (200, 5, False)]
    assert census == sorted(os.listdir(idx.by_node_path)) + sorted(
        os.listdir(idx.by_comp_path)
    )
    # empty store answers empty, same schema
    fresh = ClusterIndex(spark, str(tmp_path / "cc2"), n_buckets=4)
    assert fresh.probe(ids).count() == 0
    assert fresh.probe(ids).columns == ["node", "component", "is_canonical"]


def test_canonical_and_duplicates_partition_the_assignment(spark, tmp_path):
    """``canonical()`` = one self-row per live component (the keep-min
    survivor); ``duplicates()`` = everything else — together they tile
    ``assignments()`` exactly, including after merges."""
    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    idx.add_pairs(_edges(spark, [(10, 11), (20, 21)]))
    idx.add_pairs(_edges(spark, [(3, 11)]))  # comp 10 -> 3
    keep = sorted(tuple(r) for r in idx.canonical().collect())
    drop = sorted(tuple(r) for r in idx.duplicates().collect())
    assert keep == [(3, 3), (20, 20)]
    assert drop == [(10, 3), (11, 3), (21, 20)]
    assert sorted(keep + drop) == _assign(idx)


def test_cli_clusterindex_probe(spark, tmp_path, capsys):
    import json

    from mysql2clickhouse_spark.cli import main

    _edges(spark, [(1, 2), (2, 3)]).write.parquet(str(tmp_path / "p1"))
    store = str(tmp_path / "cc")
    assert main(["clusterindex", "--index-dir", store,
                 "--pairs-dir", str(tmp_path / "p1")]) == 0
    capsys.readouterr()
    spark.createDataFrame([(2,), (3,), (50,)], "node bigint").write.parquet(
        str(tmp_path / "ids")
    )
    assert main(["clusterindex", "--index-dir", store,
                 "--probe-dir", str(tmp_path / "ids")]) == 0
    rep = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert rep["n_assigned"] == 2 and rep["n_duplicates"] == 2
    # probe alone against a mistyped dir refuses like every sibling
    assert main(["clusterindex", "--index-dir", str(tmp_path / "typo"),
                 "--probe-dir", str(tmp_path / "ids")]) == 2


def test_maintain_stores_covers_the_cluster_store(spark, tmp_path):
    from mysql2clickhouse_spark.streaming.runner import (
        ReplicationRunner,
        RunConfig,
    )

    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=4)
    for b in range(3):
        idx.add_pairs(_edges(spark, [(b * 100, b * 100 + 1)]))
    runner = ReplicationRunner(
        spark, RunConfig(target_dir=str(tmp_path / "wh"))
    )
    rep = runner.maintain_stores(
        [{"kind": "cluster", "path": str(tmp_path / "cc"), "max_files": 2}]
    )
    assert rep[0]["compacted"] is True
    assert rep[0]["census_after"] <= rep[0]["census"]
    # the defrag preserved the assignment
    assert idx.stats()["n_components"] == 3
