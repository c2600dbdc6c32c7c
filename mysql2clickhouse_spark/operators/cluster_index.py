"""Incremental near-dup CLUSTER index — the maintained store that
completes pairs → clusters → canonical as an incremental pipeline
(r10 verdict task 4: the pair stores fold per batch, but cluster
assignment was still a one-shot ``connected_components`` over the full
pair set).

State model — append-only, exploiting the canonical labeling algebra:
component ids are component-minimum node ids, and components only ever
MERGE, so a node's label only DECREASES over time. Therefore:

- a node's CURRENT label is ``min(component)`` over all its appended
  rows (no sequence column, no latest-row window);
- when components merge, ALL rows of the losing component go stale at
  once — a slim ``dead/`` set of merged-away component ids restores
  the exact live view with one broadcast anti-join.

Layout under ``path`` — a ``MaintainedStore`` (``operators/maintained.py``:
construction, journal, compaction, defrag and census live there) with
two bucketed tables, no ledger and ``dead/`` as its tombstone set:

- ``by_node/`` — (node, component), BUCKETED on ``node``: resolving a
  pair batch's endpoints is a pruned point lookup
  (``store_common.probe_pruned`` — the batch's node set pushes into
  the scan, row-group stats skip the rest);
- ``by_comp/`` — (component, node), BUCKETED on ``component``: the
  members of a merging component resolve from a pruned scan keyed by
  the (driver-bounded) relabel set — O(touched components), never
  O(store);
- ``dead/``    — (component,): merged-away component ids (broadcast
  minority, like every tombstone set in this engine);
- both appends and the dead append commit under ONE ``StagedCommit``
  marker per fold;
- the skeleton's ``compact`` is the live-view rewrite: both tables
  minus the rows of dead components, with the dead set cleared in the
  same commit.

Per fold, ``add_pairs``:

1. resolves the batch nodes' current labels from ``by_node`` (pruned
   read, min-per-node), unassigned nodes labeling themselves;
2. contracts each edge to its endpoint labels and runs connected
   components on the CONTRACTED graph — O(batch) edges, never the
   corpus graph;
3. derives the relabel map (old label -> merged min label), pulls the
   losing components' members from ``by_comp`` (pruned read), and
   appends the moved rows under their new label + the fresh nodes'
   rows + the losers into ``dead/`` — one journal commit.

Idempotent under at-least-once redelivery BY ALGEBRA (no replay
ledger needed): refolding an already-folded pair batch resolves every
edge to equal endpoint labels — no merges, no new nodes, nothing
staged.

Equality contract: after ANY partitioning of an edge set into
batches, ``assignments()`` equals ``connected_components`` over the
union (same min-id canonical labels) — union-find closure is
order-independent. ``dedup_cluster_incremental`` (plans/curation.py)
certifies this against the recursive-CTE oracle.

Reference basis: the reference maintains dedup state per run window
(_settings.py:230-287) rather than rescanning history; this extends
that discipline to the cluster table the pair stores feed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.graph import connected_components
from .maintained import MaintainedStore
from .store_common import probe_pruned, single_writer


class ClusterIndex(MaintainedStore):
    """A persisted incremental connected-components assignment over a
    stream of near-dup pair batches."""

    TABLES = (
        ("by_node", "node", "m2c_ccn_"),
        ("by_comp", "component", "m2c_ccc_"),
    )
    TOMBSTONES = "dead"
    STAGING = "__maint_staging"
    CENSUS_KEY = "comp_files"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 32,
    ):
        # rows and the dead set are keyed on the component
        super().__init__(spark, path, "component", n_buckets)
        self._by_node, self._by_comp = self._tables["by_node"], self._tables["by_comp"]

    @property
    def by_node_path(self) -> str:
        return self._by_node.location

    @property
    def by_comp_path(self) -> str:
        return self._by_comp.location

    dead_path = MaintainedStore.tombstones_path

    # --- fold one pair batch ------------------------------------------------

    @single_writer
    def add_pairs(
        self, pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
    ) -> dict:
        """Fold one batch of near-dup pairs (any pair store's output
        shape) into the maintained assignment. Returns a report dict;
        the store commit is atomic (one marker)."""
        self.recover()
        p = (
            pairs.select(
                F.col(src).cast("long").alias("u"),
                F.col(dst).cast("long").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)  # sever from the caller's lineage
        )
        nodes = (
            p.select(F.col("u").alias("node"))
            .unionByName(p.select(F.col("v").alias("node")))
            .distinct()
        )
        # 1. resolve current labels: pruned point lookup, min-per-node
        #    (labels only decrease, so min IS the current assignment)
        if self._by_node.has_files():
            cur = (
                probe_pruned(
                    self._by_node.read(), "node", nodes,
                    fs=self.fs, store_dir=self.by_node_path,
                )
                .groupBy("node")
                .agg(F.min("component").alias("cur"))
            )
            nodes_lbl = nodes.join(cur, "node", "left")
        else:
            nodes_lbl = nodes.withColumn("cur", F.lit(None).cast("long"))
        nodes_lbl = nodes_lbl.withColumn(
            "lbl", F.coalesce("cur", "node")
        ).persist()
        n_new_nodes = nodes_lbl.filter(F.col("cur").isNull()).count()  # eager

        # 2. contract edges to endpoint labels; CC on the contracted
        #    graph only (O(batch) — never the corpus graph)
        lu = nodes_lbl.select(
            F.col("node").alias("u"), F.col("lbl").alias("lu")
        )
        lv = nodes_lbl.select(
            F.col("node").alias("v"), F.col("lbl").alias("lv")
        )
        e = (
            p.join(lu, "u")
            .join(lv, "v")
            .filter(F.col("lu") != F.col("lv"))
            .select("lu", "lv")
            .distinct()
        )
        report = {
            "n_pairs": p.count(),
            "n_new_nodes": n_new_nodes,
            "n_merges": 0,
            "n_moved": 0,
        }
        if e.isEmpty():
            if n_new_nodes == 0:
                nodes_lbl.unpersist()
                return report  # replay / fully-known batch: untouched
            relabel = None
        else:
            comp = connected_components(e, "lu", "lv")
            relabel = (
                comp.filter(F.col("node") != F.col("component"))
                .select(
                    F.col("node").alias("old"),
                    F.col("component").alias("new"),
                )
                .localCheckpoint(eager=True)
            )
            report["n_merges"] = relabel.count()

        # 3a. fresh nodes' assignments under their final label
        fresh_rows = nodes_lbl.filter(F.col("cur").isNull()).select(
            "node", F.col("lbl").alias("component")
        )
        if relabel is not None:
            fresh_rows = (
                fresh_rows.join(
                    F.broadcast(relabel),
                    fresh_rows["component"] == relabel["old"],
                    "left",
                )
                .select(
                    "node",
                    F.coalesce("new", "component").alias("component"),
                )
            )
        # 3b. losing components' members move under the merged label —
        #     pruned read keyed by the relabel set (O(touched comps))
        if relabel is not None and self._by_comp.has_files():
            members = probe_pruned(
                self._by_comp.read(),
                "component",
                relabel.select(F.col("old").alias("component")),
                fs=self.fs,
                store_dir=self.by_comp_path,
            )
            dead = self._tombstones()
            if dead is not None:
                members = members.join(
                    F.broadcast(dead), "component", "left_anti"
                )
            moved = members.join(
                F.broadcast(relabel),
                members["component"] == relabel["old"],
            ).select("node", F.col("new").alias("component"))
            dead_new = (
                moved.join(  # only components that actually had rows
                    F.broadcast(relabel), moved["component"] == relabel["new"]
                )
                .select(F.col("old").alias("component"))
                .distinct()
            )
        else:
            moved = fresh_rows.limit(0)
            dead_new = fresh_rows.select("component").limit(0)

        appends = (
            fresh_rows.unionByName(moved)
            .localCheckpoint(eager=True)  # sever before the stores mutate
        )
        report["n_moved"] = moved.count()
        nodes_lbl.unpersist()
        if appends.isEmpty():
            return report
        staging = self.staging_path
        self._by_node.stage_bucketed(
            appends.select("node", "component"), os.path.join(staging, "by_node")
        )
        self._by_comp.stage_bucketed(
            appends.select("component", "node"), os.path.join(staging, "by_comp")
        )
        dead_rows = dead_new.localCheckpoint(eager=True)
        if not dead_rows.isEmpty():
            dead_rows.write.mode("overwrite").parquet(
                os.path.join(staging, "dead")
            )
        self._journal().commit()
        return report

    # --- read surface ---------------------------------------------------------

    def assignments(self) -> DataFrame:
        """The CURRENT (node, component) assignment — exactly one live
        row per node (rows only append under the winning label while
        the losing component is marked dead in the same commit)."""
        self.recover()
        if not self._by_comp.has_files():
            return self.spark.createDataFrame(
                [], "node bigint, component bigint"
            )
        rows = self._by_comp.read()
        dead = self._tombstones()
        if dead is not None:
            rows = rows.join(F.broadcast(dead), "component", "left_anti")
        return rows.select("node", "component")

    def probe(self, ids: DataFrame, id_col: str | None = None) -> DataFrame:
        """READ-ONLY membership lookup — the cluster store's decontam
        shape, like the near-dup and substring stores' ``probe()``:
        for every probed id CURRENTLY assigned,
        ``(node, component, is_canonical)``; ids the store has never
        seen are absent from the result (the caller's "not a known
        near-dup of anything" signal). ``is_canonical`` answers the
        dedup-plan question directly: the canonical member of a
        component is its minimum node id, which IS the component id,
        so a probed doc with ``is_canonical = false`` is a duplicate
        the keep-min plan drops.

        Nothing is written; the store's file census is untouched
        (certified by ``dedup_index_probe``'s cluster row). The
        ``by_node`` read prunes by the probe's own id set
        (``store_common.probe_pruned`` — pushed In, row-group skip), so
        the lookup is O(probe ids), never O(store); the min-per-node
        resolve aggregates on the bucket column, satisfied by the
        scan's own distribution (no Exchange — pinned in
        ``test_plan_shapes``)."""
        self.recover()
        if id_col is None:
            id_col = (
                "node"
                if "node" in ids.columns
                else ("doc_id" if "doc_id" in ids.columns else ids.columns[0])
            )
        nodes = (
            ids.select(F.col(id_col).cast("long").alias("node"))
            .filter(F.col("node").isNotNull())
            .distinct()
        )
        if not self._by_node.has_files():
            return self.spark.createDataFrame(
                [], "node bigint, component bigint, is_canonical boolean"
            )
        store = self._by_node.read()
        rows = probe_pruned(
            store, "node", nodes,
            fs=self.fs, store_dir=self.by_node_path,
        )
        if rows is store:
            # fallback (gate/cap): restrict via the broadcast join the
            # pushed filter would otherwise have made redundant
            rows = rows.join(F.broadcast(nodes), "node")
        return (
            rows.groupBy("node")
            .agg(F.min("component").alias("component"))
            .withColumn("is_canonical", F.col("node") == F.col("component"))
        )

    def canonical(self) -> DataFrame:
        """The KEPT set of the keep-min dedup plan: one row per live
        component — its canonical (minimum-id) member. By the labeling
        algebra the canonical member IS the component id, and its
        ``(node, node)`` self-row is guaranteed live: a node only ever
        becomes a component id by self-labeling while minimum, and the
        self-row moves with every merge it wins."""
        return self.assignments().filter(F.col("node") == F.col("component"))

    def duplicates(self) -> DataFrame:
        """The DROP set of the keep-min dedup plan: every live node
        that is NOT its component's canonical member, with the
        component (= the doc it duplicates) alongside — the exact
        removal list ``dedup_exact``-style compaction consumes."""
        return self.assignments().filter(F.col("node") != F.col("component"))

    # --- maintenance ----------------------------------------------------------

    def stats(self) -> dict:
        """Operational snapshot; converges interrupted commits first."""
        self.recover()
        live = self.assignments()
        dead = self._tombstones()
        return {
            "n_nodes": live.count(),
            "n_components": live.select("component").distinct().count(),
            "n_dead_components": dead.count() if dead is not None else 0,
            self.CENSUS_KEY: self._census(self._by_comp),
        }
