"""``store_ingest``: the incremental near-dup store — a ``MinHashIndex``
pre-built to a base size, then a closed loop that ingests a fixed-size
batch of fresh ids (``add_batch``) and probes a small fixed batch
(``probe``), so the store grows while it is read."""

from __future__ import annotations

import time
from contextlib import nullcontext

import check
import gen
import stats
from tracing import Tracer, self_times, sum_groups

BASE_DOCS = 500
#: an add_batch costs about the same wall at 100 and at 500 docs (fixed
#: per-task work dominates on 4 cores), so a smaller batch would not buy
#: more samples per run
BATCH_DOCS = 500
#: rows per batch that replay an id already stored (with another stored
#: doc's text): the ledger must drop them
REPLAY_DOCS = 25
PROBE_DOCS = 20
PROBE_ID_OFFSET = 900_000_000
#: nominal wall of one ingest+probe cycle on a 4-core box (sizes --seconds)
CYCLE_SECONDS = 10.0
#: fewest measured cycles: a store run costs a Spark start, the base
#: build and about 10 s per cycle on a 4-core box, and two cycles keep it
#: well inside the gate's time per run
MIN_CYCLES = 2
#: cycles the traced run adds after the untraced ones (one keeps the
#: traced invocation well inside its 180 s on a slow 4-core box)
TRACED_CYCLES = 1
THRESHOLD = 0.7
STORE_GROUPS = ("store.add_batch", "store.recover", "store.stage", "store.commit")


def cycles_for(seconds: int) -> int:
    return max(MIN_CYCLES, round(seconds / CYCLE_SECONDS))


class StoreIngest:
    name = "store_ingest"
    LAYERS = (
        "store.recover_s", "store.stage_s", "store.commit_s", "store.add_batch_self_s",
        "store.ingest_slope_s_per_10k_docs", "store.probe_s", "store.tasks_per_batch",
        "store.shuffle_bytes_per_batch", "store.single_task_stages", "store.band_files",
    )

    def setup(self, ctx) -> None:
        from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

        n_batches = cycles_for(ctx.seconds) + (TRACED_CYCLES if ctx.trace else 0)
        self.corpus, planted = gen.documents(ctx.seed, BASE_DOCS, n_batches, BATCH_DOCS)
        self.planted_pairs = planted.pop("pairs")
        replays = [gen.replays(ctx.seed, self.corpus, REPLAY_DOCS, i) for i in range(n_batches)]
        self.replayed = {frozenset(p) for ids, _texts, src in replays for p in zip(ids, src)}
        planted["replayed_rows_per_batch"] = REPLAY_DOCS
        ctx.info["planted"] = planted
        probe_ids, probe_texts = gen.probe_docs(ctx.seed, self.corpus, PROBE_DOCS, PROBE_ID_OFFSET)
        self.texts = dict(self.corpus["texts"])
        self.texts.update(zip(probe_ids, probe_texts))
        spark = ctx.start_spark()
        # every input frame is a slice of one checkpointed table (part -1:
        # the base, -2: the probe batch, i: ingest batch i), so the inputs
        # cost one Spark job and each operation scans only memory
        parts = [(-1, *self.corpus["base"]), (-2, probe_ids, probe_texts)] + [
            (i, ids + r_ids, texts + r_texts)
            for i, ((ids, texts), (r_ids, r_texts, _src)) in enumerate(zip(self.corpus["batches"], replays))
        ]
        rows = [(part, i, t) for part, ids, texts in parts for i, t in zip(ids, texts)]
        self.pairs: list[tuple[int, int]] = []
        self.probe_rows: list[tuple[int, int]] = []
        self.docs_added = 0

        def build():
            inputs = spark.createDataFrame(rows, "part int, doc_id bigint, text string") \
                .localCheckpoint(eager=True)
            frames = {p: inputs.where(inputs.part == p).drop("part") for p, _ids, _texts in parts}
            self.index = MinHashIndex(spark, ctx.path("index"), threshold=THRESHOLD)
            self.batches = [frames[i] for i in range(n_batches)]
            self.probe_batch = frames[-2]
            self._ingest(frames[-1], BASE_DOCS)

        # the base build's signer starts the Python workers; the first
        # measured cycle is the first new-x-old ingest and probe, and the
        # medians carry its cold start
        ctx.warm_session(build)

    def _ingest(self, batch, n_docs: int) -> None:
        self.pairs += [(r["id_a"], r["id_b"]) for r in self.index.add_batch(batch).collect()]
        self.docs_added += n_docs

    def _cycle(self, batch, tracer: Tracer | None = None) -> dict:
        """``add_batch`` then ``probe``, each timed through the collect of
        its result (``probe`` returns a lazy frame: the lookup runs there)."""
        span = tracer.span if tracer is not None else (lambda _name: nullcontext())
        size = self.docs_added
        self.index.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with span("store.add_batch"):
            self._ingest(batch, BATCH_DOCS)
        t1 = time.perf_counter()
        with span("store.probe"):
            rows = self.index.probe(self.probe_batch).collect()
        t2 = time.perf_counter()
        self.probe_rows += [(r["probe_id"], r["match_id"]) for r in rows]
        return {"store_docs": size, "ingest": t1 - t0, "probe": t2 - t1, "wall": t2 - t0}

    def run_unit(self, ctx, tracer: Tracer | None = None) -> dict:
        return self._cycle(self.batches.pop(0), tracer)

    def measure(self, ctx) -> dict:
        units = [self.run_unit(ctx) for _ in range(cycles_for(ctx.seconds))]
        self.measured = units
        loop = sum(u["wall"] for u in units)
        cyc = [u["wall"] for u in units]
        ing = [u["ingest"] for u in units]
        prb = [u["probe"] for u in units]
        p, tail, n = stats.tail_or_max(cyc)
        pp, ptail, pn = stats.tail_or_max(prb)
        ctx.info["named"] = {
            "store_docs_per_s": BATCH_DOCS / stats.median(ing),
            "store_ingest_p50_s": stats.median(ing),
            "store_probe_p50_s": stats.median(prb),
            "store_probe_tail_s": {"value": ptail, "at": pp, "samples": pn},
            "cycle_tail_s": {"value": tail, "at": p, "samples": n},
            "cycles": len(units),
        }
        return {
            "work_per_s": BATCH_DOCS / stats.median(ing),
            "op_p50_s": stats.median(cyc),
            "unit_wall": loop / len(units),
            "attempted": 2 * len(units),
        }

    # --- correctness ----------------------------------------------------------

    def check(self, ctx) -> list[str]:
        problems = check.check_pairs_jaccard(self.pairs, self.texts, THRESHOLD)
        problems += [f"probe {p}" for p in check.check_pairs_jaccard(self.probe_rows, self.texts, THRESHOLD)]
        ingested = set(self.corpus["base"][0])
        for ids, _ in self.corpus["batches"][: len(self.corpus["batches"]) - len(self.batches)]:
            ingested.update(ids)
        planted = [(a, b) for a, b, _j in self.planted_pairs if a in ingested and b in ingested]
        rec = check.recall(self.pairs, planted)
        if rec < 0.5:
            problems.append(f"planted-pair recall {rec:.2f} < 0.5")
        # a replayed row (stored id, another stored doc's text) ingests
        # nothing: had it been ingested, it would pair with that doc
        replay_pairs = sum(frozenset(p) in self.replayed for p in self.pairs)
        n_docs = self.index.stats()
        if replay_pairs:
            problems.append(f"replayed rows emitted {replay_pairs} pairs")
        if n_docs["n_docs"] != self.docs_added:
            problems.append(f"stats() counts {n_docs['n_docs']} docs, {self.docs_added} were added")
        ctx.info["store"] = {
            "planted_pair_recall": rec,
            "planted_pairs_ingested": len(planted),
            "pairs_emitted": len(self.pairs),
            "probe_matches": len(self.probe_rows),
            "stats": n_docs,
        }
        self.band_files = n_docs["band_files"]
        return problems

    # --- traced run -------------------------------------------------------------

    def trace_targets(self):
        from mysql2clickhouse_spark.operators.bucketed import BucketedStore
        from mysql2clickhouse_spark.operators.journal import StagedCommit
        from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

        return [
            (MinHashIndex, "recover", "store.recover", None),
            (BucketedStore, "stage_bucketed", "store.stage", None),
            (StagedCommit, "commit", "store.commit", None),
        ]

    def traced(self, ctx) -> dict:
        tracer = Tracer(ctx.spark.sparkContext)
        t0 = time.perf_counter()
        with tracer.patch(self.trace_targets()):
            units = [self.run_unit(ctx, tracer) for _ in range(TRACED_CYCLES)]
        return {"tracer": tracer, "wall": time.perf_counter() - t0, "units": units}

    def layer_metrics(self, ctx, t: dict, folded: dict) -> dict:
        tracer = t["tracer"]
        spans = tracer.spans
        selfs = self_times(spans)
        n = len(t["units"])

        def under_add(name):
            return sum(
                st for s, st in zip(spans, selfs)
                if s.name == name and s.parent is not None and spans[s.parent].name == "store.add_batch"
            ) / n

        g = sum_groups(folded, lambda name: name in STORE_GROUPS)
        sizes = [u["store_docs"] for u in self.measured]
        return {
            "store.recover_s": under_add("store.recover"),
            "store.stage_s": under_add("store.stage"),
            "store.commit_s": under_add("store.commit"),
            "store.add_batch_self_s": tracer.self_total("store.add_batch") / n,
            "store.ingest_slope_s_per_10k_docs": 1e4 * stats.slope(sizes, [u["ingest"] for u in self.measured]),
            "store.probe_s": sum(s.duration for s in spans if s.name == "store.probe") / n,
            "store.tasks_per_batch": g["tasks"] / n,
            "store.shuffle_bytes_per_batch": g["shuffle_write_bytes"] / n,
            "store.single_task_stages": g["single_task_stages"],
            "store.band_files": self.band_files,
        }
