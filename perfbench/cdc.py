"""``cdc_catchup``: the replicator's cron catch-up — a changelog backlog
consumed by ``ReplicationRunner.run_once`` one micro-batch after another
until EOF."""

from __future__ import annotations

import os
import time

import check
import gen
import stats
from tracing import Tracer, sum_groups

#: backlog geometry: gen.MONTHS (2) months, so each of the 3 micro-batches
#: spans about 20 days — inside the 31-day old-delete horizon, which keeps
#: every ordinary DELETE applicable and every planted late DELETE rejected
N_EVENTS = 30_000
EVENTS_PER_FILE = 1_000
BATCH_ROW_BUDGET = 10_000
#: nominal wall of one catch-up round on a 4-core box (sizes --seconds)
ROUND_SECONDS = 16.0

CDC_GROUP_PREFIXES = ("runner.", "apply.", "fs.", "filters.")


def rounds_for(seconds: int) -> int:
    return max(1, round(seconds / ROUND_SECONDS))


class CdcCatchup:
    name = "cdc_catchup"
    LAYERS = (
        "runner.recover_all_s", "runner.resume_seq_s", "runner.budget_cutoff_s",
        "runner.ledger_write_s", "runner.run_once_self_s", "fs.swap_s",
        "filters.old_delete_s", "apply.append_s", "apply.mutate_s",
        "runner.resume_seq_growth_ms_per_batch", "cdc.jobs_per_batch", "cdc.tasks_per_batch",
        "cdc.shuffle_bytes_per_event", "cdc.single_task_stages", "apply.mutate_write_amp",
        "apply.partitions_swapped", "cdc.rows_quarantined", "cdc.rows_rejected_old_delete",
        "cdc.single_core_events_per_s",
    )

    def setup(self, ctx) -> None:
        tbl, planted = gen.changelog(ctx.seed, N_EVENTS, EVENTS_PER_FILE)
        gen.write_changelog(tbl, ctx.path("changelog"))
        self.changelog, ctx.info["planted"] = tbl, planted
        # a small backlog of the same shape (two batches and the EOF poll:
        # a table-creating batch and a re-fold), caught up once so the
        # measured batches do not pay class loading and codegen
        warm, _ = gen.changelog(ctx.seed + 1_000_003, 300, events_per_file=100)
        gen.write_changelog(warm, ctx.path("warm_changelog"))
        ctx.start_spark()
        ctx.warm_session(lambda: self._catch_up(ctx, "warm_changelog", "warm_wh", budget=150))
        self.round = 0

    def _runner(self, ctx, target: str, budget: int):
        from mysql2clickhouse_spark.streaming.runner import ReplicationRunner, RunConfig

        cfg = RunConfig(target_dir=ctx.path(target), batch_row_budget=budget, table_concurrency=1)
        return ReplicationRunner(ctx.spark, cfg)

    def _catch_up(self, ctx, source: str, target: str, budget: int):
        """Run ``run_once`` until EOF; returns (runner, [(wall, report)])."""
        runner = self._runner(ctx, target, budget)
        changelog = ctx.spark.read.parquet(ctx.path(source))
        batches = []
        while True:
            t0 = time.perf_counter()
            rep = runner.run_once(changelog)
            batches.append((time.perf_counter() - t0, rep))
            if rep.end_seq == rep.start_seq:
                return runner, batches

    def run_unit(self, ctx):
        """One catch-up round into a fresh warehouse."""
        self.round += 1
        t0 = time.perf_counter()
        runner, batches = self._catch_up(ctx, "changelog", f"wh{self.round}", BATCH_ROW_BUDGET)
        wall = time.perf_counter() - t0
        self.last = (runner, batches)
        return {"wall": wall, "batches": batches}

    def measure(self, ctx) -> dict:
        units = [self.run_unit(ctx) for _ in range(rounds_for(ctx.seconds))]
        walls = [w for u in units for w, rep in u["batches"] if rep.end_seq != rep.start_seq]
        loop = sum(u["wall"] for u in units)
        events = N_EVENTS * len(units)
        p, tail, n = stats.tail_or_max(walls)
        ctx.info["named"] = {
            "cdc_events_per_s": events / loop,
            "cdc_batch_p50_s": stats.median(walls),
            "cdc_batch_tail_s": {"value": tail, "at": p, "samples": n},
            "eof_poll_s": [u["batches"][-1][0] for u in units],
            "backlog_events": N_EVENTS,
            "rounds": len(units),
        }
        return {
            "work_per_s": events / loop,
            "op_p50_s": stats.median(walls),
            "unit_wall": loop / len(units),
            "attempted": sum(len(u["batches"]) for u in units),
        }

    def check(self, ctx) -> list[str]:
        runner, batches = self.last
        ref = check.reference_fold(self.changelog)
        stored = {}
        for t in gen.APPEND_TABLES + gen.MUTATE_TABLES:
            path = runner.table_path(t)
            if os.path.isdir(path):
                stored[t] = check.read_table_dir(path)
        reports = [
            {"rows_quarantined": r.rows_quarantined,
             "rows_rejected_old_delete": r.rows_rejected_old_delete}
            for _, r in batches
        ]
        problems = check.check_cdc(ref, stored, check.read_ledger_resume(runner.ledger_path), reports)
        planted = ctx.info["planted"]
        if ref["rejected_old_delete"] != planted["late_deletes"]:
            problems.append(
                f"reference rejects {ref['rejected_old_delete']} deletes, planted {planted['late_deletes']}"
            )
        if ref["quarantined"] != planted["poison_rows"]:
            problems.append(f"reference quarantines {ref['quarantined']}, planted {planted['poison_rows']}")
        ctx.info["reference"] = {k: ref[k] for k in ("rejected_old_delete", "quarantined", "resume_seq", "consumed")}
        return problems

    # --- traced run ---------------------------------------------------------

    def trace_targets(self, counters: dict):
        from mysql2clickhouse_spark.streaming.runner import ReplicationRunner as R

        def apply_name(_self, tbl, policy, *_a):
            return "apply.append" if policy.apply_mode in ("append", "insert_as_update") else "filters.old_delete"

        def on_run(_sp, _self, _args, rep):
            counters["runs"].append(rep)

        def on_mutate(_sp, _self, _args, n):
            counters["rewritten"] += n

        def on_swap(_sp, _self, args, _r):
            counters["swapped"] += len(args[2])

        def on_resume(sp, _self, _args, _r):
            counters["resume"].append(sp.duration)

        return [
            (R, "run_once", "runner.run_once", on_run),
            (R, "recover_all", "runner.recover_all", None),
            (R, "resume_seq", "runner.resume_seq", on_resume),
            (R, "_budget_cutoff", "runner.budget_cutoff", None),
            (R, "_apply_table", apply_name, None),
            (R, "_apply_mutate_table", "apply.mutate", on_mutate),
            (R, "_swap_partitions", "fs.swap", on_swap),
            (R, "_swap_whole", "fs.swap", None),
            (R, "_write_ledger", "runner.ledger_write", None),
        ]

    def traced(self, ctx) -> dict:
        counters = {"runs": [], "rewritten": 0, "swapped": 0, "resume": []}
        tracer = Tracer(ctx.spark.sparkContext)
        with tracer.patch(self.trace_targets(counters)):
            t0 = time.perf_counter()
            unit = self.run_unit(ctx)
            wall = time.perf_counter() - t0
        return {"tracer": tracer, "counters": counters, "wall": wall, "units": [unit]}

    def layer_metrics(self, ctx, t: dict, folded: dict) -> dict:
        tracer, c = t["tracer"], t["counters"]
        runs = c["runs"]
        n_runs = len(runs)
        committed = [rep for rep in runs if rep.end_seq != rep.start_seq]
        n_b = max(1, len(committed))
        seqs = self.changelog.column("seq").to_numpy()
        tables = self.changelog.column("table_name").to_numpy(zero_copy_only=False)
        ops = self.changelog.column("op").to_numpy(zero_copy_only=False)
        keys_null = self.changelog.column("key").is_null().to_numpy(zero_copy_only=False)
        valid = ~keys_null & ((ops == "I") | (ops == "U") | (ops == "D"))
        is_mut = (tables == gen.MUTATE_TABLES[0]) | (tables == gen.MUTATE_TABLES[1])
        mut_events = 0
        for rep in committed:
            lo = -1 if rep.start_seq is None else rep.start_seq
            sel = (seqs > lo) & (seqs <= rep.end_seq)
            mut_events += int((sel & valid & is_mut).sum())
        cdc = sum_groups(folded, lambda g: g.startswith(CDC_GROUP_PREFIXES))
        per = lambda name: tracer.self_total(name) / n_b  # noqa: E731
        # the first lookup of a round reads a ledger that does not exist yet
        resume = c["resume"][1:]
        return {
            "runner.recover_all_s": per("runner.recover_all"),
            "runner.resume_seq_s": per("runner.resume_seq"),
            "runner.budget_cutoff_s": per("runner.budget_cutoff"),
            "runner.ledger_write_s": per("runner.ledger_write"),
            "runner.run_once_self_s": per("runner.run_once"),
            "fs.swap_s": per("fs.swap"),
            "filters.old_delete_s": per("filters.old_delete"),
            "apply.append_s": per("apply.append"),
            "apply.mutate_s": per("apply.mutate"),
            "runner.resume_seq_growth_ms_per_batch": 1000.0 * stats.slope(list(range(len(resume))), resume),
            "cdc.jobs_per_batch": cdc["jobs"] / max(1, n_runs),
            "cdc.tasks_per_batch": cdc["tasks"] / max(1, n_runs),
            "cdc.shuffle_bytes_per_event": cdc["shuffle_write_bytes"] / N_EVENTS,
            "cdc.single_task_stages": cdc["single_task_stages"],
            "apply.mutate_write_amp": c["rewritten"] / max(1, mut_events),
            "apply.partitions_swapped": c["swapped"] / n_b,
            "cdc.rows_quarantined": committed[0].rows_quarantined if committed else 0,
            "cdc.rows_rejected_old_delete": sum(rep.rows_rejected_old_delete for rep in runs),
        }
