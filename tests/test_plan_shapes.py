"""Physical-plan regression tests — the 100 TB contract.

Correctness says what a query returns; these say how it runs. Each
assertion pins a plan property that matters at scale and that a
refactor could silently lose: dimension broadcasts, filter pushdown
into the parquet scan, single-shuffle window dedup, top-k without a
global sort, and a Python-free hot path.
"""

from __future__ import annotations

import pytest

from mysql2clickhouse_spark.plans import all_queries_extended


def plan_of(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def queries():
    return all_queries_extended()


def test_q10_broadcasts_every_dimension(spark, sf_dir, queries):
    plan = plan_of(spark, queries["q10_regional_revenue"](spark, sf_dir))
    # customer, nation, region are hinted broadcast; at test SF orders
    # broadcasts too — at minimum the three hinted dims must be there
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_filters_push_into_scan(spark, sf_dir, queries):
    plan = plan_of(spark, queries["cdc_filters"](spark, sf_dir))
    # F5 position bounds must reach the parquet reader as native filters
    assert "GreaterThan(event_id,100)" in plan
    assert "LessThanOrEqual(event_id,9000)" in plan


def test_latest_window_is_single_shuffle(spark, sf_dir, queries):
    plan = plan_of(spark, queries["q1_latest_window"](spark, sf_dir))
    assert plan.count("+- Exchange") == 1  # one hash-partition for the window


def test_latest_argmax_is_partial_agg_no_window(spark, sf_dir, queries):
    """Skew-immunity pin: the argmax form must compile to a two-phase
    aggregate (map-side partial max_by, one struct per key per input
    partition on the wire) with NO Window node — a window would ship a
    hot key's whole version history into one task."""
    plan = plan_of(spark, queries["q1_latest_argmax"](spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("+- Exchange") == 1
    # two-phase aggregate around the single exchange: the map side runs
    # partial_max_by (struct ordering => SortAggregate), so the shuffle
    # carries one packed row per key per input partition
    assert "partial_max_by" in plan
    assert plan.count("SortAggregate (") == 2  # tree: partial + final


def test_json_envelope_roundtrip_stays_jvm_side(spark, sf_dir, queries):
    """The Debezium-envelope build+parse must be pure column expressions
    (to_json/from_json inside codegen) — no Python eval in a CDC source
    adapter that fronts every byte at 100 TB."""
    plan = plan_of(spark, queries["cdc_json_roundtrip"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # scan → project, no shuffle


def test_ivf_partitioned_probe_prunes_partitions(spark, sf_dir, queries):
    """Index-as-table pin: the persisted IVF probe must read ONLY the
    probed list_id partition directories — the isin filter lands in
    PartitionFilters (metadata pruning), never in post-scan Filter."""
    plan = plan_of(spark, queries["ann_ivf_partitioned"](spark, sf_dir))
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*list_id[^\]]*)\]", plan)
    assert m, f"no list_id partition filter in scan:\n{plan[:2000]}"


def test_text_stats_stays_jvm_side_no_shuffle(spark, sf_dir, queries):
    plan = plan_of(spark, queries["text_stats"](spark, sf_dir))
    assert "Exchange" not in plan  # pure per-row projection over the scan
    assert "Python" not in plan    # no UDF on the 100 TB hot path


def test_retention_probe_is_takeordered_not_global_sort(spark, sf_dir, queries):
    plan = plan_of(spark, queries["q4_retention_probe"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full sort of the table


def test_argmax_checkpoint_broadcasts_the_one_row_agg(spark, sf_dir, queries):
    plan = plan_of(spark, queries["q7_argmax_checkpoint"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_budget_slice_plan_has_no_global_sort(spark, tmp_path):
    """B4 at scale: the run-budget slice must compile to a pushed-down
    filter, NOT a TakeOrderedAndProject (a budget-sized single-task
    merge — the old ``orderBy(seq).limit(budget)`` shape)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mysql2clickhouse_spark.operators.filters import filter_pos_range
    from mysql2clickhouse_spark.streaming.runner import ReplicationRunner, RunConfig

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        ("I", "visits", i % 7, i, i // 50, t0 + dt.timedelta(minutes=i), float(i), "e")
        for i in range(200)
    ]
    cl = spark.createDataFrame(
        rows,
        "op string, table_name string, key bigint, seq bigint, file_seq bigint,"
        " ts timestamp, value double, event_type string",
    )
    cl.write.parquet(str(tmp_path / "cl"))
    stored = spark.read.parquet(str(tmp_path / "cl"))

    runner = ReplicationRunner(spark, RunConfig(target_dir=str(tmp_path / "wh")))
    # same construction as run_once: resume slice -> file clamp -> budget
    batch = filter_pos_range(stored, 9, None)
    hi = runner._budget_cutoff(batch, budget=70)
    assert hi is not None
    # 9 < seq <= hi covers ~70 rows: file 0 remainder (40) + refined cut
    # inside file 1 — boundary exact to the file, cut exact to the rank
    assert 75 <= hi <= 82

    sliced = batch.filter(F.col("seq") <= hi)
    plan = plan_of(spark, sliced)
    assert "TakeOrderedAndProject" not in plan
    assert "Sort " not in plan and "Exchange" not in plan
    # and both bounds reach the parquet reader
    assert "GreaterThan(seq,9)" in plan
    assert f"LessThanOrEqual(seq,{hi})" in plan


def test_quality_and_pii_queries_stay_jvm_side_no_shuffle(spark, sf_dir, queries):
    """The pre-training filter pass must ride the scan: per-row column
    expressions only — no Exchange, no Python workers — so at 100 TB the
    gate costs one projection, not a stage."""
    for name in ("text_quality_gopher", "text_pii_redact"):
        plan = plan_of(spark, queries[name](spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "Python" not in plan, name


def test_tfidf_df_join_survives_without_broadcast(spark, sf_dir, queries):
    """The TF-IDF document-frequency table is O(vocabulary) — it must
    NOT be pinned to a broadcast by hint. With auto-broadcast disabled
    (the 100 TB stats regime) the tf⋈df join has to lower to a shuffle
    join on token; only the explicitly-hinted 1-row n_docs aggregate
    may still broadcast."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, queries["text_tfidf_docsim"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:1500]
    # the only hinted broadcast is the 1-row n_docs aggregate, which
    # lowers to a nested-loop cross join — no equi-join build side
    # (i.e. no vocabulary-sized table) may be broadcast
    assert "BroadcastHashJoin" not in plan, plan[:2000]


def test_top2gram_is_two_narrow_shuffles(spark, sf_dir, queries):
    """The per-doc argmax profile: one shuffle for the (doc, gram)
    count (partial-agg combines map-side), one for the per-doc window —
    and nothing else (no join back to the corpus, no global sort)."""
    plan = plan_of(spark, queries["text_repetition_top2gram"](spark, sf_dir))
    # "Exchange (" counts tree nodes only (details repeat the name)
    assert plan.count("Exchange (") == 2, plan[:1500]
    assert "Join" not in plan
    assert "HashAggregate" in plan  # partial+final agg, not sort-based
    # rank-1 pruning runs BEFORE the window shuffle (partial group limit)
    assert "WindowGroupLimit" in plan


def test_sessionize_is_single_shuffle(spark, sf_dir, queries):
    """Gaps-and-islands sessionization: the lag window, the running-sum
    window, and the per-session aggregation all share the user_id
    partitioning — exactly ONE Exchange in the plan."""
    plan = plan_of(spark, queries["events_sessionize"](spark, sf_dir))
    assert plan.count("Exchange (") == 1, plan[:1500]
    assert "Python" not in plan


def test_hash_signature_stages_stay_codegen_with_partial_agg(spark, sf_dir, queries):
    """MinHash and SimHash signatures are explode + ONE partially-
    aggregated groupBy on the doc id — NOT per-row higher-order-function
    folds (HoF lambdas run on the expression interpreter, outside
    whole-stage codegen; measured 2-5x slower at sf0.1). The pin:

    - exactly one Exchange, keyed on the id — thanks to the partial
      (map-side) HashAggregate the wire carries one signature row per
      doc per partition, never corpus x shingles/tokens rows;
    - both HashAggregates inside WholeStageCodegen spans (the vote /
      min arithmetic is plain column expressions);
    - no higher-order function left in the hot path (the only lambdas
      sit in the pre-explode token/shingle array build)."""
    from mysql2clickhouse_spark.functions.minhash import (
        minhash_signatures,
        with_hset,
        with_simhash,
    )
    from mysql2clickhouse_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for frame in (
        minhash_signatures(with_hset(docs, "text", 5)),
        with_simhash(docs, "text", attach=False),
    ):
        plan = plan_of(spark, frame)
        assert plan.count("Exchange (") == 1, plan[:1500]
        assert "hashpartitioning(doc_id" in plan, plan[:1500]
        # partial + final HashAggregate: plain min/sum columns — exactly
        # the shape whole-stage codegen compiles (codegen ids only print
        # on a finalized AQE plan, so the pin is structural)
        assert plan.count("HashAggregate (") == 2, plan[:1500]


def test_arrow_signed_sigs_are_repartitioned_on_the_id(spark, sf_dir):
    """The fused dedup pipeline caches its signatures via
    ``signed_partitioned`` — Arrow signer + ONE explicit hash
    repartition on the doc id. The repartition is the load-bearing
    part: the zero-shuffle Arrow signer inherits the corpus scan's
    file-layout partitioning (a few fat partitions), and a sigs cache
    in that layout feeds the band groupBy and both estimate-filter
    joins from starved parallelism — measured 4.05 s vs 2.66 s
    whole-query at sf0.1 (scripts/bench_signer_ab.py,
    BENCH_NOTES_r08.md). Pin: the plan is ArrowEvalPython + exactly one
    Exchange, keyed on the id, and no aggregate (the signer is a
    projection, not the explode+groupBy form)."""
    from mysql2clickhouse_spark.functions.minhash import (
        signed_partitioned,
        with_hset,
    )
    from mysql2clickhouse_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(spark, signed_partitioned(with_hset(docs, "text", 5)))
    assert "ArrowEvalPython" in plan, plan[:1500]
    assert plan.count("Exchange (") == 1, plan[:1500]
    assert "hashpartitioning(doc_id" in plan, plan[:1500]
    assert "HashAggregate" not in plan, plan[:1500]


def test_asof_join_is_single_shuffle_single_window(spark, sf_dir, queries):
    """The union-window as-of join: one Exchange on user_id, one Window
    node carrying both the matched id and its timestamp (the naive
    join+filter form would be quadratic in events-per-user), and the
    side filter pushed into the parquet scan."""
    plan = plan_of(spark, queries["events_asof_join"](spark, sf_dir))
    assert plan.count("Exchange (") == 1, plan[:1200]
    assert plan.count("Window (") == 1, plan[:1200]
    assert "In(event_type" in plan  # side filter reaches the scan


def test_range_join_is_binned_equi_join_not_nested_loop(spark, sf_dir, queries):
    """Interval join via bucket expansion: the plan must contain an
    equi-join (hash or sort-merge) on the time bucket and NO
    nested-loop — the shape a plain BETWEEN-join would produce."""
    plan = plan_of(spark, queries["events_range_join"](spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_q13_broadcasts_every_dim_no_fact_shuffle(spark, sf_dir, queries):
    """Q13 (part/supplier margin profile): all three dims broadcast —
    the fact table reaches the aggregation without a single join
    shuffle (the only Exchange is the groupBy's own)."""
    plan = plan_of(spark, queries["q13_supplier_part_margin"](spark, sf_dir))
    # tree nodes print as "BroadcastHashJoin Inner BuildRight (n)" — the
    # feeding BroadcastExchange count is the stable 3-dim pin
    assert plan.count("BroadcastExchange (") == 3, plan[:1500]
    assert "SortMergeJoin" not in plan


def test_unpartitioned_window_detector(spark):
    """The plan lint itself: flags a global-order window — INCLUDING
    the constant-key spelling, which the optimizer folds back to an
    empty spec — and passes a genuinely partitioned one."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mysql2clickhouse_spark.plans.plancheck import unpartitioned_windows

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    w_global = Window.orderBy("id")
    w_part = Window.partitionBy("g").orderBy("id")
    w_const = Window.partitionBy(F.lit(0)).orderBy("id")
    assert unpartitioned_windows(df.withColumn("r", F.row_number().over(w_global)))
    assert not unpartitioned_windows(df.withColumn("r", F.row_number().over(w_part)))
    # a foldable partition key is NOT an escape hatch
    assert unpartitioned_windows(df.withColumn("r", F.row_number().over(w_const)))


def test_no_unpartitioned_window_in_headline_window_queries(spark, sf_dir, queries):
    """Blanket scale pin for the window family (the FULL extended
    registry is linted by scripts/check_parity.py on every parity run;
    these are the headline members, kept in pytest so a regression
    fails fast)."""
    from mysql2clickhouse_spark.plans.plancheck import unpartitioned_windows

    for name in (
        "q1_latest_window",
        "q3_dedup_window",
        "events_sessionize",
        "corpus_pack_sequences",
        "cdc_txn_attribution",
        "corpus_export_shards",
    ):
        bad = unpartitioned_windows(queries[name](spark, sf_dir))
        assert not bad, f"{name}: {bad}"


def test_kcenter_is_one_scan_one_agg(spark, sf_dir, queries):
    """Sample-then-assign k-center: the RETURNED plan is one
    column-pruned scan of the embeddings table feeding one Arrow GEMM
    and a two-phase aggregate — no Window, no join, no checkpointed
    RDD. With the bounded sample collect at build time, that is ≤ 2
    corpus passes REGARDLESS of k (the old exact-greedy form
    materialized the corpus k times)."""
    df = queries["corpus_sample_kcenter"](spark, sf_dir)
    plan = plan_of(spark, df)
    assert plan.count("Scan parquet  (") == 1, plan[:1500]  # tree node
    assert "ReadSchema: struct<embedding" in plan  # column-pruned scan
    assert plan.count("ArrowEvalPython (") == 1   # the one GEMM pass
    assert plan.count("HashAggregate (") == 2     # partial + final
    assert "Window" not in plan and "Join" not in plan
    assert "ExistingRDD" not in plan              # no localCheckpoint loop


def test_session_window_is_single_shuffle_no_window_node(spark, sf_dir, queries):
    plan = plan_of(spark, queries["events_session_window"](spark, sf_dir))
    # native session_window: partial agg + MergingSessions inside the
    # aggregation operator — ONE Exchange on the grouping key and no
    # Window operator at all (the gaps-and-islands form needs a Window)
    assert plan.count("Exchange (") == 1
    assert "MergingSessions" in plan
    assert "Window" not in plan.replace("session_window", "")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _walk_exec_counts(plan_node) -> dict:
    """Physical-node class-name histogram; AQE unwrapped, cached plans
    behind InMemoryTableScan NOT re-walked (they execute once to
    populate the cache, not once per reference)."""
    counts: dict[str, int] = {}

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        counts[name] = counts.get(name, 0) + 1
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.startswith("InMemoryTableScan"):
            return
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(plan_node)
    return counts


def test_lsh_topk_corpus_gemm_runs_once(spark, sf_dir, queries):
    """Round-4 regression pin: the hot-bucket quarantine's eager sizing
    count() re-executed the full corpus LSH GEMM (the corpus bucket
    frame wasn't persisted), doubling the most expensive pass of
    ann_lsh_topk. Now the corpus projection AND the quarantine's pruned
    output are persisted and the quarantine is lazy/in-plan: the
    EXECUTED plan must show exactly ONE ArrowEvalPython (the query-side
    GEMM) with the entire corpus side — GEMM, sizing aggregate, prune,
    observe metric — confined behind the cache (computed once when the
    cache populates). No sizing job, no visible corpus GEMM."""
    df = queries["ann_lsh_topk"](spark, sf_dir)
    df.count()
    counts = _walk_exec_counts(df._jdf.queryExecution().executedPlan())
    assert counts.get("ArrowEvalPythonExec", 0) == 1, counts
    assert counts.get("InMemoryTableScanExec", 0) >= 1, counts


def test_quarantine_plan_build_launches_no_job(spark):
    """The quarantine is a pure plan builder: constructing it must not
    run a Spark job (round 4 ran an eager hot.count() per build — a
    full upstream re-execution when the input wasn't cached)."""
    from pyspark.sql import functions as F

    from mysql2clickhouse_spark.functions.minhash import (
        _quarantine_hot_buckets,
    )

    exploded = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("b_idx"), F.lit(0).alias("b_val")
    )
    store = spark.sparkContext._jsc.sc().statusStore()
    j0 = store.jobsList(None).size()
    pruned = _quarantine_hot_buckets(
        exploded, ["b_idx", "b_val"], 10, "test.lazy_quarantine"
    )
    assert store.jobsList(None).size() == j0  # zero jobs at build time
    # and the plan is still a correct prune: every bucket here has ~143
    # members > cap 10, so everything is quarantined
    assert pruned.count() == 0


def test_runtime_bloom_filter_injects_for_selective_fact_join(spark, sf_dir):
    """100 TB semi-join reduction: when a selective dimension joins a
    fact too big to broadcast, Catalyst's runtime bloom filter must
    inject (bloom_filter_agg on the dim side, might_contain on the
    fact scan) so the fact shuffle carries only candidate keys.

    Locally the fact is far below the 10 GB application-side scan
    threshold, so the test lowers that knob (a size gate, not a
    semantics switch) to emulate the at-scale decision; the session's
    bloom-filter optimization itself must already be on."""
    from pyspark.sql import functions as F

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    )
    knobs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in knobs}
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        fact = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = (
            fact.join(o, fact.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_consistency_check_folds_are_jvm_side_partial_aggregates(spark, sf_dir, queries):
    """The integrity check's 100 TB contract: every per-table checksum
    fold is a JVM-side hash aggregate with map-side partials (the
    bit_xor/sum/count combine before the exchange), and no Python node
    appears anywhere in the plan."""
    plan = plan_of(spark, queries["cdc_consistency_check"](spark, sf_dir))
    assert "partial_bit_xor" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only joins are the two checksum_compare FULL OUTERs over
    # per-table aggregate frames (full outer cannot broadcast, so they
    # appear as tiny SortMergeJoins) — never a row-level src⋈dst join.
    # the tree section names the join type ("SortMergeJoin FullOuter"),
    # the detail section repeats each node bare — so 2 joins show as
    # 2 typed + 2 bare mentions; every SMJ must be one of the FULL
    # OUTER compares.
    n_full_outer = plan.count("SortMergeJoin FullOuter")
    assert n_full_outer <= 2
    assert plan.count("SortMergeJoin") == 2 * n_full_outer
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_spread_is_split_aware_not_file_count(spark, tmp_path):
    """r11 verdict finding #3: ``spread()`` must not round-robin-exchange
    a table delivered as FEW HUGE files — at scale a multi-TB table can
    arrive as ≤ 2×cores files, each of which the scan planner cuts into
    many splits. The probe now estimates splits from file bytes vs
    ``spark.sql.files.maxPartitionBytes`` when the file count alone is
    under target; only a table that is small in BYTES takes the widening
    repartition."""
    from mysql2clickhouse_spark.sources.tables import spread

    p = str(tmp_path / "one_big_file")
    spark.range(50_000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) == 1
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # tiny split size ⇒ the one file is estimated as many splits ⇒
        # the scan already feeds every core ⇒ NOT repartitioned
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        assert spread(df, min_partitions=64) is df
        # huge split size ⇒ the file is one split ⇒ widening applies
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1g")
        assert spread(df, min_partitions=64) is not df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    # a non-file-backed frame still takes the repartition (its width is
    # unknowable from files; correct for in-memory fixtures)
    mem = spark.createDataFrame([(1,)], "id int")
    assert spread(mem, min_partitions=4) is not mem


def test_substring_store_membership_join_never_exchanges_the_store(spark, tmp_path):
    """The SubstringIndex 100 TB contract (r8 verdict finding #1): the
    per-batch membership join must exchange only the BATCH's grams —
    the store side streams straight out of its bucketed layout, so
    ingest cost stays O(batch) no matter how large the store grows.
    Broadcast is disabled because at scale the store side can never
    broadcast — this pins the at-scale (sort-merge) plan."""
    from mysql2clickhouse_spark.functions.text import gram_rows, tokenized_docs
    from mysql2clickhouse_spark.operators.substring_index import SubstringIndex

    idx = SubstringIndex(spark, str(tmp_path / "ssidx"), k=4, n_buckets=8)
    idx.add_batch(
        spark.createDataFrame(
            [(1, "w1 w2 w3 w4 w5 w6"), (2, "x1 x2 x3 x4 x5")],
            "doc_id bigint, text string",
        )
    )
    batch2 = spark.createDataFrame(
        [(5, "x1 x2 x3 x4 x5"), (7, "z1 z2 z3 z4 z5")],
        "doc_id bigint, text string",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        grams = gram_rows(tokenized_docs(batch2), 4)
        plan = plan_of(spark, grams.join(idx._stored_grams(), "gram", "left"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    # the store scan carries its bucket layout into the join...
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # ...so exactly ONE exchange node exists in the whole join — the
    # batch side being hashed into the store's bucket space (formatted
    # explain names each node twice: once in the tree, once in the
    # detail section — same accounting as the consistency-check pin)
    assert plan.count("Exchange") == 2
    assert "hashpartitioning(gram" in plan


def test_substring_membership_join_with_tombstones_stays_store_shuffle_free(
    spark, tmp_path
):
    """The delete lifecycle must not break the O(batch) ingest
    contract: with tombstones present, the membership view adds only a
    BroadcastExchange of the minority delete set above the store scan
    — the store side still streams out of its bucketed layout with the
    batch side paying the single shuffle (the F.broadcast hint is
    load-bearing: it must hold even with the auto threshold off)."""
    from mysql2clickhouse_spark.functions.text import gram_rows, tokenized_docs
    from mysql2clickhouse_spark.operators.substring_index import SubstringIndex

    idx = SubstringIndex(spark, str(tmp_path / "ssidx"), k=4, n_buckets=8)
    idx.add_batch(
        spark.createDataFrame(
            [(1, "w1 w2 w3 w4 w5 w6"), (2, "x1 x2 x3 x4 x5")],
            "doc_id bigint, text string",
        )
    )
    idx.remove_batch(spark.createDataFrame([(1,)], "doc_id bigint"))
    batch2 = spark.createDataFrame(
        [(5, "x1 x2 x3 x4 x5"), (7, "z1 z2 z3 z4 z5")],
        "doc_id bigint, text string",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        grams = gram_rows(tokenized_docs(batch2), 4)
        plan = plan_of(spark, grams.join(idx._stored_grams(), "gram", "left"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # exactly one SHUFFLE exchange in the whole plan — the batch side
    # hashing into the store's bucket space — plus the tombstone
    # anti-join's BroadcastExchange; nothing re-shuffles the store
    # ("Exchange" ×2 tree+detail for each of the two nodes)
    assert plan.count("Exchange") == 4
    assert plan.count("BroadcastExchange") == 2
    assert plan.count("hashpartitioning(gram") == 1


def test_row_python_udf_detector(spark):
    """Rule 4 self-test: the row-at-a-time UDF form is flagged; every
    Arrow-batched crossing (pandas_udf, mapInPandas) is not."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf, udf

    from mysql2clickhouse_spark.plans.plancheck import lint, row_python_udfs

    @udf("long")
    def slow(x):
        return x + 1

    @pandas_udf("long")
    def fast(s):
        return s + 1

    df = spark.range(10)
    assert row_python_udfs(df.select(slow(F.col("id"))))
    assert any(
        f.startswith("ROW PYTHON UDF") for f in lint(df.select(slow(F.col("id"))))
    )
    assert not row_python_udfs(df.select(fast(F.col("id"))))

    def gen(it):
        for p in it:
            yield p

    assert not row_python_udfs(df.mapInPandas(gen, "id long"))


def _nd_index(spark, tmp_path):
    from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

    idx = MinHashIndex(spark, str(tmp_path / "ndidx"), n_buckets=8)
    base = "the quick brown fox jumps over the lazy dog wearing suit"
    idx.add_batch(
        spark.createDataFrame(
            [(i, f"{base} {i} variant") for i in range(20)],
            "doc_id bigint, text string",
        )
    )
    return idx


def test_minhash_bands_join_never_exchanges_the_store(spark, tmp_path):
    """The MinHashIndex 100 TB contract (r9 verdict finding #1): the
    new×old candidate join must exchange only the BATCH's band rows —
    the store side streams straight out of its composite-key bucketed
    layout ((band_idx, band_hash) buckets equal the join keys), so
    ingest cost stays O(batch) no matter how large the store grows.
    Broadcast is disabled because at scale neither the store nor a
    production batch can broadcast — this pins the sort-merge plan."""
    from pyspark.sql import functions as F

    idx = _nd_index(spark, tmp_path)
    # fabricated batch band rows: the pin isolates the STORE side of
    # the join (the batch side's own derivation cost is batch-bounded
    # by construction and pinned elsewhere)
    new_bands = spark.createDataFrame(
        [(0, 123, 1000), (1, 456, 1001)],
        "band_idx int, band_hash int, doc_id bigint",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cross = new_bands.alias("n").join(
            idx._keys.read().alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_hash") == F.col("o.band_hash")),
        )
        plan = plan_of(spark, cross)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    # the store scan carries its bucket layout into the join...
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # ...so exactly ONE exchange node exists in the whole join — the
    # batch side being hashed into the store's bucket space (formatted
    # explain names each node twice: tree + detail section)
    assert plan.count("Exchange") == 2
    assert "hashpartitioning(band_idx" in plan


def test_minhash_verify_join_never_exchanges_the_sigs_store(spark, tmp_path):
    """The verify side of the same contract: candidate pairs resolve
    stored signatures through the doc_id-bucketed sigs table — the
    batch-bounded pairs shuffle into the store's bucket space, the
    store scan is never exchanged, and the batch-local fill join adds
    only batch-bounded work."""
    idx = _nd_index(spark, tmp_path)
    cands = spark.createDataFrame([(1, 1001), (2, 1001)], "id_a bigint, id_b bigint")
    batch_rows = spark.createDataFrame(
        [(1001, [1, 2, 3], [4, 5, 6])],
        "doc_id bigint, hset array<int>, minhash array<int>",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        frag = idx._attach(cands, "id_a", idx._sigs.read(), batch_rows)
        plan = plan_of(spark, frag)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # two shuffle exchanges in the whole fragment — the pairs hashing
    # into the sigs bucket space and the batch fill side — and NONE
    # above the store scan (×2 tree+detail accounting)
    assert plan.count("Exchange") == 4
    assert plan.count("BroadcastExchange") == 0
    assert "hashpartitioning(id_a" in plan


def test_simhash_blocks_join_never_exchanges_the_store(spark, tmp_path):
    """The SimHashIndex candidate join under the same 100 TB contract
    as its MinHash sibling: the store side streams out of its
    (b_idx, b_val) composite bucketing, only the batch's block rows
    exchange."""
    from pyspark.sql import functions as F

    from mysql2clickhouse_spark.operators.simhash_index import SimHashIndex

    idx = SimHashIndex(spark, str(tmp_path / "shidx"), n_buckets=8)
    base = "the quick brown fox jumps over the lazy dog wearing suit"
    idx.add_batch(
        spark.createDataFrame(
            [(i, f"{base} {i} variant") for i in range(20)],
            "doc_id bigint, text string",
        )
    )
    new_blocks = spark.createDataFrame(
        [(0, 123, 1000), (1, 456, 1001)],
        "b_idx int, b_val bigint, doc_id bigint",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cross = new_blocks.alias("n").join(
            idx._keys.read().alias("o"),
            (F.col("n.b_idx") == F.col("o.b_idx"))
            & (F.col("n.b_val") == F.col("o.b_val")),
        )
        plan = plan_of(spark, cross)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    assert plan.count("Exchange") == 2
    assert "hashpartitioning(b_idx" in plan


def test_minhash_ingest_store_reads_are_batch_semi_pruned(
    spark, tmp_path, monkeypatch
):
    """r11 verdict task 1: ingest's store reads — the occupancy count
    AND the candidate join — must be pruned to the batch's bucket keys.
    The mechanism is a broadcast LEFT SEMI join (no driver collect, no
    key cap — ingest key sets exceed both the probe's collect cap and
    the parquet In stack bound), and the store side must KEEP its
    bucketed distribution through the semi so the candidate join still
    exchanges only the batch side. Size-gated in production (tiny
    stores broadcast whole — measured break-even); forced open here."""
    from mysql2clickhouse_spark.operators import store_common

    monkeypatch.setattr(store_common, "PROBE_PUSHDOWN_MIN_STORE_BYTES", 0)
    idx = _nd_index(spark, tmp_path)
    new_bands = spark.createDataFrame(
        [(0, 123, 1000), (1, 456, 1001)],
        "band_idx int, band_hash int, doc_id bigint",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, idx._candidates(new_bands))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    # the batch-key semi prune sits above the bucketed store scan (the
    # F.broadcast hint forces it even with auto-broadcast off)
    assert "LeftSemi" in plan
    assert "Bucketed: true" in plan
    # the store side is never shuffle-exchanged: every hashpartitioning
    # exchange in the fragment is on the batch/candidate side, and the
    # pruned store still enters the candidate join bucket-distributed
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_ingest_pruned_fragment_is_broadcast_semi_no_shuffle(spark, tmp_path):
    """The shared prune helper in isolation: broadcast semi above the
    bucketed scan, ZERO shuffle exchanges — the store side's bucketed
    partitioning survives for the join/groupBy above."""
    from mysql2clickhouse_spark.operators.store_common import ingest_pruned

    idx = _nd_index(spark, tmp_path)
    keys = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    plan = plan_of(spark, ingest_pruned(idx._sigs.read(), ("doc_id",), keys))
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan
    # no "Bucketed: true" pin HERE: planned in isolation nothing above
    # needs the distribution, so the planner rightly disables bucketed
    # reading — the composed _candidates tests pin it in context
    assert "Exchange hashpartitioning" not in plan


def test_simhash_ingest_store_reads_are_batch_semi_pruned(
    spark, tmp_path, monkeypatch
):
    """SimHashIndex under the same r12 ingest-prune contract as its
    MinHash sibling (gate forced open as above)."""
    from mysql2clickhouse_spark.operators import store_common
    from mysql2clickhouse_spark.operators.simhash_index import SimHashIndex

    monkeypatch.setattr(store_common, "PROBE_PUSHDOWN_MIN_STORE_BYTES", 0)
    idx = SimHashIndex(spark, str(tmp_path / "shidx_ip"), n_buckets=8)
    base = "the quick brown fox jumps over the lazy dog wearing suit"
    idx.add_batch(
        spark.createDataFrame(
            [(i, f"{base} {i} variant") for i in range(20)],
            "doc_id bigint, text string",
        )
    )
    new_blocks = spark.createDataFrame(
        [(0, 123, 1000), (1, 456, 1001)],
        "b_idx int, b_val bigint, doc_id bigint",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, idx._candidates(new_blocks))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    assert "LeftSemi" in plan
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_probe_pushes_batch_keys_into_minhash_store_scan(spark, tmp_path, monkeypatch):
    """r10 verdict finding #1: the READ-ONLY probe is the advertised
    decontam point lookup, so its store reads must PRUNE — the probe
    batch's band-hash set is pushed into the bucketed store scan
    (files are sorted by the bucket key, so row-group min/max stats
    skip everything else). Pinned: the In predicate reaches the
    parquet scan; ingest keeps the full-scan contract."""
    from mysql2clickhouse_spark.operators import store_common

    # the size gate keeps test-scale stores on the full-scan plan —
    # zero it so the pin exercises the at-scale pruned plan
    monkeypatch.setattr(store_common, "PROBE_PUSHDOWN_MIN_STORE_BYTES", 0)
    idx = _nd_index(spark, tmp_path)
    probe = spark.createDataFrame(
        [(9001, "the quick brown fox jumps over the lazy dog wearing "
                "suit 3 variant")],
        "doc_id bigint, text string",
    )
    # END-TO-END: the returned probe plan resolves stored signatures
    # through a candidate-pruned sigs scan (the bands scan ran inside
    # the probe's candidate checkpoint, so it is pinned on the
    # fragment below instead)
    plan = plan_of(spark, idx.probe(probe))
    assert "In(doc_id, [" in plan
    # FRAGMENT: the candidate join's band-store read carries the
    # probe's key set into the scan (the no-Exchange-above-store pins
    # for the join itself live in the tests above)
    from mysql2clickhouse_spark.operators.store_common import probe_pruned

    keys = spark.createDataFrame([(123,), (456,)], "band_hash bigint")
    frag = probe_pruned(idx._keys.read(), "band_hash", keys)
    assert "In(band_hash, [" in plan_of(spark, frag)


def test_probe_pushes_batch_keys_into_simhash_store_scan(spark, tmp_path, monkeypatch):
    from mysql2clickhouse_spark.operators import store_common
    from mysql2clickhouse_spark.operators.simhash_index import SimHashIndex

    monkeypatch.setattr(store_common, "PROBE_PUSHDOWN_MIN_STORE_BYTES", 0)

    idx = SimHashIndex(spark, str(tmp_path / "shidx_p"), n_buckets=8)
    base = "the quick brown fox jumps over the lazy dog wearing suit"
    idx.add_batch(
        spark.createDataFrame(
            [(i, f"{base} {i} variant") for i in range(20)],
            "doc_id bigint, text string",
        )
    )
    probe = spark.createDataFrame(
        [(9001, f"{base} 3 variant")], "doc_id bigint, text string"
    )
    plan = plan_of(spark, idx.probe(probe))
    assert "In(doc_id, [" in plan  # pruned sigs resolution (see above)
    from mysql2clickhouse_spark.operators.store_common import probe_pruned

    keys = spark.createDataFrame([(0, 7), (1, 9)], "b_idx int, b_val bigint")
    fplan = plan_of(spark, probe_pruned(idx._keys.read(), "b_val", keys))
    assert "In(b_val, [" in fplan


def test_probe_pushes_batch_keys_into_substring_store_scan(spark, tmp_path, monkeypatch):
    from mysql2clickhouse_spark.operators import store_common
    from mysql2clickhouse_spark.operators.substring_index import SubstringIndex

    monkeypatch.setattr(store_common, "PROBE_PUSHDOWN_MIN_STORE_BYTES", 0)

    idx = SubstringIndex(spark, str(tmp_path / "subidx_p"), k=4, n_buckets=8)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    idx.add_batch(
        spark.createDataFrame(
            [(i, f"{base} doc {i} tail") for i in range(10)],
            "doc_id bigint, text string",
        )
    )
    probe = spark.createDataFrame(
        [(9001, f"{base} probe tail")], "doc_id bigint, text string"
    )
    plan = plan_of(spark, idx.probe(probe))
    assert "In(gram, [" in plan
    # ingest (add_batch) keeps the full-scan contract: no In(gram on
    # the store side of a fresh ingest plan
    report = idx.add_batch(
        spark.createDataFrame(
            [(9100, f"{base} fresh ingest")], "doc_id bigint, text string"
        )
    )
    assert "In(gram, [" not in plan_of(spark, report)


def test_probe_pruned_falls_back_above_cap(spark):
    """Above the driver-bound cap the probe keeps the full-scan
    contract — probe_pruned returns the UNFILTERED store frame — and
    the retained rows are always a superset of the join's matches."""
    from pyspark.sql import functions as F

    from mysql2clickhouse_spark.operators.store_common import probe_pruned

    store = spark.range(100).select(F.col("id").alias("h"), F.col("id"))
    keys = spark.range(0, 20).select(F.col("id").alias("h"))
    pruned = probe_pruned(store, "h", keys, cap=8)
    assert pruned is store  # 20 distinct keys > cap 8: unfiltered
    pruned = probe_pruned(store, "h", keys, cap=64)
    assert pruned is not store and pruned.count() == 20
    # empty key set: nothing to prune by — full scan (result is empty
    # anyway once joined)
    empty = keys.limit(0)
    assert probe_pruned(store, "h", empty, cap=64) is store


def test_cluster_fold_joins_never_exchange_the_store(spark, tmp_path):
    """The ClusterIndex 100 TB contract, same shape as the five sibling
    stores: (a) resolving a pair batch's labels aggregates the
    node-bucketed store with NO Exchange above the store scan (the agg
    key equals the bucket key); (b) the losing components' members
    join batch-bounded broadcast frames above the component-bucketed
    scan — zero Exchange on the store side. Broadcast is disabled for
    (a) to pin the scan-satisfied distribution."""
    from pyspark.sql import functions as F

    from mysql2clickhouse_spark.operators.cluster_index import ClusterIndex

    idx = ClusterIndex(spark, str(tmp_path / "cc"), n_buckets=8)
    idx.add_pairs(
        spark.createDataFrame(
            [(i, i + 1000) for i in range(40)], "id_a bigint, id_b bigint"
        )
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # (a) the min-per-node resolve: aggregation keyed on the bucket
        # column — the partial/final agg runs on the scan's own
        # distribution, no Exchange anywhere (×2 tree+detail)
        resolve = idx._by_node.read().groupBy("node").agg(
            F.min("component").alias("cur")
        )
        plan = plan_of(spark, resolve)
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    # (b) members-of-losing-components: broadcast relabel map above the
    # component-bucketed scan — store side never exchanged
    relabel = spark.createDataFrame(
        [(1000, 0), (1001, 1)], "old bigint, new bigint"
    )
    members = idx._by_comp.read().join(
        F.broadcast(relabel),
        idx._by_comp.read()["component"] == relabel["old"],
    )
    plan = plan_of(spark, members)
    assert plan.count("Exchange") == plan.count("BroadcastExchange")


def test_cluster_probe_prunes_and_never_exchanges_the_store(
    spark, tmp_path, monkeypatch
):
    """The sixth store's read-only ``probe()`` carries the same two
    at-scale properties as its siblings: the probe's id set is PUSHED
    into the node-bucketed store scan (row-group skip — O(probe ids),
    not O(store)), and the min-per-node resolve runs on the scan's own
    distribution — the only Exchange anywhere is the broadcast of the
    probe ids themselves."""
    from pyspark.sql import functions as F  # noqa: F401

    from mysql2clickhouse_spark.operators import store_common
    from mysql2clickhouse_spark.operators.cluster_index import ClusterIndex

    monkeypatch.setattr(store_common, "PROBE_PUSHDOWN_MIN_STORE_BYTES", 0)
    idx = ClusterIndex(spark, str(tmp_path / "ccp"), n_buckets=8)
    idx.add_pairs(
        spark.createDataFrame(
            [(i, i + 1000) for i in range(40)], "id_a bigint, id_b bigint"
        )
    )
    ids = spark.createDataFrame([(3,), (1005,), (9999,)], "node bigint")
    plan = plan_of(spark, idx.probe(ids))
    assert "In(node, [" in plan
    assert "SelectedBucketsCount: 3 out of 8" in plan
    # the pushed filter makes the batch-side join redundant, so the
    # pruned probe plan is scan -> agg with NO Exchange of any kind
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan
