"""Store write widths: a staged bucketed write runs in as many tasks as
the machine has cores (a divisor of the bucket count), not one task per
bucket, and keeps the one-file-per-bucket layout; the ingest batch
exchange is ``defaultParallelism`` wide whatever
``spark.sql.shuffle.partitions`` says.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest

from mysql2clickhouse_spark.fs import LocalFS
from mysql2clickhouse_spark.operators.bucketed import (
    BucketedStore,
    staged_write_width,
)
from mysql2clickhouse_spark.operators.store_common import (
    batch_keyed_wide,
    bucket_id_col,
)

_FILE_RE = re.compile(r"^part-(\d{5})-.*_(\d{5})\.c\d+\..*parquet$")


@pytest.mark.parametrize(
    "n_buckets, cores, width",
    [(32, 4, 4), (32, 48, 32), (12, 8, 6), (8, 8, 8), (11, 8, 11)],
)
def test_staged_write_width(n_buckets, cores, width):
    """Largest divisor of the bucket count within the cores; a bucket
    count with no divisor reaching half the cores (11 on 8) keeps one
    task per bucket."""
    assert staged_write_width(n_buckets, cores) == width


def test_stage_bucketed_writes_one_file_per_bucket_in_core_wide_tasks(
    spark, tmp_path
):
    n_buckets = 32
    width = staged_write_width(n_buckets, spark.sparkContext.defaultParallelism)
    rows = [(i * 7919 % 1000, f"v{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "k bigint, v string")
    store = BucketedStore(
        spark, LocalFS, str(tmp_path / "st" / "t"), "k", n_buckets,
        "width_test_", fresh=True,
    )
    staging = str(tmp_path / "staged")
    store.stage_bucketed(df, staging)

    names = sorted(n for n in os.listdir(staging) if n.endswith(".parquet"))
    parsed = [_FILE_RE.match(n) for n in names]
    assert all(parsed), names
    tasks = {m.group(1) for m in parsed}
    buckets = [int(m.group(2)) for m in parsed]
    assert len(tasks) <= width
    # exactly one file per non-empty bucket
    assert len(buckets) == len(set(buckets))
    expect_buckets = {
        r[0]
        for r in df.select(bucket_id_col(["k"], n_buckets).alias("b"))
        .distinct()
        .collect()
    }
    assert set(buckets) == expect_buckets

    staged = []
    for name, b in zip(names, buckets):
        part = spark.read.parquet(os.path.join(staging, name))
        got = part.select(
            "k", "v", bucket_id_col(["k"], n_buckets).alias("b")
        ).collect()
        assert {r["b"] for r in got} == {b}, name
        keys = [r["k"] for r in got]
        assert keys == sorted(keys), name
        staged.extend((r["k"], r["v"]) for r in got)
    assert Counter(staged) == Counter(rows)


def test_batch_exchange_is_default_parallelism_wide(spark, capsys):
    """The shuffle-partitions setting no longer floors the ingest batch
    exchange (read from the plan text; no job runs)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id bigint, text string")
        batch_keyed_wide(df, "doc_id").explain()
        plan = capsys.readouterr().out
    finally:
        spark.conf.set(key, old)
    dp = spark.sparkContext.defaultParallelism
    assert re.search(rf"hashpartitioning\(doc_id#\d+L?, {dp}\)", plan), plan
    assert ", 200)" not in plan
