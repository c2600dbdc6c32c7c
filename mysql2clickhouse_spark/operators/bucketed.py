"""The table seam every ``MaintainedStore`` declares its tables
through, in its two layouts. Both expose the same small interface the
store lifecycle uses: ``location``, ``has_files``, ``stage`` (write
rows into a staging dir in the table's layout), ``census`` (the
table's files per defrag unit) and ``table`` (the catalog table a
promotion refreshes, if any).

``BucketedStore`` (SubstringIndex's gram store, BM25Index's postings,
the banded stores' sigs and key tables, the cluster store's two
tables): a plain parquet directory whose files carry
bucket ids in their NAMES, fronted by a catalog table registration so
joins/aggregations on the key inherit HashPartitioning(key, n) from
the scan itself — no Exchange above the store side, bucket-pruned
point lookups. Extracted so the stores cannot drift (the round-9
self-review found two of them already had: one guarded a missing store
dir, the other didn't, and neither handled a stale catalog entry).
``PartitionedStore`` (the IVF inverted lists): a ``partitionBy(key)``
directory, one ``key=N/`` dir per unit and no catalog table.

Two hazards ``BucketedStore`` owns:

- STALE CATALOG ENTRY: table names derive from the store path, and a
  catalog table outlives an ``rmtree`` of the store. Rebuilding a
  store at the same path in the same session would silently reuse the
  old geometry/file listing (reproduced: searches return empty). A
  live store always has its ``_STORE_META`` before its table can be
  registered (meta commits with or before the first files), so the
  owner tells us at construction whether the store was FRESH (no
  meta): a catalog entry existing for a fresh store is stale by
  definition and is dropped.
- STALE FILE LISTING: files promoted by rename are invisible to the
  cached relation until ``refresh()`` — the journal calls it after
  every promotion.
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store_common import bucket_census, data_files, has_files


def staged_write_width(n_buckets: int, cores: int) -> int:
    """Tasks a bucketed stage write runs in: the largest divisor ``k``
    of ``n_buckets`` that is at most ``cores``. Since ``k | n``,
    ``pmod(h, n) mod k == pmod(h, k)``, so a ``repartition(k, keys)``
    puts every bucket whole in one task and the write still makes one
    file per bucket — in ``cores`` tasks, not ``n_buckets`` (32 tasks
    of a few hundred rows each cost ~1 s per write on a 4-core box).
    When no divisor reaches half the cores (a prime bucket count), the
    write keeps ``n_buckets`` tasks."""
    k = max(d for d in range(1, min(n_buckets, cores) + 1) if n_buckets % d == 0)
    return k if 2 * k >= cores else n_buckets


class BucketedStore:
    """One bucketed store directory. ``fs_provider`` is a zero-arg
    callable returning the owner's CURRENT fs (crash tests inject
    failing filesystems by swapping the owner's ``fs`` attribute)."""

    def __init__(
        self,
        spark: SparkSession,
        fs_provider,
        location: str,
        key_col: str | tuple[str, ...],
        n_buckets: int,
        table_prefix: str,
        fresh: bool,
    ):
        self.spark = spark
        self._fs = fs_provider
        self.location = location
        # composite keys supported (the MinHash bands store joins on
        # (band_idx, band_hash)): bucketing on ALL join keys keeps the
        # join's required distribution satisfied straight from the scan
        # with the default requireAllClusterKeysForCoPartition
        self.key_cols = (key_col,) if isinstance(key_col, str) else tuple(key_col)
        self.key_col = self.key_cols[0]
        self.n_buckets = n_buckets
        self.table = table_prefix + hashlib.md5(
            os.path.abspath(os.path.dirname(location)).encode()
        ).hexdigest()[:12]
        if fresh and spark.catalog.tableExists(self.table):
            # a catalog entry for a store that does not exist yet is a
            # leftover from a previous store at this path — stale
            spark.sql(f"DROP TABLE `{self.table}`")

    def has_files(self) -> bool:
        return has_files(self._fs(), self.location)

    def ensure_table(self) -> str:
        """Register the bucketed catalog table over the store location
        (schema read from the files) — pure metadata, bucket ids live
        in the file names, so re-registration in a fresh session sees
        the same layout."""
        if not self.spark.catalog.tableExists(self.table):
            schema = self.spark.read.parquet(self.location).schema
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema
            )
            keys = ", ".join(self.key_cols)
            self.spark.sql(
                f"CREATE TABLE `{self.table}` ({cols}) USING PARQUET "
                f"CLUSTERED BY ({keys}) SORTED BY ({keys}) "
                f"INTO {self.n_buckets} BUCKETS "
                f"LOCATION '{self.location}'"
            )
        return self.table

    def read(self) -> DataFrame:
        """The store THROUGH the bucketed table, so joins/aggs on the
        key inherit HashPartitioning(key, n_buckets) from the scan."""
        return self.spark.table(self.ensure_table())

    def stage_bucketed(self, df: DataFrame, staging_dir: str) -> None:
        """Write ``df`` into ``staging_dir`` with the store's exact
        bucket layout: bucketed writes require ``saveAsTable``, so a
        throwaway external stage table is created and dropped (files
        stay). The repartition on the key uses the same hash as the
        bucketing at a width ``k`` dividing ``n_buckets``
        (``staged_write_width``), so each bucket's rows are in one
        task (bucket ``b`` lands in task ``b mod k``); the bucketed
        writer sorts each task by (bucket id, keys) — one file per
        bucket per write, named with its bucket id (the layout the
        live table's scan parses back after the journal renames the
        files in)."""
        stage_tbl = self.table + "__stage"
        self.spark.sql(f"DROP TABLE IF EXISTS `{stage_tbl}`")
        first, *rest = self.key_cols
        width = staged_write_width(
            self.n_buckets, self.spark.sparkContext.defaultParallelism
        )
        (
            df.repartition(width, *[F.col(c) for c in self.key_cols])
            .write.bucketBy(self.n_buckets, first, *rest)
            .sortBy(first, *rest)
            .option("path", staging_dir)
            .mode("overwrite")
            .saveAsTable(stage_tbl)
        )
        self.spark.sql(f"DROP TABLE `{stage_tbl}`")  # external: files stay

    def stage(self, df: DataFrame, staging_dir: str) -> None:
        self.stage_bucketed(df, staging_dir)

    def census(self) -> dict[int, list[str]]:
        """File names per bucket (``store_common.bucket_census``)."""
        return bucket_census(self._fs(), self.location)


class PartitionedStore:
    """One ``partitionBy(key)`` store directory: the unit is a ``key=N/``
    partition dir. No catalog table (``table`` is None): reads list the
    directory afresh, so a rename promotion needs no refresh."""

    table = None

    def __init__(self, spark, fs_provider, location, key_col, n_buckets=None, table_prefix=None, fresh=False):
        # the bucket arguments keep one constructor shape for both layouts
        self.spark = spark
        self._fs = fs_provider
        self.location = location
        self.key_col = key_col
        self._unit_re = re.compile(rf"{re.escape(key_col)}=(\d+)$")

    def has_files(self) -> bool:
        """True iff any ``key=N/`` dir holds a parquet file — a
        delete-all compact leaves an empty-but-present dir that must
        read as an empty store, never a schema-inference error."""
        return next(data_files(self._fs(), self.location), None) is not None

    def stage(self, df: DataFrame, staging_dir: str) -> None:
        """One file per unit: the repartition puts each key's rows in
        one task."""
        (
            df.repartition(self.key_col)
            .write.mode("overwrite")
            .partitionBy(self.key_col)
            .parquet(staging_dir)
        )

    def census(self) -> dict[int, list[str]]:
        """``key=N/file`` paths per unit N."""
        fs, out = self._fs(), {}
        if not fs.is_dir(self.location):
            return out
        for name in fs.listdir(self.location):
            m = self._unit_re.match(name)
            full = os.path.join(self.location, name)
            if m and fs.is_dir(full):
                out[int(m.group(1))] = [
                    os.path.join(name, f) for f in fs.listdir(full) if f.endswith(".parquet")
                ]
        return out
