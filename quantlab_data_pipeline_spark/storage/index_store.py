"""One storage protocol for the three persisted indexes.

The MinHash dedup index (``llm/dedup_index.py``), the perceptual media
index (``llm/media_index.py``) and the IVF ANN index
(``llm/ann_index.py``) store different rows but keep them the same way.
This module is the only code that knows how; the index modules keep
their algorithms and their meta checks.

* **Tombstones.** A takedown appends ids to ``{path}/tombstones``, one
  ``long`` column named by the index (``doc_id``, ``asset_id``, ``id``)
  — an O(delete-set) write. Every live read anti-joins that set, so a
  removed id stops matching at once; a rebuild clears it. Ids are
  permanent identities: a tombstoned id stays masked even if
  re-appended, until compaction.
* **Compaction.** A no-op without tombstones. Otherwise every store's
  live rows are pinned first (lineage re-execution would
  otherwise read a half-rewritten store), then each store is rewritten
  in its own layout, and the tombstones are deleted last.
* **Band table.** The LSH band rows ``(id, band_idx, <band key>)`` as a
  catalog table bucketed and sorted on ``(band_idx, <band key>)``: a
  probe batch shuffles itself into the stored bucketing and the corpus
  side is read in place, with no exchange. Bucket metadata lives in the
  catalog, not in the files, so a fresh session re-registers the table
  from the declared DDL — never from the files, which a zero-row
  bucketed write does not leave. ``bucket_n == 0`` keeps plain parquet.
* **Meta.** One row, written last by a build (its presence marks a
  complete index) and read at most once per store instance — one
  instance per public call.

Every row-store write is AQE-rebalanced: without the hint each upstream
partition writes its own file, and one file per bucket it touches
(partitions x bucket_n tiny band files per append) that every later
probe lists and opens. Rebalance sizes the files to the data and still
splits a big build at AQE's advisory size.
"""

from __future__ import annotations

import hashlib
from functools import cached_property

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..fsutil import delete_path, path_exists
from ..localframe import local_df, materialized, pin
from .bucketing import write_bucketed

#: Store name of the band table.
BANDS = "buckets"


def bucket_table(path: str) -> str:
    """Catalog name of the band table at ``path`` — a digest of the
    path, so two indexes never collide."""
    return "idx_buckets_" + hashlib.md5(str(path).encode()).hexdigest()[:12]


def read_meta(spark: SparkSession, path: str) -> Row:
    return spark.read.parquet(f"{path}/meta").collect()[0]


class IndexStore:
    """The stores of one persisted index at ``path``.

    ``tomb_col`` names the tombstone column, ``id_col`` the id column of
    the row stores. ``stores`` lists the row stores compaction rewrites,
    in write order. ``band_key`` names the band table's hash column;
    ``partition_col`` hive-partitions the row stores instead of
    rebalancing them. ``bucket_n`` is given by a build (its meta is not
    written yet) and read from meta otherwise.
    """

    def __init__(
        self,
        spark: SparkSession,
        path,
        tomb_col: str,
        id_col: str | None = None,
        stores: tuple[str, ...] = (),
        band_key: str | None = None,
        partition_col: str | None = None,
        bucket_n: int | None = None,
    ) -> None:
        self.spark, self.path = spark, str(path)
        self.tomb_col, self.id_col = tomb_col, id_col or tomb_col
        self.stores, self.band_key = stores, band_key
        self.partition_col = partition_col
        if bucket_n is not None:
            self.bucket_n = bucket_n

    @cached_property
    def meta(self) -> Row:
        return read_meta(self.spark, self.path)

    @cached_property
    def bucket_n(self) -> int:
        # Indexes written before bucketing existed have no column: 0.
        return int(self.meta.asDict().get("bucket_n") or 0)

    def write_rows(self, name: str, rows: list[tuple], ddl: str) -> None:
        """Overwrite the small single-file store ``name`` (meta, centroids)."""
        local_df(self.spark, rows, ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{self.path}/{name}")

    def bands(self) -> DataFrame:
        """The band table, registered bucketed when the index has buckets
        (idempotent; ``SORTED BY`` must match the writer's ``sortBy`` or
        Spark rejects appended buckets as a different layout)."""
        if not self.bucket_n:
            return self.spark.read.parquet(f"{self.path}/{BANDS}")
        table = bucket_table(self.path)
        if not self.spark.catalog.tableExists(table):
            keys = f"band_idx, {self.band_key}"
            self.spark.sql(
                f"CREATE TABLE {table} ({self.id_col} BIGINT, band_idx INT, "
                f"{self.band_key} BIGINT) USING parquet CLUSTERED BY ({keys}) "
                f"SORTED BY ({keys}) INTO {self.bucket_n} BUCKETS "
                f"LOCATION '{self.path}/{BANDS}'"
            )
        return self.spark.table(table)

    def write(self, df: DataFrame, name: str, mode: str) -> None:
        """Append to or overwrite the row store ``name`` in its layout."""
        target = f"{self.path}/{name}"
        if name == BANDS and self.bucket_n:
            keys = ["band_idx", self.band_key]
            if mode == "append":
                self.bands()  # a fresh catalog must know the layout first
            write_bucketed(
                df.hint("rebalance", *keys), bucket_table(self.path), keys,
                self.bucket_n, sort_cols=keys, path=target, mode=mode,
            )
        elif self.partition_col:
            df.repartition(self.partition_col).write.mode(mode).partitionBy(
                self.partition_col
            ).parquet(target)
        else:
            df.hint("rebalance").write.mode(mode).parquet(target)

    def _tombstoned(self) -> DataFrame | None:
        """Distinct removed ids under ``id_col``, or None when none were."""
        ts = f"{self.path}/tombstones"
        if not path_exists(self.spark, ts):
            return None
        return (
            self.spark.read.parquet(ts)
            .select(F.col(self.tomb_col).alias(self.id_col))
            .distinct()
        )

    def _read(self, name: str) -> DataFrame:
        if name == BANDS:
            return self.bands()
        return self.spark.read.parquet(f"{self.path}/{name}")

    def live(self, name: str) -> DataFrame:
        """Row store ``name`` minus the tombstoned ids."""
        ts = self._tombstoned()
        df = self._read(name)
        return df if ts is None else df.join(ts, self.id_col, "left_anti")

    def remove(self, ids) -> None:
        """Tombstone ``ids``: a one-column DataFrame or an iterable of
        ints. An empty iterable writes nothing."""
        if isinstance(ids, DataFrame):
            ids = ids.select(F.col(ids.columns[0]).cast("long").alias(self.tomb_col))
        else:
            rows = [(int(i),) for i in ids]
            if not rows:
                return
            ids = local_df(self.spark, rows, f"{self.tomb_col} long")
        ids.write.mode("append").parquet(f"{self.path}/tombstones")

    def clear_tombstones(self) -> None:
        """A rebuild is a fresh corpus: the path's previous life's
        tombstones must not mask it."""
        delete_path(self.spark, f"{self.path}/tombstones")

    def compact(self) -> None:
        """Drop tombstoned rows from every row store, then the tombstones."""
        ts = self._tombstoned()
        if ts is None:
            return
        with materialized():
            if len(self.stores) > 1:
                ts = pin(ts)  # one read feeds every store
            live = {
                name: pin(self._read(name).join(ts, self.id_col, "left_anti"))
                for name in self.stores
            }
            for name, df in live.items():
                self.write(df, name, "overwrite")
        self.clear_tombstones()
