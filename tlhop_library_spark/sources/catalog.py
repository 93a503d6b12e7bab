"""Table IO abstraction (SURVEY.md §2.1 S1-S13).

Target deployment is an Iceberg catalog (hidden partitioning
``days(warc_ts)`` / ``bucket(url)``, snapshot-isolated MERGE for
idempotent appends, ``rewrite_data_files`` compaction). This container
ships no Iceberg runtime jar, so ``TableCatalog`` selects at runtime:

- **iceberg** when a ``spark.sql.catalog.<name>`` Iceberg catalog is
  configured: ``writeTo().append()``, SQL ``MERGE INTO``, metadata
  tables (the at-scale path; reference analogue: Delta MERGE
  ``censys_dataset_manager.py:222-229`` + OPTIMIZE/ZORDER
  ``shodan_dataset_manager.py:115-146``).
- **parquet** fallback: explicit ``partitionBy`` directory layout,
  idempotent append emulated by key anti-join, compaction by
  coalesced rewrite.

Every reader the reference exercises (CSV dialects, JSON-lines, Avro,
parquet, pandas bridge) is a thin declarative wrapper here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _has_iceberg_catalog(spark: SparkSession, catalog: str) -> bool:
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
        return impl is not None and "iceberg" in impl.lower()
    except Exception:
        return False


class TableCatalog:
    def __init__(self, spark: SparkSession, root: str, catalog: str = "local"):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        self.use_iceberg = _has_iceberg_catalog(spark, catalog)

    # -- write ---------------------------------------------------------
    def write_partitioned(
        self,
        df: DataFrame,
        table: str,
        partition_cols: list[str],
        mode: str = "append",
    ) -> None:
        """S8 — partitioned append (ref Delta append partitionBy
        (year,date), shodan_dataset_manager.py:541-548)."""
        if self.use_iceberg:
            w = df.writeTo(f"{self.catalog}.{table}")
            if mode == "append":
                w.append()
            else:
                w.partitionedBy(*[F.col(c) for c in partition_cols]).createOrReplace()
            return
        (
            df.write.mode(mode)
            .partitionBy(*partition_cols)
            .parquet(self._path(table))
        )

    def merge_append(
        self, df: DataFrame, table: str, keys: list[str],
        partition_cols: list[str] | None = None,
    ) -> int:
        """S9 — idempotent insert-if-absent (ref Delta MERGE
        whenNotMatchedInsertAll, censys_dataset_manager.py:222-229).
        Returns rows inserted."""
        if self.use_iceberg:
            df.createOrReplaceTempView("__merge_src")
            cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            self.spark.sql(
                f"MERGE INTO {self.catalog}.{table} t USING __merge_src s "
                f"ON {cond} WHEN NOT MATCHED THEN INSERT *"
            )
            return -1
        path = self._path(table)
        try:
            existing = self.spark.read.parquet(path).select(*keys).distinct()
            fresh = df.join(existing, keys, "left_anti")
        except Exception:
            fresh = df
        n = fresh.count()
        if n:
            w = fresh.write.mode("append")
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.parquet(path)
        return n

    def compact(self, table: str, target_files: int = 8) -> None:
        """S12 — compaction (ref OPTIMIZE/executeCompaction; Iceberg
        rewrite_data_files)."""
        if self.use_iceberg:
            self.spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files('{table}')"
            )
            return
        path = self._path(table)
        tmp = path + ".compact_tmp"
        old = path + ".compact_old"
        self.spark.read.parquet(path).coalesce(target_files).write.mode(
            "overwrite"
        ).parquet(tmp)
        import shutil

        # swap via rename-aside so one valid copy exists at every
        # instant (a crash between steps leaves either the old or the
        # new directory at `path`, never nothing)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)

    def single_file_parquet(self, df: DataFrame, table: str) -> None:
        """S11 — single-file emit (ref coalesce(1)+rename,
        nist_nvd.py:224-228)."""
        df.coalesce(1).write.mode("overwrite").parquet(self._path(table))

    # -- read ----------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.table(f"{self.catalog}.{table}")
        return self.spark.read.parquet(self._path(table))

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)


# -- readers (S2, S5, S6, S7) -----------------------------------------
def read_csv(
    spark: SparkSession, path: str, schema=None, sep: str = ",",
    header: bool = True, comment: str | None = None,
    encoding: str = "utf-8", quote: str = '"',
) -> DataFrame:
    """S5 — CSV dialect variants (ref datasets.py:300-380,
    receita_federal.py:281-306)."""
    r = (
        spark.read.option("sep", sep)
        .option("header", header)
        .option("encoding", encoding)
        .option("quote", quote)
    )
    if comment:
        r = r.option("comment", comment)
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", True)
    return r.csv(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S6 — JSON-lines (ref datasets.py:370-387)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """S2 — Avro, permissive (ref censys_dataset_manager.py:138-140).
    Requires the spark-avro package at runtime."""
    return (
        spark.read.format("avro").option("mode", "PERMISSIVE").load(path)
    )
