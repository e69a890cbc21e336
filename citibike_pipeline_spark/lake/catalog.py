"""Warehouse catalog: namespace/table path resolution + DDL.

The reference's equivalent is ``create_tables.py:26-90`` (render DDL templates
into a BigQuery dataset, main + ``_staging`` twin per table). Here there is no
staging twin — atomic snapshot commits make it unnecessary — so the catalog is
just create/load/drop over the medallion namespaces.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from .table import LakeTable


class LakeCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _path(self, name: str) -> str:
        # name is "namespace.table", e.g. "silver.transcript_turns"
        ns, _, tbl = name.rpartition(".")
        return os.path.join(self.warehouse, ns or "default", tbl)

    def create_table(
        self,
        name: str,
        schema: StructType,
        key_cols: list[str],
        n_buckets: int = 32,
        bucket_cols: list[str] | None = None,
        if_not_exists: bool = False,
        day_col: str | None = None,
    ) -> LakeTable:
        path = self._path(name)
        t = LakeTable(self.spark, path)
        if t.exists():
            if if_not_exists:
                return t
            raise ValueError(f"table {name} already exists at {path}")
        return LakeTable.create(
            self.spark, path, schema, key_cols, n_buckets, bucket_cols,
            day_col=day_col,
        )

    def load_table(self, name: str) -> LakeTable:
        t = LakeTable(self.spark, self._path(name))
        if not t.exists():
            raise ValueError(f"no such table: {name}")
        return t

    def table_exists(self, name: str) -> bool:
        return LakeTable(self.spark, self._path(name)).exists()

    def drop_table(self, name: str) -> None:
        shutil.rmtree(self._path(name), ignore_errors=True)
