"""Bronze WAL/binlog landing zone: epoch-partitioned append-only parquet.

The discretized stream. The reference's analog is one CSV file per monthly
batch with a filename-derived ``_batch_key`` (``trips.py:35-37,55-67``); here
each micro-batch/epoch lands under ``epoch=<e>/`` so an epoch replay is a
directory-pruned scan — value-partition pruning, the same physical trick as
BQ ``PARTITION BY DATE(_ingested_at)`` (``raw_trips_current.sql:18``).

Bronze is append-only (a log), so it is deliberately NOT a snapshot table:
no merge, no rewrite — just directories plus a schema file that evolves
forward (v1 -> v2 adds `tool`, FIXTURES.md F2 property 6).
"""

from __future__ import annotations

import json
import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..lake import fs


class BronzeLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._schema_file = os.path.join(path, "_schema.json")

    @staticmethod
    def create(spark: SparkSession, path: str, schema: StructType) -> "BronzeLog":
        os.makedirs(path, exist_ok=True)
        log = BronzeLog(spark, path)
        log._write_schema(schema)
        return log

    def exists(self) -> bool:
        return fs.exists(self._schema_file)

    def _write_schema(self, schema: StructType) -> None:
        fs.write_json_atomic(self._schema_file, schema.jsonValue())

    def schema(self) -> StructType:
        return StructType.fromJson(fs.read_json(self._schema_file))

    def evolve_schema(self, new_schema: StructType) -> None:
        """Forward-only evolution: new columns appended, none dropped."""
        cur = {f.name for f in self.schema().fields}
        new = {f.name for f in new_schema.fields}
        if not cur.issubset(new):
            raise ValueError(f"bronze schema evolution cannot drop columns: {cur - new}")
        self._write_schema(new_schema)

    def append_epoch(
        self,
        df: DataFrame,
        epoch: int,
        n_files: int | None = None,
        bucket_spec: tuple[list[str], int] | None = None,
    ) -> None:
        """Land one epoch's events as multiple files + per-partition offset
        stats. Idempotent per (epoch, attempt dir): a retried landing
        overwrites the epoch directory; real deployments land via the same
        snapshot-commit pattern or Kafka offsets.

        Multiple files per epoch matter for replay parallelism: a single fat
        file caps the epoch scan at one task regardless of cluster size
        (a real WAL lands one file per source partition anyway).

        Stats are computed at WRITE time — a WAL producer knows its offsets —
        so replay never needs a dedicated lineage-stats scan (it was a full
        extra pass of the epoch per merge)."""
        out = os.path.join(self.path, f"epoch={epoch}")
        cols = [f.name for f in self.schema().fields]
        n = n_files or self.spark.sparkContext.defaultParallelism
        df.select(*cols).repartition(n).write.parquet(out, mode="overwrite")
        landed = self.spark.read.schema(self.schema()).parquet(out)
        parts = [
            r.asDict()
            for r in landed.groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
            )
            .collect()
        ]
        stats: dict = {"partitions": parts}
        if bucket_spec is not None:
            # silver buckets this epoch will touch — bucket = f(key cols,
            # n_buckets) is computable the moment the WAL lands, so the
            # steady-state merge can skip its touched-bucket distinct+collect
            # job entirely (bounded: ≤ n_buckets ints). Spec is stored with
            # the set so a re-bucketed silver invalidates it instead of
            # mispruning.
            from ..lake.table import bucket_expr

            cols, n = bucket_spec
            buckets = sorted(
                r[0]
                for r in landed.select(bucket_expr(cols, n).alias("b"))
                .distinct()
                .collect()
            )
            stats["bucket_spec"] = {"cols": list(cols), "n": int(n)}
            stats["buckets"] = buckets
        fs.write_json_atomic(os.path.join(out, "_stats.json"), stats)

    def epoch_stats(self, epoch: int) -> dict | None:
        """Landing-time stats: {"partitions": [...]} plus, when the landing
        pre-hashed buckets, "bucket_spec" and "buckets"; None for epochs
        landed before stats existed (caller recomputes). Records from older
        landings may carry further keys (a "top_convs" list); readers ignore
        them."""
        p = os.path.join(self.path, f"epoch={epoch}", "_stats.json")
        if not fs.exists(p):
            return None
        d = fs.read_json(p)
        if isinstance(d, list):  # legacy format: partitions only
            return {"partitions": d}
        return d

    def append_epoch_pandas(
        self,
        pdf: pd.DataFrame,
        epoch: int,
        bucket_spec: tuple[list[str], int] | None = None,
    ) -> None:
        sdf = self.spark.createDataFrame(pdf, schema=self.schema())
        self.append_epoch(sdf, epoch, bucket_spec=bucket_spec)

    def read_epoch(self, epoch: int) -> DataFrame:
        """Directory-pruned scan of exactly one epoch."""
        out = os.path.join(self.path, f"epoch={epoch}")
        if not os.path.exists(out):
            from ..lake.table import empty_df

            return empty_df(self.spark, self.schema())
        return self.spark.read.schema(self.schema()).parquet(out)

    def read_epochs(self, lo: int, hi: int) -> DataFrame:
        """Half-open range [lo, hi) — checkpoint replay input."""
        dirs = [
            os.path.join(self.path, f"epoch={e}")
            for e in range(lo, hi)
            if os.path.exists(os.path.join(self.path, f"epoch={e}"))
        ]
        if not dirs:
            from ..lake.table import empty_df

            return empty_df(self.spark, self.schema())
        return self.spark.read.schema(self.schema()).parquet(*dirs)

    def epochs(self) -> list[int]:
        return sorted(
            int(d.split("=")[1])
            for d in os.listdir(self.path)
            if d.startswith("epoch=")
        )
