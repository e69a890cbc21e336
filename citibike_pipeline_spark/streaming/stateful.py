"""Custom stateful streaming operator: per-conversation progress tracking.

SURVEY.md §2.10/§2.11 — the engine's `applyInPandasWithState` surface: a
WAL tail grouped by conv_id with persistent per-key state (event count, max
LSN seen, delete count, last event time), emitting the UPDATED aggregate for
every conversation touched by each micro-batch. The updates are upserted
into a lake table through the same MERGE primitive as the batch path, so the
result is a continuously-maintained gold table.

This is the class of operator Structured Streaming's SQL surface cannot
express (arbitrary per-key state + custom transition function); the state
store checkpoints with the query, so a restart resumes per-key state
exactly. Scale shape: state is partitioned by conv_id (hash exchange), each
executor holds only its keys' state, and batch work is Arrow-vectorized per
key group — no per-row Python.

Reference analog: none (the reference is batch-only; SURVEY.md §2.10) — this
is part of the engine's "beyond the reference" streaming surface.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..cdc.engine import CdcEngine
from ..lake import merge_into

PROGRESS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("n_events", LongType(), True),
        StructField("max_lsn", LongType(), True),
        StructField("n_deletes", LongType(), True),
        StructField("last_ts", TimestampNTZType(), True),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType(), True),
        StructField("max_lsn", LongType(), True),
        StructField("n_deletes", LongType(), True),
        # last event time as epoch-microseconds (-1 = none seen): timestamps
        # must live IN the state or a later delete-only/late batch would
        # emit NULL/regressed last_ts and the sink's source-wins merge would
        # clobber the stored value
        StructField("last_ts_us", LongType(), True),
    ]
)


def _track(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """State transition: fold the batch's events for one conversation into
    (n_events, max_lsn, n_deletes, last_ts); emit the updated row.
    Vectorized over each Arrow batch — no per-row Python."""
    (conv_id,) = key
    n, mx, nd, last_us = state.get if state.exists else (0, -1, 0, -1)
    for pdf in pdfs:
        if len(pdf) == 0:
            # an empty Arrow chunk has no max(): int(NaN) would raise and
            # fail the whole streaming batch
            continue
        n += len(pdf)
        mx = max(mx, int(pdf["lsn"].max()))
        nd += int((pdf["op"] == "D").sum())
        ts_max = pdf["ts"].max()
        if pd.notna(ts_max):
            last_us = max(last_us, int(pd.Timestamp(ts_max).value // 1000))
    state.update((n, mx, nd, last_us))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "n_events": [n],
            "max_lsn": [mx],
            "n_deletes": [nd],
            "last_ts": [pd.Timestamp(last_us * 1000) if last_us >= 0 else None],
        }
    )


class StreamingConvProgress:
    """WAL tail -> stateful per-conversation aggregates -> lake upsert."""

    TABLE = "gold.conv_progress"

    def __init__(self, engine: CdcEngine):
        self.engine = engine
        self._ckpt = f"{engine.warehouse}/_meta/conv_progress_checkpoint"
        if not engine.catalog.table_exists(self.TABLE):
            engine.catalog.create_table(
                self.TABLE,
                PROGRESS_SCHEMA,
                key_cols=["conv_id"],
                bucket_cols=["conv_id"],
                n_buckets=8,
            )

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        table = self.engine.catalog.load_table(self.TABLE)
        # running aggregates are monotone (counts/max only grow), so the
        # default source-wins MERGE is idempotent under batch re-delivery
        changes = batch_df.withColumn("op", F.lit("U"))
        merge_into(table, changes, summary={"stream_batch": batch_id})

    def run_available(self) -> None:
        spark = self.engine.spark
        bronze = self.engine.bronze
        events = (
            spark.readStream.schema(bronze.schema())
            .option("recursiveFileLookup", "true")
            .parquet(bronze.path)
            .select("conv_id", "lsn", "op", "ts")
        )
        updates = events.groupBy("conv_id").applyInPandasWithState(
            _track,
            outputStructType=PROGRESS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            updates.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", self._ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def progress(self) -> DataFrame:
        return self.engine.catalog.load_table(self.TABLE).read()
