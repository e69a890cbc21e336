"""Watermarked stream-stream interval join over the CDC WAL.

The last §2.10 surface: two live streams joined with an equality key plus
an event-time range — here, each delete (D) event matched to the update
(U) events it tombstones within the preceding hour on the same
(conv_id, turn_idx). Structured Streaming plans this as a real
stream-stream inner join: both sides buffer in the state store, the
watermark plus the range bound tell the engine when a buffered row can no
longer match and is evicted — without the time bound the state would grow
forever, which is why the interval is part of the OPERATOR, not a filter.

Semantics: inner join, so emitted pairs are final (append mode); the sink
MERGEs on (d_lsn, u_lsn) purely for redelivery idempotency. Late events
beyond the watermark drop by the same contract as the other streaming
operators (batch recompute = repair path).

Scale shape: one hash exchange per side on the join key; state per key is
bounded by (watermark delay + interval) — the standard stream-stream
sizing rule. The equality key carries the hot-conversation skew note from
cdc/dedup.py: the full (conv_id, turn_idx) key spreads a hot conversation
across turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..cdc.engine import CdcEngine
from ..lake import merge_into

JOIN_INTERVAL_S = 3600  # U must precede D by at most this

TOMBSTONE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("d_lsn", LongType(), False),
        StructField("u_lsn", LongType(), False),
        StructField("d_ts", TimestampNTZType(), True),
        StructField("u_ts", TimestampNTZType(), True),
    ]
)


class StreamingTombstoneJoin:
    """WAL tail (D side) ⋈ WAL tail (U side) within the hour before.

    Contract (r6 advice, made explicit): this operator INTENTIONALLY joins
    RAW ARRIVALS, not LWW-resolved events — it is a wire-level diagnostic
    ("which delete arrivals had a recent update arrival for the same
    turn"), so same-lsn op ties that the engine's merge order (U>I>D,
    cdc/dedup.py) resolves away still produce matches here, including a
    tie-D paired with its own same-lsn U twin. Consumers wanting
    resolved-event semantics should read the merged silver table instead;
    the batch-parity test encodes the raw-arrival contract on purpose."""

    TABLE = "gold.tombstone_matches"

    def __init__(
        self,
        engine: CdcEngine,
        max_files_per_trigger: int | None = None,
        # sized for the engine's own WAL: epochs are redelivery rounds over
        # the same ~19 h day (see streaming/sessions.py), so the delay must
        # cover that disorder or buffered rows evict before their
        # cross-epoch partner arrives
        watermark_delay: str = "1 day",
    ):
        self.engine = engine
        self.max_files_per_trigger = max_files_per_trigger
        self.watermark_delay = watermark_delay
        self._ckpt = f"{engine.warehouse}/_meta/tombstone_join_checkpoint"
        if not engine.catalog.table_exists(self.TABLE):
            engine.catalog.create_table(
                self.TABLE,
                TOMBSTONE_SCHEMA,
                key_cols=["d_lsn", "u_lsn"],
                bucket_cols=["conv_id"],
                n_buckets=8,
            )

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        table = self.engine.catalog.load_table(self.TABLE)
        # WAL-redelivered duplicate rows that join WITHIN one micro-batch
        # put the same (d_lsn, u_lsn) key into the change set twice
        # (identical payloads) — collapse before the MERGE, which dedups
        # across batches but expects unique keys within one
        changes = batch_df.dropDuplicates(["d_lsn", "u_lsn"]).withColumn(
            "op", F.lit("U")
        )
        merge_into(table, changes, summary={"stream_batch": batch_id})

    def _side(self, op: str, prefix: str) -> DataFrame:
        spark = self.engine.spark
        bronze = self.engine.bronze
        reader = spark.readStream.schema(bronze.schema()).option(
            "recursiveFileLookup", "true"
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return (
            reader.parquet(bronze.path)
            .filter(F.col("op") == op)
            .select(
                F.col("conv_id").alias(f"{prefix}_conv_id"),
                F.col("turn_idx").alias(f"{prefix}_turn_idx"),
                F.col("lsn").alias(f"{prefix}_lsn"),
                F.col("ts").cast("timestamp_ltz").alias(f"{prefix}_ets"),
            )
            .withWatermark(f"{prefix}_ets", self.watermark_delay)
        )

    def run_available(self) -> None:
        d = self._side("D", "d")
        u = self._side("U", "u")
        joined = d.join(
            u,
            on=[
                d["d_conv_id"] == u["u_conv_id"],
                d["d_turn_idx"] == u["u_turn_idx"],
                u["u_ets"] <= d["d_ets"],
                u["u_ets"] >= d["d_ets"] - F.expr(f"INTERVAL {JOIN_INTERVAL_S} SECONDS"),
            ],
            how="inner",
        ).select(
            F.col("d_conv_id").alias("conv_id"),
            F.col("d_turn_idx").alias("turn_idx"),
            "d_lsn",
            "u_lsn",
            F.col("d_ets").cast("timestamp_ntz").alias("d_ts"),
            F.col("u_ets").cast("timestamp_ntz").alias("u_ts"),
        )
        q = (
            joined.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", self._ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def matches(self) -> DataFrame:
        return self.engine.catalog.load_table(self.TABLE).read()
