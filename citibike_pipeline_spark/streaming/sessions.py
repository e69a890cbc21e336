"""Watermarked streaming sessionization: the streaming counterpart of q27.

q27 (operators/advanced.py) computes 30-minute-gap sessions in one batch
pass; this maintains the same sessions continuously over the CDC WAL with
Structured Streaming's `session_window` + watermark — the engine's only
NATIVE-stateful streaming aggregate (the other §2.10 operators use
`applyInPandasWithState`; this one stays entirely on the SQL surface, so
state lives in the JVM state store with no Python transition function).

Semantics: per conv_id, events whose [ts, ts+gap) intervals overlap merge
into one session; `outputMode("append")` emits a session only once it is
CLOSED by the watermark (no event can extend it), so every emitted row is
final — the sink appends through the MERGE primitive keyed
(conv_id, session_start) purely for redelivery idempotency, never to
rewrite. Late events beyond the watermark are DROPPED by the engine —
the same contract as StreamingScd2: the batch rebuild (q27) is the repair
path.

Timestamp note: watermarks require TIMESTAMP (LTZ); the engine's domain is
NTZ with the session pinned to UTC (session.py), so the LTZ cast is a
numeric no-op and the emitted session bounds cast back to NTZ losslessly.

Scale shape: one hash exchange on conv_id; session state per key is
bounded by the gap (closed sessions leave the store at the watermark);
the skew note from cdc/dedup.py applies — a hot conversation concentrates
on one key here, which is exactly why the gap bounds state size.
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

SESSION_GAP = "30 minutes"
# Default sized for the engine's OWN WAL: the generator's epochs are
# redelivery rounds over the same ~19 h day, so cross-epoch event-time
# disorder spans the full day — a short delay would silently drop most of
# the corpus as late. Size this to the source's real disorder bound.
WATERMARK_DELAY = "1 day"

SESSIONS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("session_start", TimestampNTZType(), True),
        StructField("session_end", TimestampNTZType(), True),
        StructField("n_events", LongType(), True),
        StructField("max_lsn", LongType(), True),
    ]
)


class StreamingSessions:
    """WAL tail -> watermarked session_window aggregate -> lake upsert."""

    TABLE = "gold.conv_sessions"

    def __init__(
        self,
        engine: CdcEngine,
        max_files_per_trigger: int | None = None,
        watermark_delay: str = WATERMARK_DELAY,
    ):
        self.engine = engine
        self.max_files_per_trigger = max_files_per_trigger
        # must exceed the WAL's cross-epoch event-time disorder or genuinely
        # late events are dropped (the documented repair-by-batch contract)
        self.watermark_delay = watermark_delay
        self._ckpt = f"{engine.warehouse}/_meta/conv_sessions_checkpoint"
        if not engine.catalog.table_exists(self.TABLE):
            engine.catalog.create_table(
                self.TABLE,
                SESSIONS_SCHEMA,
                key_cols=["conv_id", "session_start"],
                bucket_cols=["conv_id"],
                n_buckets=8,
            )

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        table = self.engine.catalog.load_table(self.TABLE)
        # append-mode rows are FINAL; the merge key only deduplicates
        # redelivered batches after a sink-side crash
        changes = batch_df.withColumn("op", F.lit("U"))
        merge_into(table, changes, summary={"stream_batch": batch_id})

    def run_available(self) -> None:
        spark = self.engine.spark
        bronze = self.engine.bronze
        reader = spark.readStream.schema(bronze.schema()).option(
            "recursiveFileLookup", "true"
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        events = reader.parquet(bronze.path).select(
            "conv_id", "lsn", F.col("ts").cast("timestamp_ltz").alias("ets")
        )
        sessions = (
            events.withWatermark("ets", self.watermark_delay)
            # the WAL redelivers ~2% of each epoch verbatim (duplicate
            # lsns, identical payloads — the exactly-once contract every
            # consumer must enforce); without this collapse n_events would
            # permanently overcount in the final append-mode rows. State
            # evicts with the watermark, so the dedup guarantee is bounded
            # by the delay — same bound as lateness itself.
            .dropDuplicatesWithinWatermark(["lsn"])
            .groupBy(F.session_window("ets", SESSION_GAP), F.col("conv_id"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max("lsn").alias("max_lsn"),
            )
            .select(
                "conv_id",
                F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
                F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
                "n_events",
                "max_lsn",
            )
        )
        q = (
            sessions.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", self._ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def sessions(self) -> DataFrame:
        return self.engine.catalog.load_table(self.TABLE).read()
