"""Structured Streaming WAL tail: readStream over bronze -> foreachBatch merge.

The reference is batch-only (SURVEY.md §2.10) — its "stream" is monthly
batches keyed `_batch_key`. The engine's primary path is likewise epoch
micro-batches over a monotone LSN column (cdc.engine). This module is the
optional always-on variant: Spark's file stream source discovers newly-landed
bronze epoch files; each micro-batch is LWW-deduped and merged through the
SAME resolver as the batch path, so arrival slicing is irrelevant to final
state (no watermark needed — LWW over total (lsn, op_rank) order subsumes
late-data handling).

Exactly-once: foreachBatch + the documented pattern — the streaming
checkpoint guarantees each batch_id is delivered at-least-once with stable
contents; merges are idempotent under the LWW resolver, and a batch-id
manifest short-circuits clean re-deliveries. Kill the query at any point and
restart: the checkpoint resumes from the last unprocessed file.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cdc.engine import CdcEngine, _EVENT_META, _atomic_write_json, _lww
from ..cdc.reconcile import reconcile_to_schema
from ..lake import merge_into

# Sentinel message raised by _apply_batch when the running query's source
# schema has fallen behind bronze's evolved schema; the supervisor loop
# matches on it and restarts the query with the re-resolved schema.
SCHEMA_EVOLVED_MARKER = "STREAM_SOURCE_SCHEMA_EVOLVED_RESTART"


class StreamingTail:
    def __init__(self, engine: CdcEngine, max_files_per_trigger: int = 8):
        self.engine = engine
        self.max_files = max_files_per_trigger
        self._ckpt = os.path.join(engine.warehouse, "_meta", "stream_checkpoint")
        self._batch_dir = os.path.join(engine.warehouse, "_meta", "stream_batches")
        os.makedirs(self._batch_dir, exist_ok=True)

    def _batch_done(self, batch_id: int) -> bool:
        return os.path.exists(os.path.join(self._batch_dir, f"b{batch_id:09d}.json"))

    def _mark_batch(self, batch_id: int, stats: dict) -> None:
        _atomic_write_json(
            os.path.join(self._batch_dir, f"b{batch_id:09d}.json"),
            {"batch_id": batch_id, **stats},
        )

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._batch_done(batch_id):
            return
        # Schema-evolution guard: the stream source captured the bronze
        # schema at query START, so after a v1->v2 evolution an always-on
        # query keeps reading newly-landed files with the STALE schema and
        # silently drops the new column's payload. Detect staleness per batch
        # and fail the batch BEFORE the streaming checkpoint commits it — the
        # restart (run_available's loop / the always-on supervisor) rebuilds
        # the source with the re-resolved schema and the checkpoint
        # re-delivers this exact batch, now correctly typed. Pre-evolution
        # files re-read under the wider schema pad typed NULLs (same as the
        # lake read), so the conservative restart never corrupts anything.
        cur_cols = {f.name for f in self.engine.bronze.schema().fields}
        if {f.name for f in batch_df.schema.fields} < cur_cols:
            raise RuntimeError(SCHEMA_EVOLVED_MARKER)
        silver = self.engine.silver
        # schema evolution mid-stream: new payload columns -> silver ADD COLUMN
        from pyspark.sql.types import StructField

        have = {f.name for f in silver.schema().fields}
        new_payload = [
            f
            for f in batch_df.schema.fields
            if f.name not in _EVENT_META and f.name not in have
        ]
        if new_payload:
            silver.add_columns(
                [StructField(f.name, f.dataType, True) for f in new_payload]
            )
            silver = self.engine.silver
        # no pre-dedup: the engine's LWW resolver windows over
        # (target ∪ batch) and resolves duplicates there
        changes = batch_df.withColumn("ingest_epoch", F.col("checkpoint_epoch"))
        changes = reconcile_to_schema(
            changes.drop(*(c for c in _EVENT_META if c in changes.columns)),
            silver.schema(),
        )
        # honors the engine's merge mode (cow MERGE or mor delta append,
        # as CdcEngine.apply_epochs); stream batches carry no landing-time
        # bucket sets, so the cow merge collects its own
        summary = {"stream_batch": batch_id}
        if self.engine.merge_mode == "mor":
            snap = silver.append(_lww(changes), summary={**summary, "mode": "mor_delta"})
            stats = {"buckets_touched": 0, "snapshot_id": snap.snapshot_id}
        else:
            stats = merge_into(
                silver, changes, resolver=self.engine._lww_resolver(), summary=summary
            )
        self._mark_batch(batch_id, stats)

    def run_available(self, max_restarts: int = 4, _initial_schema=None) -> None:
        """Process everything currently landed, then stop (Trigger.AvailableNow)
        — the test/cron mode; omit availableNow for an always-on tail.

        Restarts the query (fresh source, re-resolved bronze schema, same
        checkpoint) when a batch detects mid-stream schema evolution; the
        failed batch was not committed, so it is re-delivered correctly
        typed. ``_initial_schema`` exists for tests to simulate a query that
        started before the evolution."""
        spark = self.engine.spark
        bronze = self.engine.bronze
        schema = _initial_schema or bronze.schema()
        for _ in range(max_restarts + 1):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", self.max_files)
                .option("recursiveFileLookup", "true")
                .parquet(bronze.path)
            )
            q = (
                stream.writeStream.foreachBatch(self._apply_batch)
                .option("checkpointLocation", self._ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                return
            except Exception as e:  # StreamingQueryException wraps the marker
                if SCHEMA_EVOLVED_MARKER not in str(e):
                    raise
                schema = bronze.schema()
        raise RuntimeError("streaming tail: schema kept evolving past max_restarts")
