"""CDC / incremental-ingest core: WAL-tail -> bronze -> silver -> gold.

The graft's heart (SURVEY.md §2.9): change events keyed (conv_id, turn_idx),
deduplicated last-writer-wins over monotone LSNs, applied via a bucketed
key-partitioned MERGE with exactly-once commit manifests keyed
(checkpoint_epoch, partition_id), resumable from any checkpoint, with
schema evolution handled in-place.
"""

from .schemas import (
    EVENT_SCHEMA_V1,
    EVENT_SCHEMA_V2,
    SILVER_SCHEMA,
    TURN_COLUMNS,
    OP_RANK,
)
from .generator import generate_epoch, generate_corpus_pandas
from .oracle import expected_silver
from .dedup import lww_dedup, lww_dedup_agg, op_rank_col
from .engine import CdcEngine

__all__ = [
    "EVENT_SCHEMA_V1",
    "EVENT_SCHEMA_V2",
    "SILVER_SCHEMA",
    "TURN_COLUMNS",
    "OP_RANK",
    "generate_epoch",
    "generate_corpus_pandas",
    "expected_silver",
    "lww_dedup",
    "lww_dedup_agg",
    "op_rank_col",
    "CdcEngine",
]
