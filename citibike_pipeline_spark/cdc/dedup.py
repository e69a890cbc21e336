"""Last-writer-wins dedup over monotone LSN offsets.

The exact idiom of the reference's snapshot collapse — ROW_NUMBER() over
(PARTITION BY key ORDER BY _ingested_at DESC) QUALIFY rn=1
(``silver_stations.sql:46-54``) — with LSN as the offset and the documented
(lsn, OP_RANK) total order for ties (SURVEY.md §7.3 hard-part b/c).

Skew note: both resolves exchange on the FULL key (conv_id, turn_idx), so a
hot conversation's events hash-spread across turn_idx — conversation-level
skew does not concentrate in the resolve. That full-key exchange is the
engine's skew handling; AQE's skew-join covers the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .schemas import KEY_COLS, OP_RANK


def op_rank_col(op_col: str = "op"):
    """Map op -> rank entirely JVM-side (no UDF): D=0, I=1, U=2."""
    c = F.col(op_col)
    return (
        F.when(c == "U", F.lit(2)).when(c == "I", F.lit(1)).otherwise(F.lit(0))
    )


def lww_dedup(
    events: DataFrame,
    key_cols: list[str] | None = None,
    extra_order: list | None = None,
) -> DataFrame:
    """Collapse to at most one row per key: the (lsn, op_rank)-greatest event.

    Redelivered duplicates (identical (key, lsn, op)) carry identical payloads
    by the WAL contract, so any representative is correct; `extra_order` can
    add further deterministic tiebreaks (e.g. a source preference flag).
    """
    keys = key_cols or KEY_COLS
    order = [F.col("lsn").desc(), op_rank_col().desc()]
    if extra_order:
        order += extra_order
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_dedup_agg(
    events: DataFrame,
    key_cols: list[str] | None = None,
    extra_order_cols: list | None = None,
) -> DataFrame:
    """LWW collapse as one aggregate: max_by(payload, (lsn, op_rank, …)).

    Semantically identical to lww_dedup (struct comparison is lexicographic,
    same total order) but with ONE exchange and MAP-SIDE PARTIAL
    aggregation: duplicates and redeliveries collapse before the shuffle, so
    shuffle volume scales with distinct keys, not events (the window variant
    shuffles every event). It is not sort-free: ``max_by`` over a payload
    struct that holds strings has no fixed-width aggregation buffer, so
    Spark plans ``Sort`` + ``SortAggregate`` on both sides of the exchange
    (checked with ``explain()`` on Spark 4.1). This is the merge hot path's
    resolver kernel.

    ``extra_order_cols`` are appended ASCENDING-max tiebreaks (pass e.g.
    ``F.coalesce(F.col("ingest_epoch"), F.lit(-1))`` for "later epoch wins,
    NULL loses").
    """
    keys = key_cols or KEY_COLS
    cols = events.columns
    ord_fields = [F.col("lsn"), op_rank_col()] + list(extra_order_cols or [])
    ord_struct = F.struct(*[f.alias(f"_o{i}") for i, f in enumerate(ord_fields)])
    payload = F.struct(*[F.col(c) for c in cols])
    return (
        events.groupBy(*keys)
        .agg(F.max_by(payload, ord_struct).alias("_row"))
        .select("_row.*")
    )
