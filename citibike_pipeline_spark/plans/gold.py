"""Gold layer: the reference's analytic capabilities re-keyed to transcripts.

Each function is a pure DataFrame -> DataFrame plan over the silver view
(conv_id, turn_idx, role, text, tool, ts, lsn) — full-refresh materializations
(≙ dbt `materialized='table'` rebuilds, silver_stations.sql:1 / SURVEY §2.9 I6)
executed after each checkpoint epoch or on demand.

Operator parity map (SURVEY.md §2):
- gold_conv_stats        : A1-A5 hash aggregates + conditional agg + span math
                           (stg_combined_trip_metrics.sql:5-32)
- gold_running_turns     : U1 unpivot + W3 running sum with frame spec
                           (gold_fact_trips.sql:68-100)
- gold_quality_flags     : P6 quality-flag columns (silver_trips.sql:111-144)
- gold_dim_dates         : G1 date spine + J5 broadcast dim join
                           (gold_dim_dates.sql:5-28)
- gold_tool_usage        : J5-style broadcast enrichment + A7 pivot-style
                           conditional sums (gold_station_performance_dashboard.sql:38-65)
- gold_top_conversations : A1 + HAVING thresholds + ORDER/LIMIT
                           (gold_commuter_edges.sql:18-69)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.dims import holidays, tool_catalog

# Holiday seed coverage — generous fixed span so the dim is a pure constant
# (≙ generate_holidays.py's fixed generation window); 4 rows/year, always
# broadcast.
HOLIDAY_YEARS = list(range(2000, 2041))


def gold_conv_stats(silver: DataFrame) -> DataFrame:
    """Per-conversation metrics. Hash agg with map-side partials (Spark does
    partial+final automatically, ≙ A10); conditional aggregates via
    count(when(...)) — the FILTER-clause idiom of A2."""
    silver = _with_tool(silver)
    return (
        silver.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count("tool").alias("n_tool_turns"),
            F.count(F.when(F.col("role") == "assistant", 1)).alias("n_assistant_turns"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .withColumn(
            "duration_sec",
            F.expr("timestampdiff(SECOND, first_ts, last_ts)"),
        )
    )


def gold_running_turns(silver: DataFrame) -> DataFrame:
    """Cumulative turn/tool counters per conversation ordered by
    (ts, turn_idx) with deterministic tiebreak — the exact running-balance
    window shape of gold_fact_trips.sql:91-100 (ROWS UNBOUNDED PRECEDING)."""
    silver = _with_tool(silver)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return silver.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.sum(F.lit(1)).over(w).alias("cum_turns"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0))
        .over(w)
        .alias("cum_tool_turns"),
    )


def gold_quality_flags(silver: DataFrame) -> DataFrame:
    """Data-quality booleans computed into the data, not asserted —
    the reference's QA stance (silver_trips.sql:111-144):
    - is_empty_text    : NULL/blank text on a live row
    - is_ts_regression : ts decreases vs the previous turn (lag window)
    - is_duplicate_key : >1 live row per key (window count, avoids the
                         self-join of J3 entirely)
    """
    w_lag = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_key = Window.partitionBy("conv_id", "turn_idx")
    return silver.select(
        "conv_id",
        "turn_idx",
        (F.col("text").isNull() | (F.trim(F.col("text")) == "")).alias("is_empty_text"),
        (F.col("ts") < F.lag("ts").over(w_lag)).alias("is_ts_regression"),
        (F.count(F.lit(1)).over(w_key) > 1).alias("is_duplicate_key"),
    )


def _date_attrs(spine: DataFrame) -> DataFrame:
    attrs = spine.select(
        "date_key",
        F.year("date_key").alias("year"),
        F.quarter("date_key").alias("quarter"),
        F.month("date_key").alias("month"),
        F.dayofmonth("date_key").alias("day"),
        F.dayofweek("date_key").alias("day_of_week"),
        F.date_format("date_key", "MMMM").alias("month_name"),
        F.date_format("date_key", "EEEE").alias("day_name"),
        F.dayofweek("date_key").isin(1, 7).alias("is_weekend"),
    )
    # broadcast seed left join + miss flag ≙ gold_dim_dates.sql:26-28
    hol = holidays(attrs.sparkSession, HOLIDAY_YEARS)
    return attrs.join(F.broadcast(hol), on="date_key", how="left").select(
        attrs["*"],
        F.col("holiday_name").isNotNull().alias("is_holiday"),
        "holiday_name",
    )


def gold_dim_dates(spark: SparkSession, silver: DataFrame) -> DataFrame:
    """Date spine spanning the corpus + calendar attributes.

    sequence(min,max)+explode ≙ UNNEST(GENERATE_DATE_ARRAY(...)),
    gold_dim_dates.sql:5-8; attribute extraction ≙ :12-19. The bounds come
    from a 1-row aggregate cross-joined in (scalar-subquery shape, A5)."""
    bounds = silver.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("date_key")
    )
    return _date_attrs(spine)


def gold_tool_conv_counts(silver: DataFrame) -> DataFrame:
    """Per-(tool, conversation) call counts — the incrementally maintainable
    intermediate under tool_usage. One row per distinct (tool, conv_id), so
    the final rollup never re-scans silver: n_calls distributes over SUM and
    COUNT DISTINCT conv_id becomes COUNT(*) of this table."""
    silver = _with_tool(silver)
    return (
        silver.filter(F.col("tool").isNotNull())
        .groupBy("tool", "conv_id")
        .agg(F.count(F.lit(1)).alias("n_calls"))
    )


def gold_tool_usage_from_counts(counts: DataFrame) -> DataFrame:
    """Tool usage enriched by the broadcast tool catalog; COALESCE on miss
    (≙ holiday join gold_dim_dates.sql:26-28 + silver_stations.sql:73-79).
    Rolls up the (tool, conv_id) intermediate — cost O(|tool_conv_counts|),
    independent of silver size."""
    dim = tool_catalog(counts.sparkSession)
    return (
        counts.join(F.broadcast(dim), on="tool", how="left")
        .groupBy("tool", F.coalesce("category", F.lit("unknown")).alias("category"))
        .agg(
            F.sum("n_calls").alias("n_calls"),
            F.count(F.lit(1)).alias("n_convs"),
        )
    )


def gold_tool_usage(silver: DataFrame) -> DataFrame:
    return gold_tool_usage_from_counts(gold_tool_conv_counts(silver))


def gold_top_conversations_from_stats(
    stats: DataFrame, min_turns: int = 10, top_k: int = 100
) -> DataFrame:
    """Busiest conversations above a floor — GROUP BY + HAVING + ORDER/LIMIT
    (gold_commuter_edges.sql:18-33,64-69 shape). Takes conv_stats (one row
    per conversation) so the top-k re-rank costs O(#convs), not O(#turns)."""
    return (
        stats.filter(F.col("n_turns") >= min_turns)
        .orderBy(F.desc("n_turns"), "conv_id")
        .limit(top_k)
    )


def gold_top_conversations(
    silver: DataFrame, min_turns: int = 10, top_k: int = 100
) -> DataFrame:
    return gold_top_conversations_from_stats(gold_conv_stats(silver), min_turns, top_k)


# Table layout specs. The conv-keyed tables bucket by conv_id ALONE (even
# when the logical key includes turn_idx) so replace_groups can prune their
# rewrite to the buckets containing the epoch's touched conversations.
_GOLD_SPECS: dict[str, dict] = {
    "gold.conv_stats": {"keys": ["conv_id"], "bucket": ["conv_id"]},
    "gold.running_turns": {"keys": ["conv_id", "turn_idx"], "bucket": ["conv_id"]},
    "gold.quality_flags": {"keys": ["conv_id", "turn_idx"], "bucket": ["conv_id"]},
    "gold.tool_conv_counts": {"keys": ["tool", "conv_id"], "bucket": ["conv_id"]},
    "gold.dim_dates": {"keys": ["date_key"], "bucket": ["date_key"]},
    "gold.tool_usage": {"keys": ["tool"], "bucket": ["tool"]},
    "gold.top_conversations": {"keys": ["conv_id"], "bucket": ["conv_id"]},
}

# Tables whose rows are a pure per-conversation function of silver — the
# replace_groups (incremental MERGE) set.
_CONV_SCOPED = [
    "gold.conv_stats",
    "gold.running_turns",
    "gold.quality_flags",
    "gold.tool_conv_counts",
]


def _spec_ok(engine, name: str) -> bool:
    """True iff the existing table's layout matches the current spec — a
    table created by an older build (e.g. bucket_cols defaulted to the full
    key) cannot be group-pruned and must be recreated."""
    if not engine.catalog.table_exists(name):
        return False
    snap = engine.catalog.load_table(name).current_snapshot()
    return snap.bucket_cols == _GOLD_SPECS[name]["bucket"]


def _ensure_table(engine, name: str, df: DataFrame):
    if engine.catalog.table_exists(name) and not _spec_ok(engine, name):
        # gold is derived state: recreating under the current layout is
        # always safe and heals warehouses built by older code
        engine.catalog.drop_table(name)
    if not engine.catalog.table_exists(name):
        engine.catalog.create_table(
            name,
            df.schema,
            key_cols=_GOLD_SPECS[name]["keys"],
            bucket_cols=_GOLD_SPECS[name]["bucket"],
            n_buckets=8,
        )
    return engine.catalog.load_table(name)


def _with_tool(silver: DataFrame) -> DataFrame:
    """Pad a typed-NULL `tool` before the v1→v2 schema evolution lands, so
    gold schemas are stable across the evolution seam (same superset
    projection silver itself uses, cdc.reconcile)."""
    if "tool" not in silver.columns:
        silver = silver.withColumn("tool", F.lit(None).cast("string"))
    return silver


def _conv_plans(silver: DataFrame) -> dict[str, DataFrame]:
    silver = _with_tool(silver)
    return {
        "gold.conv_stats": gold_conv_stats(silver),
        "gold.running_turns": gold_running_turns(silver),
        "gold.quality_flags": gold_quality_flags(silver),
        "gold.tool_conv_counts": gold_tool_conv_counts(silver),
    }


def build_gold(engine) -> dict[str, int]:
    """Full gold refresh (I6): each plan materialized as one atomic
    overwrite. Returns row counts — from commit manifests, no post-write
    scans. Used for first build and backfills; steady-state epochs go
    through refresh_gold."""
    spark = engine.spark
    silver = engine.silver_view()
    conv_plans = _conv_plans(silver)
    plans = {
        **conv_plans,
        "gold.dim_dates": gold_dim_dates(spark, silver),
        "gold.tool_usage": gold_tool_usage_from_counts(
            conv_plans["gold.tool_conv_counts"]
        ),
        "gold.top_conversations": gold_top_conversations_from_stats(
            conv_plans["gold.conv_stats"]
        ),
    }
    counts = {}
    for name, df in plans.items():
        t = _ensure_table(engine, name, df)
        t.overwrite(df)
        counts[name] = t.row_count()
    return counts


def refresh_gold(engine, touched_convs: DataFrame) -> dict:
    """Incremental gold refresh scoped to one replay's touched conversations
    (≙ dbt incremental MERGE by unique key scoped to the batch,
    gold_fact_trips.sql:1-9) — replaces the round-1 full-rebuild-per-epoch,
    the O(table)-per-epoch cost that inverts at 10^10 rows.

    - conv-scoped tables (conv_stats, running_turns, quality_flags,
      tool_conv_counts): recomputed ONLY for touched conversations from a
      bucket-pruned silver read, then replace_groups-merged — cost scales
      with the change-set's conversation spread, not table size.
    - tool_usage / top_conversations: re-ranked from the maintained
      intermediates (tool_conv_counts / conv_stats), never from silver.
    - dim_dates: monotone spine — only dates extending the covered range are
      appended (a calendar dim never shrinks).

    Falls back to build_gold when any gold table is missing.
    """
    from ..lake.merge import replace_groups
    from ..lake.table import bucket_expr

    # missing OR legacy-layout tables -> full rebuild (which also recreates
    # any table whose bucket spec can't be group-pruned)
    if any(not _spec_ok(engine, n) for n in _GOLD_SPECS):
        return {"mode": "full", "counts": build_gold(engine), "buckets_touched": {}}

    touched = touched_convs.select("conv_id").distinct().persist()
    stats_out: dict[str, int] = {}
    counts_out: dict[str, int] = {}
    try:
        # ONE job computes the touched buckets for every bucket spec in play
        # (silver's and the shared gold spec) — replace_groups then reuses
        # the precomputed sets instead of collecting per table.
        ssnap = engine.silver.current_snapshot()
        g_spec = engine.catalog.load_table(_CONV_SCOPED[0]).current_snapshot()
        both = (
            touched.select(
                bucket_expr(ssnap.bucket_cols, ssnap.n_buckets).alias("sb"),
                bucket_expr(g_spec.bucket_cols, g_spec.n_buckets).alias("gb"),
            )
            .distinct()
            .collect()
        )
        sbuckets = sorted({r["sb"] for r in both})
        gbuckets = sorted({r["gb"] for r in both})
        silver_touched = (
            engine.silver_resolved(buckets=sbuckets)
            .filter(F.col("op") != "D")
            .drop("op", "ingest_epoch")
            .join(touched, on="conv_id", how="left_semi")
            .persist()
        )
        try:
            for name, df in _conv_plans(silver_touched).items():
                t = engine.catalog.load_table(name)
                tsnap = t.current_snapshot()
                # the precomputed set is valid only for the shared spec
                pre = (
                    gbuckets
                    if (tsnap.n_buckets, tsnap.bucket_cols)
                    == (g_spec.n_buckets, g_spec.bucket_cols)
                    else None
                )
                st = replace_groups(
                    t, ["conv_id"], touched, df,
                    summary={"gold": name}, touched_buckets=pre,
                )
                stats_out[name] = st["buckets_touched"]
                counts_out[name] = t.row_count()

            # dim_dates: extend the spine to cover the new corpus span
            counts_out["gold.dim_dates"] = _extend_dim_dates(engine, silver_touched)
        finally:
            silver_touched.unpersist()

        # derived rollups from the maintained intermediates (small inputs)
        tcc = engine.catalog.load_table("gold.tool_conv_counts").read()
        tu = engine.catalog.load_table("gold.tool_usage")
        tu.overwrite(gold_tool_usage_from_counts(tcc))
        counts_out["gold.tool_usage"] = tu.row_count()

        cs = engine.catalog.load_table("gold.conv_stats").read()
        top = engine.catalog.load_table("gold.top_conversations")
        top.overwrite(gold_top_conversations_from_stats(cs))
        counts_out["gold.top_conversations"] = top.row_count()
    finally:
        touched.unpersist()
    return {"mode": "incremental", "counts": counts_out, "buckets_touched": stats_out}


def _extend_dim_dates(engine, silver_touched: DataFrame) -> int:
    """Append calendar rows so the spine stays contiguous over
    [min(existing, new), max(existing, new)]. Dates never shrink."""
    t = engine.catalog.load_table("gold.dim_dates")
    existing = t.read()
    new_b = silver_touched.agg(
        F.min(F.to_date("ts")).alias("n0"), F.max(F.to_date("ts")).alias("n1")
    )
    old_b = existing.agg(F.min("date_key").alias("e0"), F.max("date_key").alias("e1"))
    bounds = new_b.crossJoin(old_b).select(
        F.least(F.coalesce("n0", "e0"), F.coalesce("e0", "n0")).alias("d0"),
        F.greatest(F.coalesce("n1", "e1"), F.coalesce("e1", "n1")).alias("d1"),
    )
    spine = bounds.filter(F.col("d0").isNotNull()).select(
        F.explode(F.sequence("d0", "d1")).alias("date_key")
    )
    missing = _date_attrs(spine).join(
        existing.select("date_key"), on="date_key", how="left_anti"
    ).persist()
    try:
        if missing.count() > 0:
            t.append(missing, summary={"gold": "dim_dates_extend"})
    finally:
        missing.unpersist()
    return t.row_count()


# -- driver-surface orchestration ------------------------------------------

def _gold_ckpt_path(engine) -> str:
    return f"{engine.warehouse}/_meta/gold_checkpoint.json"


def _gold_consumed_dir(engine) -> str:
    return f"{engine.warehouse}/_meta/gold_consumed"


def gold_checkpoint(engine) -> int:
    """Highest WAL epoch the gold layer has consumed (-1 = never built).
    A monotone resume HINT only — like silver's checkpoint, pending-ness is
    derived from per-epoch consumption markers, not from this number."""
    from ..lake import fs

    p = _gold_ckpt_path(engine)
    return int(fs.read_json(p)["last_epoch"]) if fs.exists(p) else -1


def _gold_consumed(engine) -> set[int]:
    """Epochs gold has already folded in — one marker file per epoch
    (e%06d.json), the same manifest-derived idiom silver's replay uses."""
    from ..lake import fs

    d = _gold_consumed_dir(engine)
    if not fs.exists(d):
        return set()
    return {
        int(fn[1:-5])
        for fn in fs.listdir(d)
        if fn.startswith("e") and fn.endswith(".json")
    }


def _mark_gold_consumed(engine, epochs: list[int]) -> None:
    from ..lake import fs

    d = _gold_consumed_dir(engine)
    if epochs:
        fs.makedirs(d)
    for e in epochs:
        fs.write_json_atomic(f"{d}/e{e:06d}.json", {"epoch": int(e)})
    hint = max([gold_checkpoint(engine), *epochs]) if epochs else gold_checkpoint(engine)
    fs.write_json_atomic(_gold_ckpt_path(engine), {"last_epoch": int(hint)})


def gold_pending_epochs(engine, late_window: int | None = 1024) -> list[int]:
    """Epochs gold must still fold in: landed, FULLY COMMITTED in silver, and
    not yet marked consumed by gold.

    Mirrors ``CdcEngine.replay``'s manifest-derived pending logic rather than
    an epoch-number range, so the two failure modes of the old
    ``(gold_ckpt, silver_ckpt]`` window are gone:

    - a LATE-landed epoch applied at/below the silver checkpoint (replay's
      gap heal never advances the checkpoint) has no consumption marker and
      is picked up here;
    - a landed-but-not-yet-replayed epoch is NOT fully committed in silver,
      so it is neither refreshed from (stale) silver nor marked consumed —
      it stays pending until replay commits it.

    ``late_window`` bounds the scan exactly as in replay: epochs older than
    gold_hint - window are assumed consumed (None = full-history audit).
    """
    committed = engine._committed_by_epoch()
    consumed = _gold_consumed(engine)
    floor = -1 if late_window is None else gold_checkpoint(engine) - int(late_window)
    return [
        e
        for e in engine.bronze.epochs()
        if e > floor
        and e not in consumed
        and engine._is_fully_committed(e, committed.get(e, set()))
    ]


def update_gold(engine, full: bool = False, late_window: int | None = 1024) -> dict:
    """Bring gold up to date with silver — the driver-surface entry point.

    Gold tracks its OWN per-epoch consumption (``_meta/gold_consumed/``), so
    staleness is decided against what silver has actually committed, not
    against "did this process just apply something": a --skip-gold run, a
    crash between replay and refresh, or a late-landed epoch healed below the
    silver checkpoint all leave unconsumed markers that the next update
    refreshes from. An epoch is marked consumed only once it is fully
    committed in silver AND its conversations have been folded into gold.
    """
    pending = gold_pending_epochs(engine, late_window=late_window)
    missing = any(not _spec_ok(engine, n) for n in _GOLD_SPECS)

    if full or missing:
        info = {"mode": "full", "counts": build_gold(engine), "buckets_touched": {}}
        # a full rebuild derives from ALL of current silver — every committed
        # epoch is consumed by construction (unreplayed ones stay pending)
        committed = engine._committed_by_epoch()
        pending = [
            e
            for e in engine.bronze.epochs()
            if engine._is_fully_committed(e, committed.get(e, set()))
        ]
    elif not pending:
        info = {
            "mode": "noop",
            "counts": {
                n: engine.catalog.load_table(n).row_count() for n in _GOLD_SPECS
            },
            "buckets_touched": {},
        }
    else:
        info = refresh_gold(engine, engine.touched_convs(pending))
    _mark_gold_consumed(engine, pending)
    return info
