"""Incremental gold maintenance (replace_groups MERGE) vs full rebuild.

Pins the VERDICT r1 "What's missing" #1 fix: after an epoch-at-a-time replay
with an incremental gold refresh per epoch, every gold table must equal the
full-refresh plan over final silver — and the refresh must rewrite only the
buckets containing the epoch's touched conversations (cost scales with the
change-set, not table size).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch
from citibike_pipeline_spark.plans import refresh_gold
from citibike_pipeline_spark.plans.gold import (
    _conv_plans,
    gold_dim_dates,
    gold_tool_usage,
    gold_top_conversations,
)

CFG = GenConfig(
    n_convs=40,
    n_epochs=4,
    events_per_epoch=1500,
    seed=11,
    evolution_epoch=2,
    n_hot=2,
    turns_hot=200,
    turns_normal=30,
)


@pytest.fixture(scope="module")
def incr_engine(spark, tmp_path_factory):
    """Replay epoch-at-a-time with an incremental gold refresh after each."""
    wh = str(tmp_path_factory.mktemp("wh_gold_incr"))
    eng = CdcEngine(spark, wh, n_buckets=8)
    eng.init_tables()
    modes = []
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
        eng.replay(catchup=False)
        info = refresh_gold(eng, eng.touched_convs([e]))
        modes.append(info["mode"])
    return eng, modes


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return (
        pdf[cols]
        .sort_values(cols, kind="mergesort")
        .reset_index(drop=True)
    )


def test_first_refresh_full_then_incremental(incr_engine):
    _, modes = incr_engine
    assert modes[0] == "full"  # tables didn't exist yet
    assert all(m == "incremental" for m in modes[1:])


@pytest.mark.parametrize(
    "table", ["gold.conv_stats", "gold.running_turns", "gold.quality_flags",
              "gold.tool_conv_counts"]
)
def test_conv_scoped_tables_match_full_rebuild(incr_engine, table):
    eng, _ = incr_engine
    silver = eng.silver_view()
    want = _sorted_pdf(_conv_plans(silver)[table])
    got = _sorted_pdf(eng.catalog.load_table(table).read())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_derived_tables_match_full_rebuild(incr_engine):
    eng, _ = incr_engine
    silver = eng.silver_view()
    for name, plan in [
        ("gold.dim_dates", gold_dim_dates(eng.spark, silver)),
        ("gold.tool_usage", gold_tool_usage(silver)),
        ("gold.top_conversations", gold_top_conversations(silver)),
    ]:
        got = _sorted_pdf(eng.catalog.load_table(name).read())
        want = _sorted_pdf(plan)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)


def test_refresh_cost_scales_with_touched_convs(incr_engine):
    """An epoch touching ONE conversation rewrites only that conversation's
    gold bucket (1 of 8), not the whole table."""
    eng, _ = incr_engine
    e = CFG.n_epochs
    one = pd.DataFrame(
        {
            "lsn": [10_000_000, 10_000_001],
            "op": ["U", "I"],
            "conv_id": ["conv_00005", "conv_00005"],
            "turn_idx": [0, 1],
            "role": ["user", "assistant"],
            "text": ["patched turn 0", "patched turn 1"],
            "tool": [None, "search"],
            "ts": pd.to_datetime(["2024-06-01 10:00:00", "2024-06-01 10:00:05"]),
            "schema_version": [2, 2],
            "partition_id": [0, 0],
            "checkpoint_epoch": [e, e],
        }
    )
    eng.ingest_epoch_pandas(one, e)
    eng.replay(catchup=False)
    info = refresh_gold(eng, eng.touched_convs([e]))
    assert info["mode"] == "incremental"
    for table, n_buckets in info["buckets_touched"].items():
        assert n_buckets == 1, f"{table} rewrote {n_buckets} buckets for 1 conv"
    # and the patched rows actually landed
    stats = (
        eng.catalog.load_table("gold.conv_stats")
        .read()
        .filter("conv_id = 'conv_00005'")
        .collect()
    )
    assert len(stats) == 1


def test_fully_deleted_conversation_leaves_gold(incr_engine):
    """Deleting every turn of a conversation must remove it from the
    conv-scoped gold tables on the next incremental refresh (the group is
    touched but contributes no recomputed rows)."""
    eng, _ = incr_engine
    # pick a conversation that still has live rows (generator churn can
    # leave some convs already empty)
    victim = (
        eng.silver_view()
        .groupBy("conv_id")
        .count()
        .orderBy(F.desc("count"), "conv_id")
        .first()
        .conv_id
    )
    turns = eng.silver_view().filter(F.col("conv_id") == victim).collect()
    assert turns, "fixture should have rows for the victim conversation"

    e = CFG.n_epochs + 1  # after the 1-conv patch epoch from the other test
    base_lsn = 20_000_000
    dels = pd.DataFrame(
        {
            "lsn": [base_lsn + i for i in range(len(turns))],
            "op": ["D"] * len(turns),
            "conv_id": [victim] * len(turns),
            "turn_idx": [t.turn_idx for t in turns],
            "role": [None] * len(turns),
            "text": [None] * len(turns),
            "tool": [None] * len(turns),
            "ts": [None] * len(turns),
            "schema_version": [2] * len(turns),
            "partition_id": [0] * len(turns),
            "checkpoint_epoch": [e] * len(turns),
        }
    )
    eng.ingest_epoch_pandas(dels, e)
    eng.replay(catchup=False)
    info = refresh_gold(eng, eng.touched_convs([e]))
    assert info["mode"] == "incremental"

    assert eng.silver_view().filter(F.col("conv_id") == victim).count() == 0
    for table in ["gold.conv_stats", "gold.running_turns", "gold.quality_flags",
                  "gold.tool_conv_counts"]:
        left = (
            eng.catalog.load_table(table)
            .read()
            .filter(F.col("conv_id") == victim)
            .count()
        )
        assert left == 0, f"{table} still has {left} rows for the deleted conv"


# -- update_gold consumption tracking (ADVICE r2: late-landed epochs) --------

def test_update_gold_heals_late_landed_epoch(spark, tmp_path):
    """An epoch that lands LATE (below the silver checkpoint) and is healed
    by replay without advancing the checkpoint must still be folded into
    gold on the next update_gold — the old (gold_ckpt, silver_ckpt] window
    marked it consumed and left gold silently stale."""
    from citibike_pipeline_spark.plans.gold import (
        gold_pending_epochs,
        update_gold,
    )

    wh = str(tmp_path / "wh_gold_late")
    eng = CdcEngine(spark, wh, n_buckets=8)
    eng.init_tables()
    # land 0, 2, 3 — epoch 1 is delayed
    for e in [0, 2, 3]:
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
    eng.replay()
    assert update_gold(eng)["mode"] == "full"  # first build
    assert gold_pending_epochs(eng) == []

    # epoch 1 lands late, below the checkpoint (=3). While unreplayed it is
    # NOT consumable: gold must neither refresh from stale silver nor mark it.
    eng.ingest_epoch_pandas(generate_epoch(CFG, 1), 1)
    assert gold_pending_epochs(eng) == []
    assert update_gold(eng)["mode"] == "noop"

    # replay heals the gap (checkpoint stays at 3) -> epoch 1 becomes pending
    eng.replay(catchup=False)
    assert int(eng.checkpoint()["last_epoch"]) == 3
    assert gold_pending_epochs(eng) == [1]
    info = update_gold(eng)
    assert info["mode"] == "incremental"
    assert gold_pending_epochs(eng) == []
    assert update_gold(eng)["mode"] == "noop"

    # gold now equals a full rebuild over final silver
    silver = eng.silver_view()
    for table in ["gold.conv_stats", "gold.running_turns", "gold.quality_flags",
                  "gold.tool_conv_counts"]:
        got = _sorted_pdf(eng.catalog.load_table(table).read())
        want = _sorted_pdf(_conv_plans(silver)[table])
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=table)
