"""Merge-on-read mode: delta-append writes, read-time LWW resolve.

The MOR trade (Iceberg v2 / Hudi): per-epoch write cost is O(changes) — no
target read, no bucket rewrite — and winners resolve at read time until
compact() folds deltas into the base. Everything the COW parity suite pins
must hold identically, including exactly-once under re-applied epochs.
"""

import pandas as pd
import pytest

from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_corpus_pandas, generate_epoch
from citibike_pipeline_spark.cdc.oracle import expected_silver
from citibike_pipeline_spark.cdc.schemas import TURN_COLUMNS

CFG = GenConfig(
    n_convs=40, n_epochs=4, events_per_epoch=1500, seed=7, evolution_epoch=2,
    n_hot=1, turns_hot=200, turns_normal=30,
)
COLS = TURN_COLUMNS + ["lsn"]


def silver_pdf(eng) -> pd.DataFrame:
    out = (
        eng.silver_view().toPandas()
        .sort_values(["conv_id", "turn_idx", "lsn"], kind="mergesort")
        .reset_index(drop=True)
    )
    out["ts"] = out["ts"].astype("datetime64[us]")
    return out[COLS]


def oracle_pdf() -> pd.DataFrame:
    want = expected_silver(generate_corpus_pandas(CFG))
    want["ts"] = want["ts"].astype("datetime64[us]")
    return want[COLS].reset_index(drop=True)


def mor_engine(spark, tmp_path, name, mode="mor") -> CdcEngine:
    eng = CdcEngine(spark, str(tmp_path / name), n_buckets=4, merge_mode=mode)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
    return eng


@pytest.mark.parametrize("mode", ["mor"])
def test_mor_replay_parity_epoch_at_a_time(spark, tmp_path, mode):
    eng = mor_engine(spark, tmp_path, "wh_mor", mode)
    metrics = eng.replay(catchup=False)
    assert all(m["buckets_touched"] == 0 for m in metrics)  # no rewrites
    pd.testing.assert_frame_equal(silver_pdf(eng), oracle_pdf(), check_dtype=False)


@pytest.mark.parametrize("mode", ["mor"])
def test_mor_catchup_parity(spark, tmp_path, mode):
    eng = mor_engine(spark, tmp_path, "wh_mor_catchup", mode)
    eng.replay(catchup=True)
    pd.testing.assert_frame_equal(silver_pdf(eng), oracle_pdf(), check_dtype=False)


@pytest.mark.parametrize("mode", ["mor"])
def test_mor_reapplied_epoch_is_logical_noop(spark, tmp_path, mode):
    """Torn commit under MOR: re-appending an epoch's delta adds duplicate
    physical rows that are a logical no-op — the identical (key, lsn, op)
    rows tie in the read-side LWW resolve."""
    import os

    eng = mor_engine(spark, tmp_path, "wh_mor_crash", mode)
    eng.replay(catchup=False)
    want = silver_pdf(eng)
    for fn in os.listdir(eng._manifest_dir):
        if fn.startswith("e000002"):
            os.remove(os.path.join(eng._manifest_dir, fn))
    eng2 = CdcEngine(spark, eng.warehouse, n_buckets=4, merge_mode=mode)
    metrics = eng2.replay(catchup=False)
    assert [m["epoch"] for m in metrics] == [2]
    pd.testing.assert_frame_equal(silver_pdf(eng2), want)


@pytest.mark.parametrize("mode", ["mor"])
def test_mor_compact_folds_deltas(spark, tmp_path, mode):
    eng = mor_engine(spark, tmp_path, "wh_mor_compact", mode)
    eng.replay(catchup=False)
    want = silver_pdf(eng)
    physical_before = eng.silver.row_count()
    assert physical_before > len(want)  # deltas accumulated

    eng.compact(watermark_lsn=10**15)
    # base is collapsed: physical rows == live rows, no tombstones
    assert eng.silver.row_count() == len(want)
    assert eng.silver.read().filter("op = 'D'").count() == 0
    pd.testing.assert_frame_equal(silver_pdf(eng), want)

    # and the table keeps accepting deltas after the fold
    e = CFG.n_epochs
    patch = pd.DataFrame(
        {
            "lsn": [10_000_000], "op": ["U"], "conv_id": ["conv_00009"],
            "turn_idx": [0], "role": ["user"], "text": ["post-compact patch"],
            "tool": [None], "ts": pd.to_datetime(["2024-06-01 10:00:00"]),
            "schema_version": [2], "partition_id": [0], "checkpoint_epoch": [e],
        }
    )
    eng.ingest_epoch_pandas(patch, e)
    eng.replay(catchup=False)
    got = eng.silver_view().filter("conv_id = 'conv_00009' AND turn_idx = 0").collect()
    assert len(got) == 1 and got[0].text == "post-compact patch"


@pytest.mark.parametrize("mode", ["mor"])
def test_mor_incremental_gold_matches_full_rebuild(spark, tmp_path, mode):
    """Incremental gold over a MOR silver reads bucket-pruned deltas+base
    through silver_resolved; the result must equal the full-refresh plans."""
    from citibike_pipeline_spark.plans import refresh_gold
    from citibike_pipeline_spark.plans.gold import _conv_plans

    eng = CdcEngine(spark, str(tmp_path / "wh_mor_gold"), n_buckets=4,
                    merge_mode=mode)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
        eng.replay(catchup=False)
        refresh_gold(eng, eng.touched_convs([e]))

    silver = eng.silver_view()
    for table, plan in _conv_plans(silver).items():
        got = (
            eng.catalog.load_table(table).read().toPandas()
        )
        want = plan.toPandas()
        cols = sorted(got.columns)
        got = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        want = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=table)


@pytest.mark.parametrize("mode", ["mor"])
def test_autocompact_policy_bounds_delta_depth(spark, tmp_path, mode):
    """With mor_autocompact_deltas=N, replay folds the deltas once N commits
    stack up — the depth stays bounded and parity is untouched."""
    eng = CdcEngine(spark, str(tmp_path / "wh_mor_auto"), n_buckets=4,
                    merge_mode=mode, mor_autocompact_deltas=3)
    eng.init_tables()
    compacts = 0
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
        metrics = eng.replay(catchup=False)
        auto = metrics[-1].get("autocompact")
        if auto:
            compacts += 1
            assert auto["deltas_folded"] >= 3
            # deterministic post-fold invariants, checked IMMEDIATELY after
            # the fold (r3 ADVICE: the old end-of-loop depth==0 guard was
            # never true because a delta always followed the last fold):
            # depth resets and the current snapshot is the compact base
            assert eng.mor_delta_depth() == 0
            assert (
                eng.silver.current_snapshot().summary.get("operation")
                == "compact"
            )
        assert eng.mor_delta_depth() < 3
    assert compacts >= 1, "threshold of 3 must trigger within 4 epochs"
    pd.testing.assert_frame_equal(silver_pdf(eng), oracle_pdf(), check_dtype=False)


def test_autocompact_disabled_accumulates(spark, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "wh_mor_noauto"), n_buckets=4,
                    merge_mode="mor", mor_autocompact_deltas=None)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
        eng.replay(catchup=False)
    assert eng.mor_delta_depth() == CFG.n_epochs
    pd.testing.assert_frame_equal(silver_pdf(eng), oracle_pdf(), check_dtype=False)


def test_mor_stale_redelivery_after_compact(spark, tmp_path):
    """After a compaction fold, a stale redelivery (old lsn for a key whose
    newer winner now lives only in the base) arrives in a later epoch as a
    delta. The read-side LWW resolve must rank it below the base winner:
    the key keeps one row, the winner's."""
    eng = CdcEngine(spark, str(tmp_path / "wh_mor_stale"), n_buckets=4,
                    merge_mode="mor", mor_autocompact_deltas=None)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
    eng.replay(catchup=False)
    want = silver_pdf(eng)
    key = want.iloc[0]
    assert key.lsn > 1  # a stale lsn below the winner exists

    eng.compact()  # fold deltas: the winner now lives only in the base

    e = CFG.n_epochs
    stale = pd.DataFrame(
        {
            "lsn": [int(key.lsn) - 1], "op": ["U"], "conv_id": [key.conv_id],
            "turn_idx": [int(key.turn_idx)], "role": ["user"],
            "text": ["stale redelivery"], "tool": [None],
            "ts": pd.to_datetime(["2024-06-01 10:00:00"]),
            "schema_version": [2], "partition_id": [0], "checkpoint_epoch": [e],
        }
    )
    eng.ingest_epoch_pandas(stale, e)
    eng.replay(catchup=False)

    got = eng.silver_view().filter(
        f"conv_id = '{key.conv_id}' AND turn_idx = {int(key.turn_idx)}"
    ).collect()
    assert len(got) == 1, f"stale redelivery resurfaced: {got}"
    assert got[0].lsn == key.lsn and got[0].text != "stale redelivery"
    # and the table overall still matches the oracle
    pd.testing.assert_frame_equal(silver_pdf(eng), want)


def test_legacy_delete_files_refuse_reads(spark, tmp_path):
    """A snapshot that still lists equality-delete files (written by the
    removed "mor-del" mode) must refuse reads: the data files alone hold
    superseded row versions that only those files masked. Later commits
    carry the list forward, so the refusal cannot be lost by appending."""
    with pytest.raises(ValueError, match="'cow' or 'mor'"):
        CdcEngine(spark, str(tmp_path / "wh_bad"), merge_mode="mor-del")

    eng = CdcEngine(spark, str(tmp_path / "wh_legacy"), n_buckets=4,
                    merge_mode="mor")
    eng.init_tables()
    snap = eng.silver.current_snapshot()
    legacy = snap.child(snap.files, {"operation": "append", "mode": "mor_delta"})
    legacy.delete_files = [{"path": "data/x/part-0.parquet", "bucket": None,
                            "rows": 1}]
    eng.silver._commit(legacy)

    with pytest.raises(ValueError, match="equality-delete files"):
        eng.silver.read()
    with pytest.raises(ValueError, match="equality-delete files"):
        eng.silver_view()
    assert legacy.child(legacy.files, {}).delete_files == legacy.delete_files
