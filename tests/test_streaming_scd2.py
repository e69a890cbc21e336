"""Streaming SCD2 maintenance reaches batch parity: the continuously
maintained turn-history table must equal a one-shot batch rebuild of the
same version chains from the full WAL (window functions over lsn), with
chains spanning micro-batches, and restart from the checkpoint a no-op."""

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch
from citibike_pipeline_spark.streaming import StreamingScd2

CFG = GenConfig(
    n_convs=25, n_epochs=3, events_per_epoch=900, seed=23, evolution_epoch=1,
    n_hot=1, turns_hot=120, turns_normal=20,
)
COLS = [
    "conv_id", "turn_idx", "version_n", "opened_lsn", "closed_lsn",
    "valid_from", "valid_to", "role", "is_current",
]


def expected_history(eng):
    """Batch rebuild of the version chains straight from bronze."""
    ev = eng.bronze.read_epochs(0, CFG.n_epochs).select(
        "conv_id", "turn_idx", "lsn", "op", "ts", "role"
    )
    # collapse same-lsn redeliveries by the engine's (lsn, OP_RANK) order
    opr = (
        F.when(F.col("op") == "U", 2).when(F.col("op") == "I", 1).otherwise(0)
    )
    wl = Window.partitionBy("lsn").orderBy(opr.desc())
    ev = (
        ev.withColumn("_rn", F.row_number().over(wl))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("lsn")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("closed_lsn", F.lead("lsn").over(w))
        .withColumn("valid_to", F.lead("ts").over(w))
        .withColumn(
            "version_n",
            F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).over(wc).cast("long"),
        )
        .filter(F.col("op") != "D")
        .select(
            "conv_id", "turn_idx", "version_n",
            F.col("lsn").alias("opened_lsn"),
            "closed_lsn",
            F.col("ts").alias("valid_from"),
            "valid_to",
            "role",
            F.when(F.col("closed_lsn").isNull(), 1).otherwise(0).alias("is_current"),
        )
    )


def _norm(df):
    pdf = (
        df.toPandas()[COLS]
        .sort_values(["conv_id", "turn_idx", "version_n"], kind="mergesort")
        .reset_index(drop=True)
    )
    for c in ("valid_from", "valid_to"):
        pdf[c] = pdf[c].astype("datetime64[us]")
    for c in ("closed_lsn",):
        pdf[c] = pdf[c].astype("float64")  # None vs NaN normalization
    return pdf


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_scd2"))
    eng = CdcEngine(spark, wh, n_buckets=4)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
    # one trigger per epoch (files-per-epoch == defaultParallelism == 4 in
    # the test session): version chains MUST span micro-batches
    scd2 = StreamingScd2(eng, max_files_per_trigger=4)
    scd2.run_available()
    return eng, scd2


def test_streaming_scd2_batch_parity(streamed):
    eng, scd2 = streamed
    got = _norm(scd2.history())
    want = _norm(expected_history(eng))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_scd2_single_current_per_live_turn(streamed):
    _, scd2 = streamed
    per_turn = (
        scd2.history()
        .groupBy("conv_id", "turn_idx")
        .agg(F.sum("is_current").alias("n_open"))
    )
    # 0 open (turn ended in a delete) or exactly 1; never more
    assert per_turn.filter(F.col("n_open") > 1).count() == 0


def test_streaming_scd2_restart_is_noop(streamed):
    eng, scd2 = streamed
    before = _norm(scd2.history())
    table = eng.catalog.load_table(StreamingScd2.TABLE)
    sid = table.current_snapshot().snapshot_id
    scd2.run_available()
    assert (
        eng.catalog.load_table(StreamingScd2.TABLE).current_snapshot().snapshot_id
        == sid
    )
    pd.testing.assert_frame_equal(_norm(scd2.history()), before)
