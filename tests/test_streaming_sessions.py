"""Watermarked streaming sessionization reaches batch parity: every
session the watermark has closed must equal the batch session-window
computation from the full WAL (same 30-min-gap merge rule), and appended
rows are final (restart is a no-op)."""

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch
from citibike_pipeline_spark.streaming import StreamingSessions

CFG = GenConfig(
    n_convs=20, n_epochs=3, events_per_epoch=700, seed=31, evolution_epoch=1,
    n_hot=1, turns_hot=80, turns_normal=15,
)
GAP_S = 30 * 60
SENTINEL = "zz_sentinel"


def _sentinel_epoch(base: pd.DataFrame, shift_hours: int, lsn0: int) -> pd.DataFrame:
    s = base.head(4).copy()
    s["conv_id"] = SENTINEL
    s["ts"] = base["ts"].max() + pd.Timedelta(hours=shift_hours)
    s["lsn"] = range(lsn0, lsn0 + len(s))
    s["op"] = "U"
    return s


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_sessions"))
    eng = CdcEngine(spark, wh, n_buckets=4)
    eng.init_tables()
    last = None
    for e in range(CFG.n_epochs):
        last = generate_epoch(CFG, e)
        eng.ingest_epoch_pandas(last, e)
    # two sentinel epochs far in the future: the first advances max event
    # time past every real session, the second's batch then starts with a
    # watermark beyond them all, flushing every real session from state
    eng.ingest_epoch_pandas(_sentinel_epoch(last, 48, 10_000_000), CFG.n_epochs)
    eng.ingest_epoch_pandas(_sentinel_epoch(last, 96, 11_000_000), CFG.n_epochs + 1)
    # the generator's epochs are redelivery rounds over the SAME ~19 h day
    # (not successive time slices), so cross-epoch "lateness" spans the full
    # corpus window; delay > that span keeps every event on-time — the
    # parity test exercises CLOSURE correctness, not the late-drop path
    # (that contract is the one test_streaming_scd2 documents)
    ss = StreamingSessions(eng, max_files_per_trigger=4, watermark_delay="24 hours")
    ss.run_available()
    return eng, ss


def expected_sessions(eng):
    """Batch recompute with session_window's merge rule: events whose
    [ts, ts+gap) intervals overlap merge; session_end = last ts + gap."""
    # same-lsn collapse first: the stream side dedups redelivered rows
    # within the watermark, so n_events counts DISTINCT events
    ev = (
        eng.bronze.read_epochs(0, CFG.n_epochs)
        .select("conv_id", "lsn", "ts")
        .dropDuplicates(["lsn"])
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "lsn")
    gap = F.expr("timestampdiff(SECOND, _prev, ts)")
    flagged = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            F.when(F.col("_prev").isNull() | (gap >= GAP_S), 1).otherwise(0),
        )
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        flagged.withColumn("sid", F.sum("new_s").over(wc))
        .groupBy("conv_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr(f"INTERVAL {GAP_S} SECONDS")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.max("lsn").alias("max_lsn"),
        )
        .drop("sid")
    )


def _norm(df):
    pdf = (
        df.toPandas()
        .sort_values(["conv_id", "session_start"], kind="mergesort")
        .reset_index(drop=True)
    )
    for c in ("session_start", "session_end"):
        pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf[["conv_id", "session_start", "session_end", "n_events", "max_lsn"]]


def test_streaming_sessions_batch_parity(streamed):
    eng, ss = streamed
    got = _norm(ss.sessions().filter(F.col("conv_id") != SENTINEL))
    want = _norm(expected_sessions(eng))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_sessions_restart_is_noop(streamed):
    eng, ss = streamed
    before = _norm(ss.sessions())
    sid = eng.catalog.load_table(StreamingSessions.TABLE).current_snapshot().snapshot_id
    ss.run_available()
    assert (
        eng.catalog.load_table(StreamingSessions.TABLE).current_snapshot().snapshot_id
        == sid
    )
    pd.testing.assert_frame_equal(_norm(ss.sessions()), before)
