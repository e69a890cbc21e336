"""Watermarked stream-stream interval join reaches batch parity: every
(delete, tombstoned-update) pair within the hour window must equal the
batch inner join over the full WAL, with the two sides arriving across
different micro-batches; restart is a no-op."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch
from citibike_pipeline_spark.streaming import StreamingTombstoneJoin
from citibike_pipeline_spark.streaming.joins import JOIN_INTERVAL_S

CFG = GenConfig(
    n_convs=20, n_epochs=3, events_per_epoch=700, seed=37, evolution_epoch=1,
    n_hot=1, turns_hot=80, turns_normal=15,
)
COLS = ["conv_id", "turn_idx", "d_lsn", "u_lsn", "d_ts", "u_ts"]


def expected_matches(eng):
    ev = eng.bronze.read_epochs(0, CFG.n_epochs)
    d = ev.filter(F.col("op") == "D").select(
        "conv_id", "turn_idx",
        F.col("lsn").alias("d_lsn"), F.col("ts").alias("d_ts"),
    )
    u = ev.filter(F.col("op") == "U").select(
        F.col("conv_id").alias("u_conv_id"), F.col("turn_idx").alias("u_turn_idx"),
        F.col("lsn").alias("u_lsn"), F.col("ts").alias("u_ts"),
    )
    return (
        d.join(
            u,
            on=[
                d["conv_id"] == u["u_conv_id"],
                d["turn_idx"] == u["u_turn_idx"],
                u["u_ts"] <= d["d_ts"],
                u["u_ts"] >= d["d_ts"] - F.expr(f"INTERVAL {JOIN_INTERVAL_S} SECONDS"),
            ],
        )
        .select("conv_id", "turn_idx", "d_lsn", "u_lsn", "d_ts", "u_ts")
        # the WAL redelivers duplicate (lsn) rows with identical payloads;
        # the streamed sink's (d_lsn, u_lsn) MERGE key collapses the
        # resulting identical pairs, so the batch side must too
        .distinct()
    )


def _norm(df):
    pdf = (
        df.toPandas()[COLS]
        .sort_values(["d_lsn", "u_lsn"], kind="mergesort")
        .reset_index(drop=True)
    )
    for c in ("d_ts", "u_ts"):
        pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_ssjoin"))
    eng = CdcEngine(spark, wh, n_buckets=4)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
    # delay > the one-day corpus span: no buffered row is evicted before
    # its cross-batch partner arrives (the epochs are redelivery rounds
    # over the same day — see test_streaming_sessions); inner-join matches
    # emit on arrival, so no sentinel flush is needed
    j = StreamingTombstoneJoin(eng, max_files_per_trigger=4, watermark_delay="24 hours")
    j.run_available()
    return eng, j


def test_stream_stream_join_batch_parity(streamed):
    eng, j = streamed
    got = _norm(j.matches())
    want = _norm(expected_matches(eng))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_stream_join_restart_is_noop(streamed):
    eng, j = streamed
    before = _norm(j.matches())
    sid = eng.catalog.load_table(
        StreamingTombstoneJoin.TABLE
    ).current_snapshot().snapshot_id
    j.run_available()
    assert (
        eng.catalog.load_table(StreamingTombstoneJoin.TABLE)
        .current_snapshot()
        .snapshot_id
        == sid
    )
    pd.testing.assert_frame_equal(_norm(j.matches()), before)
