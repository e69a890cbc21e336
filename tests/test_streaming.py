"""Structured Streaming tail: availableNow replay reaches oracle parity and
restarts idempotently from the stream checkpoint."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_corpus_pandas, generate_epoch
from citibike_pipeline_spark.cdc.oracle import expected_silver
from citibike_pipeline_spark.cdc.schemas import TURN_COLUMNS
from citibike_pipeline_spark.streaming import StreamingTail

CFG = GenConfig(
    n_convs=30, n_epochs=3, events_per_epoch=1200, seed=11, evolution_epoch=1,
    n_hot=1, turns_hot=150, turns_normal=25,
)
COLS = TURN_COLUMNS + ["lsn"]


def silver_pdf(eng):
    out = (
        eng.silver_view().toPandas()
        .sort_values(["conv_id", "turn_idx", "lsn"], kind="mergesort")
        .reset_index(drop=True)
    )
    out["ts"] = out["ts"].astype("datetime64[us]")
    return out[COLS]


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_stream"))
    eng = CdcEngine(spark, wh, n_buckets=4)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
    tail = StreamingTail(eng, max_files_per_trigger=4)
    tail.run_available()
    return eng, tail


def test_streaming_parity(streamed):
    eng, _ = streamed
    want = expected_silver(generate_corpus_pandas(CFG))
    want["ts"] = want["ts"].astype("datetime64[us]")
    pd.testing.assert_frame_equal(
        silver_pdf(eng), want[COLS].reset_index(drop=True), check_dtype=False
    )


def test_streaming_restart_is_noop(streamed):
    eng, tail = streamed
    before = silver_pdf(eng)
    sid = eng.silver.current_snapshot().snapshot_id
    tail.run_available()  # restart on the same checkpoint: nothing new
    assert eng.silver.current_snapshot().snapshot_id == sid
    pd.testing.assert_frame_equal(silver_pdf(eng), before)


def test_stale_source_schema_restarts_and_keeps_evolved_column(spark, tmp_path):
    """An always-on stream captures the bronze schema at query start; files
    landed after a v1->v2 evolution would be read with the STALE schema,
    silently dropping the new column. The tail must detect this, fail the
    uncommitted batch, restart with the re-resolved schema, and converge to
    full parity — no payload loss."""
    from citibike_pipeline_spark.cdc.schemas import EVENT_SCHEMA_V1

    wh = str(tmp_path / "wh_stale")
    eng = CdcEngine(spark, wh, n_buckets=4)
    eng.init_tables()
    # epoch 0 pre-evolution, epochs 1-2 post-evolution (have `tool`)
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)

    tail = StreamingTail(eng, max_files_per_trigger=4)
    # simulate a query that started before the evolution: force the stale
    # v1 source schema; the supervisor must restart with the evolved one
    tail.run_available(_initial_schema=EVENT_SCHEMA_V1)

    want = expected_silver(generate_corpus_pandas(CFG))
    want["ts"] = want["ts"].astype("datetime64[us]")
    pd.testing.assert_frame_equal(
        silver_pdf(eng), want[COLS].reset_index(drop=True), check_dtype=False
    )
    assert eng.silver_view().filter("tool IS NOT NULL").count() > 0


def test_stateful_conv_progress(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: per-conversation
    running aggregates over the WAL stream, upserted into a lake table.
    Final state must equal the batch groupBy over all of bronze, and a
    restart on the same checkpoint must be a no-op."""
    from citibike_pipeline_spark.streaming.stateful import StreamingConvProgress

    wh = str(tmp_path / "wh_stateful")
    eng = CdcEngine(spark, wh, n_buckets=4)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)

    sp = StreamingConvProgress(eng)
    sp.run_available()

    got = {
        r.conv_id: (r.n_events, r.max_lsn, r.n_deletes, r.last_ts)
        for r in sp.progress().collect()
    }
    want = {
        r.conv_id: (r.n_events, r.max_lsn, r.n_deletes, r.last_ts)
        for r in eng.bronze.read_epochs(0, CFG.n_epochs)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("lsn").alias("max_lsn"),
            F.count(F.when(F.col("op") == "D", 1)).alias("n_deletes"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == want

    sid = eng.catalog.load_table(sp.TABLE).current_snapshot().snapshot_id
    sp.run_available()  # restart: stream checkpoint short-circuits
    assert eng.catalog.load_table(sp.TABLE).current_snapshot().snapshot_id == sid
