"""Exactly-once / resume / order-independence tests (FIXTURES.md F4, SURVEY §5.3)."""

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


def new_engine(spark, tmp_path, name) -> CdcEngine:
    eng = CdcEngine(spark, str(tmp_path / name), n_buckets=4)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
    return eng


def test_kill_and_resume_from_checkpoint(spark, tmp_path):
    eng = new_engine(spark, tmp_path, "wh_resume")
    # apply only half the epochs, then "crash" (drop the object)
    eng.replay(to_epoch=1)
    assert eng.checkpoint()["last_epoch"] == 1
    # a brand-new engine instance over the same warehouse resumes
    eng2 = CdcEngine(spark, eng.warehouse, n_buckets=4)
    metrics = eng2.replay(catchup=False)
    assert [m["epoch"] for m in metrics] == [2, 3]
    pd.testing.assert_frame_equal(silver_pdf(eng2), oracle_pdf(), check_dtype=False)


def test_catchup_replay_single_merge_parity(spark, tmp_path):
    """The whole backlog through ONE apply_epochs merge equals the oracle and
    the epoch-at-a-time result."""
    eng = new_engine(spark, tmp_path, "wh_catchup")
    metrics = eng.replay(catchup=True)
    assert len(metrics) == 1 and metrics[0]["epochs"] == list(range(CFG.n_epochs))
    pd.testing.assert_frame_equal(silver_pdf(eng), oracle_pdf(), check_dtype=False)
    # manifests still per (epoch, partition)
    assert len({(r["checkpoint_epoch"], r["partition_id"]) for r in eng.lineage()}) \
        == len(eng.lineage())
    assert {r["checkpoint_epoch"] for r in eng.lineage()} == set(range(CFG.n_epochs))


def test_catchup_after_partial_is_consistent(spark, tmp_path):
    """Half the epochs applied individually, the rest via catch-up — same state."""
    eng = new_engine(spark, tmp_path, "wh_mixed")
    eng.apply_epoch(0)
    eng.apply_epoch(1)
    eng.replay(catchup=True)
    pd.testing.assert_frame_equal(silver_pdf(eng), oracle_pdf(), check_dtype=False)


def test_partial_epoch_manifest_skips_committed_partitions(spark, tmp_path):
    eng = new_engine(spark, tmp_path, "wh_partial")
    eng.replay(to_epoch=0)
    # simulate a partially-committed epoch 1: manifests exist for partitions
    # 0 and 1 but the merge "was lost" — events for those partitions must be
    # skipped on retry, the rest applied
    stats = [
        {"partition_id": 0, "n_events": 0, "min_lsn": 0, "max_lsn": 0},
        {"partition_id": 1, "n_events": 0, "min_lsn": 0, "max_lsn": 0},
    ]
    eng._write_manifests(1, stats, snapshot_id=-1)
    m = eng.apply_epoch(1)
    assert not m["skipped"]
    ev1 = generate_epoch(CFG, 1)
    expected_seen = len(ev1[~ev1["partition_id"].isin([0, 1])])
    assert m["events_read"] == expected_seen


def test_double_apply_same_epoch_is_noop(spark, tmp_path):
    eng = new_engine(spark, tmp_path, "wh_noop")
    eng.replay()
    sid = eng.silver.current_snapshot().snapshot_id
    m = eng.apply_epoch(2)  # re-apply mid-stream epoch
    assert m["skipped"] is True
    assert eng.silver.current_snapshot().snapshot_id == sid


def test_stale_redelivery_cannot_clobber_newer_state(spark, tmp_path):
    """Even with manifests wiped (forcing a raw re-merge), re-applying an OLD
    epoch after newer ones leaves state unchanged — LWW end-to-end idempotence."""
    eng = new_engine(spark, tmp_path, "wh_lww")
    eng.replay()
    before = silver_pdf(eng)
    # wipe epoch-0 manifests to force a genuine re-merge of stale events
    import os

    for fn in os.listdir(eng._manifest_dir):
        if fn.startswith("e000000_"):
            os.remove(os.path.join(eng._manifest_dir, fn))
    m = eng.apply_epoch(0)
    assert m["events_read"] > 0 and not m["skipped"]
    pd.testing.assert_frame_equal(silver_pdf(eng), before)


def test_epoch_order_permutation_parity(spark, tmp_path):
    """Applying epochs in a different order than they were generated still
    converges to the oracle (order-independence across epochs)."""
    eng = CdcEngine(spark, str(tmp_path / "wh_perm"), n_buckets=4)
    eng.init_tables()
    for e in range(CFG.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
    for e in [2, 0, 3, 1]:
        eng.apply_epoch(e)
    pd.testing.assert_frame_equal(silver_pdf(eng), oracle_pdf(), check_dtype=False)


def test_compact_preserves_live_state(spark, tmp_path):
    eng = new_engine(spark, tmp_path, "wh_compact")
    eng.replay()
    before = silver_pdf(eng)
    n_tomb = eng.silver.read().filter("op = 'D'").count()
    assert n_tomb > 0

    # no watermark -> tombstones RETAINED (a purge without a redelivery
    # bound could let a late old-LSN event resurrect a deleted key)
    eng.compact()
    pd.testing.assert_frame_equal(silver_pdf(eng), before)
    assert eng.silver.read().filter("op = 'D'").count() == n_tomb

    # watermark below some tombstones -> only the safe prefix is purged
    mid = eng.silver.read().filter("op = 'D'").agg({"lsn": "avg"}).collect()[0][0]
    eng.compact(watermark_lsn=int(mid))
    left = eng.silver.read().filter("op = 'D'")
    assert 0 < left.count() < n_tomb
    assert left.filter(f"lsn <= {int(mid)}").count() == 0
    pd.testing.assert_frame_equal(silver_pdf(eng), before)

    # watermark above every lsn -> all tombstones gone, live state intact
    eng.compact(watermark_lsn=10**15)
    pd.testing.assert_frame_equal(silver_pdf(eng), before)
    assert eng.silver.read().filter("op = 'D'").count() == 0


def test_lineage_df_queryable(spark, tmp_path):
    eng = new_engine(spark, tmp_path, "wh_lineage")
    eng.replay()
    ldf = eng.lineage_df()
    assert ldf.count() > 0
    agg = ldf.groupBy("checkpoint_epoch").count().collect()
    assert len(agg) == CFG.n_epochs


def test_late_landing_epoch_below_checkpoint_is_replayed(spark, tmp_path):
    """A WAL epoch directory that lands AFTER a later epoch was already
    applied (out-of-order landing) must still be replayed: pending-ness is
    manifest-derived, not checkpoint-derived, so nothing below the
    checkpoint can be silently lost."""
    eng = CdcEngine(spark, str(tmp_path / "wh_gap"), n_buckets=4)
    eng.init_tables()
    # land epochs 0, 2, 3 — epoch 1 is delayed
    for e in [0, 2, 3]:
        eng.ingest_epoch_pandas(generate_epoch(CFG, e), e)
    eng.replay()
    assert eng.checkpoint()["last_epoch"] == 3

    # epoch 1 lands late, below the checkpoint
    eng.ingest_epoch_pandas(generate_epoch(CFG, 1), 1)
    metrics = eng.replay(catchup=False)
    assert [m["epoch"] for m in metrics] == [1]
    # checkpoint never regresses
    assert eng.checkpoint()["last_epoch"] == 3
    # final state equals the full-corpus oracle (LWW order-independence)
    pd.testing.assert_frame_equal(silver_pdf(eng), oracle_pdf(), check_dtype=False)
    # and a further replay is a no-op
    assert eng.replay() == []


def test_crash_between_snapshot_commit_and_manifest_write(spark, tmp_path):
    """The exactly-once story's hard case: the silver snapshot committed but
    the process died BEFORE writing commit manifests. On restart the epoch
    looks pending and is re-applied — the LWW resolver must make that a
    semantic no-op (every redelivered event loses to the state it already
    produced), landing on the same oracle state."""
    import os

    eng = new_engine(spark, tmp_path, "wh_crash")
    eng.replay(catchup=False)
    want = silver_pdf(eng)

    # simulate the torn commit: wipe epoch 3's manifests (post-snapshot,
    # pre-manifest crash) and rewind the checkpoint pointer
    for fn in os.listdir(eng._manifest_dir):
        if fn.startswith("e000003"):
            os.remove(os.path.join(eng._manifest_dir, fn))
    from citibike_pipeline_spark.lake import fs
    fs.write_json_atomic(eng._checkpoint_file, {"last_epoch": 2, "snapshot_id": 0})

    eng2 = CdcEngine(spark, eng.warehouse, n_buckets=4)
    metrics = eng2.replay(catchup=False)
    assert [m["epoch"] for m in metrics] == [3]
    assert metrics[0]["events_read"] > 0  # genuinely re-applied, not skipped
    pd.testing.assert_frame_equal(silver_pdf(eng2), want)
    pd.testing.assert_frame_equal(silver_pdf(eng2), oracle_pdf(), check_dtype=False)
    # manifests restored; a further replay is a clean no-op
    assert eng2.replay() == []


def test_landing_bucket_stats_skip_touched_collect(spark, tmp_path):
    """Steady-state merges derive touched buckets from WAL landing stats:
    zero distinct+collect seconds, buckets_precomputed set, parity intact."""
    eng = new_engine(spark, tmp_path, "wh_landing_buckets")
    metrics = [m for m in (eng.apply_epoch(e) for e in range(CFG.n_epochs))
               if not m["skipped"]]
    assert metrics, "no epochs applied"
    for m in metrics:
        assert m["buckets_precomputed"] is True
        assert m["sec_touched_collect"] == 0.0
        assert m["buckets_touched"] > 0
    # the landing record carries the bucket set + the spec it was hashed for
    rec = eng.bronze.epoch_stats(0)
    snap = eng.silver.current_snapshot()
    assert rec["bucket_spec"] == {"cols": list(snap.bucket_cols),
                                  "n": snap.n_buckets}
    assert rec["buckets"] == sorted(set(rec["buckets"]))
    assert all(0 <= b < snap.n_buckets for b in rec["buckets"])
    assert silver_pdf(eng).equals(oracle_pdf())


def test_spec_mismatch_falls_back_to_collect(spark, tmp_path):
    """Landing stats hashed for a different bucket spec must be ignored
    (fallback to the merge's own distinct+collect), never misprune."""
    eng = new_engine(spark, tmp_path, "wh_landing_fallback")
    # corrupt the recorded spec to simulate a re-bucketed silver
    import json, os
    p = os.path.join(eng.bronze.path, "epoch=0", "_stats.json")
    rec = json.loads(open(p).read())
    rec["bucket_spec"]["n"] = rec["bucket_spec"]["n"] * 2
    open(p, "w").write(json.dumps(rec))
    assert eng._buckets_from_landing([0]) is None
    m = eng.apply_epoch(0)
    assert m["buckets_precomputed"] is False
    eng.replay()
    assert silver_pdf(eng).equals(oracle_pdf())


def test_legacy_salted_warehouse_still_applies(spark, tmp_path):
    """A warehouse written before the per-bucket write salt was removed:
    silver's manifest carries "write_salt": 4 over several files per bucket,
    and the landing record carries a "top_convs" list. Reads return the same
    rows, the next epoch still applies with landing-time buckets, and its
    commit drops the key and writes one file per touched bucket."""
    import json
    import os
    import uuid
    from collections import Counter

    from pyspark.sql import functions as F

    from citibike_pipeline_spark.lake import fs
    from citibike_pipeline_spark.lake.table import BUCKET_COL, bucket_expr

    eng = new_engine(spark, tmp_path, "wh_legacy_salt")
    eng.apply_epoch(0)
    silver = eng.silver
    snap = silver.current_snapshot()
    before = sorted(silver.read().collect())

    # rewrite silver the way the salted writer laid it out: repartition on
    # (bucket, hash(key) pmod 4), so a bucket spans several files
    out = os.path.join(silver.path, "data", uuid.uuid4().hex)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in snap.key_cols]), F.lit(4))
    (silver.read()
     .withColumn(BUCKET_COL, bucket_expr(snap.bucket_cols, snap.n_buckets))
     .repartition(16, F.col(BUCKET_COL), salt)
     .write.partitionBy(BUCKET_COL).parquet(out))
    files = [
        {"path": os.path.relpath(os.path.join(out, d, fn), silver.path),
         "bucket": int(d.split("=")[1])}
        for d in os.listdir(out) if d.startswith(f"{BUCKET_COL}=")
        for fn in os.listdir(os.path.join(out, d)) if fn.endswith(".parquet")
    ]
    assert max(Counter(f["bucket"] for f in files).values()) >= 2
    legacy = json.loads(snap.child(files, {"operation": "overwrite"}).to_json())
    legacy["write_salt"] = 4
    name = f"v{legacy['snapshot_id']:09d}"
    fs.write_text(os.path.join(silver.path, "snapshots", f"{name}.json"),
                  json.dumps(legacy))
    fs.replace_text(os.path.join(silver.path, "VERSION"), name)

    stats = os.path.join(eng.bronze.path, "epoch=1", "_stats.json")
    rec = fs.read_json(stats)
    rec["top_convs"] = [{"conv_id": "conv_00000", "n": 1}]
    fs.write_json_atomic(stats, rec)

    assert sorted(eng.silver.read().collect()) == before
    m = eng.apply_epoch(1)
    assert m["buckets_precomputed"] is True

    head = eng.silver.current_snapshot()
    raw = json.loads(fs.read_text(os.path.join(
        silver.path, "snapshots", f"v{head.snapshot_id:09d}.json")))
    assert "write_salt" not in raw
    touched = set(raw["summary"]["buckets"])
    assert len(touched) == m["buckets_touched"] > 0
    per_bucket = Counter(f["bucket"] for f in raw["files"] if f["bucket"] in touched)
    assert set(per_bucket) == touched and set(per_bucket.values()) == {1}

    eng.replay(catchup=False)
    assert silver_pdf(eng).equals(oracle_pdf())


def test_metrics_and_lineage_tables(spark, tmp_path):
    """North-star observability surface: per-partition lineage and per-apply
    metrics are queryable DataFrames covering every apply, including
    catch-up entries."""
    from citibike_pipeline_spark.cdc import CdcEngine
    from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch

    cfg = GenConfig(n_convs=20, n_epochs=3, events_per_epoch=500, seed=5,
                    evolution_epoch=1)
    eng = CdcEngine(spark, str(tmp_path / "wh_obs"), n_buckets=4)
    eng.init_tables()
    for e in range(cfg.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(cfg, e), e)
    eng.replay()  # one catch-up apply over all three epochs

    m = eng.metrics_df().toPandas()
    assert len(m) == 1 and int(m.epoch.iloc[0]) == cfg.n_epochs - 1
    assert int(m.events_read.iloc[0]) > 0 and not m.skipped.iloc[0]
    assert (m.events_per_sec > 0).all()

    lin = eng.lineage_df().toPandas()
    # one manifest per (epoch, source partition)
    assert set(lin.checkpoint_epoch) == set(range(cfg.n_epochs))
    assert (lin.groupby("checkpoint_epoch").partition_id.nunique() > 0).all()
    assert (lin.n_events > 0).all() and (lin.min_lsn <= lin.max_lsn).all()

    # a single-epoch apply_epoch writes the same record shape as the
    # catch-up apply_epochs above, and metrics_df gains one row with its epoch
    nxt = cfg.n_epochs
    eng.ingest_epoch_pandas(generate_epoch(cfg, nxt), nxt)
    single = eng.apply_epoch(nxt)
    recs = [r for r in eng.metrics() if "events_read" in r]
    assert [r["epochs"] for r in recs] == [list(range(cfg.n_epochs)), [nxt]]
    assert recs[1] == single
    for rec in recs:
        assert rec["epoch"] == max(rec["epochs"]) and not rec["skipped"]
        assert rec["buckets_precomputed"] is True
        assert rec["sec_touched_collect"] == 0.0
        assert {"landing_stats", "merge"} <= set(rec["phases"])
    m = eng.metrics_df().toPandas()
    assert [int(e) for e in m.epoch] == [cfg.n_epochs - 1, nxt]
