"""End-to-end replay + gold refresh at the full-width layout (r3 verdict #9).

The 10^10-row partition spec — days(ts) × bucket(conv_id) at n_buckets=1024
— was pruning-TESTED (tests/test_scale_knobs.py) but never driven end-to-end
at a real file count. This harness replays a multi-epoch corpus epoch-at-a-
time (the steady-state tail mode) with incremental gold refreshes on that
spec and records, per epoch: apply wall, gold wall, silver files/manifest
bytes — the metadata-blowup check — plus a day-pruned and a full read at the
final file count.

Usage: python BENCH/wide_layout.py  → one JSON line
Env: WIDE_EPOCHS (6), WIDE_EVENTS (100000), WIDE_CPUS (8)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch
from citibike_pipeline_spark.plans.gold import update_gold
from citibike_pipeline_spark.session import get_spark


def snapshot_stats(eng: CdcEngine) -> dict:
    snap = eng.silver.current_snapshot()
    mpath = os.path.join(
        eng.silver.path, "snapshots", f"v{snap.snapshot_id:09d}.json"
    )
    return {
        "files": len(snap.files),
        "days": len({f.get("day") for f in snap.files}),
        "manifest_bytes": os.path.getsize(mpath),
    }


def build(spark, wh: str, cfg: GenConfig) -> CdcEngine:
    shutil.rmtree(wh, ignore_errors=True)
    eng = CdcEngine(spark, wh, n_buckets=1024, day_partition=True)
    eng.init_tables()
    return eng


def drive(eng: CdcEngine, cfg: GenConfig) -> list[dict]:
    per_epoch = []
    for e in range(cfg.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(cfg, e), e)
        t0 = time.time()
        metrics = eng.replay(catchup=False)
        apply_sec = time.time() - t0
        t0 = time.time()
        ginfo = update_gold(eng)
        gold_sec = time.time() - t0
        per_epoch.append({
            "epoch": e,
            "events": sum(m.get("events_read", 0) for m in metrics),
            "buckets_touched": max(
                (m.get("buckets_touched", 0) for m in metrics), default=0
            ),
            "apply_sec": round(apply_sec, 2),
            "gold_sec": round(gold_sec, 2),
            "gold_mode": ginfo.get("mode"),
            **snapshot_stats(eng),
        })
    return per_epoch


def main() -> None:
    epochs = int(os.environ.get("WIDE_EPOCHS", "6"))
    per_epoch_events = int(os.environ.get("WIDE_EVENTS", "100000"))
    cpus = int(os.environ.get("WIDE_CPUS", "8"))
    spark = get_spark("wide_layout", master=f"local[{cpus}]", shuffle_partitions=cpus)
    cfg = GenConfig(
        n_convs=max(per_epoch_events // 50, 100), n_epochs=epochs,
        events_per_epoch=per_epoch_events, evolution_epoch=epochs // 2,
    )

    # untimed warm pass (codegen JIT) on a small corpus, same spec
    warm_cfg = GenConfig(n_convs=100, n_epochs=2, events_per_epoch=5000,
                         evolution_epoch=1)
    drive(build(spark, "/tmp/wide_layout_warm", warm_cfg), warm_cfg)
    shutil.rmtree("/tmp/wide_layout_warm", ignore_errors=True)

    eng = build(spark, "/tmp/wide_layout_wh", cfg)
    per_epoch = drive(eng, cfg)

    # read-side at the final file count: full scan vs one-day manifest prune
    days = sorted({f["day"] for f in eng.silver.current_snapshot().files if f.get("day")})
    t0 = time.time()
    total_rows = eng.silver_view().count()
    full_read_sec = time.time() - t0
    mid = days[len(days) // 2]
    t0 = time.time()
    day_rows = eng.silver.read(days=(mid, mid)).count()
    day_read_sec = time.time() - t0

    out = {
        "metric": "wide_layout_e2e",
        "n_buckets": 1024,
        "day_partition": True,
        "cores": cpus,
        "events_total": sum(p["events"] for p in per_epoch),
        "per_epoch": per_epoch,
        "final_files": per_epoch[-1]["files"],
        "final_manifest_kb": round(per_epoch[-1]["manifest_bytes"] / 1024, 1),
        "silver_rows": int(total_rows),
        "full_read_sec": round(full_read_sec, 2),
        "one_day_read_sec": round(day_read_sec, 2),
        "one_day_rows": int(day_rows),
        "n_days": len(days),
    }
    print(json.dumps(out))
    shutil.rmtree("/tmp/wide_layout_wh", ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
