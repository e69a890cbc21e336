"""CDC replay driver — the engine's spark-submit entrypoint.

Usage (north-rule launch mode)::

    zip -r engine.zip citibike_pipeline_spark
    spark-submit --master local[32] --py-files engine.zip replay.py \
        --warehouse /tmp/wh --convs 1000 --epochs 8 --events-per-epoch 50000 \
        [--from-checkpoint]   # resume instead of fresh init

Generates the deterministic WAL corpus (seeded), lands it in bronze, replays
every epoch through the silver MERGE path, rebuilds gold, verifies final-state
parity against the independent pandas oracle, and prints one JSON line with
throughput — the BASELINE.md measurement protocol.
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", default="/tmp/cdc_warehouse")
    ap.add_argument("--convs", type=int, default=1000)
    ap.add_argument("--epochs", type=int, default=8)
    ap.add_argument("--events-per-epoch", type=int, default=50_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--evolution-epoch", type=int, default=None,
                    help="epoch at which the v2 (tool) schema appears; defaults to "
                         "epochs//2. Pin it explicitly when resuming with a larger "
                         "--epochs so the generated corpus stays identical.")
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--merge-mode", choices=["cow", "mor"], default="cow",
                    help="cow = copy-on-write MERGE that rewrites the touched "
                         "buckets (default); mor = merge-on-read delta append, "
                         "LWW winners resolved at read time until compaction "
                         "folds the deltas")
    ap.add_argument("--day-partition", action="store_true",
                    help="full-width silver layout: days(ts) x bucket(conv_id) "
                         "(the 10^10-row spec; small-file pressure at toy scale)")
    ap.add_argument("--streaming", action="store_true",
                    help="apply the landed epochs through the Structured "
                         "Streaming tail (readStream -> foreachBatch, same LWW "
                         "merge) instead of the batch replay")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--from-checkpoint", action="store_true",
                    help="resume from the existing warehouse checkpoint")
    ap.add_argument("--skip-parity", action="store_true",
                    help="skip the oracle parity check (pure throughput run)")
    ap.add_argument("--skip-gold", action="store_true")
    ap.add_argument("--full-gold", action="store_true",
                    help="force a full gold rebuild instead of the incremental refresh")
    args = ap.parse_args()

    from citibike_pipeline_spark.session import get_spark
    from citibike_pipeline_spark.cdc import CdcEngine
    from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch, generate_corpus_pandas
    from citibike_pipeline_spark.cdc.oracle import expected_silver
    from citibike_pipeline_spark.plans import update_gold

    spark = get_spark("cdc-replay", shuffle_partitions=args.shuffle_partitions)
    cores = spark.sparkContext.defaultParallelism

    cfg = GenConfig(
        n_convs=args.convs,
        n_epochs=args.epochs,
        events_per_epoch=args.events_per_epoch,
        seed=args.seed,
        evolution_epoch=(
            args.evolution_epoch
            if args.evolution_epoch is not None
            else max(args.epochs // 2, 1)
        ),
    )
    def build_engine():
        return CdcEngine(
            spark, args.warehouse, n_buckets=args.n_buckets,
            merge_mode=args.merge_mode, day_partition=args.day_partition,
        )

    eng = build_engine()

    if not args.from_checkpoint:
        shutil.rmtree(args.warehouse, ignore_errors=True)
        eng = build_engine()
        eng.init_tables()
        t_gen = time.time()
        for e in range(cfg.n_epochs):
            eng.ingest_epoch_pandas(generate_epoch(cfg, e), e)
        gen_sec = time.time() - t_gen
    else:
        # resume: land only epochs the WAL hasn't delivered yet (idempotent) —
        # rerunning with a larger --epochs simulates new WAL arriving while
        # the engine was down, exercising catch-up + incremental gold
        t_gen = time.time()
        landed = set(eng.bronze.epochs())
        for e in range(cfg.n_epochs):
            if e not in landed:
                eng.ingest_epoch_pandas(generate_epoch(cfg, e), e)
        gen_sec = time.time() - t_gen

    if args.streaming:
        # Structured Streaming tail: file-source discovery + foreachBatch
        # through the SAME LWW merge; exactly-once via the stream checkpoint
        # + batch-id manifests (a rerun is a no-op). The event count (the
        # whole landed backlog on a fresh run; previously-applied batches
        # re-deliver as no-ops on resume, so a resumed run reports 0) is
        # measured BEFORE the timer so the counting scan never pollutes the
        # headline events/sec.
        from citibike_pipeline_spark.streaming import StreamingTail

        metrics = []
        events = (
            0
            if args.from_checkpoint
            else int(eng.bronze.read_epochs(0, cfg.n_epochs).count())
        )
        n_applied = cfg.n_epochs if events else 0
        t0 = time.time()
        StreamingTail(eng).run_available()
        replay_sec = time.time() - t0
    else:
        t0 = time.time()
        metrics = eng.replay()
        replay_sec = time.time() - t0
        events = sum(m.get("events_read", 0) for m in metrics)
        n_applied = len(metrics)

    gold_counts, gold_mode = {}, None
    t_gold = time.time()
    if not args.skip_gold:
        # update_gold tracks its own consumed-epoch checkpoint, so it heals
        # any gap silver has opened (earlier --skip-gold runs, crash between
        # replay and refresh) and no-ops when already current. The streaming
        # tail commits per-BATCH (not per-epoch) manifests, so its gold
        # refresh is a full rebuild off the streamed silver.
        info = update_gold(eng, full=args.full_gold or args.streaming)
        gold_counts, gold_mode = info["counts"], info["mode"]
    gold_sec = time.time() - t_gold

    parity = None
    if not args.skip_parity:
        got = (
            eng.silver_view()
            .toPandas()
            .sort_values(["conv_id", "turn_idx", "lsn"], kind="mergesort")
            .reset_index(drop=True)
        )
        want = expected_silver(generate_corpus_pandas(cfg))
        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]
        got = got[cols].reset_index(drop=True)
        want = want[cols].reset_index(drop=True)
        # normalize timestamp resolution (Arrow ns vs generator us)
        got["ts"] = got["ts"].astype("datetime64[us]")
        want["ts"] = want["ts"].astype("datetime64[us]")
        parity = bool(len(got) == len(want) and got.equals(want))

    print(
        json.dumps(
            {
                "metric": "change_events_per_sec",
                "value": round(events / replay_sec, 1) if replay_sec else None,
                "unit": "events/sec",
                "events_applied": events,
                "replay_sec": round(replay_sec, 2),
                "generate_sec": round(gen_sec, 2),
                "epochs": n_applied,
                "cores": cores,
                "parity": parity,
                "silver_rows": int(eng.silver_view().count()),
                "gold": gold_counts,
                "gold_mode": gold_mode,
                "gold_sec": round(gold_sec, 2),
                "checkpoint": eng.checkpoint(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
