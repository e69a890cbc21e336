"""tail: the always-on tail under mor with the engine's default autocompaction.

Set-up builds gold, lands and applies a base, refreshes gold and scans silver
once, untimed, so the loop's plan shapes run warm. Then one WAL client runs
a closed loop: land the next small epoch -> `replay()` -> `update_gold()` ->
`silver_view()` scan -> next epoch. One operation is one such cycle; a run
makes at least MIN_CYCLES of them. The engine applies serially, so the
rate it sustains is the epoch's events over landing start -> `update_gold()`
returns. The final state after the last cycle is checked against the oracle
over every landed event, which covers every cycle.
"""

from __future__ import annotations

import os
import time

import checks
from citibike_pipeline_spark import plans
from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch

BASE_EPOCHS = 1
EVENTS_PER_EPOCH = 10_000
# with one cycle a run, landing -> silver times spread up to 26 % between runs
MIN_CYCLES = 2


def config(seed: int) -> GenConfig:
    return GenConfig(
        n_convs=2_000,
        n_epochs=BASE_EPOCHS,
        events_per_epoch=EVENTS_PER_EPOCH,
        seed=seed,
        # every epoch is schema v2: the catchup workload covers evolution
        evolution_epoch=0,
    )


def run(bench) -> None:
    cfg = config(bench.seed)
    eng = CdcEngine(
        bench.spark, os.path.join(bench.work, "warehouse", "tail"), merge_mode="mor"
    )
    eng.init_tables()
    # gold is first built over the empty table, so that the base's refresh
    # and scan run the incremental and read plans the loop times
    plans.update_gold(eng)
    frames = []
    for e in range(BASE_EPOCHS):
        frames.append(generate_epoch(cfg, e))
        eng.ingest_epoch_pandas(frames[-1], e)
    eng.replay()
    plans.update_gold(eng)
    bench.scan_silver(eng)

    n = 0
    while n < MIN_CYCLES or bench.timed_s < bench.seconds:
        epoch = BASE_EPOCHS + n
        frames.append(generate_epoch(cfg, epoch))
        with bench.op("tail"):
            t0 = time.perf_counter()
            eng.ingest_epoch_pandas(frames[-1], epoch)
            applied = eng.replay()
            t1 = time.perf_counter()
            plans.update_gold(eng)
            t2 = time.perf_counter()
            bench.sample("silver_read_s", bench.scan_silver(eng))
        events = sum(m["events_read"] for m in applied)
        bench.sample("apply_events_per_s", events / (t2 - t0))
        bench.sample("silver_fresh_p50_s", t1 - t0)
        bench.sample("gold_fresh_p50_s", t2 - t0)
        n += 1
    bench.settle(checks.report(checks.check_all(eng, checks.Oracle(frames))), n)
