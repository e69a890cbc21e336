"""catchup: resume after downtime under cow, the engine's default merge mode.

Set-up builds gold over the empty table, lands a base of two schema-v1
epochs and applies it with one `replay()` (the same `apply_epochs` merge the
operations time), refreshes gold incrementally and scans silver once, all
untimed, so the timed plan shapes run warm. Then it lands a backlog that
holds the schema-evolution epoch, redeliveries, LSN ties, delete->reinsert
and the hot-conversation head. One operation restores a fresh copy of that
pre-catch-up warehouse (untimed), then times one `replay()` that drains the
whole backlog in one merge, the incremental `update_gold()` and full
`silver_view()` scans; its outputs are then checked against the oracle.
"""

from __future__ import annotations

import os
import shutil
import time

import checks
from citibike_pipeline_spark import plans
from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch

BASE_EPOCHS = 2
BACKLOG_EPOCHS = 3
EVENTS_PER_EPOCH = 25_000
SCANS_PER_OP = 3


def config(seed: int) -> GenConfig:
    return GenConfig(
        n_convs=2_000,
        n_epochs=BASE_EPOCHS + BACKLOG_EPOCHS,
        events_per_epoch=EVENTS_PER_EPOCH,
        seed=seed,
        # the second backlog epoch is the first schema-v2 epoch
        evolution_epoch=BASE_EPOCHS + 1,
    )


def run(bench) -> None:
    cfg = config(bench.seed)
    frames = [generate_epoch(cfg, e) for e in range(cfg.n_epochs)]
    oracle = checks.Oracle(frames)

    template = os.path.join(bench.work, "warehouse", "pre_catchup")
    eng = CdcEngine(bench.spark, template)
    eng.init_tables()
    # gold is first built over the empty table, so that the base's refresh
    # and scan run the incremental and read plans the operations time
    plans.update_gold(eng)
    for e in range(BASE_EPOCHS):
        eng.ingest_epoch_pandas(frames[e], e)
    eng.replay()
    plans.update_gold(eng)
    bench.scan_silver(eng)
    for e in range(BASE_EPOCHS, cfg.n_epochs):
        eng.ingest_epoch_pandas(frames[e], e)

    n = 0
    while n == 0 or bench.timed_s < bench.seconds:
        wh = os.path.join(bench.work, "warehouse", f"rep{n}")
        shutil.copytree(template, wh)
        eng = CdcEngine(bench.spark, wh)
        with bench.op("catchup"):
            t0 = time.perf_counter()
            applied = eng.replay()
            t1 = time.perf_counter()
            plans.update_gold(eng)
            t2 = time.perf_counter()
            for _ in range(SCANS_PER_OP):
                bench.sample("silver_read_s", bench.scan_silver(eng))
        events = sum(m["events_read"] for m in applied)
        bench.sample("apply_events_per_s", events / (t1 - t0))
        bench.sample("silver_fresh_p50_s", t1 - t0)
        bench.sample("gold_fresh_p50_s", t2 - t0)
        bench.settle(checks.report(checks.check_all(eng, oracle)))
        shutil.rmtree(wh, ignore_errors=True)
        n += 1
