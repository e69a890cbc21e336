"""One benchmark command for the CDC engine.

    python3 cdcbench/run.py --workload catchup|tail --seed N --seconds S --trace 0|1

Run from the root of a checkout. Every run is one process at local[nproc]
with the settings pinned in `pin_environment` (see README.md). The last line
of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, timed with no
instrumentation installed. With --trace 1 the same workload runs with span
wrappers and the Spark event log on, and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin_environment(work: str) -> None:
    """Everything a run reads or writes stays under `work` in the checkout;
    Python workers import the package from the checkout root."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the session factory defaults to 32g; the benchmark host has 15 GiB
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["SPARK_UI"] = "false"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["catchup", "tail"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # fails here, before any JVM starts, when the program is absent
    import citibike_pipeline_spark  # noqa: F401

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    pin_environment(work)

    import common

    bench = common.Bench(
        work=work, seed=args.seed, seconds=args.seconds,
        traced=bool(args.trace), t_process=T_PROCESS,
    )
    try:
        bench.start()
        if args.workload == "catchup":
            import catchup as wl
        else:
            import tail as wl
        wl.run(bench)
        bench.stop()
        result = bench.result()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
