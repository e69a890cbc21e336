"""Session, timing and result plumbing shared by the workloads."""

from __future__ import annotations

import os
import statistics
import time

import spans as tr


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark process: the Spark session, the timed samples, the
    operation counts and, when traced, the span recorder."""

    def __init__(self, work: str, seed: int, seconds: float, traced: bool,
                 t_process: float):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.t_process = t_process
        self.cores = nproc()
        self.spark = None
        self.t_session = None
        self.t_first_op = None
        self.timed_s = 0.0
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.tracer = tr.NullTracer()
        self._gateway_proc = None

    # -- session -------------------------------------------------------------

    def start(self) -> None:
        from pyspark import SparkContext

        from citibike_pipeline_spark.session import get_spark

        n = self.cores
        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse", "_spark"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.traced:
            logdir = os.path.join(self.work, "eventlog")
            os.makedirs(logdir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + logdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            "cdcbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = getattr(SparkContext._gateway, "proc", None)
        self.t_session = time.time()
        if self.traced:
            self.tracer = tr.Tracer(self.spark, os.path.join(self.work, "eventlog"))
            self.tracer.install()

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        forked) to exit. Safe to call twice."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self._gateway_proc
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- recording -----------------------------------------------------------

    def span(self, name: str, layer: str | None = None):
        return self.tracer.span(name, layer)

    def op(self, kind: str):
        """Context for one timed operation; its wall time counts toward the
        run length."""
        bench = self

        class _Op:
            def __enter__(self):
                if bench.t_first_op is None:
                    bench.t_first_op = time.time()
                self._t0 = time.perf_counter()
                self._span = bench.tracer.span("op." + kind, "op")
                self._span.__enter__()
                return self

            def __exit__(self, *exc):
                self._span.__exit__(*exc)
                bench.timed_s += time.perf_counter() - self._t0
                return False

        return _Op()

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def settle(self, ok: bool, n_ops: int = 1) -> None:
        """Count `n_ops` operations whose outputs a check covered."""
        self.attempted += n_ops
        if not ok:
            self.failed += n_ops
            self.correct = False

    def scan_silver(self, eng) -> float:
        """One full silver_view() scan to the noop sink; returns seconds."""
        t0 = time.perf_counter()
        with self.span("scan.silver_view", "scan"):
            eng.silver_view().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        self.tracer.after_scan(eng)
        return dt

    # -- result --------------------------------------------------------------

    def result(self) -> dict:
        def med(name):
            return statistics.median(self.samples[name])

        setup_s = self.t_first_op - self.t_process
        if self.traced:
            metrics = self.tracer.per_layer(
                cores=self.cores,
                session_s=self.t_session - self.t_process,
                warmup_s=self.t_first_op - self.t_session,
                gold_fresh_s=med("gold_fresh_p50_s"),
            )
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "apply_events_per_s": {"value": med("apply_events_per_s"),
                                       "unit": "events/s"},
                "silver_fresh_p50_s": {"value": med("silver_fresh_p50_s"), "unit": "s"},
                "gold_fresh_p50_s": {"value": med("gold_fresh_p50_s"), "unit": "s"},
                "silver_read_s": {"value": med("silver_read_s"), "unit": "s"},
            }
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
