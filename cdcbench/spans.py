"""Spans around the program's public entry points, for the traced run.

`Tracer.install()` wraps the layer entry points from outside the program:

- `CdcEngine.ingest_epoch_pandas` (bronze landing), `replay`, `apply_epoch`,
  `apply_epochs`, `maybe_autocompact`;
- `lake.merge.merge_into` and `replace_groups`, patched where callers look
  them up (`cdc.engine` imports `merge_into` by name);
- `LakeTable.replace_buckets`, `append`, `overwrite`, `add_columns`;
- `plans.update_gold`.

Each call records a span (name, start, end, parent, run id) and tags the
Spark jobs it starts with the span id as job group. After the session stops,
the Spark event log attributes task run time, GC time, shuffle bytes and
records to spans. A span's layer self time is its duration minus the part
its descendants of other layers cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
import uuid

LAKE_LAYERS = ("merge", "table")


class NullTracer:
    """Untraced runs: nothing is wrapped and no span is recorded."""

    def span(self, name, layer=None):
        return contextlib.nullcontext()

    def after_scan(self, eng) -> None:
        pass


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "op")

    def __init__(self, sid, name, layer, parent, op):
        self.id, self.name, self.layer, self.parent, self.op = sid, name, layer, parent, op
        self.start = time.time()
        self.end = None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _files(snap) -> dict[str, int]:
    return {f["path"]: int(f.get("rows") or 0) for f in snap.files}


def _meta_listing(root: str) -> dict[str, int]:
    out = {}
    for d, _, fns in os.walk(os.path.join(root, "_meta")):
        for fn in fns:
            p = os.path.join(d, fn)
            out[p] = os.stat(p).st_mtime_ns
    return out


class Tracer:
    def __init__(self, spark, eventlog_dir: str):
        self.sc = spark.sparkContext
        self.eventlog_dir = eventlog_dir
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        # (op span id or None, metric name, value) recorded next to spans
        self.counts: list[tuple[str | None, str, float]] = []

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self.stack[-1] if self.stack else None
        op = parent.op if parent is not None else None
        sp = Span(f"{self.run_id}-{len(self.spans)}", name, layer or name.split(".")[0],
                  parent.id if parent else None, op)
        if layer == "op":
            sp.op = sp.id
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self.stack[-1].id if self.stack else None
            )

    def count(self, name: str, value: float) -> None:
        op = self.stack[-1].op if self.stack else None
        self.counts.append((op, name, float(value)))

    def _wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # counter reads happen outside the span, so they add no span time
            pre = before(*args) if before else None
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after:
                after(pre, out, *args)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from citibike_pipeline_spark import lake, plans
        from citibike_pipeline_spark.cdc import engine as engine_mod
        from citibike_pipeline_spark.lake import merge as merge_mod
        from citibike_pipeline_spark.lake.table import LakeTable
        from citibike_pipeline_spark.plans import gold as gold_mod

        E = engine_mod.CdcEngine
        self._wrap(E, "ingest_epoch_pandas", "bronze.land", after=self._after_land)
        self._wrap(E, "replay", "engine.replay",
                   before=self._before_replay, after=self._after_replay)
        self._wrap(E, "apply_epoch", "engine.apply_epoch")
        self._wrap(E, "apply_epochs", "engine.apply_epochs")
        self._wrap(E, "maybe_autocompact", "engine.compact")
        for name in ("merge_into", "replace_groups"):
            self._wrap(merge_mod, name, "merge." + name)
            wrapped = getattr(merge_mod, name)
            setattr(lake, name, wrapped)
        engine_mod.merge_into = merge_mod.merge_into
        for name in ("replace_buckets", "append", "overwrite", "add_columns"):
            self._wrap(LakeTable, name, "table." + name)
        self._wrap(gold_mod, "update_gold", "gold.update_gold", after=self._after_gold)
        plans.update_gold = gold_mod.update_gold

    # -- counters read around the wrapped calls --------------------------------

    def _after_land(self, _pre, _out, eng, pdf, epoch) -> None:
        d = os.path.join(eng.bronze.path, f"epoch={epoch}")
        sizes = [os.path.getsize(os.path.join(d, f))
                 for f in os.listdir(d) if f.endswith(".parquet")]
        self.count("bronze.files_per_epoch", len(sizes))
        self.count("bronze.bytes_per_event", sum(sizes) / max(len(pdf), 1))

    def _before_replay(self, eng, *_):
        silver = eng.silver
        return silver.current_snapshot(), _meta_listing(eng.warehouse)

    def _after_replay(self, pre, out, eng, *_) -> None:
        snap0, meta0 = pre
        silver = eng.silver
        snap1 = silver.current_snapshot()
        f0, f1 = _files(snap0), _files(snap1)
        added = [p for p in f1 if p not in f0]
        removed = [p for p in f0 if p not in f1]
        events = sum(m.get("events_read", 0) for m in out)
        rows_added = sum(f1[p] for p in added)
        self.count("dedup.rows_in", events + sum(f0[p] for p in removed))
        self.count("dedup.rows_out", rows_added)
        self.count("table.commits_per_apply", snap1.snapshot_id - snap0.snapshot_id)
        data_commits, s = 0, snap1
        while s is not None and s.snapshot_id > snap0.snapshot_id:
            if s.summary.get("operation") != "add_columns":
                data_commits += 1
            s = silver.get_snapshot(s.parent_id) if s.parent_id is not None else None
        if data_commits:
            self.count("table.files_per_commit", len(added) / data_commits)
        if rows_added:
            nbytes = sum(os.path.getsize(os.path.join(silver.path, p)) for p in added)
            self.count("table.bytes_per_row", nbytes / rows_added)
        meta1 = _meta_listing(eng.warehouse)
        self.count("engine.meta_files_written",
                   sum(1 for p, m in meta1.items() if meta0.get(p) != m))
        self.count("engine.delta_depth_max", eng.mor_delta_depth())

    def _after_gold(self, _pre, out, eng, *_) -> None:
        self.count("gold.buckets_touched", sum(out.get("buckets_touched", {}).values()))

    def after_scan(self, eng) -> None:
        snap = eng.silver.current_snapshot()
        self.count("table.files_scanned", len(snap.files) + len(snap.delete_files))

    # -- event log -------------------------------------------------------------

    def _read_eventlog(self):
        """job id -> span id, and per-stage task totals keyed by the span
        that started the stage's first job."""
        job_span: dict[int, str | None] = {}
        stage_job: dict[int, int] = {}
        stages: dict[int, dict] = {}
        (name,) = [f for f in os.listdir(self.eventlog_dir) if not f.startswith(".")]
        with open(os.path.join(self.eventlog_dir, name)) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line[:60]:
                    ev = json.loads(line)
                    job_span[ev["Job ID"]] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    for s in ev["Stage IDs"]:
                        stage_job.setdefault(s, ev["Job ID"])
                elif '"SparkListenerTaskEnd"' in line[:60]:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_ms": 0, "gc_ms": 0, "in_rec": 0,
                        "sh_w_bytes": 0, "sh_r_rec": 0})
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["in_rec"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["sh_w_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["sh_r_rec"] += sr.get("Total Records Read", 0)
        for sid, st in stages.items():
            st["span"] = job_span.get(stage_job.get(sid))
        return job_span, stages

    # -- per-layer metrics -----------------------------------------------------

    def per_layer(self, cores: int, session_s: float, warmup_s: float,
                  gold_fresh_s: float) -> dict:
        job_span, stages = self._read_eventlog()
        by_id = {s.id: s for s in self.spans}
        children: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent:
                children.setdefault(s.parent, []).append(s)

        def subtree(sp):
            out, todo = [], [sp]
            while todo:
                x = todo.pop()
                out.append(x)
                todo.extend(children.get(x.id, ()))
            return out

        def layer_self(sp):
            cover = [(d.start, d.end) for d in subtree(sp)[1:] if d.layer in LAKE_LAYERS]
            return (sp.end - sp.start) - _union_len(cover)

        ops = [s for s in self.spans if s.layer == "op"]
        per_op: dict[str, list[float]] = {}

        def put(name, value):
            per_op.setdefault(name, []).append(value)

        uncovered = wall = busy_ms = 0.0
        for op in ops:
            tree = subtree(op)
            ids = {s.id for s in tree}
            d = op.end - op.start
            wall += d
            kids = [(c.start, c.end) for c in children.get(op.id, ())]
            uncovered += d - _union_len(kids)

            def total(prefix):
                """Time in the outermost spans whose name starts with prefix."""
                return sum(
                    s.end - s.start for s in tree
                    if s.name.startswith(prefix)
                    and not by_id[s.parent].name.startswith(prefix)
                )

            replays = [s for s in tree if s.name == "engine.replay"]
            put("engine.replay_s", total("engine.replay"))
            put("engine.replay_self_s", sum(layer_self(s) for s in replays))
            put("engine.compact_s", total("engine.compact"))
            put("merge.merge_s", total("merge."))
            put("merge.replace_groups_s", total("merge.replace_groups"))
            put("merge.merge_into_calls",
                sum(1 for s in tree if s.name == "merge.merge_into"))
            put("table.write_s", total("table."))
            put("gold.refresh_s", total("gold.update_gold"))

            gold_ids = {x.id for s in tree if s.name == "gold.update_gold" for x in subtree(s)}
            replay_ids = {x.id for s in replays for x in subtree(s)}
            put("gold.jobs_per_refresh", sum(1 for j, g in job_span.items() if g in gold_ids))
            op_stages = [st for st in stages.values() if st["span"] in ids]
            rp = [st for st in stages.values() if st["span"] in replay_ids]
            put("dedup.shuffle_bytes",
                sum(st["sh_w_bytes"] for st in rp if st["in_rec"] > 0))
            put("table.write_shuffle_bytes",
                sum(st["sh_w_bytes"] for st in rp if st["in_rec"] == 0 and st["sh_r_rec"] > 0))
            put("spark.jobs", sum(1 for j, g in job_span.items() if g in ids))
            put("spark.tasks", sum(st["tasks"] for st in op_stages))
            put("spark.gc_s", sum(st["gc_ms"] for st in op_stages) / 1000.0)
            run_ms = sum(st["run_ms"] for st in op_stages)
            busy_ms += run_ms

        metrics = {name: statistics.median(v) for name, v in per_op.items()}
        # counters read around the timed operations' calls; bronze landings
        # count wherever they happen (the catch-up backlog lands in set-up)
        for name in ("dedup.rows_in", "dedup.rows_out", "table.commits_per_apply",
                     "engine.meta_files_written", "gold.buckets_touched",
                     "table.files_per_commit", "table.bytes_per_row",
                     "table.files_scanned"):
            metrics[name] = statistics.median(
                v for op, n, v in self.counts if n == name and op is not None)
        for name in ("bronze.files_per_epoch", "bronze.bytes_per_event"):
            metrics[name] = statistics.median(v for _, n, v in self.counts if n == name)
        metrics["engine.delta_depth_max"] = max(
            v for _, n, v in self.counts if n == "engine.delta_depth_max")
        metrics["bronze.land_s"] = statistics.median(
            s.end - s.start for s in self.spans if s.name == "bronze.land")
        metrics["spark.busy_share"] = busy_ms / 1000.0 / (wall * cores)
        metrics["session.start_s"] = session_s
        metrics["setup.warmup_s"] = warmup_s
        metrics["trace.gold_fresh_p50_s"] = gold_fresh_s
        metrics["trace.uncovered_share"] = uncovered / wall
        return {name: {"value": v, "unit": UNITS[name]} for name, v in sorted(metrics.items())}


UNITS = {
    "session.start_s": "s",
    "setup.warmup_s": "s",
    "bronze.land_s": "s",
    "bronze.files_per_epoch": "count",
    "bronze.bytes_per_event": "bytes",
    "engine.replay_s": "s",
    "engine.replay_self_s": "s",
    "engine.meta_files_written": "count",
    "engine.compact_s": "s",
    "engine.delta_depth_max": "count",
    "dedup.rows_in": "count",
    "dedup.rows_out": "count",
    "dedup.shuffle_bytes": "bytes",
    "merge.merge_s": "s",
    "merge.replace_groups_s": "s",
    "merge.merge_into_calls": "count",
    "table.write_s": "s",
    "table.commits_per_apply": "count",
    "table.write_shuffle_bytes": "bytes",
    "table.files_per_commit": "count",
    "table.bytes_per_row": "bytes",
    "table.files_scanned": "count",
    "gold.refresh_s": "s",
    "gold.jobs_per_refresh": "count",
    "gold.buckets_touched": "count",
    "spark.gc_s": "s",
    "spark.busy_share": "share",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "trace.gold_fresh_p50_s": "s",
    "trace.uncovered_share": "share",
}
