"""The CDC replay engine: bronze WAL epochs -> silver upsert -> checkpoint.

Orchestration is plain function calls in dependency order (the reference's
Airflow DAGs collapse to this, ``trip_pipeline.py:131-132`` ≙ SURVEY.md §2.9 I7).

Per-apply dataflow (`apply_epochs`; `apply_epoch(e)` is `apply_epochs([e])`)::

    bronze.read_epochs(lo, hi)                 -- directory-pruned scan
      |> skip partitions already in manifest   -- exactly-once fast path
      |> reconcile to silver superset schema   -- typed-NULL padding (evolution)
      |> MERGE INTO silver, LWW resolver       -- ONE max_by aggregate over
      |                                           (target ∪ events) resolves
      |                                           duplicates, redeliveries and
      |                                           cross-epoch LWW in a single
      |                                           shuffle (map-side partial
      |                                           collapse; a sort aggregate,
      |                                           see cdc.dedup.lww_dedup_agg),
      |                                           then the bucketed write on
      |                                           hash(conv_id)
      |> write commit manifests (epoch, partition_id) + lineage stats
      |                                           (stats recorded at landing)
      |> advance checkpoint, append metrics

Shuffle accounting (scale design): exactly ONE key shuffle per merge — the
LWW-resolve max_by aggregate over (target ∪ events) on the full
(conv_id, turn_idx) key, with map-side partial aggregation collapsing
duplicates BEFORE the exchange (shuffle volume scales with distinct keys,
not events) — plus the write repartition on the bucket (hash(conv_id)): one
file per touched bucket (per day, on day-partitioned tables) per commit; see
lake.table._write_data_files. The resolve is one shuffle but not sort-free:
the payload struct holds strings, so each side of its exchange sorts for a
sort aggregate. A separate pre-dedup pass would be pure overhead:
winner-of-winners equals the global winner.

Skew: the resolve's hash exchange on the FULL key (conv_id, turn_idx)
spreads a hot conversation's turns over tasks, and AQE's skew-join covers
the join side. The write keeps a hot conversation's bucket in one task and
one file.

Exactly-once: two complementary mechanisms.
1. Commit manifests keyed (checkpoint_epoch, partition_id) — written after the
   silver snapshot commit; `apply_epochs` first drops any source partition
   that already has a manifest, so a replayed/duplicated epoch is a no-op
   scan.
2. LWW merge resolution — even if the process dies *between* the snapshot
   commit and the manifest write, re-applying the same events is a semantic
   no-op: every change loses the (lsn, op_rank) comparison against the state
   it already produced. Idempotence is therefore end-to-end, not merely
   best-effort rerun tolerance (the reference's retry-by-rerun,
   ``staging.py:40,72-73``, made exact).

Deletes persist in silver as tombstones (op='D') so late/stale events can
never resurrect a deleted turn; the logical view (`silver_view`) filters them.
Tombstones older than the replay low-watermark are purged by `compact()`.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..lake import LakeCatalog, merge_into
from ..lake import fs
from ..sources.bronze import BronzeLog
from .dedup import lww_dedup_agg
from .reconcile import reconcile_to_schema
from .schemas import EVENT_SCHEMA_V1, KEY_COLS

# Event columns that are WAL metadata, not part of the silver entity payload.
_EVENT_META = {"schema_version", "partition_id", "checkpoint_epoch"}


def _lww(rows: DataFrame) -> DataFrame:
    """LWW-collapse silver-shaped rows to one winner per key by (lsn,
    op_rank); redelivered duplicates that tie on both pick the later ingest
    epoch, NULL losing. max_by aggregate: one exchange with map-side partial
    collapse of duplicates; each side of it sorts for a sort aggregate (see
    cdc.dedup.lww_dedup_agg)."""
    return lww_dedup_agg(
        rows, extra_order_cols=[F.coalesce(F.col("ingest_epoch"), F.lit(-1))]
    )


def _atomic_write_json(path: str, obj: dict) -> None:
    # metadata goes through the lake's FS seam (lake.fs) — one adapter swap
    # for object-store deployments
    fs.write_json_atomic(path, obj)


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        n_buckets: int = 32,
        merge_mode: str = "cow",
        mor_autocompact_deltas: int | None = 16,
        day_partition: bool = False,
    ):
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
        self.spark = spark
        self.merge_mode = merge_mode
        # mor failure mode is unbounded read amplification from accumulated
        # deltas: fold them back into the base once this many delta commits
        # stack up (None = caller-driven compaction only)
        self.mor_autocompact_deltas = mor_autocompact_deltas
        # SURVEY §4 partition spec at full width: days(ts) × bucket(conv_id).
        # The day axis prunes time-scoped analytics + retention; the bucket
        # axis prunes key-scoped merges. Off by default for tiny epochs
        # (days × buckets small-file pressure); turn on at scale.
        self.day_partition = day_partition
        self.warehouse = warehouse
        self.catalog = LakeCatalog(spark, warehouse)
        self.n_buckets = n_buckets
        self._meta = os.path.join(warehouse, "_meta")
        self._manifest_dir = os.path.join(self._meta, "manifests")
        self._metrics_dir = os.path.join(self._meta, "metrics")
        self._checkpoint_file = os.path.join(self._meta, "checkpoint.json")
        self.bronze = BronzeLog(spark, os.path.join(warehouse, "bronze", "change_events"))

    # -- setup -----------------------------------------------------------------

    def init_tables(self, event_schema: StructType = EVENT_SCHEMA_V1) -> None:
        fs.makedirs(self._manifest_dir)
        fs.makedirs(self._metrics_dir)
        if not self.bronze.exists():
            BronzeLog.create(self.spark, self.bronze.path, event_schema)
        if not self.catalog.table_exists("silver.transcript_turns"):
            self.catalog.create_table(
                "silver.transcript_turns",
                self._silver_schema_for(event_schema),
                key_cols=KEY_COLS,
                # Locality spec: bucket by conversation (≙ CLUSTER BY
                # start_station_id, raw_trips_current.sql:19); merge identity
                # stays the full key.
                bucket_cols=["conv_id"],
                n_buckets=self.n_buckets,
                day_col="ts" if self.day_partition else None,
            )

    @staticmethod
    def _silver_schema_for(event_schema: StructType) -> StructType:
        payload = [
            StructField(f.name, f.dataType, True)
            for f in event_schema.fields
            if f.name not in _EVENT_META and f.name not in ("lsn", "op")
        ]
        return StructType(
            payload
            + [
                StructField("lsn", event_schema["lsn"].dataType, False),
                StructField("op", event_schema["op"].dataType, False),
                StructField("ingest_epoch", event_schema["checkpoint_epoch"].dataType, True),
            ]
        )

    @property
    def silver(self):
        return self.catalog.load_table("silver.transcript_turns")

    # -- ingestion (WAL tail -> bronze) ------------------------------------------

    def ingest_epoch_pandas(self, pdf: pd.DataFrame, epoch: int) -> None:
        """Land one epoch; evolves bronze schema forward if new columns appear
        (the v1 -> v2 `tool` seam, FIXTURES.md F2 prop 6)."""
        cur = self.bronze.schema()
        have = {f.name for f in cur.fields}
        new_cols = [c for c in pdf.columns if c not in have]
        if new_cols:
            # insert payload columns before the meta tail, preserving
            # event-schema shape; all evolved columns are nullable strings
            # unless told otherwise (only `tool` in this corpus)
            fields = [f for f in cur.fields if f.name not in _EVENT_META]
            meta = [f for f in cur.fields if f.name in _EVENT_META]
            from pyspark.sql.types import StringType

            for c in new_cols:
                fields.append(StructField(c, StringType(), True))
            self.bronze.evolve_schema(StructType(fields + meta))
        # touched-bucket pre-hashing at landing only pays off when the merge
        # prunes by bucket (cow): the mor apply path appends deltas without
        # pruning, so skip the per-landing distinct job there (r3 ADVICE).
        # A cow epoch landed without a spec gets None from
        # _buckets_from_landing, and merge_into collects its bucket set.
        self.bronze.append_epoch_pandas(
            pdf.reindex(columns=[f.name for f in self.bronze.schema().fields]),
            epoch,
            bucket_spec=None if self.merge_mode == "mor"
            else self._silver_bucket_spec(),
        )

    def _silver_bucket_spec(self) -> tuple[list[str], int]:
        """The bucket layout landing stats should pre-hash against — the live
        silver snapshot's spec when the table exists, else the engine config
        (init_tables will create silver with exactly these values)."""
        if self.catalog.table_exists("silver.transcript_turns"):
            snap = self.silver.current_snapshot()
            return (list(snap.bucket_cols), int(snap.n_buckets))
        return (["conv_id"], self.n_buckets)

    def _buckets_from_landing(self, epochs: list[int]) -> list[int] | None:
        """Union of landing-time touched-bucket sets for the given epochs —
        None if any epoch lacks them or was hashed against a different bucket
        spec (legacy landing, re-bucketed silver), in which case merge_into
        collects its own bucket set. A set recorded for the WHOLE
        epoch may be a superset of the still-uncommitted partitions' buckets
        after a partial retry — sound for pruning (never misses a bucket),
        marginally wider than minimal."""
        cols, n = self._silver_bucket_spec()
        want = {"cols": list(cols), "n": int(n)}
        out: set[int] = set()
        for e in epochs:
            rec = self.bronze.epoch_stats(e)
            if rec is None or rec.get("bucket_spec") != want or rec.get("buckets") is None:
                return None
            out.update(int(b) for b in rec["buckets"])
        return sorted(out)

    # -- exactly-once bookkeeping ---------------------------------------------

    def committed_partitions(self, epoch: int) -> set[int]:
        pre = f"e{epoch:06d}_p"
        return {
            int(fn[len(pre):-5])
            for fn in fs.listdir(self._manifest_dir)
            if fn.startswith(pre) and fn.endswith(".json")
        }

    def _write_manifests(self, epoch: int, part_stats: list[dict], snapshot_id: int) -> None:
        for st in part_stats:
            p = int(st["partition_id"])
            _atomic_write_json(
                os.path.join(self._manifest_dir, f"e{epoch:06d}_p{p:04d}.json"),
                {
                    "checkpoint_epoch": epoch,
                    "partition_id": p,
                    "n_events": int(st["n_events"]),
                    "min_lsn": int(st["min_lsn"]),
                    "max_lsn": int(st["max_lsn"]),
                    "snapshot_id": snapshot_id,
                    "committed_at": time.time(),
                },
            )

    def checkpoint(self) -> dict:
        if not fs.exists(self._checkpoint_file):
            return {"last_epoch": -1, "snapshot_id": 0}
        return fs.read_json(self._checkpoint_file)

    def _advance_checkpoint(self, epoch: int, snapshot_id: int) -> None:
        # never regress: applying a late-landed epoch below the checkpoint
        # (gap replay) must not rewind the resume pointer
        last = max(int(self.checkpoint()["last_epoch"]), int(epoch))
        _atomic_write_json(
            self._checkpoint_file, {"last_epoch": last, "snapshot_id": snapshot_id}
        )

    def _committed_by_epoch(self) -> dict[int, set[int]]:
        """One manifest-dir listing -> {epoch: committed partition ids}."""
        out: dict[int, set[int]] = {}
        for fn in fs.listdir(self._manifest_dir):
            # e%06d_p%04d.json
            if fn.startswith("e") and fn.endswith(".json") and "_p" in fn:
                e, _, p = fn[1:-5].partition("_p")
                out.setdefault(int(e), set()).add(int(p))
        return out

    def _is_fully_committed(self, epoch: int, committed: set[int]) -> bool:
        """True iff every partition the WAL landed for this epoch has a
        commit manifest. Epochs without a landing record are conservatively
        treated as pending (apply_epochs' manifest filter makes re-applying
        them a no-op scan)."""
        rec = self.bronze.epoch_stats(epoch)
        if rec is None:
            return False
        parts = {int(st["partition_id"]) for st in rec["partitions"]}
        return parts <= committed

    # -- the apply path ------------------------------------------------------------

    def _lww_resolver(self):
        silver_cols = [f.name for f in self.silver.schema().fields]

        def resolve(target: DataFrame, changes: DataFrame) -> DataFrame:
            # Union current bucket contents with the change-set and let the
            # same documented total order (lsn, op_rank) pick every winner —
            # stale cross-epoch redeliveries lose to existing state, fresh
            # changes beat it. Tombstones ('D' winners) are RETAINED.
            return _lww(
                target.select(*silver_cols).unionByName(changes.select(*silver_cols))
            )

        return resolve

    def _epoch_part_stats(self, epoch: int, done: set[int]) -> list[dict]:
        """Per-partition offset stats for the uncommitted partitions of one
        epoch. Prefers the stats the WAL recorded at landing time — replay
        then needs NO lineage scan — and recomputes only for legacy epochs."""
        rec = self.bronze.epoch_stats(epoch)
        if rec is None:
            ev = self.bronze.read_epoch(epoch)
            parts = [
                r.asDict()
                for r in ev.groupBy("partition_id")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.min("lsn").alias("min_lsn"),
                    F.max("lsn").alias("max_lsn"),
                )
                .collect()
            ]
        else:
            parts = rec["partitions"]
        return [
            {**st, "checkpoint_epoch": epoch}
            for st in parts
            if int(st["partition_id"]) not in done
        ]

    def apply_epoch(self, epoch: int) -> dict:
        """Apply one epoch's change events to silver. Returns metrics dict."""
        return self.apply_epochs([epoch])

    def apply_epochs(self, epochs: list[int]) -> dict:
        """Apply pending epochs to silver in ONE dedup+merge; returns the
        apply's metrics record (also written to the metrics log).

        One epoch is the tail step; a RANGE of epochs is catch-up. Correct
        because the LWW total order (lsn, op_rank) is global — final state
        is independent of how the event stream is sliced into merges (the
        property the parity tests pin down). Amortizes the per-merge fixed
        cost (manifest checks, bucket collect, snapshot commit) across the
        whole backlog: resume-after-downtime costs one merge, not one per
        missed epoch. Per-(epoch, partition) manifests and lineage stats are
        still recorded individually.

        cow (default): copy-on-write MERGE — resolve (target ∪ changes) with
        the LWW aggregate and rewrite the touched buckets. Write cost scales
        with touched-bucket size; reads are resolve-free.

        mor: merge-on-read delta append (Iceberg-v2/Hudi MOR trade) — the
        change-set is LWW-collapsed batch-locally and APPENDED; cross-delta
        and delta-vs-base winners resolve at READ time (`silver_resolved`).
        Per-epoch write cost is O(changes) with no target read or bucket
        rewrite at all — the right mode for high-frequency small epochs —
        at the price of read amplification until `compact()` folds deltas
        into the base. Exactly-once still holds: a re-applied epoch appends
        duplicate rows whose identical (key, lsn, op) lose/tie in the read-
        side LWW resolve, so the logical state is unchanged.
        """
        t0 = time.time()
        phases: dict[str, float] = {}
        head = {"epoch": max(epochs), "epochs": epochs}
        silver = self.silver
        # the range read spans [min, max], but with manifest-derived pending
        # lists the range can be SPARSE (a late-landed epoch between fully
        # committed ones) — keep only the pending epochs' events, or already-
        # applied epochs would be re-merged (and, under mor, re-appended)
        events = self.bronze.read_epochs(min(epochs), max(epochs) + 1)
        if set(epochs) != set(range(min(epochs), max(epochs) + 1)):
            events = events.filter(F.col("checkpoint_epoch").isin([int(e) for e in epochs]))

        # exactly-once: exclude (epoch, partition) pairs already committed;
        # lineage stats come from the WAL landing records — no extra scan
        _t = time.time()
        part_stats: list[dict] = []
        for e in epochs:
            done = self.committed_partitions(e)
            if done:
                events = events.filter(
                    (F.col("checkpoint_epoch") != e)
                    | ~F.col("partition_id").isin([int(p) for p in done])
                )
            part_stats.extend(self._epoch_part_stats(e, done))
        phases["landing_stats"] = round(time.time() - _t, 2)
        n_events = int(sum(s["n_events"] for s in part_stats))
        if n_events == 0:
            metrics = {**head, "events_read": 0, "skipped": True,
                       "wall_sec": time.time() - t0}
            self._write_metrics(max(epochs), metrics)
            return metrics

        silver_have = {f.name for f in silver.schema().fields}
        new_payload = [
            f for f in events.schema.fields
            if f.name not in _EVENT_META and f.name not in silver_have
        ]
        if new_payload:
            silver.add_columns([StructField(f.name, f.dataType, True) for f in new_payload])
            silver = self.silver

        # No pre-dedup pass: the LWW resolve aggregates over (target ∪
        # changes) anyway, and winner-of-winners equals the global winner —
        # pre-deduplicating would add a full extra shuffle+sort of the event
        # set for nothing. (The ≤1-row/key contract applies to merge_into's
        # DEFAULT source-wins resolver only.)
        changes = events.withColumn("ingest_epoch", F.col("checkpoint_epoch"))
        changes = reconcile_to_schema(
            changes.drop(*(c for c in _EVENT_META if c in changes.columns)),
            silver.schema(),
        )
        summary = {"epochs": [min(epochs), max(epochs)]}
        _t = time.time()
        if self.merge_mode == "mor":
            snap = silver.append(_lww(changes), summary={**summary, "mode": "mor_delta"})
            stats = {"buckets_touched": 0, "snapshot_id": snap.snapshot_id}
        else:
            # landing-time bucket sets make pruning free; without them (a
            # legacy landing, a re-bucketed silver) the merge collects its own
            stats = merge_into(
                silver, changes, resolver=self._lww_resolver(), summary=summary,
                touched_buckets=self._buckets_from_landing(epochs),
            )
        phases["merge"] = round(time.time() - _t, 2)

        # manifests AFTER the atomic snapshot commit; a crash in between is
        # safe because LWW re-application is a semantic no-op (see module doc)
        by_epoch: dict[int, list[dict]] = {}
        for s in part_stats:
            by_epoch.setdefault(int(s["checkpoint_epoch"]), []).append(s)
        for e, sts in sorted(by_epoch.items()):
            self._write_manifests(e, sts, stats["snapshot_id"])
        self._advance_checkpoint(max(epochs), stats["snapshot_id"])

        wall = time.time() - t0
        metrics = {
            **head,
            "events_read": n_events,
            "partitions": len(part_stats),
            "buckets_touched": stats["buckets_touched"],
            "buckets_precomputed": bool(stats.get("buckets_precomputed", False)),
            "sec_touched_collect": stats.get("sec_touched_collect"),
            "snapshot_id": stats["snapshot_id"],
            "wall_sec": wall,
            "events_per_sec": n_events / wall if wall > 0 else None,
            "phases": {**phases, **{k: v for k, v in stats.items() if k.startswith("sec_")}},
            "skipped": False,
        }
        self._write_metrics(max(epochs), metrics)
        return metrics

    def replay(
        self,
        to_epoch: int | None = None,
        catchup: bool = True,
        late_window: int | None = 1024,
    ) -> list[dict]:
        """Apply every landed epoch (≤ to_epoch) that is not fully committed.

        Pending-ness is manifest-derived, NOT checkpoint-derived: an epoch
        directory that lands LATE — after a later epoch was already applied
        and advanced the checkpoint — is still detected (its partitions lack
        commit manifests) and replayed. LWW order-independence makes the late
        application correct; the checkpoint is only a monotone resume hint.

        ``late_window`` bounds the completeness scan: epochs older than
        checkpoint - late_window are assumed fully committed, so steady-state
        replay cost is O(window + new epochs), not O(lifetime epochs). Pass
        None to force a full-history audit (e.g. after restoring a backup).

        With catchup=True (default) the whole backlog goes through one
        apply_epochs merge; catchup=False applies epoch-at-a-time (the
        incremental/tail mode)."""
        committed = self._committed_by_epoch()
        floor = (
            -1
            if late_window is None
            else int(self.checkpoint()["last_epoch"]) - int(late_window)
        )
        pending = [
            e for e in self.bronze.epochs()
            if e > floor
            and (to_epoch is None or e <= to_epoch)
            and not self._is_fully_committed(e, committed.get(e, set()))
        ]
        if not pending:
            # still bound MOR read amplification: a table whose delta depth
            # already crossed the threshold (e.g. replay killed between apply
            # and compact) must not stay un-compacted across idle replay
            # calls (r3 ADVICE). The compaction is recorded in the metrics
            # log by maybe_autocompact itself; the return stays [] so no
            # caller mistakes the fold for an applied epoch.
            self.maybe_autocompact()
            return []
        batches = [pending] if catchup else [[e] for e in pending]
        out = [self.apply_epochs(b) for b in batches]
        # post-apply housekeeping: bounded mor read amplification (no-op
        # under cow or below the delta-depth threshold)
        auto = self.maybe_autocompact()
        if auto is not None:
            out[-1]["autocompact"] = auto
        return out

    def touched_convs(self, epochs: list[int]) -> DataFrame:
        """Distinct conversations changed by the given epochs — the scope of
        an incremental gold refresh (includes deletes: a conv whose only
        event is a tombstone must still be re-derived). Stays a DataFrame;
        never collected — at 10^10 events this can be millions of keys."""
        return (
            self.bronze.read_epochs(min(epochs), max(epochs) + 1)
            .select("conv_id")
            .distinct()
        )

    # -- serving views -------------------------------------------------------------

    def silver_resolved(
        self,
        buckets: list[int] | None = None,
        days: tuple[str | None, str | None] | None = None,
    ) -> DataFrame:
        """Physically-resolved silver (tombstones still present): under cow
        the table is already collapsed; under mor the base ∪ delta files are
        LWW-collapsed here. Bucket pruning is sound in both modes because a
        key's every version lives in exactly one bucket.

        ``days=(lo, hi)`` scopes the read in time (inclusive ISO dates,
        either bound None = open). Under cow on a day-partitioned table the
        scan is MANIFEST-pruned — untouched days' files are never listed —
        with a residual to_date(ts) filter for exactness (files without day
        metadata, e.g. null-ts partitions, are conservatively scanned).
        Under mor the date filter applies AFTER the LWW resolve over an
        un-day-pruned read: a key's versions can span days, so pruning
        delta files by day could resolve a stale winner."""
        mor = self.merge_mode == "mor"
        df = self.silver.read(buckets=buckets, days=None if mor else days)
        if mor:
            df = _lww(df)
        if days is not None:
            lo, hi = days
            d = F.to_date("ts")
            if lo is not None:
                df = df.filter(d >= F.lit(lo))
            if hi is not None:
                df = df.filter(d <= F.lit(hi))
        return df

    def silver_view(self) -> DataFrame:
        """Logical silver: live turns only (tombstones filtered), stable
        (conv_id, turn_idx, lsn) order available via the kept lsn column."""
        return (
            self.silver_resolved().filter(F.col("op") != "D").drop("op", "ingest_epoch")
        )

    def mor_delta_depth(self) -> int:
        """Consecutive delta-append commits since the last base fold —
        the read-amplification measure the autocompact policy bounds.
        Walks parent pointers; in steady state the walk is bounded by the
        autocompact threshold (and by snapshot expiry after each compact)."""
        snap = self.silver.current_snapshot()
        depth = 0
        while snap is not None:
            if snap.summary.get("mode") == "mor_delta":
                depth += 1
            elif snap.summary.get("operation") != "add_columns":
                # create/overwrite/replace_buckets rewrote (or seeded) the
                # base — deltas below it are folded. add_columns touches no
                # data files: it neither adds nor folds deltas, keep walking.
                break
            if snap.parent_id is None:
                break
            snap = self.silver.get_snapshot(snap.parent_id)
        return depth

    def maybe_autocompact(self) -> dict | None:
        """Fold accumulated mor deltas once the depth crosses the policy
        threshold. Called by replay() AFTER manifests and the checkpoint are
        committed, so the fold sits off the apply path's critical section —
        a crash mid-compact loses nothing (the next resolve reads the same
        base ∪ deltas). Tombstones are retained (no watermark)."""
        if self.merge_mode != "mor" or self.mor_autocompact_deltas is None:
            return None
        depth = self.mor_delta_depth()
        if depth < self.mor_autocompact_deltas:
            return None
        t0 = time.time()
        info = self.compact()
        record = {
            "autocompact": True,
            "deltas_folded": depth,
            "snapshot_id": info["snapshot_id"],
            "files_removed": info["files_removed"],
            "wall_sec": round(time.time() - t0, 2),
        }
        # persist the compaction to the metrics log itself (keyed by the
        # checkpoint's last applied epoch): previously the record was only
        # attached to replay()'s RETURN value after _write_metrics had
        # already run, so metrics()/metrics_df silently lost every
        # compaction event (found in the round-4 self-review)
        self._write_metrics(
            max(int(self.checkpoint()["last_epoch"]), 0), record
        )
        return record

    def compact(self, watermark_lsn: int | None = None) -> dict:
        """Purge tombstones at-or-below the replay low-watermark + expire
        snapshots.

        ``watermark_lsn`` is the WAL retention bound: no event with
        lsn ≤ watermark can ever be redelivered, so tombstones up to it can
        never be needed to suppress a resurrection and are safe to drop.
        Tombstones ABOVE the watermark are retained — purging them would let
        a late redelivery of an older event resurrect a deleted key. With no
        watermark given, NO tombstones are purged (snapshot expiry only).
        Full-table rewrite — run rarely, off-path.
        """
        silver = self.silver
        if watermark_lsn is None:
            keep = F.lit(True)  # no redelivery bound given -> purge nothing
        else:
            keep = (F.col("op") != "D") | (F.col("lsn") > F.lit(int(watermark_lsn)))
        # under mor this is ALSO the delta-fold (minor compaction): the
        # resolved state is rewritten as a collapsed base
        live = self.silver_resolved().filter(keep)
        snap = silver.overwrite(
            live, summary={"operation": "compact", "watermark_lsn": watermark_lsn}
        )
        removed = silver.expire_snapshots(keep_last=2)
        return {"snapshot_id": snap.snapshot_id, "files_removed": removed}

    # -- observability ---------------------------------------------------------------

    def _write_metrics(self, epoch: int, metrics: dict) -> None:
        _atomic_write_json(
            os.path.join(self._metrics_dir, f"e{epoch:06d}_{uuid.uuid4().hex[:8]}.json"),
            metrics,
        )

    def metrics(self) -> list[dict]:
        out = []
        for fn in sorted(fs.listdir(self._metrics_dir)):
            out.append(fs.read_json(os.path.join(self._metrics_dir, fn)))
        return out

    def lineage(self) -> list[dict]:
        out = []
        for fn in sorted(fs.listdir(self._manifest_dir)):
            out.append(fs.read_json(os.path.join(self._manifest_dir, fn)))
        return out

    def metrics_df(self) -> DataFrame:
        """Per-apply observability as a queryable TABLE (north-star "metrics
        tables" companion to lineage_df): the stable numeric core of every
        recorded apply — epoch, volume, bucket pruning, snapshot, wall.
        Variable payloads (phase timings, autocompact details) stay in the
        raw ``metrics()`` JSON."""
        schema_ddl = (
            "epoch int, events_read long, partitions int, buckets_touched int, "
            "snapshot_id long, wall_sec double, events_per_sec double, "
            "skipped boolean"
        )
        cols = [f.split(" ")[0] for f in schema_ddl.split(", ")]

        def field(m: dict, c: str):
            if c == "epoch" and "epoch" not in m and m.get("epochs"):
                # catch-up records from older builds carry only `epochs`
                return int(max(m["epochs"]))
            return m.get(c)

        # apply records only; standalone autocompact records (variable
        # payload, no per-epoch counters) stay in the raw metrics() JSON
        rows = [
            tuple(field(m, c) for c in cols)
            for m in self.metrics()
            if "events_read" in m
        ]
        if rows:
            return self.spark.createDataFrame(rows, schema_ddl)
        from ..lake.table import empty_df

        return empty_df(self.spark, StructType.fromDDL(schema_ddl))

    def lineage_df(self) -> DataFrame:
        rows = self.lineage()
        schema = (
            "checkpoint_epoch int, partition_id int, n_events long, "
            "min_lsn long, max_lsn long, snapshot_id long, committed_at double"
        )
        if rows:
            return self.spark.createDataFrame(rows, schema)
        # JVM-native empty frame — never the pickled-parallelize path
        from ..lake.table import empty_df

        return empty_df(self.spark, StructType.fromDDL(schema))
