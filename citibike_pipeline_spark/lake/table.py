"""Snapshot-committed parquet table format.

Layout on disk (any filesystem Spark can write; local in the sandbox,
HDFS/S3 on a cluster)::

    <warehouse>/<namespace>/<table>/
        data/<uuid>/_bucket=<k>/part-*.parquet   -- immutable data files
        snapshots/v{N}.json                      -- snapshot manifests
        VERSION                                  -- pointer, atomic os.replace

A snapshot manifest records the table schema (JSON), the bucket spec, and the
exact list of live data files with their bucket ids. Readers resolve VERSION
-> snapshot -> file list and read with the snapshot schema, so files written
before a schema evolution pad missing columns with typed NULLs (the engine's
in-place analog of the reference's typed-NULL projection seam,
``stg_trips_current.sql:27-37``).

Commits are single-writer driver-side (same as Iceberg): write the new
snapshot file, then atomically replace VERSION. A crash before the replace
leaves the table at the old snapshot with only orphan data files — exactly
Iceberg's failure mode, and the basis of the CDC engine's exactly-once story.

Both reads and writes go through one private SIDE SESSION per caller session
(`_side_session`), a ``newSession()`` whose SQL conf the caller never sees.
Reads build their parquet relation there, with file status listed on the
driver: the paths are files the manifest names, so Spark's parallel
discovery job (one task per file past 32 paths) is pure cost. The analyzed
plan is then re-bound to the caller's session. Writes execute there with AQE
off, since they size their partitions explicitly. If the plan transfer is
unavailable, both fall back to the caller's session: correct, just slower.

Scale notes: data is hash-bucketed on the table's key columns
(``xxhash64 pmod n_buckets``). MERGE rewrites only touched buckets;
bucket-pruned scans read only matching files. At 100 TB you raise
``n_buckets`` (e.g. 4096-65536) — a manifest-level knob, exercised at 256 in
``tests/test_scale_knobs.py`` — which bounds the copy-on-write unit
(table_size / n_buckets) to whatever rewrite granularity the cluster
tolerates.

Why NOT a time-partition dimension on the mutable silver table: a
copy-on-write cell key must be a *pure function of the row's merge key*,
or an update that changes the partitioning attribute (a turn's ``ts``, its
ingest epoch) would land the new version in a different cell while the old
version survives untouched in the old one. Event-time partitioning is
therefore correct for the APPEND-ONLY layers — bronze is already
epoch-partitioned (``epoch=N/`` directories, the WAL's time axis) — and for
key-immutable gold facts, but on an LWW-mutable table the sound scale axis
is key-hash granularity (n_buckets). The CDC engine writes such a table in
one of two ways: copy-on-write through `replace_buckets` (MERGE rewrites
the touched buckets), or merge-on-read through `append` (each batch lands
as a delta of new row versions, and the reader resolves the LWW winner
over base ∪ deltas until a compaction `overwrite` folds them).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import fs

BUCKET_COL = "_bucket"


class CommitConflict(Exception):
    """A concurrent writer advanced the table between snapshot resolution
    and commit; the losing commit is rejected instead of silently clobbering
    (optimistic concurrency, see LakeTable._commit)."""


def _side_session(sess: SparkSession) -> SparkSession | None:
    """The lake's side session for ``sess`` (module docstring): a
    ``newSession()``, so it shares the SparkContext and re-applies the
    builder-time options, but its conf never reaches ``sess``, where a
    concurrently planned analytics query could observe it. Created once and
    cached on ``sess``; None once plan transfer proved unavailable."""
    if getattr(sess, "_lake_writer_unsupported", False):
        return None
    side = getattr(sess, "_lake_writer_session", None)
    if side is None:
        side = sess.newSession()
        side.conf.set("spark.sql.adaptive.enabled", "false")
        # list file status on the driver at any path count (Int.MaxValue is
        # the threshold's upper bound)
        side.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
        sess._lake_writer_session = side
    return side


def _transfer(sess: SparkSession, df: DataFrame, target: SparkSession) -> DataFrame | None:
    """Re-bind ``df``'s analyzed plan to ``target`` (the caller's session
    ``sess`` or its side session) with ``Dataset.ofRows`` on the JVM.

    If that private surface moves in a future Spark, warn ONCE, mark
    ``sess`` so no later call pays the py4j exception again, and return
    None: callers then fall back to a plain frame on ``sess`` (writes run
    with AQE on, reads list their files with a Spark job: correct, just
    slower), never to conf mutation.
    """
    try:
        jdf = sess._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            target._jsparkSession, df._jdf.logicalPlan()
        )
        return DataFrame(jdf, target)
    except Exception as e:
        import warnings

        warnings.warn(
            f"lake side-session plan transfer unavailable ({e!r:.120}); "
            "lake writes will run with AQE enabled and lake reads will list "
            "their files with a Spark job, both on the shared session"
        )
        sess._lake_writer_unsupported = True
        return None


def _writer_view(df: DataFrame) -> DataFrame:
    """Re-bind ``df``'s logical plan to the side session, whose SQLConf has
    AQE disabled, leaving the caller's session untouched.

    Why: lake writes size their partitions explicitly (shuffle_partitions +
    a repartition on the partition columns), so adaptive re-planning buys
    nothing and costs a measurable serial driver pause at every stage
    boundary (~0.4-0.7 s per merge at local[8]).
    """
    sess = df.sparkSession
    side = _side_session(sess)
    out = _transfer(sess, df, side) if side is not None else None
    return df if out is None else out


def _scan(spark: SparkSession, schema: StructType, paths: list[str]) -> DataFrame:
    """Parquet scan of manifest-named files that starts no Spark job.

    ``spark.read.parquet`` lists more than 32 paths with a Spark job of one
    task per path, when the frame is built. The relation is built in the
    side session instead and re-bound to ``spark``, so the frame plans under
    the caller's conf and joins with its frames."""
    side = _side_session(spark)
    if side is not None:
        df = _transfer(spark, side.read.schema(schema).parquet(*paths), spark)
        if df is not None:
            return df
    return spark.read.schema(schema).parquet(*paths)


DAY_COL = "_day"


def empty_df(spark: SparkSession, schema: StructType) -> DataFrame:
    """JVM-native empty DataFrame with the given schema.

    NEVER use ``spark.createDataFrame([], schema)`` on a hot path: PySpark
    backs it with a pickled ``parallelize`` RDD, so every downstream task that
    touches the branch spins up a Python worker — serialized on SparkEnv's
    global createPythonWorker lock (measured: it alone flat-lined merge
    scaling, executors 90% idle blocked on that monitor). ``range(0)`` +
    typed-NULL casts stays entirely in Catalyst/codegen.
    """
    cols = [F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    return spark.range(0).select(*cols)


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic bucket id for a row: xxhash64(keys) pmod n_buckets.

    xxhash64 is a stable JVM-side hash (whole-stage codegen friendly); both
    the writer and MERGE use this same expression so change-sets land on the
    same buckets as the target rows they touch.
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


@dataclass
class Snapshot:
    snapshot_id: int
    schema_json: str
    key_cols: list[str]          # merge identity (e.g. conv_id, turn_idx)
    n_buckets: int
    bucket_cols: list[str] = None  # layout/locality key (e.g. conv_id alone)
    day_col: str | None = None   # time-partition dimension (Iceberg days(ts))
    files: list[dict[str, Any]] = field(default_factory=list)  # {path, bucket[, day]}
    # Equality-delete files of the removed "mor-del" merge mode. No commit
    # adds any; a legacy table that still lists some refuses reads (see
    # LakeTable.read) until an older build compacts it.
    delete_files: list[dict[str, Any]] = field(default_factory=list)
    parent_id: int | None = None
    summary: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self):
        if self.bucket_cols is None:
            self.bucket_cols = list(self.key_cols)

    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_json))

    def child(
        self,
        files: list[dict[str, Any]],
        summary: dict[str, Any],
        schema_json: str | None = None,
    ) -> "Snapshot":
        """Successor snapshot carrying the table spec forward — the ONE place
        spec fields propagate, so adding a spec field can't silently drop it
        from some commit type."""
        return Snapshot(
            snapshot_id=self.snapshot_id + 1,
            schema_json=schema_json or self.schema_json,
            key_cols=self.key_cols,
            n_buckets=self.n_buckets,
            bucket_cols=self.bucket_cols,
            day_col=self.day_col,
            files=files,
            delete_files=self.delete_files,
            parent_id=self.snapshot_id,
            summary=summary,
        )

    def to_json(self) -> str:
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "schema": json.loads(self.schema_json),
                "key_cols": self.key_cols,
                "n_buckets": self.n_buckets,
                "bucket_cols": self.bucket_cols,
                "day_col": self.day_col,
                "files": self.files,
                "delete_files": self.delete_files,
                "parent_id": self.parent_id,
                "summary": self.summary,
            }
        )

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        # keys this build no longer models are ignored: older manifests
        # carry the removed per-bucket write spread, which never changed
        # which rows a read returns
        d = json.loads(s)
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            schema_json=json.dumps(d["schema"]),
            key_cols=d["key_cols"],
            n_buckets=d["n_buckets"],
            bucket_cols=d.get("bucket_cols"),
            day_col=d.get("day_col"),
            files=d["files"],
            delete_files=d.get("delete_files", []),
            parent_id=d.get("parent_id"),
            summary=d.get("summary", {}),
        )


class LakeTable:
    """One snapshot-committed table. Construct via LakeCatalog."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._data_dir = os.path.join(path, "data")
        self._snap_dir = os.path.join(path, "snapshots")
        self._version_file = os.path.join(path, "VERSION")

    # -- lifecycle ---------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: StructType,
        key_cols: list[str],
        n_buckets: int = 32,
        bucket_cols: list[str] | None = None,
        day_col: str | None = None,
    ) -> "LakeTable":
        t = LakeTable(spark, path)
        fs.makedirs(t._data_dir)
        fs.makedirs(t._snap_dir)
        snap = Snapshot(
            snapshot_id=0,
            schema_json=json.dumps(schema.jsonValue()),
            key_cols=key_cols,
            n_buckets=n_buckets,
            bucket_cols=bucket_cols,
            day_col=day_col,
            files=[],
            summary={"operation": "create"},
        )
        t._commit(snap)
        return t

    def exists(self) -> bool:
        return fs.exists(self._version_file)

    def _abs(self, p: str) -> str:
        """Resolve a manifest file path: new manifests store paths RELATIVE
        to the table root (relocatable warehouse); absolute entries from
        older snapshots resolve as-is. A legacy snapshot written through a
        RELATIVE warehouse path stored cwd-relative entries that already
        embed the table root — if the root-join does not exist but the raw
        entry does, use the raw entry (never double-prefix)."""
        if os.path.isabs(p):
            return p
        joined = os.path.join(self.path, p)
        if not os.path.exists(joined) and os.path.exists(p):
            return p
        return joined

    # -- snapshot plumbing ---------------------------------------------------

    def current_snapshot(self) -> Snapshot:
        v = fs.read_text(self._version_file).strip()
        return Snapshot.from_json(
            fs.read_text(os.path.join(self._snap_dir, f"{v}.json"))
        )

    def snapshot_history(self) -> list[int]:
        return sorted(
            int(p[1:-5]) for p in fs.listdir(self._snap_dir) if p.endswith(".json")
        )

    def get_snapshot(self, snapshot_id: int) -> "Snapshot | None":
        """Load one snapshot by id (None if expired/unknown) — parent-pointer
        walks for commit-history introspection."""
        p = os.path.join(self._snap_dir, f"v{snapshot_id:09d}.json")
        if not fs.exists(p):
            return None
        return Snapshot.from_json(fs.read_text(p))

    def _commit(self, snap: Snapshot) -> None:
        """Atomic commit: write snapshot manifest, then swap the pointer.

        os.replace is atomic on POSIX — the table is never observable in a
        half-committed state (the all-or-nothing the reference *documents but
        does not have* across its DELETE+INSERT pair, staging.py:55-71).

        Optimistic concurrency (Iceberg-style): the commit is valid only if
        the table is still at this snapshot's PARENT — a racing writer that
        advanced the pointer first turns this commit into a detected
        ``CommitConflict`` (retry from a fresh snapshot) instead of a silent
        lost update. The local adapter checks-then-swaps, leaving a narrow
        TOCTOU window a true CAS closes — exactly the conditional-PUT
        primitive ``lake.fs`` documents for object-store deployments; the
        CDC engine itself is single-writer (replay/tail sequential), so the
        check is a guard rail for out-of-band writers, not a hot path.
        """
        def check_parent():
            if not fs.exists(self._version_file):
                return  # fresh table (or own crashed attempt pre-swap)
            cur = fs.read_text(self._version_file).strip()
            if snap.parent_id is None:
                # a parentless commit is table CREATION: any existing
                # pointer means another writer already created/advanced the
                # table — clobbering it with an empty v0 is the worst lost
                # update of all (found in the round-4 self-review)
                raise CommitConflict(
                    f"{self.path}: creation commit but table already exists "
                    f"at {cur}; load the existing table instead"
                )
            expect = f"v{snap.parent_id:09d}"
            if cur != expect:
                raise CommitConflict(
                    f"{self.path}: table advanced to {cur} while this commit "
                    f"was built from {expect}; reload and retry"
                )

        # BEFORE the manifest write: racing writers build the same child id,
        # so a late loser would otherwise clobber the winner's committed
        # manifest file (found by test_concurrent_writer_conflict_detected).
        # An ORPHAN manifest from this writer's own crashed attempt (pointer
        # still at the parent) is legitimately overwritten on retry.
        check_parent()
        snap_path = os.path.join(self._snap_dir, f"v{snap.snapshot_id:09d}.json")
        fs.write_text(snap_path, snap.to_json())
        check_parent()  # narrows the swap race; true CAS = fs conditional-PUT
        fs.replace_text(self._version_file, f"v{snap.snapshot_id:09d}")

    # -- read ----------------------------------------------------------------

    def read(
        self,
        buckets: list[int] | None = None,
        snapshot_id: int | None = None,
        days: tuple[str | None, str | None] | None = None,
    ) -> DataFrame:
        """Scan the table (optionally bucket-pruned / day-pruned / time-travel).

        Pruning is manifest-level: only files whose bucket is in ``buckets``
        (and, for day-partitioned tables, whose day overlaps the
        ``days=(lo, hi)`` inclusive range, either bound None = open) are
        listed to Spark at all — the file-skipping equivalent of Iceberg
        partition pruning / BQ `PARTITION BY DATE + CLUSTER BY`
        (``raw_trips_current.sql:18-19``). Files without day metadata
        (null-ts partitions, legacy commits) are conservatively kept.
        """
        if snapshot_id is None:
            snap = self.current_snapshot()
        else:
            snap = Snapshot.from_json(
                fs.read_text(os.path.join(self._snap_dir, f"v{snapshot_id:09d}.json"))
            )
        if snap.delete_files:
            # only the removed "mor-del" mode wrote these; reading the data
            # files without their masks would return superseded row
            # versions as duplicate rows
            raise ValueError(
                f"{self.path}: snapshot v{snap.snapshot_id} lists "
                f"{len(snap.delete_files)} equality-delete files, written by "
                "the removed merge_mode='mor-del'; compact() it under "
                "merge_mode='mor' with an older build, which folds them"
            )
        schema = snap.schema()
        files = snap.files
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if days is not None:
            lo, hi = days
            files = [
                f
                for f in files
                if f.get("day") is None
                or ((lo is None or f["day"] >= lo) and (hi is None or f["day"] <= hi))
            ]
        if not files:
            return empty_df(self.spark, schema)
        # Explicit snapshot schema: files predating an ADD COLUMN evolve by
        # padding typed NULLs at scan time (no rewrite).
        return _scan(self.spark, schema, [self._abs(f["path"]) for f in files])

    def schema(self) -> StructType:
        return self.current_snapshot().schema()

    # -- write ---------------------------------------------------------------

    def _write_data_files(self, df: DataFrame, snap: Snapshot) -> list[dict[str, Any]]:
        """Write df (already projected to table schema) as bucketed data files.

        The explicit repartition on the partition columns (the bucket
        hash(bucket_cols), plus the day on day-partitioned tables) sends each
        partition's rows to one task, so a commit writes at most one file per
        touched partition: the file count follows from the data, not a knob.
        The repartition is deterministic, so a retried write lays out the
        same files.
        """
        out = os.path.join(self._data_dir, uuid.uuid4().hex)
        cols = [f.name for f in snap.schema().fields]
        use_day = snap.day_col is not None
        proj = df.select(
            *cols, bucket_expr(snap.bucket_cols, snap.n_buckets).alias(BUCKET_COL)
        )
        part_cols = [BUCKET_COL]
        if use_day:
            # Iceberg days(ts) + bucket(key): the day dimension prunes
            # time-scoped analytics/retention, the bucket dimension prunes
            # key-scoped merges — files carry both in the manifest
            proj = proj.withColumn(DAY_COL, F.to_date(F.col(snap.day_col)).cast("string"))
            part_cols = [DAY_COL, BUCKET_COL]
        # Execute the write under the AQE-off side session (see
        # _writer_view): the shared session's conf is never touched, so a
        # concurrent analytics query can never observe adaptive=false.
        (
            _writer_view(proj.repartition(*[F.col(c) for c in part_cols]))
            .write.partitionBy(*part_cols)
            .parquet(out, mode="overwrite")
        )
        import pyarrow.parquet as pq

        # Iceberg-style DataFile stats: record count from the parquet footer
        # at commit time, so row counts are a manifest lookup, never a table
        # scan. Footer reads are O(files-per-commit) = days × buckets,
        # driver-side. Paths are stored RELATIVE to the table root so the
        # warehouse can be relocated / mirrored unchanged.
        def file_entry(p: str, bucket: int, day: str | None) -> dict[str, Any]:
            e = {
                "path": os.path.relpath(p, self.path),
                "bucket": bucket,
                "rows": pq.ParquetFile(p).metadata.num_rows,
            }
            if day is not None:
                e["day"] = day
            return e

        def walk_bucket_dir(root: str, day: str | None) -> list[dict[str, Any]]:
            got = []
            for bdir in os.listdir(root):
                if not bdir.startswith(f"{BUCKET_COL}="):
                    continue
                b = int(bdir.split("=")[1])
                for fn in os.listdir(os.path.join(root, bdir)):
                    if fn.endswith(".parquet"):
                        got.append(file_entry(os.path.join(root, bdir, fn), b, day))
            return got

        files: list[dict[str, Any]] = []
        if not use_day:
            files = walk_bucket_dir(out, None)
        else:
            for ddir in os.listdir(out):
                if not ddir.startswith(f"{DAY_COL}="):
                    continue
                raw = ddir.split("=", 1)[1]
                # null day (null ts) lands in Hive's default partition
                day = None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                files.extend(walk_bucket_dir(os.path.join(out, ddir), day))
        return files

    def stat_row_count(self, snapshot_id: int | None = None) -> int | None:
        """Row count from manifest stats alone — None when any file predates
        per-file stats (callers on a hot path must NOT fall back to a scan)."""
        snap = self.current_snapshot() if snapshot_id is None else None
        if snap is None:
            snap = Snapshot.from_json(
                fs.read_text(os.path.join(self._snap_dir, f"v{snapshot_id:09d}.json"))
            )
        if any(f.get("rows") is None for f in snap.files):
            return None
        return sum(int(f["rows"]) for f in snap.files)

    def row_count(self, snapshot_id: int | None = None) -> int:
        """Row count from manifest stats (no scan). Falls back to a scan only
        for files committed before per-file stats existed."""
        n = self.stat_row_count(snapshot_id=snapshot_id)
        if n is None:
            return self.read(snapshot_id=snapshot_id).count()
        return n

    def append(self, df: DataFrame, summary: dict[str, Any] | None = None) -> Snapshot:
        snap = self.current_snapshot()
        new_files = self._write_data_files(df, snap)
        nxt = snap.child(
            snap.files + new_files, {"operation": "append", **(summary or {})}
        )
        self._commit(nxt)
        return nxt

    def overwrite(self, df: DataFrame, summary: dict[str, Any] | None = None) -> Snapshot:
        """Full replace — the reference's WRITE_TRUNCATE sink
        (``analysis.py:216-226``), as one atomic snapshot."""
        snap = self.current_snapshot()
        new_files = self._write_data_files(df, snap)
        nxt = snap.child(new_files, {"operation": "overwrite", **(summary or {})})
        self._commit(nxt)
        return nxt

    def replace_buckets(
        self, df: DataFrame, buckets: list[int], summary: dict[str, Any] | None = None
    ) -> Snapshot:
        """Copy-on-write at bucket granularity: keep every file outside
        ``buckets``, replace everything inside them with ``df``'s files.
        This is the commit primitive under MERGE (lake.merge.merge_into)."""
        snap = self.current_snapshot()
        bset = set(buckets)
        new_files = self._write_data_files(df, snap)
        for f in new_files:
            if f["bucket"] not in bset:
                raise ValueError(
                    f"replace_buckets: data landed in untouched bucket {f['bucket']}"
                )
        kept = [f for f in snap.files if f["bucket"] not in bset]
        nxt = snap.child(
            kept + new_files,
            {"operation": "replace_buckets", "buckets": sorted(bset), **(summary or {})},
        )
        self._commit(nxt)
        return nxt

    # -- schema evolution ------------------------------------------------------

    def add_columns(self, new_fields: StructType | list) -> Snapshot:
        """In-place ADD COLUMN: manifest-only commit, no data rewrite.

        Old files pad typed NULLs at read time. The engine's replacement for
        the reference's fork-into-two-tables evolution (``trips.py:13-19`` +
        superset projection ``stg_trips_current.sql:27-37``).
        """
        snap = self.current_snapshot()
        schema = snap.schema()
        existing = {f.name for f in schema.fields}
        fields = list(new_fields.fields) if isinstance(new_fields, StructType) else list(new_fields)
        added = []
        for f in fields:
            if f.name in existing:
                continue
            if not f.nullable:
                raise ValueError(f"added column {f.name} must be nullable")
            schema = schema.add(f)
            added.append(f.name)
        if not added:
            return snap
        nxt = snap.child(
            snap.files,
            {"operation": "add_columns", "columns": added},
            schema_json=json.dumps(schema.jsonValue()),
        )
        self._commit(nxt)
        return nxt

    # -- maintenance -------------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Drop old snapshot manifests + orphaned data files (Iceberg
        expire_snapshots analog). Returns number of data files removed."""
        history = self.snapshot_history()
        if len(history) <= keep_last:
            return 0
        keep_ids = set(history[-keep_last:])
        live: set[str] = set()
        for sid in keep_ids:
            snap = Snapshot.from_json(
                fs.read_text(os.path.join(self._snap_dir, f"v{sid:09d}.json"))
            )
            # canonicalize so the walk's paths compare equal regardless of
            # how the manifest stored them (relative/absolute/legacy);
            # a legacy table's delete files are live table state too
            live.update(
                os.path.abspath(self._abs(x["path"]))
                for x in snap.files + snap.delete_files
            )
        removed = 0
        for sid in history:
            if sid not in keep_ids:
                fs.remove(os.path.join(self._snap_dir, f"v{sid:09d}.json"))
        for d in list(os.listdir(self._data_dir)):
            root = os.path.join(self._data_dir, d)
            for bdir, _, fns in list(os.walk(root)):
                for fn in fns:
                    p = os.path.join(bdir, fn)
                    if fn.endswith(".parquet") and os.path.abspath(p) not in live:
                        os.remove(p)
                        removed += 1
            if not any(fns for _, _, fns in os.walk(root)):
                shutil.rmtree(root, ignore_errors=True)
        return removed
