"""Lake table format unit tests: atomic commits, merge semantics, bucket
pruning, schema evolution, snapshot expiry."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from citibike_pipeline_spark.lake import LakeCatalog, merge_into
from citibike_pipeline_spark.lake.table import BUCKET_COL, bucket_expr

SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField("seq", IntegerType(), False),
        StructField("v", StringType(), True),
        StructField("op", StringType(), False),
        StructField("lsn", LongType(), False),
    ]
)


@pytest.fixture()
def cat(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "wh"))


def mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_create_append_read(spark, cat):
    t = cat.create_table("ns.t1", SCHEMA, key_cols=["k", "seq"], n_buckets=4)
    t.append(mk(spark, [("a", 1, "x", "I", 1), ("b", 2, "y", "I", 2)]))
    got = {(r.k, r.seq, r.v) for r in t.read().collect()}
    assert got == {("a", 1, "x"), ("b", 2, "y")}
    assert t.current_snapshot().snapshot_id == 1


def test_merge_upsert_delete_insert(spark, cat):
    t = cat.create_table("ns.t2", SCHEMA, key_cols=["k", "seq"], n_buckets=4)
    t.append(mk(spark, [("a", 1, "old", "I", 1), ("b", 1, "keep", "I", 2)]))
    changes = mk(
        spark,
        [
            ("a", 1, "new", "U", 10),   # matched update
            ("b", 1, None, "D", 11),    # matched delete
            ("c", 1, "ins", "I", 12),   # not-matched insert
            ("d", 1, None, "D", 13),    # not-matched delete -> no-op
        ],
    )
    merge_into(t, changes)
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {("a", "new"), ("c", "ins")}


def test_merge_only_rewrites_touched_buckets(spark, cat):
    t = cat.create_table("ns.t3", SCHEMA, key_cols=["k", "seq"], n_buckets=8)
    base = [(f"k{i}", 1, "v", "I", i) for i in range(50)]
    t.append(mk(spark, base))
    before = {f["path"] for f in t.current_snapshot().files}
    # change exactly one key -> only its bucket's files may be replaced
    changes = mk(spark, [("k0", 1, "v2", "U", 100)])
    merge_into(t, changes)
    snap = t.current_snapshot()
    after = {f["path"] for f in snap.files}
    kept = before & after
    # at least one untouched bucket's file survives verbatim
    assert kept, "merge rewrote every file — bucket pruning broken"
    # and correctness holds
    assert t.read().filter(F.col("k") == "k0").collect()[0].v == "v2"
    assert t.read().count() == 50


def test_bucket_pruned_read_matches_full_scan(spark, cat):
    t = cat.create_table("ns.t4", SCHEMA, key_cols=["k", "seq"], n_buckets=8)
    rows = [(f"k{i}", i, "v", "I", i) for i in range(64)]
    t.append(mk(spark, rows))
    snap = t.current_snapshot()
    df = mk(spark, rows).withColumn("b", bucket_expr(snap.key_cols, snap.n_buckets))
    one = df.filter(F.col("k") == "k7").select("b").collect()[0].b
    pruned = t.read(buckets=[one])
    assert pruned.filter(F.col("k") == "k7").count() == 1
    full_in_bucket = [
        r.k
        for r in df.filter(F.col("b") == one).collect()
    ]
    assert sorted(r.k for r in pruned.collect()) == sorted(full_in_bucket)


def test_schema_evolution_pads_nulls(spark, cat):
    t = cat.create_table("ns.t5", SCHEMA, key_cols=["k", "seq"], n_buckets=2)
    t.append(mk(spark, [("a", 1, "x", "I", 1)]))
    t.add_columns([StructField("extra", StringType(), True)])
    # old files read with NULL extra
    rows = t.read().collect()
    assert rows[0].extra is None
    # new writes carry the column
    s2 = t.current_snapshot().schema()
    t.append(spark.createDataFrame([("b", 2, "y", "I", 2, "E")], s2))
    got = {(r.k, r.extra) for r in t.read().collect()}
    assert got == {("a", None), ("b", "E")}


def test_overwrite_and_time_travel(spark, cat):
    t = cat.create_table("ns.t6", SCHEMA, key_cols=["k", "seq"], n_buckets=2)
    t.append(mk(spark, [("a", 1, "x", "I", 1)]))
    sid = t.current_snapshot().snapshot_id
    t.overwrite(mk(spark, [("z", 9, "q", "I", 9)]))
    assert {r.k for r in t.read().collect()} == {"z"}
    assert {r.k for r in t.read(snapshot_id=sid).collect()} == {"a"}


def test_expire_snapshots_removes_orphans(spark, cat):
    t = cat.create_table("ns.t7", SCHEMA, key_cols=["k", "seq"], n_buckets=2)
    for i in range(4):
        t.overwrite(mk(spark, [(f"k{i}", i, "v", "I", i)]))
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert {r.k for r in t.read().collect()} == {"k3"}


def test_version_pointer_is_atomic_file(spark, cat):
    t = cat.create_table("ns.t8", SCHEMA, key_cols=["k", "seq"])
    v = open(os.path.join(t.path, "VERSION")).read()
    assert v.startswith("v") and len(v) == 10


def test_merge_pruning_respects_bucket_cols(spark, cat):
    """Regression: touched-bucket pruning must hash by bucket_cols (locality
    spec), not key_cols — silver buckets by conv_id while merging on
    (conv_id, turn_idx)."""
    t = cat.create_table(
        "ns.t9", SCHEMA, key_cols=["k", "seq"], bucket_cols=["k"], n_buckets=8
    )
    rows = [(f"k{i}", j, "v", "I", i * 10 + j) for i in range(20) for j in range(3)]
    t.append(mk(spark, rows))
    # single-conversation change: only k0's bucket may be rewritten
    before = {f["path"] for f in t.current_snapshot().files}
    merge_into(t, mk(spark, [("k0", 1, "v2", "U", 999)]))
    after = {f["path"] for f in t.current_snapshot().files}
    assert before & after, "untouched buckets must survive"
    got = {(r.k, r.seq, r.v) for r in t.read().collect()}
    assert ("k0", 1, "v2") in got and len(got) == 60


@pytest.mark.parametrize("bucket_set", ["collect", "exact", "all"])
def test_merge_touched_bucket_sets(spark, cat, bucket_set):
    """merge_into's one bucket-rewrite body gives the same rows whether it
    collects the touched buckets itself (touched_buckets=None) or is handed
    them, exactly or as a superset (every bucket). Only the buckets in the
    set are rewritten: the files of every other bucket survive."""
    t = cat.create_table("ns.t10", SCHEMA, key_cols=["k", "seq"], n_buckets=4)
    t.append(mk(spark, [(f"k{i}", 1, "old", "I", i) for i in range(12)]))
    changes = mk(spark, [("k0", 1, "new", "U", 100), ("c", 1, "ins", "I", 101)])
    snap = t.current_snapshot()
    exact = sorted({
        r[0] for r in changes.select(bucket_expr(snap.bucket_cols, 4)).collect()
    })
    assert len(exact) < 4, "the change-set must leave a bucket untouched"
    touched = {"collect": None, "exact": exact, "all": [3, 2, 1, 0]}[bucket_set]

    stats = merge_into(t, changes, touched_buckets=touched)

    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {("k0", "new"), ("c", "ins")} | {(f"k{i}", "old") for i in range(1, 12)}
    rewritten = set(range(4)) if bucket_set == "all" else set(exact)
    assert stats["buckets_touched"] == len(rewritten)
    assert stats["buckets_precomputed"] is (touched is not None)
    after = {f["path"] for f in t.current_snapshot().files}
    kept = {f["path"] for f in snap.files if f["bucket"] not in rewritten}
    assert kept <= after
    assert not {f["path"] for f in snap.files if f["bucket"] in rewritten} & after
    if bucket_set != "all":
        assert kept, "untouched buckets must hold files before the merge"


def test_warehouse_relocation(spark, tmp_path):
    """Manifests store table-relative data paths, so a warehouse directory
    copied to a new location (or another store) opens unchanged — the
    object-store portability contract (lake.fs module docstring)."""
    import shutil as _sh

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType
    from citibike_pipeline_spark.lake import LakeCatalog

    src = str(tmp_path / "wh_src")
    cat = LakeCatalog(spark, src)
    t = cat.create_table(
        "ns.reloc", StructType.fromDDL("k int, v string"),
        key_cols=["k"], n_buckets=4,
    )
    df = spark.range(100).select(
        F.col("id").cast("int").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    t.overwrite(df)
    before = sorted((r.k, r.v) for r in t.read().collect())

    dst = str(tmp_path / "wh_dst")
    _sh.copytree(src, dst)
    _sh.rmtree(src)  # prove nothing still points at the old location

    t2 = LakeCatalog(spark, dst).load_table("ns.reloc")
    assert sorted((r.k, r.v) for r in t2.read().collect()) == before
    assert t2.row_count() == 100
    # and the relocated table still accepts commits
    t2.append(spark.range(100, 110).select(
        F.col("id").cast("int").alias("k"), F.lit("x").alias("v")))
    assert t2.row_count() == 110


def test_aqe_scope_isolated_from_analytics(spark, cat):
    """Lake writes run under a dedicated AQE-off writer session (r3 verdict
    #6): a concurrent analytics query must NEVER observe adaptive=false on
    the shared session. Writes loop in a background thread while the main
    thread polls the shared conf and plans analytics queries."""
    import threading

    t = cat.create_table("ns.taqe", SCHEMA, key_cols=["k", "seq"], n_buckets=4)
    rows = [(f"k{i}", i, "v", "I", i) for i in range(200)]

    errs: list[str] = []

    def writer():
        try:
            for _ in range(3):
                t.overwrite(mk(spark, rows))
        except Exception as e:  # surface in the main thread
            errs.append(repr(e))

    th = threading.Thread(target=writer)
    th.start()
    saw_adaptive_plan = False
    while th.is_alive():
        # shared-session conf must stay on throughout the write window
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        q = spark.range(1000).groupBy((F.col("id") % 7).alias("g")).count()
        plan = q._jdf.queryExecution().executedPlan().toString()
        saw_adaptive_plan = saw_adaptive_plan or "AdaptiveSparkPlan" in plan
    th.join()
    assert not errs, errs
    assert saw_adaptive_plan, "analytics plans lost AQE during writes"
    # the structural seam actually engaged: a cached writer session with
    # adaptive off, parent untouched
    w = getattr(spark, "_lake_writer_session", None)
    assert w is not None and w.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert t.read().count() == 200


DISCOVERY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _jobs_started(spark, fn):
    """Run ``fn()`` under a fresh job group; return its result and the ids
    of the Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"lake-scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "lake scan planning")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _plain(spark, t, schema, files):
    """The reference scan: Spark's own reader over the same manifest files."""
    paths = [os.path.join(t.path, f["path"]) for f in files]
    return spark.read.schema(schema).parquet(*paths)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_scan(spark, t, read, schema, files):
    """``read()`` starts no Spark job, returns a frame of the caller's
    session, and yields the rows of a plain read of ``files``."""
    df, jobs = _jobs_started(spark, read)
    assert jobs == [], f"building the scan started Spark jobs {jobs}"
    assert df.sparkSession is spark
    plain = _plain(spark, t, schema, files)
    assert df.schema == plain.schema
    assert _rows(df) == _rows(plain)


def test_scan_plans_from_manifest_without_a_job(spark, cat):
    """A lake scan lists the manifest's files on the driver: no Spark job
    until it executes, even past the 32 paths where Spark's own reader
    lists with a job. Pruning, time travel and typed-NULL evolution
    padding read the same rows as a plain scan."""
    t = cat.create_table("ns.tscan", SCHEMA, key_cols=["k", "seq"], n_buckets=40)
    t.append(mk(spark, [(f"k{i}", i, "v", "I", i) for i in range(400)]))
    v1 = t.current_snapshot()
    t.add_columns([StructField("extra", StringType(), True)])
    s2 = t.current_snapshot().schema()
    t.append(spark.createDataFrame(
        [(f"n{i}", i, "w", "U", 1000 + i, f"e{i}") for i in range(200)], s2))
    snap = t.current_snapshot()
    assert len(v1.files) > 32 and len(snap.files) > len(v1.files)

    # the probe sees the job Spark's own reader starts past 32 paths
    _, jobs = _jobs_started(spark, lambda: _plain(spark, t, s2, snap.files))
    assert jobs, "job-group probe is blind to Spark's file-listing job"

    _assert_scan(spark, t, t.read, s2, snap.files)
    keep = {0, 5, 11}
    _assert_scan(spark, t, lambda: t.read(buckets=sorted(keep)), s2,
                 [f for f in snap.files if f["bucket"] in keep])
    _assert_scan(spark, t, lambda: t.read(snapshot_id=v1.snapshot_id),
                 v1.schema(), v1.files)
    # evolution padding: the pre-ADD COLUMN rows read a typed NULL
    assert t.read().filter(F.col("extra").isNull()).count() == 400

    # the setting lives only in the lake's side session
    assert spark.conf.get(DISCOVERY) == "32"
    assert spark._lake_writer_session.conf.get(DISCOVERY) == str(2**31 - 1)


def test_delta_scan_plans_from_manifest_without_a_job(spark, cat):
    """A merge-on-read table, whose delta appends keep every version of a
    key until a compaction folds them, plans its scans from the manifest
    too: no Spark job, whole, bucket-pruned or time-travelled."""
    t = cat.create_table("ns.tdelta", SCHEMA, key_cols=["k", "seq"], n_buckets=40)
    for c in range(9):  # the same 100 keys in every delta
        rows = [(f"k{i}", i, f"v{c}", "U", 10 * c + i) for i in range(100)]
        t.append(mk(spark, rows), summary={"mode": "mor_delta"})
        if c == 0:
            first = t.current_snapshot()
    snap = t.current_snapshot()
    assert len(snap.files) > 32 and snap.delete_files == []

    _assert_scan(spark, t, t.read, SCHEMA, snap.files)
    _assert_scan(spark, t, lambda: t.read(buckets=[3]), SCHEMA,
                 [f for f in snap.files if f["bucket"] == 3])
    _assert_scan(spark, t, lambda: t.read(snapshot_id=first.snapshot_id),
                 SCHEMA, first.files)
    assert t.read().count() == 900
