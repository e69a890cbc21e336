"""Exercise the scale knobs once at non-default values (VERDICT r1 #8):
n_buckets=256 with a hot conversation, where every commit holds exactly one
file per bucket it touched, then a small epoch whose merge prunes to the
touched buckets. Pins that the 10^10-row knobs (bucket count, day
partitioning) actually work when turned, not just at the 32-bucket default.
"""

from collections import Counter

import pandas as pd

from citibike_pipeline_spark.cdc import CdcEngine
from citibike_pipeline_spark.cdc.generator import GenConfig, generate_epoch

CFG = GenConfig(
    n_convs=50,
    n_epochs=1,
    events_per_epoch=20_000,
    seed=13,
    evolution_epoch=1,
    n_hot=1,
    turns_hot=400,
    turns_normal=20,
)

N_BUCKETS = 256


def _bucket_of(spark, conv_id: str) -> int:
    return spark.sql(
        f"SELECT CAST(pmod(xxhash64('{conv_id}'), {N_BUCKETS}) AS INT)"
    ).collect()[0][0]


def _one_file_per_bucket(snap, buckets: set[int]) -> None:
    files_by_bucket = Counter(f["bucket"] for f in snap.files if f["bucket"] in buckets)
    assert set(files_by_bucket) == buckets
    assert set(files_by_bucket.values()) == {1}, files_by_bucket


def test_large_bucket_count_one_file_per_bucket(spark, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "wh_knobs"), n_buckets=N_BUCKETS)
    eng.init_tables()
    pdf = generate_epoch(CFG, 0)
    eng.ingest_epoch_pandas(pdf, 0)
    eng.replay(catchup=False)

    snap = eng.silver.current_snapshot()
    assert snap.n_buckets == N_BUCKETS

    # the commit holds exactly one file per bucket it touched, the hot
    # conversation's (skewed generator) bucket included
    hot_conv = pdf["conv_id"].value_counts().idxmax()
    all_buckets = {_bucket_of(spark, c) for c in pdf["conv_id"].unique()}
    _one_file_per_bucket(snap, all_buckets)
    assert len(snap.files) == len(all_buckets)

    # a small follow-up epoch merges via bucket pruning: cost bounded by the
    # touched conversations' buckets, out of 256
    touched_convs = ["conv_00003", "conv_00007", hot_conv]
    max_lsn = int(pdf["lsn"].max())
    patch = pd.DataFrame(
        {
            "lsn": [max_lsn + i + 1 for i in range(len(touched_convs))],
            "op": ["U"] * len(touched_convs),
            "conv_id": touched_convs,
            "turn_idx": [0] * len(touched_convs),
            "role": ["user"] * len(touched_convs),
            "text": [f"patched-{c}" for c in touched_convs],
            "ts": pd.to_datetime(["2024-06-01 12:00:00"] * len(touched_convs)),
            "schema_version": [1] * len(touched_convs),
            "partition_id": [0] * len(touched_convs),
            "checkpoint_epoch": [1] * len(touched_convs),
        }
    )
    eng.ingest_epoch_pandas(patch, 1)
    m = eng.apply_epoch(1)
    expected_buckets = {_bucket_of(spark, c) for c in touched_convs}
    assert m["buckets_touched"] == len(expected_buckets)
    assert m["buckets_touched"] <= 3
    # the rewrite replaced each touched bucket with one file
    after = eng.silver.current_snapshot()
    _one_file_per_bucket(after, expected_buckets)
    assert {f["path"] for f in after.files} - {f["path"] for f in snap.files} == {
        f["path"] for f in after.files if f["bucket"] in expected_buckets
    }

    got = {
        r.conv_id: r.text
        for r in eng.silver_view().filter("turn_idx = 0").collect()
        if r.conv_id in touched_convs
    }
    assert got == {c: f"patched-{c}" for c in touched_convs}


def test_wide_buckets_with_day_partition_prunes_both_axes(spark, tmp_path):
    """The 10^10-row layout (SURVEY §4): days(ts) × bucket(conv_id) at
    n_buckets=1024. Merges prune on the bucket axis (from landing stats,
    no collect); time-scoped reads prune on the day axis — both verified
    at the manifest level (which files are listed to Spark at all)."""
    wide = GenConfig(
        n_convs=60, n_epochs=2, events_per_epoch=4000, seed=17,
        evolution_epoch=2, n_hot=1, turns_hot=100, turns_normal=20,
    )
    eng = CdcEngine(
        spark, str(tmp_path / "wh_wide"), n_buckets=1024, day_partition=True,
    )
    eng.init_tables()
    for e in range(wide.n_epochs):
        eng.ingest_epoch_pandas(generate_epoch(wide, e), e)
    m0 = eng.apply_epoch(0)
    m1 = eng.apply_epoch(1)

    snap = eng.silver.current_snapshot()
    assert snap.n_buckets == 1024 and snap.day_col == "ts"

    # bucket axis: at most one bucket per conversation — the merge rewrote
    # a tiny fraction of the 1024, with the bucket set known from landing
    for m in (m0, m1):
        assert m["buckets_precomputed"] is True
        assert 0 < m["buckets_touched"] <= wide.n_convs
    # every manifest entry carries both partition values
    assert all("day" in f and 0 <= f["bucket"] < 1024 for f in snap.files)
    days = sorted({f["day"] for f in snap.files})
    assert len(days) >= 2, "corpus must span multiple days to test pruning"

    # day axis: a one-day read lists ONLY that day's files...
    d0 = days[0]
    pruned = eng.silver.read(days=(d0, d0))
    want_files = {
        eng.silver._abs(f["path"]) for f in snap.files if f["day"] == d0
    }
    got_files = {p.replace("file://", "") for p in pruned.inputFiles()}
    assert got_files == want_files
    # ...and returns exactly the full scan filtered to that day
    import pyspark.sql.functions as F
    full = eng.silver.read()
    assert pruned.count() == full.filter(F.to_date("ts") == d0).count()

    # both axes combined: strictly fewer files than either alone
    some_bucket = snap.files[0]["bucket"]
    both = eng.silver.read(buckets=[some_bucket], days=(d0, d0))
    got_both = {p.replace("file://", "") for p in both.inputFiles()}
    assert got_both == {
        eng.silver._abs(f["path"])
        for f in snap.files
        if f["day"] == d0 and f["bucket"] == some_bucket
    }

    # logical state is unaffected by the physical layout
    resolved = eng.silver_view()
    assert resolved.count() > 0
    assert resolved.select("conv_id").distinct().count() <= wide.n_convs


def test_silver_resolved_day_scope_matches_filter(spark, tmp_path):
    """Day-scoped serving reads: under cow the scan is manifest-pruned with
    a residual exact filter; under mor the filter applies post-resolve (no
    day pruning of deltas — versions span days). Both must equal the plain
    filter over the full resolved table."""
    import pyspark.sql.functions as F
    wide = GenConfig(
        n_convs=40, n_epochs=2, events_per_epoch=3000, seed=23,
        evolution_epoch=2, n_hot=1, turns_hot=80, turns_normal=20,
    )
    for mode in ("cow", "mor"):
        eng = CdcEngine(
            spark, str(tmp_path / f"wh_dayscope_{mode}"), n_buckets=8,
            merge_mode=mode, day_partition=(mode == "cow"),
        )
        eng.init_tables()
        for e in range(wide.n_epochs):
            eng.ingest_epoch_pandas(generate_epoch(wide, e), e)
            eng.replay(catchup=False)
        full = eng.silver_resolved()
        days = sorted(
            r[0].isoformat()
            for r in full.select(F.to_date("ts").alias("d")).distinct().collect()
        )
        assert len(days) >= 2
        d0 = days[0]
        scoped = eng.silver_resolved(days=(d0, d0))
        want = full.filter(F.to_date("ts") == d0)
        assert scoped.count() == want.count() > 0, mode
        if mode == "cow":
            # the scoped scan listed only day-d0 files (+ residual filter)
            snap = eng.silver.current_snapshot()
            d0_files = {eng.silver._abs(f["path"]) for f in snap.files
                        if f.get("day") == d0}
            got = {p.replace("file://", "")
                   for p in eng.silver.read(days=(d0, d0)).inputFiles()}
            assert got == d0_files
