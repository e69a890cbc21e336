"""MERGE INTO over snapshot tables — keyed upsert with delete support.

Semantics (identical to Iceberg/ANSI MERGE with the CDC clause set in
SURVEY.md §2.9 I2)::

    MERGE INTO target t USING changes c ON t.<key> = c.<key>
    WHEN MATCHED AND c.op = 'D' THEN DELETE
    WHEN MATCHED                THEN UPDATE SET *
    WHEN NOT MATCHED AND c.op != 'D' THEN INSERT *

The change-set MUST be pre-deduplicated to at most one row per key (the LWW
window in cdc.dedup) — like Iceberg, duplicate source keys are an error; that
contract is what makes the rewrite below correct.

Physical strategy (copy-on-write, bucket granularity):

1. bucket ids touched by the change-set — the caller's ``touched_buckets``
   when it knows them (the CDC engine records them when an epoch lands),
   else one distinct+collect over the change-set
2. target rows in ONLY those buckets      -> manifest-pruned scan
3. resolver(target_subset, changes)       -> new content of those buckets
   (default: target ⟕anti changes ∪ non-delete changes — "source wins";
   the CDC engine passes an LWW resolver that keeps whichever of
   target/change has the greater (lsn, op_rank), so stale redeliveries
   from earlier epochs can never clobber newer state)
4. replace_buckets(...)                   -> one atomic snapshot commit

Steps 1-4 are one body, `_rewrite_buckets`, shared by `merge_into` and the
group-scoped `replace_groups`; they differ only in the resolver.

Buckets untouched by the epoch are never read or rewritten, so the cost per
epoch scales with the change-set's key spread, not table size — the property
that keeps a 10^10-row target mergeable. Both join sides shuffle on the same
key columns; AQE's skew-join handles hot keys on the join side.

Reference analog being replaced: per-batch DELETE main WHERE key-range +
INSERT from staging (``citibike/database/staging.py:43-73``) and dbt
incremental MERGE by unique_key (``silver_trips.sql:1-10``).
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .table import LakeTable, Snapshot, bucket_expr

OP_COL = "op"


def _source_wins_resolver(cols: list[str], keys: list[str]):
    def resolve(target: DataFrame, changes: DataFrame) -> DataFrame:
        survivors = target.join(changes.select(*keys), on=keys, how="left_anti")
        upserts = changes.filter(F.col(OP_COL) != F.lit("D")).select(*cols)
        return survivors.select(*cols).unionByName(upserts)

    return resolve


def _rewrite_buckets(
    table: LakeTable,
    snap: Snapshot,
    keyed: DataFrame,
    touched_buckets: list[int] | None,
    resolve: Callable[[DataFrame], DataFrame],
    summary: dict | None,
) -> dict:
    """Replace the touched buckets of ``table`` with ``resolve(their rows)``.

    The touched set is ``touched_buckets`` when given (a superset is sound:
    extra buckets are rewritten identically), else the distinct buckets of
    ``keyed``'s rows, collected in one job. Returns merge stats
    {buckets_touched, snapshot_id, sec_*}."""
    t_touched = 0.0
    if touched_buckets is None:
        t0 = time.time()
        # hash by bucket_cols (the locality spec), NOT the merge key — the
        # write path and the pruning MUST hash identically
        touched_buckets = [
            r[0]
            for r in keyed.select(bucket_expr(snap.bucket_cols, snap.n_buckets))
            .distinct()
            .collect()
        ]
        t_touched = time.time() - t0
    touched = sorted(set(touched_buckets))
    if not touched:
        return {"buckets_touched": 0, "snapshot_id": snap.snapshot_id}
    cols = [f.name for f in snap.schema().fields]
    t0 = time.time()
    merged = resolve(table.read(buckets=touched)).select(*cols)
    new_snap = table.replace_buckets(merged, touched, summary=summary)
    return {
        "buckets_touched": len(touched),
        "snapshot_id": new_snap.snapshot_id,
        "sec_touched_collect": round(t_touched, 2),
        "sec_resolve_write": round(time.time() - t0, 2),
    }


def merge_into(
    table: LakeTable,
    changes: DataFrame,
    resolver: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    summary: dict | None = None,
    touched_buckets: list[int] | None = None,
) -> dict:
    """Apply a deduped keyed change-set (with `op` in I/U/D) to the table.

    ``touched_buckets`` is the steady-state fast path: the caller already
    knows which buckets the change-set hashes into (e.g. from WAL
    landing-time stats — bucket = f(key, n_buckets) is computable the moment
    the epoch lands), so the merge skips the touched-bucket distinct+collect
    job entirely. A superset is sound (extra buckets are rewritten
    identically); a wrong spec is the caller's responsibility to invalidate.

    The change-set is persisted when it is consumed twice: by the bucket
    collect and the resolve, or by the DEFAULT resolver's two probes
    (anti-join keys + upserts). A caller-supplied resolver with known
    buckets — e.g. the engine's LWW max_by, which consumes `changes`
    exactly once — skips the persist.

    Returns merge stats {buckets_touched, buckets_precomputed, snapshot_id,
    sec_*}.
    """
    snap = table.current_snapshot()
    cols = [f.name for f in snap.schema().fields]
    resolve = resolver or _source_wins_resolver(cols, snap.key_cols)
    cache_changes = touched_buckets is None or resolver is None
    if cache_changes:
        changes = changes.persist()
    try:
        stats = _rewrite_buckets(
            table, snap, changes, touched_buckets,
            lambda target: resolve(target, changes), summary,
        )
    finally:
        if cache_changes:
            changes.unpersist()
    return {**stats, "buckets_precomputed": touched_buckets is not None}


def replace_groups(
    table: LakeTable,
    group_cols: list[str],
    groups: DataFrame,
    new_rows: DataFrame,
    summary: dict | None = None,
    touched_buckets: list[int] | None = None,
) -> dict:
    """Group-scoped refresh MERGE: atomically replace the table's contents for
    the given key-groups with ``new_rows`` (the freshly computed state of
    exactly those groups), leaving every other group's files untouched.

    This is the incremental-materialization primitive for derived (gold)
    tables whose rows are a pure per-group function of an upstream table —
    the reference's dbt ``incremental`` MERGE by unique key scoped to the
    current batch (``gold_fact_trips.sql:1-9``). Groups that vanish upstream
    (e.g. a fully deleted conversation) are removed simply by being in
    ``groups`` while contributing no ``new_rows``.

    Requires ``group_cols`` to be a prefix-superset of the table's
    ``bucket_cols`` so the rewrite prunes to the groups' buckets: cost scales
    with the change-set's group spread, not table size. Tables sharing a
    bucket spec can reuse ONE precomputed ``touched_buckets`` set.
    """
    snap = table.current_snapshot()
    if not set(snap.bucket_cols) <= set(group_cols):
        raise ValueError(
            f"replace_groups: bucket_cols {snap.bucket_cols} must be derivable "
            f"from group_cols {group_cols} for pruning to be sound"
        )
    cols = [f.name for f in snap.schema().fields]
    groups = groups.select(*group_cols).distinct().persist()
    try:
        return _rewrite_buckets(
            table, snap, groups, touched_buckets,
            lambda target: target.join(groups, on=group_cols, how="left_anti")
            .select(*cols)
            .unionByName(new_rows.select(*cols)),
            summary,
        )
    finally:
        groups.unpersist()
