"""Schema reconciliation: strict validation + typed-NULL padding.

Two levels, mirroring the reference:

1. DataFrame-level (`reconcile_to_schema`): the engine's analog of the
   legacy/current superset projection — missing nullable columns become typed
   NULLs, column order is normalized, types are checked strictly
   (``validation.py:22-30``: missing columns error *unless* nullable-pad is
   sanctioned; unexpected columns error always).

2. Arrow-batch-level (`reconcile_batches`): when events of mixed schema
   versions flow through a pandas-UDF stage, each Arrow batch may carry a
   different column set; `mapInPandas` reconciles per batch — vectorized,
   never per-row (BASELINE.json:input_hint). The replay path does not use
   it: the engine reconciles with `reconcile_to_schema`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class SchemaDriftError(ValueError):
    pass


def reconcile_to_schema(df: DataFrame, target: StructType) -> DataFrame:
    """Project df onto `target`: pad missing nullable columns with typed
    NULLs, normalize order, reject unexpected or non-nullable-missing columns.
    """
    have = {f.name: f for f in df.schema.fields}
    want = [f.name for f in target.fields]
    unexpected = set(have) - set(want)
    if unexpected:
        raise SchemaDriftError(f"unexpected columns: {sorted(unexpected)}")
    cols = []
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        elif f.nullable:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        else:
            raise SchemaDriftError(f"missing non-nullable column: {f.name}")
    return df.select(*cols)


def union_schema_versions(dfs: list[DataFrame]) -> DataFrame:
    """Union event frames of different schema versions onto the superset —
    the `unionByName(allowMissingColumns=True)` seam (SURVEY.md §1.3)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def reconcile_batches(df: DataFrame, target: StructType) -> DataFrame:
    """Arrow-batch-level reconciliation via mapInPandas.

    Each pandas batch is padded/ordered to `target` inside the Python worker —
    the per-batch analog of ``validation.py:22-45`` (column-set check + cast),
    exercised when a pandas-UDF pipeline stage must emit a stable schema while
    consuming mixed-version batches.
    """
    want = [f.name for f in target.fields]

    def fix(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for c in want:
                if c not in b.columns:
                    b[c] = None
            yield b[want]

    return df.mapInPandas(fix, schema=target)
