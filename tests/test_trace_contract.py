"""The entry points that cdcbench's tracer wraps by name.

`cdcbench/spans.py` `Tracer.install()` replaces each of these attributes
with a span-recording wrapper. Deleting or renaming one breaks
`python3 cdcbench/run.py --trace 1` while every other test still passes, so
this test pins that each still exists and is callable. It does not install
the tracer."""

from citibike_pipeline_spark.cdc.engine import CdcEngine
from citibike_pipeline_spark.lake import merge
from citibike_pipeline_spark.lake.table import LakeTable
from citibike_pipeline_spark.plans import gold

TRACED = {
    CdcEngine: ["ingest_epoch_pandas", "replay", "apply_epoch", "apply_epochs",
                "maybe_autocompact"],
    merge: ["merge_into", "replace_groups"],
    LakeTable: ["replace_buckets", "append", "overwrite", "add_columns"],
    gold: ["update_gold"],
}


def test_traced_entry_points_exist():
    missing = [
        f"{owner.__name__}.{name}"
        for owner, names in TRACED.items()
        for name in names
        if not callable(getattr(owner, name, None))
    ]
    assert not missing, f"entry points cdcbench --trace 1 wraps are gone: {missing}"
