"""Output checks computed apart from the program.

Silver is compared with the pandas oracle (`cdc.oracle.expected_silver`) over
exactly the events the benchmark landed; gold is checked against properties
derived from that oracle silver with plain pandas. Every function returns a
list of problems; an empty list means the outputs are correct.
"""

from __future__ import annotations

import os

import pandas as pd

from citibike_pipeline_spark.cdc.oracle import expected_conv_stats, expected_silver
from citibike_pipeline_spark.cdc.schemas import TURN_COLUMNS

KEYS = ["conv_id", "turn_idx"]


class Oracle:
    """Expected state for a list of landed epoch frames."""

    def __init__(self, frames: list[pd.DataFrame]):
        padded = []
        for df in frames:
            if "tool" not in df.columns:
                df = df.copy()
                df.insert(6, "tool", None)
            padded.append(df)
        events = pd.concat(padded, ignore_index=True)
        self.silver = expected_silver(events)
        self.silver["ts"] = self.silver["ts"].astype("datetime64[us]")
        self.stats = expected_conv_stats(self.silver)
        self.partitions = {
            (int(e), int(p))
            for e, p in events[["checkpoint_epoch", "partition_id"]]
            .drop_duplicates()
            .itertuples(index=False)
        }


def _gold(eng, name: str) -> pd.DataFrame:
    return eng.catalog.load_table(name).read().toPandas()


def _frame_diff(what: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    try:
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
        )
    except AssertionError as e:
        return [f"{what}: {str(e).splitlines()[0][:200]}"]
    return []


def check_silver(eng, oracle: Oracle) -> list[str]:
    got = eng.silver_view().toPandas()
    problems = []
    if got.duplicated(KEYS).any():
        problems.append("silver_view: a key appears more than once")
    got = got[TURN_COLUMNS + ["lsn"]].sort_values(
        KEYS + ["lsn"], kind="mergesort"
    )
    got["ts"] = got["ts"].astype("datetime64[us]")
    return problems + _frame_diff("silver_view vs oracle", got, oracle.silver)


def check_manifests(eng, oracle: Oracle) -> list[str]:
    got = set()
    for fn in os.listdir(os.path.join(eng.warehouse, "_meta", "manifests")):
        if fn.startswith("e") and fn.endswith(".json"):
            e, _, p = fn[1:-5].partition("_p")
            got.add((int(e), int(p)))
    if got != oracle.partitions:
        return [f"manifests: {len(got)} (epoch, partition) files, "
                f"{len(oracle.partitions)} landed"]
    return []


def check_gold(eng, oracle: Oracle) -> list[str]:
    problems: list[str] = []
    want_stats = oracle.stats
    silver = oracle.silver

    cols = ["conv_id", "n_turns", "n_tool_turns", "first_ts", "last_ts", "duration_sec"]
    cs = _gold(eng, "gold.conv_stats")[cols].sort_values("conv_id")
    for c in ("first_ts", "last_ts"):
        cs[c] = cs[c].astype("datetime64[us]")
    want = want_stats[cols].copy()
    for c in ("first_ts", "last_ts"):
        want[c] = want[c].astype("datetime64[us]")
    problems += _frame_diff("gold.conv_stats", cs, want)

    live = silver[KEYS].sort_values(KEYS).reset_index(drop=True)
    n_turns = want_stats.set_index("conv_id")["n_turns"]
    rt = _gold(eng, "gold.running_turns")
    problems += _frame_diff(
        "gold.running_turns keys", rt[KEYS].sort_values(KEYS), live
    )
    last = rt.groupby("conv_id")["cum_turns"].max().sort_index()
    if not last.equals(n_turns.sort_index().astype(last.dtype)):
        problems.append("gold.running_turns: cum_turns does not end at the turn count")

    qf = _gold(eng, "gold.quality_flags")
    problems += _frame_diff(
        "gold.quality_flags keys", qf[KEYS].sort_values(KEYS), live
    )
    if qf["is_duplicate_key"].fillna(False).astype(bool).any():
        problems.append("gold.quality_flags: is_duplicate_key is true")

    tools = silver[silver["tool"].notna()]
    want_tu = pd.DataFrame({
        "n_calls": tools.groupby("tool").size(),
        "n_convs": tools.groupby("tool")["conv_id"].nunique(),
    }).sort_index()
    tu = _gold(eng, "gold.tool_usage").set_index("tool")[["n_calls", "n_convs"]]
    problems += _frame_diff(
        "gold.tool_usage", tu.sort_index().astype("int64"), want_tu.astype("int64")
    )

    dd = pd.to_datetime(_gold(eng, "gold.dim_dates")["date_key"]).sort_values()
    days = silver["ts"].dt.normalize()
    if len(dd) == 0 or (dd.diff().dropna() != pd.Timedelta(days=1)).any():
        problems.append("gold.dim_dates: not one contiguous run of days")
    elif dd.iloc[0] > days.min() or dd.iloc[-1] < days.max():
        problems.append("gold.dim_dates: does not cover the oracle date span")

    top_want = (
        want_stats[want_stats["n_turns"] >= 10]
        .sort_values(["n_turns", "conv_id"], ascending=[False, True], kind="mergesort")
        .head(100)[["conv_id", "n_turns"]]
    )
    top = _gold(eng, "gold.top_conversations")[["conv_id", "n_turns"]].sort_values(
        ["n_turns", "conv_id"], ascending=[False, True], kind="mergesort"
    )
    problems += _frame_diff("gold.top_conversations", top, top_want)
    return problems


def check_all(eng, oracle: Oracle) -> list[str]:
    return (
        check_silver(eng, oracle)
        + check_manifests(eng, oracle)
        + check_gold(eng, oracle)
    )


def report(problems: list[str]) -> bool:
    for p in problems:
        print("CHECK FAILED:", p, flush=True)
    return not problems

