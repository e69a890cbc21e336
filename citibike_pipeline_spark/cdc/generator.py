"""Deterministic synthetic WAL/binlog event generator (FIXTURES.md F2).

Replaces the reference's HTTP-download source (``downloader.py:17-81``) with a
seeded generator — the sandbox has no network and the CDC engine's input is a
change-event log, not CSV archives. Everything is numpy-vectorized and pure:
``epoch_base(e)`` is a function of (seed, epoch) only, so redelivered events
can be *regenerated* identically rather than stored, and any epoch can be
produced independently (requirement for resume tests and for generating 10^7+
events in bounded memory).

Event-log properties injected per FIXTURES.md F2 (each is a test dimension):
1. duplicate LSNs across epochs (redelivery)        -> exactly-once
2. multiple updates per key with increasing LSN     -> LWW dedup
3. out-of-order arrival within an epoch             -> order independence
4. delete-then-reinsert sequences                   -> final-op-wins
5. LSN ties on distinct ops                         -> (lsn, OP_RANK) order
6. schema evolution at `evolution_epoch`            -> v1 lacks `tool`
7. hot-conversation skew                            -> full-key resolve exchange / AQE
8. (checkpoint_epoch, partition_id) lineage stamps  -> manifests
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "python", "browser", "editor", ""])  # "" -> NULL
OPS = np.array(["I", "U", "D"])
TS_BASE = np.datetime64("2025-01-01T00:00:00")


@dataclass(frozen=True)
class GenConfig:
    n_convs: int = 1000
    n_epochs: int = 8
    events_per_epoch: int = 10_000
    seed: int = 42
    # epochs >= evolution_epoch emit schema-v2 events (with `tool`)
    evolution_epoch: int = 4
    n_hot: int = 3              # designated hot conversations
    hot_share: float = 0.3      # fraction of events hitting hot convs
    turns_normal: int = 50      # turn_idx range for normal convs
    turns_hot: int = 5000       # turn_idx range for hot convs (10^4-ish turns)
    redelivery_frac: float = 0.02   # of prior epoch re-sent verbatim
    tie_frac: float = 0.005         # extra same-LSN different-op rows
    n_partitions: int = 8           # source WAL partitions


def _conv_id(nums: np.ndarray) -> np.ndarray:
    return np.char.add("conv_", np.char.zfill(nums.astype("U8"), 8))


def epoch_base(cfg: GenConfig, epoch: int) -> pd.DataFrame:
    """The epoch's 'fresh' events — pure function of (cfg.seed, epoch)."""
    rng = np.random.default_rng([cfg.seed, epoch])
    n = cfg.events_per_epoch

    hot = rng.random(n) < cfg.hot_share
    conv_num = np.where(
        hot,
        rng.integers(0, max(cfg.n_hot, 1), n),
        rng.integers(cfg.n_hot, max(cfg.n_convs, cfg.n_hot + 1), n),
    )
    turn_cap = np.where(conv_num < cfg.n_hot, cfg.turns_hot, cfg.turns_normal)
    turn_idx = (rng.random(n) * turn_cap).astype(np.int32)
    op = OPS[rng.choice(3, n, p=[0.5, 0.4, 0.1])]

    # Monotone global LSNs: strided so tie rows can slot in between.
    lsn = (np.int64(epoch) * n + np.arange(n, dtype=np.int64)) * 4

    return _assemble(cfg, epoch, rng, lsn, op, conv_num, turn_idx)


def _assemble(cfg, epoch, rng, lsn, op, conv_num, turn_idx) -> pd.DataFrame:
    n = len(lsn)
    conv = _conv_id(conv_num)
    role = ROLES[rng.integers(0, len(ROLES), n)]
    text = np.array(
        [f"{c}|t{t}|lsn{l}" for c, t, l in zip(conv, turn_idx, lsn)], dtype=object
    )
    is_del = op == "D"
    role = np.where(is_del, None, role)
    text = np.where(is_del, None, text)
    ts = TS_BASE + conv_num.astype("timedelta64[h]") + turn_idx.astype("timedelta64[m]")

    df = pd.DataFrame(
        {
            "lsn": lsn,
            "op": op,
            "conv_id": conv,
            "turn_idx": turn_idx.astype(np.int32),
            "role": role,
            "text": text,
            "ts": ts.astype("datetime64[us]"),
            "schema_version": np.int32(2 if epoch >= cfg.evolution_epoch else 1),
            "partition_id": (conv_num % cfg.n_partitions).astype(np.int32),
            "checkpoint_epoch": np.int32(epoch),
        }
    )
    if epoch >= cfg.evolution_epoch:
        tool = TOOLS[rng.integers(0, len(TOOLS), n)]
        tool = np.where(is_del | (tool == ""), None, tool)
        df.insert(6, "tool", tool)
    return df


def generate_epoch(cfg: GenConfig, epoch: int) -> pd.DataFrame:
    """Full arrival stream for one epoch: base + LSN-tie rows + redelivered
    slice of the previous epoch, shuffled (out-of-order arrival)."""
    rng = np.random.default_rng([cfg.seed, epoch, 7])
    parts = [epoch_base(cfg, epoch)]
    base = parts[0]

    # (5) LSN ties: same (key, lsn), different op -> OP_RANK breaks the tie.
    n_tie = int(len(base) * cfg.tie_frac)
    if n_tie:
        idx = rng.choice(len(base), n_tie, replace=False)
        ties = base.iloc[idx].copy().reset_index(drop=True)
        flip = {"I": "U", "U": "D", "D": "I"}
        ties["op"] = ties["op"].map(flip)
        dele = ties["op"] == "D"
        ties.loc[dele, ["role", "text"]] = None
        if "tool" in ties.columns:
            ties.loc[dele, "tool"] = None
        alive = ties["op"] != "D"
        ties.loc[alive, "text"] = [
            f"{c}|t{t}|lsn{l}|tie"
            for c, t, l in zip(
                ties.loc[alive, "conv_id"], ties.loc[alive, "turn_idx"], ties.loc[alive, "lsn"]
            )
        ]
        parts.append(ties)

    # (1) redelivery: verbatim rows from the previous epoch's stream arrive
    # again in this epoch (same lsn/key/op/payload, new checkpoint_epoch).
    if epoch > 0 and cfg.redelivery_frac > 0:
        prev = epoch_base(cfg, epoch - 1)
        k = int(len(prev) * cfg.redelivery_frac)
        if k:
            re = prev.iloc[rng.choice(len(prev), k, replace=False)].copy()
            re["checkpoint_epoch"] = np.int32(epoch)
            # v1 epoch redelivered into a v2 epoch: pad `tool` as typed NULL
            if "tool" not in re.columns and epoch >= cfg.evolution_epoch:
                re.insert(6, "tool", None)
            parts.append(re)

    out = pd.concat(parts, ignore_index=True)
    # (3) out-of-order arrival: shuffle the whole epoch deterministically.
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)


def generate_corpus_pandas(cfg: GenConfig) -> pd.DataFrame:
    """All epochs concatenated (v1 rows padded with tool=NULL) — oracle input."""
    frames = []
    for e in range(cfg.n_epochs):
        df = generate_epoch(cfg, e)
        if "tool" not in df.columns:
            df = df.copy()
            df.insert(6, "tool", None)
        frames.append(df)
    return pd.concat(frames, ignore_index=True)
