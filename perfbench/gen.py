"""Seeded transcripts input, written with pyarrow.

The same shape as ``addax_spark.synth.transcripts`` (FIXTURES.md F1) —
1% hot conversations at 43x the turns of a cold one, 1..300 s gaps between
turns, multi-minute holes on every 7th turn of every 5th conversation,
50..999-character texts, roles and tools — drawn with numpy from the seed
instead of through Spark, so generating it costs the run no Spark jobs.

Two choices differ from synth, so that the seed changes the values but not
the size of the work: the holey conversations are every 5th by position
(never a hot one) rather than a seeded 20%, and hot conversations start at
midnight. With few hot conversations, a seed that made one holey (or
started it late) would stretch it over more than twice as many days, and
the job's cost with it.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "tool"], dtype=object)
TOOLS = np.array(["search", "python", "browser", "sql", "bash", "editor", "calc", "fetch"],
                 dtype=object)
EPOCH_US = int(pd.Timestamp("2025-01-01").value // 1000)
HOT_MULT = 43
SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def transcripts(seed: int, n_convs: int, avg_turns: int, hot: bool = True) -> pd.DataFrame:
    """Columns conv_id, turn_idx, role, text, tool, ts_us (epoch micros)."""
    rng = np.random.default_rng(seed)
    n_hot = max(1, n_convs // 100) if hot and n_convs >= 100 else 0
    idx = np.arange(n_convs)
    n_turns = np.where(
        idx < n_hot, HOT_MULT * avg_turns,
        max(1, avg_turns // 2) + rng.integers(0, avg_turns, n_convs),
    )
    conv = np.repeat(idx, n_turns)
    starts = np.concatenate([[0], np.cumsum(n_turns)[:-1]])
    turn_idx = np.arange(len(conv)) - np.repeat(starts, n_turns)
    holey = np.repeat((idx % 5 == 4) & (idx >= n_hot), n_turns)
    gap_s = 1 + rng.integers(0, 300, len(conv))
    gap_s += np.where(holey & (turn_idx % 7 == 3), 120 + 60 * rng.integers(0, 49, len(conv)), 0)
    # cumulative gaps within each conversation, from a start in the first day
    cum = np.cumsum(gap_s)
    ofs_s = cum - np.repeat(cum[starts] - gap_s[starts], n_turns)
    conv_start = np.repeat(np.where(idx < n_hot, 0, rng.integers(0, 86400, n_convs)), n_turns)
    ts_us = EPOCH_US + (conv_start + ofs_s) * 1_000_000
    role = ROLES[rng.integers(0, 3, len(conv))]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, 8, len(conv))], None)
    body = "".join(f"{b:016x}" for b in rng.integers(0, 2**63, 64, dtype=np.int64))
    text_len = 50 + rng.integers(0, 950, len(conv))
    body_at = rng.integers(0, len(body) - 1000, len(conv))
    text = [f"t{i}:{body[a:a + n]}" for i, a, n in zip(turn_idx, body_at, text_len)]
    return pd.DataFrame({
        "conv_id": [f"conv-{c:06d}" for c in conv],
        "turn_idx": turn_idx.astype(np.int32),
        "role": role,
        "text": text,
        "tool": tool,
        "ts_us": ts_us.astype(np.int64),
    })


def write(pdf: pd.DataFrame, path: str, files: int = 8) -> None:
    """Write ``pdf`` as ``files`` parquet files under ``path`` (Spark-style
    part files, ``ts`` as a UTC timestamp)."""
    os.makedirs(path, exist_ok=True)
    out = pdf.drop(columns="ts_us").assign(
        ts=pd.to_datetime(pdf["ts_us"], unit="us", utc=True))
    for i, part in enumerate(np.array_split(np.arange(len(out)), files)):
        if len(part):
            table = pa.Table.from_pandas(out.iloc[part], schema=SCHEMA, preserve_index=False)
            pq.write_table(table, f"{path}/part-{i:05d}.parquet")
