"""Seeded transcript generator owned by the benchmark.

Writes a transcript table with the engine's input schema

    conv_id:string, turn_idx:int, role:string, text:string,
    tool:string (nullable), ts:timestamp

using NumPy and PyArrow only, so no change to the program can change a
workload's input. Conversation lengths follow the same power-law family
as the program's own synthetic source: ``2 + floor(Pareto(alpha=2))``
capped at ``MAX_TURNS``; odd (assistant) turns call one of ``TOOLS``
with probability ``tool_rate`` (default ``TOOL_RATE``).

:func:`expected_graph` derives, from the same arrays and independently
of the program, the graph the ingest path must produce: vertices are
turns ranked by ``(conv_id, turn_idx)``; each turn links to the next
turn of its conversation (reply link) and each tool-using turn links to
the next turn, in ``(ts, conv_id, turn_idx)`` order, that uses the same
tool (tool link).
"""

from __future__ import annotations

import os

import numpy as np

MAX_TURNS = 64
TOOL_RATE = 0.25
TOOLS = ["search", "browser", "python", "sql", "calculator", "files", "email", "maps"]
ALPHA = 2.0
EPOCH_S = 1_700_000_000


def conversations(n_convs: int, seed: int, tool_rate: float = TOOL_RATE) -> dict[str, np.ndarray]:
    """Per-turn arrays for ``n_convs`` conversations drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    u = rng.random(n_convs)
    n_turns = np.minimum(
        MAX_TURNS, 2 + np.floor((1.0 - u) ** (-1.0 / ALPHA) - 1.0).astype(np.int64)
    )
    conv_seq = np.repeat(np.arange(n_convs, dtype=np.int64), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn_idx = np.arange(len(conv_seq), dtype=np.int64) - np.repeat(starts, n_turns)
    uses_tool = (turn_idx % 2 == 1) & (rng.random(len(conv_seq)) < tool_rate)
    tool = np.where(uses_tool, rng.integers(0, len(TOOLS), len(conv_seq)), -1)
    return {"conv_seq": conv_seq, "turn_idx": turn_idx, "tool": tool}


def write_transcripts(path: str, n_convs: int, seed: int, tool_rate: float = TOOL_RATE) -> None:
    """Write the seeded transcripts as one parquet file at ``path`` (atomic)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    c = conversations(n_convs, seed, tool_rate)
    conv_seq, turn_idx, tool = c["conv_seq"], c["turn_idx"], c["tool"]
    seq_s = conv_seq.astype(str).astype(object)
    conv_id = "c" + seq_s
    text = "turn-" + seq_s + "-" + turn_idx.astype(str).astype(object)
    role = np.where(turn_idx % 2 == 0, "user", "assistant")
    tool_names = np.array(TOOLS, dtype=object)[np.maximum(tool, 0)]
    ts_s = EPOCH_S + conv_seq * 86_400 + turn_idx * 30
    table = pa.table(
        {
            "conv_id": pa.array(conv_id, pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool_names, pa.string(), mask=tool < 0),
            "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(table, tmp, row_group_size=1 << 20)
    os.replace(tmp, path)


def expected_graph(n_convs: int, seed: int, tool_rate: float = TOOL_RATE) -> dict[str, np.ndarray | int]:
    """The canonical undirected edge set ``(lo, hi)`` over dense turn ids.

    Returns ``src``/``dst`` (both directions, sorted by (src, dst)) and
    ``n_turns``, which is also the vertex count.
    """
    c = conversations(n_convs, seed, tool_rate)
    conv_seq, turn_idx, tool = c["conv_seq"], c["turn_idx"], c["tool"]
    n = len(conv_seq)
    # dense id = rank of (conv_id string, turn_idx): "c10" sorts before "c2"
    conv_key = np.char.add("c", conv_seq.astype(str))
    order = np.lexsort((turn_idx, conv_key))
    vid = np.empty(n, dtype=np.int64)
    vid[order] = np.arange(n, dtype=np.int64)

    same_conv = conv_seq[1:] == conv_seq[:-1]
    reply = np.stack([vid[:-1][same_conv], vid[1:][same_conv]])

    tool_links = []
    for t in range(len(TOOLS)):
        rows = np.flatnonzero(tool == t)
        # ts order is (conv_seq, turn_idx) order; ties cannot occur
        ts = conv_seq[rows] * 86_400 + turn_idx[rows] * 30
        rows = rows[np.lexsort((turn_idx[rows], conv_key[rows], ts))]
        tool_links.append(np.stack([vid[rows[:-1]], vid[rows[1:]]]))
    pairs = np.concatenate([reply, *tool_links], axis=1)
    lo, hi = np.minimum(pairs[0], pairs[1]), np.maximum(pairs[0], pairs[1])
    keep = lo != hi
    und = np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)
    both = np.concatenate([und, und[:, ::-1]])
    both = both[np.lexsort((both[:, 1], both[:, 0]))]
    return {
        "src": both[:, 0],
        "dst": both[:, 1],
        "n_turns": n,
    }
