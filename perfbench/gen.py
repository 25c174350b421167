"""Seeded input generation for the benchmark.

Everything here is NumPy + pyarrow in the calling process: no Spark, no
threads beyond what NumPy uses. The same ``seed`` always gives the same
table; ``run.py`` writes it (or the edge list derived from it) as the
parquet input the program reads.

The transcripts table has the engine's input schema
``(conv_id, turn_idx, role, text, tool, ts)`` and the shape of the engine's
own fixture (``elektra_spark.ingest.transcripts.synth_transcripts``):
conversation lengths are a clipped lognormal in [2, 200] (median ~15 turns),
tool calls follow a power-of-two decay over the same vocabulary, so a few
tool vertices become hubs, and text is 5-44 tokens from the same word list.
One departure: the fixture puts tool calls on 1 in 8 assistant turns, and
assistant turns never follow each other, so its graph has no triangles.
Here the same overall share of turns (1 in 16) calls a tool, but any turn
may, so two consecutive turns calling the same tool close a triangle (turn,
next turn, tool hub) and the triangle check compares a non-zero count.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

TOOLS = np.array(["bash", "read", "edit", "write", "grep", "glob", "web", "sql"])
_TOOL_P = 2.0 ** -np.arange(1, len(TOOLS) + 1)
_TOOL_P /= _TOOL_P.sum()
WORDS = np.array([
    "the", "graph", "edge", "vertex", "spark", "join", "shuffle", "label",
    "rank", "merge", "batch", "query", "tree", "forest", "level", "component",
    "turn", "tool", "agent", "plan", "scan", "filter", "group", "sort",
    "hash", "min", "sum", "count", "link", "cut", "walk", "path",
])
TOOL_RATE = 1 / 16


def transcripts(n_turns: int, seed: int) -> pa.Table:
    """Exactly ``n_turns`` turns (the last conversation is cut to fit), so
    every seed gives a graph of nearly the same size."""
    rng = np.random.default_rng(seed)
    lengths = np.clip(np.rint(np.exp(2.7 + 0.8 * rng.standard_normal(n_turns // 2))), 2, 200).astype(np.int64)
    lengths = lengths[:np.searchsorted(np.cumsum(lengths), n_turns) + 1]
    lengths[-1] -= lengths.sum() - n_turns
    if lengths[-1] < 2:  # fold a one-turn tail into the conversation before
        lengths[-2] += lengths[-1]
        lengths = lengths[:-1]
    n_conv = len(lengths)
    conv_idx = np.repeat(np.arange(n_conv), lengths)
    starts = np.cumsum(lengths) - lengths
    turn = (np.arange(len(conv_idx)) - np.repeat(starts, lengths)).astype(np.int32)
    is_tool = rng.random(len(turn)) < TOOL_RATE
    tool_pick = rng.choice(len(TOOLS), size=len(turn), p=_TOOL_P)
    role = np.where(is_tool, "tool", np.where(turn % 2 == 0, "user", "assistant"))
    conv_id = np.char.add("conv", np.char.zfill(conv_idx.astype(str), 8))
    n_tok = rng.integers(5, 45, size=len(turn))
    tokens = WORDS[rng.integers(0, len(WORDS), size=int(n_tok.sum()))]
    text = [" ".join(t) for t in np.split(tokens, np.cumsum(n_tok)[:-1])]
    ts = (1_700_000_000 + conv_idx * 3600 + turn.astype(np.int64) * 30) * 1_000_000
    return pa.table({
        "conv_id": pa.array(conv_id, pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(np.where(is_tool, TOOLS[tool_pick], None), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def derive_edges(table: pa.Table) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The link graph the engine must derive, computed independently:
    turn vids are dense under ``conv_id`` order, tool hubs follow the turn
    range in tool-name order, edges are reply ``(v, v+1)`` plus tool-call
    ``(turn, hub)``, canonical ``src < dst``. → (src, dst, vids), sorted."""
    conv = table.column("conv_id").to_numpy(zero_copy_only=False).astype(str)
    turn = table.column("turn_idx").to_numpy().astype(np.int64)
    tool = table.column("tool").to_numpy(zero_copy_only=False)
    order = np.lexsort((turn, conv))
    conv, turn, tool = conv[order], turn[order], tool[order]
    n_turns = len(turn)
    vid = np.arange(n_turns, dtype=np.int64)
    same_conv_next = np.zeros(n_turns, dtype=bool)
    same_conv_next[:-1] = conv[:-1] == conv[1:]
    reply_src = vid[same_conv_next]
    has_tool = np.array([t is not None for t in tool])
    names = np.array(sorted(set(tool[has_tool].tolist())), dtype=object)
    hub = n_turns + np.searchsorted(names.astype(str), tool[has_tool].astype(str))
    src = np.concatenate([reply_src, vid[has_tool]])
    dst = np.concatenate([reply_src + 1, hub])
    o = np.lexsort((dst, src))
    vids = np.arange(n_turns + len(names), dtype=np.int64)
    return src[o], dst[o], vids


def split_preload(src: np.ndarray, dst: np.ndarray, seed: int, preload: float, insert_size: int):
    """A random ``preload`` share of the edges, and a batch of
    ``insert_size`` of the other edges to insert later. → (base, batch),
    each an ``(k, 2)`` int64 array."""
    rng = np.random.default_rng(seed + 1)
    edges = np.stack([src, dst], axis=1)[rng.permutation(len(src))]
    n_base = int(len(edges) * preload)
    if len(edges) - n_base < insert_size:
        raise ValueError(f"graph too small for an insert batch of {insert_size} edges")
    return edges[:n_base], edges[n_base:n_base + insert_size]
