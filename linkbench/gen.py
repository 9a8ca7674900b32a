"""Seeded input generators for the link-graph benchmark.

The benchmark owns these generators and never imports the engine's own
``datagen`` module, so a change to the program cannot change the inputs.
Everything here is plain numpy: the same seed gives byte-identical
inputs on every host.

* :func:`transcripts` — a conversation-transcript table in the engine's
  input schema ``(conv_id, turn_idx, role, text, tool, ts)``.
  Conversation lengths follow a power law and tools a Zipf law, so the
  derived graph has a few hub vertices (roles, popular tools).
* :func:`powerlaw_edges` — a hash-derived digraph with uniform
  out-degree and skewed in-degree.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
TOOLS = np.array(
    ["bash", "search", "read_file", "write_file", "browser", "sql", "calc",
     "plot", "fetch", "grep", "edit", "run_tests"],
    dtype=object,
)
ZIPF_S = 1.3  # tool popularity p_k ∝ 1 / k^s
TOOL_SHARE = 0.20  # share of turns that reference a tool
MAX_CONV_TURNS = 128
EPOCH_S = 1_700_000_000

_WORDS = np.array(
    ["the", "file", "test", "run", "error", "please", "check", "output", "line",
     "function", "ok", "done", "résumé", "naïve", "结果", "🎉", "data", "value",
     "return", "import", "graph", "edge", "rank", "step", "\n", "\t", "→"],
    dtype=object,
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([int(seed), stream]))


def _conv_lengths(rng: np.random.Generator, n_turns: int) -> np.ndarray:
    """Power-law conversation lengths (many 2-4 turn conversations, a few
    up to ``MAX_CONV_TURNS``) summing to exactly ``n_turns``."""
    # draw more than enough in one go, then cut at the exact total
    draw = 2 + np.minimum(rng.pareto(1.1, size=n_turns) * 3.0, MAX_CONV_TURNS - 2)
    lens = draw.astype(np.int64)
    cum = np.cumsum(lens)
    k = int(np.searchsorted(cum, n_turns))  # first conv reaching the total
    lens = lens[: k + 1].copy()
    lens[-1] -= int(cum[k]) - n_turns
    return lens[lens > 0]


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Turn payloads of realistic length: log-normal word counts (median
    about 20 words, long tail), words from a small vocabulary that
    includes multi-byte characters, newlines and tabs."""
    n_words = np.minimum(rng.lognormal(3.0, 1.0, size=n).astype(np.int64), 2000)
    words = _WORDS[rng.integers(0, len(_WORDS), size=int(n_words.sum()))]
    ends = np.cumsum(n_words)
    starts = ends - n_words
    return [" ".join(words[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]


def transcripts(seed: int, n_turns: int) -> pd.DataFrame:
    """Transcript table with exactly ``n_turns`` rows, deterministic in
    ``(seed, n_turns)``."""
    rng = _rng(seed, 1)
    lens = _conv_lengths(rng, n_turns)
    conv = np.repeat(np.arange(len(lens)), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    turn_idx = (np.arange(n_turns) - starts).astype(np.int32)
    role = np.where(turn_idx % 2 == 0, "user", "assistant").astype(object)
    special = rng.random(n_turns) < 0.08
    role[special] = ROLES[2 + rng.integers(0, 2, size=int(special.sum()))]
    p = 1.0 / np.arange(1, len(TOOLS) + 1) ** ZIPF_S
    tool = np.full(n_turns, None, dtype=object)
    has_tool = rng.random(n_turns) < TOOL_SHARE
    tool[has_tool] = TOOLS[rng.choice(len(TOOLS), size=int(has_tool.sum()), p=p / p.sum())]
    # µs timestamps, monotone within a conversation: each conversation
    # starts on its own 10 000 s slot and advances by random gaps
    gaps = rng.integers(1, 120_000_000, size=n_turns)
    cum = np.cumsum(gaps)
    first = np.cumsum(lens) - lens
    within = cum - np.repeat(cum[first] - gaps[first], lens)
    ts_us = EPOCH_S * 1_000_000 + conv * 10_000_000_000 + within
    return pd.DataFrame(
        {
            "conv_id": np.char.add("conv-", np.char.zfill(conv.astype(str), 7)).astype(object),
            "turn_idx": turn_idx,
            "role": role,
            "text": _texts(rng, n_turns),
            "tool": tool,
            "ts": pd.to_datetime(ts_us, unit="us"),
        }
    )


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def powerlaw_edges(seed: int, n: int, out_degree: int) -> tuple[np.ndarray, np.ndarray]:
    """``(src, dst)`` int64 arrays: every vertex of ``0..n-1`` has exactly
    ``out_degree`` out-edges; destinations are hash-derived with
    P(rank r) ∝ r^(-2/3) (cube of a uniform), scattered over the id space
    by a seeded permutation. Duplicate edges and self-loops occur, as in
    real link graphs; no vertex is dangling."""
    src = np.repeat(np.arange(n, dtype=np.uint64), out_degree)
    j = np.tile(np.arange(out_degree, dtype=np.uint64), n)
    with np.errstate(over="ignore"):
        key = (src * np.uint64(out_degree) + j) ^ _splitmix64(
            np.full(1, seed, dtype=np.uint64)
        )
        h = _splitmix64(key)
    u = (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    rank = np.minimum((n * u**3).astype(np.int64), n - 1)
    perm = _rng(seed, 2).permutation(n)
    return src.astype(np.int64), perm[rank]


def adjacency_lines(src: np.ndarray, dst: np.ndarray, n: int) -> str:
    """The reference's adjacency text format: one ``src<TAB>dst...`` line
    per vertex, neighbours in edge order (``src`` must be sorted)."""
    starts = np.searchsorted(src, np.arange(n + 1))
    d = dst.astype(str)
    return "".join(
        "\t".join([str(v), *d[starts[v]: starts[v + 1]]]) + "\n" for v in range(n)
    )
