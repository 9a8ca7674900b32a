"""The benchmark's inputs are a pure function of the seed."""

import io
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _bytes(df) -> bytes:
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf)
    return buf.getvalue()


def test_transcripts_same_seed_same_bytes():
    assert _bytes(gen.transcripts(7, 3000)) == _bytes(gen.transcripts(7, 3000))


def test_transcripts_other_seed_other_input():
    assert _bytes(gen.transcripts(7, 3000)) != _bytes(gen.transcripts(8, 3000))


def test_transcripts_shape():
    t = gen.transcripts(3, 2500)
    assert len(t) == 2500
    assert list(t.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t["turn_idx"].dtype == np.int32
    first = t.groupby("conv_id")["turn_idx"].min()
    assert (first == 0).all()
    assert t.groupby("conv_id")["ts"].apply(lambda s: s.is_monotonic_increasing).all()
    assert t["tool"].notna().mean() < 0.3
    assert t["text"].str.len().median() > 20


def test_powerlaw_same_seed_same_bytes():
    a = gen.powerlaw_edges(5, 1000, 8)
    b = gen.powerlaw_edges(5, 1000, 8)
    assert all(x.tobytes() == y.tobytes() for x, y in zip(a, b))
    assert gen.adjacency_lines(*a, 1000) == gen.adjacency_lines(*b, 1000)


def test_powerlaw_other_seed_other_input():
    assert gen.powerlaw_edges(5, 1000, 8)[1].tobytes() != gen.powerlaw_edges(6, 1000, 8)[1].tobytes()


def test_powerlaw_degrees():
    src, dst = gen.powerlaw_edges(1, 4096, 16)
    assert (np.bincount(src, minlength=4096) == 16).all()
    assert dst.min() >= 0 and dst.max() < 4096
    indeg = np.bincount(dst, minlength=4096)
    assert indeg.max() > 20 * indeg.mean()  # skewed in-degree


def test_adjacency_lines_roundtrip():
    src, dst = gen.powerlaw_edges(2, 50, 3)
    lines = gen.adjacency_lines(src, dst, 50).splitlines()
    parsed = [list(map(int, line.split("\t"))) for line in lines]
    assert [p[0] for p in parsed] == list(range(50))
    assert np.array_equal(np.concatenate([p[1:] for p in parsed]), dst)
