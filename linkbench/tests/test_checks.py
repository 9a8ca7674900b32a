"""Every output check passes on a correct output and fails on a
deliberately corrupted one."""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

N = 400


@pytest.fixture(scope="module")
def graph():
    src, dst = gen.powerlaw_edges(11, N, 4)
    # a few dangling vertices: drop every edge out of 0..9
    keep = src >= 10
    return src[keep], dst[keep]


def _frame(col, values):
    return pd.DataFrame({"v": np.arange(len(values)), col: values})


# -- graph build --


@pytest.fixture(scope="module")
def built():
    t = gen.transcripts(4, 600)
    exp = checks.transcript_key_edges(t)
    keys = np.unique(np.concatenate([exp["src"], exp["dst"]]))
    vid = np.random.default_rng(0).permutation(len(keys))
    kind, key = zip(*(k.split("#", 1) for k in keys))
    vertices = pd.DataFrame({"vid": vid, "kind": kind, "key": key})
    lookup = dict(zip(keys, vid))
    edges = pd.DataFrame(
        {"src": exp["src"].map(lookup), "dst": exp["dst"].map(lookup), "kind": exp["kind"]}
    )
    return exp, vertices, edges


def test_build_ok(built):
    assert checks.check_transcript_build(*built)[0]


def test_build_catches_dropped_edge(built):
    exp, vertices, edges = built
    assert not checks.check_transcript_build(exp, vertices, edges.iloc[1:])[0]


def test_build_catches_wrong_kind(built):
    exp, vertices, edges = built
    bad = edges.copy()
    bad.loc[0, "kind"] = "turn_tool" if bad.loc[0, "kind"] != "turn_tool" else "turn_chain"
    assert not checks.check_transcript_build(exp, vertices, bad)[0]


def test_build_catches_duplicate_vid(built):
    exp, vertices, edges = built
    bad = vertices.copy()
    bad.loc[0, "vid"] = bad.loc[1, "vid"]
    assert not checks.check_transcript_build(exp, bad, edges)[0]


def test_edges(graph):
    src, dst = graph
    got = pd.DataFrame({"src": src, "dst": dst})
    assert checks.check_edges(src, dst, got)[0]
    bad = got.copy()
    bad.loc[0, "dst"] = (bad.loc[0, "dst"] + 1) % N
    assert not checks.check_edges(src, dst, bad)[0]


# -- PageRank --


def test_pagerank_power(graph):
    src, dst = graph
    ref = checks.pagerank_reference(src, dst, N, 7)
    assert abs(ref.sum() - 1.0) < 1e-12
    assert checks.check_pagerank_power(_frame("rank", ref), src, dst, N, 7)[0]
    bad = ref.copy()
    bad[3] *= 1 + 1e-6
    assert not checks.check_pagerank_power(_frame("rank", bad), src, dst, N, 7)[0]
    assert not checks.check_pagerank_power(_frame("rank", ref), src, dst, N, 6)[0]


def _simulate_mc(src, dst, n, k, steps, seed=0):
    """Walk-by-walk Monte Carlo with the engine's rules."""
    rng = np.random.default_rng(seed)
    order = np.argsort(src, kind="stable")
    s, d = src[order], dst[order]
    start = np.searchsorted(s, np.arange(n + 1))
    deg = np.diff(start)
    pos = np.repeat(np.arange(n), k)
    visits = np.bincount(pos, minlength=n)
    totals = []
    for _ in range(steps):
        alive = (deg[pos] > 0) & (rng.random(len(pos)) < 1 - checks.EPS)
        pos = pos[alive]
        pos = d[start[pos] + (rng.random(len(pos)) * deg[pos]).astype(np.int64)]
        visits += np.bincount(pos, minlength=n)
        totals.append(len(pos))
    total = int(visits.sum())
    info = {"total_visits": total, "step_walk_totals": totals, "iterations": steps}
    return _frame("rank", visits / total), info


def test_pagerank_mc_ok(graph):
    src, dst = graph
    got, info = _simulate_mc(src, dst, N, 20, 5)
    ok, detail = checks.check_pagerank_mc(got, info, src, dst, N, 20, 5)
    assert ok, detail


def test_pagerank_mc_catches_broken_identity(graph):
    src, dst = graph
    got, info = _simulate_mc(src, dst, N, 20, 5)
    info = dict(info, step_walk_totals=[info["step_walk_totals"][0] + 1] + info["step_walk_totals"][1:])
    assert not checks.check_pagerank_mc(got, info, src, dst, N, 20, 5)[0]


def test_pagerank_mc_catches_non_integral_visits(graph):
    src, dst = graph
    got, info = _simulate_mc(src, dst, N, 20, 5)
    bad = got.copy()
    bad.loc[5, "rank"] += 0.5 / info["total_visits"]
    bad.loc[6, "rank"] -= 0.5 / info["total_visits"]
    assert not checks.check_pagerank_mc(bad, info, src, dst, N, 20, 5)[0]


def test_pagerank_mc_catches_shuffled_ranks(graph):
    src, dst = graph
    got, info = _simulate_mc(src, dst, N, 20, 5)
    bad = got.copy()
    bad["rank"] = np.random.default_rng(1).permutation(bad["rank"].to_numpy())
    assert not checks.check_pagerank_mc(bad, info, src, dst, N, 20, 5)[0]


# -- undirected algorithms --


def test_components(graph):
    src, dst = graph
    verts = np.arange(N)
    ref = checks.components_reference(src, dst, N)
    assert checks.check_components(_frame("component", ref), src, dst, verts, N)[0]
    bad = ref.copy()
    bad[np.argmax(ref)] = 0 if ref.max() else 1
    assert not checks.check_components(_frame("component", bad), src, dst, verts, N)[0]
    assert not checks.check_components(_frame("component", ref[:-1]), src, dst, verts, N)[0]


def test_components_isolated_pieces():
    src = np.array([0, 1, 3, 5])
    dst = np.array([1, 2, 4, 5])
    assert checks.components_reference(src, dst, 7).tolist() == [0, 0, 0, 3, 3, 5, 6]


def test_labelprop(graph):
    src, dst = graph
    verts = np.arange(N)
    ref = checks.labelprop_reference(src, dst, N, 3)
    assert checks.check_labelprop(_frame("label", ref), src, dst, verts, N, 3)[0]
    bad = ref.copy()
    bad[7] += 1
    assert not checks.check_labelprop(_frame("label", bad), src, dst, verts, N, 3)[0]


def test_labelprop_rule():
    # one synchronous step from own-id labels: 0 hears {1, 2, 3, 4} once
    # each and takes the smallest; 4 hears {0, 5, 6} and takes 0; the
    # leaves hear only their hub
    src = np.array([0, 0, 0, 4, 4, 4])
    dst = np.array([1, 2, 3, 0, 5, 6])
    lab = checks.labelprop_reference(src, dst, 7, 1)
    assert lab.tolist() == [1, 0, 0, 0, 0, 4, 4]


def test_triangles(graph):
    src, dst = graph
    ref = checks.triangles_reference(src, dst)
    assert ref > 0
    assert checks.check_triangles(ref, src, dst)[0]
    assert not checks.check_triangles(ref + 1, src, dst)[0]


def test_triangles_small():
    # K4 has 4 triangles; duplicate, reversed and self-loop edges do not count
    src = np.array([0, 0, 0, 1, 1, 2, 1, 3, 2])
    dst = np.array([1, 2, 3, 2, 3, 3, 0, 3, 2])
    assert checks.triangles_reference(src, dst) == 4
