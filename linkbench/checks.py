"""Numpy references and output checks for every benchmarked engine call.

Each ``check_*`` function takes the engine's collected output plus the
benchmark's own view of the input graph and returns ``(ok, detail)``.
Nothing here imports the engine or Spark, so the checks run (and are
tested) on plain arrays.

Graphs are ``(src, dst)`` int64 arrays over dense vertex ids ``0..n-1``;
duplicate edges count once per copy (as in the engine's PageRank), and
the undirected algorithms (components, label propagation, triangles) use
the distinct loop-free undirected pair set, as the engine does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EPS = 0.15  # teleport probability used by both PageRank variants

Result = tuple[bool, str]


# -- graph build ---------------------------------------------------------


def transcript_key_edges(t: pd.DataFrame) -> pd.DataFrame:
    """The typed edges a transcript table induces, as vertex keys
    ``kind#key``: turn i-1 → turn i and role(i-1) → role(i) within each
    conversation, and turn → tool for turns that reference one."""
    t = t.sort_values(["conv_id", "turn_idx"], kind="stable")
    turn = "turn#" + t["conv_id"] + "#" + t["turn_idx"].astype(str)
    same = (t["conv_id"].to_numpy()[1:] == t["conv_id"].to_numpy()[:-1])
    tk = turn.to_numpy()
    rk = ("role#" + t["role"]).to_numpy()
    has_tool = t["tool"].notna().to_numpy()
    return pd.DataFrame(
        {
            "src": np.concatenate([tk[:-1][same], rk[:-1][same], tk[has_tool]]),
            "dst": np.concatenate(
                [tk[1:][same], rk[1:][same], ("tool#" + t["tool"][has_tool]).to_numpy()]
            ),
            "kind": np.repeat(
                ["turn_chain", "role_role", "turn_tool"],
                [int(same.sum()), int(same.sum()), int(has_tool.sum())],
            ),
        }
    )


def check_transcript_build(
    expected: pd.DataFrame, vertices: pd.DataFrame, edges: pd.DataFrame
) -> tuple[bool, str, np.ndarray, np.ndarray, int]:
    """Engine ``vertices(vid, kind, key)`` and ``edges(src, dst, kind)``
    against the expected key edges. Vertex ids must be dense and unique,
    the dictionary must cover exactly the edge endpoints, and the edge
    multiset must match. Returns ``(ok, detail, src, dst, n)`` with the
    expected edges mapped through the (checked) dictionary."""
    n = len(vertices)
    empty = np.zeros(0, np.int64)
    vid = vertices["vid"].to_numpy(np.int64)
    if not np.array_equal(np.sort(vid), np.arange(n)):
        return False, "vertex ids are not dense 0..n-1", empty, empty, n
    keys = (vertices["kind"] + "#" + vertices["key"]).to_numpy()
    ends = np.unique(np.concatenate([expected["src"], expected["dst"]]))
    if len(np.unique(keys)) != n or not np.array_equal(np.sort(keys), ends):
        return False, "vertex dictionary != edge endpoint keys", empty, empty, n
    lookup = pd.Series(vid, index=keys)
    src = lookup[expected["src"].to_numpy()].to_numpy()
    dst = lookup[expected["dst"].to_numpy()].to_numpy()
    exp = _edge_rows(src, dst, expected["kind"].to_numpy())
    got = _edge_rows(
        edges["src"].to_numpy(np.int64),
        edges["dst"].to_numpy(np.int64),
        edges["kind"].to_numpy(),
    )
    if not np.array_equal(exp, got):
        return False, f"edge multiset differs ({len(got)} vs {len(exp)} edges)", empty, empty, n
    return True, f"{n} vertices, {len(src)} edges", src, dst, n


def _edge_rows(src, dst, kind) -> np.ndarray:
    codes = {"turn_chain": 0, "role_role": 1, "turn_tool": 2}
    k = np.array([codes.get(x, 3) for x in kind], dtype=np.int64)
    rows = np.stack([src, dst, k], axis=1)
    return rows[np.lexsort(rows.T[::-1])]


def check_edges(src: np.ndarray, dst: np.ndarray, got: pd.DataFrame) -> Result:
    """Engine ``edges(src, dst)`` equals the generated edge multiset."""
    exp = np.sort(src * (1 << 32) + dst)
    obs = np.sort(got["src"].to_numpy(np.int64) * (1 << 32) + got["dst"].to_numpy(np.int64))
    if not np.array_equal(exp, obs):
        return False, f"edge multiset differs ({len(obs)} vs {len(exp)} edges)"
    return True, f"{len(exp)} edges"


# -- PageRank ------------------------------------------------------------


def pagerank_reference(src, dst, n: int, steps: int, eps: float = EPS) -> np.ndarray:
    """``steps`` supersteps of power iteration from π = 1/n: each vertex
    sends π/out_deg along every out-edge, dangling mass is spread
    uniformly, π' = ε/n + (1-ε)(contributions + m/n)."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    dang = deg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(steps):
        m = r[dang].sum()
        contrib = np.bincount(dst, weights=r[src] / deg[src], minlength=n)
        r = eps / n + (1.0 - eps) * (contrib + m / n)
    return r


def _dense(got: pd.DataFrame, col: str, n: int) -> np.ndarray | None:
    """Engine ``(v, col)`` rows → array indexed by v, or None unless v
    covers exactly 0..n-1."""
    v = got["v"].to_numpy(np.int64)
    if len(v) != n or not np.array_equal(np.sort(v), np.arange(n)):
        return None
    out = np.empty(n, dtype=got[col].dtype)
    out[v] = got[col].to_numpy()
    return out


def check_pagerank_power(got: pd.DataFrame, src, dst, n: int, steps: int) -> Result:
    r = _dense(got, "rank", n)
    if r is None:
        return False, "rank vector does not cover the vertex set"
    ref = pagerank_reference(src, dst, n, steps)
    err = float(np.max(np.abs(r - ref)))
    if not np.allclose(r, ref, rtol=1e-9, atol=1e-15):
        return False, f"max |rank - reference| = {err:.3g} after {steps} supersteps"
    return True, f"max abs err {err:.2g} after {steps} supersteps"


def expected_visits(src, dst, n: int, k: int, steps: int, eps: float = EPS) -> np.ndarray:
    """E[ζ]: ``k`` walks start at every vertex, each survives a step with
    probability 1-ε and moves to a uniform out-edge; walks at dangling
    vertices die. ζ counts every visit, the start included."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    x = np.full(n, float(k))
    total = x.copy()
    for _ in range(steps):
        x = (1.0 - eps) * np.bincount(dst, weights=x[src] / deg[src], minlength=n)
        total += x
    return total


def check_pagerank_mc(got: pd.DataFrame, info: dict, src, dst, n: int, k: int, steps: int) -> Result:
    """Exact identity Σζ = k·n + Σ per-step walk totals on integral ζ ≥ k,
    plus a statistical L1 bound against the exact expectation."""
    r = _dense(got, "rank", n)
    if r is None:
        return False, "rank vector does not cover the vertex set"
    total = int(info["total_visits"])
    step_totals = [int(x) for x in info["step_walk_totals"]]
    if int(info["iterations"]) != steps or len(step_totals) != steps:
        return False, f"ran {info['iterations']} supersteps, expected {steps}"
    if total != k * n + sum(step_totals):
        return False, f"Σζ = {total} != k·n + Σ walk totals = {k * n + sum(step_totals)}"
    z = r * total
    zi = np.rint(z)
    if np.max(np.abs(z - zi)) > 1e-6 or zi.min() < k or int(zi.sum()) != total:
        return False, "visit counts ζ = rank·Σζ are not integers ≥ k summing to Σζ"
    ez = expected_visits(src, dst, n, k, steps)
    l1 = float(np.abs(zi / total - ez / ez.sum()).sum())
    # Var ζ_v ≤ steps · (E ζ_v - k): a walk visits v at most `steps` times
    # after its start. E|dev| ≤ sd, and normalising at most doubles the
    # error, so E[L1] ≤ 2 Σ sd / Σ E ζ; the sum concentrates well below it.
    bound = 2.0 * float(np.sqrt(steps * np.maximum(ez - k, 0.0)).sum()) / float(ez.sum())
    if l1 > bound:
        return False, f"L1 to expectation {l1:.4f} > bound {bound:.4f}"
    return True, f"Σζ identity holds; L1 {l1:.4f} <= {bound:.4f}"


# -- undirected algorithms -------------------------------------------------


def undirected_pairs(src, dst) -> tuple[np.ndarray, np.ndarray]:
    """Distinct loop-free undirected pairs ``x < y``."""
    keep = src != dst
    x = np.minimum(src[keep], dst[keep])
    y = np.maximum(src[keep], dst[keep])
    key = np.unique(x * (1 << 32) + y)
    return key >> 32, key & ((1 << 32) - 1)


def components_reference(src, dst, n: int) -> np.ndarray:
    """Min-label propagation with pointer jumping: every vertex ends with
    the minimum vertex id of its undirected component."""
    lab = np.arange(n, dtype=np.int64)
    while True:
        new = lab.copy()
        np.minimum.at(new, src, lab[dst])
        np.minimum.at(new, dst, lab[src])
        while True:  # a label is a vertex of the same component: jump
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def _exact_labels(got: pd.DataFrame, col: str, ref: np.ndarray, verts: np.ndarray, what: str) -> Result:
    v = got["v"].to_numpy(np.int64)
    if len(v) != len(verts) or not np.array_equal(np.sort(v), verts):
        return False, f"{what} vertex set differs ({len(v)} vs {len(verts)})"
    bad = int((got[col].to_numpy(np.int64) != ref[v]).sum())
    if bad:
        return False, f"{bad} of {len(v)} {what} labels differ from the reference"
    return True, f"{len(v)} labels exact, {len(np.unique(ref[verts]))} distinct"


def check_components(got: pd.DataFrame, src, dst, verts: np.ndarray, n: int) -> Result:
    return _exact_labels(got, "component", components_reference(src, dst, n), verts, "component")


def labelprop_reference(src, dst, n: int, max_iters: int) -> np.ndarray:
    """Synchronous label propagation: labels start as own ids; each step a
    vertex with neighbours adopts the most frequent neighbour label (over
    distinct undirected neighbours), ties to the smallest label; stop
    after a step that changes nothing or after ``max_iters`` steps."""
    x, y = undirected_pairs(src, dst)
    v = np.concatenate([x, y])  # receiver
    u = np.concatenate([y, x])  # sender
    lab = np.arange(n, dtype=np.int64)
    for _ in range(max_iters):
        key, cnt = np.unique(v * (1 << 32) + lab[u], return_counts=True)
        kv, kl = key >> 32, key & ((1 << 32) - 1)
        order = np.lexsort((kl, -cnt, kv))  # per v: max count, then min label
        kv, kl = kv[order], kl[order]
        first = np.ones(len(kv), dtype=bool)
        first[1:] = kv[1:] != kv[:-1]
        new = lab.copy()
        new[kv[first]] = kl[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return lab


def check_labelprop(got: pd.DataFrame, src, dst, verts: np.ndarray, n: int, max_iters: int) -> Result:
    return _exact_labels(got, "label", labelprop_reference(src, dst, n, max_iters), verts, "label")


def triangles_reference(src, dst) -> int:
    """Exact triangle count of the undirected closure: orient each pair
    from lower to higher (degree, id), then count, for every oriented
    edge a→b, the common out-neighbours of a and b."""
    x, y = undirected_pairs(src, dst)
    if len(x) == 0:
        return 0
    n = int(max(x.max(), y.max())) + 1
    deg = np.bincount(np.concatenate([x, y]), minlength=n)
    lo_first = (deg[x] < deg[y]) | ((deg[x] == deg[y]) & (x < y))
    a = np.where(lo_first, x, y)
    b = np.where(lo_first, y, x)
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    start = np.searchsorted(a, np.arange(n + 1))
    keys = a * (1 << 32) + b  # sorted
    total = 0
    for lo in range(0, len(a), 1 << 14):  # bounded wedge batches
        ea, eb = a[lo: lo + (1 << 14)], b[lo: lo + (1 << 14)]
        # wedge (ea → eb) + (ea → w) closes iff eb → w is an oriented edge;
        # each triangle is counted once, at its lowest vertex and middle one
        cnt = start[ea + 1] - start[ea]
        src_rep = np.repeat(eb, cnt)
        offs = np.arange(int(cnt.sum())) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        w = b[np.repeat(start[ea], cnt) + offs]
        q = src_rep * (1 << 32) + w
        pos = np.minimum(np.searchsorted(keys, q), len(keys) - 1)
        total += int((keys[pos] == q).sum())
    return total


def check_triangles(got: int, src, dst) -> Result:
    ref = triangles_reference(src, dst)
    if int(got) != ref:
        return False, f"{got} triangles, reference {ref}"
    return True, f"{ref} triangles"
