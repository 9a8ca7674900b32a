"""PageRank golden-graph + oracle tests (SURVEY.md §5.2 items 2-4).

PI is exact math → allclose 1e-6 against the pure-python oracle.
MC is a stochastic estimator → statistical tolerance, documented per test
(stderr of zeta_v/Sigma-zeta shrinks with K; K chosen so 3 sigma < tol).
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from montecarlopagerank_spark.algos.pagerank_mc import pagerank_monte_carlo
from montecarlopagerank_spark.algos.pagerank_power import pagerank_power, top_k
from tests.oracle import pagerank_oracle


def ranks_dict(df):
    return {r["v"]: r["rank"] for r in df.collect()}


def test_pi_cycle5_uniform(spark, cycle5):
    ranks, info = pagerank_power(spark, cycle5, tol=1e-9, max_iters=50)
    got = ranks_dict(ranks)
    assert info["converged"]
    # cycle is rank-regular: uniform 1/5 for any eps, converges in 1 step
    assert info["iterations"] == 1
    for v in range(5):
        assert got[v] == pytest.approx(0.2, abs=1e-9)


def test_pi_star5_closed_form(spark, star5):
    """Hub 0 dangling, spokes 1..4 -> 0. Closed form (eps=.15):
    p = eps/5 + (1-eps)h/5 ; h = eps/5 + (1-eps)(4p + h/5)
    => h = 11/21, p = 5/42."""
    ranks, info = pagerank_power(spark, star5, tol=1e-12, max_iters=300)
    got = ranks_dict(ranks)
    assert got[0] == pytest.approx(11 / 21, abs=1e-9)
    for v in range(1, 5):
        assert got[v] == pytest.approx(5 / 42, abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pi_vs_oracle_gnutella_mini(spark, gnutella_mini, gnutella_mini_pairs):
    """allclose 1e-6 at convergence vs independent pure-python PI
    (BASELINE.json north_rule's match criterion, operationalized per
    SURVEY.md §2.6 note 1)."""
    ranks, info = pagerank_power(spark, gnutella_mini, tol=1e-9, max_iters=200)
    assert info["converged"]
    oracle = pagerank_oracle(gnutella_mini_pairs, tol=1e-12)
    got = ranks_dict(ranks)
    assert set(got) == set(oracle)
    for v, r in oracle.items():
        assert got[v] == pytest.approx(r, abs=1e-6), f"vertex {v}"


def test_pi_mass_conservation(spark, gnutella_mini):
    ranks, _ = pagerank_power(spark, gnutella_mini, tol=1e-6, max_iters=100)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pi_empty_graph(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    ranks, info = pagerank_power(spark, empty)
    assert ranks.count() == 0 and info["converged"]


def test_top_k(spark, star5):
    ranks, _ = pagerank_power(spark, star5, tol=1e-9, max_iters=200)
    rows = top_k(ranks, 2).collect()
    assert rows[0]["v"] == 0  # the hub
    assert rows[0]["rank"] > rows[1]["rank"]


def test_mc_cycle5_statistical(spark, cycle5):
    """Uniform truth 0.2. K=500, 20 supersteps: per-vertex visit share has
    stderr ~ sqrt(p(1-p)/total) ~ 0.002 at total ~ 16k visits; tolerance
    0.02 = ~10 sigma."""
    ranks, info = pagerank_monte_carlo(
        spark, cycle5, walks_per_vertex=500, iterations=20
    )
    got = ranks_dict(ranks)
    for v in range(5):
        assert got[v] == pytest.approx(0.2, abs=0.02)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_mc_agrees_with_pi(spark, gnutella_mini, gnutella_mini_pairs):
    """Cross-implementation convergence, the reference's own methodology
    (Project Paper/McPageRankSpark.tex:155-159): MC vs PI rank correlation
    + top-10 overlap."""
    pi_ranks, _ = pagerank_power(spark, gnutella_mini, tol=1e-9, max_iters=200)
    mc_ranks, _ = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=100, iterations=15
    )
    pi_d, mc_d = ranks_dict(pi_ranks), ranks_dict(mc_ranks)
    assert set(pi_d) == set(mc_d)
    vs = sorted(pi_d)
    n = len(vs)
    mp = sum(pi_d[v] for v in vs) / n
    mm = sum(mc_d[v] for v in vs) / n
    cov = sum((pi_d[v] - mp) * (mc_d[v] - mm) for v in vs)
    sp = math.sqrt(sum((pi_d[v] - mp) ** 2 for v in vs))
    sm = math.sqrt(sum((mc_d[v] - mm) ** 2 for v in vs))
    corr = cov / (sp * sm)
    assert corr > 0.97, f"rank correlation {corr}"
    top_pi = set(sorted(pi_d, key=pi_d.get, reverse=True)[:10])
    top_mc = set(sorted(mc_d, key=mc_d.get, reverse=True)[:10])
    assert len(top_pi & top_mc) >= 7


def test_mc_deterministic_same_seed(spark, gnutella_mini):
    r1, _ = pagerank_monte_carlo(spark, gnutella_mini, walks_per_vertex=20,
                                 iterations=5, seed=7)
    r2, _ = pagerank_monte_carlo(spark, gnutella_mini, walks_per_vertex=20,
                                 iterations=5, seed=7)
    assert ranks_dict(r1) == ranks_dict(r2)


def test_mc_parallelism_invariance(spark, gnutella_mini):
    """Block-seeded RNG => identical output at different shuffle/physical
    parallelism (SURVEY.md §7.3; underpins the N-vs-4N scaling evidence).
    The reference is seeded per physical partition and fails this
    (MonteCarloPageRank.scala:50-52)."""
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        r1, _ = pagerank_monte_carlo(
            spark, gnutella_mini.repartition(2), walks_per_vertex=20,
            iterations=5, seed=99)
        d1 = ranks_dict(r1)
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        r2, _ = pagerank_monte_carlo(
            spark, gnutella_mini.repartition(11), walks_per_vertex=20,
            iterations=5, seed=99)
        d2 = ranks_dict(r2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert d1 == d2  # byte-identical, not just allclose


def test_mc_empty_graph(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    ranks, info = pagerank_monte_carlo(spark, empty, iterations=3)
    assert ranks.count() == 0
    assert info["total_visits"] == 0 and info["iterations"] == 0


def test_router_matches_searchsorted_oracle():
    """Coupon->block routing (pagerank_mc._block_of, the numpy router
    inside the walk UDF) against a searchsorted oracle, over a large and
    a small boundary set, with keys on a boundary and one below it."""
    import numpy as np

    from montecarlopagerank_spark.algos import pagerank_mc as m

    rng = np.random.default_rng(7)
    bounds = sorted({0, *rng.integers(1, 1 << 30, size=700).tolist()})
    rkeys = np.concatenate(
        [rng.integers(0, 1 << 31, size=300),
         np.asarray(bounds[:50]),              # exactly on a boundary
         np.asarray([b - 1 for b in bounds[1:40]])]  # just below one
    ).astype(np.int64)
    # oracle: index of the last boundary <= rkey
    expect = (np.searchsorted(np.asarray(bounds), rkeys, side="right") - 1)

    for nb in (len(bounds), 512):
        sub = np.asarray(bounds[:nb], dtype=np.int64)
        exp_sub = np.searchsorted(sub, rkeys, side="right") - 1
        got = m._block_of(rkeys, sub, np.arange(nb, dtype=np.int32))
        for rk, g, e in zip(rkeys.tolist(), got.tolist(), exp_sub.tolist()):
            assert g == e, (nb, rk)
    assert expect is not None


def test_router_sparse_block_ids():
    """The router must emit the ACTUAL (possibly skipping) planner block
    ids, not the positional boundary index — positional ids address
    nonexistent CSR side-files (ADVICE r2, high). Checked on raw rkeys
    and through ``_route`` on vertex ids of a hub-free plan."""
    import numpy as np

    from montecarlopagerank_spark.algos import pagerank_mc as m
    from montecarlopagerank_spark.operators.adjacency import REPLICA_BITS

    rng = np.random.default_rng(11)
    bounds = sorted({0, *rng.integers(1, 1 << 30, size=600).tolist()})
    # sparse ids: strictly increasing but with gaps (as the prefix-sum
    # floor-division produces when a row's weight spans a boundary)
    block_ids = np.cumsum(rng.integers(1, 4, size=len(bounds))).tolist()
    rkeys = np.concatenate(
        [rng.integers(0, 1 << 31, size=200),
         np.asarray(bounds[:30]),
         np.asarray([b - 1 for b in bounds[1:30]])]
    ).astype(np.int64)
    for nb in (len(bounds), 400):
        sub_b, sub_i = bounds[:nb], block_ids[:nb]
        pos = np.searchsorted(np.asarray(sub_b), rkeys, side="right") - 1
        expect = np.asarray(sub_i)[pos]
        plan = m._route_plan(sub_b, sub_i, [])
        got = m._block_of(rkeys, plan.bounds, plan.block_ids)
        for rk, g, e in zip(rkeys.tolist(), got.tolist(), expect.tolist()):
            assert g == e, (nb, rk)
        v = np.unique(rkeys >> REPLICA_BITS)
        c = np.arange(len(v), dtype=np.int64)
        bid, rk, cc = m._route(plan, v, c, None)
        vpos = np.searchsorted(np.asarray(sub_b), v << REPLICA_BITS,
                               side="right") - 1
        assert bid.tolist() == np.asarray(sub_i)[vpos].tolist()
        assert rk.tolist() == (v << REPLICA_BITS).tolist()
        assert cc.tolist() == c.tolist()


def test_mc_skipped_block_id_walks_survive(spark):
    """A vertex with out_deg == edges_per_block makes the prefix-sum
    floor-division SKIP a block id (weights 99,101,6 at epb=100 → ids
    0,0,2). Before the fix, expression routing emitted positional ids, so
    every coupon of the vertex after the skip was routed to a nonexistent
    CSR block and silently died — ranks downstream of it were 0."""
    from montecarlopagerank_spark.operators.adjacency import plan_walk_blocks

    pairs = (
        [(0, t) for t in range(100, 198)]        # out_deg 98  (weight 99)
        + [(1, t) for t in range(100, 200)]      # out_deg 100 (weight 101)
        + [(2, t) for t in range(200, 205)]      # out_deg 5   (weight 6)
    )
    edges = spark.createDataFrame(pairs, "src long, dst long")
    # premise guard: the plan really does skip an id at this block size
    assign, _csr, meta = plan_walk_blocks(edges, edges_per_block=100)
    ids = meta["block_ids"]
    for df in meta["cached"]:
        df.unpersist()
    assert ids == sorted(ids) and len(ids) >= 2
    assert ids != list(range(len(ids))), f"premise broken: dense ids {ids}"

    ranks, info = pagerank_monte_carlo(
        spark, edges, walks_per_vertex=50, iterations=3, edges_per_block=100
    )
    got = ranks_dict(ranks)
    # vertices 200..204 are reachable ONLY via vertex 2 (the post-skip
    # block); K=50 coupons → P(no arrivals at all) < 1e-30
    tail = sum(got[t] for t in range(200, 205))
    assert tail > 0, "walks of the post-skip block silently died"
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_mc_state_root_file_uri(spark, gnutella_mini, tmp_path):
    """Worker-resident CSR reads must be filesystem-agnostic: with
    ``state_root`` given as a ``file://`` URI, every side-file read in the
    walk kernels goes through pyarrow.fs (pagerank_mc._resolve_fs) instead
    of os.path — the shape that works when superstep state lives on DFS.
    Output must be byte-identical to the plain-local-path run."""
    r_local, _ = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=5, seed=3,
        edges_per_block=1 << 12,
    )
    d_local = ranks_dict(r_local)
    r_uri, info = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=5, seed=3,
        edges_per_block=1 << 12, state_root=f"file://{tmp_path}/mc_state",
    )
    assert ranks_dict(r_uri) == d_local
    assert info["total_visits"] > 0
    # the r4 publication bug wrote a literal cwd-relative "file:" dir
    # when the scheme survived stripping — assert no stray dir appeared
    # outside the state root (double-slash form)
    assert not os.path.exists("file:")


def test_mc_state_root_file_uri_single_slash(spark, gnutella_mini, tmp_path):
    """Hadoop/Spark normalize local URIs to the single-slash ``file:/p``
    form (``Path.toString``), which has no ``://``. That form must strip
    to a plain local path too — previously it passed ``_is_local`` but
    was returned unstripped, so ``_publish_block`` recreated the literal
    ``file:`` junk dir under cwd (the exact bug 470f79c fixed for the
    double-slash form). Forms that name no local absolute path raise."""
    from montecarlopagerank_spark.algos import pagerank_mc as mc

    assert mc._strip_file_scheme(f"file:{tmp_path}/x") == f"{tmp_path}/x"
    assert mc._strip_file_scheme(f"file://{tmp_path}/x") == f"{tmp_path}/x"
    assert mc._strip_file_scheme(f"file:///{tmp_path.name}") == (
        "/" + tmp_path.name
    )
    assert mc._strip_file_scheme("/plain/path") is None
    assert mc._strip_file_scheme("hdfs://nn/path") is None
    for bad in ("file://host/p", f"file://host{tmp_path}", "file:rel/p",
                "file:./p"):
        with pytest.raises(ValueError):
            mc._strip_file_scheme(bad)
    with pytest.raises(ValueError):
        pagerank_monte_carlo(spark, gnutella_mini, iterations=1,
                             state_root=f"file://host{tmp_path}/mc")
    r_local, _ = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=5, seed=3,
        edges_per_block=1 << 12,
    )
    d_local = ranks_dict(r_local)
    r_uri, info = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=5, seed=3,
        edges_per_block=1 << 12, state_root=f"file:{tmp_path}/mc_state1",
    )
    assert ranks_dict(r_uri) == d_local
    assert info["total_visits"] > 0
    # published decode side-files landed under the STRIPPED root, and no
    # literal "file:" directory was created anywhere under cwd
    assert os.path.isdir(f"{tmp_path}/mc_state1/csr/_decoded")
    assert not os.path.exists("file:")


def test_publish_block_race_loser_discards(tmp_path):
    """If another worker already published a block, _publish_block's
    rename fails and the loser's tmp dir is discarded — the winner's
    files stay intact and no .tmp litter survives."""
    import numpy as np

    from montecarlopagerank_spark.algos import pagerank_mc as mc

    root = str(tmp_path)
    win = (np.array([1, 2]), np.array([0, 1, 2]), np.array([2, 1]))
    mc._publish_block(root, 5, win)
    assert mc._mmap_block(root, 5) is not None
    lose = (np.array([9]), np.array([0, 1]), np.array([9]))
    mc._publish_block(root, 5, lose)  # rename onto existing dir fails
    got = mc._mmap_block(root, 5)
    assert list(got[0]) == [1, 2]  # winner's content survived
    leftovers = [p for p in (tmp_path / "_decoded").iterdir()
                 if ".tmp." in p.name]
    assert leftovers == []


def test_preload_all_decode_once_then_mmap(tmp_path, monkeypatch):
    """Local-root warms decode each block's parquet AT MOST ONCE per
    host: the first preload decodes + publishes ``_decoded/`` .npy files;
    every later load — repeat warm, post-eviction reload, or a fresh
    worker's cold cache — serves np.memmap views with ZERO parquet reads
    (the shared-decode design that fixed the anti-scaling warm phase).
    Pure pyarrow, no Spark session."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from montecarlopagerank_spark.algos import pagerank_mc as mc

    root = str(tmp_path / "csr")
    for bid in (0, 2):  # sparse ids, like the real planner's
        d = tmp_path / "csr" / f"block_id={bid}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "vids": [[bid << 8, (bid << 8) + 1]],
                "indptr": [[0, 1, 2]],
                "indices": [[(bid << 8) + 1, bid << 8]],
            }),
            str(d / "part-0.parquet"),
        )
    mc._purge_other_roots("__nothing__")  # clean slate for this root
    calls = {"n": 0}
    real_read = pq.read_table

    def counting_read(*a, **k):
        calls["n"] += 1
        return real_read(*a, **k)

    monkeypatch.setattr(mc.pq, "read_table", counting_read)
    mc._preload_all(root)
    assert calls["n"] == 2  # one decode per block, published as .npy
    assert (root, 0) in mc._CSR_CACHE and (root, 2) in mc._CSR_CACHE
    assert isinstance(mc._CSR_CACHE[(root, 0)][0], np.memmap)
    assert (tmp_path / "csr" / "_decoded" / "b0" / "vids.npy").exists()
    mc._preload_all(root)  # second warm: guard fires, zero reads
    assert calls["n"] == 2
    # post-eviction reload and a cold cache (≈ another worker on the
    # host) both serve from the published files — still zero reads
    mc._CSR_CACHE.pop((root, 2))
    mc._preload_all(root)
    assert calls["n"] == 2
    mc._purge_other_roots("__nothing__")
    mc._preload_all(root)
    assert calls["n"] == 2
    got = mc._load_block(root, 2)
    assert list(got[0]) == [2 << 8, (2 << 8) + 1]  # mmap content intact


def test_walk_kernel_hub_picks_are_uniform(tmp_path):
    """Exact picks at a hub: one vertex of degree ≈2^20 (not a power of
    two, where float32 draws alias unevenly: -4.6% on a fifth of the
    edges), 16 walks per edge over 16 steps, chi-square of the per-edge
    pick counts against uniform (float32 picks score z ≈ 7 here).
    Spark-free: the block is published as the mmap side-files the kernel
    reads."""
    import numpy as np
    import pyarrow as pa

    from montecarlopagerank_spark.algos import pagerank_mc as mc

    deg = 1_000_003
    root = str(tmp_path)
    mc._publish_block(root, 0, (np.array([0], np.int64),
                                np.array([0, deg], np.int64),
                                np.arange(deg, dtype=np.int32)))
    coupons = pa.table({"block_id": pa.array([0], pa.int32()),
                        "rkey": pa.array([0], pa.int64()),
                        "c": pa.array([deg], pa.int64())})
    counts = np.zeros(deg, dtype=np.int64)
    for step in range(16):
        out = mc._walk_kernel(root, 0.0, 99, step)(coupons)
        counts[out.column("dst").to_numpy()] += out.column("cnt").to_numpy()
    n = int(counts.sum())
    assert n == 16 * deg  # eps=0: every walk survives and moves
    expect = n / deg
    chi2 = float(((counts - expect) ** 2).sum() / expect)
    z = (chi2 - (deg - 1)) / np.sqrt(2 * (deg - 1))
    assert abs(z) < 4, f"per-edge picks not uniform: chi2 z-score {z:.1f}"


def test_mc_fuse_invariance(spark, gnutella_mini, hub_graph, tmp_path):
    """fuse_steps only changes how many supersteps compile into one Spark
    job — never the walks (RNG is seeded per logical (block, step)).
    Byte-identical ranks at segment lengths 1 (per-step jobs), 3
    (mid-loop segment boundary), and 8 (whole loop in one job), on a
    hub-free graph and on a split-hub graph, where the durable
    (checkpointed) path must agree as well."""
    for edges, epb in ((gnutella_mini, None), (hub_graph, 64)):
        outs = [
            ranks_dict(pagerank_monte_carlo(
                spark, edges, walks_per_vertex=20, iterations=5,
                seed=7, fuse_steps=fs, edges_per_block=epb)[0])
            for fs in (1, 3, 8)
        ]
        assert outs[0] == outs[1] == outs[2]
    durable, info = pagerank_monte_carlo(
        spark, hub_graph, walks_per_vertex=20, iterations=5, seed=7,
        edges_per_block=64, checkpoint_dir=str(tmp_path / "ck"))
    assert info["has_hub_splits"]
    assert ranks_dict(durable) == outs[0]


def test_mc_fused_kernel_runs_once_per_step(spark, gnutella_mini, hub_graph,
                                            monkeypatch, tmp_path):
    """The fused segment plan consumes each step's routed exchange twice
    (next step's agg + the ζ union); ReusedExchange must dedupe it so the
    walk UDF of step s executes exactly n_blocks(s) times, not
    O(steps - s) times (exponential recompute if a leaf fails to
    canonicalize — the localCheckpoint stale-partitioning trap documented
    at the init-state materialization). Checked on a hub-free graph and
    on a split-hub graph, whose segments now fuse too."""
    import json
    import montecarlopagerank_spark.algos.pagerank_mc as mc
    log = tmp_path / "kernel_calls.jsonl"
    orig = mc._step_kernel

    def counting(csr_path, eps, seed, step, plan):
        k = orig(csr_path, eps, seed, step, plan)

        def wrapped(t):
            with open(log, "a") as f:
                f.write(json.dumps({"step": step}) + "\n")
            return k(t)

        return wrapped

    monkeypatch.setattr(mc, "_step_kernel", counting)
    for edges, epb in ((gnutella_mini, None), (hub_graph, 64)):
        log.unlink(missing_ok=True)
        _, info = mc.pagerank_monte_carlo(
            spark, edges, walks_per_vertex=4, iterations=4, seed=3,
            fuse_steps=8, edges_per_block=epb)
        assert info["has_hub_splits"] == (epb is not None)
        per_step = {}
        with open(log) as f:
            for line in f:
                s = json.loads(line)["step"]
                per_step[s] = per_step.get(s, 0) + 1
        n_blocks = info["n_blocks"]
        assert set(per_step) == {0, 1, 2, 3}
        for s, n in per_step.items():
            assert n <= n_blocks, (
                f"step {s} kernel ran {n}× for {n_blocks} blocks — "
                "exchange reuse is broken (recompute per consumer)")


def test_pi_warm_start_incremental(spark, gnutella_mini, gnutella_mini_pairs):
    """Warm start (init_ranks=stale fixpoint) after an edge top-up: same
    fixpoint as a cold run (unique for eps>0), reached in fewer
    supersteps — the incremental-refresh path behind the streaming edge
    builder."""
    from tests.conftest import edges_df

    base_pairs = gnutella_mini_pairs[: len(gnutella_mini_pairs) - 20]
    stale, _ = pagerank_power(
        spark, edges_df(spark, base_pairs), tol=1e-9, max_iters=200
    )
    cold, cold_info = pagerank_power(
        spark, gnutella_mini, tol=1e-9, max_iters=200
    )
    warm, warm_info = pagerank_power(
        spark, gnutella_mini, tol=1e-9, max_iters=200, init_ranks=stale
    )
    assert cold_info["converged"] and warm_info["converged"]
    assert warm_info["iterations"] < cold_info["iterations"]
    got, want = ranks_dict(warm), ranks_dict(cold)
    assert set(got) == set(want)
    for v, r in want.items():
        assert got[v] == pytest.approx(r, abs=1e-6), f"vertex {v}"
    # warm vector is a distribution
    assert warm.agg(F.sum("rank")).collect()[0][0] == pytest.approx(1.0, abs=1e-9)


def test_pi_warm_start_at_fixpoint_converges_immediately(spark, gnutella_mini):
    fix, _ = pagerank_power(spark, gnutella_mini, tol=1e-10, max_iters=300)
    warm, info = pagerank_power(
        spark, gnutella_mini, tol=1e-6, max_iters=10, init_ranks=fix
    )
    assert info["converged"] and info["iterations"] <= 2


def test_pi_weighted_vs_python_oracle(spark):
    """Non-uniform float weights vs an independent dense python PI."""
    wedges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 5.0), (3, 0, 1.0)]
    e = spark.createDataFrame(wedges, "src long, dst long, weight double")
    ranks, info = pagerank_power(
        spark, e, tol=1e-12, max_iters=300, weight_col="weight"
    )
    assert info["converged"]
    # python twin: eps jump + dangling mass uniform, contribs w/W(src)
    eps, n = 0.15, 4
    outw = {0: 4.0, 1: 2.0, 2: 5.0, 3: 1.0}
    r = {v: 1.0 / n for v in range(n)}
    for _ in range(400):
        contrib = {v: 0.0 for v in range(n)}
        for s, d, w in wedges:
            contrib[d] += r[s] * w / outw[s]
        m = sum(r[v] for v in range(n) if v not in outw)
        r = {v: eps / n + (1 - eps) * (m / n + contrib[v]) for v in range(n)}
    got = ranks_dict(ranks)
    for v in range(n):
        assert got[v] == pytest.approx(r[v], abs=1e-9), f"vertex {v}"


def test_pi_weighted_multiplicity_equals_multigraph(spark):
    """Collapsed (src,dst,weight=multiplicity) == raw multigraph PI."""
    dup = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0), (2, 0), (2, 0)]
    e = spark.createDataFrame(dup, "src long, dst long")
    w = e.groupBy("src", "dst").agg(F.count("*").cast("double").alias("weight"))
    r1, _ = pagerank_power(spark, e, tol=1e-12, max_iters=300)
    r2, _ = pagerank_power(
        spark, w, tol=1e-12, max_iters=300, weight_col="weight"
    )
    a, b = ranks_dict(r1), ranks_dict(r2)
    assert set(a) == set(b)
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12), f"vertex {v}"


def test_mc_pack_time_publication(spark, gnutella_mini, tmp_path):
    """The pack kernel must publish each block's decoded arrays as mmap
    side-files AT PACK TIME (under <csr>/_decoded), so the warm pass
    only mmaps instead of re-reading + re-decoding a parquet round-trip
    — the fix for the anti-scaling MC warm phase. A regression to
    lazy-only publication would silently revive it."""
    import glob
    import os

    root = str(tmp_path / "mc_state")
    r, info = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=3, seed=3,
        edges_per_block=1 << 12, state_root=root,
    )
    assert info["total_visits"] > 0
    blocks = glob.glob(os.path.join(root, "csr", "block_id=*"))
    published = glob.glob(os.path.join(root, "csr", "_decoded", "b*"))
    assert blocks, "CSR parquet side-files missing"
    assert len(published) == len(blocks)
    for d in published:
        for name in ("vids", "indptr", "indices"):
            assert os.path.exists(os.path.join(d, f"{name}.npy"))


def test_mc_checkpoint_run_keeps_parquet_csr(spark, gnutella_mini, tmp_path):
    """A resumable run (checkpoint_dir) must still write the durable
    parquet CSR side-files — the noop-sink shortcut is scratch-only."""
    import glob
    import os

    root = str(tmp_path / "mc_state")
    r, info = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=2, seed=3,
        edges_per_block=1 << 12, state_root=root,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    assert info["total_visits"] > 0
    blocks = glob.glob(os.path.join(root, "csr", "block_id=*"))
    published = glob.glob(os.path.join(root, "csr", "_decoded", "b*"))
    assert blocks, "resumable run must keep the parquet CSR"
    assert len(published) == len(blocks)
