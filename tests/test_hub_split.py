"""Hub-vertex block splitting (north_star: "hub vertices split across ≥2
blocks, partial-aggregated then re-reduced").

A vertex with out_deg > edges_per_block is split into replicas carrying
disjoint neighbour subsets (operators/adjacency.py::plan_walk_blocks);
coupons are routed to replicas by an exact multinomial ∝ replica size
inside the walk UDF (algos/pagerank_mc.py::_step_kernel), so totals are
conserved exactly and the per-destination law stays uniform: these tests
pin conservation, block spread, statistical agreement with PI, and
parallelism invariance of the split path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from montecarlopagerank_spark.algos.pagerank_mc import (
    _publish_block,
    _route_plan,
    _step_kernel,
    pagerank_monte_carlo,
)
from montecarlopagerank_spark.algos.pagerank_power import pagerank_power
from montecarlopagerank_spark.operators.adjacency import (
    REPLICA_BITS,
    plan_walk_blocks,
)


def ranks_dict(df):
    return {r["v"]: r["rank"] for r in df.collect()}


def test_plan_walk_blocks_splits_hub(spark, hub_graph):
    assign, csr, meta = plan_walk_blocks(hub_graph, edges_per_block=64)
    assert meta["has_hubs"] and meta["max_out_deg"] == 400
    hub = assign.filter("v = 0").collect()
    assert len(hub) >= 2, "hub must be split across >=2 replicas"
    assert sum(r["rsize"] for r in hub) == 400  # disjoint + exhaustive
    assert len({r["block_id"] for r in hub}) >= 2, "replicas span >=2 blocks"
    assert all(r["n_rep"] == len(hub) for r in hub)
    # non-hub vertices stay unsplit
    assert assign.filter("v > 0 and n_rep > 1").count() == 0
    # CSR rows are keyed by rkey and partition the hub's neighbours
    blocks = {b["block_id"]: b for b in csr.collect()}
    hub_neighbours = []
    for r in hub:
        b = blocks[r["block_id"]]
        i = list(b["vids"]).index(r["rkey"])
        hub_neighbours += list(b["indices"][b["indptr"][i]:b["indptr"][i + 1]])
    assert sorted(hub_neighbours) == list(range(1, 401))


def test_plan_walk_blocks_no_split_below_threshold(spark, hub_graph):
    assign, _, meta = plan_walk_blocks(hub_graph, edges_per_block=10_000)
    assert not meta["has_hubs"]
    assert assign.filter("n_rep > 1").count() == 0
    assert assign.filter("v = 0").count() == 1


def test_hub_split_exact_conservation(tmp_path):
    """The in-kernel split: a block whose one vertex points only at hub 7
    sends all its surviving walks there, and the walk UDF splits them
    across the hub's replicas. Spark-free: the block is published as the
    mmap side-files the kernel reads."""
    root = str(tmp_path)
    src = np.array([1 << REPLICA_BITS], dtype=np.int64)
    for bid in (0, 1):  # the same CSR under two block ids
        _publish_block(root, bid, (src, np.array([0, 1]), np.array([7])))
    plan = _route_plan(
        [0, 5 << REPLICA_BITS], [0, 1],
        [(7, b, (7 << REPLICA_BITS) + r, size)
         for r, (b, size) in enumerate([(2, 100), (5, 50), (9, 25)])],
    )

    def split(block_id, step):
        coupons = pa.table({
            "block_id": pa.array([block_id], pa.int32()),
            "rkey": pa.array(src),
            "c": pa.array([1000], pa.int64()),
        })
        out = _step_kernel(root, 0.0, 1234, step, plan)(coupons).to_pandas()
        return out.sort_values("rkey").reset_index(drop=True)

    out1, out2 = split(0, 3), split(0, 3)
    assert int(out1["c"].sum()) == 1000  # multinomial conserves exactly
    pd.testing.assert_frame_equal(out1, out2)  # deterministic
    out3 = split(0, 4)
    assert not out1.equals(out3)  # new draw per superstep
    assert not out1.equals(split(1, 3))  # and per emitting block
    assert set(out1["rkey"]) <= {(7 << REPLICA_BITS) + r for r in range(3)}
    # expectation proportional to replica sizes (loose 5-sigma check)
    frac = out1.set_index("block_id")["c"].get(2, 0) / 1000
    assert abs(frac - 100 / 175) < 5 * np.sqrt(0.57 * 0.43 / 1000) + 0.02


def test_mc_hub_split_agrees_with_pi(spark, hub_graph):
    """Split (edges_per_block=64 → hub over ~7 replicas) and unsplit runs
    are both unbiased estimators of the same PI fixpoint. K=200, 25 steps:
    hub visit share ~0.33, stderr ~0.002 → tol 0.02 is ~10 sigma."""
    pi, _ = pagerank_power(spark, hub_graph, tol=1e-10, max_iters=300)
    pi_d = ranks_dict(pi)
    split, info_s = pagerank_monte_carlo(
        spark, hub_graph, walks_per_vertex=200, iterations=25,
        edges_per_block=64, seed=11)
    assert info_s["has_hub_splits"]
    unsplit, info_u = pagerank_monte_carlo(
        spark, hub_graph, walks_per_vertex=200, iterations=25,
        edges_per_block=10_000, seed=11)
    assert not info_u["has_hub_splits"]
    s_d, u_d = ranks_dict(split), ranks_dict(unsplit)
    assert set(s_d) == set(pi_d) == set(u_d)
    assert s_d[0] == pytest.approx(pi_d[0], abs=0.02)
    assert u_d[0] == pytest.approx(pi_d[0], abs=0.02)
    assert s_d[0] == pytest.approx(u_d[0], abs=0.03)
    for v in [1, 100, 400]:  # spot-check spokes
        assert s_d[v] == pytest.approx(pi_d[v], abs=0.01)


def test_mc_hub_split_parallelism_invariance(spark, hub_graph):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        r1, i1 = pagerank_monte_carlo(
            spark, hub_graph.repartition(3), walks_per_vertex=50,
            iterations=6, seed=42, edges_per_block=64)
        d1 = ranks_dict(r1)
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        r2, i2 = pagerank_monte_carlo(
            spark, hub_graph.repartition(13), walks_per_vertex=50,
            iterations=6, seed=42, edges_per_block=64)
        d2 = ranks_dict(r2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert i1["has_hub_splits"] and i2["has_hub_splits"]
    assert d1 == d2  # byte-identical through the split path


def test_auto_hub_threshold_decoupled_from_block_size(spark):
    """Under AUTO block sizing the hub-split trigger is floored at 2^18
    edges: a 6k-degree vertex on a small graph must NOT be treated as a
    hub (the auto block size lands far below its degree), while an
    EXPLICIT edges_per_block below the degree still forces the split.
    Regression: the coupled default made moderate-degree vertices hubs on
    small graphs, paying replica planning and hub splits for zero skew
    benefit."""
    pairs = [(0, d) for d in range(1, 6001)] + [(d, 0) for d in range(1, 50)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    _, _, meta = plan_walk_blocks(e, edges_per_block=None, n_partitions=4)
    assert not meta["has_hubs"]
    assert meta["edges_per_block"] < 6000  # auto size IS below the degree
    _, _, meta2 = plan_walk_blocks(e, edges_per_block=512, n_partitions=4)
    assert meta2["has_hubs"]
    for m in (meta, meta2):
        for df in m["cached"]:
            df.unpersist()


def test_auto_fuse_steps_follows_hub_plan(spark, hub_graph, gnutella_mini):
    """The default segment length is 6 on every graph: routing inside the
    walk UDF gives hub and hub-free graphs the same 2^k fused plan."""
    _, i_hub = pagerank_monte_carlo(
        spark, hub_graph, walks_per_vertex=4, iterations=3, seed=7,
        edges_per_block=64)
    assert i_hub["has_hub_splits"] and i_hub["fuse_steps"] == 6
    _, i_flat = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=4, iterations=3, seed=7)
    assert not i_flat["has_hub_splits"] and i_flat["fuse_steps"] == 6
