"""Per-layer timings taken in isolation (traced runs only).

Each function times calls into one engine module's entry points from the
benchmark's side and returns ``{metric: value}``. A layer whose
entry point cannot be reached (renamed, new signature) raises, and the
caller reports it as unmeasured instead of failing the run.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

from measure import MB


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def noop(df) -> None:
    """Run ``df``'s whole plan without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def job_floor_ms(spark, slots: int, reps: int = 5) -> float:
    """Latency of an empty one-stage job with one task per core slot."""
    df = spark.range(0, slots, 1, slots)
    noop(df)  # first job of a shape pays codegen
    return 1000.0 * _median_time(lambda: noop(df), reps)


def source_read(read) -> dict:
    """``read()`` returns the staged source as a DataFrame; time a full
    scan of it."""
    return {"sources.read_s": _median_time(lambda: noop(read()), 3)}


def adjacency(edges, edges_per_block: int, slots: int, root: str) -> dict:
    """``operators.adjacency.plan_walk_blocks`` plus the CSR write the MC
    driver does, with pack-time publication of the decoded blocks under
    ``root`` (the walk kernel's input, reused by :func:`walk_kernel`)."""
    from montecarlopagerank_spark.operators.adjacency import plan_walk_blocks

    t0 = time.perf_counter()
    assign, csr, meta = plan_walk_blocks(
        edges, edges_per_block=edges_per_block, n_partitions=slots, publish_root=root
    )
    csr.write.option("compression", "snappy").partitionBy("block_id").mode(
        "overwrite"
    ).parquet(root)
    took = time.perf_counter() - t0
    hubs = assign.filter("n_rep > 1").select("v").distinct().count()
    for df in meta["cached"]:
        df.unpersist()
    csr_bytes = sum(os.path.getsize(p) for p in glob.glob(f"{root}/_decoded/*/*.npy"))
    return {
        "operators.adjacency.plan_walk_blocks_s": took,
        "operators.adjacency.blocks": len(meta["bounds"]),
        "operators.adjacency.hub_vertices": hubs,
        "operators.adjacency.csr_mb": csr_bytes / MB,
    }


def walk_kernel(root: str, walks_per_vertex: int, seed: int, reps: int = 21) -> dict:
    """``algos.pagerank_mc._walk_kernel`` on the largest production-packed
    block, with no Spark: every row of the block holds
    ``walks_per_vertex`` walks. ``mb_per_walk`` is the kernel's input
    (coupons + CSR block) and output bytes per walk."""
    import pyarrow as pa

    from montecarlopagerank_spark.algos.pagerank_mc import EPS, _walk_kernel

    blocks = []
    for d in glob.glob(f"{root}/_decoded/b*"):
        indices = np.load(f"{d}/indices.npy", mmap_mode="r")
        blocks.append((len(indices), int(os.path.basename(d)[1:])))
    _, bid = max(blocks)
    vids = np.load(f"{root}/_decoded/b{bid}/vids.npy")
    csr_bytes = sum(os.path.getsize(p) for p in glob.glob(f"{root}/_decoded/b{bid}/*.npy"))
    coupons = pa.table(
        {
            "block_id": pa.array(np.full(len(vids), bid, np.int32)),
            "rkey": pa.array(vids.astype(np.int64)),
            "c": pa.array(np.full(len(vids), walks_per_vertex, np.int64)),
        }
    )
    walks = len(vids) * walks_per_vertex
    out = _walk_kernel(root, EPS, seed, 0)(coupons)  # loads the block
    ms = 1000.0 * _median_time(lambda: _walk_kernel(root, EPS, seed, 1)(coupons), reps)
    return {
        "algos.pagerank_mc.walk_kernel.ms": ms,
        "algos.pagerank_mc.walk_kernel.walks_per_s": walks / (ms / 1000.0),
        "algos.pagerank_mc.walk_kernel.mb_per_walk": (
            coupons.nbytes + csr_bytes + out.nbytes
        ) / walks / MB,
    }


def state_store(spark, n_rows: int, root: str, reps: int = 3) -> dict:
    """``operators.state.StateStore.materialize`` of a V-row state table."""
    from montecarlopagerank_spark.operators.state import StateStore
    from pyspark.sql import functions as F

    store = StateStore(spark, root=root)
    df = spark.range(n_rows).select(F.col("id").alias("v"), (F.col("id") * 1e-9).alias("rank"))
    store.materialize(df)  # first write of the shape pays codegen
    ms = 1000.0 * _median_time(lambda: store.materialize(df), reps)
    return {"operators.state.materialize_ms": ms}


def checkpoint(spark, n_rows: int, root: str, reps: int = 3) -> dict:
    """``operators.checkpoint.CheckpointManager`` commit of a V-row state
    table, and the resume read of a committed step."""
    from montecarlopagerank_spark.operators.checkpoint import CheckpointManager
    from pyspark.sql import functions as F

    ck = CheckpointManager(spark, root, {"bench": True})
    df = spark.range(n_rows).select(F.col("id").alias("v"), (F.col("id") * 1e-9).alias("rank"))
    step = iter(range(10 * reps))
    ck.save_step(next(step), {"state": df}, {})
    save = _median_time(lambda: ck.save_step(next(step), {"state": df}, {}), reps)
    last = ck.last_complete_step()
    load = _median_time(lambda: noop(ck.load_tables(last, ["state"])["state"]), reps)
    return {
        "operators.checkpoint.save_step_ms": 1000.0 * save,
        "operators.checkpoint.load_tables_ms": 1000.0 * load,
    }
