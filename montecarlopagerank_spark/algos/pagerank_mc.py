"""Monte Carlo PageRank: distributed random walks with walk coalescing.

Re-expresses MonteCarloPageRank.scala:23-133 (Das Sarma et al. 2013,
Basic-PageRank-Algorithm) Spark-first:

* every vertex starts K coupons (reference default 10000, Conf.scala:15;
  ζ initialized to K, MonteCarloPageRank.scala:106);
* per superstep each coupon survives w.p. 1−ε (ε=0.15,
  MonteCarloPageRank.scala:28,63-64) and moves to a uniformly random
  out-neighbour; coupons at dangling vertices die
  (MonteCarloPageRank.scala:73);
* arrivals are *coalesced* — (dst, count) not one row per walk — inside
  the Arrow kernel (the reference coalesces only at reduceByKey,
  MonteCarloPageRank.scala:119; we additionally pre-coalesce per block,
  so shuffle volume is O(distinct dst per block), not O(walks));
* ζ accumulates arrivals (MonteCarloPageRank.scala:122) and the final
  rank is ζ_v / Σζ (MonteCarloPageRank.scala:126-132 — the code
  normalizes by total observed visits, not the paper's closed form).

Intentional fixes vs the reference (SURVEY.md §2.6): exactly c trials per
vertex (the reference's ``0 to currentCount`` inclusive loop inflates by
one trial per occupied vertex per step) and exactly ``iterations``
supersteps.

Scale shape — ONE plan for every graph, hubs or not. Coupon state is a
routed table ``(block_id, rkey, c)`` and each superstep is ONE stage:
[complete (block_id, rkey) coalescing agg → walk UDF → exchange by
block_id]. The walk UDF (``_step_kernel``) runs the walk+coalesce core
(``_walk_kernel``) on one block and routes the block's arrivals itself
(``_route``), so the exchange pre-positions them for the next step's
kernel. The agg and the kernel both run on the hash(block_id)
partitioning of the step's single exchange (clustering by a subset of the
grouping keys needs no second exchange).

1. The scratch fast path compiles ``fuse_steps`` supersteps into ONE
   Spark job with exactly one shuffle per step: each step's exchange is
   consumed twice — next step's agg and the segment's ζ union — and
   ReusedExchange dedupes it. No per-step job gap and no per-step
   store/rescan. The loop runs with AQE off: adaptive planning hides
   materialized partitionings and the loop is fully static anyway. With
   ``checkpoint_dir`` each step's routed table goes to parquet instead
   (durable, resumable) through the SAME kernel and router; parquet
   erases partitioning, so that path pays two exchanges per step.
2. The graph is **host-resident**: CSR blocks are written ONCE at setup
   as parquet side-files partitioned by block_id, and the pack kernel
   publishes each block's decoded numpy arrays as ``.npy`` files under
   ``_decoded/`` at pack time. Every worker serves from ``np.memmap``
   views of those files (``_CSR_CACHE``) — one decode and one page-cache
   copy per block per HOST, never re-shipped through the Arrow exchange
   per superstep (the earlier cogrouped-CSR design moved 429 MB/step at
   100M edges). On a multi-host cluster other hosts decode+publish
   lazily on first touch.
3. Routing is numpy inside the UDF, over a ``RoutePlan`` collected once
   at plan time. A non-hub arrival goes to the ACTUAL id of the block
   whose rkey range holds it (``np.searchsorted`` over the block
   boundaries). A hub — a vertex with out_deg above the split threshold,
   whose edges the planner (operators/adjacency.py::plan_walk_blocks)
   spreads over replicas with disjoint neighbour subsets — gets each
   emitting block's arrival count split across its replicas with an
   exact multinomial ∝ replica size, drawn from a generator seeded by
   (seed, block_id, step). A sum of independent Multinomial(cᵢ, p) is
   Multinomial(Σcᵢ, p), so splitting per emitting block keeps the law of
   per-vertex splitting: totals are conserved exactly and
   P(dst) = (rsize/deg)·(1/rsize) = 1/deg. Each walk step is a uniform
   sample from coupon⋈adjacency (Random Sampling over Joins Revisited,
   SIGMOD 2018).

ζ is NOT re-aggregated per step (the reference's ``union+reduceByKey``
over the full visit history, MonteCarloPageRank.scala:122, doubles
per-step shuffle volume): each step's routed arrivals feed a ζ branch of
the same segment job and the segment folds them into one (rkey, c)
accumulator. v = rkey >> REPLICA_BITS folds hub replicas back together
at finalize. Per-step surviving-walk totals ride the jobs as observed
metrics (extinction check without an ``isEmpty`` job).

Randomness is **parallelism-invariant**: walks draw from one
``numpy.random.Generator`` per (seed, block_id, superstep) — a stable
*logical* block id, not the reference's physical partition index
(MonteCarloPageRank.scala:50-52) — and hub splits from a separate
stream of the same key, so any fixed (seed, edges_per_block) produces
byte-identical ranks at local[8] and local[32]. The default
``edges_per_block`` derives from the cluster's core count, so pass an
explicit value when outputs must match across different cluster sizes.

The walk step itself is fully vectorized numpy over CSR slices: binomial
survivor draws, then one float64 uniform per surviving walk mapped
through (indptr, indices) with np.repeat — no per-walk Python, and the
pick stays uniform to within deg/2^53 at any degree.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections import OrderedDict
from functools import reduce
from typing import Any, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.adjacency import (
    REPLICA_BITS,
    plan_walk_blocks,
)
from montecarlopagerank_spark.operators.checkpoint import CheckpointManager
from montecarlopagerank_spark.operators.state import StateStore

EPS = 0.15

# every coupon table and every walk step's output: arrivals routed to the
# block that walks them next
ROUTED_SCHEMA = "block_id int, rkey long, c long"

# SeedSequence spawn keys of the hub-split streams. The walk stream keys
# on entropy (seed, block_id, step) alone; a spawn key appends words after
# the zero-padded entropy pool, so these streams never collide with it or
# with each other
_HUB_STREAM = (1,)
_INIT_STREAM = (2,)


# Host-resident CSR blocks: (csr_path, block_id) → (vids, indptr,
# indices) numpy triples. For a LOCAL csr root the triples are np.memmap
# views of decoded ``.npy`` side-files under ``<root>/_decoded`` (the
# underscore prefix hides them from Spark/pyarrow dataset discovery):
# the FIRST worker to need a block decodes it and publishes the arrays
# with an atomic dir rename; every other worker on the host mmaps the
# same files, so the host pays ONE decode per block and ONE page-cache
# copy total, regardless of worker count. The earlier per-worker
# in-memory caches decoded the full graph N_workers times — measured as
# the anti-scaling warm phase of BENCH/scaling.json (8 s at 2 cores vs
# 48 s at 8 on 100M edges: more cores meant strictly more decode work
# and N× the resident bytes). For non-local roots (hdfs://, s3://) the
# in-memory decode path remains (mmap needs a local file), LRU-bounded.
_CSR_CACHE: OrderedDict[tuple[str, int], tuple] = OrderedDict()
_CSR_CACHE_BYTES = [0]  # counts only in-memory (non-mmap) entries
_CSR_CACHE_CAP = int(os.environ.get("SPARK_GRAFT_CSR_CACHE_BYTES", 4 << 30))
_CSR_ARRAYS = ("vids", "indptr", "indices")


def _strip_file_scheme(path: str) -> str | None:
    """``file:`` URI → plain local path, else None. Accepts the empty-
    authority form ``file:///p`` AND the Hadoop/Spark-normalized
    single-slash ``file:/p`` (``Path.toString`` emits that form; it has
    no ``://``, and once made ``_publish_block`` create a literal
    cwd-relative ``file:`` directory). Raises ValueError on a host
    (``file://host/p``) or a relative remainder (``file:rel/p``): neither
    names a local absolute path, and guessing one would silently read or
    write the wrong directory."""
    if not path.startswith("file:"):
        return None
    rest = path[5:]
    if rest.startswith("//"):
        host, _, tail = rest[2:].partition("/")
        if host:
            raise ValueError(f"file URI with a host is not a local path: {path!r}")
        rest = "/" + tail
    if not rest.startswith("/"):
        raise ValueError(f"relative file URI: {path!r}")
    return "/" + rest.lstrip("/")


def _resolve_fs(path: str) -> tuple[pafs.FileSystem, str]:
    """Resolve a CSR root to (pyarrow FileSystem, fs-local path). Plain
    paths and ``file:`` URIs (any slash count) stay on the local FS;
    other URIs (``hdfs://``, ``s3://``) go through
    ``FileSystem.from_uri`` — this is what makes the worker-resident CSR
    design work when state lives on DFS (the 10^12-edge deployment
    shape), not only when executors share the driver's disk."""
    local = _strip_file_scheme(path)
    if local is not None:
        return pafs.LocalFileSystem(), local
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _is_local(csr_path: str) -> bool:
    return csr_path.startswith("file:") or "://" not in csr_path


def _decode_part(fs, part: str):
    """One block's parquet dir → (vids, indptr, indices) numpy triple, or
    None for an empty/missing block."""
    if fs.get_file_info(part).type != pafs.FileType.Directory:
        return None  # block exists for every routed id by construction;
        # missing dir => dangling-only range
    tbl = pq.read_table(part, columns=list(_CSR_ARRAYS), filesystem=fs)
    if tbl.num_rows == 0:
        return None
    return tuple(
        tbl.column(c).combine_chunks().values.to_numpy(zero_copy_only=False)
        for c in _CSR_ARRAYS
    )


def _publish_block(root: str, block_id: int, entry: tuple) -> None:
    """Atomically publish a decoded block as mmap-able ``.npy`` files:
    write to a pid-suffixed tmp dir, rename into place. If another worker
    already won the race the rename fails and the tmp dir is discarded —
    both outcomes leave a complete, immutable published dir."""
    import shutil

    dest = f"{root.rstrip('/')}/_decoded/b{block_id}"
    tmp = f"{dest}.tmp.{os.getpid()}"
    try:
        os.makedirs(tmp, exist_ok=True)
        for name, arr in zip(_CSR_ARRAYS, entry):
            np.save(os.path.join(tmp, f"{name}.npy"), arr)
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _mmap_block(root: str, block_id: int):
    """Published-decoded-block dir → memmap triple, or None if absent."""
    dest = f"{root.rstrip('/')}/_decoded/b{block_id}"
    try:
        return tuple(
            np.load(os.path.join(dest, f"{name}.npy"), mmap_mode="r")
            for name in _CSR_ARRAYS
        )
    except (FileNotFoundError, OSError, ValueError):
        return None


def _load_block(csr_path: str, block_id: int):
    key = (csr_path, block_id)
    hit = _CSR_CACHE.get(key)
    if hit is not None:
        _CSR_CACHE.move_to_end(key)
        return hit
    fs, root = _resolve_fs(csr_path)
    local = _is_local(csr_path)
    entry = _mmap_block(root, block_id) if local else None
    if entry is None:
        entry = _decode_part(fs, f"{root.rstrip('/')}/block_id={block_id}")
        if entry is None:
            return None
        if local:
            # publish for the host's other workers, then serve the mmap
            # (keeps this worker's resident bytes at ~0 too)
            _publish_block(root, block_id, entry)
            entry = _mmap_block(root, block_id) or entry
    if isinstance(entry[0], np.memmap):
        _CSR_CACHE[key] = entry  # address space, not RSS: never counted
    else:
        _CSR_CACHE[key] = entry
        _CSR_CACHE_BYTES[0] += sum(a.nbytes for a in entry)
        _evict_lru()
    return entry


def _entry_bytes(entry: tuple) -> int:
    """RSS cost of a cache entry — memmap views cost address space, not
    resident bytes, and were never counted in."""
    return 0 if isinstance(entry[0], np.memmap) else sum(a.nbytes for a in entry)


def _evict_lru() -> None:
    while _CSR_CACHE_BYTES[0] > _CSR_CACHE_CAP and len(_CSR_CACHE) > 1:
        _, old = _CSR_CACHE.popitem(last=False)
        _CSR_CACHE_BYTES[0] -= _entry_bytes(old)


def _purge_other_roots(csr_path: str) -> None:
    """Drop cached blocks belonging to OTHER runs' csr_paths. A long-lived
    Python worker serving many pagerank_monte_carlo calls would otherwise
    keep every run's full decoded graph resident (distinct csr_path keys
    never hit again → unbounded growth past the cap between warm passes;
    mmap entries cost only fds/address space but are dropped too)."""
    for key in [k for k in _CSR_CACHE if k[0] != csr_path]:
        old = _CSR_CACHE.pop(key)
        _CSR_CACHE_BYTES[0] -= _entry_bytes(old)


def _preload_all(csr_path: str) -> None:
    """Warm this worker's resident cache with every CSR block of
    ``csr_path``. LOCAL roots use the shared decoded side-files: each
    block is decoded ONCE on the host by whichever worker reaches it
    first (workers iterate the block list rotated by their pid so
    concurrent warm tasks start on DIFFERENT blocks) and published under
    ``_decoded/``; every other worker just mmaps the published arrays.
    Total host work ≈ one decode of the graph + N_workers× mmap setup —
    this is what makes the warm phase scale with cores instead of
    against them (the old per-worker bulk decode was N× the work AND N×
    the resident bytes; measured 8 s at 2 cores vs 48 s at 8 on 100M
    edges). Non-local (DFS) roots keep the ONE vectorized per-worker
    parquet read, cap-guarded, since mmap needs a local file. On a real
    cluster the dataset dir holds only the executor's shard (stable hash
    partitioning), so either way this is the Pregel graph-load phase,
    amortized over all supersteps."""
    _purge_other_roots(csr_path)  # stale runs' graphs must not pile up
    fs, root = _resolve_fs(csr_path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(root, recursive=False))
    except (FileNotFoundError, OSError):
        infos = []
    dir_ids = sorted(
        int(i.base_name.split("=", 1)[1])
        for i in infos
        if i.type == pafs.FileType.Directory
        and i.base_name.startswith("block_id=")
    )
    if not dir_ids and _is_local(csr_path):
        # defensive hardening only: the parquet CSR write is
        # unconditional, so block_id= dirs should always exist — but if
        # the listing failed or came back empty (partial purge, racing
        # filesystem), the pack-time-published mmap dirs are a usable
        # fallback block list on local roots
        try:
            dir_ids = sorted(
                int(d[1:])
                for d in os.listdir(f"{root.rstrip('/')}/_decoded")
                if d.startswith("b") and d[1:].isdigit()
            )
        except (FileNotFoundError, OSError):
            return
    if not dir_ids:
        return
    if all((csr_path, b) in _CSR_CACHE for b in dir_ids):
        return  # already warm: a repeat warm pass (or a warm task landing
        # on an already-warm worker) must not re-walk the dataset
    if _is_local(csr_path):
        off = os.getpid() % len(dir_ids)
        for b in dir_ids[off:] + dir_ids[:off]:
            if (csr_path, b) not in _CSR_CACHE:
                _load_block(csr_path, b)  # mmap-if-published else
                # decode+publish — at most ~one decode per block per host
        return
    total = sum(
        i.size or 0
        for i in fs.get_file_info(pafs.FileSelector(root, recursive=True))
        if i.is_file and not i.base_name.startswith("_")
    )
    if total == 0 or total * 3 > _CSR_CACHE_CAP:  # empty graph, or the
        return  # decoded arrays (≈2-3× zstd parquet) would thrash the LRU
    try:
        tbl = pq.read_table(
            root,
            columns=["block_id", *_CSR_ARRAYS],
            filesystem=fs,
        )
    except (pa.lib.ArrowInvalid, KeyError, OSError):
        # e.g. a zero-row write leaves a schema-only part file with no
        # block_id= hive dirs; the lazy per-block path serves instead
        return
    for i in range(tbl.num_rows):
        bid = int(tbl.column("block_id")[i].as_py())
        key = (csr_path, bid)
        if key in _CSR_CACHE:
            continue
        entry = tuple(
            tbl.column(c)[i].values.to_numpy(zero_copy_only=False)
            for c in _CSR_ARRAYS
        )
        _CSR_CACHE[key] = entry
        _CSR_CACHE_BYTES[0] += sum(a.nbytes for a in entry)
    _evict_lru()  # same bound as the lazy path (the 3× estimate above is
    # a heuristic; actual decoded bytes must respect the cap too)


def warm_csr_workers(spark: SparkSession, csr_path: str) -> None:
    """One ~simultaneous Arrow task per core slot: each reused Python
    worker preloads the CSR side-files before superstep 0. Without this,
    every worker pays its cold block reads inside the first superstep —
    a cost proportional to workers × blocks that anti-scales with the
    cluster (measured: step 0 at 8 cores ran 3.9× the steady-state step,
    and only 1.65× at 2 cores). Warm wall-time is ≈ constant in core
    count: all slots load concurrently. Workers the pass happens to miss
    (or later evictions) fall back to lazy per-block loads."""
    # ONE task per actual core slot — NOT defaultParallelism, which the
    # session pins to the shuffle-partition count independent of cluster
    # size. With defaultParallelism tasks the warm job cost was
    # slots-invariant (32 tasks × full-graph decode at every cluster
    # size: a pure anti-scaling term measured at 23-38s of MC setup on a
    # 100M-edge graph); with totalCores tasks it is one decode wave at
    # any size (~2s, and the repeat-warm guard in _preload_all makes
    # tasks that land on an already-warm worker near-free).
    sc = spark.sparkContext
    try:
        n_slots = int(sc._jsc.sc().schedulerBackend().totalCores())
    except Exception:  # non-standard backend: fall back, over-warming is
        n_slots = sc.defaultParallelism  # correct (just slower)

    def warm(batches):
        _preload_all(csr_path)
        yield from batches  # pass-through; one tiny row per task

    spark.range(0, n_slots, 1, n_slots).mapInArrow(warm, "id long").count()


def _walk_kernel(csr_path: str, eps: float, seed: int, step: int):
    """Grouped-map Arrow kernel: routed coupons of ONE block → coalesced
    arrivals (dst, cnt). The block's CSR slice comes from the worker-
    resident cache (see ``_CSR_CACHE``), NOT through the Arrow exchange.
    Deterministic in (seed, block_id, step). Coupons are keyed by rkey
    (= v << REPLICA_BITS | replica); rkeys not present in the block's CSR
    rows (dangling vertices routed to the block covering their rkey)
    contribute nothing — their walks die, which is the reference's
    dangling semantics (MonteCarloPageRank.scala:73)."""

    def kernel(coupons_t: pa.Table) -> pa.Table:
        empty = pa.table(
            {"dst": pa.array([], pa.int64()), "cnt": pa.array([], pa.int64())}
        )
        if coupons_t.num_rows == 0:
            return empty
        block_id = int(coupons_t.column("block_id")[0].as_py())
        blk = _load_block(csr_path, block_id)
        if blk is None:
            return empty
        vids, indptr, indices = blk
        rk = coupons_t.column("rkey").to_numpy(zero_copy_only=False)
        c = coupons_t.column("c").to_numpy(zero_copy_only=False)
        order = np.argsort(rk)  # rkeys unique per block → total order
        rk = rk[order]
        c = c[order]
        loc = np.searchsorted(vids, rk)
        locc = np.minimum(loc, max(len(vids) - 1, 0))
        valid = vids[locc] == rk if len(vids) else np.zeros(len(rk), dtype=bool)
        k = np.where(valid, indptr[locc + 1] - indptr[locc], 0)

        rng = np.random.default_rng(np.random.SeedSequence([seed, block_id, step]))
        survivors = rng.binomial(c, 1.0 - eps)  # exactly c trials, not c+1
        survivors = np.where(k > 0, survivors, 0)  # dangling walks die
        total = int(survivors.sum())
        if total == 0:
            return empty
        # Per-WALK temp arrays dominate the loop's DRAM traffic, so the
        # per-ROW offsets and degrees are downcast BEFORE the np.repeat
        # (int32 offsets need < 2^31 edges in the block — true by
        # construction, blocks are ~2/slot). The uniforms stay float64:
        # floor(u·deg) is then uniform over a vertex's out-edges to within
        # deg/2^53, where a float32 draw (2^24 values) biases the picks at
        # high-degree vertices by up to ~deg/2^24
        off_t = np.int32 if len(indices) < (1 << 31) else np.int64
        starts = np.repeat(indptr[locc].astype(off_t), survivors)
        lens = np.repeat(k.astype(off_t), survivors)
        pick = (rng.random(total) * lens).astype(off_t)
        dest = indices[starts + pick]
        dst, cnt = np.unique(dest, return_counts=True)  # per-block coalescing
        return pa.table(
            {
                "dst": pa.array(dst.astype(np.int64), pa.int64()),
                "cnt": pa.array(cnt.astype(np.int64), pa.int64()),
            }
        )

    return kernel


class RoutePlan(NamedTuple):
    """What the in-UDF router needs, collected once at plan time.
    ``bounds[i]`` is the min rkey of the block whose ACTUAL id is
    ``block_ids[i]`` (both ascending). ``hub_ids`` (sorted) are the split
    vertices; ``hub_reps[i]`` holds hub i's replicas in rkey order as
    (block ids, rkeys, pick probabilities ∝ rsize). Hubs are few by
    definition (out_deg above the split threshold)."""

    bounds: np.ndarray
    block_ids: np.ndarray
    hub_ids: np.ndarray
    hub_reps: list[tuple[np.ndarray, np.ndarray, np.ndarray]]


def _route_plan(bounds: list[int], block_ids: list[int], hub_rows) -> RoutePlan:
    """``hub_rows``: (v, block_id, rkey, rsize) of every replica of every
    split vertex."""
    by_v: dict[int, list[tuple[int, int, int]]] = {}
    for v, b, rk, rs in sorted(hub_rows, key=lambda r: r[2]):
        by_v.setdefault(int(v), []).append((b, rk, rs))
    reps = []
    for v in sorted(by_v):
        b, rk, rs = (np.asarray(x) for x in zip(*by_v[v]))
        reps.append((b.astype(np.int32), rk.astype(np.int64), rs / rs.sum()))
    return RoutePlan(
        np.asarray(bounds, dtype=np.int64),
        np.asarray(block_ids, dtype=np.int32),
        np.asarray(sorted(by_v), dtype=np.int64),
        reps,
    )


def _block_of(rkey: np.ndarray, bounds: np.ndarray, block_ids: np.ndarray) -> np.ndarray:
    """ACTUAL block id of each rkey: blocks pack contiguous rkey ranges
    (plan_walk_blocks), so a key belongs to the block of the last boundary
    ≤ it (keys below the first boundary — dangling vertices — to the
    first block). Planner ids can SKIP values (row weight rsize+1 → the
    prefix floor-division jumps an id when out_deg == edges_per_block,
    and hub replicas can jump further); the CSR side-files are
    partitioned by the actual ids, so routing by the positional boundary
    index would address nonexistent block dirs and silently kill those
    walks (tests/test_pagerank.py::test_mc_skipped_block_id_walks_survive)."""
    if len(bounds) == 0:
        return np.zeros(len(rkey), dtype=np.int32)
    pos = np.searchsorted(bounds, rkey, side="right") - 1
    return block_ids[np.maximum(pos, 0)]


def _route(plan: RoutePlan, v: np.ndarray, c: np.ndarray, hub_rng):
    """Unique vertices ``v`` with coupon counts ``c`` → routed
    (block_id, rkey, c) arrays. A hub's count is split across its
    replicas by ONE exact multinomial ∝ rsize drawn from ``hub_rng(v)``
    (conserves c; P(replica) = rsize/deg). Hubs are drawn in input order,
    so the split is deterministic in the input and the generators."""
    rkey = v.astype(np.int64) << REPLICA_BITS
    bid = _block_of(rkey, plan.bounds, plan.block_ids)
    if len(plan.hub_ids) == 0:
        return bid, rkey, c
    at = np.searchsorted(plan.hub_ids, v)
    hub = plan.hub_ids[np.minimum(at, len(plan.hub_ids) - 1)] == v
    if not hub.any():
        return bid, rkey, c
    parts = [(bid[~hub], rkey[~hub], c[~hub])]
    for i in np.flatnonzero(hub):
        rep_bid, rep_rkey, p = plan.hub_reps[at[i]]
        n = hub_rng(int(v[i])).multinomial(int(c[i]), p)
        keep = n > 0
        parts.append((rep_bid[keep], rep_rkey[keep], n[keep]))
    return tuple(np.concatenate(x) for x in zip(*parts))


def _routed_table(bid: np.ndarray, rkey: np.ndarray, c: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "block_id": pa.array(bid, pa.int32()),
            "rkey": pa.array(rkey, pa.int64()),
            "c": pa.array(c, pa.int64()),
        }
    )


def _step_kernel(csr_path: str, eps: float, seed: int, step: int, plan: RoutePlan):
    """The walk UDF: ONE block's coupons → walk + per-block coalescing
    (``_walk_kernel``) → arrivals routed to the blocks that walk them at
    step + 1. Hub splits draw from the (seed, block_id, step) hub stream;
    the blocks emitting to one hub draw independently, and a sum of
    independent Multinomial(cᵢ, p) is Multinomial(Σcᵢ, p)."""
    walk = _walk_kernel(csr_path, eps, seed, step)

    def kernel(coupons_t: pa.Table) -> pa.Table:
        moved = walk(coupons_t)
        dst = moved.column("dst").to_numpy(zero_copy_only=False)
        cnt = moved.column("cnt").to_numpy(zero_copy_only=False)
        if len(dst) == 0:  # no survivors: an empty routed table
            return _routed_table(dst, dst, cnt)
        block_id = int(coupons_t.column("block_id")[0].as_py())
        rng = np.random.default_rng(
            np.random.SeedSequence([seed, block_id, step], spawn_key=_HUB_STREAM)
        )
        return _routed_table(*_route(plan, dst, cnt, lambda _v: rng))

    return kernel


def _init_router(plan: RoutePlan, K: int, seed: int):
    """mapInArrow body: vertex ids → their K initial coupons, routed. Each
    hub vertex is split from its own (seed, v) stream, so the split does
    not depend on how the vertex set is partitioned."""

    def hub_rng(v: int) -> np.random.Generator:
        return np.random.default_rng(
            np.random.SeedSequence([seed, v], spawn_key=_INIT_STREAM)
        )

    def route(batches):
        for b in batches:
            v = b.column("v").to_numpy(zero_copy_only=False)
            c = np.full(len(v), K, dtype=np.int64)
            yield from _routed_table(*_route(plan, v, c, hub_rng)).to_batches()

    return route


def pagerank_monte_carlo(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    walks_per_vertex: int = 10,
    iterations: int = 10,
    eps: float = EPS,
    seed: int = 1234,  # reference's RNG base seed, MonteCarloPageRank.scala:52
    edges_per_block: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    state_root: str | None = None,
    fuse_steps: int = 6,
) -> tuple[DataFrame, dict[str, Any]]:
    """Returns (``ranks(v:long, rank:double)``, info). Rank = ζ_v / Σζ.

    ``edges_per_block`` controls walk-kernel parallelism (one CSR block =
    one Arrow task) AND the hub-split threshold (out_deg > edges_per_block
    → the vertex is split across replicas). Default sizes blocks so there
    are ≈ 2 blocks per core slot (min 4k edges/block); the default
    therefore varies with cluster size — pass an explicit value when
    outputs must be identical across different clusters.

    ``fuse_steps`` (fast path only) is how many supersteps are compiled
    into ONE Spark job before the superstep chain is materialized; it
    bounds logical-plan size, not correctness — any value ≥ 1 produces
    identical ranks (the RNG is seeded per logical (block, step), never
    per job). The fused plan is a logical TREE, not a DAG: each step's
    exchange is consumed by the next step's agg AND the segment's ζ
    branch — ReusedExchange dedups execution, but the ANALYZER walks the
    un-deduped tree, so DeduplicateRelations pays O(2^k) per segment.
    Routing inside the walk UDF keeps that base at 2 on hub graphs too;
    k=6 is ~seconds of driver CPU at any data size. Raise it only when
    per-step work dwarfs the per-job fixed cost.

    ``checkpoint_dir`` makes the run durable: each superstep's routed
    coupon table is committed as a checkpoint step, and ``resume=True``
    continues from the last committed one. Resuming requires the same
    (K, eps, seed) and the same block layout; a checkpoint written under
    another configuration — or by the older coupon format keyed by
    vertex — raises ValueError rather than resuming wrongly.

    ``state_root`` relocates the scratch state (CSR side-files + per-step
    coupon tables). It may be a filesystem URI (``file:///p``,
    ``hdfs://``, ``s3://``): the workers' resident-CSR reads resolve it
    through ``pyarrow.fs`` (``_resolve_fs``), so superstep state can live
    on DFS — the real-cluster deployment shape. Caller owns cleanup of a
    given root; the default mkdtemp scratch is reclaimed at interpreter
    exit."""
    t_setup = time.time()
    K = max(walks_per_vertex, 1)  # MonteCarloPageRank.scala:101
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t_plan0 = time.time()
    # flat per-superstep materializer (state.py) — created BEFORE the
    # block plan so the pack kernel knows the CSR root and can publish
    # each block's decoded arrays at pack time (mmap side-files under
    # <csr>/_decoded): the warm pass then only mmaps, never re-decodes
    store = StateStore(spark, root=state_root)
    # the loop-invariant CSR goes to block_id-partitioned parquet ONCE;
    # the walk kernel's workers load + cache their blocks from these
    # side-files (DFS on a real cluster), so the graph never re-crosses
    # the JVM→Arrow boundary per superstep (module docstring, item 2)
    csr_path = store.root.rstrip("/") + "/csr"
    # edges_per_block=None → the planner derives the ≈2-blocks-per-slot
    # default from the degree aggregate it computes anyway (no extra pass)
    blocks_assign, csr, plan_meta = plan_walk_blocks(
        edges,
        edges_per_block=edges_per_block,
        n_partitions=n_parts,
        # pack-time publication needs a local (host-shared) root; DFS
        # roots keep the lazy decode+publish path on first touch. The
        # SCHEME-STRIPPED path is what _publish_block/_mmap_block key on
        # (a raw file:// URI would os.makedirs a literal "file:" dir)
        publish_root=_resolve_fs(csr_path)[1] if _is_local(csr_path) else None,
    )
    t_plan1 = time.time()
    # NO repartition before the write: the pack kernel's own groupBy
    # exchange already produced block_id-partitioned output (64 fat rows),
    # and re-exchanging them shuffles the entire packed CSR (~4.3 GB/TB of
    # edges) a second time for zero layout benefit — the dynamic-partition
    # writer handles the ~2 blocks per task directly
    # snappy for the side-files: they're scratch (read back by every
    # worker's resident-cache load), and snappy halves the encode CPU in
    # the 32 pack tasks for ~1.33× bytes — the right trade for a file
    # whose lifetime is one run and whose read path is decode-bound.
    # (A noop-sink variant that skipped this parquet write on single-host
    # scratch runs was measured at 100M edges and bought nothing: the
    # csr_write phase is the edge exchange + Arrow pack + publication,
    # not the parquet encode — so the durable side-files stay
    # unconditional.)
    csr.write.option("compression", "snappy").partitionBy(
        "block_id"
    ).mode("overwrite").parquet(csr_path)
    t_write = time.time()
    warm_csr_workers(spark, csr_path)  # Pregel graph-load: resident
    # caches fill once per worker here, not inside superstep 0
    t_csr = time.time()
    has_hubs = plan_meta["has_hubs"]
    # every replica row of a split vertex (a lone replica other than 0
    # counts too: the router must not send its coupons to replica 0)
    hub_rows = [
        tuple(r)
        for r in blocks_assign.filter("n_rep > 1 OR replica > 0")
        .select("v", "block_id", "rkey", "rsize").collect()
    ] if has_hubs else []
    plan = _route_plan(plan_meta["bounds"], plan_meta["block_ids"], hub_rows)
    layout = hashlib.sha1(
        repr((plan_meta["bounds"], plan_meta["block_ids"], sorted(hub_rows)))
        .encode()
    ).hexdigest()

    def _coalesce(routed: DataFrame) -> DataFrame:
        """Routed rows → coupon state: ONE exchange by block_id, and the
        (block_id, rkey) aggregate runs on that same partitioning."""
        return (
            routed.repartition(n_parts, "block_id")
            .groupBy("block_id", "rkey")
            .agg(F.sum("c").alias("c"))
        )

    def _walk(coupons: DataFrame, step: int) -> DataFrame:
        return coupons.groupBy("block_id").applyInArrow(
            _step_kernel(csr_path, eps, seed, step, plan), schema=ROUTED_SCHEMA
        )

    ckpt = None
    start_step = 0
    step_coupons: list[DataFrame] = []  # routed coupons per step (+ init)
    if checkpoint_dir:
        run_config = {
            "algo": "pagerank_mc", "K": K, "eps": eps, "seed": seed,
            "layout": layout,
        }
        ckpt = CheckpointManager(spark, checkpoint_dir, run_config)
        if resume:
            last = ckpt.last_complete_step()
            if last is not None:
                stored = (ckpt.manifest(last) or {}).get("run_config")
                if stored != run_config:
                    raise ValueError(
                        f"cannot resume from {checkpoint_dir}: it was written "
                        f"with run config {stored}, this run has {run_config} "
                        "(a checkpoint without 'layout' holds the older "
                        "vertex-keyed coupon format); rerun with resume=False"
                    )
                step_coupons = [
                    ckpt.load_tables(s, ["coupons"])["coupons"]
                    for s in range(-1, last + 1)
                ]
                coupons = step_coupons[-1]
                start_step = last + 1
        else:
            ckpt.clear()
    fast = ckpt is None  # scratch path: in-memory partition-preserving
    # superstep chain; the durable path commits each step's routed table
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    if fast:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    if start_step == 0:
        # vertex set: srcs come free from the planner's cached O(V) degree
        # table; only the dst side pays a distinct over the cached
        # src-partitioned edges — the raw edge source is never re-read
        verts = (
            vertices.select(F.col("vid").alias("v"))
            if vertices is not None
            else plan_meta["out_deg"].select("v")
            .unionByName(
                plan_meta["edges_src_partitioned"].select(F.col("dst").alias("v"))
            )
            .distinct()
        )
        init = _coalesce(
            verts.mapInArrow(_init_router(plan, K, seed), ROUTED_SCHEMA)
        )
        if ckpt:
            coupons = ckpt.save_step(-1, {"coupons": init}, {"init": True})[
                "coupons"
            ]
            step_coupons = [coupons]
        else:
            # scratch PARQUET, not localCheckpoint: a checkpointed RDD's
            # preserved hashpartitioning holds attribute ids that go stale
            # when the analyzer's DeduplicateRelations re-ids the scan's
            # copies (the fused plan references the state once per ζ
            # branch), and a canonically-unequal leaf poisons every
            # exchange above it — no ReusedExchange, O(steps²) kernel
            # recompute. A parquet scan canonicalizes cleanly.
            state = store.materialize(init, "mcstate")

    for df in plan_meta["cached"]:  # planner pins (edges exchange, degree
        df.unpersist()  # table, block assignment) end with setup — the
        # loop reads only the CSR side-files and the route plan
    steps_run = start_step
    step_secs: list[float] = []  # fast: per-SEGMENT wall; durable: per-step
    step_totals: list[int] = []  # surviving walks per superstep (observed)
    t_loop = time.time()
    try:
        if fast:
            # WHOLE-LOOP FUSION: ``fuse_steps`` supersteps compile into ONE
            # Spark job, one stage per step: [complete (block_id, rkey)
            # agg → walk UDF → exchange by block_id]. Each step's exchange
            # is consumed TWICE in the same plan — by the next step's agg
            # and by the segment's ζ union — which costs one shuffle, not
            # two: ReusedExchange dedupes the identical subtree (asserted
            # by tests/test_pagerank.py fused-plan test). Per-step
            # surviving-walk totals ride the segment job as CollectMetrics
            # on the ζ branches; extinction therefore short-circuits at
            # segment granularity (a post-extinction step inside a segment
            # walks an empty state — a no-op).
            z_acc = state.select("rkey", "c")  # init arrivals: ζ = K
            agged = state
            step = start_step
            while step < iterations:
                t_seg = time.time()
                seg = list(range(step, min(step + fuse_steps, iterations)))
                obs_by_step: dict[int, Observation] = {}
                branches = [z_acc]
                for s in seg:
                    exch = _walk(agged, s).repartition(n_parts, "block_id")
                    obs = Observation(f"mc_step_{s}")
                    obs_by_step[s] = obs
                    branches.append(
                        exch.observe(obs, F.sum("c").alias("total"))
                        .select("rkey", "c")
                    )
                    agged = exch.groupBy("block_id", "rkey").agg(
                        F.sum("c").alias("c")
                    )
                # ζ partial: rows with equal rkey share a block, hence a
                # partition — the partial agg fully coalesces each branch
                # before the hash(rkey) exchange
                z_seg = (
                    reduce(DataFrame.unionByName, branches)
                    .groupBy("rkey").agg(F.sum("c").alias("c"))
                )
                # ONE action materializes the segment: ζ partial plus (if
                # the loop continues) the carry-over state, tagged into one
                # table so a single job computes every kernel exactly once
                seg_out = z_seg.select(
                    F.lit(1).alias("tag"), F.lit(-1).alias("block_id"),
                    "rkey", "c",
                )
                if seg[-1] != iterations - 1:
                    seg_out = seg_out.unionByName(
                        agged.select(
                            F.lit(0).alias("tag"), "block_id", "rkey", "c"
                        )
                    )
                seg_out = store.materialize(seg_out, "mcstate")
                z_acc = seg_out.filter("tag = 1").select("rkey", "c")
                # parquet erases partitioning, so the next segment's first
                # kernel re-exchanges the carry-over state — one small
                # (O(occupied vertices)) exchange per SEGMENT, the price
                # of bounding plan size
                agged = seg_out.filter("tag = 0").select(
                    "block_id", "rkey", "c"
                )
                step_secs.append(round(time.time() - t_seg, 3))
                extinct = False
                for s in seg:
                    tot = int(obs_by_step[s].get["total"] or 0)
                    step_totals.append(tot)
                    steps_run = s + 1
                    if tot == 0:  # extinction — nothing left to walk
                        extinct = True
                        break
                if extinct:
                    break
                step = seg[-1] + 1
        else:
            for step in range(start_step, iterations):
                t_step = time.time()
                obs = Observation(f"mc_step_{step}")
                # the same walk UDF as the fast path; its routed output is
                # coalesced and committed, so a resume re-enters here with
                # exactly the state an uninterrupted run would hold. The
                # surviving-walk total rides the write job as an observed
                # metric — extinction check costs no extra job
                observed = _coalesce(_walk(coupons, step)).observe(
                    obs, F.sum("c").alias("total")
                )
                coupons = ckpt.save_step(
                    step, {"coupons": observed}, {"superstep": step}
                )["coupons"]
                step_coupons.append(coupons)
                steps_run = step + 1
                step_secs.append(round(time.time() - t_step, 3))
                tot = int(obs.get["total"] or 0)
                step_totals.append(tot)
                if tot == 0:  # extinction — nothing to walk
                    break
    finally:
        if fast:  # never leak AQE-off into the caller's session
            spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)

    t_loop_end = time.time()
    # ζ = K + Σ arrivals, folded per vertex (v = rkey >> REPLICA_BITS; the
    # multinomial conserves each hub's total). Fast path: the segment jobs
    # already folded every step into the (rkey, c) accumulator. Durable
    # path: ONE union+groupBy over the per-step parquet tables, never a
    # per-step re-aggregation (the reference union+reduceByKey's doubled
    # shuffle, MonteCarloPageRank.scala:122).
    all_arrivals = reduce(
        DataFrame.unionByName,
        [df.select("rkey", "c") for df in ([z_acc] if fast else step_coupons)],
    ).select(F.shiftright("rkey", REPLICA_BITS).alias("v"), F.col("c").alias("z"))
    obs_total = Observation("mc_total")
    visits = store.materialize(
        all_arrivals.groupBy("v")
        .agg(F.sum("z").alias("z"))
        .observe(obs_total, F.sum("z").alias("t")),
        "visits",
    )
    total = obs_total.get["t"]
    if total is None:  # empty graph: no vertices at all
        empty = spark.createDataFrame([], "v long, rank double")
        return empty, {
            "iterations": 0, "K": K, "seed": seed, "total_visits": 0,
            "eps": eps, "setup_secs": round(t_loop - t_setup, 3),
            "loop_secs": 0.0,
        }
    ranks = visits.select("v", (F.col("z") / F.lit(float(total))).alias("rank"))
    ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
    ranks.count()  # pin; the scratch root (ranks' recompute source) is
    # reclaimed at interpreter exit (state.py atexit registry)
    info = {
        "iterations": steps_run, "K": K, "seed": seed,
        "total_visits": int(total), "eps": eps,
        "has_hub_splits": bool(has_hubs),
        "n_blocks": len(plan.bounds),
        "setup_secs": round(t_loop - t_setup, 3),
        "loop_secs": round(t_loop_end - t_loop, 3),
        "step_secs": step_secs,
        "step_walk_totals": step_totals,
        "fuse_steps": fuse_steps if fast else 1,
        # setup breakdown: plan = out_deg agg + bounds collect jobs;
        # csr_write = the edge shuffle + Arrow pack + parquet side-files
        # (the O(E) part); rest = hub collect + init-coupon write
        "setup_phases": {
            "plan": round(t_plan1 - t_plan0, 3),
            "csr_write": round(t_write - t_plan1, 3),
            "warm": round(t_csr - t_write, 3),
            "rest": round(t_loop - t_csr, 3),
        },
    }
    return ranks, info
