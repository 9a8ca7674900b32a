"""Link-graph engine benchmark: seeded workloads, checked end-to-end
times, and a traced per-layer breakdown.

Run from the repository root:

    python3 linkbench/run.py --workload transcripts --seed 1 --seconds 20 --trace 0

One driver process is the only client (a closed loop): it starts a
``local[<slots>]`` session on half the host's CPUs, stages the seeded
input (three times; ``setup_s`` is session start plus the median
staging), then runs the workload's suite of engine calls in sequence,
starting another pass only while it is expected to end within
``--seconds`` (at least one pass). Calls run as in a fresh
``spark-submit`` job: JIT, code generation and Python worker start-up
are part of their cost. Each call is timed by the CPU seconds the
driver, the JVM and the Python workers spend on it (``*_cpu_s``), the
end-to-end measure, and by wall clock (reported per layer). Every call's
output is checked against a numpy reference outside the timed region.
The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are a human-readable report (host state including the hypervisor's
steal while measuring, wall times, each metric with its sample count
and maximum, every check).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the
Spark event log on, sets one job group per engine call, times each
layer's public entry points in isolation, and reports the per-layer
metrics instead; its spans are written to ``.bench_out/``.

The suite is the same on both workloads: graph build, power-iteration
PageRank, Monte Carlo PageRank and label propagation; traced runs add
connected components and triangle counting. Label propagation runs
durable: it checkpoints, stops after one superstep and finishes with
``resume=True`` (the resumed leg is ``resume_s``); the other iterative
calls use scratch state. ``pipeline/*``, ``streaming/*`` and
``contract.py`` are not run; ``bench.py`` keeps covering them.

``bench.py``'s total and ``tools/bench_scaling.py`` are diagnostics
outside this benchmark's gate. N-vs-4N scaling efficiency stays ungated:
its per-window spread in ``BENCH/scaling.json`` is wider than a tenth
(PI loop 0.836-1.002, MC loop 0.587-0.785), and a 1-core leg would
roughly quadruple run time.

``linkbench/baseline.json`` holds the first baseline (medians and
quartiles over seeds, with host state), written by ``spread.py``.

Everything the run writes lives under ``.bench_tmp/`` in the working
directory and is removed at exit; the run stops the JVM it starts.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

import checks
import gen
import measure

ROOT = os.getcwd()
DRIVER_MEMORY = "1g"  # a small cap keeps the JVM heap, and peak_rss_mb, steady
STAGE_REPS = 3  # set-up is staged this many times; setup_s uses the median

# Workload sizes. Both graphs are small enough that one suite pass fits
# the run budget on a 4-CPU host; see BENCHMARK.json for why each exists.
WORKLOADS = {
    "transcripts": {
        "n_turns": 32000,
        "pi_steps": 3,
        "mc_walks": 10, "mc_steps": 2,
        "lpa_steps": 2,
    },
    "powerlaw": {
        "n": 32768, "out_degree": 16,
        "pi_steps": 3,
        "mc_walks": 16, "mc_steps": 6,
        "lpa_steps": 2,
    },
}

# End-to-end times are CPU seconds (user + system) of the driver Python,
# the JVM and the Python workers together: what a call costs in cores.
# Wall-clock call times move with the hypervisor's steal on a shared host
# (on a 4-vCPU VM: 0-28% of busy time from run to run, up to 1.5x on a
# call); CPU time leaves stolen time out. Wall times are reported per layer.
END_TO_END = {  # name -> unit
    "setup_s": "s", "cpu_s": "s", "graph_build_cpu_s": "s",
    "pagerank_power_cpu_s": "s", "pagerank_mc_cpu_s": "s", "labelprop_cpu_s": "s",
    "resume_cpu_s": "s", "peak_rss_mb": "MB",
}
# connected components and triangle counting run in traced runs only: an
# untraced pass already holds every call the run budget allows
TRACED_ONLY = {"components", "triangles"}
CALL_LAYERS = {  # suite call -> layer whose job group it is
    # the build reads the staged source and derives the edge table:
    # sources.transcripts + operators.edges.transcript_edges on
    # transcripts, sources.adjacency_text on powerlaw
    "graph_build": "graph_build",
    "pagerank_power": "algos.pagerank_power",
    "pagerank_mc": "algos.pagerank_mc",
    "components": "algos.components",
    "labelprop": "algos.labelprop",
    "triangles": "algos.triangles",
}
GROUP_METRICS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "task_s": "s", "gc_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "driver_gap_s": "s", "core_util": "ratio", "fixed_cost_share": "ratio",
}
PER_LAYER = {
    **{f"{layer}.{m}": u for layer in CALL_LAYERS.values() for m, u in GROUP_METRICS.items()},
    **{f"{layer}.wall_s": "s" for layer in CALL_LAYERS.values()},
    "algos.labelprop.resume_s": "s",
    "algos.pagerank_power.edges_per_s": "1/s",
    "algos.pagerank_mc.edges_per_s": "1/s",
    "session.job_floor_ms": "ms",
    "sources.read_s": "s",
    "operators.adjacency.plan_walk_blocks_s": "s",
    "operators.adjacency.blocks": "count",
    "operators.adjacency.hub_vertices": "count",
    "operators.adjacency.csr_mb": "MB",
    "operators.state.materialize_ms": "ms",
    "operators.checkpoint.save_step_ms": "ms",
    "operators.checkpoint.load_tables_ms": "ms",
    "algos.pagerank_mc.walk_kernel.ms": "ms",
    "algos.pagerank_mc.walk_kernel.walks_per_s": "1/s",
    "algos.pagerank_mc.walk_kernel.mb_per_walk": "MB",
    "algos.pagerank_power.setup_s": "s",
    "algos.pagerank_power.loop_s": "s",
    "algos.pagerank_power.step_ms": "ms",
    "algos.pagerank_power.supersteps": "count",
    "algos.pagerank_mc.setup.plan_s": "s",
    "algos.pagerank_mc.setup.csr_write_s": "s",
    "algos.pagerank_mc.setup.warm_s": "s",
    "algos.pagerank_mc.setup.rest_s": "s",
    "algos.pagerank_mc.loop_s": "s",
    "algos.pagerank_mc.supersteps": "count",
    "algos.pagerank_mc.fuse_steps": "count",
    "algos.pagerank_mc.hub_splits": "count",
    "trace.wall_s": "s",
    "trace.cpu_s": "s",
}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def import_engine() -> None:
    """Import the engine from the working directory, or exit non-zero
    without a result: the benchmark builds the program from the checkout
    it runs in, never from anywhere else."""
    sys.path.insert(1, ROOT)
    try:
        import montecarlopagerank_spark as pkg
    except ImportError as exc:
        sys.exit(f"linkbench: engine package not found in {ROOT}: {exc}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        sys.exit(f"linkbench: engine imported from {pkg.__file__}, outside {ROOT}")


class Session:
    """The Spark session and the workspace every file of the run lives in."""

    def __init__(self, ws: str, cpus: int, traced: bool):
        self.ws, self.cpus = ws, cpus
        for d in ("tmp", "spark-local", "scratch", "events"):
            os.makedirs(f"{ws}/{d}", exist_ok=True)
        os.environ.update(
            {
                "TMPDIR": f"{ws}/tmp",
                "SPARK_LOCAL_DIRS": f"{ws}/spark-local",
                "SPARK_GRAFT_SCRATCH": f"{ws}/scratch",
                "SPARK_GRAFT_CPUS": str(cpus),
                "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
                # no JVM performance-data file under /tmp: the launcher
                # and the driver JVM write only inside the workspace
                "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
                # native thread pools (Arrow, BLAS) in the driver and the
                # Python workers run single-threaded: idle pool threads
                # spin and bill CPU time when a neighbour preempts them
                "OMP_NUM_THREADS": "1",
                "OPENBLAS_NUM_THREADS": "1",
                "MKL_NUM_THREADS": "1",
            }
        )
        tempfile.tempdir = f"{ws}/tmp"
        from montecarlopagerank_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{ws}/warehouse",
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -XX:ActiveProcessorCount={cpus} -XX:+UseSerialGC "
                f"-Djava.io.tmpdir={ws}/tmp"
            ),
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{ws}/events",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name="linkbench", master=f"local[{cpus}]", extra_conf=conf)
        self.sc = self.spark.sparkContext
        self._start_python_workers()

    def _start_python_workers(self) -> None:
        """One Python worker per core slot, with the engine's kernel
        module imported: the first engine call that runs Arrow kernels
        would otherwise pay the worker start-up, which varies by seconds
        from run to run."""

        def start(batches):
            import montecarlopagerank_spark.algos.pagerank_mc  # noqa: F401

            yield from batches

        self.spark.range(0, self.cpus, 1, self.cpus).mapInArrow(start, "id long").count()

    def group(self, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def slots(host_cpus: int) -> int:
    """Core slots of the session: half the host's CPUs. The JVM is told
    the same count (GC and JIT threads), so the run leaves the other half
    to the rest of a shared host instead of timing the scheduler."""
    return max(1, host_cpus // 2)


def edges_per_block(n_edges: int) -> int:
    """MC block size, pinned so block layout and random streams do not
    depend on the host: about what the engine derives by default on a
    4-core session (two blocks per slot). On transcripts it is below the
    role vertices' out-degree, so they split as hubs."""
    return max(n_edges // 8, 1)


def materialize(df):
    """Cache ``df`` and compute it fully; returns the cached frame."""
    df = df.persist()
    df.count()
    return df


class Workload:
    """One workload: its staged input and the suite of engine calls."""

    def __init__(self, name: str, seed: int, params: dict, sess: Session):
        self.name, self.seed, self.p, self.sess = name, seed, params, sess
        self.spark = sess.spark

    # -- inputs (generated outside every timed region) --
    def generate(self) -> None:
        p = self.p
        if self.name == "transcripts":
            self.table = gen.transcripts(self.seed, p["n_turns"])
            self.key_edges = checks.transcript_key_edges(self.table)
        else:
            self.n = p["n"]
            self.src, self.dst = gen.powerlaw_edges(self.seed, self.n, p["out_degree"])
            self.lines = gen.adjacency_lines(self.src, self.dst, self.n)

    def stage(self, path: str) -> None:
        """Write the input where the engine's source reads it, one file
        per core slot, then scan it once so it is in the page cache."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from layers import noop

        os.makedirs(path, exist_ok=True)
        if self.name == "transcripts":
            table = pa.Table.from_pandas(self.table, preserve_index=False)
            step = -(-table.num_rows // self.sess.cpus)
            for i in range(0, table.num_rows, step):
                pq.write_table(
                    table.slice(i, step), f"{path}/part-{i // step:05d}.parquet",
                    coerce_timestamps="us",
                )
        else:
            lines = self.lines.splitlines(keepends=True)
            step = -(-len(lines) // self.sess.cpus)
            for i in range(0, len(lines), step):
                with open(f"{path}/part-{i // step:05d}.txt", "w") as f:
                    f.writelines(lines[i: i + step])
        self.path = path
        noop(self.read())

    def read(self):
        if self.name == "transcripts":
            from montecarlopagerank_spark.sources.transcripts import read_transcripts

            return read_transcripts(self.spark, self.path)
        from montecarlopagerank_spark.sources.adjacency_text import read_adjacency_text

        return read_adjacency_text(self.spark, self.path)

    # -- the suite --
    def calls(self):
        """Returns the pass state and ``(name, run, check)`` triples:
        ``run()`` is timed and returns the materialized output,
        ``check(output) -> (ok, detail)`` is not timed."""
        from montecarlopagerank_spark.algos import (
            connected_components, label_propagation, pagerank_monte_carlo,
            pagerank_power, triangle_count,
        )

        p, spark, st = self.p, self.spark, {}

        def build():
            if self.name == "transcripts":
                from montecarlopagerank_spark.operators.edges import transcript_edges

                edges, vertices = transcript_edges(self.read())
                st["vertices"] = materialize(vertices)
                st["edges"] = materialize(edges)
            else:
                from montecarlopagerank_spark.sources.adjacency_text import edges_from_adjacency

                st["vertices"] = None
                st["edges"] = materialize(edges_from_adjacency(self.read()))
            st["e"] = st["edges"].select("src", "dst")
            return st["edges"]

        def check_build(edges):
            if self.name == "transcripts":
                ok, detail, src, dst, n = checks.check_transcript_build(
                    self.key_edges, st["vertices"].toPandas(), edges.toPandas()
                )
            else:
                src, dst, n = self.src, self.dst, self.n
                ok, detail = checks.check_edges(src, dst, edges.toPandas())
            st.update(src=src, dst=dst, n=n, n_edges=len(src))
            x, y = checks.undirected_pairs(src, dst)
            st["verts"] = (
                np.arange(n) if self.name == "transcripts" else np.unique(np.concatenate([x, y]))
            )
            return ok, detail

        def pi():
            ranks, info = pagerank_power(
                spark, st["e"], st["vertices"], tol=0.0, max_iters=p["pi_steps"]
            )
            st["pi_info"] = info
            return materialize(ranks)

        def mc():
            ranks, info = pagerank_monte_carlo(
                spark, st["e"], st["vertices"], walks_per_vertex=p["mc_walks"],
                iterations=p["mc_steps"], seed=self.seed,
                edges_per_block=edges_per_block(st["n_edges"]),
            )
            st["mc_info"] = info
            return materialize(ranks)

        def cc():
            return materialize(connected_components(spark, st["e"], st["vertices"]))

        def lpa():
            # durable: stop after the first superstep, then resume
            ck = tempfile.mkdtemp(prefix="ckpt-lpa-", dir=self.sess.ws)
            materialize(label_propagation(
                spark, st["e"], st["vertices"], max_iters=1, checkpoint_dir=ck
            )).unpersist()
            cpu0, t0 = self.sess.cpu_s(), time.perf_counter()
            labels = materialize(label_propagation(
                spark, st["e"], st["vertices"], max_iters=p["lpa_steps"],
                checkpoint_dir=ck, resume=True,
            ))
            st["resume_s"] = time.perf_counter() - t0
            st["resume_cpu_s"] = self.sess.cpu_s() - cpu0
            return labels

        def tri():
            return triangle_count(spark, st["e"])

        return st, [
            ("graph_build", build, check_build),
            ("pagerank_power", pi, lambda r: checks.check_pagerank_power(
                r.toPandas(), st["src"], st["dst"], st["n"], p["pi_steps"])),
            ("pagerank_mc", mc, lambda r: checks.check_pagerank_mc(
                r.toPandas(), st["mc_info"], st["src"], st["dst"], st["n"],
                p["mc_walks"], p["mc_steps"])),
            ("components", cc, lambda r: checks.check_components(
                r.toPandas(), st["src"], st["dst"], st["verts"], st["n"])),
            ("labelprop", lpa, lambda r: checks.check_labelprop(
                r.toPandas(), st["src"], st["dst"], st["verts"], st["n"], p["lpa_steps"])),
            ("triangles", tri, lambda r: checks.check_triangles(r, st["src"], st["dst"])),
        ]


def run_pass(wl: Workload, sess: Session, tag: str, tracer=None) -> dict:
    """One pass of the suite. Returns per-call seconds, wall-clock call
    bounds, the pass state (call infos) and check outcomes."""
    st, suite = wl.calls()
    out = {"secs": {}, "cpu": {}, "bounds": {}, "checks": [], "state": st, "check_s": 0.0}
    cached = []
    for name, run, chk in suite:
        if name in TRACED_ONLY and tracer is None:
            continue
        if name != "graph_build" and "e" not in st:
            out["checks"].append((name, False, "skipped: graph build failed"))
            continue
        sess.group(f"{tag}:{name}" if tracer else None)
        cpu0 = sess.cpu_s()
        t0 = time.time()
        c0 = time.perf_counter()
        span = tracer.span(f"{tag}:{CALL_LAYERS[name]}") if tracer else contextlib.nullcontext()
        try:
            with span:
                result = run()
        except Exception:
            sess.group(None)
            traceback.print_exc(file=sys.stderr)
            out["checks"].append((name, False, "raised"))
            continue
        out["secs"][name] = time.perf_counter() - c0
        out["cpu"][name] = sess.cpu_s() - cpu0
        out["bounds"][name] = (t0, time.time())
        sess.group(None)
        c1 = time.perf_counter()
        try:
            ok, detail = chk(result)
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            ok, detail = False, f"check raised {exc!r}"
        out["check_s"] += time.perf_counter() - c1
        out["checks"].append((name, ok, detail))
        if hasattr(result, "unpersist"):
            cached.append(result)
    for df in cached:
        df.unpersist()
    if st.get("edges") is not None:
        st["edges"].unpersist()
    if st.get("vertices") is not None:
        st["vertices"].unpersist()
    return out


def e2e_metrics(passes: list[dict], setup_s: float, peak_rss: float) -> dict:
    """Median over passes of each end-to-end metric, with its sample
    count and maximum."""
    vals: dict[str, list[float]] = {}
    for ps in passes:
        row = {f"{k}_cpu_s": v for k, v in ps["cpu"].items()}
        row["cpu_s"] = sum(ps["cpu"].values())
        if "resume_cpu_s" in ps["state"]:
            row["resume_cpu_s"] = ps["state"]["resume_cpu_s"]
        for k, v in row.items():
            vals.setdefault(k, []).append(v)
    metrics = {k: (statistics.median(v), len(v), max(v)) for k, v in vals.items()}
    metrics["setup_s"] = (setup_s, 1, setup_s)
    metrics["peak_rss_mb"] = (peak_rss, 1, peak_rss)
    return {k: v for k, v in metrics.items() if k in END_TO_END}


def wall_metrics(ps: dict, n_edges: int, p: dict) -> dict:
    """Wall-clock times of one pass: per call, the resumed leg, and
    edges x supersteps per second for the two PageRank calls."""
    s = ps["secs"]
    out = {f"{CALL_LAYERS[k]}.wall_s": v for k, v in s.items()}
    if "resume_s" in ps["state"]:
        out["algos.labelprop.resume_s"] = ps["state"]["resume_s"]
    if "pagerank_power" in s:
        out["algos.pagerank_power.edges_per_s"] = n_edges * p["pi_steps"] / s["pagerank_power"]
    if "pagerank_mc" in s:
        out["algos.pagerank_mc.edges_per_s"] = n_edges * p["mc_steps"] / s["pagerank_mc"]
    return out


def layer_metrics(passes, events, floor_ms: float, cpus: int, n_edges: int, p: dict) -> dict:
    """Per-call job-group statistics plus the call infos, median over
    passes."""
    vals: dict[str, list[float]] = {}

    def add(k, v):
        vals.setdefault(k, []).append(float(v))

    for i, ps in enumerate(passes):
        for name, (t0, t1) in ps["bounds"].items():
            layer, wall = CALL_LAYERS[name], t1 - t0
            g = events.get(f"pass{i}:{name}", measure.GroupStats())
            for k in ("jobs", "tasks", "failed_tasks", "task_s", "gc_s",
                      "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
                add(f"{layer}.{k}", getattr(g, k))
            add(f"{layer}.stages", len(g.stages))
            add(f"{layer}.driver_gap_s", wall - measure.busy_seconds(g.intervals, t0, t1))
            add(f"{layer}.core_util", g.task_s / (wall * cpus))
            add(f"{layer}.fixed_cost_share", g.jobs * floor_ms / 1000.0 / wall)
        st = ps["state"]
        if "pi_info" in st:
            info = st["pi_info"]
            add("algos.pagerank_power.setup_s", info["setup_secs"])
            add("algos.pagerank_power.loop_s", info["loop_secs"])
            add("algos.pagerank_power.step_ms", 1000.0 * statistics.median(info["step_secs"]))
            add("algos.pagerank_power.supersteps", info["iterations"])
        if "mc_info" in st:
            info = st["mc_info"]
            for k, v in info["setup_phases"].items():
                add(f"algos.pagerank_mc.setup.{k}_s", v)
            add("algos.pagerank_mc.loop_s", info["loop_secs"])
            add("algos.pagerank_mc.supersteps", info["iterations"])
            add("algos.pagerank_mc.fuse_steps", info["fuse_steps"])
            add("algos.pagerank_mc.hub_splits", int(info["has_hub_splits"]))
        for k, v in wall_metrics(ps, n_edges, p).items():
            add(k, v)
        add("trace.wall_s", sum(v for k, v in ps["secs"].items() if k not in TRACED_ONLY))
        add("trace.cpu_s", sum(v for k, v in ps["cpu"].items() if k not in TRACED_ONLY))
    return {k: statistics.median(v) for k, v in vals.items()}


def isolated_layers(wl: Workload, sess: Session) -> tuple[dict, list[str]]:
    """Isolation timings; a layer that cannot be reached is reported as
    unmeasured."""
    import layers

    p, ws, out, missing = wl.p, sess.ws, {}, []
    st, suite = wl.calls()
    build = suite[0][1]

    def attempt(name, fn):
        try:
            out.update(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            missing.append(name)

    attempt("sources", lambda: layers.source_read(wl.read))
    try:
        edges = build()
    except Exception:  # the pass already counted the failed build
        traceback.print_exc(file=sys.stderr)
        return out, missing + ["operators.adjacency", "algos.pagerank_mc.walk_kernel",
                               "operators.state", "operators.checkpoint"]
    n_edges = edges.count()
    n_vertices = st["vertices"].count() if st["vertices"] is not None else p["n"]
    root = f"{ws}/csr-iso"
    attempt("operators.adjacency", lambda: layers.adjacency(
        st["e"], edges_per_block(n_edges), sess.cpus, root))
    attempt("algos.pagerank_mc.walk_kernel", lambda: layers.walk_kernel(root, p["mc_walks"], wl.seed))
    attempt("operators.state", lambda: layers.state_store(sess.spark, n_vertices, f"{ws}/state-iso"))
    attempt("operators.checkpoint", lambda: layers.checkpoint(sess.spark, n_vertices, f"{ws}/ckpt-iso"))
    edges.unpersist()
    return out, missing


def fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = process_start_time()
    import_engine()

    host_start = measure.host_state()
    cpus = slots(host_start["cpus"])
    ws = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(ws, exist_ok=True)
    traced = bool(args.trace)
    tracer = measure.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}") if traced else None
    report: list[str] = []
    try:
        with measure.RssSampler() as rss:
            sess = Session(ws, cpus, traced)
            # CPU seconds of the driver, the JVM and the Python workers,
            # less what the memory sampler itself spends
            sess.cpu_s = lambda: measure.tree_cpu_s(os.getpid()) - rss.cpu_s
            session_s = time.time() - t_proc
            from layers import job_floor_ms

            t0 = time.perf_counter()
            floor_before = job_floor_ms(sess.spark, cpus)
            phases = {"floor_before": time.perf_counter() - t0}
            wl = Workload(args.workload, args.seed, WORKLOADS[args.workload], sess)
            wl.generate()
            stage_s = []
            for i in range(STAGE_REPS):
                t0 = time.perf_counter()
                wl.stage(f"{ws}/input")
                stage_s.append(time.perf_counter() - t0)
            setup_s = session_s + statistics.median(stage_s)
            phases["stage"] = sum(stage_s)

            rss.mark()
            passes, t_meas = [], time.perf_counter()
            host0 = measure.host_cpu_ticks()
            while True:  # another pass only while it is expected to end in time
                t0 = time.perf_counter()
                passes.append(run_pass(wl, sess, f"pass{len(passes)}", tracer))
                last = time.perf_counter() - t0
                if time.perf_counter() - t_meas + last > args.seconds:
                    break
            peak_rss = rss.peak_since_mark()
            steal = measure.steal_share(host0, measure.host_cpu_ticks())
            phases["passes"] = time.perf_counter() - t_meas
            phases["checks"] = sum(ps["check_s"] for ps in passes)
            t0 = time.perf_counter()
            floor_after = job_floor_ms(sess.spark, cpus)
            phases["floor_after"] = time.perf_counter() - t0
            iso, missing = ({}, [])
            if traced:
                t0 = time.perf_counter()
                with tracer.span("isolated_layers"):
                    iso, missing = isolated_layers(wl, sess)
                phases["isolated_layers"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            sess.stop()
            phases["stop"] = time.perf_counter() - t0
        host_end = measure.host_state()

        checked = [c for ps in passes for c in ps["checks"]]
        attempted, failed = len(checked), sum(1 for c in checked if not c[1])
        n_edges = passes[0]["state"].get("n_edges", 0)
        loaded = host_start["loadavg"][0] > host_start["cpus"] / 4
        report.append(
            f"# linkbench workload={args.workload} seed={args.seed} passes={len(passes)} "
            f"cpus={host_start['cpus']} slots={cpus} loadavg_start={host_start['loadavg']} loadavg_end={host_end['loadavg']} "
            f"job_floor_ms_before={fmt(floor_before)} job_floor_ms_after={fmt(floor_after)} "
            f"{'loaded' if loaded else 'unloaded'}"
        )
        report.append(
            f"# setup: session {fmt(session_s)} s, stage median {fmt(statistics.median(stage_s))} s "
            f"of {STAGE_REPS}; graph {n_edges} edges"
        )
        report.append("# phases (s): " + ", ".join(f"{k} {fmt(v)}" for k, v in phases.items()))
        report.append(
            "# passes: wall s " + " ".join(fmt(sum(ps["secs"].values())) for ps in passes)
            + ", cpu s " + " ".join(fmt(sum(ps["cpu"].values())) for ps in passes)
            + f"; host steal {fmt(steal)} of busy CPU time while measuring"
        )
        for name, ok, detail in checked:
            report.append(f"# check {name}: {'ok' if ok else 'FAILED'} - {detail}")
        report.append(f"# failed_ops_frac {fmt(failed / max(attempted, 1))} ({failed}/{attempted})")
        if traced:
            events_dir = f"{ws}/events"
            logs = [f for f in os.listdir(events_dir) if not f.startswith(".")]
            events = measure.read_event_log(os.path.join(events_dir, logs[0])) if logs else {}
            metrics = layer_metrics(passes, events, floor_before, cpus, n_edges, wl.p)
            metrics.update(iso)
            metrics["session.job_floor_ms"] = floor_before
            for name in missing:
                report.append(f"# unmeasured layer: {name}")
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            span_path = os.path.join(ROOT, ".bench_out", f"spans-{tracer.run_id}.jsonl")
            tracer.dump(span_path)
            report.append(f"# spans: {span_path}")
            result = {
                k: {"value": v, "unit": PER_LAYER[k]} for k, v in sorted(metrics.items()) if k in PER_LAYER
            }
        else:
            e2e = e2e_metrics(passes, setup_s, peak_rss)
            for k, v in sorted(wall_metrics(passes[0], n_edges, wl.p).items()):
                report.append(f"# wall (first pass) {k} {fmt(v)}")
            for k, (med, n, mx) in sorted(e2e.items()):
                report.append(f"# {k:18s} {fmt(med):>12s} {END_TO_END[k]:4s} median of {n}, max {fmt(mx)}")
            result = {k: {"value": v[0], "unit": END_TO_END[k]} for k, v in sorted(e2e.items())}
    finally:
        shutil.rmtree(ws, ignore_errors=True)
    for line in report:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
