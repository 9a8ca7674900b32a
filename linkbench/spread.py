"""Run the benchmark over several seeds and report, per workload and
metric, the median, the quartiles and the quartile spread as a share of
the median — the steadiness test the benchmark's bounds are set against.

    python3 linkbench/spread.py --workloads transcripts powerlaw --seeds 1-10 --out runs.jsonl

Each run's final JSON line is appended to ``--out`` with its workload,
seed, trace flag and run time, so the summary can be recomputed later
with ``--summarize runs.jsonl``. ``--trace 1`` makes traced runs;
``--baseline PATH`` also writes the per-workload medians and quartiles,
the host state and the tracing overhead (traced ``trace.cpu_s`` minus
the untraced ``cpu_s`` median) as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=180,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "trace": trace, "run_s": time.time() - t0,
            "rc": proc.returncode, "result": result, "report": lines[:-1]}


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    med = statistics.median(vals)
    if len(vals) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3


def baseline(rows: list[dict]) -> dict:
    """Per workload: medians and quartiles of every metric, run times and
    the host state the runs saw."""
    out = {}
    for wl in sorted({r["workload"] for r in rows}):
        rs = [r for r in rows if r["workload"] == wl and r["result"]]
        entry = {"runs": {}, "host": {}}
        for trace in (0, 1):
            tr = [r for r in rs if r["trace"] == trace]
            if not tr:
                continue
            names = sorted({k for r in tr for k in r["result"]["metrics"]})
            entry["trace" if trace else "end_to_end"] = {
                k: dict(zip(("median", "q1", "q3"), quartiles(
                    [r["result"]["metrics"][k]["value"] for r in tr if k in r["result"]["metrics"]]
                )), unit=tr[0]["result"]["metrics"][k]["unit"])
                for k in names
            }
            entry["runs"][f"trace{trace}"] = {
                "n": len(tr), "seeds": [r["seed"] for r in tr],
                "run_s_median": statistics.median(r["run_s"] for r in tr),
                "all_correct": all(r["result"]["correct"] for r in tr),
            }
        heads = [dict(kv.split("=", 1) for kv in r["report"][0].split() if "=" in kv) for r in rs]
        loads = [float(h["loadavg_start"].strip("[,")) for h in heads]
        entry["host"] = {
            "cpus": int(heads[0]["cpus"]),
            "loadavg_1min_at_start": [min(loads), max(loads)],
            "runs_loaded": sum(r["report"][0].endswith(" loaded") for r in rs),
        }
        if "trace" in entry and "end_to_end" in entry:
            entry["tracing_overhead_cpu_s"] = (
                entry["trace"]["trace.cpu_s"]["median"] - entry["end_to_end"]["cpu_s"]["median"]
            )
        out[wl] = entry
    return out


def summarize(rows: list[dict], bounds: dict[str, float]) -> list[str]:
    out = []
    for wl in sorted({r["workload"] for r in rows}):
        for trace in (0, 1):
            rs = [r for r in rows if r["workload"] == wl and r["trace"] == trace and r["result"]]
            if not rs:
                continue
            out.append(
                f"{wl} trace={trace}: {len(rs)} runs, run time median "
                f"{statistics.median(r['run_s'] for r in rs):.1f} s, max {max(r['run_s'] for r in rs):.1f} s, "
                f"all correct: {all(r['result']['correct'] for r in rs)}"
            )
            names = sorted({k for r in rs for k in r["result"]["metrics"]})
            for k in names:
                vals = [r["result"]["metrics"][k]["value"] for r in rs if k in r["result"]["metrics"]]
                med, q1, q3 = quartiles(vals)
                spread = (q3 - q1) / med if med else 0.0
                b = bounds.get(k) if trace == 0 else None
                flag = "" if b is None else (" OK" if spread <= b / 3 else (" within bound" if spread <= b else " OVER BOUND"))
                out.append(
                    f"  {k:45s} median {med:12.6g} q1 {q1:12.6g} q3 {q3:12.6g} "
                    f"spread {spread:6.3f}" + ("" if b is None else f" bound {b}") + flag
                )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=".bench_out/runs.jsonl")
    ap.add_argument("--summarize", help="only summarize an existing runs file")
    ap.add_argument("--baseline", help="also write the per-workload medians here")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    path = args.summarize or args.out
    if not args.summarize:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        for wl in args.workloads:
            for s in seeds(args.seeds):
                row = run_one(wl, s, bench["run_seconds"], args.trace)
                with open(path, "a") as f:
                    f.write(json.dumps(row) + "\n")
                print(f"{wl} seed {s}: rc {row['rc']} in {row['run_s']:.1f} s", flush=True)
    with open(path) as f:
        rows = [json.loads(line) for line in f]
    print("\n".join(summarize(rows, bounds)))
    if args.baseline:
        with open(args.baseline, "w") as f:
            json.dump(baseline(rows), f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
