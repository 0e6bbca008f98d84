"""Repeat runner: run the benchmark over several seeds and report each
metric's median and spread per workload.

    python3 perfbench/repeat.py [--workload NAME ...] [--seeds 1-10] \\
        [--trace 0|1] [--label TEXT] [--checkout DIR]

Runs ``run.py`` once per (workload, seed), one at a time, from the
checkout root (default: the current directory). Every run's JSON line
and stderr go to a new archive directory
``perfbench/archive/<UTC time>-<label>/`` that no later run
overwrites; ``summary.json`` there holds, per workload and metric, the
ten values, their median, quartiles and IQR / median ("spread"),
the figure each metric's bound in ``BENCHMARK.json`` is judged by.
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


def load_benchmark(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def new_archive(label: str) -> str:
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    base = os.path.join(HERE, "archive", f"{stamp}-{label}")
    path, n = base, 1
    while os.path.exists(path):
        n += 1
        path = f"{base}.{n}"
    os.makedirs(path)
    return path


def run_once(root: str, workload: str, seed: int, seconds: int, trace: int,
             archive: str, tag: str = "") -> dict | None:
    """One run of this directory's ``run.py`` against the program in the
    checkout ``root``; its stdout and stderr are archived under a name
    starting with ``tag``. Returns the parsed last stdout line, or None
    if the run failed."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    name = f"{tag}{workload}-seed{seed}-trace{trace}"
    with open(os.path.join(archive, name + ".stderr"), "w") as f:
        f.write(proc.stderr)
    lines = proc.stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        result = json.loads(lines[-1])
        result["wall_s"] = wall
    with open(os.path.join(archive, name + ".json"), "w") as f:
        json.dump({"cmd": cmd, "returncode": proc.returncode, "result": result}, f, indent=1)
    return result


def spread(values: list[float]) -> dict:
    """Median, quartiles (``statistics.quantiles(values, n=4)``) and
    IQR / median."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def summarize(results: dict[str, list[dict]]) -> dict:
    out = {}
    for workload, runs in results.items():
        ok = [r for r in runs if r is not None]
        names = sorted({m for r in ok for m in r["metrics"]})
        out[workload] = {
            "runs": len(runs), "failed_runs": len(runs) - len(ok),
            "failed_ops": sum(r["failed"] for r in ok),
            "attempted_ops": sum(r["attempted"] for r in ok),
            "run_wall_s": spread([r["wall_s"] for r in ok]) if ok else None,
            "metrics": {m: spread([r["metrics"][m]["value"] for r in ok]) for m in names},
        }
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", action="append", help="default: every workload")
    p.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--label", default="repeat")
    p.add_argument("--checkout", default=".", help="repository root to measure")
    args = p.parse_args(argv)
    root = os.path.abspath(args.checkout)
    bench = load_benchmark(root)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    archive = new_archive(args.label)
    results = {w: [] for w in workloads}
    for w in workloads:
        for seed in parse_seeds(args.seeds):
            r = run_once(root, w, seed, seconds, args.trace, archive)
            results[w].append(r)
            print(f"{w} seed {seed}: " + ("FAILED" if r is None else
                  f"{r['wall_s']:.1f} s, " + ", ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                      if k in {m['name'] for m in bench['end_to_end']})), flush=True)
    summary = summarize(results)
    with open(os.path.join(archive, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w, s in summary.items():
        print(f"\n{w}: {s['failed_runs']} failed runs, {s['failed_ops']}/{s['attempted_ops']} "
              f"failed ops, run wall median {s['run_wall_s']['median'] if s['run_wall_s'] else 'n/a'}")
        for m, st in s["metrics"].items():
            b = bounds.get(m)
            flag = "" if b is None else ("  ok" if st["spread"] < b / 3 else "  WIDE")
            print(f"  {m:40s} median {st['median']:.6g}  IQR/median {st['spread']:.4f}"
                  + (f"  bound {b}" if b is not None else "") + flag)
    print(f"\narchived in {archive}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
