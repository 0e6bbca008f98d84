"""Parent-vs-change A/B comparator.

    python3 perfbench/compare.py --parent DIR --change DIR \\
        [--workload NAME ...] [--seeds 1-10] [--label TEXT]

``--parent`` and ``--change`` are two checkouts of the program (for
example ``git archive`` of each commit). Both are measured with this
directory's benchmark code and ``BENCHMARK.json`` settings, one pair
per seed; which side runs first alternates from pair to pair. Every
run is archived under a new ``perfbench/archive/<UTC time>-compare-<label>/``.

Per workload and end-to-end metric it prints one row: each side's
median and quartiles, the pairs the change won (ties count for
neither), and a verdict:

- ``gain``: at least ten pairs ran, the change won nine tenths of
  them and the medians differ by more than the parent's own IQR;
- ``regressed``: the change's median is worse than the parent's by
  more than the metric's bound;
- ``unresolved``: the parent's own spread is wider than the bound and
  not every change run beats every parent run;
- ``no change`` otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from repeat import load_benchmark, new_archive, parse_seeds, run_once, spread  # noqa: E402


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """Judge one metric on one workload from paired runs (pair k is
    ``parent[k]`` with ``change[k]``)."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in zip(parent, change) if sign * (b - a) > 0)
    p, c = spread(parent), spread(change)
    worse_by = sign * (p["median"] - c["median"]) / p["median"]
    all_better = min(sign * x for x in change) > max(sign * x for x in parent)
    if (len(parent) >= 10 and wins >= 0.9 * len(parent)
            and abs(c["median"] - p["median"]) > p["q3"] - p["q1"]):
        v = "gain"
    elif worse_by > bound:
        v = "regressed"
    elif p["spread"] > bound and not all_better:
        v = "unresolved"
    else:
        v = "no change"
    return {"parent": p, "change": c, "wins": wins, "pairs": len(parent),
            "worse_by": worse_by, "verdict": v}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--label", default="ab")
    args = ap.parse_args(argv)
    bench = load_benchmark(os.path.dirname(HERE))
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    archive = new_archive(f"compare-{args.label}")
    report = {}
    for w in workloads:
        runs = {"parent": [], "change": []}
        for k, seed in enumerate(parse_seeds(args.seeds)):
            order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
            pair = {side: run_once(sides[side], w, seed, seconds, 0, archive, f"{side}-")
                    for side in order}
            if None in pair.values():
                print(f"{w} seed {seed}: a run failed; pair dropped", flush=True)
                continue
            for side, r in pair.items():
                runs[side].append(r)
        report[w] = {}
        for m in bench["end_to_end"]:
            if not runs["parent"]:
                break
            report[w][m["name"]] = verdict(
                [r["metrics"][m["name"]]["value"] for r in runs["parent"]],
                [r["metrics"][m["name"]]["value"] for r in runs["change"]],
                m["better"], m["bound"])
        report[w]["failed_ops"] = {side: sum(r["failed"] for r in rs) for side, rs in runs.items()}
    with open(os.path.join(archive, "compare.json"), "w") as f:
        json.dump(report, f, indent=1)
    for w, rows in report.items():
        print(f"\n{w}  (failed ops: parent {rows['failed_ops']['parent']}, "
              f"change {rows['failed_ops']['change']})")
        for name, r in rows.items():
            if name == "failed_ops":
                continue
            p, c = r["parent"], r["change"]
            print(f"  {name:30s} parent {p['median']:.5g} [{p['q1']:.5g}, {p['q3']:.5g}]  "
                  f"change {c['median']:.5g} [{c['q1']:.5g}, {c['q3']:.5g}]  "
                  f"wins {r['wins']}/{r['pairs']}  {r['verdict']}")
    print(f"\narchived in {archive}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
