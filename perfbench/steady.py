#!/usr/bin/env python3
"""Steadiness mode: run each workload several times, one seed per run,
and report every end-to-end metric's median, quartiles and spread
against the bound in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--seed0 1]
                                [--out FILE.json] [--against EARLIER.json]

Spread is the inter-quartile distance as a share of the median,
quartiles as ``statistics.quantiles(values, n=4)`` gives them. A spread
is steady when it is below a third of the metric's bound. ``--against``
compares each median with an earlier output of this script: a median
worse than the earlier one by more than the bound fails. The
workload-specific medians each run prints on standard error (per-format
merge and read latency, per-operator time, error rate) are summarised
the same way, without a bound. Exits 1 if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from measure import quartiles, spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    took = time.time() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    detail = {}
    for line in p.stderr.splitlines():
        if line.startswith("# detail "):
            detail = json.loads(line[len("# detail "):])
    return result, detail, took


def summarise(values: list[float], bound: float | None) -> dict:
    q1, q2, q3 = quartiles(values)
    out = {"values": values, "q1": q1, "median": q2, "q3": q3, "spread": spread(values)}
    if bound is not None:
        out["bound"] = bound
        out["steady"] = out["spread"] < bound / 3
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    earlier = {}
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)["workloads"]

    report, ok = {}, True
    for wl in names:
        results, details, took = [], [], []
        for i in range(args.runs):
            r, d, t = run_once(wl, args.seed0 + i, bench["run_seconds"])
            results.append(r)
            details.append(d)
            took.append(t)
            print(f"# {wl} seed {args.seed0 + i}: {t:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  file=sys.stderr, flush=True)
        entry = {
            "runs": args.runs,
            "seeds": [args.seed0 + i for i in range(args.runs)],
            "run_seconds_total": sum(took),
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {},
            "detail": {},
        }
        ok &= entry["correct"] and entry["failed"] == 0
        for name, m in e2e.items():
            s = summarise([r["metrics"][name]["value"] for r in results], m["bound"])
            if name != "setup_s":
                ok &= s["steady"]
            if wl in earlier:
                before = earlier[wl]["metrics"][name]["median"]
                worse = (s["median"] - before) / before
                if m["better"] == "higher":
                    worse = -worse
                s["vs_earlier"] = {"median": before, "worse_by": worse,
                                   "within_bound": worse <= m["bound"]}
                ok &= s["vs_earlier"]["within_bound"]
            entry["metrics"][name] = s
        keys = sorted({k for d in details for k, v in d.items()
                       if isinstance(v, (int, float)) and k not in ("seed", "trace")}
                      - set(e2e))
        for k in keys:
            entry["detail"][k] = summarise([d[k] for d in details if k in d], None)
        report[wl] = entry

    out = {"benchmark": {k: bench[k] for k in ("command", "run_seconds")},
           "host": {"cpus": os.cpu_count()}, "workloads": report}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    for wl, entry in report.items():
        print(f"\n## {wl}  ({entry['runs']} runs, {entry['run_seconds_total']:.0f} s, "
              f"failed {entry['failed']}/{entry['attempted']})")
        print("| metric | q1 | median | q3 | spread | bound | steady | vs earlier |")
        print("|---|---|---|---|---|---|---|---|")
        for name, s in entry["metrics"].items():
            vs = s.get("vs_earlier")
            print(f"| {name} | {s['q1']:.4g} | {s['median']:.4g} | {s['q3']:.4g} | "
                  f"{s['spread']:.3f} | {s['bound']} | {'yes' if s['steady'] else 'NO'} | "
                  + (f"{vs['worse_by']:+.3f}" if vs else "") + " |")
        for name, s in entry["detail"].items():
            print(f"| {name} | {s['q1']:.4g} | {s['median']:.4g} | {s['q3']:.4g} | "
                  f"{s['spread']:.3f} | | | |")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
