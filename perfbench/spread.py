#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

Usage (from the repository root):
  python3 perfbench/spread.py --workload stream --seeds 1-10 [--seconds 5]
      [--trace 0] [--record perfbench/baseline.json]

For every metric of the result line: the median of the runs and the
interquartile range as a share of the median (Python's
statistics.quantiles(values, n=4)), the measure BENCHMARK.json's bounds
are checked with. Runs that are not correct are listed and left out.
Runs that run.py flagged as contended (others kept more than a quarter of a
core busy while the harness ran) are listed, and each spread is given
twice: over every run, as a comparison of two commits sees it, and over
the uncontended runs only.
--record writes the workload's medians and quartiles over every run and
over the uncontended ones, with the box's cores and each run's values
and contention, into a JSON file under --label (default: the workload's
name).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--record", default=None)
    ap.add_argument("--label", default=None)
    a = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or str(bench["run_seconds"])
    values, bad, runs = {}, [], []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds", seconds,
             "--trace", a.trace], capture_output=True, text=True)
        took = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if not res or not res["correct"]:
            bad.append((s, proc.returncode, (lines[-2] if len(lines) > 1
                                             else proc.stderr)[-400:]))
            continue
        detail = json.loads(lines[-2])
        runs.append({"seed": s, "seconds": round(took, 1),
                     "other_cores": round(detail["other_cores"], 3),
                     "contended": detail["contended"],
                     "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
        print(f"seed {s}: {took:.0f} s, others {detail['other_cores']:.2f} cores"
              + (" CONTENDED" if detail["contended"] else ""), file=sys.stderr)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    def summarize(rs):
        out = {}
        for k in (rs[0]["metrics"] if rs else {}):
            vs = [r["metrics"][k] for r in rs]
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
            out[k] = {"median": med, "q1": q[0], "q3": q[2],
                      "iqr_over_median": (q[2] - q[0]) / med if med else 0.0,
                      "runs": len(vs)}
        return out
    summary = summarize(runs)
    quiet = summarize([r for r in runs if not r["contended"]])
    for k, m in summary.items():
        q = quiet.get(k, {})
        print(f"{k:28s} n={m['runs']:2d} median={m['median']:.6g} "
              f"iqr/median={m['iqr_over_median']:.4f} "
              f"(uncontended n={q.get('runs', 0)}: {q.get('iqr_over_median', 0):.4f})"
              f"  bound={bounds.get(k, '-')}")
    flagged = [r["seed"] for r in runs if r["contended"]]
    print(f"contended runs: {flagged or 'none'}")
    if a.record:
        rec = {}
        if os.path.exists(a.record):
            with open(a.record) as fh:
                rec = json.load(fh)
        rec[a.label or a.workload] = {
            "workload": a.workload, "seeds": a.seeds, "seconds": float(seconds),
            "trace": int(a.trace), "cores": os.cpu_count(),
            "contended_seeds": flagged, "metrics": summary,
            "metrics_uncontended": quiet,
            "runs": runs}
        with open(a.record, "w") as fh:
            json.dump(rec, fh, indent=2)
            fh.write("\n")
    for s, code, tail in bad:
        print(f"seed {s}: not correct (exit {code}): {tail}")


if __name__ == "__main__":
    main()
