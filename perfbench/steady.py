"""Steadiness record: run each workload in sets of fresh processes and
report, per end-to-end metric, each set's median and quartiles, the
spread (interquartile range / median) and the set-to-set difference of
the medians.

    python3 perfbench/steady.py --runs 10 --sets 2 [--workloads a,b]

Every run is ``perfbench/run.py`` in its own process with seeds
1..runs; each set repeats the same seeds. Prints a markdown table.
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
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    notes = [ln for ln in proc.stderr.splitlines() if ln.startswith('{"workload"')]
    return {"workload": workload, "seed": seed, "elapsed_s": time.time() - t0,
            "returncode": proc.returncode, "result": result,
            "annotations": json.loads(notes[-1]) if notes else None}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values * 3)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results: dict = {}
    for s in range(args.sets):
        for w in args.workloads.split(","):
            for seed in range(1, args.runs + 1):
                r = one_run(w, seed, args.seconds, 0)
                r["set"] = s
                results.setdefault((w, s), []).append(r)
                ok = r["result"] and r["result"]["correct"]
                print(f"set {s} {w} seed {seed}: {'ok' if ok else 'FAILED'} "
                      f"{r['elapsed_s']:.1f} s", file=sys.stderr, flush=True)

    print("| workload | metric | bound | set | median | q1 | q3 | spread | set-to-set |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w in args.workloads.split(","):
        for name, bound in bounds.items():
            first = None
            for s in range(args.sets):
                runs = [r["result"] for r in results[(w, s)] if r["result"]]
                st = summary([r["metrics"][name]["value"] for r in runs])
                diff = "" if first is None else f"{(st['median'] - first) / first:+.3f}"
                first = st["median"] if first is None else first
                print(f"| {w} | {name} | {bound} | {s + 1} | {st['median']:.4g} | "
                      f"{st['q1']:.4g} | {st['q3']:.4g} | {st['spread']:.3f} | {diff} |")
    print()
    print("| workload | set | runs | failed | elapsed median s | elapsed max s |")
    print("|---|---|---|---|---|---|")
    for (w, s), rs in results.items():
        el = [r["elapsed_s"] for r in rs]
        bad = sum(1 for r in rs if not (r["result"] and r["result"]["correct"]))
        print(f"| {w} | {s + 1} | {len(rs)} | {bad} | {statistics.median(el):.1f} | {max(el):.1f} |")
    # an acceptance pass, 4 + 22 x W runs, at each set's median run time
    for s in range(args.sets):
        per = [statistics.median(r["elapsed_s"] for r in results[(w, s)])
               for w in args.workloads.split(",")]
        total = 22 * sum(per) + 4 * statistics.mean(per)
        print(f"\nset {s + 1}: 4 + 22 x {len(per)} runs at the median run time: {total:.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
