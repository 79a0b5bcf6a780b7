"""Steadiness check: two sets of runs of the same code.

Usage (from the repository root):

    python3 perfbench/steady.py --runs 10 [--workloads relational ingest]

Runs two sets of ``perfbench/run.py`` runs, ``--runs`` per workload and
set, each run with its own seed (set k uses seeds 1000*k+1 ...), one run
at a time. For each workload and end-to-end metric it prints each set's
median and quartiles, the spread (interquartile distance over the
median), and whether the spread is within the metric's bound in
BENCHMARK.json and the second median is no worse than the first by more
than the bound. It also checks that the failed share of
operations is the same in every run. The raw results go to
``.perfbench/steady-<time>.json``. Exits 1 when a check fails.
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


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.perf_counter() - t0
    return res


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    args = p.parse_args(argv)

    results: dict = {}
    for k in range(2):
        for w in args.workloads:
            for i in range(args.runs):
                res = one_run(w, 1000 * k + i + 1, spec["run_seconds"])
                results.setdefault(w, [[], []])[k].append(res)
                print(f"set {k} {w} seed {1000 * k + i + 1}: "
                      + " ".join(f"{n}={m['value']:.3f}{m['unit']}"
                                 for n, m in res["metrics"].items())
                      + f" failed {res['failed']}/{res['attempted']} wall {res['wall_s']:.1f}s",
                      flush=True)
    ok = True
    print(f"\n{'workload':10s} {'metric':8s} {'set':>3s} {'q1':>9s} {'median':>9s} "
          f"{'q3':>9s} {'spread':>7s} {'bound':>6s}  verdict")
    for w, sets in results.items():
        shares = {r["failed"] / r["attempted"] for s in sets for r in s}
        if len(shares) != 1:
            ok = False
            print(f"{w}: failed share differs between runs: {sorted(shares)}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            medians = []
            for k, runs in enumerate(sets):
                q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in runs])
                spread = (q3 - q1) / med
                medians.append(med)
                good = spread <= bound
                verdict = "ok" if good else "SPREAD OVER BOUND"
                if k == 1:
                    drift = medians[1] / medians[0] - 1
                    if drift > bound:
                        good, verdict = False, f"MEDIAN WORSE BY {drift:.1%}"
                    else:
                        verdict += f", median moved {drift:+.1%}"
                ok = ok and good
                print(f"{w:10s} {name:8s} {k:3d} {q1:9.3f} {med:9.3f} {q3:9.3f} "
                      f"{spread:7.1%} {bound:6.2f}  {verdict}")
    path = os.path.join(ROOT, ".perfbench", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"\n{'all checks pass' if ok else 'CHECKS FAILED'}; runs in {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
