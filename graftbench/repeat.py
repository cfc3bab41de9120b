"""Repeat a workload k times and print every end-to-end metric's
median, quartiles and spread ((Q3 - Q1) / median) against its bound in
BENCHMARK.json. Run i uses seed seed0 + i, or seed0 every time with
--same-seed (which separates the machine's noise from the inputs').

    python3 graftbench/repeat.py --workload llm_dedup --runs 10 --seed0 1
    python3 graftbench/repeat.py --workload llm_dedup --runs 5 --seed0 1 --same-seed

Run from the root of a source checkout. Runs one after another, never
in parallel, so they do not contend with each other for cores.
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


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--same-seed", action="store_true")
    a = ap.parse_args()
    ok = True
    for w in a.workload:
        rows, fail_shares = [], set()
        for i in range(a.runs):
            seed = a.seed0 if a.same_seed else a.seed0 + i
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            info = lines[-2] if len(lines) > 1 else ""
            print(f"{w} seed {seed}: wall={wall:.1f}s correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) + f"  {info}")
            ok &= res["correct"]
            fail_shares.add(res["failed"] / res["attempted"])
            rows.append(res["metrics"])
        if len(rows) < 2:
            continue
        print(f"\n{w}: {len(rows)} runs, failed share(s) {sorted(fail_shares)}")
        print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for m in spec["end_to_end"]:
            xs = [r[m["name"]]["value"] for r in rows]
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / q2
            bound = m["bound"]
            flag = "ok" if spread <= bound / 3 else "WIDE" if spread > bound else "near"
            print(f"{m['name']:32} {q2:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {bound:>6} {flag}")
        print()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
