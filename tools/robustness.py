"""Robustness matrix: re-runs the oracle comparison under hostile
session configs — the environments where hidden nondeterminism
(timezone math, float summation order, AQE re-planning) would surface.

Each cell spawns a fresh subprocess (a JVM timezone can only be set at
session creation) running tools/check.py's comparison with:
- tz:  America/Los_Angeles session + JVM timezone (DST-varying);
- part200: 200 shuffle partitions with AQE disabled (different
  summation order / no runtime coalescing);
- plus whatever sf dirs are passed (default sf0.001 and sf0.1 — the
  driver's own gate already covers sf0.01).

Usage: python tools/robustness.py [query ...]   (default: all)
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONFIGS: dict[str, dict[str, str]] = {
    "tz_la": {"MIMR_TZ": "America/Los_Angeles"},
    "part200_noaqe": {"MIMR_SHUFFLE_PARTITIONS": "200", "MIMR_AQE": "false"},
}
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.1"]


def main() -> int:
    queries = sys.argv[1:]
    failures = 0
    for cfg_name, env_extra in CONFIGS.items():
        for sf_dir in SF_DIRS:
            env = {**os.environ, **env_extra}
            cmd = [sys.executable, os.path.join(REPO, "tools", "check.py"), sf_dir, *queries]
            print(f"=== {cfg_name} @ {sf_dir}", flush=True)
            proc = subprocess.run(cmd, env=env, capture_output=True, text=True)
            tail = [l for l in proc.stdout.splitlines() if l.startswith(("PASS", "FAIL", "ROWS", "LEAK")) or " fail," in l]
            for line in tail:
                print(" ", line)
            if proc.returncode != 0:
                failures += 1
                print(proc.stdout[-2000:])
                print(proc.stderr[-2000:])
    print("MATRIX", "FAIL" if failures else "OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
