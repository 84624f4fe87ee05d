#!/usr/bin/env python3
"""Self-test of the lifecycle benchmark at tiny sizes.

    python3 lifecycle_bench/selftest.py [workload ...]

For each workload (default: all three) it makes two tiny runs and checks:
  1. an untraced run exits 0, reports correct, and prints every end-to-end
     metric of BENCHMARK.json with its unit;
  2. a traced run whose expected state is tampered with exits non-zero,
     reports incorrect, and prints every per-layer metric with its unit.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
from run import WORKLOADS  # noqa: E402


def run(workload, trace, tamper):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "4", "--trace", str(trace), "--tiny"] + (["--tamper"] if tamper else [])
    p = subprocess.run(cmd, cwd=str(ROOT), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return p.returncode, None


def missing(result, wanted):
    got = (result or {}).get("metrics", {})
    return [m["name"] for m in wanted
            if m["name"] not in got or got[m["name"]].get("unit") != m["unit"]
            or not isinstance(got[m["name"]].get("value"), (int, float))]


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for w in sys.argv[1:] or WORKLOADS:
        rc, res = run(w, trace=0, tamper=False)
        miss = missing(res, spec["end_to_end"])
        ok = rc == 0 and res is not None and res["correct"] and not miss
        print(f"{w}: untraced run exit={rc} correct={res and res['correct']} "
              f"missing={miss} -> {'ok' if ok else 'FAIL'}")
        if not ok:
            failures.append(f"{w} untraced")
        rc, res = run(w, trace=1, tamper=True)
        miss = missing(res, spec["per_layer"])
        ok = rc != 0 and res is not None and not res["correct"] and not miss
        print(f"{w}: tampered traced run exit={rc} correct={res and res['correct']} "
              f"missing={miss} -> {'ok' if ok else 'FAIL'}")
        if not ok:
            failures.append(f"{w} tampered")
    print("selftest " + ("FAILED: " + ", ".join(failures) if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
