#!/usr/bin/env python3
"""Run one workload of the table-lifecycle benchmark.

    python3 lifecycle_bench/run.py --workload cow_trickle --seed 1 --seconds 13 --trace 0

Builds the library and the harness if needed (see build.py), runs the
workload in one JVM with Spark local[nproc], and prints the harness's JSON
result as the last line of standard output. Before and after the run it
samples host contention (CPU steal from /proc/stat and a fixed spin loop)
and prints that record on the line before the result; it is also merged
into the run record under .bench_build/lifecycle/runs/.

Exit codes: 0 correct run, 1 correctness mismatch, 2 build or usage
error, 3 the run exceeded its time limit or printed no result.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import compare  # noqa: E402

WORKLOADS = ("cow_trickle", "mor_analytics", "dedup_sync")
# a run takes about a minute; one that hangs is killed before three minutes pass
RUN_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SPIN_ITERATIONS = 1_000_000


def host_sample():
    """CPU tick counters and a fixed spin-loop time, to spot a contended host."""
    ticks = None
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        ticks = {"total": sum(fields[:8]), "steal": fields[7] if len(fields) > 7 else 0}
    except (OSError, ValueError):
        pass
    t0 = time.perf_counter()
    x = 0
    for i in range(SPIN_ITERATIONS):
        x ^= i * 2654435761
    return {"wall": time.time(), "ticks": ticks, "spin_s": time.perf_counter() - t0}


def contention(before, after):
    rec = {"spin_before_s": round(before["spin_s"], 4), "spin_after_s": round(after["spin_s"], 4),
           "spin_drift": round(after["spin_s"] / before["spin_s"] - 1, 4),
           "wall_s": round(after["wall"] - before["wall"], 2)}
    if before["ticks"] and after["ticks"]:
        total = after["ticks"]["total"] - before["ticks"]["total"]
        steal = after["ticks"]["steal"] - before["ticks"]["steal"]
        rec["steal_pct"] = round(100.0 * steal / total, 3) if total > 0 else 0.0
    return rec


def tracing_overhead(rec):
    """A traced run's end-to-end figures against the median of the untraced
    runs of the same workload and size recorded in this checkout.
    """
    same = [r for r in compare.load(str(build.OUT / "runs" / f"{rec['workload']}-*-trace0-*.json"))
            if r.get("seconds") == rec["seconds"] and r.get("tiny") == rec["tiny"]
            and r.get("correct")]
    if not same:
        return {"untraced_runs": 0}
    base = compare.values(same, "end_to_end")
    out = {"untraced_runs": len(same)}
    for name, m in rec["end_to_end"].items():
        vals = base.get((rec["workload"], name), ([], ""))[0]
        if vals and statistics.median(vals):
            out[name] = round(m["value"] / statistics.median(vals) - 1, 4)
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--tiny", action="store_true", help="self-test sizes")
    p.add_argument("--tamper", action="store_true", help="corrupt the expected state; the run must fail")
    a = p.parse_args()

    before = host_sample()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[lifecycle-bench] build failed: {e}", file=sys.stderr)
        return 2

    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + f"-{os.getpid()}"
    record = build.OUT / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}.json"
    work = build.OUT / "work" / f"{a.workload}-{stamp}"
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xmx3g", "-Xss16m"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
              "-cp", classpath, "graftbench.LifecycleBench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(work), "--record", str(record),
              "--launched-ms", str(int(time.time() * 1000))]
           + (["--tiny"] if a.tiny else []) + (["--tamper"] if a.tamper else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=str(work), text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[lifecycle-bench] run exceeded {RUN_TIMEOUT_S} s; killed", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host = contention(before, host_sample())

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out)
        print(f"[lifecycle-bench] no result line (exit {proc.returncode})", file=sys.stderr)
        return 3
    if record.exists():
        rec = json.loads(record.read_text())
        rec["host"] = host
        if rec["trace"]:
            rec["tracing_overhead"] = tracing_overhead(rec)
            print("tracing_overhead " + json.dumps(rec["tracing_overhead"]))
        record.write_text(json.dumps(rec, indent=1) + "\n")
    for l in lines[:-1]:
        print(l)
    print("host " + json.dumps(host))
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
