#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness from source on first use (perfbench/build.py),
runs the harness in one JVM with a fixed heap and local[N] session, and
prints the harness's detail lines followed by one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. Exits non-zero when an output check failed
or the run could not complete. Everything it writes stays under
.bench_build/ at the repository root; the work directory is removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
MAX_CORES = 4
JVM_TIMEOUT_S = 170


def cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {a.workload}", file=sys.stderr)
        return 2
    declared = spec["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    built = build.build()
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    base = ROOT / ".bench_build"
    work = base / "work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = base / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    cmd = build.jvm_command(built, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--cores", str(cores()),
        "--spans", str(base / "traces" / f"{run_id}.jsonl"),
    ])
    # a terminated runner still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_DIRS=str(work / "tmp"))
    with open(logs / f"{run_id}.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            print(f"run exceeded {JVM_TIMEOUT_S}s; log in {log.name}", file=sys.stderr)
            return 3
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)

    metrics, counts = {}, {}
    for line in out.splitlines():
        head, _, rest = line.partition(" ")
        if head == "METRIC":
            name, value = rest.split()
            metrics[name] = float(value)
        elif head in ("ATTEMPTED", "FAILED"):
            counts[head] = int(rest)
        else:
            print(rest if head == "DETAIL" else line)
    if set(metrics) != set(units) or len(counts) != 2:
        print(f"harness output incomplete (exit {proc.returncode}); log in {logs / (run_id + '.log')}",
              file=sys.stderr)
        return proc.returncode or 4
    correct = proc.returncode == 0 and counts["FAILED"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, counts["ATTEMPTED"]),
        "failed": counts["FAILED"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
