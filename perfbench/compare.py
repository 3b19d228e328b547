#!/usr/bin/env python3
"""Paired comparison of two checkouts on the benchmark.

    python3 perfbench/compare.py --parent <checkout> --change <checkout> \\
        [--pairs 10] [--workloads bulk_load,near_dup] [--seed 1000] [--out runs.jsonl]

Each checkout is a tree holding BENCHMARK.json and perfbench/ (for example
`git archive <commit> | tar -x -C <dir>`); both must carry the same benchmark
files. For every workload it runs `--pairs` pairs of untraced runs, one per
side with the same seed, alternating which side runs first. Per workload and
end-to-end metric it reports each side's median and quartiles and the
change's wins, then one verdict:

  gain          the change won at least 9 of 10 pairs (ties count for
                neither side) and the medians differ by more than the
                parent's own quartile distance;
  regression    the change's median is worse than the parent's by more
                than the metric's bound;
  unresolved    the parent's run-to-run spread (quartile distance over
                median) exceeds the bound, and not every change run beats
                every parent run;
  within bound  none of the above.

A gain does not count when the change's runs fail more operations.
"""
import argparse
import filecmp
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(tree: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        raise SystemExit(f"{tree}: {workload} seed {seed} printed no result "
                         f"(exit {r.returncode})\n{r.stderr[-2000:]}")


def same_benchmark(a: Path, b: Path) -> bool:
    if not filecmp.cmp(a / "BENCHMARK.json", b / "BENCHMARK.json", shallow=False):
        return False
    paths = json.loads((a / "BENCHMARK.json").read_text())["paths"]
    for p in paths:
        fa = sorted(f.relative_to(a) for f in (a / p).rglob("*") if f.is_file())
        fb = sorted(f.relative_to(b) for f in (b / p).rglob("*") if f.is_file())
        if fa != fb or not all(filecmp.cmp(a / f, b / f, shallow=False) for f in fa):
            return False
    return True


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(metric: dict, parent: list, change: list) -> tuple:
    lower = metric["better"] == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    ties = sum(c == p for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    worse = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
    all_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if wins >= 0.9 * len(parent) and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif worse > metric["bound"]:
        v = "regression"
    elif (pq3 - pq1) / pmed > metric["bound"] and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return wins, ties, v


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--out", type=Path)
    a = ap.parse_args()
    if a.pairs < 10:
        print("note: fewer than 10 pairs cannot support a gain claim", file=sys.stderr)
    if not same_benchmark(a.parent, a.change):
        raise SystemExit("the two checkouts carry different benchmark files")
    spec = json.loads((a.parent / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    workloads = [w for w in a.workloads.split(",") if w] or names
    out = a.out.open("a") if a.out else None
    results = {}
    for w in workloads:
        for i in range(a.pairs):
            seed = a.seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                r = run(getattr(a, side), w, seed, spec["run_seconds"])
                results.setdefault((w, side), []).append(r)
                if out:
                    out.write(json.dumps({"workload": w, "side": side, "seed": seed, **r}) + "\n")
                    out.flush()
                print(f"{w} pair {i} {side}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), file=sys.stderr)

    for m in spec["end_to_end"]:
        print(f"\n{m['name']} ({m['unit']}, {m['better']} is better, bound {m['bound']:.0%})")
        print(f"{'workload':16s} {'parent q1/median/q3':>34s} {'change q1/median/q3':>34s}"
              f" {'wins':>5s} {'ties':>5s}  verdict")
        for w in workloads:
            p = [r["metrics"][m["name"]]["value"] for r in results[(w, "parent")]]
            c = [r["metrics"][m["name"]]["value"] for r in results[(w, "change")]]
            wins, ties, v = verdict(m, p, c)
            pf = sum(r["failed"] for r in results[(w, "parent")])
            cf = sum(r["failed"] for r in results[(w, "change")])
            if v == "gain" and cf > pf:
                v = f"no gain: change failed {cf} ops, parent {pf}"
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))  # noqa: E731
            print(f"{w:16s} {fmt(p):>34s} {fmt(c):>34s} {wins:5d} {ties:5d}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
