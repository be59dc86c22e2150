"""Interleaved A/B runs of the benchmark, and the tracing overhead.

    python3 perfbench/ab.py --base <git-rev> [--pairs 10] [--workloads a,b]
    python3 perfbench/ab.py --overhead [--pairs 3]

``--base``: extracts ``<git-rev>`` with ``git archive`` into
``.perfbench_work/ab-<rev>/``, copies this checkout's ``perfbench/`` over
it (both sides run identical benchmark code and settings), then runs
``--pairs`` pairs per workload, alternating which side goes first. Pair
``i`` uses seed ``--seed + i`` on both sides. For every end-to-end metric
of ``BENCHMARK.json`` it prints each side's median and quartiles and the
fraction of pairs the head side won (ties count for neither side).

``--overhead``: alternates untraced and traced runs of this checkout and
prints, per workload, the median over runs of the traced ``latency_s``
against the untraced one.

Run from the root of a git checkout. Results also go to
``.perfbench_work/ab-<rev>.json`` (``ab-overhead.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_once(tree: Path, label: str, workload: str, seed: int, seconds: int,
             trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{label} {workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    print(f"  {label:>8} {workload} seed={seed} failed={res['failed']}/"
          f"{res['attempted']}", file=sys.stderr)
    return res


def extract(rev: str) -> Path:
    sha = subprocess.run(["git", "rev-parse", "--short", rev], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()
    tree = ROOT / ".perfbench_work" / f"ab-{sha}"
    shutil.rmtree(tree, ignore_errors=True)
    tree.mkdir(parents=True)
    archive = subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT,
                             capture_output=True, check=True).stdout
    subprocess.run(["tar", "-x", "-C", str(tree)], input=archive, check=True)
    shutil.rmtree(tree / "perfbench", ignore_errors=True)
    shutil.copytree(ROOT / "perfbench", tree / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tree / "BENCHMARK.json")
    return tree


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def ab(args) -> dict:
    bench = _bench()
    base = extract(args.base)
    sides = {"base": base, "head": ROOT}
    report: dict = {"base": args.base, "pairs": args.pairs, "workloads": {}}
    for wl in args.workloads:
        runs: dict[str, list[dict]] = {"base": [], "head": []}
        for i in range(args.pairs):
            order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
            for side in order:
                runs[side].append(run_once(sides[side], side, wl, args.seed + i,
                                           args.seconds, 0))
        rows = {}
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            vals = {s: [r["metrics"][name]["value"] for r in runs[s]] for s in runs}
            wins = sum(
                1 for b, h in zip(vals["base"], vals["head"])
                if (h < b if lower else h > b))
            rows[name] = {
                "unit": m["unit"],
                "base_q1_med_q3": quartiles(vals["base"]),
                "head_q1_med_q3": quartiles(vals["head"]),
                "head_win_frac": wins / args.pairs,
            }
        report["workloads"][wl] = {
            "metrics": rows,
            "failed": {s: sum(r["failed"] for r in runs[s]) for s in runs},
        }
    shutil.rmtree(base, ignore_errors=True)
    return report


def overhead(args) -> dict:
    report: dict = {"pairs": args.pairs, "workloads": {}}
    for wl in args.workloads:
        plain, traced = [], []
        for i in range(args.pairs):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                res = run_once(ROOT, f"trace={trace}", wl, args.seed + i,
                               args.seconds, trace)
                if trace:
                    traced.append(res["metrics"]["trace.latency_s"]["value"])
                else:
                    plain.append(res["metrics"]["latency_s"]["value"])
        p, t = statistics.median(plain), statistics.median(traced)
        report["workloads"][wl] = {
            "untraced_latency_s": p,
            "traced_latency_s": t,
            "overhead_pct": 100.0 * (t / p - 1.0),
        }
    return report


def main() -> None:
    bench = _bench()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--base", help="git revision to compare this checkout against")
    mode.add_argument("--overhead", action="store_true")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--workloads", type=lambda s: s.split(","),
                    default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()

    report = overhead(args) if args.overhead else ab(args)
    name = "ab-overhead" if args.overhead else f"ab-{args.base}"
    out = ROOT / ".perfbench_work" / f"{name.replace('/', '_')}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    for wl, r in report["workloads"].items():
        print(f"== {wl}")
        if args.overhead:
            print(f"  untraced {r['untraced_latency_s']:.4f} s, traced "
                  f"{r['traced_latency_s']:.4f} s, overhead {r['overhead_pct']:+.1f}%")
            continue
        print(f"  failed ops: base {r['failed']['base']}, head {r['failed']['head']}")
        for name, m in r["metrics"].items():
            b, h = m["base_q1_med_q3"], m["head_q1_med_q3"]
            print(f"  {name:<16} {m['unit']:<6} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]"
                  f"  head {h[1]:.4g} [{h[0]:.4g}, {h[2]:.4g}]"
                  f"  head wins {m['head_win_frac']:.0%}")
    print(f"(written to {os.path.relpath(out, ROOT)})")


if __name__ == "__main__":
    main()
