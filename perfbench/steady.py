"""Steadiness and A/B tool: run one workload repeatedly and report spreads.

    python3 perfbench/steady.py --workload geo_dedup --seeds 1-10
    python3 perfbench/steady.py --workload geo_dedup --seeds 1-10 --against ../parent

Each run is a separate ``perfbench/run.py`` process with its own seed and
the ``run_seconds`` from BENCHMARK.json.  For every end-to-end metric it
prints the median, the quartile spread (Q3 - Q1) / median as
``statistics.quantiles(values, n=4)`` gives them, and the metric's bound;
a spread at or above a third of the bound is flagged.  With ``--against``
every seed also runs in the other checkout (the order alternates per seed)
and the report gives both medians and how many seeds each side won.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(root: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{root} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["detail"] = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    return result


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--against", type=Path, help="root of a second checkout to A/B against")
    args = ap.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sides = {"this": ROOT} if args.against is None else {"this": ROOT, "other": args.against.resolve()}
    results: dict[str, list[dict]] = {name: [] for name in sides}
    for i, seed in enumerate(seeds(args.seeds)):
        order = list(sides) if i % 2 == 0 else list(reversed(sides))
        for name in order:
            r = run_once(sides[name], args.workload, seed, seconds)
            results[name].append(r)
            vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
            print(f"{name} seed={seed} correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                  f"load={r['detail'].get('host_before', {}).get('load_1m', 0):.2f} {vals}", flush=True)

    print(f"\n{args.workload}: {len(results['this'])} runs per side, run_seconds={seconds}")
    for metric, bound in bounds.items():
        this = [r["metrics"][metric]["value"] for r in results["this"]]
        line = f"  {metric:<14} median {statistics.median(this):12.4f}"
        if len(this) >= 2:
            s = spread(this)
            flag = "ok" if s < bound / 3 else ("WIDE" if s < bound else "OVER BOUND")
            line += f"  spread {s:7.2%}  bound {bound:.0%}  {flag}"
        if args.against is not None:
            other = [r["metrics"][metric]["value"] for r in results["other"]]
            wins = sum(a < b for a, b in zip(this, other))
            line += f"  | other median {statistics.median(other):12.4f}  this lower in {wins}/{len(this)}"
        print(line)
    return 0 if all(r["correct"] for rs in results.values() for r in rs) else 1


if __name__ == "__main__":
    sys.exit(main())
