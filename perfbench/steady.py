"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads headline_sf0.1,lake_commit \
        --seeds 1-10 --trace 0 --out perfbench/runs/steady-1.jsonl

Each run is a fresh process of ``perfbench/run.py`` with the seconds of
BENCHMARK.json. Every result line is appended to ``--out`` as it arrives.
The spread of a metric is the distance between the first and third quartile
of its values (``statistics.quantiles(values, n=4)``) as a share of their
median; it must stay within a third of the metric's bound.
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


def _seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    rows: dict[str, list[dict]] = {}
    for w in args.workloads.split(","):
        for seed in _seeds(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            wall = time.monotonic() - t0
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{w} seed {seed}: exit {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            row = {"workload": w, "seed": seed, "trace": args.trace,
                   "wall_s": round(wall, 1), **result}
            rows.setdefault(w, []).append(row)
            with open(args.out, "a") as f:
                f.write(json.dumps(row) + "\n")
            vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
            print(f"{w} seed={seed} wall={wall:.0f}s correct={result['correct']} {vals}",
                  flush=True)
    if args.trace:
        return 0
    for w, rs in rows.items():
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in rs]
            if len(vals) < 2:
                continue
            s = spread(vals)
            ok = name == "setup_s" or s < bound / 3
            print(f"{w:16s} {name:12s} median={statistics.median(vals):.4f} "
                  f"spread={s:.4f} bound={bound} {'ok' if ok else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
