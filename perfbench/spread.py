"""Run one workload over several seeds and report each end-to-end metric's
median and spread (interquartile range over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles).

    python3 perfbench/spread.py --workload curate_minhash --seeds 1-10 [--out FILE]

Run from the root of a checkout. Each run is a fresh ``perfbench/run.py``
process; runs execute one after another, never in parallel.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", help="write the runs and the summary here as JSON")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    runs, values = [], {}
    for seed in _seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])
        runs.append({"seed": seed, "wall_s": wall, "result": result,
                     "setup_phases_s": detail["setup_phases_s"], "jobs": detail["jobs"]})
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        shown = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct {result['correct']} "
              f"attempted {result['attempted']} failed {result['failed']} {shown}", flush=True)

    summary = {}
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        summary[m["name"]] = {
            "median": med,
            "spread": (q3 - q1) / med,
            "bound": m["bound"],
            "n": len(v),
        }
        print(f"{m['name']:14s} median {med:.4f} {m['unit']:3s} spread {(q3 - q1) / med:.4f} "
              f"(bound {m['bound']})")
    if args.out:
        Path(args.out).write_text(
            json.dumps({"workload": args.workload, "summary": summary, "runs": runs}, indent=1)
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
