"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload stream_live --seeds 1-10 \
        [--trace 0] [--out perfbench/results/steady_a_stream_live.json]

Each run is a separate ``perfbench/run.py`` process with the
``run_seconds`` of BENCHMARK.json. For every metric it prints the
median and the spread: the distance between the first and third
quartiles (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound.
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


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in args.seeds:
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res.update(seed=seed, wall_s=wall)
        runs.append(res)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed} ({wall:.0f} s) correct={res['correct']} {vals}", flush=True)

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med, spr = spread(values) if len(values) > 1 else (values[0], 0.0)
        summary[name] = {"median": med, "spread": spr, "bound": bounds.get(name), "values": values}
        print(f"{name:36s} median {med:12.4f} spread {spr:7.3f} bound {bounds.get(name)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {"workload": args.workload, "run_seconds": spec["run_seconds"],
                 "trace": args.trace, "summary": summary, "runs": runs},
                f, indent=1,
            )
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
