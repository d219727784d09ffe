"""Run-to-run spread of the end-to-end metrics, as the acceptance rule
reads it: over one run per seed, the distance between the first and
third quartile (statistics.quantiles, n=4) as a share of the median.

    python3 perfbench/spread.py --workload graph_shuffle --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spreads(results):
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = (statistics.median(values), (q3 - q1) / statistics.median(values) if med else 0.0)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", default=None)
    args = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or str(spec["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    first, last = (int(x) for x in args.seeds.split("-"))
    results = []
    for seed in range(first, last + 1):
        done = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", args.workload,
                               "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if done.returncode != 0:
            print(f"seed {seed}: exit {done.returncode}", file=sys.stderr)
            return 1
        r = json.loads(done.stdout.strip().splitlines()[-1])
        results.append(r)
        print(f"seed {seed}: " + json.dumps({k: round(v["value"], 6) for k, v in r["metrics"].items()}), flush=True)
    for name, (med, spread) in spreads(results).items():
        bound = bounds.get(name)
        verdict = "" if bound is None else ("ok" if spread < bound / 3 else "over a third of bound")
        print(f"{name:20s} median {med:.6g}  IQR/median {spread:.3f}  bound {bound}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
