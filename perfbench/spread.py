"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload batch_dense --seeds 1-10 [--out FILE]

Runs the benchmark command from BENCHMARK.json once per seed (one after
another) and prints, per end-to-end metric, the median of the runs and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.
``--out`` also saves every run's detail and result lines as JSON.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        elapsed = time.monotonic() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        run = {"seed": seed, "elapsed_s": elapsed,
               "detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}
        runs.append(run)
        print(f"seed {seed}: {elapsed:.1f} s, correct={run['result']['correct']}", flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        summary[m["name"]] = {"median": med, "spread": spread, "bound": m["bound"]}
        flag = "" if spread < m["bound"] / 3 or m["name"] == "setup_s" else "  <-- above bound/3"
        print(f"{m['name']:22s} median {med:12.5g}  spread {spread:7.2%}  bound {m['bound']:.0%}{flag}")
    print(f"mean elapsed per run {statistics.mean(r['elapsed_s'] for r in runs):.1f} s")
    if args.out:
        Path(args.out).write_text(json.dumps({"runs": runs, "summary": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
