"""Compare two sets of saved benchmark outputs, refusing different hosts.

    python3 perfbench/compare.py A1.out [A2.out ...] -- B1.out [B2.out ...]

Each file is the stdout of one ``run.py`` run (a detail line, then the
result line). Every run's host record must agree on the fields that
describe the host: the core count, the Spark master, and the Spark and
Python versions. The seed, commit and scratch directory identify a run,
not a host, and may differ. Prints each metric's median on both sides and
the change as a share of side A's median.
"""

import json
import statistics
import sys

HOST_FIELDS = ("nproc", "master", "spark", "python")


def load(path: str) -> tuple[dict, dict]:
    lines = open(path).read().strip().splitlines()
    return json.loads(lines[-2])["detail"]["host"], json.loads(lines[-1])


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    sides = [[load(p) for p in argv[:cut]], [load(p) for p in argv[cut + 1 :]]]
    hosts = {tuple(h[f] for f in HOST_FIELDS) for side in sides for h, _ in side}
    if len(hosts) != 1:
        print(f"refusing to compare runs from different hosts: {sorted(hosts)}", file=sys.stderr)
        return 3
    names = sorted(set().union(*(r["metrics"] for side in sides for _, r in side)))
    for name in names:
        meds = []
        for side in sides:
            vals = [r["metrics"][name]["value"] for _, r in side if name in r["metrics"]]
            meds.append(statistics.median(vals) if vals else float("nan"))
        change = (meds[1] - meds[0]) / meds[0] if meds[0] else float("nan")
        print(f"{name:48s} {meds[0]:14.6g} {meds[1]:14.6g} {change:+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
