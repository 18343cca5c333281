"""Smoke test of the benchmark itself: every workload once at a tiny size.

    python3 perfbench/smoke.py [workload ...]

For each workload it checks that
  * a traced run prints every per-layer metric with its unit, its spans
    nest and no self time is negative, and its output passes the check;
  * a run whose output is deliberately corrupted prints every end-to-end
    metric with its unit and reads ``output_ok = 0``.
Exits 1 on the first workload that fails any of these.
"""

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, *flags: str) -> tuple[dict, dict]:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--tiny", *flags]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def _missing(result: dict, specs: list[dict]) -> list[str]:
    got = result["metrics"]
    return [
        s["name"]
        for s in specs
        if s["name"] not in got or got[s["name"]].get("unit") != s["unit"]
        or not isinstance(got[s["name"]].get("value"), (int, float))
    ]


def smoke(workload: str) -> list[str]:
    errors = []
    detail, result = _run(workload, "--trace", "1")
    errors += [f"per-layer metric missing: {m}" for m in _missing(result, SPEC["per_layer"])]
    errors += [f"span: {p}" for p in detail["span_problems"]]
    if not detail["spans"]:
        errors.append("traced run recorded no spans")
    if not result["correct"]:
        errors.append(f"traced run failed its check: {detail['problems']}")

    detail, result = _run(workload, "--trace", "0", "--corrupt")
    errors += [f"end-to-end metric missing: {m}" for m in _missing(result, SPEC["end_to_end"])]
    if result["metrics"].get("output_ok", {}).get("value") != 0:
        errors.append("corrupted output was not caught (output_ok != 0)")
    return errors


def main() -> int:
    names = sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]
    bad = 0
    for name in names:
        errors = smoke(name)
        print(f"{name}: {'ok' if not errors else 'FAIL'}", flush=True)
        for e in errors:
            print(f"  {e}")
        bad += bool(errors)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
