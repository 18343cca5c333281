"""Benchmark of the dedup pipeline: one workload, one seed, one result line.

    python3 perfbench/run.py --workload batch_dense --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
the seed, sets up a local Spark session on every core of the host, repeats
the workload's measured unit until ``--seconds`` have passed (at least
once), checks every unit's output against the planted truth and prints:

  * a ``detail`` JSON line: host record, sample counts, tail percentiles,
    check problems (and, traced, where the span file was written);
  * as the last line, ``{"correct", "attempted", "failed", "metrics"}``;
    ``--trace 0`` gives the end-to-end metrics, ``--trace 1`` the
    per-layer ones from a traced unit.

``--tiny`` shrinks the inputs and ``--corrupt`` damages the output before
it is checked; both exist for ``perfbench/smoke.py``. Everything the run
writes goes under ``.perfbench/`` in the checkout.
"""

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

T_START = time.monotonic()
ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".perfbench"
SETUPS = 3  # set-up is repeated and its median reported

# Benchmark-side session settings on top of the program's build_session:
# a modest heap (the host is shared), no console progress bars, the status
# store large enough that no stage of a unit is evicted before it is read,
# and every temporary file inside the checkout.
SESSION_CONF = {
    "spark.driver.memory": "2g",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedStages": "10000",
    "spark.ui.retainedJobs": "10000",
}


def _percentile_tail(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile with >= 10 samples above it."""
    n = len(values)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def host_record(args, master: str, spark_version: str) -> dict:
    try:
        top, sha = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
    except (OSError, subprocess.SubprocessError, ValueError):
        top, sha = "", ""
    if not top or Path(top).resolve() != ROOT:  # not a git checkout of its own
        sha = "unknown"
    return {
        "nproc": os.cpu_count(),
        "master": master,
        "spark": spark_version,
        "python": platform.python_version(),
        "git_sha": sha,
        "seed": args.seed,
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
    }


def _environment(work: Path) -> None:
    """Worker import path and scratch locations, set before the JVM starts."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    # -Xms = -Xmx: a fixed heap makes the JVM's peak RSS depend on what the
    # program keeps live, not on when G1 decides to grow the heap
    SESSION_CONF["spark.driver.extraJavaOptions"] = (
        f"-Xms{SESSION_CONF['spark.driver.memory']} "
        f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}"
    )
    SESSION_CONF["spark.sql.warehouse.dir"] = str(work / "spark-warehouse")


def _warm_up(spark, cores: int) -> None:
    """Start a Python worker per core and run one JVM shuffle."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df = spark.range(0, 64 * cores, 1, cores)
    df.select(plus_one("id").alias("x")).groupBy(F.col("x") % 7).count().collect()


def set_up(cores: int):
    """Build the session ``SETUPS`` times (the first from process start) and
    return it with each set-up's duration."""
    from cargo_dupes_spark.session import build_session

    times, start = [], T_START
    for i in range(SETUPS):
        if i:
            spark.stop()
            start = time.monotonic()
        spark = build_session(parallelism=cores, extra_conf=SESSION_CONF)
        _warm_up(spark, cores)
        times.append(time.monotonic() - start)
    return spark, times


def _stop_jvm() -> None:
    """End the gateway JVM this process launched and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def _steal_s() -> float:
    """Host CPU time stolen by the hypervisor so far (all vCPUs), a
    diagnostic for runs slowed by other tenants of a shared host."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def run_unit(wl, store, **kwargs):
    """One measured unit. A unit that raises is counted as failed, with the
    time it took, instead of ending the run."""
    from perfbench.workloads import Unit

    t0 = time.monotonic()
    try:
        return wl.unit(store, **kwargs)
    except Exception as exc:  # the failure is part of the measurement
        traceback.print_exc()
        wall = time.monotonic() - t0
        return Unit(
            wall_s=wall, cpu_s=0.0, docs=wl.truth.n_docs, latencies=[wall],
            attempted=wl.attempts, failed=wl.attempts, recall=0.0,
            problems=[f"unit raised {type(exc).__name__}: {exc}"[:300]],
        )


def end_to_end(units, setups: list[float], rss: float) -> dict[str, tuple[float, str]]:
    med = statistics.median
    wall = med(u.wall_s for u in units)
    attempted = sum(u.attempted for u in units)
    failed = sum(u.failed for u in units)
    return {
        "setup_s": (med(setups), "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (units[0].docs / wall, "docs/s"),
        "cpu_s": (med(u.cpu_s for u in units), "s"),
        "batch_latency_p50_s": (med(x for u in units for x in u.latencies), "s"),
        "peak_rss_mb": (rss, "MB"),
        "dup_recall": (med(u.recall for u in units), "fraction"),
        "output_ok": (0.0 if failed else 1.0, "0/1"),
        "ok_frac": (1.0 - failed / attempted, "fraction"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs (smoke test)")
    ap.add_argument("--corrupt", action="store_true", help="damage output before checking")
    args = ap.parse_args(argv)

    if not (ROOT / "cargo_dupes_spark" / "__init__.py").is_file():
        print(f"error: no cargo_dupes_spark program under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads
    from perfbench.sparkstats import StatusStore

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    cores = os.cpu_count() or 1
    steal0 = _steal_s()
    spark = None
    try:
        spark, setups = set_up(cores)
        store = StatusStore(spark)
        wl = workloads.make(args.workload, args.tiny)
        wl.prepare(spark, work, args.seed)
        host = host_record(args, spark.sparkContext.master, spark.version)
        if args.trace:
            metrics, detail = traced(spark, store, wl, work, args)
            units = detail.pop("units")
        else:
            units = []
            t_end = time.monotonic() + args.seconds
            while not units or time.monotonic() < t_end:
                units.append(run_unit(wl, store, corrupt=args.corrupt))
            metrics = end_to_end(units, setups, _peak_rss_mb(spark))
            detail = {}
        lat = [x for u in units for x in u.latencies]
        detail.update(
            host=host,
            setups_s=setups,
            steal_s=_steal_s() - steal0,
            units=len(units),
            latency_samples=len(lat),
            latency_tail=_percentile_tail(lat),
            wall_samples_s=[u.wall_s for u in units],
            problems=sorted({p for u in units for p in u.problems})[:20],
        )
        failed = sum(u.failed for u in units)
        result = {
            "correct": failed == 0,
            "attempted": sum(u.attempted for u in units),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


def traced(spark, store, wl, work: Path, args):
    """One traced unit with the program patched, then the kernel
    microbenchmarks. Spans are written to ``.perfbench/``.

    ``trace.overhead_frac`` is the tracer's own bookkeeping time over the
    traced unit's wall time. The difference between a traced and an
    untraced unit in one process is dominated by which of the two runs
    first on a cold JVM, so it would not measure the tracing."""
    from perfbench import kernels
    from perfbench.spans import Tracer, patch_program

    tracer = Tracer()
    patch_program(tracer)
    try:
        unit = run_unit(wl, store, tracer=tracer, corrupt=args.corrupt)
    finally:
        tracer.unpatch()
    layers = dict(unit.layers)
    layers.update(kernels.measure(spark, store, wl.kernel_sample(), work))
    layers["trace.overhead_frac"] = tracer.cost_s / unit.wall_s
    span_file = OUT / f"spans-{args.workload}-seed{args.seed}-{tracer.run_id}.json"
    span_file.write_text(json.dumps(tracer.dump()))
    # BENCHMARK.json's per_layer list is the one list of names and units; a
    # layer the workload does not reach reports 0 (no stage ran, no time)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    unknown = set(layers) - {m["name"] for m in spec}
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in spec}
    problems = tracer.problems()
    return metrics, {
        "units": [unit],
        "span_file": str(span_file.relative_to(ROOT)),
        "span_problems": problems,
        "spans": len(tracer.spans),
    }


if __name__ == "__main__":
    sys.exit(main())
