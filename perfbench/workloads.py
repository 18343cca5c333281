"""The benchmark's workloads: inputs, the measured unit, checks and layers.

A workload object generates its inputs from the seed (``prepare``), runs one
measured unit (``unit``) and returns a ``Unit`` record; the caller repeats
units for the run's window. With a tracer the unit also collects per-layer
numbers into ``Unit.layers``. Checks run after the unit's clock stops.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import check, gen
from perfbench.sparkstats import StageSnapshot, StatusStore, totals

STAGES = (
    "fingerprints",
    "exact_memberships",
    "representatives",
    "signatures",
    "candidate_pairs",
    "verified_edges",
    "clusters",
    "memberships",
    "stats",
)
DETECTORS = ("minhash", "substring")  # the CLI's default detectors


@dataclass
class Unit:
    wall_s: float
    cpu_s: float
    docs: int
    latencies: list[float]  # per micro-batch / query / pipeline run
    attempted: int
    failed: int
    recall: float
    problems: list[str]
    layers: dict[str, float] = field(default_factory=dict)


def _du(path: Path, prefix: str = "") -> float:
    return float(
        sum(
            f.stat().st_size
            for d in path.glob(prefix + "*")
            for f in ([d] if d.is_file() else d.rglob("*"))
            if f.is_file()
        )
    )


def _texts(path: Path, n: int = 2000) -> list[str]:
    """The first ``n`` input texts: the fixed sample the kernels are rated on."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["text"]).column("text").to_pylist()[:n]


def _by_description(stages, jobs, label: str):
    """Stages/jobs whose description is ``label`` or ``label (...)``."""

    def match(desc):
        return desc == label or (desc or "").startswith(label + " ")

    return (
        [s for s in stages if match(s.get("description"))],
        [j for j in jobs if match(j.get("description"))],
    )


class BatchWorkload:
    """``Pipeline.run`` with the CLI's default detectors over a web_pages
    parquet corpus, until memberships and stats are read back."""

    name = "batch_dense"
    attempts = 1  # units are counted one Pipeline.run each

    def __init__(self, corpus: dict, bucket_cap: int):
        self.corpus = corpus
        self.bucket_cap = bucket_cap

    def prepare(self, spark, work: Path, seed: int) -> None:
        from cargo_dupes_spark.config import PipelineConfig

        self.spark = spark
        self.input = work / "input"
        self.truth = gen.batch_corpus(self.input, seed, **self.corpus)
        self.warehouse = work / "warehouse"
        self.cfg = PipelineConfig(
            warehouse=str(self.warehouse),
            checkpoint_dir=str(work / "checkpoints"),
            max_bucket_size=self.bucket_cap,
        )

    def unit(self, store: StatusStore, tracer=None, corrupt=False) -> Unit:
        from cargo_dupes_spark.plans.pipeline import Pipeline

        shutil.rmtree(self.warehouse, ignore_errors=True)
        snap = StageSnapshot(store)
        t0 = time.monotonic()
        with tracer.span("unit") if tracer else nullcontext() as root:
            web_pages = self.spark.read.parquet(str(self.input))
            out = Pipeline(self.spark, self.cfg, detectors=DETECTORS).run(web_pages)
            memberships = out["memberships"].select("url", "tier", "group_fp").collect()
            out["stats"].collect()
        wall = time.monotonic() - t0
        stages, jobs = snap.stages(), snap.jobs()

        edges = out["verified_edges"].select("url_a", "url_b", "tier").collect()
        recall, problems = check.check_batch(
            [tuple(r) for r in memberships], [tuple(r) for r in edges], self.truth, corrupt
        )
        u = Unit(
            wall_s=wall,
            cpu_s=totals(stages)["cpu_s"],
            docs=self.truth.n_docs,
            latencies=[wall],
            attempted=1,
            failed=1 if problems else 0,
            recall=recall,
            problems=problems,
        )
        if tracer:
            u.layers = self._layers(out, edges, stages, jobs, tracer, root)
        return u

    def _layers(self, out, edges, stages, jobs, tracer, root) -> dict[str, float]:
        from cargo_dupes_spark.operators.connected_components import DRIVER_CC_THRESHOLD
        from cargo_dupes_spark.sources.catalog import Catalog

        m: dict[str, float] = {}
        for stage in STAGES:
            st, jb = _by_description(stages, jobs, f"stage:{stage}")
            t = totals(st)
            m[f"pipeline.{stage}.wall_s"] = tracer.total(f"catalog.checkpoint:{stage}")
            m[f"pipeline.{stage}.cpu_s"] = t["cpu_s"]
            m[f"pipeline.{stage}.shuffle_bytes"] = t["shuffle_bytes"]
            m[f"pipeline.{stage}.spill_bytes"] = t["spill_bytes"]
            m[f"pipeline.{stage}.jobs"] = float(len(jb))
        m["catalog.bookkeeping_s"] = tracer.total("catalog.record_lineage") + tracer.total(
            "catalog.record_metrics"
        )
        m["catalog.bytes_written"] = _du(self.warehouse)

        cands = {
            r["tier"]: r["count"]
            for r in out["candidate_pairs"].groupBy("tier").count().collect()
        }
        n_edges = {}
        for _, _, tier in edges:
            n_edges[tier] = n_edges.get(tier, 0) + 1
        catalog = Catalog(self.spark, str(self.warehouse), self.cfg.config_hash())
        flagged = {
            r["metric"]: r["value"]
            for r in catalog.read_metrics().filter("stage = 'candidates'").collect()
        }
        m["lsh.candidates.near"] = float(cands.get("near", 0))
        m["lsh.candidates.substring"] = float(cands.get("substring", 0))
        m["lsh.salted_buckets"] = float(flagged.get("salted_buckets", 0.0))
        m["lsh.dropped_buckets"] = float(flagged.get("dropped_buckets", 0.0))
        m["lsh.build_s"] = tracer.total("op.pairs_from_buckets") + tracer.total(
            "op.substring_candidates"
        )
        for tier in ("near", "substring"):
            m[f"verify.{tier}.yield"] = n_edges.get(tier, 0) / max(cands.get(tier, 0), 1)
        m["cc.edges"] = float(len(edges))
        m["cc.driver_path"] = 1.0 if len(edges) <= DRIVER_CC_THRESHOLD else 0.0
        m["trace.root_self_s"] = tracer.self_time(root)
        return m

    def kernel_sample(self) -> list[str]:
        return _texts(self.input)


class StreamWorkload:
    """``incremental_dedup`` with tiers (exact, near) draining a backlog of
    drops through the CLI's file-source reader, one drop per trigger."""

    # read_web_pages_stream caps a trigger at 64 files; a drop is 64 files
    FILES_PER_DROP = 64
    name = "stream_drain"

    def __init__(self, n_drops: int, drop_docs: int):
        self.n_drops = self.attempts = n_drops  # counted per micro-batch
        self.drop_docs = drop_docs

    def prepare(self, spark, work: Path, seed: int) -> None:
        from cargo_dupes_spark.config import PipelineConfig

        self.spark = spark
        self.drops = work / "drops"
        self.truth = gen.stream_drops(
            self.drops,
            seed,
            n_drops=self.n_drops,
            drop_docs=self.drop_docs,
            files_per_drop=self.FILES_PER_DROP,
        )
        self.warehouse = work / "warehouse"
        self.ckpt = work / "stream_ckpt"
        self.cfg = PipelineConfig(
            warehouse=str(self.warehouse), checkpoint_dir=str(work / "checkpoints")
        )

    def unit(self, store: StatusStore, tracer=None, corrupt=False) -> Unit:
        from cargo_dupes_spark.sources.catalog import Catalog
        from cargo_dupes_spark.streaming.incremental import (
            incremental_dedup,
            load_stream_dups,
            load_stream_near_dups,
            read_web_pages_stream,
        )

        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)
        snap = StageSnapshot(store)
        t0 = time.monotonic()
        with tracer.span("unit") if tracer else nullcontext() as root:
            catalog = Catalog(self.spark, str(self.warehouse), self.cfg.config_hash())
            query = incremental_dedup(
                read_web_pages_stream(self.spark, str(self.drops)),
                catalog,
                self.cfg,
                str(self.ckpt),
                tiers=("exact", "near"),
            )
            query.awaitTermination()  # raises if a micro-batch failed
            exact = load_stream_dups(catalog).select("url", "matched_url").collect()
            near = load_stream_near_dups(catalog).select("url", "matched_url").collect()
        wall = time.monotonic() - t0
        stages, jobs = snap.stages(), snap.jobs()

        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        trigger = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        reported = [(r[0], r[1], "exact") for r in exact] + [(r[0], r[1], "near") for r in near]
        recall, problems = check.check_stream(reported, self.truth, corrupt)
        if len(progress) != self.n_drops:
            problems.append(f"{len(progress)} triggers for {self.n_drops} drops")
        u = Unit(
            wall_s=wall,
            cpu_s=totals(stages)["cpu_s"],
            docs=self.truth.n_docs,
            latencies=trigger,
            attempted=self.n_drops,
            failed=self.n_drops if problems else 0,
            recall=recall,
            problems=problems,
        )
        if tracer:
            u.layers = self._layers(progress, stages, jobs, tracer, root)
        return u

    def _layers(self, progress, stages, jobs, tracer, root) -> dict[str, float]:
        import re

        def batch_of(desc):
            hit = re.search(r"batch = (\d+)", desc or "")
            return int(hit.group(1)) if hit else None

        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress]
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        ids = [p["batchId"] for p in progress]
        per_batch = [
            totals([s for s in stages if batch_of(s.get("description")) == b]) for b in ids
        ]
        n_jobs = [sum(1 for j in jobs if batch_of(j.get("description")) == b) for b in ids]
        third = max(1, len(trig) // 3)
        med = statistics.median
        return {
            "stream.add_batch_s": med(add),
            "stream.trigger_overhead_s": med(t - a for t, a in zip(trig, add)),
            "stream.jobs_per_batch": med(n_jobs),
            "stream.cpu_s_per_batch": med(t["cpu_s"] for t in per_batch),
            "stream.shuffle_bytes_per_batch": med(t["shuffle_bytes"] for t in per_batch),
            "stream.state_bytes": _du(self.warehouse, "stream_"),
            "stream.latency_growth": med(trig[-third:]) / med(trig[:third]),
            "catalog.bookkeeping_s": tracer.total("catalog.record_lineage")
            + tracer.total("catalog.record_metrics"),
            "catalog.bytes_written": _du(self.warehouse),
            "trace.root_self_s": tracer.self_time(root),
        }

    def kernel_sample(self) -> list[str]:
        return _texts(self.drops)


def make(name: str, tiny: bool):
    """The workload called ``name``; ``tiny`` shrinks it for the smoke test."""
    if name == "batch_dense":
        # a hot-template family above the bucket cap makes LSH salting engage;
        # the cap is lowered from 2000 so the family (and the run) stays small
        corpus = dict(
            n_unique=300 if tiny else 1500,
            n_exact=20 if tiny else 150,
            n_near=20 if tiny else 150,
            n_substring=10 if tiny else 60,
            n_hot=100,
            n_files=1,
        )
        return BatchWorkload(corpus, bucket_cap=32)
    if name == "stream_drain":
        return StreamWorkload(n_drops=2, drop_docs=60 if tiny else 300)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("batch_dense", "stream_drain")
