"""Span tracing from outside the program: wrap the calls into each layer.

Spans are kept in memory and written out when the run ends. A span's parent
is the span open on its own thread, or the root when none is (stage commits
run concurrently on driver threads). Self time is a span's duration minus
the union of its children's intervals, clipped to the span.
"""

from __future__ import annotations

import functools
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.cost_s = 0.0  # time spent in span bookkeeping itself

    @contextmanager
    def span(self, name: str):
        c0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        rec = {
            "id": None,
            "name": name,
            "parent": parent,
            "thread": threading.current_thread().name,
            "run_id": self.run_id,
            "start": time.monotonic(),
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        if parent is None and self._root is None:
            self._root = rec["id"]
        cost = time.perf_counter() - c0
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            c1 = time.perf_counter()
            stack.pop()
            if self._root == rec["id"]:
                self._root = None
            with self._lock:
                self.cost_s += cost + time.perf_counter() - c1

    def wrap(self, owner, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``unpatch``.
        ``label(*args)`` may add a suffix, e.g. the stage a checkpoint is for."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            full = f"{name}:{label(*args, **kwargs)}" if label else name
            with self.span(full):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    # ---- analysis -----------------------------------------------------
    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        lo, hi = span["start"], span["end"]
        ivs = sorted(
            (max(c["start"], lo), min(c["end"], hi))
            for c in self.children(span["id"])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (hi - lo) - covered

    def total(self, prefix: str) -> float:
        """Summed duration of spans named ``prefix`` or ``prefix:<label>``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == prefix or s["name"].startswith(prefix + ":")
        )

    def problems(self) -> list[str]:
        """Nesting violations and negative self times (checked by the smoke test)."""
        out = []
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            if s["end"] is None:
                out.append(f"span {s['name']} never closed")
                continue
            p = by_id.get(s["parent"]) if s["parent"] is not None else None
            eps = 1e-6
            if p is not None and (s["start"] < p["start"] - eps or s["end"] > p["end"] + eps):
                out.append(f"span {s['name']} outside its parent {p['name']}")
            if self.self_time(s) < -eps:
                out.append(f"span {s['name']} has negative self time")
        return out

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {
                **s,
                "start": round(s["start"] - t0, 6),
                "end": round(s["end"] - t0, 6),
                "self_s": round(self.self_time(s), 6),
            }
            for s in self.spans
        ]


def patch_program(tracer: Tracer) -> None:
    """Span the layer boundaries: ``Pipeline.run``, the catalog's commit,
    append and bookkeeping calls, the operator builders as bound in the
    ``plans.pipeline`` namespace, and the streaming tiers each micro-batch
    runs (looked up by ``incremental_dedup``'s batch function at call
    time)."""
    from cargo_dupes_spark.plans import pipeline as pl
    from cargo_dupes_spark.sources.catalog import Catalog
    from cargo_dupes_spark.streaming import incremental

    tracer.wrap(pl.Pipeline, "run", "pipeline.run")
    tracer.wrap(Catalog, "checkpoint", "catalog.checkpoint", lambda self, df, name: name)
    tracer.wrap(Catalog, "append", "catalog.append", lambda self, df, name, *a, **k: name)
    tracer.wrap(Catalog, "record_lineage", "catalog.record_lineage")
    tracer.wrap(Catalog, "record_metrics", "catalog.record_metrics")
    for fn in (
        "pairs_from_buckets",
        "substring_candidates",
        "verify_pairs",
        "verify_substring_pairs",
        "connected_components",
        "cluster_memberships",
    ):
        tracer.wrap(pl, fn, f"op.{fn}")
    for fn in ("_process_exact_tier", "_process_near_tier"):
        tracer.wrap(
            incremental, fn, f"stream.{fn.strip('_')}", lambda *a, **k: f"batch{a[3]}"
        )
