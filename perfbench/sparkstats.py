"""In-process reader of Spark's status store (works with the UI disabled).

One Py4J call serializes the whole stage (or job) list to JSON in the JVM,
so a read costs ~0.1 s however many stages there are. The store keeps only
``spark.ui.retainedStages``/``retainedJobs`` entries; the benchmark session
raises both (see ``run.SESSION_CONF``) and ``StageSnapshot`` reports a unit
whose first stage was already evicted, so no stage is silently missed.
"""

from __future__ import annotations

import json


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._list = jvm.java.util.ArrayList
        self._quantiles = sc._gateway.new_array(jvm.double, 0)
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _drain(self) -> None:
        # the store is fed asynchronously by the listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def stages(self) -> list[dict]:
        """Completed or failed stage attempts; skipped stages are excluded."""
        self._drain()
        rows = self._store.stageList(
            self._list(), False, False, self._quantiles, self._list()
        )
        return [
            s
            for s in json.loads(self._mapper.writeValueAsString(rows))
            if s["status"] in ("COMPLETE", "FAILED")
        ]

    def jobs(self) -> list[dict]:
        self._drain()
        rows = self._store.jobsList(self._list())
        return json.loads(self._mapper.writeValueAsString(rows))

    def max_stage_id(self) -> int:
        return max((s["stageId"] for s in self.stages()), default=-1)

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)


class StageSnapshot:
    """Stages and jobs started after the snapshot was taken."""

    def __init__(self, store: StatusStore):
        self.store = store
        self.stage0 = store.max_stage_id()
        self.job0 = store.max_job_id()

    def stages(self) -> list[dict]:
        return [s for s in self.store.stages() if s["stageId"] > self.stage0]

    def jobs(self) -> list[dict]:
        rows = self.store.jobs()
        if rows and min(j["jobId"] for j in rows) > self.job0 + 1:
            raise RuntimeError("status store evicted jobs of the measured unit")
        return [j for j in rows if j["jobId"] > self.job0]


def totals(stages: list[dict]) -> dict[str, float]:
    """Executor CPU, shuffle and spill summed over stage attempts."""
    return {
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "shuffle_bytes": float(
            sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages)
        ),
        "spill_bytes": float(
            sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)
        ),
    }
