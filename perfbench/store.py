"""Eviction-safe deltas from Spark's live status stores.

``StoreReader.delta()`` returns the jobs, stages and SQL executions
that appeared since the previous call. It walks job ids from the
DAGScheduler's next-job counter and the stage ids those jobs list, not
list lengths: the live store keeps only ``spark.ui.retainedJobs`` /
``retainedStages`` (1,000 each) and a single streaming op can complete
more than a hundred stages. Read after every op, the window stays far
below that; if an id in it has been evicted anyway, the read raises
``StoreEvicted`` and the run fails rather than under-count.

The stores are read through a small adapter so the id logic can be
tested without a JVM: ``SparkStores`` for a live session, any object
with the same five methods in tests.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

FINISHED_JOB = ("SUCCEEDED", "FAILED")
#: a stage in one of these states has final metrics; SKIPPED stages ran
#: in an earlier job (under another id) and carry none
FINAL_STAGE = ("COMPLETE", "FAILED", "SKIPPED")


class StoreEvicted(RuntimeError):
    """An id inside the read window is no longer in the live store."""


class SparkStores:
    """py4j adapter over ``SparkContext.statusStore()`` and
    ``sharedState().statusStore()``. Objects cross the gateway as JSON
    (Spark's own Jackson mapper with the Scala module), one round trip
    per object."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        # Spark 4.1's stageData takes all five arguments over py4j
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self._bus.waitUntilEmpty()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def job(self, job_id: int) -> dict | None:
        return _absent_as_none(lambda: self._json(self._store.job(job_id)))

    def stage(self, stage_id: int) -> list[dict] | None:
        """All attempts of the stage; None if the store has none (for a
        missing id ``stageData`` returns an empty list, it does not raise)."""
        attempts = _absent_as_none(lambda: self._json(self._store.stageData(
            stage_id, False, self._no_tasks, False, self._no_quantiles
        )))
        return attempts or None

    def sql_id_range(self) -> tuple[int, int] | None:
        """(oldest, newest) retained SQL execution id, or None if none."""
        n = int(self._sql.executionsCount())
        if n == 0:
            return None
        first = self._json(self._sql.executionsList(0, 1))[0]["executionId"]
        last = self._json(self._sql.executionsList(n - 1, 1))[0]["executionId"]
        return int(first), int(last)


def _absent_as_none(read):
    """``read()``, or None when the store has no such id (the JVM's
    NoSuchElementException, wrapped by py4j)."""
    from py4j.protocol import Py4JJavaError

    try:
        return read()
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.util.NoSuchElementException":
            return None
        raise


@dataclass
class Delta:
    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)  # one entry per attempt
    sql_executions: int = 0

    def total(self, key: str) -> float:
        return sum(s.get(key) or 0 for s in self.stages)


class StoreReader:
    """Deltas by id over a stores adapter (see module docstring)."""

    def __init__(self, stores):
        self.stores = stores
        self.since_ms = time.time() * 1000
        self.next_job = stores.next_job_id()
        self.running: set[int] = set()
        self.seen_stages: set[int] = set()
        rng = stores.sql_id_range()
        self.last_sql = rng[1] if rng else -1

    def delta(self) -> Delta:
        self.stores.drain()
        out = Delta()
        hi = self.stores.next_job_id()
        ids = sorted(self.running) + list(range(self.next_job, hi))
        self.next_job, self.running = hi, set()
        for jid in ids:
            job = self.stores.job(jid)
            if job is None:
                raise StoreEvicted(f"job {jid} left the live store before it was read")
            if job.get("status") not in FINISHED_JOB:
                self.running.add(jid)  # read again next time
                continue
            out.jobs.append(job)
            for sid in sorted(job.get("stageIds") or ()):
                if sid in self.seen_stages:
                    continue
                attempts = self.stores.stage(sid)
                if attempts is None:
                    raise StoreEvicted(f"stage {sid} of job {jid} left the live store")
                self.seen_stages.add(sid)
                out.stages.extend(
                    a for a in attempts
                    if a.get("status") in FINAL_STAGE
                    # a stage reused from before the window was counted there
                    and (a.get("completionTime") or self.since_ms) >= self.since_ms
                )
        rng = self.stores.sql_id_range()
        if rng is not None and rng[1] > self.last_sql:
            if rng[0] > self.last_sql + 1:
                raise StoreEvicted(
                    f"SQL executions {self.last_sql + 1}..{rng[0] - 1} left the live store"
                )
            out.sql_executions = rng[1] - self.last_sql
            self.last_sql = rng[1]
        return out
