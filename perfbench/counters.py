"""Running totals of Spark's job and stage counters, read from the
application status store through py4j.

The reader drains the listener bus, then asks the status store for its
stage and job lists, newest first, and adds every stage or job that has
finished since the previous read to running totals. Spans and units take
the difference of two reads. Reading often keeps each read short and
counts every stage before the status store's retention limit
(``spark.ui.retainedStages``, 1000 by default) can evict it. The reader
changes no session configuration.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Iterable, Iterator, Set, Tuple

FINAL_STAGE = {"COMPLETE", "FAILED", "SKIPPED"}
FINAL_JOB = {"SUCCEEDED", "FAILED"}
FIELDS = ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_write_bytes", "input_bytes")


@dataclass
class StageRecord:
    stage_id: int
    attempt: int
    status: str
    num_tasks: int
    executor_cpu_ns: int
    shuffle_write_bytes: int
    input_bytes: int


class Ledger:
    """Accumulates finished stages and jobs from newest-first listings.

    A listing is scanned from the newest entry down to the ``floor``: the
    highest id below which every entry was already final at an earlier
    read. Entries still running are left for a later read."""

    def __init__(self) -> None:
        self.totals: Dict[str, float] = {k: 0 for k in FIELDS}
        self._seen_stages: Set[Tuple[int, int]] = set()
        self._stage_floor = -1
        self._seen_jobs: Set[int] = set()
        self._job_floor = -1

    def add_stages(self, newest_first: Iterable[StageRecord]) -> None:
        pending = []
        top = self._stage_floor
        for s in newest_first:
            if s.stage_id <= self._stage_floor:
                break
            top = max(top, s.stage_id)
            key = (s.stage_id, s.attempt)
            if s.status not in FINAL_STAGE:
                pending.append(s.stage_id)
                continue
            if key in self._seen_stages:
                continue
            self._seen_stages.add(key)
            if s.status == "SKIPPED":
                continue
            t = self.totals
            t["stages"] += 1
            t["tasks"] += s.num_tasks
            t["executor_cpu_s"] += s.executor_cpu_ns / 1e9
            t["shuffle_write_bytes"] += s.shuffle_write_bytes
            t["input_bytes"] += s.input_bytes
        self._stage_floor = (min(pending) - 1) if pending else top
        self._seen_stages = {k for k in self._seen_stages if k[0] > self._stage_floor}

    def add_jobs(self, newest_first: Iterable[Tuple[int, str]]) -> None:
        pending = []
        top = self._job_floor
        for job_id, status in newest_first:
            if job_id <= self._job_floor:
                break
            top = max(top, job_id)
            if status not in FINAL_JOB:
                pending.append(job_id)
                continue
            if job_id not in self._seen_jobs:
                self._seen_jobs.add(job_id)
                self.totals["jobs"] += 1
        self._job_floor = (min(pending) - 1) if pending else top
        self._seen_jobs = {j for j in self._seen_jobs if j > self._job_floor}


def _scala_seq(seq) -> Iterator:
    for i in range(seq.size()):
        yield seq.apply(i)


class SparkCounters:
    """``read()`` returns the running totals after draining the listener
    bus. The first read happens at construction, so totals start at zero
    for everything that ran before."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._gw = sc._gateway
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.ledger = Ledger()
        self.read()
        self.ledger.totals = {k: 0 for k in FIELDS}

    def _stages(self) -> Iterator[StageRecord]:
        jvm = self._gw.jvm
        seq = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for s in _scala_seq(seq):
            yield StageRecord(
                stage_id=s.stageId(),
                attempt=s.attemptId(),
                status=s.status().toString(),
                num_tasks=s.numTasks(),
                executor_cpu_ns=s.executorCpuTime(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                input_bytes=s.inputBytes(),
            )

    def _jobs(self) -> Iterator[Tuple[int, str]]:
        seq = self._store.jobsList(self._gw.jvm.java.util.ArrayList())
        for j in _scala_seq(seq):
            yield j.jobId(), j.status().toString()

    def read(self) -> Dict[str, float]:
        self._bus.waitUntilEmpty()
        self.ledger.add_stages(self._stages())
        self.ledger.add_jobs(self._jobs())
        return dict(self.ledger.totals)


def delta(after: Dict[str, float], before: Dict[str, float]) -> Dict[str, float]:
    return {k: after[k] - before.get(k, 0) for k in after}
