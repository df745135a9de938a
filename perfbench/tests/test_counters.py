from types import SimpleNamespace

import pytest

from counters import Ledger, SparkCounters, StageRecord, delta


def stage(sid, status="COMPLETE", tasks=4, cpu_ns=2_000_000_000, attempt=0):
    return StageRecord(sid, attempt, status, tasks, cpu_ns, 100, 1000)


def test_ledger_counts_each_finished_stage_once():
    led = Ledger()
    led.add_stages([stage(1), stage(0)])
    led.add_stages([stage(2), stage(1), stage(0)])
    assert led.totals["stages"] == 3
    assert led.totals["tasks"] == 12
    assert led.totals["executor_cpu_s"] == pytest.approx(6.0)
    assert led.totals["input_bytes"] == 3000


def test_ledger_waits_for_running_stages_and_skips_skipped():
    led = Ledger()
    led.add_stages([stage(3), stage(2, status="ACTIVE"), stage(1, status="SKIPPED"), stage(0)])
    assert led.totals["stages"] == 2  # 3 and 0; 2 still running, 1 skipped
    led.add_stages([stage(3), stage(2), stage(1, status="SKIPPED"), stage(0)])
    assert led.totals["stages"] == 3
    assert led.totals["tasks"] == 12


def test_ledger_counts_stage_retries_as_stages():
    led = Ledger()
    led.add_stages([stage(0, attempt=1), stage(0, status="FAILED")])
    assert led.totals["stages"] == 2


def test_ledger_jobs():
    led = Ledger()
    led.add_jobs([(1, "RUNNING"), (0, "SUCCEEDED")])
    assert led.totals["jobs"] == 1
    led.add_jobs([(2, "FAILED"), (1, "SUCCEEDED"), (0, "SUCCEEDED")])
    assert led.totals["jobs"] == 3


class FakeSeq:
    def __init__(self, items):
        self.items = items
        self.fetched = 0

    def size(self):
        return len(self.items)

    def apply(self, i):
        self.fetched += 1
        return self.items[i]


def java_stage(sid, tasks):
    return SimpleNamespace(
        stageId=lambda: sid, attemptId=lambda: 0,
        status=lambda: SimpleNamespace(toString=lambda: "COMPLETE"),
        numTasks=lambda: tasks, executorCpuTime=lambda: 10**9,
        shuffleWriteBytes=lambda: 5, inputBytes=lambda: 7,
    )


def java_job(jid):
    return SimpleNamespace(jobId=lambda: jid,
                           status=lambda: SimpleNamespace(toString=lambda: "SUCCEEDED"))


class FakeStore:
    def __init__(self):
        self.stages = []  # newest first, as the status store lists them
        self.jobs = []
        self.last = None

    def stageList(self, *args):
        self.last = FakeSeq(self.stages)
        return self.last

    def jobsList(self, *args):
        return FakeSeq(self.jobs)


def fake_spark(store, drains):
    bus = SimpleNamespace(waitUntilEmpty=lambda: drains.append(1))
    jvm = SimpleNamespace(java=SimpleNamespace(util=SimpleNamespace(ArrayList=list)), double=float)
    gateway = SimpleNamespace(jvm=jvm, new_array=lambda t, n: [])
    sc = SimpleNamespace(
        _gateway=gateway,
        _jsc=SimpleNamespace(sc=lambda: SimpleNamespace(statusStore=lambda: store,
                                                        listenerBus=lambda: bus)),
    )
    return SimpleNamespace(sparkContext=sc)


def test_reader_deltas_exclude_earlier_work_and_drain_first():
    store, drains = FakeStore(), []
    store.stages = [java_stage(1, 4), java_stage(0, 2)]
    store.jobs = [java_job(0)]
    counters = SparkCounters(fake_spark(store, drains))
    start = counters.read()
    assert start["stages"] == 0 and start["jobs"] == 0  # work before construction

    store.stages = [java_stage(3, 8), java_stage(2, 1)] + store.stages
    store.jobs = [java_job(2), java_job(1)] + store.jobs
    d = delta(counters.read(), start)
    assert d["stages"] == 2 and d["tasks"] == 9 and d["jobs"] == 2
    assert d["executor_cpu_s"] == pytest.approx(2.0)
    assert len(drains) == 3  # every read drains the listener bus first
    # the scan stops at the first stage already counted
    assert store.last.fetched == 3
