"""Per-layer metrics: which program functions the traced run wraps, and how
spans become metric values. ``README.md`` has the same map as a table,
with the end-to-end metric each layer metric should move.

Every time and count is reported per traced unit (a backfill day or a
catalog pass), so runs of different length compare.
"""

from __future__ import annotations

import statistics
from typing import Dict, List, Tuple

import counters
from spans import Tracer, outermost, self_times
from workloads import data_files

# spans that take Spark counter deltas at start and end
COUNTED = (
    "sources.pre_run_check",
    "metastore.save",
    "sinks.send",
    "validation.expectations",
    "queries.exec",
)

SPARK_FIELDS = {
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.input_bytes": ("input_bytes", "bytes"),
}


def _methods(module, names) -> List[Tuple[type, str]]:
    """(class, method) for every class in ``module`` that defines one of
    ``names`` itself."""
    out = []
    for obj in vars(module).values():
        if isinstance(obj, type) and obj.__module__ == module.__name__:
            out.extend((obj, n) for n in names if n in obj.__dict__)
    return out


def install(tracer: Tracer) -> None:
    """Wrap the program's layer boundaries. Functions imported by name into
    another module are patched where they are looked up."""
    import pramen_spark.cli as cli
    import pramen_spark.notify.builder as notify
    import pramen_spark.operators.validation as validation
    import pramen_spark.runner.bookkeeper as bookkeeper
    import pramen_spark.runner.dbapi_bookkeeper as dbapi_bookkeeper
    import pramen_spark.runner.jobs as jobs
    import pramen_spark.runner.spark_bookkeeper as spark_bookkeeper
    import pramen_spark.runner.task_runner as task_runner
    import pramen_spark.scheduling.strategies as strategies
    from pramen_spark.metastore.metastore import Metastore
    from pramen_spark.sinks import (
        cmd_line_sink, enceladus_sink, kafka_sink, local_csv_sink, shard_sink,
        spark_sink, standardization_sink,
    )

    tracer.wrap_function(cli, "load_workflow", "config.load")
    tracer.wrap_function(cli, "build_jobs", "config.build_jobs")

    def planned(span, days):
        span.counts["tasks"] = len(days)

    for cls, name in _methods(strategies, ["get_days_to_run"]):
        tracer.wrap_method(cls, name, "scheduling.days", on_result=planned)

    def task_failed(span, result):
        span.counts["failed"] = 0 if result.status.value == "succeeded" else 1

    tracer.wrap_method(
        task_runner.TaskRunner, "run_task", "runner.task",
        op_of=lambda runner, job, task, *a, **k: f"{job.name}@{task.info_date}",
        on_result=task_failed,
    )
    for cls, name in _methods(bookkeeper, ["acquire"]):
        tracer.wrap_method(cls, name, "runner.lock_wait")
    for cls, name in _methods(jobs, ["pre_run_check"]):
        tracer.wrap_method(cls, name, "sources.pre_run_check")
    for cls, name in _methods(jobs, ["run"]):
        tracer.wrap_method(cls, name, "jobs.run")
    tracer.wrap_function(task_runner, "apply_decorations", "rowlevel.decorate")
    _wrap_expectations(tracer, validation)

    def rows_written(span, result):
        span.counts["rows"] = max(0, result.records)

    tracer.wrap_method(Metastore, "save_table", "metastore.save", on_result=rows_written)
    tracer.wrap_method(Metastore, "get_table", "metastore.read")

    def rows_sent(span, sent):
        span.counts["rows"] = sent

    for mod in (cmd_line_sink, enceladus_sink, kafka_sink, local_csv_sink, shard_sink,
                spark_sink, standardization_sink):
        for cls, name in _methods(mod, ["send"]):
            tracer.wrap_method(cls, name, "sinks.send", on_result=rows_sent)
    for mod in (bookkeeper, spark_bookkeeper, dbapi_bookkeeper):
        for cls, name in _methods(mod, ["set_record_count", "save_schema"]):
            tracer.wrap_method(cls, name, "bookkeeper.write")
        for cls, name in _methods(mod, ["get_latest_schema", "get_latest_data_chunk"]):
            tracer.wrap_method(cls, name, "bookkeeper.read")
        for cls, name in _methods(mod, ["add"]):
            if issubclass(cls, bookkeeper.Journal):
                tracer.wrap_method(cls, name, "journal.add")
    tracer.wrap_method(notify.PipelineNotificationBuilder, "build_text", "notify.build")


def _wrap_expectations(tracer: Tracer, validation) -> None:
    """``validate_expectations`` returns a lazy DataFrame that the task
    runner collects right away; the span runs from the call until that
    ``collect`` returns, so it covers the gate's Spark work."""
    orig = validation.validate_expectations

    def wrapper(*args, **kwargs):
        span = tracer.begin("validation.expectations")
        try:
            df = orig(*args, **kwargs)
        except BaseException:
            tracer.end(span)
            raise
        collect = df.collect

        def traced_collect():
            try:
                return collect()
            finally:
                tracer.end(span)

        df.collect = traced_collect
        return df

    tracer.patch(validation, "validate_expectations", wrapper)


def stored(workload) -> Dict[str, float]:
    """Parquet bytes per row stored and data files per (table, info date)
    written, over the metastore tables the run left behind."""
    files, size = data_files(workload.metastore_dirs())
    written = getattr(workload, "written", {})
    rows = sum(written.values())
    return {
        "bytes_per_row": size / rows if rows else 0.0,
        "files_per_write": files / len(written) if written else 0.0,
    }


class Probe:
    """Runs units with tracing on and turns their spans into metrics."""

    def __init__(self, spark):
        self.counters = counters.SparkCounters(spark)
        self.tracer = Tracer(counter=self.counters.read, counted=COUNTED)

    def traced_unit(self, workload, k: int):
        first_span = len(self.tracer.spans)
        before = self.counters.read()
        install(self.tracer)
        workload.tracer = self.tracer
        try:
            unit = workload.run_unit(k)
        finally:
            workload.tracer = None
            self.tracer.uninstall()
        unit.counts = counters.delta(self.counters.read(), before)
        unit.traced = True
        unit.spans = (first_span, len(self.tracer.spans))
        return unit

    def metrics(self, units, stored: Dict[str, float], session_s: float) -> Dict[str, Tuple[float, str]]:
        traced = [u for u in units if u.traced]
        plain = [u for u in units if not u.traced]
        n = len(traced)
        spans = [s for u in traced for s in self.tracer.spans[u.spans[0]:u.spans[1]]]
        own = self_times(spans)

        def total(name):
            return sum(s.duration for s in outermost(spans, name)) / n

        def calls(name):
            return len(outermost(spans, name)) / n

        def count(name, key):
            return sum(s.counts.get(key, 0) for s in outermost(spans, name)) / n

        m = {
            "session.start_s": (session_s, "s"),
            "config.load_s": (total("config.load"), "s"),
            "config.build_jobs_s": (total("config.build_jobs"), "s"),
            "scheduling.days_s": (total("scheduling.days"), "s"),
            "scheduling.tasks_planned": (count("scheduling.days", "tasks"), "count"),
            "runner.task_s": (total("runner.task"), "s"),
            "runner.self_s": (sum(own[s.sid] for s in outermost(spans, "runner.task")) / n, "s"),
            "runner.lock_wait_s": (total("runner.lock_wait"), "s"),
            "runner.tasks": (calls("runner.task"), "count"),
            "runner.tasks_failed": (count("runner.task", "failed"), "count"),
            "sources.pre_run_check_s": (total("sources.pre_run_check"), "s"),
            "sources.pre_run_check.spark_jobs": (count("sources.pre_run_check", "jobs"), "count"),
            "jobs.run_s": (total("jobs.run"), "s"),
            "rowlevel.decorate_s": (total("rowlevel.decorate"), "s"),
            "validation.expectations_s": (total("validation.expectations"), "s"),
            "validation.spark_cpu_s": (count("validation.expectations", "executor_cpu_s"), "s"),
            "metastore.save_s": (total("metastore.save"), "s"),
            "metastore.save.spark_jobs": (count("metastore.save", "jobs"), "count"),
            "metastore.rows_written": (count("metastore.save", "rows"), "count"),
            "metastore.bytes_per_row": (stored["bytes_per_row"], "bytes"),
            "metastore.files_written": (stored["files_per_write"], "count"),
            "metastore.read_s": (total("metastore.read"), "s"),
            "sinks.send_s": (total("sinks.send"), "s"),
            "sinks.send.spark_jobs": (count("sinks.send", "jobs"), "count"),
            "sinks.rows_sent": (count("sinks.send", "rows"), "count"),
            "bookkeeper.write_s": (total("bookkeeper.write"), "s"),
            "bookkeeper.read_s": (total("bookkeeper.read"), "s"),
            "bookkeeper.calls": (calls("bookkeeper.write") + calls("bookkeeper.read"), "count"),
            "journal.add_s": (total("journal.add"), "s"),
            "notify.build_s": (total("notify.build"), "s"),
            "queries.build_s": (total("queries.build"), "s"),
            "queries.exec_s": (total("queries.exec"), "s"),
        }
        for metric, (key, unit) in SPARK_FIELDS.items():
            m[metric] = (sum(u.counts[key] for u in traced) / n, unit)
        m["trace.overhead_s"] = (
            statistics.median(u.wall for u in traced) - statistics.median(u.wall for u in plain),
            "s",
        )
        m["trace.spans"] = (len(spans) / n, "count")
        return m

