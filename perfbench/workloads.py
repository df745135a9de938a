"""The benchmark's two workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``prepare()`` writes the seeded inputs and renders the workflow config
  (repeatable; ``run.py`` times it several times);
- ``warm_up()`` runs untimed work so JIT and codegen are warm;
- ``run_unit(k)`` runs the k-th unit of the closed loop (one client: the
  next unit starts when the previous one returned) and returns a ``Unit``;
- ``check()`` verifies the outputs and returns the failed checks.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import glob
import io
import json
import os
import random
import re
import time
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import pyarrow.parquet as pq

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class Op:
    op_id: str
    seconds: float
    ok: bool


@dataclass
class Unit:
    wall: float
    ops: List[Op]
    rows: int
    traced: bool = False
    counts: Dict[str, float] = field(default_factory=dict)
    # [first, last) index of the unit's spans in the tracer
    spans: Tuple[int, int] = (0, 0)


def parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path``, from the file footers."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def data_files(paths: List[str]) -> Tuple[int, int]:
    """(number, total bytes) of parquet data files under ``paths``."""
    n = size = 0
    for p in paths:
        for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True):
            n += 1
            size += os.path.getsize(f)
    return n, size


def render_config(example: str, dst: str, replacements: Dict[str, str]) -> str:
    """Copy an ``examples/`` workflow with each key of ``replacements``
    (its ``%TOKEN%`` paths and the lines the benchmark changes) replaced."""
    with open(os.path.join(ROOT, "examples", example)) as f:
        text = f.read()
    for k, v in replacements.items():
        if k not in text:
            raise ValueError(f"{example}: {k!r} not found, cannot render")
        text = text.replace(k, v)
    if re.search(r"%[A-Z_]+%", text):
        raise ValueError(f"{example}: unfilled token, cannot render")
    with open(dst, "w") as f:
        f.write(text)
    return dst


class PipelineBackfill:
    """``examples/daily_ingestion.conf`` as a 30-day historical run, one
    day per run of ``pramen_spark.cli.main`` (3 tasks, 2 metastore writes).
    Two changes to the example's config: the source reads the info date
    from ``ts``, and the enrich step gets a publish gate (expectations), so
    the validation layer is measured too. Collects each task's
    ``TaskResult``."""

    WARM_UP_DAYS = 3
    GATE = (
        '      filters = [ "event_type != \'error\'" ]\n'
        "      expectations = [\n"
        '        { name = "event_id_unique", kind = "unique", col = "event_id" },\n'
        '        { name = "value_usd_not_null", kind = "not_null", col = "value_usd" },\n'
        '        { name = "no_errors", kind = "predicate", sql = "event_type != \'error\'" }\n'
        "      ]"
    )

    def __init__(self, spark, run_dir: str, base_dir: str, seed: int):
        self.spark = spark
        self.dir = run_dir
        self.base = base_dir
        self.seed = seed
        self.conf = os.path.join(run_dir, "workflow.conf")
        self.results: List = []
        self.exit_codes: List[int] = []
        # (job name, info date) -> records of its last write into the
        # metastore, warm-up included
        self.written: Dict[Tuple[str, _dt.date], int] = {}
        # (bookkeeper, task results) of each invocation, read by the checks
        self.runs: List[Tuple[object, list]] = []
        self._sink_jobs: set = set()
        self._patched = None

    def prepare(self) -> dict:
        self.inputs = datagen.write_landing(self.base, os.path.join(self.dir, "landing"), self.seed)
        d = self.dir
        render_config(
            "daily_ingestion.conf",
            self.conf,
            {
                "%BOOKKEEPING%": f"{d}/bookkeeping.jsonl",
                "%MS_RAW%": f"{d}/ms_raw",
                "%MS_OUT%": f"{d}/ms_out",
                "%CSV_OUT%": f"{d}/csv",
                "%LANDING%": f"{d}/landing",
                "has.information.date.column = false": (
                    "has.information.date.column = true\n"
                    '      information.date.column = "ts"\n'
                    '      information.date.type = "datetime"'
                ),
                "      filters = [ \"event_type != 'error'\" ]": self.GATE,
            },
        )
        self.dates = sorted(_dt.date.fromisoformat(k) for k in self.inputs["per_date"])
        return {"rows": self.inputs["rows"], "bytes": self.inputs["bytes"], "days": len(self.dates)}

    def _capture(self) -> None:
        from pramen_spark.runner.jobs import SinkJob
        from pramen_spark.runner.runner import PipelineRunner

        orig = PipelineRunner.run
        workload = self

        def run(runner, jobs, params):
            workload._sink_jobs.update(j.name for j in jobs if isinstance(j, SinkJob))
            result = orig(runner, jobs, params)
            workload.results.extend(result.results)
            workload.runs.append((runner.bookkeeper, result.results))
            for r in result.results:
                if r.status.value == "succeeded" and r.job_name not in workload._sink_jobs:
                    workload.written[(r.job_name, r.info_date)] = r.records
            return result

        PipelineRunner.run = run
        self._patched = (PipelineRunner, orig)

    def close(self) -> None:
        if self._patched:
            cls, orig = self._patched
            cls.run = orig
            self._patched = None

    def invoke(self, date_from: _dt.date, date_to: _dt.date) -> Tuple[int, list]:
        from pramen_spark.cli import main

        if self._patched is None:
            self._capture()
        start = len(self.results)
        with contextlib.redirect_stdout(io.StringIO()):
            rc = main([
                "--workflow", self.conf,
                "--date-from", date_from.isoformat(),
                "--date-to", date_to.isoformat(),
                "--run-mode", "force",
                "--parallel-tasks", "1",
            ])
        self.exit_codes.append(rc)
        return rc, self.results[start:]

    def warm_up(self) -> None:
        """The last days of the range, in one run."""
        self.invoke(self.dates[-self.WARM_UP_DAYS], self.dates[-1])

    def run_unit(self, k: int) -> Unit:
        day = self.dates[k % len(self.dates)]
        t0 = time.perf_counter()
        rc, results = self.invoke(day, day)
        wall = time.perf_counter() - t0
        ops, rows = [], 0
        for r in results:
            ok = r.status.value == "succeeded"
            ops.append(Op(f"{r.job_name}@{r.info_date}", r.elapsed_sec, ok))
            if ok and r.job_name not in self._sink_jobs:
                rows += r.records
        if rc != 0 and all(o.ok for o in ops):
            ops.append(Op("exit_code", 0.0, False))
        return Unit(wall=wall, ops=ops, rows=rows)

    def metastore_dirs(self) -> List[str]:
        return [os.path.join(self.dir, "ms_raw"), os.path.join(self.dir, "ms_out")]

    def check(self) -> List[str]:
        # output record counts in each invocation's own bookkeeper (the
        # example's bookkeeping lives in memory for one invocation)
        bookkept = {}
        for bk, results in self.runs:
            for r in results:
                if r.job_name not in self._sink_jobs:
                    chunk = bk.get_latest_data_chunk(r.table_name, r.info_date)
                    bookkept[(r.table_name, r.info_date)] = chunk.output_record_count if chunk else -1
        failed = []
        dates = sorted({r.info_date for r in self.results})
        csv_dir = os.path.join(self.dir, "csv")
        for d in dates:
            iso = d.isoformat()
            if iso not in self.inputs["per_date"]:
                continue  # a task that never ran; counted as a failed operation
            n, kept = self.inputs["per_date"][iso]
            raw = parquet_rows(f"{self.dir}/ms_raw/pramen_info_date={iso}")
            enriched = parquet_rows(f"{self.dir}/ms_out/pramen_info_date={iso}")
            csvs = sorted(glob.glob(os.path.join(csv_dir, f"events_enriched_{iso}_*.csv")))
            csv_rows = sum(1 for _ in open(csvs[-1])) if csvs else -1
            for what, got, want in (
                ("raw rows", raw, n),
                ("enriched rows", enriched, kept),
                ("csv rows", csv_rows, kept),
            ):
                if got != want:
                    failed.append(f"{iso}: {what} {got} != {want}")
            for table, want in (("events_raw", n), ("events_enriched", kept)):
                got = bookkept.get((table, d), -1)
                if got != want:
                    failed.append(f"{iso}: bookkeeping {table} {got} != {want}")
        return failed


MIX_FILE = os.path.join(HERE, "catalog_mix.json")


def fingerprint(df) -> Tuple[int, int]:
    """(row count, order-insensitive checksum) of ``df``, forced with a
    ``noop`` write like a timed query. The checksum is the sum of per-row
    hashes, floating-point columns rounded to 6 places, taken with
    ``DataFrame.observe`` on that same write, so checking costs no extra
    pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = df[f.name]
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            c = F.round(c, 6)
        elif isinstance(f.dataType, T.MapType):
            c = F.to_json(c)
        cols.append(c)
    row_hash = F.pmod(F.xxhash64(*cols), F.lit(2147483647)) if cols else F.lit(0)
    obs = Observation("perfbench_check")
    force(df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("h")))
    got = obs.get
    return int(got["n"]), int(got["h"] or 0)


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class CatalogMix:
    """One pass = every pinned catalog query, built with
    ``QUERIES[name].build(spark, base_dir)`` and forced with a ``noop``
    write; the seed sets the order within a pass. Every forced query is
    checked against its pinned row count and checksum (``fingerprint``), in
    the warm-up pass and in the timed ones, so all passes run the same
    plans."""

    def __init__(self, spark, run_dir: str, base_dir: str, seed: int):
        self.spark = spark
        self.base = base_dir
        self.seed = seed
        self.tracer = None  # set by the traced run
        with open(MIX_FILE) as f:
            self.pinned = {q["name"]: q for q in json.load(f)["queries"]}
        self.failed_checks: List[str] = []

    def prepare(self) -> dict:
        self.order = list(self.pinned)
        random.Random(self.seed).shuffle(self.order)
        return {"queries": len(self.order), "rows": sum(q["rows"] for q in self.pinned.values())}

    def _query(self, name: str) -> None:
        """Build, force and check one query; raises on any failure."""
        from pramen_spark.queries.catalog import QUERIES

        tr = self.tracer
        if tr is None:
            got = fingerprint(QUERIES[name].build(self.spark, self.base))
        else:
            with tr.span("queries.query", op=name):
                with tr.span("queries.build"):
                    df = QUERIES[name].build(self.spark, self.base)
                with tr.span("queries.exec"):
                    got = fingerprint(df)
        want = self.pinned[name]
        if got[0] != want["rows"] or want["checksum"] not in (None, got[1]):
            raise AssertionError(f"(rows, checksum) {got} != ({want['rows']}, {want['checksum']})")

    def warm_up(self) -> None:
        """Untimed first pass in pinned order."""
        for name in self.pinned:
            try:
                self._query(name)
            except Exception as e:  # a failing query is a failed check, never dropped
                self.failed_checks.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        self.spark.catalog.clearCache()

    def run_unit(self, k: int) -> Unit:
        t0 = time.perf_counter()
        ops, rows = [], 0
        for name in self.order:
            q0 = time.perf_counter()
            try:
                self._query(name)
                ok = True
                rows += self.pinned[name]["rows"]
            except Exception:  # counted as a failed operation
                ok = False
            ops.append(Op(name, time.perf_counter() - q0, ok))
        self.spark.catalog.clearCache()
        return Unit(wall=time.perf_counter() - t0, ops=ops, rows=rows)

    def check(self) -> List[str]:
        return list(self.failed_checks)

    def metastore_dirs(self) -> List[str]:
        return []

    def close(self) -> None:
        pass


WORKLOADS = {
    "pipeline_backfill": PipelineBackfill,
    "catalog_mix": CatalogMix,
}
