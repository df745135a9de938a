"""Spark-dataset-backed bookkeeper (Parquet or Delta).

Persistent counterpart of :class:`pramen_spark.runner.bookkeeper.Bookkeeper`
(reference: core/.../bookkeeper/BookkeeperDeltaBase.scala:29-120 and
BookkeeperDeltaPath.scala — chunk and schema datasets queried with filters).

Layout under ``path``::

    {path}/records/   one row per processed (table, info_date, run)
    {path}/schemas/   one row per captured schema version

Both datasets are append-only: each save appends uniquely-named part files
(Parquet) or an ACID transaction (Delta), so concurrent drivers never clobber
each other's records.  State is replayed into memory at open — bookkeeping
data is a few rows per task run, small even after years of daily pipelines —
and ``refresh()`` re-reads it to pick up other drivers' writes.  Use
``compact()`` periodically to fold the accumulated small files.
"""

from __future__ import annotations

import datetime as _dt
import time
from typing import List

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from pramen_spark.metastore.schema_cache import load_with_schema
from pramen_spark.runner.bookkeeper import Bookkeeper, DataChunk, Journal, JournalEntry

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("info_date", T.StringType()),
        T.StructField("input_record_count", T.LongType()),
        T.StructField("output_record_count", T.LongType()),
        T.StructField("job_started", T.DoubleType()),
        T.StructField("job_finished", T.DoubleType()),
        T.StructField("batch_id", T.LongType()),
    ]
)

SCHEMA_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("info_date", T.StringType()),
        T.StructField("schema_json", T.StringType()),
        T.StructField("updated_at", T.DoubleType()),
    ]
)


class SparkBookkeeper(Bookkeeper):
    """Bookkeeper persisted as append-only Spark datasets.

    ``data_format`` is ``"parquet"`` (default) or ``"delta"`` (requires the
    delta-spark runtime, like the metastore's Delta format).  Selected via
    ``pramen.bookkeeping.hadoop.format`` in the workflow config.
    """

    def __init__(self, spark: SparkSession, path: str, data_format: str = "parquet"):
        if data_format not in ("parquet", "delta"):
            raise ValueError(f"Unsupported bookkeeping format '{data_format}'")
        super().__init__()
        self.spark = spark
        self.storage_path = path.rstrip("/")
        self.data_format = data_format
        self.records_path = f"{self.storage_path}/records"
        self.schemas_path = f"{self.storage_path}/schemas"
        self.refresh()

    # --- storage ---

    def _write_row(self, path: str, row: dict, schema: T.StructType) -> None:
        df = self.spark.createDataFrame([row], schema=schema)
        df.coalesce(1).write.format(self.data_format).mode("append").save(path)

    def _read_rows(self, path: str, schema: T.StructType) -> List[dict]:
        try:
            df = load_with_schema(self.spark, self.data_format, path, schema)
        except Exception:  # dataset not created yet
            return []
        return [row.asDict() for row in df.collect()]

    def _persist_chunk(self, chunk: DataChunk) -> None:
        self._write_row(
            self.records_path,
            {
                "table_name": chunk.table_name,
                "info_date": chunk.info_date,
                "input_record_count": int(chunk.input_record_count),
                "output_record_count": int(chunk.output_record_count),
                "job_started": float(chunk.job_started),
                "job_finished": float(chunk.job_finished),
                "batch_id": int(chunk.batch_id),
            },
            CHUNK_SCHEMA,
        )

    def _persist_schema(self, table: str, info_date: _dt.date, schema_json: str) -> None:
        self._write_row(
            self.schemas_path,
            {
                "table_name": table,
                "info_date": info_date.isoformat(),
                "schema_json": schema_json,
                "updated_at": time.time(),
            },
            SCHEMA_SCHEMA,
        )

    def refresh(self) -> None:
        """Re-read storage (picks up records written by other drivers)."""
        chunks = [
            DataChunk(
                table_name=r["table_name"],
                info_date=r["info_date"],
                input_record_count=r["input_record_count"],
                output_record_count=r["output_record_count"],
                job_started=r["job_started"],
                job_finished=r["job_finished"],
                batch_id=r["batch_id"] or 0,
            )
            for r in self._read_rows(self.records_path, CHUNK_SCHEMA)
        ]
        chunks.sort(key=lambda c: (c.info_date, c.job_finished))
        schema_rows = sorted(
            self._read_rows(self.schemas_path, SCHEMA_SCHEMA),
            key=lambda r: (r["info_date"], r["updated_at"]),
        )
        schemas: dict = {}
        for r in schema_rows:
            schemas.setdefault(r["table_name"], []).append((r["info_date"], r["schema_json"]))
        with self._lock:
            self._chunks = chunks
            self._schemas = schemas

    # --- maintenance ---

    def compact(self) -> int:
        """Rewrite both datasets as single-file snapshots; returns total rows.
        Safe only when no other driver is mid-write."""
        total = 0
        for path, schema in (
            (self.records_path, CHUNK_SCHEMA),
            (self.schemas_path, SCHEMA_SCHEMA),
        ):
            rows = self._read_rows(path, schema)  # materialized on the driver
            if not rows:
                continue
            out = self.spark.createDataFrame(rows, schema=schema)
            out.coalesce(1).write.format(self.data_format).mode("overwrite").save(path)
            total += len(rows)
        return total


JOURNAL_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("info_date", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("started", T.DoubleType()),
        T.StructField("finished", T.DoubleType()),
        T.StructField("records", T.LongType()),
        T.StructField("reason", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


class SparkJournal(Journal):
    """Run journal persisted as an append-only Spark dataset (Parquet or
    Delta), the counterpart of the reference's JournalHadoopDeltaPath /
    JournalHadoopCsv (core/.../journal/JournalHadoopDeltaPath.scala,
    JournalHadoopCsv.scala).

    Each task attempt appends one row; ``get_entries`` re-reads storage with
    a pushed-down time-range filter so concurrent drivers' entries are
    visible.  The dataset shares the bookkeeping location
    (``{bookkeeping.location}/journal``) and format, as in the reference.
    """

    def __init__(self, spark: SparkSession, path: str, data_format: str = "parquet"):
        if data_format not in ("parquet", "delta"):
            raise ValueError(f"Unsupported journal format '{data_format}'")
        super().__init__(path=None)
        self.spark = spark
        self.journal_path = path.rstrip("/")
        self.data_format = data_format

    def add(self, entry: JournalEntry) -> None:
        super().add(entry)  # keep the in-memory view for this driver's report
        row = {
            "table_name": entry.table_name,
            "info_date": entry.info_date,
            "status": entry.status,
            "started": float(entry.started),
            "finished": float(entry.finished),
            "records": int(entry.records),
            "reason": entry.reason or "",
            "error": entry.error or "",
        }
        df = self.spark.createDataFrame([row], schema=JOURNAL_SCHEMA)
        df.coalesce(1).write.format(self.data_format).mode("append").save(self.journal_path)

    def get_entries(self, from_ts: float, to_ts: float) -> List[JournalEntry]:
        """All drivers' entries in [from_ts, to_ts] — read from storage, with
        the range predicate pushed to the scan."""
        try:
            df = load_with_schema(self.spark, self.data_format, self.journal_path, JOURNAL_SCHEMA)
        except Exception:  # dataset not created yet
            return []
        rows = (
            df.where((df["finished"] >= float(from_ts)) & (df["finished"] <= float(to_ts)))
            .orderBy("finished")
            .collect()
        )
        return [
            JournalEntry(
                table_name=r["table_name"],
                info_date=r["info_date"],
                status=r["status"],
                started=r["started"],
                finished=r["finished"],
                records=r["records"],
                reason=r["reason"],
                error=r["error"],
            )
            for r in rows
        ]
