"""Spark-dataset-backed offset ledger (Parquet or Delta).

Persistent counterpart of :class:`pramen_spark.offsets.ledger.OffsetLedger`
(reference: core/.../bookkeeper/OffsetManagerJdbc.scala:36-91 — there a JDBC
table with uncommitted-row cleanup; here an append-only event dataset).

Design for concurrent drivers on a shared filesystem / object store:

- Every ledger operation (start / commit / rollback) is appended as ONE event
  row.  Parquet appends create uniquely-named part files, so two drivers never
  clobber each other's events; with ``data_format="delta"`` the append is an
  ACID transaction on top of that.
- State is the left-fold of all events ordered by the monotonic ``seq``
  column (``time.time_ns()``) — the same fold the JSONL backend uses for its
  line order.  Cross-driver clock skew only matters for events of the SAME
  (table, info_date, batch_id) transaction, which are always produced by one
  driver sequentially.
- Query methods re-read the dataset first, so a driver sees transactions
  committed by other drivers after this ledger was opened.

The event dataset is tiny (a few rows per task run, not per data row), so the
per-query refresh is a sub-second scan even after years of daily runs;
``compact()`` folds the event log into a single file when the small-file
count grows.
"""

from __future__ import annotations

import time
from typing import List

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from pramen_spark.metastore.schema_cache import load_with_schema
from pramen_spark.offsets.ledger import OffsetLedger, OffsetRecord, _fold_events

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("info_date", T.StringType()),
        T.StructField("offset_type", T.StringType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("created_at", T.DoubleType()),
        T.StructField("committed_at", T.DoubleType()),
        T.StructField("min_offset", T.StringType()),
        T.StructField("max_offset", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)

_FIELDS = [f.name for f in EVENT_SCHEMA.fields]


class SparkOffsetLedger(OffsetLedger):
    """Offset ledger persisted as an append-only Spark dataset.

    ``data_format`` is ``"parquet"`` (default) or ``"delta"`` (requires the
    delta-spark runtime on the cluster, like the metastore's Delta format).
    """

    def __init__(self, spark: SparkSession, path: str, data_format: str = "parquet"):
        if data_format not in ("parquet", "delta"):
            raise ValueError(f"Unsupported ledger format '{data_format}'")
        self.spark = spark
        self.storage_path = path
        self.data_format = data_format
        super().__init__(path=None)
        self.refresh()

    # --- storage ---

    def _append(self, op: str, rec: dict) -> None:
        row = {name: rec.get(name) for name in _FIELDS}
        row["op"] = op
        if row.get("batch_id") is not None:
            row["batch_id"] = int(row["batch_id"])
        row["seq"] = time.time_ns()
        df = self.spark.createDataFrame([row], schema=EVENT_SCHEMA)
        df.coalesce(1).write.format(self.data_format).mode("append").save(self.storage_path)

    def _read_events(self) -> List[dict]:
        try:
            df = load_with_schema(self.spark, self.data_format, self.storage_path, EVENT_SCHEMA)
        except Exception:  # dataset not created yet
            return []
        rows = df.orderBy("seq").collect()
        return [row.asDict() for row in rows]

    def refresh(self) -> None:
        """Re-read the event dataset (picks up other drivers' commits)."""
        records = _fold_events(self._read_events())
        with self._lock:
            # keep identity of records already referenced by in-flight
            # transactions in this process: merge by key, ours win
            ours = {(r.table_name, r.info_date, r.batch_id): r for r in self._records}
            merged: List[OffsetRecord] = []
            seen = set()
            for rec in records:
                key = (rec.table_name, rec.info_date, rec.batch_id)
                merged.append(ours.get(key, rec))
                seen.add(key)
            for key, rec in ours.items():
                if key not in seen and rec.committed_at is None:
                    # started in this process, event may not be visible yet
                    merged.append(rec)
            self._records = merged

    # --- queries (refresh-first so concurrent drivers are visible) ---

    def get_offsets(self, table: str, info_date=None) -> List[OffsetRecord]:
        self.refresh()
        return super().get_offsets(table, info_date)

    def get_uncommitted(self, table: str) -> List[OffsetRecord]:
        self.refresh()
        return super().get_uncommitted(table)

    # --- maintenance ---

    def compact(self) -> int:
        """Fold the event log into a single-file snapshot; returns the number
        of events retained.  Safe only when no other driver is mid-write."""
        events = self._read_events()  # already materialized on the driver
        if not events:
            return 0
        out = self.spark.createDataFrame(
            [{name: e.get(name) for name in _FIELDS} for e in events],
            schema=EVENT_SCHEMA,
        )
        out.coalesce(1).write.format(self.data_format).mode("overwrite").save(
            self.storage_path
        )
        return len(events)
