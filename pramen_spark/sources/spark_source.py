"""Spark file/catalog source: any Spark-readable format + optional DDL
schema + info-date range filtering.

Reference: core/.../reader/TableReaderSpark.scala:32-231 and
core/.../source/SparkSource.scala. The date filter is applied as a Catalyst
predicate so partition pruning / pushdown reach the file scan.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pramen_spark.api import Source
from pramen_spark.metastore.schema_cache import read_parquet


class SparkSource(Source):
    """Options:
    - ``format``: csv/json/parquet/delta/... (default parquet)
    - ``schema``: optional DDL string
    - ``has.information.date.column``: bool
    - ``information.date.column``: source column with the info date
    - ``information.date.type``: date | datetime | string
    - ``information.date.format``: java pattern for string-typed columns
    - any ``option.*`` entries are passed to the reader

    A parquet read without a ``schema`` takes the schema from
    ``metastore.schema_cache``: inferring it is a Spark job, run once per
    state of the files instead of once per read (the pre-run count read
    and the run read of each task).
    """

    def __init__(self, spark: SparkSession, options: Optional[Dict[str, Any]] = None):
        super().__init__(spark, options)
        self.format = self.options.get("format", "parquet")
        self.info_date_column = self.options.get("information.date.column")
        self.info_date_type = self.options.get("information.date.type", "date")
        self.info_date_format = self.options.get("information.date.format", "yyyy-MM-dd")

    def has_info_date_column(self) -> bool:
        return bool(self.options.get("has.information.date.column", self.info_date_column))

    def _read(self, query: Any) -> DataFrame:
        if isinstance(query, dict) and "table" in query:
            return self.spark.table(query["table"])
        path = query["path"] if isinstance(query, dict) else str(query)
        reader_options = {
            k[len("option.") :]: v for k, v in self.options.items() if k.startswith("option.")
        }
        if self.format == "parquet" and not self.options.get("schema"):
            return read_parquet(self.spark, path, reader_options)
        reader = self.spark.read.format(self.format).options(**reader_options)
        if self.options.get("schema"):
            reader = reader.schema(self.options["schema"])
        return reader.load(path)

    def _date_col(self) -> F.Column:
        col = F.col(self.info_date_column)
        if self.info_date_type == "datetime":
            return F.to_date(col)
        if self.info_date_type == "string":
            # convert the java-style pattern to Spark's (same token set)
            return F.to_date(col, self.info_date_format)
        return col

    def get_data(self, query: Any, date_from: _dt.date, date_to: _dt.date) -> DataFrame:
        df = self._read(query)
        if self.has_info_date_column() and self.info_date_column:
            d = self._date_col()
            df = df.filter(
                d.between(
                    F.lit(date_from.isoformat()).cast("date"),
                    F.lit(date_to.isoformat()).cast("date"),
                )
            )
        return df

    def get_data_incremental(self, query, info_date, offset_from, offset_to) -> DataFrame:
        from pramen_spark.sql.generators import offset_raw_value

        offset_col = self.options.get("offset.column")
        if not offset_col:
            raise ValueError("Incremental reads require option 'offset.column'")
        offset_from = offset_raw_value(offset_from)
        offset_to = offset_raw_value(offset_to)
        df = self._read(query)
        if info_date is not None and self.has_info_date_column() and self.info_date_column:
            d = self._date_col()
            df = df.filter(d == F.lit(info_date.isoformat()).cast("date"))
        col = F.col(offset_col)
        if offset_from is not None and offset_to is not None:
            df = df.filter((col >= F.lit(offset_from)) & (col <= F.lit(offset_to)))
        elif offset_from is not None:
            df = df.filter(col > F.lit(offset_from))
        elif offset_to is not None:
            df = df.filter(col <= F.lit(offset_to))
        return df
