"""Standardization sink: raw + publish data-lake layers with Enceladus
standardization columns.

Reference: extras/.../sink/StandardizationSink.scala:155-380 and
extras/.../sink/StandardizationConfig.scala — writes the DataFrame to a
*raw* folder (verbatim format, partition pattern
``{year}/{month}/{day}/v{version}``), then "standardizes" it into a
*publish* folder (parquet or delta) partitioned by
``enceladus_info_date={date}/enceladus_info_version={version}``, adding
three columns (info date as date, info date as string, info version as
int), generating ``_INFO`` control files for both layers.

Scale notes: the publish write is a plain partition-scoped parquet/delta
overwrite, so at cluster scale each run touches exactly one
``(info_date, version)`` partition; ``records.per.partition`` controls
output file sizing the same way the reference does
(StandardizationSink.scala ``repartitionIfNeeded``).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from typing import Any, Dict, Optional

from pyspark.sql import DataFrame, functions as F

from pramen_spark.api import Sink
from pramen_spark.metastore.persistence import repartition_by_records, write_counted
from pramen_spark.metastore.schema_cache import read_parquet, remember
from pramen_spark.sinks.enceladus_sink import build_info_file

DEFAULT_RAW_PATTERN = "{year}/{month}/{day}/v{version}"
DEFAULT_PUBLISH_PATTERN = "{info_date_column}={year}-{month}-{day}/{info_version_column}={version}"


def render_partition_pattern(
    pattern: str,
    info_date: _dt.date,
    version: int,
    info_date_column: str,
    info_version_column: str,
) -> str:
    """Expand ``{year}/{month}/{day}/{version}`` tokens plus the column-name
    tokens used by Hive-style publish layouts
    (extras/.../utils/PartitionUtils.scala ``unpackCustomPartitionPattern``)."""
    return pattern.format(
        year=info_date.year,
        month=f"{info_date.month:02d}",
        day=f"{info_date.day:02d}",
        version=version,
        info_date_column=info_date_column,
        info_version_column=info_version_column,
    )


class StandardizationSink(Sink):
    """Options (reference defaults in StandardizationConfig.scala):

    - ``publish.base.path`` (per-table, required): publish layer base dir
    - ``raw.base.path`` (per-table, optional): raw layer base dir
    - ``info.version``: publish version (default 1)
    - ``raw.format``: Spark format for the raw layer (default ``json``)
    - ``publish.format``: ``parquet`` (default) or ``delta``
    - ``raw.partition.pattern`` / ``publish.partition.pattern``
    - ``info.date.column`` (default ``enceladus_info_date``),
      ``info.date.str.column`` (default ``enceladus_info_date_string``),
      ``info.version.column`` (default ``enceladus_info_version``)
    - ``records.per.partition``: output repartition sizing
    - ``info.file.generate``: bool (default True)
    """

    def _cfg(self, merged: Dict[str, Any]):
        return (
            merged.get("info.date.column", "enceladus_info_date"),
            merged.get("info.date.str.column", "enceladus_info_date_string"),
            merged.get("info.version.column", "enceladus_info_version"),
        )

    def _add_extra_fields(
        self, df: DataFrame, info_date: _dt.date, version: int, merged: Dict[str, Any]
    ) -> DataFrame:
        date_col, str_col, ver_col = self._cfg(merged)
        return (
            df.withColumn(str_col, F.lit(info_date.isoformat()))
            .withColumn(date_col, F.lit(info_date.isoformat()).cast("date"))
            .withColumn(ver_col, F.lit(version))
        )

    def send(
        self,
        df: DataFrame,
        table_name: str,
        info_date: _dt.date,
        options: Dict[str, Any],
    ) -> int:
        merged = {**self.options, **options}
        publish_base = merged["publish.base.path"]
        version = int(merged.get("info.version", 1))
        date_col, _str_col, ver_col = self._cfg(merged)
        publish_pattern = merged.get("publish.partition.pattern", DEFAULT_PUBLISH_PATTERN)
        # Partition columns mirror the reference: include the version column
        # only when the publish layout is versioned.
        partition_by = (
            [date_col, ver_col]
            if (ver_col in publish_pattern or "{info_version_column}" in publish_pattern)
            else [date_col]
        )

        rpp = merged.get("records.per.partition")
        if rpp:
            df = repartition_by_records(df, int(rpp))
        decorated = self._add_extra_fields(df, info_date, version, merged)

        # The source count is taken on the first write of the source rows:
        # the raw layer when there is one, else the publish layer. The raw
        # and publish counts are control values read back after each write.
        spark = df.sparkSession
        raw_df = decorated
        raw_base = merged.get("raw.base.path")
        if raw_base:
            raw_pattern = merged.get("raw.partition.pattern", DEFAULT_RAW_PATTERN)
            raw_path = os.path.join(
                raw_base,
                render_partition_pattern(raw_pattern, info_date, version, date_col, ver_col),
            )
            raw_fmt = merged.get("raw.format", "json")
            source_count = write_counted(
                decorated.drop(*partition_by),
                lambda d: d.write.mode("overwrite").format(raw_fmt).save(raw_path),
            )
            raw_df = self._add_extra_fields(
                spark.read.format(raw_fmt).load(raw_path), info_date, version, merged
            )
            raw_count = raw_df.count()
            self._write_info_file(raw_path, table_name, info_date, version,
                                  source_count, raw_count, None, merged)

        publish_fmt = merged.get("publish.format", "parquet")
        publish_path = os.path.join(
            publish_base,
            render_partition_pattern(publish_pattern, info_date, version, date_col, ver_col),
        )
        if publish_fmt == "delta":
            replace_where = f"{date_col}='{info_date.isoformat()}'"
            if ver_col in partition_by:
                replace_where += f" AND {ver_col}={version}"
            written = write_counted(
                raw_df,
                lambda d: d.write.format("delta")
                .mode("overwrite")
                .partitionBy(*partition_by)
                .option("mergeSchema", "true")
                .option("replaceWhere", replace_where)
                .save(publish_base),
            )
            publish_count = (
                spark.read.format("delta")
                .load(publish_base)
                .filter(F.expr(replace_where.replace("AND", "AND ")))
                .count()
            )
            info_dir = publish_base
        else:
            publish_df = raw_df.drop(*partition_by)
            written = write_counted(
                publish_df, lambda d: d.write.mode("overwrite").parquet(publish_path)
            )
            remember(spark, publish_path, publish_df.schema)
            publish_count = read_parquet(spark, publish_path).count()
            info_dir = publish_path
        if not raw_base:
            source_count = raw_count = written
        self._write_info_file(info_dir, table_name, info_date, version,
                              source_count, raw_count, publish_count, merged)
        return publish_count

    def _write_info_file(
        self,
        out_dir: str,
        table_name: str,
        info_date: _dt.date,
        version: int,
        source_count: int,
        raw_count: int,
        publish_count: Optional[int],
        merged: Dict[str, Any],
    ) -> None:
        if not merged.get("info.file.generate", True):
            return
        info = build_info_file(
            table_name,
            info_date,
            version,
            raw_count,
            source_application=merged.get("info.file.source.application", "pramen_spark"),
            country=merged.get("info.file.country", ""),
            history_type=merged.get("info.file.history.type", "Snapshot"),
        )
        # Reference adds a Standardization checkpoint on the publish layer
        # (InfoFileGeneration.scala): same shape, publish-count control.
        if publish_count is not None:
            std = json.loads(json.dumps(info["checkpoints"][0]))
            std["name"] = "Standardization Finish"
            std["controls"][0]["controlValue"] = str(publish_count)
            info["checkpoints"].append(std)
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "_INFO"), "w") as f:
            json.dump(info, f, indent=2)
