"""Generic Spark sink: ``df.write.format(F).mode(M).partitionBy(...)``
with output repartitioning.

Reference: core/.../sink/SparkSink.scala:127-180 (records.per.partition
sizing at SparkSink.scala:53-54).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Dict

from pyspark.sql import DataFrame

from pramen_spark.api import Sink
from pramen_spark.metastore.persistence import repartition_by_records, write_counted


class SparkSink(Sink):
    """Options:
    - ``format`` (default parquet), ``mode`` (default overwrite)
    - ``path`` or ``table``
    - ``partition.by``: comma-separated partition columns
    - ``number.of.partitions`` or ``records.per.partition``
    - ``save.empty`` (default true)
    - any ``option.*``: writer options
    """

    def send(self, df: DataFrame, table_name: str, info_date: _dt.date, options: Dict[str, Any]) -> int:
        opts = {**self.options, **options}
        fmt = opts.get("format", "parquet")
        mode = opts.get("mode", "overwrite")

        if str(opts.get("save.empty", "true")).lower() != "true" and df.isEmpty():
            return 0

        n_partitions = opts.get("number.of.partitions")
        rpp = opts.get("records.per.partition")
        if n_partitions is not None:
            df = df.repartition(int(n_partitions))
        elif rpp is not None:
            df = repartition_by_records(df, int(rpp))

        path = opts.get("path")
        if path is None and "table" not in opts:
            raise ValueError("SparkSink requires 'path' or 'table' option")
        if path is not None and str(opts.get("partition.by.info.date", "false")).lower() == "true":
            path = f"{path}/{info_date.isoformat()}"

        part_cols = [c.strip() for c in str(opts.get("partition.by", "")).split(",") if c.strip()]
        writer_opts = {k[len("option.") :]: v for k, v in opts.items() if k.startswith("option.")}

        def write(out: DataFrame) -> None:
            writer = out.write.format(fmt).mode(mode).options(**writer_opts)
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            if path is not None:
                writer.save(path)
            else:
                writer.saveAsTable(opts["table"])

        return write_counted(df, write)
