"""Training-shard sink: writes a curated corpus as N deterministic,
hash-assigned parquet shards — the export format a distributed training
job reads (one shard list per data-loader worker).

This is a beyond-the-reference extension (the reference's sinks end at
tables/CSV/Kafka; a training pipeline additionally needs sharded corpus
export). Shard membership is a pure function of the key
(operators/sampling.py::assign_shards), so re-running the pipeline never
moves an example between shards.

Scale: one shuffle, partitioned on the shard id, writes each shard's rows
as exactly one file per shard directory (``repartition(n, shard)`` +
``partitionBy(shard)``). Shards are uniform in expectation with
O(1/sqrt(rows_per_shard)) relative imbalance; per-file size is additionally
bounded by ``maxRecordsPerFile`` when set, letting giant shards split
rather than OOM a writer task.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pramen_spark.api import Sink
from pramen_spark.metastore.persistence import write_counted
from pramen_spark.operators.sampling import assign_shards


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str = "doc_id",
    shard_col: str = "shard_id",
    max_records_per_file: Optional[int] = None,
    mode: str = "overwrite",
) -> int:
    """Assign shards and write ``path/shard_id=K/`` parquet directories.
    Returns the number of rows THIS call wrote, counted on the write
    itself (``write_counted``), so ``mode='append'`` and an empty input
    count exactly."""
    sharded = assign_shards(df, n_shards, key_col=key_col, shard_col=shard_col)

    def write(out: DataFrame) -> None:
        writer = out.write.mode(mode).partitionBy(shard_col)
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.parquet(path)

    return write_counted(sharded.repartition(n_shards, F.col(shard_col)), write)


class ShardSink(Sink):
    """Options:
    - ``path``: output directory root (required); each info date writes to
      ``path/<table>/<info_date>/shard_id=K/``
    - ``shards``: number of shards (default 16)
    - ``key.column``: hash key (default ``doc_id``)
    - ``max.records.per.file``: optional per-file row cap
    """

    def send(
        self,
        df: DataFrame,
        table_name: str,
        info_date: _dt.date,
        options: Dict[str, Any],
    ) -> int:
        opts = {**self.options, **options}
        out = f"{opts['path']}/{table_name}/{info_date.isoformat()}"
        cap = opts.get("max.records.per.file")
        return write_training_shards(
            df,
            out,
            n_shards=int(opts.get("shards", 16)),
            key_col=opts.get("key.column", "doc_id"),
            max_records_per_file=int(cap) if cap is not None else None,
        )
