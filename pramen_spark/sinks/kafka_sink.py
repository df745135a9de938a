"""Kafka sink: serialize rows and write via Spark's Kafka writer.

Reference: extras/.../sink/KafkaAvroSink.scala:121-170 +
extras/.../writer/TableWriterKafka.scala — packs all columns into a
struct, serializes (Avro with Schema Registry there), and writes with
``df.write.format("kafka")``.

Spark mapping: identical writer; serialization is ``to_json(struct(*))``
by default (no external packages) or ``to_avro`` when spark-avro is on
the classpath. The serialization step is pure DataFrame code and is
tested without a broker; only ``send`` needs the connector.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pramen_spark.api import Sink
from pramen_spark.metastore.persistence import write_counted
from pramen_spark.sources.kafka_source import kafka_available


def serialize_for_kafka(
    df: DataFrame,
    payload_format: str = "json",
    key_column: Optional[str] = None,
    avro_schema: Optional[str] = None,
) -> DataFrame:
    """(key, value) frame ready for the Kafka writer: value = all columns
    packed into one struct, serialized."""
    value_struct = F.struct(*[F.col(c) for c in df.columns])
    if payload_format == "json":
        value = F.to_json(value_struct)
    elif payload_format == "avro":
        try:
            from pyspark.sql.avro.functions import to_avro
        except ImportError as e:  # pragma: no cover - env without spark-avro
            raise RuntimeError("spark-avro is not available") from e
        value = to_avro(value_struct, avro_schema) if avro_schema else to_avro(value_struct)
    else:
        raise ValueError(f"Unknown payload format '{payload_format}'")
    cols = [value.cast("binary").alias("value")]
    if key_column:
        cols.insert(0, F.col(key_column).cast("string").cast("binary").alias("key"))
    return df.select(*cols)


class KafkaSink(Sink):
    """Options: ``kafka.bootstrap.servers``, ``topic``,
    ``payload.format`` (json|avro), ``key.column``, ``option.*``
    pass-through."""

    def send(
        self,
        df: DataFrame,
        table_name: str,
        info_date: _dt.date,
        options: Dict[str, Any],
    ) -> int:
        merged = {**self.options, **options}
        if not kafka_available(self.spark):
            raise RuntimeError(
                "The spark-sql-kafka connector is not on the classpath; add "
                "org.apache.spark:spark-sql-kafka-0-10_2.13 to spark.jars.packages"
            )
        out = serialize_for_kafka(
            df,
            merged.get("payload.format", "json"),
            merged.get("key.column"),
            merged.get("avro.schema"),
        )
        writer_opts = {k[len("option.") :]: v for k, v in merged.items() if k.startswith("option.")}
        return write_counted(
            out,
            lambda d: d.write.format("kafka")
            .option("kafka.bootstrap.servers", merged["kafka.bootstrap.servers"])
            .option("topic", merged["topic"])
            .options(**writer_opts)
            .save(),
        )
