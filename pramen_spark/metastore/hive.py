"""Hive / Spark-catalog synchronization for metastore tables.

Reference: Pramen registers each metastore table in Hive so BI tools can
query it (`hive.table` / `hive.path` in MetaTableDef, HiveHelper with
CREATE EXTERNAL TABLE + MSCK REPAIR templates, and
SparkUtils.transformSchemaForCatalog for catalog-safe schemas).

Spark-first: the catalog IS Spark's catalog (works against the built-in
in-memory catalog locally and a real Hive metastore on a cluster via
enableHiveSupport). Two strategies, matching the reference's
`hive.api = sql|spark_catalog`:

- ``sync_sql``: emit/execute `CREATE EXTERNAL TABLE` + `MSCK REPAIR
  TABLE` DDL strings (for a JDBC connection to HiveServer2; here they are
  returned so a deployment can route them).
- ``sync_catalog``: `spark.sql("CREATE TABLE ... USING PARQUET ...
  LOCATION ...")` + partition recovery — the path exercised in tests.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from pramen_spark.config.models import TableConfig
from pramen_spark.metastore.schema_cache import read_parquet


def escape_identifier(name: str) -> str:
    return f"`{name}`" if not name.startswith("`") else name


def full_table_name(database: Optional[str], table: str) -> str:
    if database:
        return f"{escape_identifier(database)}.{escape_identifier(table)}"
    return escape_identifier(table)


def transform_schema_for_catalog(schema: T.StructType) -> T.StructType:
    """Catalog-safe schema (SparkUtils.transformSchemaForCatalog):
    drop non-nullable flags (Hive treats everything nullable) and strip
    metadata/comments containing unsafe characters."""
    fields = []
    for f in schema.fields:
        comment = f.metadata.get("comment") if f.metadata else None
        metadata = {}
        if comment is not None:
            metadata["comment"] = str(comment).replace("'", " ").replace("\n", " ")
        fields.append(T.StructField(f.name, f.dataType, nullable=True, metadata=metadata))
    return T.StructType(fields)


def create_table_ddl(
    table: TableConfig,
    schema: T.StructType,
    database: Optional[str] = None,
    hive_table: Optional[str] = None,
) -> List[str]:
    """DDL statements for the `sql` strategy: DROP+CREATE EXTERNAL TABLE
    partitioned by the info date column, then MSCK REPAIR."""
    name = full_table_name(database, hive_table or table.name)
    part_col = table.info_date_column
    cat_schema = transform_schema_for_catalog(schema)
    data_cols = ",\n  ".join(
        f"{escape_identifier(f.name)} {f.dataType.simpleString()}"
        for f in cat_schema.fields
        if f.name != part_col
    )
    return [
        f"DROP TABLE IF EXISTS {name}",
        (
            f"CREATE EXTERNAL TABLE {name} (\n  {data_cols}\n)\n"
            f"PARTITIONED BY ({escape_identifier(part_col)} DATE)\n"
            f"STORED AS PARQUET\nLOCATION '{table.format.path}'"
        ),
        f"MSCK REPAIR TABLE {name}",
    ]


def sync_catalog(
    spark: SparkSession,
    table: TableConfig,
    database: Optional[str] = None,
    hive_table: Optional[str] = None,
    force_recreate: bool = False,
) -> str:
    """Register (or refresh) the table in Spark's catalog pointing at the
    metastore path and recover its date partitions. Returns the catalog
    table name.

    When the table already exists it is only repaired (new partitions
    picked up); ``force_recreate=True`` drops and recreates it first —
    needed after a schema change (reference:
    ``--force-recreate-hive-tables``, CmdLineConfig.scala)."""
    name = full_table_name(database, hive_table or table.name)
    bare = name.replace("`", "")
    exists = spark.catalog.tableExists(bare)
    if exists and not force_recreate:
        repair_table(spark, name)
        return name
    df = read_parquet(
        spark,
        table.format.path,
        # union schema across partitions, not one sampled file
        {"basePath": table.format.path, "mergeSchema": "true"},
    )
    cat_schema = transform_schema_for_catalog(df.schema)
    part_col = table.info_date_column
    cols = ", ".join(
        f"{escape_identifier(f.name)} {f.dataType.simpleString()}"
        for f in cat_schema.fields
        if f.name != part_col
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({cols}, {escape_identifier(part_col)} DATE) "
        f"USING PARQUET PARTITIONED BY ({escape_identifier(part_col)}) "
        f"LOCATION '{table.format.path}'"
    )
    repair_table(spark, name)
    return name


def repair_table(spark: SparkSession, name: str) -> None:
    """Partition recovery (MSCK REPAIR TABLE equivalent)."""
    spark.sql(f"MSCK REPAIR TABLE {name}")
