"""The parquet schema cache (``metastore/schema_cache.py``): one
fingerprint-keyed cache serves every parquet read of the package, and
metastore overwrites fill it with the schema they wrote, so a read of a
known partition runs no Spark job before its plan executes."""

import datetime as dt
import decimal
import os
import sys
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pramen_spark.config.models import (
    DEFAULT_INFO_DATE_COLUMN,
    CachePolicy,
    DataFormat,
    TableConfig,
)
from pramen_spark.metastore import schema_cache
from pramen_spark.metastore.persistence import ParquetPersistence, TransientTableManager
from pramen_spark.metastore.schema_cache import (
    SchemaCache,
    cache_key,
    fingerprint,
    parquet_schema,
    read_parquet,
)
from pramen_spark.queries.base import load_table
from pramen_spark.runner.spark_bookkeeper import SparkBookkeeper
from pramen_spark.sources.spark_source import SparkSource

D = dt.date(2024, 1, 10)
NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def spark_jobs_in(spark, fn):
    """Number of Spark jobs ``fn`` runs, from the status tracker."""
    sc = spark.sparkContext
    group = f"schema-cache-probe-{uuid.uuid4()}"
    sc.setJobGroup(group, "count the jobs of one read")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def persistence(spark, tmp_path, name="t"):
    fmt = DataFormat.parquet(str(tmp_path / name))
    return ParquetPersistence(spark, TableConfig(name=name, format=fmt))


def type_matrix(spark):
    """One row over the types whose parquet round trip is easy to get
    wrong, with non-nullable fields, field metadata and a name that needs
    backticks."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False, {"comment": "row id"}),
            T.StructField("ts", T.TimestampType()),
            T.StructField("ts_ntz", T.TimestampNTZType(), False),
            T.StructField("amount", T.DecimalType(38, 18)),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("sku", T.StringType(), False),
                            T.StructField("qty", T.IntegerType()),
                        ]
                    ),
                    False,
                ),
            ),
            T.StructField(
                "tags", T.MapType(T.StringType(), T.ArrayType(T.IntegerType(), False), False)
            ),
            T.StructField("a b.c", T.StringType()),
            T.StructField(DEFAULT_INFO_DATE_COLUMN, T.DateType()),
        ]
    )
    row = (
        1,
        dt.datetime(2024, 1, 10, 12, 30),
        dt.datetime(2024, 1, 10, 8, 0),
        decimal.Decimal("12345678901234567890.123456789012345678"),
        [("a", 2), ("b", None)],
        {"k": [1, 2]},
        "x",
        D,
    )
    return spark.createDataFrame([row], schema)


class TestFilledOnWrite:
    def test_filled_schema_equals_inferred(self, spark, tmp_path):
        p = persistence(spark, tmp_path)
        p.save_table(type_matrix(spark), D)
        out = p.partition_dir(D)
        filled = schema_cache.SCHEMAS.get(cache_key(spark, out, {}))
        inferred = spark.read.parquet(out).schema
        assert filled is not None
        assert filled == inferred
        assert filled.json() == inferred.json()
        assert DEFAULT_INFO_DATE_COLUMN not in filled.fieldNames()
        assert filled["id"].metadata == {"comment": "row id"}

    def test_append_fills_nothing(self, spark, tmp_path):
        fmt = DataFormat.parquet(str(tmp_path / "t"))
        p = ParquetPersistence(spark, TableConfig(name="t", format=fmt, save_mode="append"))
        p.save_table(spark.range(3), D)
        p.save_table(spark.range(3).withColumn("extra", F.lit(1)), D)
        assert read_parquet(spark, p.partition_dir(D)).schema == spark.read.parquet(
            p.partition_dir(D)
        ).schema

    def test_range_read_matches_inferred(self, spark, tmp_path):
        p = persistence(spark, tmp_path)
        for day in (D, D + dt.timedelta(days=1)):
            p.save_table(spark.range(4).withColumn("v", F.col("id") * 2), day)
        got = p.load_table(D, D + dt.timedelta(days=1))
        inferred = spark.read.option("basePath", p.path).parquet(p.path)
        assert got.schema == inferred.schema
        assert sorted(got.collect()) == sorted(inferred.collect())


class TestNoInferenceJob:
    def test_metastore_read_after_save(self, spark, tmp_path):
        p = persistence(spark, tmp_path)
        p.save_table(spark.range(5).withColumn("v", F.col("id") + 1), D)
        got = []
        assert spark_jobs_in(spark, lambda: got.append(p.load_table(D, D))) == 0
        assert got[0].count() == 5
        assert got[0].columns == ["id", "v", DEFAULT_INFO_DATE_COLUMN]

    def test_repeat_spark_source_read(self, spark, tmp_path):
        landing = str(tmp_path / "landing")
        spark.range(6).write.parquet(landing)
        src = SparkSource(spark, {"format": "parquet"})
        src.get_data(landing, D, D)  # first read infers and fills
        got = []
        assert spark_jobs_in(spark, lambda: got.append(src.get_data(landing, D, D))) == 0
        assert got[0].count() == 6

    def test_persist_read_back_uses_written_schema(self, spark, tmp_path):
        tm = TransientTableManager(spark, str(tmp_path))
        df = spark.range(5).withColumn("v", F.col("id") * 3)
        # one job: the write; the read-back infers nothing
        assert spark_jobs_in(spark, lambda: tm.add_table("t", D, df, CachePolicy.PERSIST)) == 1
        back = tm.get_table("t", D)
        assert back.schema == spark.read.parquet(str(tmp_path / "transient_t_2024-01-10")).schema
        assert back.count() == 5

    def test_bookkeeper_reads_with_its_schema(self, spark, tmp_path):
        path = str(tmp_path / "bk")
        bk = SparkBookkeeper(spark, path)
        bk.set_record_count("t", D, 10, 9, 1.0, 2.0, batch_id=1)
        bk.save_schema("t", D, '{"type": "struct", "fields": []}')
        # two jobs: the collect of each dataset, no inference before them
        assert spark_jobs_in(spark, bk.refresh) == 2
        assert bk.get_latest_data_chunk("t", D).output_record_count == 9
        assert SparkBookkeeper(spark, str(tmp_path / "absent")).get_latest_data_chunk("t", D) is None


class TestInvalidation:
    def test_part_file_rewritten_in_place(self, spark, tmp_path):
        """A part file rewritten under the same name, with a column added,
        must not be served the old schema."""
        table_dir = tmp_path / "t.parquet"
        table_dir.mkdir()
        part = str(table_dir / "part-0.parquet")
        pq.write_table(pa.table({"a": [1, 2]}), part)
        assert load_table(spark, str(tmp_path), "t").columns == ["a"]
        pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), part)
        df = load_table(spark, str(tmp_path), "t")
        assert df.columns == ["a", "b"]
        assert sorted(df.collect()) == [(1, "x"), (2, "y")]

    def test_infer_timestamp_ntz_conf_is_in_the_key(self, spark, tmp_path):
        """A tz-less TIMESTAMP(MICROS) column infers as timestamp_ntz or
        timestamp depending on session conf; an entry inferred under one
        value is never served under the other."""
        pq.write_table(
            pa.table({"ts": pa.array([dt.datetime(2024, 1, 10)], type=pa.timestamp("us"))}),
            str(tmp_path / "t.parquet"),
        )
        ntz, ltz = spark.newSession(), spark.newSession()
        ntz.conf.set(NTZ_CONF, "true")
        ltz.conf.set(NTZ_CONF, "false")
        assert dict(load_table(ntz, str(tmp_path), "t").dtypes)["ts"] == "timestamp_ntz"
        assert dict(load_table(ltz, str(tmp_path), "t").dtypes)["ts"] == "timestamp"
        assert dict(load_table(ntz, str(tmp_path), "t").dtypes)["ts"] == "timestamp_ntz"

    def test_fingerprint_skips_hidden_and_underscore_files(self, tmp_path):
        d = tmp_path / "d"
        (d / "_temporary").mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
        before = fingerprint(str(d))
        (d / "_SUCCESS").write_bytes(b"")
        (d / ".part-0.parquet.crc").write_bytes(b"c")
        (d / "_temporary" / "part-1.parquet").write_bytes(b"y")
        assert fingerprint(str(d)) == before
        assert [f[0] for f in before] == ["part-0.parquet"]

    def test_missing_or_non_local_path_bypasses(self, spark, tmp_path):
        assert cache_key(spark, str(tmp_path / "absent"), {}) is None
        assert cache_key(spark, "s3a://bucket/table", {}) is None
        local = str(tmp_path / "x")
        spark.range(1).write.parquet(local)
        assert cache_key(spark, "file://" + local, {}) == cache_key(spark, local, {})

    def test_non_local_path_falls_back_to_inference(self, spark, tmp_path):
        """A path on another file system (here a Hadoop view file system
        mounted on a local directory) is inferred as a plain read does and
        leaves no entry."""
        local = str(tmp_path / "data")
        spark.range(4).withColumn("v", F.lit("a")).write.parquet(local)
        mount = f"schemacache{uuid.uuid4().hex[:8]}"
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        hconf.set(f"fs.viewfs.mounttable.{mount}.link./data", "file://" + local)
        path = f"viewfs://{mount}/data"
        before = len(schema_cache.SCHEMAS)
        df = read_parquet(spark, path)
        assert df.columns == ["id", "v"]
        assert df.count() == 4
        assert parquet_schema(spark, path) == spark.read.parquet(local).schema
        assert len(schema_cache.SCHEMAS) == before


class TestConcurrency:
    def test_lru_bound_and_order(self):
        cache = SchemaCache(capacity=2)
        s = T.StructType([T.StructField("a", T.LongType())])
        cache.put(("a",), s)
        cache.put(("b",), s)
        assert cache.get(("a",)) is s  # a is now the most recent
        cache.put(("c",), s)
        assert cache.get(("b",)) is None
        assert cache.get(("a",)) is s and cache.get(("c",)) is s
        assert len(cache) == 2

    def test_eight_threads_one_session(self, spark, tmp_path, monkeypatch):
        """8 threads read 12 tables through a cache capped at 4 entries on
        one session: every read gets its own table's schema and the cache
        never holds more than its cap."""
        cache = SchemaCache(capacity=4)
        monkeypatch.setattr(schema_cache, "SCHEMAS", cache)
        paths = []
        for i in range(12):
            path = str(tmp_path / f"t{i}")
            pq.write_table(pa.table({f"c{i}": [i]}), os.path.join(path + ".parquet"))
            paths.append(path + ".parquet")
        sizes = []

        def read(n):
            i = n % len(paths)
            cols = read_parquet(spark, paths[i]).columns
            sizes.append(len(cache))
            return i, cols

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(max_workers=8) as pool:
                futures = [pool.submit(read, n) for n in range(48)]
                results = [f.result(timeout=120) for f in futures]
        finally:
            sys.setswitchinterval(old)
        assert len(results) == 48
        assert all(cols == [f"c{i}"] for i, cols in results)
        assert max(sizes) <= 4 and len(cache) <= 4

    def test_put_get_stress(self):
        cache = SchemaCache(capacity=16)
        s = T.StructType([T.StructField("a", T.LongType())])
        errors = []

        def churn(t):
            try:
                for k in range(2000):
                    cache.put((t, k % 40), s)
                    cache.get((t, (k * 7) % 40))
                    assert len(cache) <= 16
            except Exception as e:  # surfaced below
                errors.append(e)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            threads = [threading.Thread(target=churn, args=(t,)) for t in range(8)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not any(th.is_alive() for th in threads)
        assert not errors
        assert len(cache) == 16
