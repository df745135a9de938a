"""Counted write path: every metastore and sink write counts its rows on
the write itself (``persistence.write_counted``), not with a ``count()``
before it. Each path must return the rows it put on disk, return 0 for an
empty input without raising, and keep its file sizing."""

import datetime as dt
import glob
import json
import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from pramen_spark.config.models import DataFormat, PartitionInfo, TableConfig
from pramen_spark.metastore.persistence import ParquetPersistence, write_counted
from pramen_spark.sinks.cmd_line_sink import CmdLineSink
from pramen_spark.sinks.enceladus_sink import EnceladusSink
from pramen_spark.sinks.local_csv_sink import LocalCsvSink
from pramen_spark.sinks.spark_sink import SparkSink
from pramen_spark.sinks.standardization_sink import StandardizationSink

D = dt.date(2024, 1, 10)


@pytest.fixture(autouse=True)
def sink_staging_in_tmp_path(monkeypatch, tmp_path):
    """Sinks stage files with ``tempfile``; keep them under the test's dir."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))


def info_controls(out_dir):
    """recordCount control value of each checkpoint in ``out_dir/_INFO``."""
    with open(os.path.join(out_dir, "_INFO")) as f:
        return [c["controls"][0]["controlValue"] for c in json.load(f)["checkpoints"]]


def parquet_files(path):
    return glob.glob(os.path.join(path, "*.parquet"))


def events(spark, n=50):
    return spark.range(n).select(F.col("id"), (F.col("id") % 3).alias("k"))


def empty_inputs(spark):
    """The two empty shapes that once defeated an observe node: a filter
    Catalyst folds to an empty relation, and an empty local relation."""
    return {
        "filter_to_empty": events(spark).filter(F.col("id") < 0),
        "empty_local": spark.createDataFrame([], "id long, k long"),
    }


def persistence(spark, tmp_path, partition_info=None, save_mode=None):
    fmt = DataFormat.parquet(str(tmp_path / "t"), partition_info=partition_info or PartitionInfo())
    return ParquetPersistence(spark, TableConfig(name="t", format=fmt, save_mode=save_mode))


def spark_jobs_in(spark, fn):
    """Number of Spark jobs ``fn`` runs, from the status tracker."""
    sc = spark.sparkContext
    group = f"counted-write-probe-{uuid.uuid4()}"
    sc.setJobGroup(group, "count the jobs of one save")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestWriteCounted:
    @pytest.mark.parametrize("shape", ["filter_to_empty", "empty_local"])
    def test_empty_after_key_shuffle(self, spark, tmp_path, shape):
        # observed after the shuffle, the node survives pruning
        df = empty_inputs(spark)[shape].repartition(3, "k")
        assert write_counted(df, lambda d: d.write.parquet(str(tmp_path / "o"))) == 0


class TestParquetPersistence:
    def test_count_equals_rows_on_disk(self, spark, tmp_path):
        p = persistence(spark, tmp_path)
        res = p.save_table(events(spark).filter(F.col("k") == 1), D)
        assert res.records == res.records_appended == 17
        assert spark.read.parquet(p.partition_dir(D)).count() == 17

    @pytest.mark.parametrize("shape", ["filter_to_empty", "empty_local"])
    @pytest.mark.parametrize("info", [PartitionInfo(), PartitionInfo.explicit(3)])
    def test_empty_input_books_zero(self, spark, tmp_path, shape, info):
        res = persistence(spark, tmp_path, info).save_table(empty_inputs(spark)[shape], D)
        assert res.records == res.records_appended == 0

    def test_append_books_this_write_and_partition_total(self, spark, tmp_path):
        p = persistence(spark, tmp_path, save_mode="append")
        first = p.save_table(events(spark, 30), D)
        assert (first.records, first.records_appended) == (30, 30)
        second = p.save_table(events(spark, 12), D)
        assert (second.records, second.records_appended) == (42, 12)

    def test_per_record_count_sizing(self, spark, tmp_path):
        p = persistence(spark, tmp_path, PartitionInfo.per_record_count(20))
        assert p.save_table(events(spark, 50), D).records == 50
        assert len(parquet_files(p.partition_dir(D))) == 3

    def test_one_spark_job_without_sizing(self, spark, tmp_path):
        p = persistence(spark, tmp_path)
        df = events(spark, 40).filter(F.col("k") != 2)
        assert spark_jobs_in(spark, lambda: p.save_table(df, D)) == 1
        assert spark.read.parquet(p.partition_dir(D)).count() == 27


class TestOneJobPerSend:
    """A sink send without sizing is one Spark job: the write."""

    @pytest.mark.parametrize("make", [
        lambda spark, out: SparkSink(spark, {"path": out}),
        lambda spark, out: LocalCsvSink(spark, {"path": out}),
        lambda spark, out: EnceladusSink(spark, {"path": out, "format": "parquet"}),
        lambda spark, out: CmdLineSink(spark, {"cmd.line": "true", "format": "parquet"}),
    ], ids=["spark", "local_csv", "enceladus", "cmd_line"])
    def test_one_job(self, spark, tmp_path, make):
        sink = make(spark, str(tmp_path / "out"))
        df = events(spark, 40).filter(F.col("k") != 2)
        sent = []
        assert spark_jobs_in(spark, lambda: sent.append(sink.send(df, "t", D, {}))) == 1
        assert sent == [27]


class TestSparkSink:
    def test_count_equals_rows_on_disk(self, spark, tmp_path):
        out = str(tmp_path / "out")
        sink = SparkSink(spark, {"path": out, "partition.by": "k"})
        assert sink.send(events(spark).filter(F.col("id") < 20), "t", D, {}) == 20
        assert spark.read.parquet(out).count() == 20

    def test_save_as_table(self, spark):
        name = "counted_write_sink_probe"
        try:
            assert SparkSink(spark, {"table": name}).send(events(spark, 9), "t", D, {}) == 9
            assert spark.table(name).count() == 9
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    @pytest.mark.parametrize("shape", ["filter_to_empty", "empty_local"])
    def test_empty_input_with_partition_count(self, spark, tmp_path, shape):
        sink = SparkSink(spark, {"path": str(tmp_path / "out"), "number.of.partitions": 3})
        assert sink.send(empty_inputs(spark)[shape], "t", D, {}) == 0

    def test_save_empty_false_skips_empty_table(self, spark, tmp_path):
        out = str(tmp_path / "out")
        sink = SparkSink(spark, {"path": out, "save.empty": "false"})
        assert sink.send(empty_inputs(spark)["filter_to_empty"], "t", D, {}) == 0
        assert not os.path.exists(out)
        assert sink.send(events(spark, 5), "t", D, {}) == 5
        assert spark.read.parquet(out).count() == 5

    def test_records_per_partition_sizing(self, spark, tmp_path):
        out = str(tmp_path / "out")
        sink = SparkSink(spark, {"path": out, "records.per.partition": 20})
        assert sink.send(events(spark, 50), "t", D, {}) == 50
        assert len(parquet_files(out)) == 3


class TestLocalCsvSink:
    def test_count_equals_rows_in_file(self, spark, tmp_path):
        sink = LocalCsvSink(spark, {"path": str(tmp_path), "csv.header": "true"})
        assert sink.send(events(spark).filter(F.col("k") == 0), "t", D, {}) == 17
        [csv] = glob.glob(str(tmp_path / "t_2024-01-10_*.csv"))
        with open(csv) as f:
            assert len(f.read().splitlines()) == 1 + 17

    @pytest.mark.parametrize("shape", ["filter_to_empty", "empty_local"])
    def test_empty_input_sends_zero(self, spark, tmp_path, shape):
        sink = LocalCsvSink(spark, {"path": str(tmp_path)})
        assert sink.send(empty_inputs(spark)[shape], "t", D, {}) == 0


class TestEnceladusSink:
    @pytest.mark.parametrize("shape", ["filter_to_empty", "empty_local"])
    def test_empty_input_writes_zero_count(self, spark, tmp_path, shape):
        base = str(tmp_path / "lake")
        sink = EnceladusSink(spark, {"path": base, "format": "parquet"})
        assert sink.send(empty_inputs(spark)[shape], "t", D, {}) == 0
        assert info_controls(os.path.join(base, "2024/01/10/v1")) == ["0", "0"]

    def test_save_empty_false_skips_empty_table(self, spark, tmp_path):
        base = str(tmp_path / "lake")
        sink = EnceladusSink(spark, {"path": base, "format": "parquet", "save.empty": False})
        assert sink.send(empty_inputs(spark)["filter_to_empty"], "t", D, {}) == 0
        assert not os.path.exists(base)
        assert sink.send(events(spark, 4), "t", D, {}) == 4


class TestCmdLineSink:
    def test_format_write_counts_rows_on_disk(self, spark):
        sink = CmdLineSink(spark, {"cmd.line": "echo @dataPath", "format": "parquet"})
        assert sink.send(events(spark).filter(F.col("id") < 8), "t", D, {}) == 8
        assert spark.read.parquet(sink.last_output).count() == 8

    def test_format_write_empty_input(self, spark):
        sink = CmdLineSink(spark, {"cmd.line": "true", "format": "parquet"})
        assert sink.send(empty_inputs(spark)["empty_local"], "t", D, {}) == 0

    def test_without_format_counts_and_runs_command(self, spark):
        sink = CmdLineSink(spark, {"cmd.line": "echo @tableName @infoDate"})
        assert sink.send(events(spark, 6), "tbl", D, {}) == 6
        assert sink.last_output == "tbl 2024-01-10"


class TestStandardizationSink:
    def test_source_count_in_raw_info_file(self, spark, tmp_path):
        raw, pub = str(tmp_path / "raw"), str(tmp_path / "pub")
        sink = StandardizationSink(spark, {"raw.format": "parquet"})
        n = sink.send(events(spark).filter(F.col("k") == 1), "t", D,
                      {"raw.base.path": raw, "publish.base.path": pub})
        assert n == 17
        assert info_controls(os.path.join(raw, "2024/01/10/v1")) == ["17", "17"]

    def test_publish_only_books_written_rows(self, spark, tmp_path):
        pub = str(tmp_path / "pub")
        sink = StandardizationSink(spark, {"records.per.partition": 20})
        assert sink.send(events(spark, 50), "t", D, {"publish.base.path": pub}) == 50
        pub_dir = os.path.join(pub, "enceladus_info_date=2024-01-10/enceladus_info_version=1")
        assert len(parquet_files(pub_dir)) == 3
        assert info_controls(pub_dir) == ["50"] * 3

    @pytest.mark.parametrize("shape", ["filter_to_empty", "empty_local"])
    def test_empty_input_publishes_zero(self, spark, tmp_path, shape):
        sink = StandardizationSink(spark, {"raw.format": "parquet"})
        n = sink.send(empty_inputs(spark)[shape], "t", D,
                      {"raw.base.path": str(tmp_path / "raw"),
                       "publish.base.path": str(tmp_path / "pub")})
        assert n == 0
