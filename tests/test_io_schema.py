"""``engine.io.parquet_schema``: the footer-read schema equals the one
Spark's parquet inference returns, and registering a scale's tables
launches no Spark job."""
import datetime
import os

import pyarrow as pa
import pyarrow.parquet as papq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException

from engine.io import TABLES, load_tables, parquet_schema
from engine.queries.streaming_q import _link_table

FIXTURES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
            "/root/testdata/sf0.1", "/tmp/engine_scale_x10"]


@pytest.mark.parametrize("sf", FIXTURES)
def test_footer_schema_equals_inferred_on_fixtures(spark, sf):
    if not os.path.isdir(sf):
        pytest.skip(f"fixture {sf} not present")
    for t in TABLES:
        path = f"{sf}/{t}.parquet"
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, t


def _ns_file(path):
    ts = pa.array([1_700_000_000_123_456_789, None, 5], pa.timestamp("ns"))
    papq.write_table(pa.table({"ts": ts, "k": [1, 2, None]}), path)


def _int96_file(path):
    ts = pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5, 678901), None,
                   datetime.datetime(1970, 1, 1)], pa.timestamp("us"))
    papq.write_table(pa.table({"ts": ts, "s": ["a", None, "c"]}), path,
                     use_deprecated_int96_timestamps=True)


def _spark_dir(spark, path):
    (spark.range(12).selectExpr(
        "id", "cast(id AS decimal(12,2)) AS d", "array(id, id * 2) AS xs",
        "map('k', id) AS m", "named_struct('a', id, 'b', 'x') AS st",
        "timestamp_micros(id * 1000003) AS ts")
     .repartition(3).write.mode("overwrite").parquet(path))
    open(os.path.join(path, ".hidden.parquet"), "w").close()


def _summary_dir(spark, path):
    """A Spark-written directory plus a ``_common_metadata`` summary
    naming one of its two columns: inference reads the summary."""
    (spark.range(6).selectExpr("id", "cast(id AS string) AS s")
     .repartition(2).write.mode("overwrite").parquet(path))
    papq.write_metadata(pa.schema([("id", pa.int64())]),
                        os.path.join(path, "_common_metadata"))


@pytest.mark.parametrize(
    "case", ["nanos", "int96", "spark_dir", "summary"])
def test_footer_schema_and_rows_equal_inferred_on_legacy_files(
        spark, tmp_path, case):
    """TIMESTAMP(NANOS) (read as bigint under ``nanosAsLong``), INT96
    (read as timestamp), a Spark-written directory (schema stored
    under Spark's row-metadata key, non-null columns made nullable,
    a ``.``-name file skipped) and a directory with a summary file
    read the same through the helper."""
    path = str(tmp_path / case)
    {"nanos": _ns_file, "int96": _int96_file,
     "spark_dir": lambda p: _spark_dir(spark, p),
     "summary": lambda p: _summary_dir(spark, p)}[case](path)
    inferred = spark.read.parquet(path)
    schema = parquet_schema(spark, path)
    assert schema == inferred.schema
    via_helper = spark.read.schema(schema).parquet(path)
    assert sorted(via_helper.collect(), key=repr) == sorted(
        inferred.collect(), key=repr)


def test_missing_or_unreadable_footer_raises(spark, tmp_path):
    (tmp_path / "empty").mkdir()
    with pytest.raises(FileNotFoundError):
        parquet_schema(spark, str(tmp_path / "empty"))
    (tmp_path / "bad.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        parquet_schema(spark, str(tmp_path / "bad.parquet"))
    part = str(tmp_path / "part")
    spark.range(4).selectExpr("id", "id % 2 AS k").write.partitionBy(
        "k").parquet(part)
    with pytest.raises(ValueError):
        parquet_schema(spark, part)


def test_staged_spark_table_reads_like_the_table(spark, tmp_path):
    """A read lists its directory as Spark's file index does, so a
    directory holding only a symlink to a Spark-written table (a
    subdirectory without a ``k=v`` name) has no file to read: the
    helper raises where inference does. ``_link_table``, which stages
    a stream key's source, links the table's data files instead, and
    the staged directory reads as the table."""
    sf = tmp_path / "sf"
    table = str(sf / "events.parquet")
    _spark_dir(spark, table)
    linked = tmp_path / "linked"
    linked.mkdir()
    os.symlink(table, linked / "events.parquet")
    with pytest.raises(FileNotFoundError):
        parquet_schema(spark, str(linked))
    with pytest.raises(AnalysisException):
        spark.read.parquet(str(linked))
    src = str(tmp_path / "src")
    os.mkdir(src)
    _link_table(str(sf), "events", src)
    schema = parquet_schema(spark, src)
    assert schema == spark.read.parquet(table).schema
    assert sorted(spark.read.schema(schema).parquet(src).collect()) == sorted(
        spark.read.parquet(table).collect())


def test_fresh_session_registers_tables_without_a_spark_job(
        spark, sf_dir, tmp_path):
    """A ``newSession()`` starts with an empty memo, so ``load_tables``
    registers all ten tables; with the schemas read from the footers
    on the driver, neither it nor a stream source's schema runs a
    job (schema inference would run one per read)."""
    src = str(tmp_path / "stream_src")
    spark.range(4).repartition(2).write.parquet(src)
    fresh = spark.newSession()
    sc = fresh.sparkContext
    group = "register_tables_fresh_session"
    sc.setJobGroup(group, "register tables")
    try:
        dfs = load_tables(fresh, sf_dir)
        schema = parquet_schema(fresh, src)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sorted(dfs) == sorted(TABLES)
    assert schema.fieldNames() == ["id"]
