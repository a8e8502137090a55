"""The parquet schema cache of ``sources.tables.load_table``: a re-read of
an unchanged table starts no Spark job and returns what
``spark.read.parquet`` returns; a rewritten table, a flipped inference
conf, a grown directory table are inferred again; a ``file://`` URI goes
through plain ``spark.read.parquet``."""

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from parallel_dataflow_spark.sources import tables
from tests.conftest import canon


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``, counted in a job group
    of its own once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"test_tables_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_reread_of_unchanged_table_starts_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=[3, 1, 2], v=["c", "a", "b"])
    _, first = _jobs(spark, lambda: tables.load_table(spark, str(tmp_path), "t"))
    df, second = _jobs(spark, lambda: tables.load_table(spark, str(tmp_path), "t"))
    assert first == 1  # the footer-reading job of schema inference
    assert second == 0
    plain = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert df.schema == plain.schema
    assert canon(df) == canon(plain) == [(1, "a"), (2, "b"), (3, "c")]


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=[1, 2])
    assert tables.load_table(spark, str(tmp_path), "t").columns == ["k"]
    _write(tmp_path / "t.parquet", k=[1, 2], extra=[10.5, 20.5])
    df = tables.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert canon(df) == [(1, 10.5), (2, 20.5)]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    _write(tmp_path / "t.parquet", b=pa.array([b"xy", b"z"], type=pa.binary()))
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert tables.load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
        spark.conf.set(conf, "true")
        df = tables.load_table(spark, str(tmp_path), "t")
        assert df.dtypes == [("b", "string")]
        assert canon(df) == [("xy",), ("z",)]
    finally:
        spark.conf.set(conf, before)


def test_directory_table_with_a_new_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    spark.range(6).repartition(2).write.parquet(path)
    tables.load_table(spark, str(tmp_path), "d")
    _, again = _jobs(spark, lambda: tables.load_table(spark, str(tmp_path), "d"))
    assert again == 0
    spark.range(6, 8).write.mode("append").parquet(path)
    df, grown = _jobs(spark, lambda: tables.load_table(spark, str(tmp_path), "d"))
    assert grown == 1
    assert canon(df) == [(i,) for i in range(8)]


def test_uri_path_reads_through_the_fallback(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=[2, 1])
    uri = f"file://{tmp_path}"
    df, jobs = _jobs(spark, lambda: tables.load_table(spark, uri, "t"))
    assert canon(df) == [(1,), (2,)]
    _, again = _jobs(spark, lambda: tables.load_table(spark, uri, "t"))
    assert jobs == again == 1  # inferred on every read
