"""Custom Python DataSource (Spark 4 V2 API) tests: the DataSource path
must agree exactly with the expression-based readers over the same
inputs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

@pytest.fixture(scope="module")
def registered(spark):
    from hadoop_ir_spark.io.datasource import (TrecSGMLDataSource,
                                               WarcDataSource)

    spark.dataSource.register(TrecSGMLDataSource)
    spark.dataSource.register(WarcDataSource)
    return spark


def test_trecsgml_datasource_matches_expression_reader(registered, tmp_path):
    from hadoop_ir_spark.io import trec_sgml

    spark = registered
    docs = spark.createDataFrame(
        [("d1", "hello world", 100), ("d2", "spark join<tag>", None),
         ("d3", "", 7)],
        "docno string, text string, epoch bigint",
    )
    out = os.path.join(str(tmp_path), "sgml")
    trec_sgml.format_trec_sgml(docs, epoch_col="epoch") \
        .coalesce(1).write.text(out)
    # rename part file so the suffix filter finds it
    part = [f for f in os.listdir(out) if f.startswith("part-")][0]
    os.rename(os.path.join(out, part), os.path.join(out, "docs.sgml"))

    via_ds = {
        r["docno"]: (r["text"], r["epoch"])
        for r in spark.read.format("trecsgml").load(out).collect()
    }
    via_expr = {
        r["docno"]: (r["text"], r["epoch"])
        for r in trec_sgml.read_trec_sgml(
            spark, os.path.join(out, "docs.sgml")).collect()
    }
    assert via_ds == via_expr
    assert set(via_ds) == {"d1", "d2", "d3"}
    assert via_ds["d1"] == ("hello world", 100)


def test_warc_datasource_reads_reference_fixture(registered, testsh):
    spark = registered
    warc_path = testsh[0]
    df = spark.read.format("warcsource").load(warc_path)
    rows = df.collect()
    assert len(rows) > 0
    types = {r["warc_type"] for r in rows}
    assert "response" in types
    resp = spark.read.format("warcsource").option("responsesOnly", "true") \
        .load(warc_path)
    got = resp.collect()
    assert all(r["warc_type"] == "response" for r in got)
    assert {r["trec_id"] for r in got} >= {"test1", "test2", "test3"}
    # partition-parallel read: the source reports one partition per file
    assert df.rdd.getNumPartitions() == 1


def test_warc_datasource_agrees_with_binaryfile_reader(registered, testsh):
    from hadoop_ir_spark.io import warc as warc_io

    spark = registered
    warc_path = testsh[0]
    base = warc_io.read_warc(spark, warc_path).select(
        "trec_id", "warc_type", "target_uri").collect()
    ds = spark.read.format("warcsource").load(warc_path).select(
        "trec_id", "warc_type", "target_uri").collect()
    key = lambda t: tuple("" if v is None else v for v in t)  # noqa: E731
    assert sorted(map(tuple, base), key=key) == sorted(map(tuple, ds), key=key)


def test_runfile_datasource_writer_roundtrip(registered, tmp_path):
    """Sink half: write a ranked run via the runfile DataSource, read it
    back with io.runfile.read_run — values and 6-col format intact, no
    leftover task-temp files after commit."""
    from hadoop_ir_spark.io import runfile
    from hadoop_ir_spark.io.datasource import RunfileDataSource

    spark = registered
    spark.dataSource.register(RunfileDataSource)
    run = spark.createDataFrame(
        [("q1", "d1", 1, 3.5), ("q1", "d2", 2, 2.25), ("q2", "d9", 1, 9.0)],
        "qid string, docno string, rank int, score double",
    )
    out = str(tmp_path / "runout")
    run.repartition(2).write.format("runfile").option("tag", "t3") \
        .mode("overwrite").save(out)
    files = sorted(os.listdir(out))
    assert files and all(f.startswith("part-") for f in files)
    back = {(r["qid"], r["docno"]): (r["rank"], r["score"])
            for r in runfile.read_run(spark, out).collect()}
    assert back == {("q1", "d1"): (1, 3.5), ("q1", "d2"): (2, 2.25),
                    ("q2", "d9"): (1, 9.0)}
    line = open(os.path.join(out, files[0])).readline()
    assert " Q0 " in line and line.rstrip().endswith("t3")


def test_runfile_overwrite_sweeps_stale_parts(registered, tmp_path):
    """mode('overwrite') with FEWER partitions than a previous write must
    not leave the old extra part files mixed in, and orphaned _tmp-*
    files from dead attempts are swept at commit."""
    from hadoop_ir_spark.io import runfile
    from hadoop_ir_spark.io.datasource import RunfileDataSource

    spark = registered
    spark.dataSource.register(RunfileDataSource)
    run = spark.createDataFrame(
        [("q1", "d1", 1, 3.5), ("q2", "d9", 1, 9.0)],
        "qid string, docno string, rank int, score double",
    )
    out = str(tmp_path / "runout2")
    run.repartition(4).write.format("runfile").mode("overwrite").save(out)
    assert len([f for f in os.listdir(out) if f.startswith("part-")]) == 4
    # simulate a leftover speculative-attempt temp file
    orphan = os.path.join(out, "_tmp-deadbeef-part-00099.run")
    open(orphan, "w").write("q9 Q0 dX 1 1.000000 stale\n")
    run.repartition(1).write.format("runfile").mode("overwrite").save(out)
    files = sorted(os.listdir(out))
    assert files == ["part-00000.run"]
    back = {(r["qid"], r["docno"]) for r in
            runfile.read_run(spark, out).collect()}
    assert back == {("q1", "d1"), ("q2", "d9")}
