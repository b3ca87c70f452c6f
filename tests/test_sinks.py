"""Sinks: the foreachBatch upsert sink (streaming CDC into a keyed
snapshot — later events win, re-runs are idempotent) and the batch append
sink of ``process_sales.run`` (one Spark job per drop, totals read from
parquet footers, defined behaviour for missing, empty and malformed
input)."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from sales_data_pipeline_gcp_spark import process_sales
from sales_data_pipeline_gcp_spark.io import sink_rows
from sales_data_pipeline_gcp_spark.sources.sales import generate_rows, write_csv
from sales_data_pipeline_gcp_spark.streaming.ingest import ingest_sales_stream
from sales_data_pipeline_gcp_spark.streaming.sinks import upsert_sink

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)


def test_upsert_sink_latest_state_and_idempotence(spark, tmp_path):
    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        upsert_sink(stream, snap, ckpt, key="user_id", order_col="seq").awaitTermination()

    spark.createDataFrame([(1, 1, "new"), (2, 1, "new"), (1, 2, "active")], SCHEMA).write.mode(
        "append"
    ).parquet(src)
    run()
    got = {r.user_id: (r.seq, r.status) for r in spark.read.parquet(snap).collect()}
    assert got == {1: (2, "active"), 2: (1, "new")}

    # re-run with no new input: exactly-once, snapshot unchanged
    run()
    assert {r.user_id: (r.seq, r.status) for r in spark.read.parquet(snap).collect()} == got

    # CDC batch 2: update user 2, insert user 3
    spark.createDataFrame([(2, 5, "churned"), (3, 1, "new")], SCHEMA).write.mode("append").parquet(src)
    run()
    got2 = {r.user_id: (r.seq, r.status) for r in spark.read.parquet(snap).collect()}
    assert got2 == {1: (2, "active"), 2: (5, "churned"), 3: (1, "new")}


# --- process_sales.run: one job per drop, footer-counted sink totals -------

HEADER = "product,price,quantity,total,ordered_at,delivery_at\n"


def _drop(tmp_path, name: str, n: int, seed: int) -> str:
    path = str(tmp_path / f"{name}.csv")
    write_csv(path, generate_rows(n, seed=seed))
    return path


def _spark_count(spark, out: str) -> int:
    return spark.read.format("parquet").load(out).count()


def test_process_sales_runs_one_job(spark, tmp_path):
    """The write is the only Spark job of a parquet run: the sink total
    comes from the footers, not from a re-read of the sink."""
    out = str(tmp_path / "sink")
    process_sales.run(_drop(tmp_path, "a", 200, 1), out, spark=spark)
    sc = spark.sparkContext
    sc.setJobGroup("test_process_sales_runs_one_job", "one drop")
    try:
        n = process_sales.run(_drop(tmp_path, "b", 300, 2), out, spark=spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("test_process_sales_runs_one_job")) == 1
    assert n == _spark_count(spark, out) == 160 + 240


def test_sink_rows_matches_spark_count(spark, tmp_path):
    # flat sink; Spark's local writer leaves _SUCCESS and .crc files in it
    flat = str(tmp_path / "flat")
    for i in range(3):
        process_sales.run(_drop(tmp_path, f"f{i}", 100 * (i + 1), i), flat, spark=spark)
    names = os.listdir(flat)
    assert "_SUCCESS" in names and any(f.endswith(".crc") for f in names)
    # a data file left under hidden dirs (an aborted job's _temporary, a
    # dot dir) is not part of the table
    part = glob.glob(os.path.join(flat, "part-*.parquet"))[0]
    for hidden in ("_temporary/0", ".staging"):
        os.makedirs(os.path.join(flat, hidden))
        shutil.copy(part, os.path.join(flat, hidden))
    assert sink_rows(spark, flat) == _spark_count(spark, flat) == 80 + 160 + 240
    # a relative path resolves as Spark resolves it
    assert sink_rows(spark, os.path.relpath(flat)) == 80 + 160 + 240

    # partitioned sink with a NULL partition value
    parted = str(tmp_path / "parted")
    nulls = str(tmp_path / "nulls.csv")
    with open(nulls, "w") as f:
        f.write(HEADER + ",10.0,2,20.0,2023-05-01 00:00:00,2023-05-06 00:00:00\n")
    process_sales.run(_drop(tmp_path, "p", 200, 3), parted, partition_by=["product"], spark=spark)
    n = process_sales.run(nulls, parted, partition_by=["product"], spark=spark)
    assert any("__HIVE_DEFAULT_PARTITION__" in d for d in os.listdir(parted))
    assert n == sink_rows(spark, parted) == _spark_count(spark, parted) == 160 + 1

    # streaming sink: Spark scans the files _spark_metadata committed, so a
    # stray data file in the directory is not counted
    raw = tmp_path / "raw"
    raw.mkdir()
    _drop(raw, "s", 250, 4)
    stream = str(tmp_path / "stream")
    ingest_sales_stream(spark, str(raw), stream, str(tmp_path / "ckpt")).awaitTermination()
    stray = os.path.join(stream, "part-stray.parquet")
    shutil.copy(glob.glob(os.path.join(stream, "part-*.parquet"))[0], stray)
    assert sink_rows(spark, stream) == _spark_count(spark, stream) == 200


def test_process_sales_missing_input_writes_nothing(spark, tmp_path):
    out = str(tmp_path / "sink")
    with pytest.raises(AnalysisException) as e:
        process_sales.run(str(tmp_path / "missing.csv"), out, spark=spark)
    assert e.value.getCondition() == "PATH_NOT_FOUND"
    assert not os.path.exists(out)


def test_process_sales_header_only_appends_nothing(spark, tmp_path):
    out = str(tmp_path / "sink")
    empty = str(tmp_path / "empty.csv")
    with open(empty, "w") as f:
        f.write(HEADER)
    assert process_sales.run(empty, out, spark=spark) == 0
    n = process_sales.run(_drop(tmp_path, "a", 100, 1), out, spark=spark)
    assert n == 80
    assert process_sales.run(empty, out, spark=spark) == n == _spark_count(spark, out)


def test_process_sales_non_numeric_values_read_as_null(spark, tmp_path):
    """PERMISSIVE CSV reads a malformed number as NULL, and the row then
    goes through the all-NULL drop and the imputation like any other."""
    bad = str(tmp_path / "bad.csv")
    ts = "2023-05-01 00:00:00,2023-05-06 00:00:00"
    with open(bad, "w") as f:
        f.write(HEADER)
        f.write(f"Laptops,abc,2,100.0,{ts}\n")  # price NULL, row kept
        f.write(f"Tablets,10.0,three,30.0,{ts}\n")  # quantity imputed 30/10
        f.write(f"Phones,,n/a,,{ts}\n")  # all three NULL: dropped
    out = str(tmp_path / "sink")
    assert process_sales.run(bad, out, audit=False, spark=spark) == 2
    got = {(r.product, r.price, r.quantity, r.total) for r in spark.read.parquet(out).collect()}
    assert got == {("Laptops", None, 2, 100.0), ("Tablets", 10.0, 3, 30.0)}
