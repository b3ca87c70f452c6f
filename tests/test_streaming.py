"""Streaming tests (SURVEY.md §5.2 item 4):

1. file-drop ingest via AvailableNow == batch cleaning of the same rows;
2. exactly-once: re-running the query over the same checkpoint adds nothing
   (upgrade over the reference's at-least-once, SURVEY.md §2.2.6);
3. incremental: only NEW files are processed by a later trigger;
4. windowed aggregation batch-equivalence: the same transform produces
   identical results via readStream as via batch.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sales_data_pipeline_gcp_spark.cleaning import clean_sales
from sales_data_pipeline_gcp_spark.io import NS_PER_US, load
from sales_data_pipeline_gcp_spark.sources.sales import as_dataframe, generate_rows, write_csv
from sales_data_pipeline_gcp_spark.streaming.ingest import ingest_sales_stream
from sales_data_pipeline_gcp_spark.streaming.windows import tumbling_counts


def _setup_dirs(tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    return str(raw), str(tmp_path / "out"), str(tmp_path / "ckpt")


def _rows_set(df):
    return {(r.product, r.price, r.quantity, r.total) for r in df.collect()}


def test_ingest_matches_batch_and_exactly_once(spark, tmp_path):
    raw, out, ckpt = _setup_dirs(tmp_path)
    rows = generate_rows(50, seed=11) + generate_rows(30, seed=12)
    write_csv(os.path.join(raw, "sales_a.csv"), rows[:50])
    write_csv(os.path.join(raw, "sales_b.csv"), rows[50:])
    # routing predicate: non-matching files are ignored (≙ main.py:21-23)
    with open(os.path.join(raw, "notes.txt"), "w") as f:
        f.write("not a csv")

    ingest_sales_stream(spark, raw, out, ckpt, audit=False).awaitTermination()
    got = spark.read.parquet(out)
    expected = clean_sales(as_dataframe(spark, rows), audit=False)
    assert _rows_set(got) == _rows_set(expected)
    n_first = got.count()

    # exactly-once: same files, same checkpoint -> no duplicates
    ingest_sales_stream(spark, raw, out, ckpt, audit=False).awaitTermination()
    assert spark.read.parquet(out).count() == n_first

    # incremental: a NEW file is picked up, exactly once
    extra = generate_rows(20, seed=13)
    write_csv(os.path.join(raw, "sales_c.csv"), extra)
    ingest_sales_stream(spark, raw, out, ckpt, audit=False).awaitTermination()
    got2 = spark.read.parquet(out)
    expected2 = clean_sales(as_dataframe(spark, rows + extra), audit=False)
    assert _rows_set(got2) == _rows_set(expected2)
    assert got2.count() == n_first + clean_sales(as_dataframe(spark, extra), audit=False).count()


def test_windowed_agg_stream_equals_batch(spark, sf_dir, tmp_path):
    # materialize events (ts as µs TimestampType) to parquet for readStream
    src = str(tmp_path / "events_parquet")
    ev = load(spark, sf_dir, "events").select("ts_us", "event_type", "value")
    ev.write.parquet(src)

    batch_result = tumbling_counts(ev)

    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .withWatermark("ts_us", "10 minutes")
    )
    q = (
        tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_result = spark.sql("SELECT * FROM tumbling_out")

    key = lambda r: (r.bucket_start, r.event_type)
    b = {key(r): (r.n_events, r.sum_value) for r in batch_result.collect()}
    s = {key(r): (r.n_events, r.sum_value) for r in stream_result.collect()}
    assert b == s


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the streaming upgrade of the
    reference's missing idempotence — re-delivered events (same event_id)
    arriving across micro-batches within the watermark are emitted once."""
    import datetime as dt

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = str(tmp_path / "dup_src")
    # batch 1 and batch 2 share event_ids 1 and 2 (redelivery)
    spark.createDataFrame(
        [(1, base, 1.0), (2, base + dt.timedelta(minutes=1), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(2, base + dt.timedelta(minutes=1), 2.0), (3, base + dt.timedelta(minutes=2), 3.0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts_us", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_stream").collect())
    assert got == [1, 2, 3]


def test_stream_ingest_batch_equivalence(spark, sf_smoke_dir):
    """The declared file-ingest stream cleans the simulator's 40- and
    60-row drops (every fifth generated row has price, quantity and total
    all NULL and is dropped, leaving 32 + 48), and every sink row must
    carry a green embedded-evidence tuple (stream sink == one batch
    cleaning run over the same CSVs)."""
    from sales_data_pipeline_gcp_spark.operators.streaming_queries import q_stream_ingest

    rows = q_stream_ingest(spark, sf_smoke_dir).collect()
    assert len(rows) == 80
    assert all(r.stream_rows == r.batch_rows == 80 for r in rows)
    assert all(r.rows_match and r.hash_match for r in rows)


def test_stream_dedup_bounded_state_equivalence(spark):
    from sales_data_pipeline_gcp_spark.operators.streaming_queries import (
        STREAM_DEDUP_OVERLAP,
        STREAM_DEDUP_ROWS,
        q_stream_dedup,
    )

    rows = q_stream_dedup(spark, "/root/testdata/sf0.001").collect()
    expected_distinct = 2 * STREAM_DEDUP_ROWS - STREAM_DEDUP_OVERLAP
    assert len(rows) == expected_distinct
    ids = [r.event_id for r in rows]
    assert len(set(ids)) == expected_distinct  # re-delivered keys dropped
    assert all(r.rows_match and r.hash_match for r in rows)


def test_stream_join_batch_equivalence(spark):
    """The declared stream-stream interval join must emit exactly the
    batch join's rows (inner joins emit eagerly, AvailableNow drains both
    sides), and every sink row must carry a green embedded-evidence tuple.
    Fixture arithmetic: purchase j (t=2j+3 min, user j%u) falls in view
    i's [v_ts, v_ts+10min] window iff j-i in {-1..3}; user equality forces
    j-i to be a multiple of u=40, so each view matches exactly its own
    purchase -> STREAM_JOIN_ROWS output rows."""
    from sales_data_pipeline_gcp_spark.operators.streaming_queries import (
        STREAM_JOIN_ROWS,
        q_stream_join,
    )

    rows = q_stream_join(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == STREAM_JOIN_ROWS
    assert all(r.view_id == r.purchase_id - 400 for r in rows)  # j == i
    assert all(r.rows_match and r.hash_match for r in rows)

def test_stream_join_outer_batch_equivalence(spark):
    """The declared LEFT-OUTER stream-stream interval join must emit the
    batch left join exactly: purchases exist only for even view indices,
    so exactly half the views surface as watermark-gated NULL rows (the
    semantics the inner variant cannot exercise), and every sink row must
    carry a green embedded-evidence tuple. Fixture arithmetic: user
    equality (mod 20) plus the 10-minute horizon force j == i, so even
    views match their own purchase and odd views are provably unmatched."""
    from sales_data_pipeline_gcp_spark.operators.streaming_queries import (
        STREAM_OUTER_ROWS,
        q_stream_join_outer,
    )

    rows = q_stream_join_outer(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == STREAM_OUTER_ROWS
    matched = [r for r in rows if r.purchase_id is not None]
    unmatched = [r for r in rows if r.purchase_id is None]
    assert len(matched) == len(unmatched) == STREAM_OUTER_ROWS // 2
    assert all(r.view_id % 2 == 0 and r.purchase_id == r.view_id + 400 for r in matched)
    assert all(r.view_id % 2 == 1 for r in unmatched)
    assert all(r.rows_match and r.hash_match for r in rows)


def test_stateful_streams_match_batch_under_caller_timezone(spark, sf_smoke_dir):
    """The stateful demo streams drain in a private session, but their
    batch twins run on the caller's: the private session must carry the
    caller's runtime conf, or a caller whose session timezone differs from
    the context default would parse the stream's CSV timestamps in another
    zone than the batch twin and flip hash_match."""
    from sales_data_pipeline_gcp_spark.operators.streaming_queries import (
        q_stream_dedup,
        q_stream_join,
        q_stream_join_outer,
    )

    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    for q in (q_stream_dedup, q_stream_join, q_stream_join_outer):
        rows = q(caller, sf_smoke_dir).collect()
        assert rows, q.__name__
        assert all(r.rows_match and r.hash_match for r in rows), q.__name__
