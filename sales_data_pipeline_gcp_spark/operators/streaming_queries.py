"""Declared queries for the streaming surface (SURVEY.md §7 Phase 4).

The window transforms live in ``streaming/windows.py`` and are shared
verbatim between batch and streaming execution; here they run in batch mode
against the events table so the driver can oracle them (DuckDB expresses
tumble/slide as epoch-bucket arithmetic and sessions as gaps-and-islands).
tests/test_streaming.py additionally runs them as real streams
(readStream + watermark + AvailableNow) and asserts batch-equivalence, plus
exactly-once for the file-ingest pipeline.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_gcp_spark.io import NS_PER_SECOND, load
from sales_data_pipeline_gcp_spark.plans.registry import register
from sales_data_pipeline_gcp_spark.streaming.windows import (
    SESSION_GAP_MINUTES,
    SLIDE_STEP_MINUTES,
    SLIDE_WINDOW_MINUTES,
    TUMBLE_MINUTES,
    session_windows,
    sliding_counts,
    tumbling_counts,
)

#: Shuffle/state-store partition count for the stateful demo streams below.
#: A stateful streaming operator creates — and commits one delta file for,
#: per micro-batch — one state store per shuffle partition (a stream-stream
#: join holds FOUR stores per partition), and the first checkpoint pins the
#: count, so it is a per-pipeline sizing decision, not a session constant.
#: Sizing follows guide §2.2 (partition count from state volume, not core
#: count): these streams hold <= 240 rows of state, where a batch-sized
#: shuffle partitioning spends ~20x more wall-clock on empty state-store
#: commits than on data (the two stream-stream joins billed 13.8 s a sweep
#: at the session default, ~90% of it state-store commit I/O; 1 partition
#: measured slower than 2). Production pipelines size this to state volume
#: at guide §2.2's 100 MB–1 GB per partition.
STREAM_STATE_PARTITIONS = 2


def _stream_session(spark: SparkSession, *, final_no_data_batch: bool = True) -> SparkSession:
    """A private session for building, starting and draining one demo
    stream: ``spark.newSession()`` shares the SparkContext but owns its SQL
    conf, so the stream's settings never leak into the caller's session
    (another thread on it keeps reading its own values mid-drain).

    Every modifiable key of the caller's conf is copied in first, so the
    stream parses and computes exactly as the caller's batch twin does
    (a runtime-set session timezone, for one, decides how CSV timestamps
    parse; without the copy the stream would read them in the context's
    default zone and ``hash_match`` would go false). Then the shuffle
    partitions — read when a streaming query STARTS and pinned in its
    checkpoint — are set to ``STREAM_STATE_PARTITIONS``.

    ``final_no_data_batch=False`` also disables
    ``spark.sql.streaming.noDataMicroBatches.enabled``: an AvailableNow
    drain otherwise appends one empty micro-batch after the data batches
    purely to advance the watermark and evict state — a full trigger cycle
    (planning + state-store commits + sink commit, ~0.5-0.9 s) that writes
    NOTHING for operators whose sink content is watermark-INDEPENDENT. That
    is exactly the eager-emission class: stream-stream INNER joins and
    dropDuplicatesWithinWatermark emit rows the moment they are seen; only
    watermark-GATED emission (outer-join NULLs, append-mode aggregations)
    needs the final batch, and those streams keep the default."""
    session = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            session.conf.set(key, value)
    session.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    if not final_no_data_batch:
        session.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    return session


def _demo_dirs(prefix: str, *inputs: str) -> list[str]:
    """A fresh temp dir holding the created input dirs; returns their paths
    followed by the (not yet created) sink and checkpoint paths."""
    base = tempfile.mkdtemp(prefix=prefix)
    for d in inputs:
        os.makedirs(os.path.join(base, d))
    return [os.path.join(base, d) for d in (*inputs, "out", "ckpt")]


def _write_csv(path: str, header: str, lines: Iterable[str]) -> None:
    with open(path, "w") as f:
        f.write(header + "\n")
        f.writelines(line + "\n" for line in lines)


def _csv(reader, schema: str, path: str) -> DataFrame:
    """``reader`` is ``spark.read`` (batch twin) or ``spark.readStream``."""
    return reader.schema(schema).option("header", "true").csv(path)


def _drain(stream: DataFrame, out: str, ckpt: str) -> None:
    """Append ``stream`` to parquet at ``out`` until every pending input
    file is consumed (AvailableNow), checkpointed at ``ckpt``."""
    (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _with_evidence(sink: DataFrame, batch: DataFrame) -> DataFrame:
    """Every ``sink`` row plus the batch-equivalence evidence of the stream
    that wrote it: stream_rows / batch_rows / rows_match / hash_match
    against ``batch``, the same pipeline run as one batch over the same
    input. The content hash is order-independent: the sum of per-row
    xxhash64 over a NULL-marked concat of the sorted columns, summed in
    DECIMAL so ANSI overflow cannot bite. A harness can only rows-check a
    streaming query, so a recorded row with hash_match=false is the hard
    evidence of divergence."""

    def summary(df: DataFrame, p: str) -> DataFrame:
        row_str = F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in sorted(df.columns)],
        )
        return df.agg(
            F.count("*").alias(f"{p}_rows"),
            F.coalesce(F.sum(F.xxhash64(row_str).cast("decimal(38,0)")), F.lit(0)).alias(
                f"{p}_hash"
            ),
        )

    evidence = (
        summary(sink, "stream")
        .crossJoin(F.broadcast(summary(batch, "batch")))
        .select(
            "stream_rows",
            "batch_rows",
            (F.col("stream_rows") == F.col("batch_rows")).alias("rows_match"),
            (F.col("stream_hash") == F.col("batch_hash")).alias("hash_match"),
        )
    )
    return sink.crossJoin(F.broadcast(evidence))


_TUMBLE_SEC = TUMBLE_MINUTES * 60
_SLIDE_W_SEC = SLIDE_WINDOW_MINUTES * 60
_SLIDE_S_SEC = SLIDE_STEP_MINUTES * 60
_GAP_US = SESSION_GAP_MINUTES * 60 * 1_000_000


@register(
    "q_stream_tumbling",
    oracle=f"""
    SELECT (epoch_ns(ts) // {_TUMBLE_SEC * NS_PER_SECOND}) * {_TUMBLE_SEC} AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc=f"{TUMBLE_MINUTES}-minute tumbling event-time window per event_type "
    "(same transform runs streaming with a watermark; batch here for the "
    "oracle). Window starts emitted as epoch seconds — ns-vs-µs and "
    "timezone proof.",
    tags=("streaming",),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load(spark, sf_dir, "events"))


@register(
    "q_stream_sliding",
    oracle=f"""
    WITH hops AS (
        SELECT ((epoch_ns(ts) // {_SLIDE_S_SEC * NS_PER_SECOND}) - k) * {_SLIDE_S_SEC} AS bucket_start,
               event_type
        FROM events, UNNEST(range({_SLIDE_W_SEC // _SLIDE_S_SEC})) AS t(k)
    )
    SELECT bucket_start, event_type, COUNT(*) AS n_events
    FROM hops
    GROUP BY bucket_start, event_type
    """,
    doc=f"Sliding window ({SLIDE_WINDOW_MINUTES}m window / "
    f"{SLIDE_STEP_MINUTES}m hop): each event contributes to window/hop "
    "buckets. Spark expands via F.window; the oracle via explicit hop "
    "arithmetic.",
    tags=("streaming",),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(load(spark, sf_dir, "events"))


@register(
    "q_stream_session",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events
    ), d AS (
        SELECT user_id, us, value,
               CASE WHEN LAG(us) OVER w IS NULL
                      OR us - LAG(us) OVER w >= {_GAP_US} THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ), s AS (
        SELECT user_id, us, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM d
    )
    SELECT user_id,
           MIN(us) // 1000000 AS session_start,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM s
    GROUP BY user_id, sid
    """,
    doc=f"Session windows per user ({SESSION_GAP_MINUTES}m gap) via Spark's "
    "native session_window (streaming-capable); the oracle is the classic "
    "gaps-and-islands lag/cumsum formulation.",
    tags=("streaming",),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(load(spark, sf_dir, "events"))


@register(
    "q_stream_ingest",
    oracle=None,  # end-to-end streaming pipeline; exactly-once gated in tests
    doc="The reference pipeline end-to-end as a stream: drop simulator CSVs "
    "into a watched dir, AvailableNow micro-batch runs the cleaning "
    "pipeline, checkpointed parquet append (exactly-once upgrade over the "
    "reference's at-least-once, SURVEY.md §2.2.6). The driver can only "
    "rows-check this query, so the batch-equivalence proof is embedded in "
    "the OUTPUT itself: every sink row carries "
    "stream_rows / batch_rows / rows_match / hash_match columns comparing "
    "the streamed sink against the same cleaning pipeline run as one "
    "batch over the same CSVs — order-independent content hash (sum of "
    "per-row xxhash64 over a NULL-marked concat, summed in DECIMAL so "
    "ANSI overflow cannot bite). A recorded row with hash_match=false "
    "would be hard evidence of divergence; tests additionally pin "
    "exactly-once re-delivery semantics.",
    tags=("streaming",),
)
def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_gcp_spark.cleaning import clean_sales
    from sales_data_pipeline_gcp_spark.io import read_sales_csv
    from sales_data_pipeline_gcp_spark.sources.sales import generate_rows, write_csv
    from sales_data_pipeline_gcp_spark.streaming.ingest import ingest_sales_stream

    raw, out, ckpt = _demo_dirs("ingest_demo_", "raw")
    for i, n in enumerate((40, 60)):
        write_csv(os.path.join(raw, f"sales_{i}.csv"), generate_rows(n, seed=100 + i))
    ingest_sales_stream(spark, raw, out, ckpt, audit=False).awaitTermination()
    batch = clean_sales(read_sales_csv(spark, raw), audit=False)
    return _with_evidence(spark.read.parquet(out), batch)


@register(
    "q_rollup_hierarchy",
    oracle=f"""
    WITH grains AS (SELECT UNNEST([300, 3600, 86400]) AS grain_sec)
    SELECT g.grain_sec,
           (epoch_ns(ts) // {NS_PER_SECOND}) - ((epoch_ns(ts) // {NS_PER_SECOND}) % g.grain_sec)
                                                       AS bucket_start,
           event_type,
           COUNT(*)                                    AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN grains g
    GROUP BY 1, 2, 3
    """,
    doc="Hypertable-style hierarchical rollup: 5min/1h/1d grains in ONE "
    "pass (posexplode over grain lengths + partial aggregation) — the "
    "batch/backfill path of streaming/rollup.py, whose incremental "
    "additive-merge maintenance is tested in tests/test_rollup.py.",
    tags=("streaming", "rollup"),
)
def q_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_gcp_spark.streaming.rollup import hierarchical_rollup

    return hierarchical_rollup(load(spark, sf_dir, "events"))


#: Stream-dedup demo sizing: two micro-batch files with this many rows
#: each, the second re-delivering this many of the first's rows.
STREAM_DEDUP_ROWS = 80
STREAM_DEDUP_OVERLAP = 20


@register(
    "q_stream_dedup",
    oracle=None,  # streaming state op; batch-equivalence embedded in output
    doc="Watermarked streaming deduplication: a file-source stream whose "
    "second micro-batch re-delivers rows from the first (the at-least-once "
    "reality of upstream producers), deduplicated by key with "
    "dropDuplicatesWithinWatermark — state is bounded by the watermark "
    "horizon instead of growing forever, the production posture for "
    "exactly-once-by-key sinks at 100 TB/day. Like q_stream_ingest, the "
    "driver can only rows-check a streaming query, so the batch-"
    "equivalence proof is embedded in the output: every sink row carries "
    "stream_rows / batch_rows / rows_match / hash_match columns comparing "
    "the streamed dedup against batch dropDuplicates over the same files "
    "(re-delivered rows are byte-identical, so the survivor set is "
    "well-defined and the order-independent content hash must match). "
    "tests/test_streaming.py pins the semantics on top.",
    tags=("streaming", "dedup"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw, out, ckpt = _demo_dirs("stream_dedup_", "raw")

    def row(i: int) -> str:
        # deterministic, duplicate-stable content: re-delivery is byte-equal
        return f"{i},2026-01-01 00:{i // 60:02d}:{i % 60:02d},{(i * 7) % 100}.25"

    n, k = STREAM_DEDUP_ROWS, STREAM_DEDUP_OVERLAP
    for name, ids in (("batch_0.csv", range(n)), ("batch_1.csv", range(n - k, 2 * n - k))):
        _write_csv(os.path.join(raw, name), "event_id,ts,value", map(row, ids))

    schema = "event_id BIGINT, ts TIMESTAMP, value DOUBLE"
    # dropDuplicatesWithinWatermark emits every survivor the moment it is
    # first seen — the sink never depends on watermark advancement, so the
    # final no-data micro-batch is pure state-eviction overhead here
    stream = _csv(_stream_session(spark, final_no_data_batch=False).readStream, schema, raw)
    deduped = stream.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(["event_id"])
    _drain(deduped, out, ckpt)
    batch = _csv(spark.read, schema, raw).dropDuplicates(["event_id"])
    return _with_evidence(spark.read.parquet(out), batch)


#: Stream-stream join demo sizing: views/purchases per source file, user
#: fan-in, and the event-time join horizon (minutes after the view).
STREAM_JOIN_ROWS = 120
STREAM_JOIN_USERS = 40
STREAM_JOIN_HORIZON_MIN = 10
#: Columns of the views and purchases CSVs of both stream-stream join demos.
_JOIN_CSV_HEADER = "user_id,ts,event_id"
_JOIN_SCHEMA = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT"


def _interval_join(vdf: DataFrame, pdf: DataFrame, how: str) -> DataFrame:
    """Each view joined (``how``) to its user's purchases made within
    ``STREAM_JOIN_HORIZON_MIN`` minutes after it; the same expression runs
    on the streams and on their batch twin."""
    v = vdf.select("user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id"))
    p = pdf.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {STREAM_JOIN_HORIZON_MIN} MINUTES")
        ),
        how,
    ).select("user_id", "view_id", "purchase_id")


@register(
    "q_stream_join",
    oracle=None,  # streaming state op; batch-equivalence embedded in output
    doc="Stream-stream event-time interval join (the attribution join run "
    "as two live streams): a views stream and a purchases stream, both "
    "watermarked, joined on user + purchase-within-10-minutes-after-view. "
    "Both state stores are BOUNDED — the interval condition plus the "
    "watermark lets Spark evict a view row once the purchase-side "
    "watermark passes v_ts + horizon, the property that makes a "
    "100 TB/day clickstream-attribution join runnable at all (an "
    "unbounded-state join OOMs by construction). Like q_stream_ingest / "
    "q_stream_dedup, the driver can only rows-check a streaming query, "
    "so the batch-equivalence proof is embedded: every sink row carries "
    "stream_rows / batch_rows / rows_match / hash_match comparing the "
    "streamed inner interval join against the identical batch join over "
    "the same files (inner joins emit eagerly, so an AvailableNow drain "
    "must equal batch exactly). tests/test_stream_stream_join.py pins "
    "the semantics — including the left-outer variant, whose NULL "
    "emission is watermark-gated — on top.",
    tags=("streaming", "join"),
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    vdir, pdir, out, ckpt = _demo_dirs("stream_join_", "views", "purchases")
    n, u = STREAM_JOIN_ROWS, STREAM_JOIN_USERS

    def view_row(i: int) -> str:
        # user i%u views at minute 2*i
        return f"{i % u},2026-01-01 {2 * i // 60:02d}:{2 * i % 60:02d}:00,{100 + i}"

    def purchase_row(j: int) -> str:
        # user j%u purchases at minute 2*j+3 — inside the horizon of view j,
        # outside it for roughly half the cross-user collisions
        t = 2 * j + 3
        return f"{j % u},2026-01-01 {t // 60:02d}:{t % 60:02d}:00,{500 + j}"

    # two micro-batch files per side so matches span file boundaries
    for d, side, mk in ((vdir, "v", view_row), (pdir, "p", purchase_row)):
        for part, ids in enumerate((range(n // 2), range(n // 2, n))):
            _write_csv(os.path.join(d, f"{side}_{part}.csv"), _JOIN_CSV_HEADER, map(mk, ids))

    # INNER stream-stream joins emit eagerly — the sink never depends on
    # watermark advancement (the watermark only bounds STATE here), so the
    # final no-data micro-batch is pure state-eviction overhead
    session = _stream_session(spark, final_no_data_batch=False)
    stream = lambda d: _csv(session.readStream, _JOIN_SCHEMA, d).withWatermark("ts", "30 minutes")
    _drain(_interval_join(stream(vdir), stream(pdir), "inner"), out, ckpt)
    read = lambda d: _csv(spark.read, _JOIN_SCHEMA, d)
    batch = _interval_join(read(vdir), read(pdir), "inner")
    return _with_evidence(spark.read.parquet(out), batch)


#: Left-outer stream-stream demo sizing: views per source file, user fan-in
#: (every ODD view is left unmatched by construction -- purchases exist only
#: for even view indices, and the 20-user fan-in makes cross-view collisions
#: impossible inside the 10-minute horizon: i == j (mod 20) and
#: 2*(j-i)+3 in [0,10] force j = i). Heartbeat rows use a user id far
#: outside the real range so they can be excluded from sink and batch alike.
STREAM_OUTER_ROWS = 60
STREAM_OUTER_USERS = 20
STREAM_OUTER_HEARTBEAT_USER = 9_000


@register(
    "q_stream_join_outer",
    oracle=None,  # streaming state op; batch-equivalence embedded in output
    doc="LEFT-OUTER stream-stream event-time interval join -- the one "
    "streaming semantics q_stream_join's inner variant cannot exercise: "
    "an unmatched view row is emitted with NULL purchase columns only "
    "once the watermark (the MIN across both inputs) passes the "
    "interval's upper bound, proving the row can never match -- the "
    "watermark-gated NULL emission that makes outer attribution joins "
    "deterministic instead of racy. Mechanics: purchases exist only for "
    "even view indices, so exactly half the views must surface as NULL "
    "rows; far-future heartbeat rows land on BOTH streams (in the same "
    "data micro-batch — watermarks apply only from the NEXT batch, so "
    "they cannot late-drop the real rows they ride with) to "
    "advance the closing watermark past every real row's horizon, and "
    "heartbeat users are excluded from sink and batch alike (their own "
    "unmatched rows sit beyond the final watermark by construction -- "
    "the same exclusion tests/test_stream_stream_join.py uses). Both "
    "state stores stay BOUNDED exactly as in the inner variant. The "
    "driver can only rows-check a streaming query, so the proof is "
    "embedded: every sink row carries stream_rows / batch_rows / "
    "rows_match / hash_match comparing the drained stream against the "
    "identical batch left join (NULL-marked content hash, so a missing "
    "NULL row or a spurious match flips hash_match). "
    "tests/test_stream_stream_join.py pins the semantics on top.",
    tags=("streaming", "join"),
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    vdir, pdir, out, ckpt = _demo_dirs("stream_join_outer_", "views", "purchases")
    n, u, hb = STREAM_OUTER_ROWS, STREAM_OUTER_USERS, STREAM_OUTER_HEARTBEAT_USER

    def ts(minute: int) -> str:
        return f"2026-01-01 {minute // 60:02d}:{minute % 60:02d}:00"

    views = (f"{i % u},{ts(2 * i)},{100 + i}" for i in range(n))
    _write_csv(os.path.join(vdir, "v_0.csv"), _JOIN_CSV_HEADER, views)
    # purchases for EVEN views only, 3 minutes after the view -- inside the
    # horizon; odd views are provably unmatched
    purchases = (f"{j % u},{ts(2 * j + 3)},{500 + j}" for j in range(0, n, 2))
    _write_csv(os.path.join(pdir, "p_0.csv"), _JOIN_CSV_HEADER, purchases)
    # Far-future heartbeats on BOTH streams: the query watermark is the
    # MIN across all watermarked inputs, so both sides must advance for
    # the final watermark to pass v_ts + horizon and release the NULL
    # rows. Heartbeats ride in the SAME micro-batch as the data: a
    # watermark is computed from a batch's max event time and applied only
    # from the NEXT batch on, so heartbeats sharing the data batch cannot
    # late-drop any real row — the drain is one data batch plus the final
    # no-data batch that emits the watermark-gated NULL rows (a heartbeat
    # batch of its own would cost one full trigger cycle of pure overhead).
    hb_ts = ts(2 * n + 240)
    for d, uid in ((vdir, hb), (pdir, hb + 1)):
        _write_csv(os.path.join(d, "z_heartbeat.csv"), _JOIN_CSV_HEADER, [f"{uid},{hb_ts},900000"])

    session = _stream_session(spark)
    stream = lambda d: _csv(session.readStream, _JOIN_SCHEMA, d).withWatermark("ts", "30 minutes")
    _drain(_interval_join(stream(vdir), stream(pdir), "left_outer"), out, ckpt)
    real = F.col("user_id") < u  # heartbeat rows excluded on both engines
    read = lambda d: _csv(spark.read, _JOIN_SCHEMA, d)
    batch = _interval_join(read(vdir), read(pdir), "left_outer").filter(real)
    return _with_evidence(spark.read.parquet(out).filter(real), batch)
