"""Drop-in batch entry point — the engine's analog of the reference job
(scripts/process_sales.py: argparse file path + sink args, explicit-schema
CSV read, clean, append to the sink).

A user of the reference runs:

    process_sales.py gs://bucket/raw/f.csv --temp_gcs_bucket .. --bq_table ..

here:

    python -m sales_data_pipeline_gcp_spark.process_sales <csv path/glob> \
        --out /path/to/table [--format parquet|csv|json] [--no-audit] \
        [--partition-by product]

The BigQuery-via-staging-bucket sink (reference scripts/process_sales.py:
21,66-69) becomes a local/cluster append sink; on a real deployment the
same DataFrameWriter takes the BigQuery connector format string unchanged.

Append layout must be CONSISTENT across runs (same --format and
--partition-by): like any Hive-style table dir, mixing partitioned and flat
files in one location makes readers silently skip part of the data.
"""

from __future__ import annotations

import argparse

from sales_data_pipeline_gcp_spark.cleaning import clean_sales
from sales_data_pipeline_gcp_spark.io import read_sales_csv, sink_rows, write_append
from sales_data_pipeline_gcp_spark.session import get_spark


def run(input_path: str, out: str, *, fmt: str = "parquet", audit: bool = True, partition_by: list[str] | None = None, spark=None) -> int:
    """Read -> clean -> append. Returns the rows in the sink after the
    append (its running total, not the rows this call wrote).

    A parquet run is one Spark job, the write: the total comes from the
    sink's parquet footers (``io.sink_rows``). A missing input raises
    ``[PATH_NOT_FOUND]`` before anything is written; a header-only CSV
    appends no rows."""
    spark = spark or get_spark("process_sales")
    df = clean_sales(read_sales_csv(spark, input_path), audit=audit)
    write_append(df, out, fmt=fmt, partition_by=partition_by)
    return sink_rows(spark, out, fmt)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("input_path", help="CSV file or glob to ingest")
    p.add_argument("--out", required=True, help="output table directory")
    p.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    p.add_argument("--no-audit", action="store_true", help="omit processed_at")
    p.add_argument("--partition-by", nargs="*", default=None)
    args = p.parse_args(argv)
    n = run(
        args.input_path,
        args.out,
        fmt=args.format,
        audit=not args.no_audit,
        partition_by=args.partition_by,
    )
    print(f"rows in sink after append: {n}")


if __name__ == "__main__":
    main()
