import pytest

from perfbench.checks import content_hash


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


ROWS = [
    ("Laptops", 50000.0, 2, None, "2023-01-01 00:00:00"),
    ("Tablets", None, 3, 15000.0, "2023-02-03 00:00:00"),
    ("Headphones", 900.0, None, 9000.0, "2023-03-04 00:00:00"),
    ("Laptops", 31000.0, 1, 31000.0, "2023-01-01 00:00:00"),
]


def frame(spark, rows, processed_at="2026-01-01 00:00:00"):
    from pyspark.sql import functions as F

    schema = "product string, price float, quantity int, total float, ordered_at string"
    return (
        spark.createDataFrame(rows, schema)
        .withColumn("ordered_at", F.to_timestamp("ordered_at"))
        .withColumn("processed_at", F.to_timestamp(F.lit(processed_at)))
    )


def test_hash_ignores_row_order_and_processed_at(spark):
    a = frame(spark, ROWS)
    b = frame(spark, ROWS[::-1], processed_at="2027-05-05 00:00:00")
    assert content_hash(a) == content_hash(b)


def test_one_row_dropped_and_one_duplicated_changes_the_hash(spark):
    a = frame(spark, ROWS)
    b = frame(spark, [ROWS[0], ROWS[1], ROWS[2], ROWS[0]])  # row 3 lost, row 0 twice
    assert content_hash(b)[0] == content_hash(a)[0]
    assert content_hash(b) != content_hash(a)


def test_null_moving_between_columns_changes_the_hash(spark):
    a = frame(spark, [("Tablets", None, 3, 5.0, "2023-01-01 00:00:00")])
    b = frame(spark, [("Tablets", 5.0, 3, None, "2023-01-01 00:00:00")])
    assert content_hash(a) != content_hash(b)
