"""date_dim generator (SURVEY.md §1).

The reference ships the dimension as a 7,670-row CSV covering
2025-01-02..2046-01-01 (reference staging/date_dim_without_quarter.csv,
imported by staging/import_date_dim.py with a 10-of-18 column
projection). The engine *derives* it: a date sequence exploded on the
cluster, date parts as native expressions — no CSV to ship, any range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_date_dim(spark: SparkSession, start: str, end: str) -> DataFrame:
    """Materialize the 10-column warehouse date_dim for [start, end].

    date_sk is 1-based in sequence order — deterministic, matching the
    reference's convention that the CSV row order defines the key. The
    sequence yields consecutive days, so the key is the day offset from
    `start` plus one: no global window, no single-partition sort.
    """
    first = F.lit(start).cast("date")
    days = spark.range(1).select(
        F.explode(F.sequence(first, F.lit(end).cast("date"))).alias("full_date")
    )
    return days.select(
        (F.datediff("full_date", first) + 1).cast("long").alias("date_sk"),
        "full_date",
        F.dayofmonth("full_date").alias("day_since_month_start"),
        F.date_format("full_date", "EEEE").alias("day_of_week_calendar"),
        F.date_format("full_date", "MMMM").alias("calendar_month_name"),
        F.dayofmonth("full_date").alias("day_of_month"),
        F.dayofyear("full_date").alias("day_of_year"),
        F.weekofyear("full_date").cast("string").alias("week_of_year"),
        F.lit("Non-Holiday").alias("is_holiday"),
        F.when(F.dayofweek("full_date").isin(1, 7), "Weekend")
        .otherwise("Weekday")
        .alias("day_type"),
    )
