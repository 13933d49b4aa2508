"""Time-dimension attribute derivation.

Re-expresses the reference's ``extractTimeData``
(src/Meshjoin.java:303-318): from an order timestamp derive
year / month / day / ISO week / quarter / day-name / weekend flag,
plus the season bucketing used by OLAP Q4
(SQL/OLAP Queries - Metro.sql:105-110).

All derivations are built-in column expressions — JVM-side, inside
whole-stage codegen; no UDFs (SURVEY §2.8 F1-F9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Timestamp parse pattern of the transactions CSV
# (src/Meshjoin.java:305: "yyyy-MM-dd H:mm:ss").
ORDER_DATE_FORMAT = "yyyy-MM-dd H:mm:ss"


def season(month: Column) -> Column:
    """Season bucketing CASE from OLAP Q4 (SQL/OLAP Queries - Metro.sql:105-110)."""
    return (
        F.when(month.isin(3, 4, 5), "Spring")
        .when(month.isin(6, 7, 8), "Summer")
        .when(month.isin(9, 10, 11), "Fall")
        .when(month.isin(12, 1, 2), "Winter")
    )


def is_weekend(ts: Column) -> Column:
    """Weekend flag (src/Meshjoin.java:311-312: day name in SATURDAY/SUNDAY).

    Spark dayofweek(): 1=Sunday .. 7=Saturday.
    """
    return F.dayofweek(ts).isin(1, 7)


def time_attribute_columns(ts: Column) -> dict[str, Column]:
    """The TimeDimension attribute columns
    (SQL/Star_Schema_Metro.sql:45-56) derived from ``ts``, by output
    name in table order — for callers that emit them inside a wider
    projection (``operators.etl.build_fact``)."""
    return {
        "year": F.year(ts),
        "month": F.month(ts),
        "day": F.dayofmonth(ts),
        "week": F.weekofyear(ts),  # ISO week, matches WeekFields.ISO
        "quarter": F.quarter(ts),
        "day_name": F.upper(F.date_format(ts, "EEEE")),
        "is_weekend": is_weekend(ts),
        "season": season(F.month(ts)),
    }


def with_time_attributes(df: DataFrame, ts_col: str = "order_date") -> DataFrame:
    """Append the TimeDimension attribute columns
    (SQL/Star_Schema_Metro.sql:45-56) derived from ``ts_col``, in one
    projection; a column of ``df`` with an attribute's name is
    replaced in place.
    """
    return df.withColumns(time_attribute_columns(F.col(ts_col)))


def time_dimension(
    df: DataFrame, ts_col: str = "order_date", source_col: str | None = None
) -> DataFrame:
    """Build a deduplicated TimeDimension table from event timestamps.

    The reference keys TimeDimension by a stream-supplied Time_ID with a
    composite unique key (Time_ID, Order_Date)
    (SQL/Star_Schema_Metro.sql:46-55; insert guard src/Meshjoin.java:321-340).
    By default we derive time_id deterministically from the timestamp
    itself (epoch seconds), which preserves the one-row-per-timestamp
    invariant without a driver-side counter. Parity mode
    (``source_col="time_id"``) instead carries the stream's Time_ID
    field through (src/GenerateStream.java:23-29), deduplicating on
    the reference's composite (time_id, order_date) key.
    """
    if source_col is not None:
        base = df.select(
            F.col(source_col).alias("time_id"), F.col(ts_col).alias("order_date")
        ).dropDuplicates(["time_id", "order_date"])
    else:
        base = (
            df.select(F.col(ts_col).alias("order_date"))
            .dropDuplicates(["order_date"])
            .withColumn("time_id", F.unix_timestamp(F.col("order_date")))
        )
    return with_time_attributes(base).select(
        "time_id", "order_date", "year", "month", "day", "week",
        "quarter", "day_name", "is_weekend", "season",
    )
