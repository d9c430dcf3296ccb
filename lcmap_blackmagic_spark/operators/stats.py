"""Aggregation operators (SURVEY §2.4)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_statistics(df: DataFrame, label_col: str = "label") -> DataFrame:
    """Distinct label values with count and relative frequency —
    the reference's ``statistics`` (tile.py:191-212,
    ``numpy.unique(return_counts=True)`` then ``cnts/sum``).

    Hash aggregate first (map-side partial combine); the pct-of-total
    divides by a scalar aggregate joined back via broadcast — NOT an
    unpartitioned window, which plans as a single-partition WindowExec
    and melts the moment a caller points this at a non-aggregated
    column. The total here is one row, so the cross join is free.
    """
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    return (counts.crossJoin(F.broadcast(total))
            .withColumn("pct", F.col("cnt") / F.col("__total"))
            .drop("__total"))


def label_counts(df: DataFrame, label_col: str = "label") -> dict:
    """``{label: row count}`` on the driver, a NULL label included as
    ``None`` — one collect of one row per distinct label."""
    return {r[0]: r[1] for r in df.groupBy(label_col).count().collect()}
