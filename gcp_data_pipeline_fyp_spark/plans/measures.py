"""The analytical query surface: 12 DAX measures (reference DAX Measures Used.txt).

Each `CALCULATE(agg, dim[col]=literal)` is a star-join + filter +
aggregate; Power BI additionally slices by any dim attribute, so every
measure takes an optional `by` grouping (SURVEY.md §2.4). The
fact->dim_type join is broadcast (dims are tiny); with a grouping the
aggregation is partial-final (map-side combine) by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def star_events(fact: DataFrame, dim_type: DataFrame) -> DataFrame:
    """fact ⋈ dim_type — the V_FACT_Event view the measures read."""
    return fact.join(
        F.broadcast(dim_type.select("ID_type_ID", "LB_type")), "ID_type_ID", "left"
    )


def _agg(df: DataFrame, expr, by: Sequence[str] | None):
    if by:
        return df.groupBy(*by).agg(expr)
    return df.agg(expr)


def latest_daily_update(star: DataFrame, by: Sequence[str] | None = None) -> DataFrame:
    """Q1: MAX(fact._DT_insertion_date) (DAX Measures Used.txt:4-5)."""
    return _agg(star, F.max("_DT_insertion_date").alias("latest_daily_update"), by)


def avg_earthquake_magnitude(star: DataFrame, by: Sequence[str] | None = None) -> DataFrame:
    """Q2: AVG(VL_n_mag) where LB_type='earthquake' (:8-11)."""
    d = star.filter(F.col("LB_type") == "earthquake")
    return _agg(d, F.avg("VL_n_mag").alias("avg_earthquake_magnitude"), by)


def max_earthquake_depth(star: DataFrame, by: Sequence[str] | None = None) -> DataFrame:
    """Q3: MAX(VL_n_depth) where LB_type='earthquake' (:14-17)."""
    d = star.filter(F.col("LB_type") == "earthquake")
    return _agg(d, F.max("VL_n_depth").alias("max_earthquake_depth"), by)


def max_earthquake_magnitude(star: DataFrame, by: Sequence[str] | None = None) -> DataFrame:
    """Q4: MAX(VL_n_mag) where LB_type='earthquake' (:20-23)."""
    d = star.filter(F.col("LB_type") == "earthquake")
    return _agg(d, F.max("VL_n_mag").alias("max_earthquake_magnitude"), by)


# Q5-Q11 type literals (DAX Measures Used.txt:26-65)
COUNTED_TYPES = [
    "earthquake",
    "explosion",
    "ice quake",
    "landslide",
    "quarry blast",
    "sonic boom",
    "volcanic eruption",
]


def totals_by_type(star: DataFrame) -> DataFrame:
    """Q5-Q11 in one query: COUNT(*) per seismic-activity type."""
    return (
        star.filter(F.col("LB_type").isin(COUNTED_TYPES))
        .groupBy("LB_type")
        .agg(F.count("*").alias("total_events"))
    )


def total_seismic_events(star: DataFrame, by: Sequence[str] | None = None) -> DataFrame:
    """Q12: COUNT(*) over fact (:68)."""
    return _agg(star, F.count("*").alias("total_seismic_events"), by)
