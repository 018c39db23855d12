"""Staging quality gate with dead-letter split (reference P3, S10).

Reference (`Full Load Scripts/stg_full_load.py:85-93,126,129-146`): rows
with `type == 'earthquake'` AND (depth<1 OR magError>0.5 OR
depthError>30 OR mag<1) are routed to a rejected CSV sink; everything
else (including ALL non-earthquake rows — the type conjunct is easy to
get wrong as an unconditional filter) passes. Missing numerics are
coalesced to 0 for the test only.

Beam does this as one ParDo with tagged outputs; Spark renders it as a
cached parse + two filters (one pass over storage, two cheap in-memory
scans — `df.persist()` is the Beam-sharing equivalent, SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def reject_predicate(
    type_col: str = "type",
    depth_col: str = "depth",
    mag_col: str = "mag",
    mag_error_col: str = "magError",
    depth_error_col: str = "depthError",
    gated_type: str = "earthquake",
) -> Column:
    def num(c: str) -> Column:
        return F.coalesce(F.col(c).try_cast("double"), F.lit(0.0))

    return (F.col(type_col) == gated_type) & (
        (num(depth_col) < 1)
        | (num(mag_error_col) > 0.5)
        | (num(depth_error_col) > 30)
        | (num(mag_col) < 1)
    )


def malformed_predicate(
    depth_col: str = "depth",
    mag_col: str = "mag",
    mag_error_col: str = "magError",
    depth_error_col: str = "depthError",
) -> Column:
    """Rows the reference silently drops: a gate numeric is present but
    unparseable, so its float() raised and the except-branch swallowed
    the row (stg_full_load.py:106-107) — neither accepted nor rejected."""
    bad = F.lit(False)
    for c in (depth_col, mag_col, mag_error_col, depth_error_col):
        bad = bad | (F.col(c).isNotNull() & F.col(c).try_cast("double").isNull())
    return bad


def quality_split(
    df: DataFrame, predicate: Column, malformed: Column | None = None
) -> tuple[DataFrame, DataFrame]:
    """(accepted, rejected). Caller should persist `df` before two sinks.

    Rows matching `malformed` are dropped from BOTH outputs (the
    reference's except-and-skip behavior)."""
    if malformed is not None:
        df = df.filter(~F.coalesce(malformed, F.lit(False)))
    rejected = df.filter(predicate)
    accepted = df.filter(~F.coalesce(predicate, F.lit(False)))
    return accepted, rejected
