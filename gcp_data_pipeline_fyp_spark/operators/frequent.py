"""Exact heavy hitters via sketch-then-verify.

Finding items above a frequency threshold with a plain
`groupBy(item).count()` shuffles the FULL item universe — at 100 TB
the vocabulary-sized shuffle dominates. The classic two-pass fix:

1. SKETCH: a per-partition frequent-items pass proposes a candidate
   superset (Karp-Schenker-Papadimitriou via `DataFrame.freqItems`,
   whose guarantee is no false NEGATIVES at support `s`). Output is a
   handful of items — driver-safe by construction (≤ 1/s items).
2. VERIFY: exact counts for the candidates only — the corpus scan
   filters to candidate rows (broadcast `isin`), so the shuffle
   carries candidate keys only, not the universe.

The final output is EXACT and partitioning-independent (the sketch
only affects which non-hitters get discarded early), so it
oracle-checks against a plain GROUP BY ... HAVING in DuckDB.

Crossover (measured, BASELINE.md heavy-hitters scaling row): with a
SMALL vocabulary the plain groupBy shuffles less — the sketch pass is
an extra scan with its own aggregation, and the sf0.1 synthetic
corpus has a few thousand types, so sketch+verify moved ~2.9x the
bytes of the direct agg there. The design pays off when the item
universe is large relative to the hitter set (web-scale token
streams: 10^8+ Zipfian types vs a bounded candidate list) — that is
the 100 TB shape; the wall-clock scale row (flat at 16x data) shows
the same story. For known-small universes, use the direct groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame, col: str, min_fraction: float, strategy: str = "sketch"
) -> DataFrame:
    """Items of `col` appearing in > min_fraction of rows, with exact
    counts: (item, cnt), deterministic regardless of partitioning.

    `strategy="sketch"` (default) is the two-pass sketch-then-verify —
    right when the item universe dwarfs the hitter set (web-scale token
    streams). `strategy="direct"` is a plain groupBy+HAVING — fewer
    bytes when the universe is known-small (enums, country codes; see
    the measured crossover note above). Identical output either way.

    NULL items are excluded under BOTH strategies (the sketch pass
    cannot propose NULL as a candidate — `isin` is NULL-blind — so the
    direct path filters NULLs explicitly to keep the strategies
    interchangeable; a NULL-heavy column is a data-quality problem for
    the quality gate, not a hitter).
    """
    if strategy == "direct":
        total = df.count()
        floor = int(min_fraction * total)
        return (
            df.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).alias("item"))
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") > floor)
        )
    if strategy != "sketch":
        raise ValueError(f"unknown strategy {strategy!r}: use 'sketch' or 'direct'")
    # sketch pass: candidate superset (no false negatives at this support)
    candidates = df.freqItems([col], support=min_fraction).collect()[0][0]
    if not candidates:
        return df.select(
            F.col(col).alias("item"), F.lit(0).cast("long").alias("cnt")
        ).limit(0)
    total = df.count()
    floor = int(min_fraction * total)
    # verify pass: exact counts for candidates only; the filter prunes
    # the scan before any shuffle
    return (
        df.filter(F.col(col).isin(candidates))
        .groupBy(F.col(col).alias("item"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > floor)
    )


def cdc_snapshot(
    log: DataFrame,
    keys: list[str],
    ts_col: str,
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """Latest-state snapshot of a change log: last writer wins per key,
    keys whose latest op is a delete are dropped.

    The standard CDC-compaction operator (Debezium-style `I`/`U`/`D`
    logs -> queryable table): one shuffle on the key, a per-key
    `row_number` over event time (ties broken by op so a same-instant
    delete beats the paired insert), keep rank 1, drop deletes.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).desc(),
        # at identical timestamps the delete is ordered first (wins)
        F.when(F.col(op_col) == delete_op, 0).otherwise(1).asc(),
    )
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn")
    )
