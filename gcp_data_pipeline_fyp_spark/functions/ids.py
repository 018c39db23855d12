"""Stable event-identity hashing (reference P12).

The reference is internally inconsistent: the full load uses Python
`abs(hash(time+lat+lon))` (`Full Load Scripts/ods_full_load2.py:112`),
which is PYTHONHASHSEED-dependent and therefore non-deterministic
across runs; the delta load uses a 63-bit slice of SHA-1 over
`f"{time}_{lat}_{lon}"` (`Delta Load Scripts/ods_delta_load2.py:21-24`).

This engine standardizes on one deterministic form everywhere
(SURVEY.md §7 "Event-id hashing"): a 60-bit positive integer from the
first 15 hex chars of md5 over the '_'-joined key columns. md5 instead
of sha1 is an intentional divergence so the DuckDB correctness oracle
(which ships no sha1) can reproduce ids bit-for-bit; the shape
(hash -> hex slice -> int64) is the delta-load's scheme.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def h60(col: Column) -> Column:
    """60-bit md5 hash of a string column:
    cast(conv(substr(md5(col),1,15),16,10) as long)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def stable_event_id(*key_cols: Column | str) -> Column:
    """60-bit deterministic id: h60 of the '_'-joined key columns."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return h60(F.concat_ws("_", *[c.cast("string") for c in cols]))
