"""Staging/ODS cleaning expressions (reference P2, P4-P7).

Reference semantics being preserved (see SURVEY.md §1 "Null semantics"):

- `null_coerce`: trim, then `'' / '0' / 0` -> NULL for EVERY column
  (`Full Load Scripts/stg_full_load.py:78-83`). Yes, this nulls a
  legitimate 0 — it is observable behavior of the reference and is
  replicated deliberately.
- `safe_double` / `safe_long`: `None/''/'null'` -> NULL, parse failure
  -> NULL (`Full Load Scripts/ods_full_load2.py:51-64`). Expressed with
  `try_cast` so ANSI mode never throws; `safe_long` goes through double
  first because the reference does `int(float(v))`.
- `audit_columns`: insertion/update timestamps + job id + source file
  (`stg_full_load.py:95-100`, job-id stamp P6 in 8 of 10 pipelines).
  A single driver-captured literal timestamp is used instead of
  `current_timestamp()` so multi-sink stages agree (SURVEY.md §7).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F


def null_coerce(col: Column | str) -> Column:
    """Trim; '' and '0' -> NULL (reference stg_full_load.py:78-83)."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    return F.when(c.isin("", "0"), F.lit(None)).otherwise(c)


def _cleaned(col: Column | str) -> Column:
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    return F.when(c.isin("", "null"), F.lit(None)).otherwise(c)


def clean_str(col: Column | str) -> Column:
    """ODS `clean()`: None/''/'null' -> NULL for label columns
    (ods_full_load2.py:63-64)."""
    return _cleaned(col)


def safe_double(col: Column | str) -> Column:
    """'' / 'null' / unparseable -> NULL else double (ods_full_load2.py:51-58)."""
    return _cleaned(col).try_cast("double")


def safe_long(col: Column | str) -> Column:
    """int(float(v)) with NULL on failure (ods_full_load2.py:60-64).

    truncation toward zero matches Python int(float); try_cast
    double->long truncates in Spark (non-ANSI semantics via try_cast).
    """
    return _cleaned(col).try_cast("double").try_cast("long")


def audit_columns(
    job_id: str,
    data_source: str,
    run_ts: _dt.datetime | None = None,
) -> dict[str, Column]:
    """The four audit columns stamped by every stage."""
    ts = F.lit(run_ts) if run_ts is not None else F.current_timestamp()
    return {
        "_DT_insertion_date": ts.cast("timestamp"),
        "_DT_updated_date": F.lit(None).cast("timestamp"),
        "_LB_job_execution_id": F.lit(job_id),
        "_LB_data_source": F.lit(data_source),
    }
