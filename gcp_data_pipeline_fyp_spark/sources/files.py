"""File-level sources/sinks (reference S3, S4, S10, S11, P19).

The reference runs a whole Dataflow job to glob-and-move one file
(`Full Load Scripts/move_to_archive_full_load.py`); here file ops are
driver-side (glob/rename on the local FS or any fsspec-style mount) —
no distributed compute for single-file metadata work. The CSV scan is
the Spark datasource with an explicit all-string schema, PERMISSIVE
mode, and short-row padding semantics (`stg_full_load.py:53-67`).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# the 22 USGS feed columns (stg_full_load.py:53-58)
RAW_EVENT_COLUMNS = [
    "time", "latitude", "longitude", "depth", "mag", "magType", "nst",
    "gap", "dmin", "rms", "net", "id", "updated", "place", "type",
    "horizontalError", "depthError", "magError", "magNst", "status",
    "locationSource", "magSource",
]


def read_raw_csv(
    spark: SparkSession, path: str, columns: Sequence[str] = RAW_EVENT_COLUMNS
) -> DataFrame:
    """Headered CSV -> all-string DataFrame, short rows padded with NULL.

    PERMISSIVE mode + explicit schema reproduces the reference's
    csv.reader + right-pad parse (P1). The raw line is preserved for
    the dead-letter sink as a reconstructed `original_csv_line`.
    """
    schema = StructType([StructField(c, StringType(), True) for c in columns])
    df = spark.read.options(header=True, mode="PERMISSIVE").schema(schema).csv(path)
    # reconstructed (not byte-identical) line for the dead-letter sink:
    # to_csv applies proper quoting so comma-bearing fields (USGS place
    # strings) survive a replay parse; NULLs serialize as empty fields,
    # so short-row padding is not distinguishable from real empties.
    return df.withColumn(
        "original_csv_line", F.to_csv(F.struct(*[F.col(c) for c in columns]))
    )


def write_rejected(rejected: DataFrame, base_path: str, run_id: str) -> str:
    """Dead-letter CSV-line sink under REJECTED/<run_id>/ (S10)."""
    out = os.path.join(base_path, "REJECTED", run_id)
    rejected.select(F.col("original_csv_line").alias("value")).write.mode(
        "overwrite"
    ).text(out)
    return out


_FULL_RE = re.compile(r"whole_month_(\d{2}|\d{6})")
_DELTA_RE = re.compile(r"all_day_(\d{8})[-_]\d{6}")


def archive_date_from_filename(filename: str) -> str | None:
    """P19: regex-extract the load date token used as archive partition."""
    m = _FULL_RE.search(filename) or _DELTA_RE.search(filename)
    return m.group(1) if m else None


def archive_file(src_path: str, archive_root: str, mode: str) -> str:
    """Move a raw file to ARCHIVE/{FULL_LOAD|DELTA_LOAD}/<date>/archive_<name> (S11)."""
    sub = "FULL_LOAD" if mode == "full" else "DELTA_LOAD"
    name = os.path.basename(src_path)
    date_token = archive_date_from_filename(name) or "unknown"
    dest_dir = os.path.join(archive_root, "ARCHIVE", sub, date_token)
    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, f"archive_{name}")
    shutil.move(src_path, dest)
    return dest


def feed_request_for(now: "datetime.datetime") -> tuple[str, str, str]:
    """(url, filename, mode) for the scheduled ingest (reference S1/O1,
    `cloud_function.py:20-31`).

    Day 1 of month (EEST clock): full load of the previous calendar
    month via the USGS query API, filename `whole_month_<MM>.csv`;
    any other day: the public all-day summary feed, filename
    `all_day_<YYYYmmdd-HHMMSS>.csv`. The actual HTTP GET + upload stays
    driver-side (see `fetch_feed`).
    """
    import datetime as _dt

    if now.day == 1:
        first_day_this_month = now.replace(day=1)
        last_month = first_day_this_month - _dt.timedelta(days=1)
        start_date = last_month.replace(day=1).strftime("%Y-%m-%d")
        url = (
            "https://earthquake.usgs.gov/fdsnws/event/1/query"
            f"?format=csv&starttime={start_date}"
        )
        return url, f"whole_month_{last_month.strftime('%m')}.csv", "full"
    url = "https://earthquake.usgs.gov/earthquakes/feed/v1.0/summary/all_day.csv"
    return url, f"all_day_{now.strftime('%Y%m%d-%H%M%S')}.csv", "delta"


def fetch_feed(now: "datetime.datetime", rawdata_dir: str) -> str:
    """Download the scheduled feed into RAWDATA/ (driver-side ingest).

    Gated on `requests` being importable and the network reachable —
    in offline environments use pre-landed files (the pipeline's file
    branch logic is independent of how files arrive).
    """
    import os as _os

    try:
        import requests
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("feed fetch needs the requests package") from e
    url, filename, _mode = feed_request_for(now)
    resp = requests.get(url, timeout=60)
    resp.raise_for_status()
    _os.makedirs(_os.path.join(rawdata_dir, "RAWDATA"), exist_ok=True)
    dest = _os.path.join(rawdata_dir, "RAWDATA", filename)
    with open(dest, "w") as f:
        f.write(resp.text)
    return dest
