"""JSONL corpus source/sink — the lingua franca of public text corpora.

Every major public pretraining corpus ships as newline-delimited JSON
(C4/mC4, The Pile, RedPajama, Dolma, FineWeb release formats), so the
engine needs a first-class path from `*.jsonl[.gz]` into the DataFrame
surface and back out.

100 TB discipline baked in:

- **Schema is REQUIRED on read.** `spark.read.json` without a schema
  runs a full inference pass over the data — a second complete scan of
  the corpus before the first real job. At 100 TB that doubles ingest
  cost; with an explicit DDL the reader is single-pass and the scan
  prunes to the requested columns.
- **Corrupt-line quarantine, not job failure.** Web-scale JSONL always
  contains torn/invalid lines; PERMISSIVE mode + a corrupt-record
  column routes them to a rejected sink (same dead-letter discipline
  as the CSV staging gate, reference parity S10).
- **Compression on write.** gzip per the public-corpus convention
  (zstd when the cluster has it); one file per shard bounded by
  `maxRecordsPerFile`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    keep_corrupt: bool = True,
) -> DataFrame:
    """Schema-pinned JSONL read (single-pass, no inference scan).

    With `keep_corrupt`, invalid lines surface as rows whose
    `_corrupt_record` column holds the raw line and every schema column
    is NULL — split them off with `split_corrupt` before processing.
    """
    schema = f"{schema_ddl}, {CORRUPT_COL} string" if keep_corrupt else schema_ddl
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid rows without the corrupt column, corrupt raw lines).

    Spark requires caching the frame before filtering on the corrupt
    column (the reader would otherwise re-parse and drop the raw line);
    the split caches once and both sides reuse it.
    """
    if CORRUPT_COL not in df.columns:
        # empty corrupt frame, raw typed STRING so it unions cleanly
        # with real corrupt frames in a shared dead-letter sink
        return df, df.limit(0).select(
            F.lit(None).cast("string").alias("raw")
        )
    df = df.cache()
    valid = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw")
    )
    return valid, corrupt


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    max_records_per_file: int | None = None,
) -> None:
    """Write a corpus as JSONL (one object per line), optionally
    compressed and with bounded file sizes."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.json(path)
