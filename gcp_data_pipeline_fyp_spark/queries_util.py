"""Shared helpers for the driver-facing query registry.

Two cross-engine parity rules used throughout (Spark result must
hash-match the DuckDB oracle value-for-value):

- **Nanosecond parquet timestamps**: the testdata stores
  TIMESTAMP(NANOS) which Spark cannot read natively; `load` flips
  `spark.sql.legacy.parquet.nanosAsLong` and rewrites those columns as
  `timestamp_micros(col div 1000)` — integer division, matching
  DuckDB's ns->us truncation bit-for-bit.
- **Deterministic float aggregation**: double sums depend on partial-
  aggregation order, so any SUM/AVG over doubles goes through
  `decimal(18,2)` (exact, order-independent) and is cast back/divided
  afterwards. MIN/MAX/CONT are order-independent and stay native.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# nanosecond-timestamp columns per table (stored as INT64 TIMESTAMP(NANOS))
NS_TS_COLUMNS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def load(
    spark: SparkSession, sf_dir: str, table: str, spread: bool = False
) -> DataFrame:
    """Read a testdata table.

    `spread=True` repartitions to defaultParallelism — for CPU-bound
    per-row work (hashing, vector math) over small compressed parquet,
    where one ~15 MB input split would otherwise serialize 50k rows of
    compute on a single core.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin the session timezone: the driver's session tz is not ours to
    # assume, and LTZ<->NTZ casts, unix_timestamp on NTZ columns, and
    # pandas collection of LTZ timestamps all shift with it — UTC makes
    # them identities and matches the DuckDB oracle's naive timestamps
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    for c in NS_TS_COLUMNS.get(table, []):
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dt == "timestamp_ntz":
            # micros-encoded parquet reads as NTZ; normalize to TIMESTAMP
            # so downstream unix_micros/window functions always see one
            # type (UTC session pinned above makes this cast an identity)
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if spread:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def scratch_dir(spark: SparkSession, tag: str, sf_dir: str) -> str:
    """Per-application /tmp scratch path for probes that round-trip
    through a write: keyed on (tag, applicationId, sf basename) so two
    concurrent sessions — or distinct sf dirs sharing a basename —
    never read each other's partially-overwritten output (ADVICE r9,
    the orc_roundtrip race, fixed for every scratch site)."""
    return (
        f"/tmp/spark_graft_{tag}_"
        f"{spark.sparkContext.applicationId}_"
        f"{os.path.basename(sf_dir.rstrip('/'))}"
    )


def dec_avg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Deterministic average: exact decimal sum / count, rounded
    (cross-engine-safe `roundn`, paired with `dec_avg_sql`)."""
    c = F.col(col) if isinstance(col, str) else col
    return roundn(
        F.sum(c.cast("decimal(18,2)")).cast("double") / F.count(c), scale
    ).alias(alias)


def roundn(col: Column | str, n: int = 6) -> Column:
    """Cross-engine-safe round-to-n-decimals for DOUBLE emissions:
    round(v * 10^n) / 10^n, both steps identical IEEE ops in Spark and
    DuckDB (pair with `roundn_sql`).

    Spark's own `F.round(v, n)` HALF_UPs the SHORTEST DECIMAL REPR of
    the double while DuckDB rounds the true binary value, so the two
    diverge by one ulp-of-scale on tie-adjacent doubles (repr
    "0.0159085" -> 0.015909 vs 0.01590849999... -> 0.015908) — the
    same latent class the micro6 rewrite closed, fuzz-pinned in
    tests/test_properties.py. Scaling FIRST puts both engines on the
    identical product double, where integer rounding agrees everywhere
    (ties are exactly-representable .5s, rounded half-away-from-zero by
    both). Use this (or micro6) for every certified double emission;
    raw F.round on the certification surface is the bug this replaces.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.lit(float(10**n))
    return F.round(c * s, 0) / s


def roundn_sql(expr: str, n: int = 6) -> str:
    """DuckDB mirror of `roundn` (same scale-round-descale chain).

    The trailing `+ 0.0` closes a negative-zero asymmetry: for v in
    (-0.5/10^n, 0), Spark's F.round goes through BigDecimal HALF_UP
    and yields +0.0 while DuckDB's round() preserves the IEEE sign and
    yields -0.0 — numerically equal, but the certification hash
    canonicalizes by repr, where '-0.0' != '0.0'. IEEE addition
    normalizes the sign (-0.0 + 0.0 = +0.0) and is an identity on
    every other value. Repr-pinned in tests/test_properties.py."""
    s = 10**n
    return f"((round(({expr}) * {s}.0) / {s}.0) + 0.0)"


def micro6(col: Column | str) -> Column:
    """Integer micro-units of a value (bigint): round(v * 1e6).

    The only always-hash-safe numeric emission on the certification
    surface besides strings: DuckDB hands DECIMAL columns back to the
    driver as float64 (`1.5`) while Spark returns `Decimal('1.500000')`,
    so decimal output can never hash-equal across engines; raw doubles
    diverge on JVM scientific notation for |v| < 1e-3. Scaled int64
    renders identically everywhere. Pair with `micro6_sql`.

    Scale-THEN-round, one rounding total: both engines first compute
    the identical IEEE product v * 1e6, then round it to an integer
    half-away-from-zero — Java's HALF_UP on the product's shortest
    repr and DuckDB's round() agree everywhere on that form (ties
    included; fuzz-pinned in tests/test_properties.py). The previous
    round(v, 6)-then-scale form diverged on tie-adjacent values:
    Spark HALF_UPs the SHORTEST DECIMAL REPR of the double (repr
    "0.0159085" -> 0.015909) while DuckDB rounds the true binary value
    (0.01590849999... -> 0.015908). Domain: |v| < ~9.2e12 (int64).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(1000000.0), 0).cast("bigint")


def micro6_sql(expr: str) -> str:
    """DuckDB mirror of `micro6` (same scale-then-round-once chain)."""
    return f"CAST(round(({expr}) * 1000000.0) AS BIGINT)"


def dec_avg_sql(expr: str, alias: str, scale: int = 6) -> str:
    avg = f"cast(sum(cast({expr} as decimal(18,2))) as double) / count({expr})"
    return f"{roundn_sql(avg, scale)} as {alias}"
