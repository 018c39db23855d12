"""Declarative data-quality expectations + schema contract checks.

The reference validates feeds with a hand-coded accept/reject predicate
(quality gate, `stg_full_load.py` — see operators/quality.py); this
module generalizes that idea into the declarative constraint suite a
training-data pipeline runs before every ingest promotion: null checks,
uniqueness, accepted values, ranges, regex shape, referential
integrity, and row-count bounds, each reported as one
(rule, kind, target, n_violations, passed) row.

Scale design:
- every row-level rule (not_null / accepted_values / in_range /
  matches_regex / satisfies) compiles to one conditional-sum aggregate;
  ALL of them evaluate in a SINGLE pass over the table — adding a rule
  adds a column to one aggregation, never a scan;
- `unique` rules ride the same aggregation via count-distinct (Spark
  plans multi-distinct with an Expand: each unique rule replicates the
  scanned rows once inside the single shuffle round — still one scan of
  storage, and fine for the handful of key columns real contracts pin);
- `referential` rules need the reference table, so each adds one
  left-anti join against the DISTINCT reference keys (dimension-sized,
  normally broadcast — Catalyst/AQE picks);
- the report itself is rule-count rows — driver-sized by construction.

Certification-safe output: counts are BIGINT, passed is BOOLEAN,
everything else STRING (integer/string/boolean render identically
across engines — see queries_util.micro6 note).
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """One declarative constraint; build with the constructor helpers."""

    name: str
    kind: str
    target: str
    # row-level violation predicate (None for aggregate-shaped rules)
    violated: object = None
    # unique: the key columns
    cols: tuple[str, ...] = ()
    # referential: reference frame + key column
    ref: DataFrame | None = None
    ref_col: str | None = None
    # row_count bounds
    lo: int | None = None
    hi: int | None = None


def not_null(col: str, name: str | None = None) -> Expectation:
    return Expectation(
        name or f"{col}_not_null", "not_null", col, violated=F.col(col).isNull()
    )


def accepted_values(
    col: str, values: list, name: str | None = None
) -> Expectation:
    return Expectation(
        name or f"{col}_accepted_values",
        "accepted_values",
        col,
        violated=F.col(col).isNotNull() & ~F.col(col).isin(*values),
    )


def in_range(col: str, lo, hi, name: str | None = None) -> Expectation:
    """NULLs don't violate a range (pair with not_null to forbid them)."""
    return Expectation(
        name or f"{col}_in_range",
        "in_range",
        col,
        violated=F.col(col).isNotNull() & ~F.col(col).between(lo, hi),
    )


def matches_regex(col: str, pattern: str, name: str | None = None) -> Expectation:
    return Expectation(
        name or f"{col}_matches_regex",
        "matches_regex",
        col,
        violated=F.col(col).isNotNull() & ~F.col(col).rlike(pattern),
    )


def satisfies(name: str, predicate, target: str = "") -> Expectation:
    """Free-form rule: `predicate` is a boolean Column that must hold."""
    return Expectation(name, "satisfies", target, violated=~predicate)


def unique(*cols: str, name: str | None = None) -> Expectation:
    """Excess rows beyond one per distinct key. Rows with a NULL key
    column are excluded (cover those with not_null)."""
    return Expectation(
        name or f"{'_'.join(cols)}_unique", "unique", ", ".join(cols), cols=cols
    )


def referential(
    col: str, ref: DataFrame, ref_col: str, name: str | None = None
) -> Expectation:
    """Every non-NULL value of `col` must exist in ref[ref_col]."""
    return Expectation(
        name or f"{col}_referential", "referential", col, ref=ref, ref_col=ref_col
    )


def row_count_between(
    lo: int | None = None, hi: int | None = None, name: str | None = None
) -> Expectation:
    return Expectation(name or "row_count", "row_count", "", lo=lo, hi=hi)


def row_violation(rules: list[Expectation]) -> Column | None:
    """True on a row that breaks any ROW-LEVEL rule (a NULL predicate
    counts as no violation): the quarantine split of an ingest. None
    when no rule is row-level — aggregate-shaped rules (unique /
    row_count / referential) cannot name individual rows."""
    preds = [
        F.coalesce(r.violated, F.lit(False))
        for r in rules
        if r.violated is not None
    ]
    if not preds:
        return None
    return reduce(operator.or_, preds, F.lit(False))


def expectations_report(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """Evaluate all rules; one (rule, kind, target, n_violations, passed)
    row per rule. Row-level + unique + row_count rules share ONE
    aggregation pass; each referential rule adds one anti-join."""
    agg_rules = [r for r in rules if r.kind != "referential"]
    ref_rules = [r for r in rules if r.kind == "referential"]

    out = None
    if agg_rules:
        aggs = []
        for i, r in enumerate(agg_rules):
            if r.kind == "unique":
                keyed = F.lit(True)
                for c in r.cols:
                    keyed = keyed & F.col(c).isNotNull()
                expr = (
                    F.sum(F.when(keyed, F.lit(1)).otherwise(F.lit(0)))
                    - F.count_distinct(*[F.col(c) for c in r.cols])
                )
            elif r.kind == "row_count":
                n = F.count(F.lit(1))
                expr = F.lit(0).cast("long")
                if r.lo is not None:
                    expr = expr + F.when(n < r.lo, F.lit(1)).otherwise(F.lit(0))
                if r.hi is not None:
                    expr = expr + F.when(n > r.hi, F.lit(1)).otherwise(F.lit(0))
            else:
                expr = F.sum(F.when(r.violated, F.lit(1)).otherwise(F.lit(0)))
            aggs.append(F.coalesce(expr.cast("long"), F.lit(0)).alias(f"__r{i}"))
        one = df.agg(*aggs)
        out = one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r.name).alias("rule"),
                            F.lit(r.kind).alias("kind"),
                            F.lit(r.target).alias("target"),
                            F.col(f"__r{i}").alias("n_violations"),
                        )
                        for i, r in enumerate(agg_rules)
                    ]
                )
            ).alias("__e")
        ).select("__e.*")

    for r in ref_rules:
        keys = r.ref.select(F.col(r.ref_col).alias(r.target)).distinct()
        miss = (
            df.select(r.target)
            .filter(F.col(r.target).isNotNull())
            .join(keys, r.target, "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
            .select(
                F.lit(r.name).alias("rule"),
                F.lit(r.kind).alias("kind"),
                F.lit(r.target).alias("target"),
                "n_violations",
            )
        )
        out = miss if out is None else out.unionByName(miss)

    if out is None:
        raise ValueError("expectations_report: no rules given")
    return out.withColumn("passed", F.col("n_violations") == 0)


# ---------------------------------------------------------------- contracts
# Spark type name -> engine-neutral class, mirrored by the DuckDB CASE
# mapping in queries_misc.SQL_SCHEMA_CONTRACT. Extend both together.
_TYPE_CLASS = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "integer": "int",
    "bigint": "int",
    "long": "int",
    "float": "float",
    "double": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def type_class(spark_type_name: str) -> str:
    """Engine-neutral type class for a Spark simpleString type name."""
    t = spark_type_name.lower()
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("array"):
        return "array"
    return _TYPE_CLASS.get(t, t)


def schema_contract_report(df: DataFrame, contract: dict[str, str]) -> DataFrame:
    """Compare a frame's schema against a pinned {column: type_class}
    contract; one row per column either side knows:
    (column_name, expected, actual, status) with status in
    ok | type_changed | missing | unexpected.

    This is the ingest-promotion gate for schema drift: a feed that
    added, dropped, or retyped a column fails loudly BEFORE a multi-hour
    load job discovers it mid-shuffle. Pure metadata — no data scan.
    """
    actual = {f.name: type_class(f.dataType.simpleString()) for f in df.schema.fields}
    rows = []
    for col, exp in contract.items():
        if col not in actual:
            rows.append((col, exp, None, "missing"))
        elif actual[col] != exp:
            rows.append((col, exp, actual[col], "type_changed"))
        else:
            rows.append((col, exp, actual[col], "ok"))
    for col, act in actual.items():
        if col not in contract:
            rows.append((col, None, act, "unexpected"))
    return df.sparkSession.createDataFrame(
        rows, "column_name string, expected string, actual string, status string"
    )


def rules_from_spec(spec: list[dict]) -> list[Expectation]:
    """Build a rule list from JSON-able dicts (the CLI contract format).

    Kinds: not_null {col}, unique {cols}, accepted_values {col, values},
    in_range {col, lo, hi}, matches_regex {col, pattern},
    row_count {lo?, hi?}. Unknown kinds raise — a typo'd contract must
    not silently validate nothing.
    """
    out: list[Expectation] = []
    for r in spec:
        kind = r.get("kind")
        name = r.get("name")
        if kind == "not_null":
            out.append(not_null(r["col"], name))
        elif kind == "unique":
            out.append(unique(*r["cols"], name=name))
        elif kind == "accepted_values":
            out.append(accepted_values(r["col"], r["values"], name))
        elif kind == "in_range":
            out.append(in_range(r["col"], r["lo"], r["hi"], name))
        elif kind == "matches_regex":
            out.append(matches_regex(r["col"], r["pattern"], name))
        elif kind == "row_count":
            out.append(row_count_between(r.get("lo"), r.get("hi"), name))
        else:
            raise ValueError(f"unknown expectation kind: {kind!r}")
    return out


def table_fingerprint(df, cols=None):
    """Order-independent content fingerprint of a table: n_rows plus
    the exact integer SUM of each row's 60-bit keyed md5 — equal
    tables produce equal fingerprints on any engine, partitioning,
    or row order, so two clusters (or a migration's before/after)
    can compare datasets by exchanging two numbers instead of rows.

    Row canonicalization uses the sampling module's length-prefixed
    key tokens (NULL-safe, collision-safe under concatenation); the
    sum accumulates as decimal(38,0) — exact, commutative, room for
    2^60 · 10^18 rows. The checksum emits as a STRING because both
    engines render integral decimals identically while 128-bit
    integers differ in driver type. Duplicate rows fold in by
    multiplicity (a true multiset digest).

    One scan, one reduce; nothing shuffles but partial sums.
    """
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.functions.ids import h60
    from gcp_data_pipeline_fyp_spark.operators.sampling import _key_token

    use = list(cols) if cols is not None else list(df.columns)
    h = h60(F.concat(*[_key_token(F.col(c)) for c in use]))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("checksum"),
    )
