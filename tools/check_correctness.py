#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` in DuckDB
over the same parquet tables, then compares row count, column names,
and order-insensitive values (rows sorted by all columns; floats
compared exactly after normalization — queries are expected to be
written deterministic, see queries_util.py). A probe whose executed
plan holds a banned operator (`plan_violations`) fails as well.

Usage: [SF_DIR=/root/testdata/sf0.01] python3 tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
BANNED_PLAN_NODES = ("CartesianProduct", "BatchEvalPython")


def plan_violations(plan: str) -> list[str]:
    """Banned operators in an executed-plan string: `CartesianProduct`
    (a non-broadcast cross join pairing full frames; the
    `crossJoin(F.broadcast(...))` idiom plans as BroadcastNestedLoopJoin
    and passes) and `BatchEvalPython` (a row-at-a-time Python UDF; the
    Arrow paths plan as ArrowEvalPython / MapInPandas and pass)."""
    return [f"plan holds {node}" for node in BANNED_PLAN_NODES if node in plan]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif s.dtype == object:
            df[c] = s.map(_norm_cell)
        elif pd.api.types.is_float_dtype(s):
            # astype(object) first: .map on a float64 Series coerces the
            # returned None back to NaN, and NaN != NaN breaks compare
            df[c] = s.astype(object).map(
                lambda v: None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else round(float(v), 9)
            )
        else:
            df[c] = s.astype(object).where(pd.notna(s), None)
    # column assignment can silently coerce back to float64 (NaN for
    # None) — force the whole frame to object and NaN -> None at the end
    df = df.astype(object)
    df = df.where(pd.notna(df), None)
    return df.sort_values(by=list(df.columns), key=lambda col: col.map(repr)).reset_index(drop=True)


def _norm_cell(v):
    import decimal

    import numpy as np

    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    return v


def render_risks(name: str, sdf: pd.DataFrame) -> list[str]:
    """Flag raw doubles in the sub-milli scientific-notation range.

    The driver hashes engine-native value rendering; nonzero |v| < 1e-3
    doubles rendered "5.0E-4"-style cost star_schema_fact its r01/r02
    rows. (The >= 1e7 half of the old heuristic is empirically FALSE:
    pricing_summary/region_nation_revenue/brand_revenue carry 1e8-range
    doubles and were hash-green at the r03 driver.) Emit flagged
    columns as micro-unit BIGINT (queries_util.micro6) instead.
    """
    out = []
    for c in sdf.columns:
        s = sdf[c]
        if not pd.api.types.is_float_dtype(s):
            continue
        vals = s.dropna().abs()
        risky = vals[(vals > 0) & (vals < 1e-3)]
        if len(risky):
            out.append(
                f"[RENDER-RISK] {name}.{c}: {len(risky)} double value(s) in JVM "
                f"scientific-notation range (e.g. {risky.iloc[0]!r}) — emit "
                f"micro-unit BIGINT"
            )
    return out


def _type_class(series: pd.Series) -> str | None:
    """Engine-native type class of a column (None if all-NULL).

    The driver hashes engine-native value renderings, so two columns
    can be value-equal after normalization yet hash-red: Spark returns
    DECIMAL as decimal.Decimal ('1.500000') where DuckDB's .df() gives
    float64 ('1.5'), and DuckDB's HUGEINT sums arrive as float64
    ('3.0') vs Spark's int ('3'). Classing every cell type catches the
    whole family before the driver does.
    """
    import decimal

    import numpy as np

    if pd.api.types.is_datetime64_any_dtype(series):
        return "datetime"
    if pd.api.types.is_bool_dtype(series):
        return "bool"
    if pd.api.types.is_integer_dtype(series):
        return "int"
    if pd.api.types.is_float_dtype(series):
        return "float"
    for v in series:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        if isinstance(v, decimal.Decimal):
            return "decimal"
        if isinstance(v, bool) or isinstance(v, np.bool_):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "int"
        if isinstance(v, (float, np.floating)):
            return "float"
        if isinstance(v, str):
            return "str"
        if isinstance(v, (bytes, bytearray)):
            return "bytes"
        if isinstance(v, (list, tuple, np.ndarray)):
            return "list"
        return type(v).__name__
    return None


def type_parity(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Fail on any column whose engine-native type class differs across
    engines (Decimal vs float, int vs float, ...) — rendering can never
    hash-equal even when values are exact. Also flags Spark-side Decimal
    outright: DuckDB's .df() always converts DECIMAL to float64, so a
    decimal emission is unconditionally hash-unsafe."""
    problems = []
    smap = {c.lower(): sdf[c] for c in sdf.columns}
    omap = {c.lower(): odf[c] for c in odf.columns}
    for c in sorted(set(smap) & set(omap)):
        sc, oc = _type_class(smap[c]), _type_class(omap[c])
        if sc == "decimal":
            problems.append(
                f"type parity {c}: spark emits decimal.Decimal — DuckDB "
                f"returns DECIMAL as float64; emit micro-unit BIGINT instead"
            )
        elif sc is not None and oc is not None and sc != oc:
            problems.append(f"type parity {c}: spark={sc} oracle={oc}")
    return problems


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    scols = sorted(c.lower() for c in sdf.columns)
    ocols = sorted(c.lower() for c in odf.columns)
    if scols != ocols:
        problems.append(f"columns: spark={scols} oracle={ocols}")
        return problems
    problems.extend(type_parity(sdf, odf))
    s, o = normalize(sdf), normalize(odf)
    if len(s) == len(o):
        neq = (s.values != o.values)
        if neq.any():
            idx = list(zip(*neq.nonzero()))[:5]
            for r, c in idx:
                problems.append(
                    f"value mismatch at row {r} col {s.columns[c]}: "
                    f"spark={s.iat[r, c]!r} oracle={o.iat[r, c]!r}"
                )
    return problems


def main() -> int:
    import __spark_entry__ as entry_mod
    from gcp_data_pipeline_fyp_spark.queries_util import TABLES
    from gcp_data_pipeline_fyp_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    ok = fail = skipped = empty = bad_plans = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            violations = plan_violations(
                df._jdf.queryExecution().executedPlan().toString()
            )
            sdf = df.toPandas()
        except Exception:
            print(f"[FAIL] {name}: spark query raised")
            traceback.print_exc(limit=4)
            fail += 1
            continue
        if violations:
            print(f"[FAIL] {name}: {', '.join(violations)}")
            fail += 1
            bad_plans += 1
            continue
        warns = render_risks(name, sdf)
        for w in warns:
            print(w)
        sql = oracles.get(name)
        if sql is None:
            print(f"[rows-only] {name}: {len(sdf)} rows")
            skipped += 1
            continue
        try:
            odf = con.execute(sql).df()
        except Exception:
            print(f"[FAIL] {name}: oracle SQL raised")
            traceback.print_exc(limit=2)
            fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"[FAIL] {name}:")
            for p in problems:
                print(f"    {p}")
            fail += 1
        elif len(sdf) == 0:
            # a 0-row match certifies nothing about the operator's
            # algebra (both engines agreeing on "no rows" is how the
            # vacuous lang_mix_drift/setops_buyers probes hid) — count
            # it OK but shout, so probe authors fix the predicate
            print(f"[OK-EMPTY] {name}: 0 rows on BOTH engines — "
                  "vacuous certification, rewrite the probe predicate")
            ok += 1
            empty += 1
        else:
            print(f"[OK] {name} ({len(sdf)} rows)")
            ok += 1
    print(f"\n{ok} ok, {fail} fail, {skipped} rows-only, {empty} vacuous-empty, "
          f"{bad_plans} plan violations")
    spark.stop()
    return 1 if fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
