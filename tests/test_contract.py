"""Driver-contract integrity: the registry IS the correctness gate, so
shape errors here (name collisions between registries, oracle entries
without a query, stale _CHECK_FIRST names) must fail fast in CI, not
silently shadow a probe out of the driver's checked window."""

from __future__ import annotations

import __spark_entry__ as entry


def test_no_name_collisions_across_registries():
    seen: dict[str, str] = {}
    for reg in entry._REGISTRIES:
        for name in reg:
            assert name not in seen, f"duplicate query name: {name}"
            seen[name] = "x"


def test_oracles_are_a_subset_of_queries_with_matching_order():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    # every entry is (callable, sql-or-None)
    for reg in entry._REGISTRIES:
        for name, (fn, sql) in reg.items():
            assert callable(fn), name
            assert sql is None or isinstance(sql, str), name


def test_check_first_names_exist_and_lead_the_window():
    q = entry.queries()
    missing = [n for n in entry._CHECK_FIRST if n not in q]
    assert not missing, f"_CHECK_FIRST references unknown queries: {missing}"
    head = list(q)[: len(entry._CHECK_FIRST)]
    assert head == [n for n in entry._CHECK_FIRST if n in q]


def test_every_module_level_assignment_is_read():
    """A list the entry module assigns but never reads is dead weight
    the driver cannot see (three retired check windows once were)."""
    import ast
    import pathlib

    tree = ast.parse(pathlib.Path(entry.__file__).read_text())
    assigned = {
        t.id
        for node in tree.body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name)
    }
    read = {
        n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }
    assert not assigned - read, sorted(assigned - read)


def test_entry_returns_flagship_dataframe(spark):
    df = entry.entry(spark)
    assert df.columns[:2] == ["id_event", "id_type_id"]
    assert df.count() > 0


def test_type_parity_gate_flags_cross_engine_render_divergence():
    """tools/check_correctness.py must red-flag columns whose engine-
    native types differ (Decimal vs float, int vs float) even when the
    normalized values are equal — the exact class of hash-red that cost
    rounds 1-3 (star_schema_fact et al.)."""
    import decimal

    import pandas as pd

    import tools.check_correctness as cc

    spark_df = pd.DataFrame(
        {
            "d": [decimal.Decimal("1.500000")],  # Spark DECIMAL emission
            "i": [3],                            # Spark bigint
            "ok": [7],
        }
    )
    oracle_df = pd.DataFrame(
        {
            "d": [1.5],    # DuckDB returns DECIMAL as float64
            "i": [3.0],    # DuckDB HUGEINT sum arrives as float64
            "ok": [7],
        }
    )
    problems = cc.type_parity(spark_df, oracle_df)
    flagged = {p.split()[2].rstrip(":") for p in problems}
    assert flagged == {"d", "i"}, problems
    # value-normalized compare alone would NOT catch these
    assert all("type parity" in p for p in problems)
    # clean int column on both sides stays silent
    assert not cc.type_parity(
        pd.DataFrame({"x": [1]}), pd.DataFrame({"x": [2]})
    )


def test_plan_violations_flag_cartesian_and_row_udf_only():
    """The gate fails a probe whose executed plan pairs full frames
    (CartesianProduct) or runs a row-at-a-time Python UDF
    (BatchEvalPython); the broadcast cross-join idiom passes."""
    import tools.check_correctness as cc

    cartesian = "*(3) Project\n+- CartesianProduct\n   :- *(1) Scan parquet"
    row_udf = "*(2) Project\n+- BatchEvalPython [f(text#1)], [pythonUDF0#9]"
    broadcast = (
        "*(2) BroadcastNestedLoopJoin BuildRight, Cross\n"
        ":- *(2) Scan parquet\n+- BroadcastExchange IdentityBroadcastMode"
    )
    assert cc.plan_violations(cartesian) == ["plan holds CartesianProduct"]
    assert cc.plan_violations(row_udf) == ["plan holds BatchEvalPython"]
    assert cc.plan_violations(broadcast) == []


def test_ab_summary_medians_quartiles_and_pairs_won():
    """tools/ab.py's summary: per-arm median [q1, q3] over usable runs,
    and pairs the change won; a run that is incorrect or failed an
    operation stays out of the medians and its pair out of the count."""
    import tools.ab as ab

    def res(cpu, setup, correct=True, failed=0):
        return {"correct": correct, "attempted": 3, "failed": failed,
                "metrics": {"cpu_per_op_s": {"value": cpu, "unit": "s"},
                            "setup_s": {"value": setup, "unit": "s"}}}

    pairs = [
        {"parent": res(10.0, 30.0), "change": res(9.0, 31.0)},
        {"parent": res(12.0, 30.0), "change": res(11.0, 29.0)},
        {"parent": res(14.0, 30.0), "change": res(15.0, 30.0)},
        {"parent": res(16.0, 30.0), "change": res(1.0, 1.0, correct=False)},
        {"parent": res(18.0, 30.0), "change": res(2.0, 2.0, failed=1)},
    ]
    metrics = [{"name": "cpu_per_op_s", "better": "lower"},
               {"name": "setup_s", "better": "lower"}]
    got = ab.summarize(pairs, metrics)
    assert got["cpu_per_op_s"]["parent"] == (14.0, 12.0, 16.0)
    assert got["cpu_per_op_s"]["change"] == (11.0, 10.0, 13.0)
    assert (got["cpu_per_op_s"]["won"], got["cpu_per_op_s"]["pairs"]) == (2, 3)
    # ties count for neither arm
    assert got["setup_s"]["change"] == (30.0, 29.5, 30.5)
    assert (got["setup_s"]["won"], got["setup_s"]["pairs"]) == (1, 3)
