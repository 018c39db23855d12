from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.operators import prefix
from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
    calibration_report,
    roc_auc,
)


def _naive_auc(pairs):
    """Pair-counting AUC with half-credit ties (the definition)."""
    pos = [s for s, y in pairs if y]
    neg = [s for s, y in pairs if not y]
    if not pos or not neg:
        return None
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    return (wins + 0.5 * ties) / (len(pos) * len(neg))


def _spark_auc(spark, pairs):
    df = spark.createDataFrame(pairs, "score: double, label: boolean")
    return roc_auc(df, "score", "label").first()


def test_auc_perfect_separation(spark):
    pairs = [(float(i), i >= 5) for i in range(10)]
    r = _spark_auc(spark, pairs)
    assert (r["n_pos"], r["n_neg"], r["auc_micro"]) == (5, 5, 1_000_000)


def test_auc_random_interleave_matches_naive(spark):
    import random

    rnd = random.Random(42)
    pairs = [(round(rnd.random(), 2), rnd.random() < 0.3) for _ in range(400)]
    want = _naive_auc(pairs)
    r = _spark_auc(spark, pairs)
    assert r["auc_micro"] == round(want * 1_000_000)


def test_auc_with_heavy_ties(spark):
    # many duplicate scores -> tie correction must match pair counting
    pairs = [(float(s % 3), s % 2 == 0) for s in range(30)]
    want = _naive_auc(pairs)
    r = _spark_auc(spark, pairs)
    assert r["auc_micro"] == round(want * 1_000_000)


def test_auc_bucket_count_invariance(spark, monkeypatch):
    import random

    rnd = random.Random(7)
    pairs = [(rnd.gauss(0, 1), rnd.random() < 0.5) for _ in range(300)]
    b = _spark_auc(spark, pairs)["auc_micro"]
    monkeypatch.setattr(prefix, "N_BUCKETS", 4)
    a = _spark_auc(spark, pairs)["auc_micro"]
    assert a == b == round(_naive_auc(pairs) * 1_000_000)


def test_auc_degenerate_single_class(spark):
    r = _spark_auc(spark, [(0.1, True), (0.9, True)])
    assert r["auc_micro"] is None and r["n_neg"] == 0


def test_auc_null_rows_excluded(spark):
    df = spark.createDataFrame(
        [(0.9, True), (0.1, False), (None, True), (0.5, None)],
        "score: double, label: boolean",
    )
    r = roc_auc(df, "score", "label").first()
    assert (r["n_pos"], r["n_neg"], r["auc_micro"]) == (1, 1, 1_000_000)


def test_calibration_bins_and_gaps(spark):
    rows = (
        [(0.05, False)] * 8 + [(0.05, True)] * 2   # bin 0: rate .2, mean .05
        + [(0.95, True)] * 9 + [(0.95, False)]     # bin 9: rate .9, mean .95
    )
    df = spark.createDataFrame(rows, "score: double, label: boolean")
    rep = {r["bin"]: r for r in calibration_report(df, "score", "label").collect()}
    assert set(rep) == {0, 9}
    assert rep[0]["n"] == 10 and rep[0]["pos_rate_micro"] == 200_000
    assert rep[0]["mean_score_micro"] == 50_000
    assert rep[0]["gap_micro"] == 150_000
    assert rep[9]["pos_rate_micro"] == 900_000 and rep[9]["gap_micro"] == 50_000


def test_calibration_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [(-0.5, False), (1.7, True)], "score: double, label: boolean"
    )
    rep = {r["bin"]: r for r in calibration_report(df, "score", "label").collect()}
    assert set(rep) == {0, 9}


def test_calibration_validation(spark):
    df = spark.createDataFrame([(0.5, True)], "score: double, label: boolean")
    with pytest.raises(ValueError):
        calibration_report(df, "score", "label", n_bins=0)
    with pytest.raises(ValueError):
        calibration_report(df, "score", "label", lo=1.0, hi=0.0)


def test_nan_scores_excluded_everywhere(spark):
    rows = [(0.9, True), (0.1, False), (float("nan"), True)]
    df = spark.createDataFrame(rows, "score: double, label: boolean")
    r = roc_auc(df, "score", "label").first()
    assert (r["n_pos"], r["n_neg"]) == (1, 1)
    cal = calibration_report(df, "score", "label")
    assert cal.agg(F.sum("n")).first()[0] == 2


def test_grouped_auc_matches_per_group_naive(spark):
    import random

    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        roc_auc_by_group,
    )

    rnd = random.Random(11)
    rows = []
    for g in ("a", "b", "c"):
        sep = {"a": 0.4, "b": 0.1, "c": 0.0}[g]
        for _ in range(120):
            y = rnd.random() < 0.5
            rows.append((g, round(rnd.random() + (sep if y else 0), 3), y))
    df = spark.createDataFrame(rows, "g: string, score: double, label: boolean")
    got = {
        r["g"]: r["auc_micro"]
        for r in roc_auc_by_group(df, "score", "label", ["g"]).collect()
    }
    for g in ("a", "b", "c"):
        want = _naive_auc([(s, y) for gg, s, y in rows if gg == g])
        assert got[g] == round(want * 1_000_000), g


def test_grouped_auc_degenerate_slice_null(spark):
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        roc_auc_by_group,
    )

    df = spark.createDataFrame(
        [("a", 0.2, True), ("a", 0.9, True), ("b", 0.5, True), ("b", 0.1, False)],
        "g: string, score: double, label: boolean",
    )
    got = {r["g"]: r["auc_micro"] for r in
           roc_auc_by_group(df, "score", "label", ["g"]).collect()}
    assert got["a"] is None and got["b"] == 1_000_000


def test_threshold_sweep_known_counts(spark):
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        threshold_sweep,
    )

    # scores 0.1..1.0 over 10 rows; positives are the top 4 scores
    rows = [((i + 1) / 10.0, i >= 6) for i in range(10)]
    df = spark.createDataFrame(rows, "score: double, label: boolean")
    got = {
        r["threshold_micro"]: (r["tp"], r["fp"], r["fn"], r["tn"])
        for r in threshold_sweep(df, "score", "label", [0.5, 0.75]).collect()
    }
    # t=0.5: predicted positive = scores .5..1.0 (6 rows: 4 tp, 2 fp)
    assert got[500_000] == (4, 2, 0, 4)
    # t=0.75: predicted positive = .8,.9,1.0 (3 rows, all true)
    assert got[750_000] == (3, 0, 1, 6)


def test_threshold_sweep_micro_metrics_and_degenerates(spark):
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        threshold_sweep,
    )

    rows = [(0.2, False), (0.4, False), (0.6, True)]
    df = spark.createDataFrame(rows, "score: double, label: boolean")
    out = {
        r["threshold_micro"]: r
        for r in threshold_sweep(df, "score", "label", [0.5, 0.9]).collect()
    }
    r5 = out[500_000]
    assert (r5["precision_micro"], r5["recall_micro"], r5["f1_micro"]) == (
        1_000_000,
        1_000_000,
        1_000_000,
    )
    # t=0.9: nothing predicted positive -> precision undefined (NULL),
    # recall 0, F1 undefined
    r9 = out[900_000]
    assert r9["precision_micro"] is None
    assert r9["recall_micro"] == 0
    assert r9["f1_micro"] is None


def test_threshold_sweep_excludes_nan_null_and_validates(spark):
    import math

    import pytest as _pytest

    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        threshold_sweep,
    )

    rows = [
        (0.9, True),
        (float("nan"), True),
        (None, False),
        (0.1, None),
        (0.2, False),
    ]
    df = spark.createDataFrame(rows, "score: double, label: boolean")
    out = threshold_sweep(df, "score", "label", [0.5]).first()
    # only (0.9, True) and (0.2, False) count
    assert (out["tp"], out["fp"], out["fn"], out["tn"]) == (1, 0, 0, 1)
    assert not math.isnan(out["tp"])
    with _pytest.raises(ValueError):
        threshold_sweep(df, "score", "label", [])


def test_midrank_normalize_known_values(spark):
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        midrank_normalize,
    )

    # values 10,20,20,30: midrank pct = (2C+c+1)/(2n)
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0), (4, 30.0)], "id long, s double"
    )
    got = {
        r["id"]: r["pct_micro"]
        for r in midrank_normalize(df, "s").collect()
    }
    assert got[1] == round((0 + 1) / 8 * 1e6)            # 125000
    assert got[2] == got[3] == round((2 + 2) / 8 * 1e6)  # 500000
    assert got[4] == round((6 + 1) / 8 * 1e6)            # 875000


def test_midrank_normalize_null_nan_pct_null(spark):
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        midrank_normalize,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, float("nan"))], "id long, s double"
    )
    got = {
        r["id"]: r["pct_micro"]
        for r in midrank_normalize(df, "s").collect()
    }
    assert got[2] is None and got[3] is None
    assert got[1] == 500_000  # single valid value sits at the midpoint


def test_blend_scores_weighting_and_coverage_gap(spark):
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        blend_scores,
    )

    df = spark.createDataFrame(
        [
            (1, 1.0, 10.0),
            (2, 2.0, 20.0),
            (3, 3.0, None),   # scorer b missing: blend = pct_a alone
            (4, None, None),  # all missing: NULL
        ],
        "id long, a double, b double",
    )
    got = {
        r["id"]: r["blend_micro"]
        for r in blend_scores(df, {"a": 1_000_000, "b": 3_000_000}).collect()
    }
    # pct_a over {1,2,3}: 1->1/6, 2->3/6, 3->5/6 ; pct_b over {10,20}: 1/4, 3/4
    pa = {1: round(1e6 / 6), 2: 500_000, 3: round(5e6 * 1.0 / 6)}
    pb = {1: 250_000, 2: 750_000}
    assert got[1] == round((1 * pa[1] + 3 * pb[1]) / 4)
    assert got[2] == round((1 * pa[2] + 3 * pb[2]) / 4)
    assert got[3] == pa[3]  # b's weight excluded, not zeroed
    assert got[4] is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        blend_scores(df, {})
    with _pytest.raises(ValueError):
        blend_scores(df, {"a": -1})


def test_blend_scores_fused_vs_sequential_differential(spark):
    """The fused single-pass blend is bit-identical to the sequential
    N-midrank-pass form on a fixture with NULLs, NaNs, heavy ties,
    duplicate rows, an int scorer, and a zero weight."""
    import random

    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        blend_scores,
        blend_scores_sequential,
    )

    rnd = random.Random(47)
    rows = []
    for i in range(500):
        a = rnd.choice([None, float("nan")] + [float(x) for x in range(8)])
        b = rnd.choice([None] + [float(x) / 3 for x in range(20)])
        c = rnd.choice([None] + list(range(5)))  # int scorer
        rows.append((i % 400, a, b, c))  # i%400 -> duplicate rows exist
    df = spark.createDataFrame(
        rows, "id long, a double, b double, c long"
    )
    w = {"a": 1_000_000, "b": 3_000_000, "c": 0}
    # stringify: Python nan != nan would fail the comparison on keys
    key = lambda r: tuple(  # noqa: E731
        str(r[c]) for c in ("id", "a", "b", "c")
    )
    got = sorted(
        ((key(r), r["blend_micro"]) for r in blend_scores(df, w).collect()),
        key=lambda t: (str(t[0]),),
    )
    want = sorted(
        (
            (key(r), r["blend_micro"])
            for r in blend_scores_sequential(df, w).collect()
        ),
        key=lambda t: (str(t[0]),),
    )
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        blend_scores(df.withColumn("blend_micro", F.lit(1)), w)


def test_midrank_fuzz_vs_naive(spark, monkeypatch):
    import random

    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        midrank_normalize,
    )

    rnd = random.Random(31)
    vals = [float(rnd.randint(0, 40)) for _ in range(300)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, s double"
    )
    # 8 buckets put several distinct values in each one
    monkeypatch.setattr(prefix, "N_BUCKETS", 8)
    got = {
        r["id"]: r["pct_micro"]
        for r in midrank_normalize(df, "s").collect()
    }
    n = len(vals)
    for i, v in enumerate(vals):
        below = sum(1 for x in vals if x < v)
        ties = sum(1 for x in vals if x == v)
        want = round((2 * below + ties) / (2 * n) * 1_000_000)
        assert got[i] == want, (i, v)
