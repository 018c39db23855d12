"""The distributed prefix sum (operators/prefix.py) against the plain
single-partition window it replaces."""

from __future__ import annotations

import random
from decimal import Decimal
from functools import reduce

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.operators import prefix


def _frame(spark):
    """Partition "a": tied keys and NULL values; the keys 0, 7 and 12
    hold only NULL values, so the sum is NULL until the first value in
    either direction and some bucket starts without a sum. "b": one
    repeated key (zero span, one bucket). "c": a single row."""
    rnd = random.Random(5)
    rows = []
    for i in range(60):
        k = rnd.randint(0, 12)
        null = k in (0, 7, 12) or rnd.random() < 0.2
        v = None if null else rnd.randint(-3, 9)
        rows.append(("a", i, float(k), Decimal(k) / 4, v))
    rows += [("b", 100 + i, 2.5, Decimal("2.50"), i) for i in range(5)]
    rows.append(("c", 200, -1.0, Decimal("-0.25"), 4))
    return spark.createDataFrame(
        rows, "g string, id long, kd double, kc decimal(10,2), v long"
    )


@pytest.mark.parametrize("n_buckets", [1, 2, 4096])
def test_prefix_sum_equals_global_window(spark, monkeypatch, n_buckets):
    monkeypatch.setattr(prefix, "N_BUCKETS", n_buckets)
    df = _frame(spark)
    checks = []
    # ascending double key, and descending decimal key
    for key, desc in (("kd", False), ("kc", True)):
        k = F.col(key).desc() if desc else F.col(key).asc()
        order = [k, F.col("id").asc()]
        for pcols in ([], ["g"]):
            want = (
                Window.partitionBy(*pcols)
                .orderBy(*order)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            bucketed = prefix.range_bucket(df, key, pcols, descending=desc)
            got = prefix.prefix_sum(bucketed, prefix.BUCKET, order, "v", pcols)
            checks.append(
                got.select(
                    F.lit(f"{key} desc={desc} by={pcols}").alias("case"),
                    "id",
                    F.col(prefix.PREFIX).alias("got"),
                    F.sum("v").over(want).alias("want"),
                )
            )
    rows = reduce(lambda a, b: a.unionByName(b), checks).collect()
    assert len(rows) == 4 * 66
    bad = [r for r in rows if r["got"] != r["want"]]
    assert not bad, bad[:5]
    assert any(r["got"] is None for r in rows)
