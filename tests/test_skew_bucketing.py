"""Skew salting equivalence, the top-k plan decision and compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.operators.skew import salted_agg, salted_join
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse


def _skewed(spark):
    # 90% of rows share key 'hot'
    rows = [(i, "hot" if i % 10 else f"k{i}", float(i % 7)) for i in range(2000)]
    return spark.createDataFrame(rows, "id long, k string, v double")


def test_salted_agg_equals_plain(spark):
    df = _skewed(spark)
    plain = {
        (r["k"]): (r["s"], r["n"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    salted = {
        (r["k"]): (r["sum_v"], r["n_rows"])
        for r in salted_agg(df, ["k"], ["v"], salt_from="id", buckets=8).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark):
    left = _skewed(spark)
    right = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("k11", 3), ("zz", 9)], "k string, dim long"
    )
    plain = sorted(
        (r["id"], r["dim"]) for r in left.join(right, "k", "left").collect()
    )
    salted = sorted(
        (r["id"], r["dim"])
        for r in salted_join(left, right, ["k"], salt_from="id", buckets=8, how="left").collect()
    )
    assert salted == plain


def test_salted_agg_rejects_key_salt(spark):
    import pytest

    df = _skewed(spark)
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], ["v"])  # no salt_from
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], ["v"], salt_from="k")  # key-derived salt


def test_range_layout_files_are_disjoint(spark, tmp_path):
    import glob

    from gcp_data_pipeline_fyp_spark.queries_util import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = load(spark, "/root/testdata/sf0.001", "events")
    wh.overwrite_range_layout(ev, "ev_ranged", ["ts"], n_files=4)
    ranges = []
    for f in glob.glob(str(tmp_path / "wh" / "ev_ranged" / "part-*.parquet")):
        pdf = spark.read.parquet(f).agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        if pdf["lo"] is not None:
            ranges.append((pdf["lo"], pdf["hi"]))
    ranges.sort()
    assert len(ranges) >= 2
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 <= l2  # disjoint key ranges -> min/max skipping works


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 2000).withColumn("v", F.col("id") * 2)
    # simulate append decay: 10 tiny appends -> many small files
    for i in range(10):
        wh.append(df.filter((F.col("id") % 10) == i).repartition(8), "t")
    import os

    def nfiles():
        return sum(
            1 for _dp, _d, fns in os.walk(wh.path("t"))
            for f in fns if f.endswith(".parquet")
        )

    before = nfiles()
    assert before >= 50
    got = wh.compact("t", target_file_bytes=1 << 30)
    assert got == nfiles() and got <= 2
    out = wh.read("t")
    assert out.count() == 2000
    assert out.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(2000))


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.maintenance import compact_table
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh2"))
    df = spark.range(0, 1000).withColumn("p", (F.col("id") % 3).cast("int"))
    for _ in range(5):
        wh.append(df.repartition(6), "t", partition_cols=["p"])
    got = compact_table(wh, "t", target_file_bytes=1 << 30, partition_cols=["p"])
    import os

    dirs = [d for d in os.listdir(wh.path("t")) if d.startswith("p=")]
    assert sorted(dirs) == ["p=0", "p=1", "p=2"]
    assert wh.read("t").count() == 5000
    assert got["n_partitions_rewritten"] == 3
    assert got["n_files_after"] <= 6  # at most a couple files per partition dir


def test_zorder_layout_compact_2d_regions(spark, tmp_path):
    """Every z-ordered file must cover a compact region of BOTH
    dimensions; an x-range layout leaves y spanning the full domain in
    every file — the difference that buys 2-D min/max skipping."""
    import glob

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.sources.tables import (
        Warehouse,
        zorder_value,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # uniform 64x64 grid
    df = (
        spark.range(0, 4096)
        .withColumn("x", (F.col("id") % 64).cast("double"))
        .withColumn("y", (F.col("id") / 64).cast("long").cast("double"))
    )
    z = zorder_value(F.col("x"), F.col("y"), 0, 63, 0, 63, bits=6)
    wh.overwrite_zorder_layout(df, "tz", z, n_files=16)
    wh.overwrite_range_layout(df, "tx", ["x"], n_files=16)

    def extents(table):
        out = []
        for f in sorted(glob.glob(str(tmp_path / "wh" / table / "*.parquet"))):
            p = spark.read.parquet(f).agg(
                F.max("x") - F.min("x"), F.max("y") - F.min("y")
            ).first()
            out.append((p[0], p[1]))
        return out

    zx = extents("tz")
    rx = extents("tx")
    # x-range layout: every file spans (nearly) the full y domain
    assert all(ey >= 60 for _ex, ey in rx)
    # z-order: files cover compact boxes in BOTH dims (quadrant-sized)
    assert all(ex <= 32 and ey <= 32 for ex, ey in zx), zx
    # and the data round-trips
    assert spark.read.parquet(str(tmp_path / "wh" / "tz")).count() == 4096


def test_skew_report_flags_hot_key(spark):
    from gcp_data_pipeline_fyp_spark.operators.skew import skew_report

    rows = [(1, i) for i in range(90)] + [(k, 0) for k in range(2, 12)]
    df = spark.createDataFrame(rows, "k int, v int")
    r = skew_report(df, ["k"]).first()
    assert r.n_rows == 100 and r.n_keys == 11
    assert r.max_key_rows == 90
    assert r.p50_micro == 1_000_000  # median key has 1 row
    # skew ratio = 90 / (100/11) = 9.9
    assert r.skew_ratio_micro == 9_900_000


def test_salted_topk_equals_naive_window(spark):
    """The two-phase salted top-k returns EXACTLY the naive per-group
    window's rows (pigeonhole: a true top-k row is in its salt
    bucket's top-k), including under a pathological hot group, any
    bucket count, and ties — and is partition-invariant."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.skew import (
        salted_topk_per_group,
    )

    rng = random.Random(31)
    rows = [("hot", i, float(rng.randrange(100))) for i in range(5000)]
    rows += [("cold", 100_000 + i, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    def salted(frame, k, buckets):
        return sorted(
            (r["grp"], r["id"], r["rank_in_group"])
            for r in salted_topk_per_group(
                frame, ["grp"], "v", "id", k=k, buckets=buckets
            ).collect()
        )

    def naive(k):
        w = Window.partitionBy("grp").orderBy(
            F.col("v").desc(), F.col("id").asc()
        )
        return sorted(
            (r["grp"], r["id"], r["rn"])
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .collect()
        )

    for k, buckets in ((3, 8), (10, 4), (1, 32)):
        assert salted(df, k, buckets) == naive(k), (k, buckets)
    # partition-invariant
    assert salted(df.repartition(17), 3, 8) == naive(3)


def test_adaptive_topk_measures_then_chooses(spark):
    """The measure-then-choose decision: topk_plan_decision flags the
    hot-key frame salted and the balanced frame plain (threshold 5x
    mean, the AQE skewedPartitionFactor)."""
    from gcp_data_pipeline_fyp_spark.operators.skew import topk_plan_decision

    hot_rows = [("hot", i, float(i % 97)) for i in range(900)]
    hot_rows += [(f"c{j}", 10_000 + j, float(j)) for j in range(10)]
    hot = spark.createDataFrame(hot_rows, "grp string, id long, v double")
    flat = spark.createDataFrame(
        [(f"g{i % 20}", i, float(i % 13)) for i in range(400)],
        "grp string, id long, v double",
    )
    d_hot = topk_plan_decision(hot, ["grp"]).first()
    d_flat = topk_plan_decision(flat, ["grp"]).first()
    assert d_hot["use_salted"] is True and d_hot["plan"] == "salted_two_phase"
    assert d_flat["use_salted"] is False and d_flat["plan"] == "plain_window"


def test_salted_join_right_and_full_equal_plain(spark):
    """Differential pin for the right/full extension: every how must be
    row-multiset-equal to the plain join, including matchless right
    rows (NULL left side, exactly ONE row each — not buckets copies)."""
    left = _skewed(spark)
    right = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("k11", 3), ("zz", 9), ("zz2", 10)],
        "k string, dim long",
    )
    for how in ("inner", "left", "right", "full", "outer"):
        plain_how = "full" if how == "outer" else how
        plain = sorted(
            (r["k"], r["id"], r["dim"])
            for r in left.join(right, "k", plain_how).collect()
        )
        salted = sorted(
            (r["k"], r["id"], r["dim"])
            for r in salted_join(
                left, right, ["k"], salt_from="id", buckets=8, how=how
            ).collect()
        )
        assert salted == plain, how


def test_salted_join_rejects_unknown_how(spark):
    left = _skewed(spark)
    right = spark.createDataFrame([("hot", 1)], "k string, dim long")
    with pytest.raises(ValueError):
        salted_join(left, right, ["k"], salt_from="id", how="left_semi")
