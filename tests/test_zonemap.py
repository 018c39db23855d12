"""Zone-map data skipping: build/rebuild lifecycle, file-level pruning
effectiveness, and exact equality with an unpruned scan."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.operators.zonemap import (
    build_zonemap,
    prune_files,
    read_pruned,
)
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    )
    w.overwrite_range_layout(ev, "EV", ["value"], n_files=8)
    build_zonemap(w, "EV", ["value"])
    return w


def _ids(df):
    return sorted(r["event_id"] for r in df.select("event_id").collect())


@pytest.mark.slow
def test_zonemap_prunes_files_and_matches_full_scan(spark, wh):
    files, total = prune_files(wh, "EV", {"value": (100.0, 200.0)})
    assert total == 8
    # a narrow interval on the layout column must skip most files
    assert len(files) < total / 2
    got = read_pruned(wh, "EV", {"value": (100.0, 200.0)})
    exp = wh.read("EV").filter(F.col("value").between(100.0, 200.0))
    assert _ids(got) == _ids(exp)
    assert _ids(got)  # non-trivial interval


@pytest.mark.slow
def test_unmapped_appends_are_read_conservatively(spark, wh):
    before = read_pruned(wh, "EV", {"value": (100.0, 200.0)}).count()
    extra = (
        wh.read("EV")
        .filter(F.col("value").between(150.0, 160.0))
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    n_extra = extra.count()
    assert n_extra > 0
    wh.append(extra.coalesce(1), "EV")
    # not in the map yet -> always read (pruning stays conservative)
    assert (
        read_pruned(wh, "EV", {"value": (100.0, 200.0)}).count()
        == before + n_extra
    )
    # a rebuild maps the new file, and pruning still matches
    build_zonemap(wh, "EV", ["value"])
    files, total = prune_files(wh, "EV", {"value": (100.0, 200.0)})
    assert total == 9 and len(files) < total
    assert (
        read_pruned(wh, "EV", {"value": (100.0, 200.0)}).count()
        == before + n_extra
    )


def test_fully_pruned_interval_returns_typed_empty(spark, wh):
    df = read_pruned(wh, "EV", {"value": (1e15, 2e15)})
    assert df.count() == 0
    assert df.columns == ["event_id", "ts", "event_type", "value"]
    files, _ = prune_files(wh, "EV", {"value": (1e15, 2e15)})
    assert files == []


def test_open_ended_and_conjunctive_intervals(spark, wh):
    exp = wh.read("EV").filter(
        (F.col("value") >= 500.0) & (F.col("ts") <= F.lit("2024-02-01"))
    )
    got = read_pruned(
        wh, "EV", {"value": (500.0, None), "ts": (None, "2024-02-01")}
    )
    assert _ids(got) == _ids(exp)


@pytest.mark.slow
def test_zonemap_on_partitioned_table(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "whp"))
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id",
        "value",
        F.to_date("ts").alias("p_day"),
    )
    w.overwrite(ev.repartition(4), "EVP", partition_cols=["p_day"])
    build_zonemap(w, "EVP", ["value"])
    got = read_pruned(w, "EVP", {"value": (0.0, 300.0)})
    exp = ev.filter(F.col("value").between(0.0, 300.0))
    assert _ids(got) == _ids(exp)
    # partition column survives the file-list read (basePath)
    assert "p_day" in got.columns


@pytest.mark.slow
def test_zorder_zonemap_box_pruning_beats_range_layout(spark, tmp_path):
    """The 2-D claim: for a box predicate on (value, user_id), a
    Z-order layout + zone map skips strictly more files than a 1-D
    value-range layout — every range file spans the full user_id
    domain, so the second predicate can't prune there."""
    # sf0.1: the z-curve needs enough rows per cell for region-compact
    # files — at sf0.001/0.01 the 2-D granularity drowns in file count
    ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet").select(
        "event_id", "user_id", "value"
    )
    d = ev.agg(
        F.min("value"), F.max("value"), F.min("user_id"), F.max("user_id")
    ).collect()[0]
    from gcp_data_pipeline_fyp_spark.sources.tables import zorder_value

    w = Warehouse(spark, str(tmp_path / "whz"))
    z = zorder_value(
        F.col("value"), F.col("user_id"),
        d[0], d[1], float(d[2]), float(d[3]), bits=14,
    )
    w.overwrite_zorder_layout(ev, "EVZ", z, n_files=256)
    build_zonemap(w, "EVZ", ["value", "user_id"])
    w.overwrite_range_layout(ev, "EVR", ["value"], n_files=256)
    build_zonemap(w, "EVR", ["value", "user_id"])
    box = {"value": (50.0, 120.0), "user_id": (200, 400)}
    fz, tz = prune_files(w, "EVZ", box)
    fr, tr = prune_files(w, "EVR", box)
    assert tz == tr == 256
    assert len(fz) < len(fr) / 2      # 2-D layout prunes >2x better
    assert len(fz) < tz / 4           # and skips most files outright
    exp = ev.filter(
        F.col("value").between(50.0, 120.0)
        & F.col("user_id").between(200, 400)
    )
    assert _ids(read_pruned(w, "EVZ", box)) == _ids(exp)
    assert _ids(read_pruned(w, "EVR", box)) == _ids(exp)


@pytest.mark.slow
def test_bucket_index_point_lookup_prunes_and_matches(spark, tmp_path):
    """Equality skipping: layout clustered by value leaves event_id
    scattered (zone map reads everything), but the per-file bucket
    index prunes most files — with exact results, and appended
    unindexed files still read conservatively."""
    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        _bucket_of,
        build_bucket_index,
        read_point_lookup,
    )

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "event_id", "user_id", "value"
    )
    w = Warehouse(spark, str(tmp_path / "whb"))
    w.overwrite_range_layout(ev, "EV", ["value"], n_files=32)
    build_bucket_index(w, "EV", "event_id", n_buckets=16384)
    keys = [5, 777, 4242, 9999]
    got = read_point_lookup(w, "EV", "event_id", keys, n_buckets=16384)
    exp = ev.filter(F.col("event_id").isin(keys))
    assert _ids(got) == _ids(exp) and got.count() == 4
    # the index actually skips most files for this probe set
    idx = spark.read.parquet(str(tmp_path / "whb" / "EV" / "_bucketindex_event_id"))
    pb = {_bucket_of(v, 16384) for v in keys}
    hits = idx.filter(F.col("bucket").isin(*pb)).select("__file").distinct()
    assert hits.count() < 32 / 2
    # append a NEW key in an unindexed file -> still found
    extra = ev.limit(1).withColumn("event_id", F.lit(123_456_789).cast("long"))
    w.append(extra.coalesce(1), "EV")
    got2 = read_point_lookup(
        w, "EV", "event_id", keys + [123_456_789], n_buckets=16384
    )
    assert got2.count() == 5
    # generator probes are consumed once then reused (materialized up
    # front); empty probes return the typed empty frame, not an error
    gen = read_point_lookup(
        w, "EV", "event_id", (k for k in keys), n_buckets=16384
    )
    assert _ids(gen) == _ids(exp)
    empty = read_point_lookup(w, "EV", "event_id", [], n_buckets=16384)
    assert empty.count() == 0 and empty.columns == got2.columns


@pytest.mark.slow
def test_compact_rebuilds_zonemap(spark, wh):
    """Compaction swaps the table directory (the map dies with it);
    compact() re-derives the stat columns from the old map and
    rebuilds, so the compacted layout stays skippable."""
    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        zonemap_cols_of,
    )

    assert zonemap_cols_of(wh, "EV") == ["value"]
    before = read_pruned(wh, "EV", {"value": (100.0, 200.0)}).count()
    wh.compact("EV", target_file_bytes=1 << 30)  # -> 1 file
    assert zonemap_cols_of(wh, "EV") == ["value"]
    files, total = prune_files(wh, "EV", {"value": (100.0, 200.0)})
    assert total == 1 and len(files) == 1  # one file, still mapped
    assert (
        read_pruned(wh, "EV", {"value": (100.0, 200.0)}).count() == before
    )
    # an impossible interval prunes the single compacted file
    f2, _ = prune_files(wh, "EV", {"value": (1e15, 2e15)})
    assert f2 == []


@pytest.mark.slow
def test_dynamic_pruned_join_equals_plain_and_skips_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        build_zonemap,
        dynamic_pruned_join,
        prune_files,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    probe = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("tag")
    )
    wh.overwrite_range_layout(probe, "P", ["k"], n_files=8)
    build_zonemap(wh, "P", ["k"])
    # build side: a narrow band plus keys absent from the probe
    build = spark.createDataFrame(
        [(300,), (301,), (450,), (9999999,), (None,)], "bk: bigint"
    )
    got = dynamic_pruned_join(wh, "P", "k", build, "bk", how="left_semi")
    want = probe.join(
        build.select(F.col("bk")).distinct(),
        probe["k"] == F.col("bk"),
        "left_semi",
    )
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    ) == [300, 301, 450]
    # the zone map must actually skip files for the narrow band
    files, total = prune_files(wh, "P", {"k": (300, 450)})
    assert total == 8 and len(files) < total
    # inner join multiplies per duplicate build rows, like the plain join
    dup = spark.createDataFrame([(300,), (300,)], "bk: bigint")
    inner = dynamic_pruned_join(wh, "P", "k", dup, "bk", how="inner")
    assert [r["k"] for r in inner.collect()] == [300, 300]


def test_dynamic_pruned_join_guards(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        build_zonemap,
        dynamic_pruned_join,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    probe = spark.range(0, 100).select(F.col("id").alias("k"))
    wh.overwrite_range_layout(probe, "P", ["k"], n_files=4)
    build_zonemap(wh, "P", ["k"])
    empty = spark.createDataFrame([(None,)], "bk: bigint")
    out = dynamic_pruned_join(wh, "P", "k", empty, "bk", how="left_semi")
    assert out.count() == 0  # all-NULL build -> typed empty
    with _pytest.raises(ValueError, match="inner and left_semi"):
        dynamic_pruned_join(wh, "P", "k", empty, "bk", how="left")


def test_norm_expr_mirrors_python_norm(spark):
    """The census join compares paths normalized Spark-side
    (_norm_expr) against entries normalized driver-side historically
    (_norm) — the two must agree on every path shape the file source
    emits, or mapped files silently read as unmapped (conservative
    but defeats the prune)."""
    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        _norm,
        _norm_expr,
    )

    paths = [
        "file:/tmp/wh/EV/part-0.parquet",
        "file:///tmp/wh/EV/part-0.parquet",
        "/tmp/wh/EV/part-0.parquet",
        "hdfs://nn:8020/warehouse/t/part-1.parquet",
        "s3a://bucket/prefix/part-2.parquet",
        "/tmp/odd:colon/part-3.parquet",
    ]
    df = spark.createDataFrame([(p,) for p in paths], "p string")
    got = [
        r["n"]
        for r in df.select(_norm_expr(F.col("p")).alias("n")).collect()
    ]
    assert got == [_norm(p) for p in paths]
