"""End-to-end golden tests for the full + delta ELT pipeline (SURVEY.md §5)."""

from __future__ import annotations

import datetime

import pytest

from gcp_data_pipeline_fyp_spark.plans.pipeline import (
    branch_for_filename,
    run_pipeline,
)
from gcp_data_pipeline_fyp_spark.sources.files import feed_request_for
from gcp_data_pipeline_fyp_spark.sources.states import states_df

COLS = (
    "time,latitude,longitude,depth,mag,magType,nst,gap,dmin,rms,net,id,updated,"
    "place,type,horizontalError,depthError,magError,magNst,status,"
    "locationSource,magSource"
)


pytestmark = pytest.mark.slow  # E2E module: full tier only (pytest -m "")


def _row(t, lat, lon, depth, mag, typ="earthquake", place="10km NE of Anza, CA"):
    return ",".join(
        [t, str(lat), str(lon), str(depth), str(mag), "ml", "50", "45.0", "0.5",
         "1.1", "us", "usX", t, f'"{place}"', typ, "2.3", "10", "0.1", "12",
         "reviewed", "us", "us"]
    )


@pytest.fixture()
def warehouse(tmp_path, spark):
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    full = raw_dir / "whole_month_202403.csv"
    full.write_text(
        COLS + "\n"
        + _row("2024-03-05T10:00:00.000Z", 35.1, -117.2, 15.2, 5.0) + "\n"
        + _row("2024-03-06T11:00:00.000Z", 36.0, -118.0, 80.0, 3.5,
               place="Kermadec Islands, New Zealand") + "\n"
        + _row("2024-03-07T11:00:00.000Z", 36.0, -118.0, 0.5, 5.5) + "\n"  # rejected
    )
    wh_root = str(tmp_path / "wh")
    tables = run_pipeline(
        spark, str(full), states_df(spark), wh_root,
        run_ts=datetime.datetime(2024, 4, 1, 3, 0),
    )
    return tmp_path, wh_root, tables


def test_mode_selection():
    assert feed_request_for(datetime.datetime(2024, 4, 1))[2] == "full"
    assert feed_request_for(datetime.datetime(2024, 4, 15))[2] == "delta"
    assert branch_for_filename("whole_month_2403.csv") == "full"
    assert branch_for_filename("all_day_20240401_120000.csv") == "delta"
    with pytest.raises(ValueError):
        branch_for_filename("other.csv")


def test_full_load_star(warehouse, spark):
    _, _, tables = warehouse
    fact = tables["T_FACT_Events"]
    assert fact.count() == 2  # third row quality-rejected
    dims = tables["T_DIM_RegionCountry"]
    vals = {(r["LB_Region"], r["LB_Country"]) for r in dims.collect()}
    assert ("California", "USA") in vals
    assert ("Kermadec Islands", "New Zealand") in vals
    # surrogate FKs resolve (no NULL type/date FKs for clean rows)
    assert fact.filter("ID_type_ID IS NULL OR ID_date_ID IS NULL").count() == 0
    # error-adjusted measure: mag 5.0 + 0.5*0.1
    mags = sorted(r["VL_n_mag"] for r in fact.collect())
    assert mags == [3.55, 5.05]


def test_delta_dedup_and_upsert(warehouse, spark):
    tmp_path, wh_root, tables = warehouse
    delta = tmp_path / "raw" / "all_day_20240401_120000.csv"
    delta.write_text(
        COLS + "\n"
        + _row("2024-03-05T10:00:00.000Z", 35.1, -117.2, 15.2, 5.0) + "\n"  # dup
        + _row("2024-04-01T09:30:00.000Z", 40.0, 20.0, 200.0, 6.5,
               typ="volcanic eruption", place="Crete, Greece") + "\n"
    )
    t2 = run_pipeline(
        spark, str(delta), states_df(spark), wh_root,
        run_ts=datetime.datetime(2024, 4, 2, 3, 0),
    )
    fact = t2["T_FACT_Events"]
    assert fact.count() == 3  # 2 existing + 1 new (dup anti-joined away)
    # new dim value got the next surrogate id
    types = {r["LB_type"]: r["ID_type_ID"] for r in t2["T_DIM_Seismic_Activity_Type"].collect()}
    assert types["earthquake"] == 1
    assert types["volcanic eruption"] == 2
    # date dim extended, not rewritten
    assert t2["T_DIM_date"].filter("ID_date_ID = 20240401").count() == 1
    # idempotent re-run
    t3 = run_pipeline(
        spark, str(delta), states_df(spark), wh_root,
        run_ts=datetime.datetime(2024, 4, 3, 3, 0),
    )
    assert t3["T_FACT_Events"].count() == 3


def test_delta_merge_rewrites_only_affected_partitions(warehouse, spark):
    """The partition-scoped MERGE must leave untouched months' files alone."""
    import os

    tmp_path, wh_root, tables = warehouse
    fact_root = os.path.join(wh_root, "T_FACT_Events")
    # full load wrote month 202403; snapshot its file identities (inode+mtime)
    part_202403 = os.path.join(fact_root, "_PT_month=202403")
    assert os.path.isdir(part_202403), sorted(os.listdir(fact_root))

    def _snapshot(d):
        return {
            f: (os.stat(os.path.join(d, f)).st_ino, os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d)
            if not f.startswith(".")
        }

    before = _snapshot(part_202403)
    delta = tmp_path / "raw" / "all_day_20240401_130000.csv"
    delta.write_text(
        COLS + "\n"
        + _row("2024-04-02T09:30:00.000Z", 41.0, 21.0, 150.0, 6.0,
               place="Crete, Greece") + "\n"
    )
    t2 = run_pipeline(
        spark, str(delta), states_df(spark), wh_root,
        run_ts=datetime.datetime(2024, 4, 3, 3, 0),
    )
    assert t2["T_FACT_Events"].count() == 3
    # the April delta must not have rewritten (or even re-listed into
    # existence) any March file — same inodes, same mtimes
    assert _snapshot(part_202403) == before
    assert os.path.isdir(os.path.join(fact_root, "_PT_month=202404"))
    # partition pruning works on the stored layout
    march = t2["T_FACT_Events"].filter("_PT_month = 202403")
    assert march.count() == 2
