"""Delta loads in the fast tier: a full load, two daily deliveries and an
idempotent re-run, pinned row for row (surrogate ids included), plus the
structural promises of the delta path — a delivery with no new dimension
key writes no dimension file, and a full load and a steady delivery each
stay within a job budget."""

from __future__ import annotations

import datetime
import os

from gcp_data_pipeline_fyp_spark.plans.pipeline import run_pipeline
from gcp_data_pipeline_fyp_spark.sources.states import states_df
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

COLS = (
    "time,latitude,longitude,depth,mag,magType,nst,gap,dmin,rms,net,id,updated,"
    "place,type,horizontalError,depthError,magError,magNst,status,"
    "locationSource,magSource"
)
DIMS = {
    "T_DIM_Network": ("ID_Network_ID", ["LB_NetworkSymbol"]),
    "T_DIM_RegionCountry": ("ID_RegionCountry_ID", ["LB_Region", "LB_Country"]),
    "T_DIM_Seismic_Activity_Type": ("ID_type_ID", ["LB_type"]),
    "T_DIM_magCategory": ("ID_magCategory_ID", ["LB_magCategoryName"]),
    "T_DIM_depthCategory": ("ID_depthCategory_ID", ["LB_depthCategoryName"]),
    "T_DIM_date": ("ID_date_ID", ["DT_date"]),
}
FACT_COLS = [
    "DT_time", "ID_Network_ID", "ID_RegionCountry_ID", "ID_type_ID",
    "ID_magCategory_ID", "ID_depthCategory_ID", "ID_date_ID", "VL_n_mag",
    "VL_n_depth", "LB_place",
]
# a steady delivery's Spark jobs; the per-dimension chains this path
# replaced ran 77 on the benchmark's deliveries
STEADY_DELIVERY_MAX_JOBS = 60
# a full load's Spark jobs, its six dimensions numbered by one key query;
# six window-numbered dimension builds on threads ran 46
FULL_LOAD_MAX_JOBS = 40


def _row(t, lat, lon, depth, mag, typ="earthquake", place="10km NE of Anza, CA", net="us"):
    return ",".join(
        [t, str(lat), str(lon), str(depth), str(mag), "ml", "50", "45.0", "0.5",
         "1.1", net, "evX", t, f'"{place}"', typ, "2.3", "10", "0.1", "12",
         "reviewed", "us", "us"]
    )


def _feed(path, *rows):
    path.write_text(COLS + "\n" + "\n".join(rows) + "\n")
    return str(path)


def _dims(wh: Warehouse) -> dict[str, dict]:
    """table -> {natural key: id}."""
    out = {}
    for table, (id_col, keys) in DIMS.items():
        rows = wh.read(table).collect()
        out[table] = {
            tuple(str(r[k]) if table == "T_DIM_date" else r[k] for k in keys): r[id_col]
            for r in rows
        }
        assert len(out[table]) == len(rows), f"{table} repeats a natural key"
    return out


def _fact(wh: Warehouse) -> list[tuple]:
    return sorted(
        (str(r["DT_time"]), *(r[c] for c in FACT_COLS[1:]))
        for r in wh.read("T_FACT_Events").select(*FACT_COLS).collect()
    )


def _table_rows(wh: Warehouse, table: str) -> list[tuple]:
    df = wh.read(table)
    cols = sorted(c for c in df.columns if c != "_LB_job_execution_id")
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def _dim_files(wh: Warehouse) -> dict[str, set[str]]:
    return {
        t: {f for f in os.listdir(wh.path(t)) if f.endswith(".parquet")} for t in DIMS
    }


def test_delta_loads_pin_ids_facts_files_and_jobs(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    wh_root = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_root)
    states = states_df(spark)

    scan_confs = ["spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes"]
    confs_before = [spark.conf.get(k, None) for k in scan_confs]

    def load(path, run_ts):
        run_pipeline(spark, path, states, wh_root, run_ts=run_ts)
        # the split clamp's scan settings are restored after every load
        assert [spark.conf.get(k, None) for k in scan_confs] == confs_before

    sc = spark.sparkContext

    def jobs_of(group, path, run_ts):
        """Load `path` under a job group and return the group's job ids."""
        loose = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            load(path, run_ts)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # no job escaped the group (a job submitted from another thread would)
        assert set(sc.statusTracker().getJobIdsForGroup(None)) == loose
        return sc.statusTracker().getJobIdsForGroup(group)

    jobs = jobs_of("full-load", _feed(
        raw / "whole_month_202403.csv",
        _row("2024-03-05T10:00:00.000Z", 35.1, -117.2, 15.2, 5.0),
        _row("2024-03-06T11:00:00.000Z", 36.0, -118.0, 80.0, 3.5, net="ci",
             place="Kermadec Islands, New Zealand"),
    ), datetime.datetime(2024, 4, 1, 3, 0))
    assert 0 < len(jobs) <= FULL_LOAD_MAX_JOBS, len(jobs)

    # delivery 1: a re-send, a new type and a new Region/Country, and an
    # event with NULL network, type and place (NULL natural keys, which
    # sort first among a delivery's new keys)
    load(_feed(
        raw / "all_day_20240401_120000.csv",
        _row("2024-03-05T10:00:00.000Z", 35.1, -117.2, 15.2, 5.0),
        _row("2024-04-01T09:30:00.000Z", 40.0, 20.0, 200.0, 6.5,
             typ="volcanic eruption", place="Crete, Greece"),
        _row("2024-04-01T10:15:00.000Z", 41.0, 21.0, 12.0, 2.0, typ="", place="", net=""),
    ), datetime.datetime(2024, 4, 2, 3, 0))
    assert _dims(wh) == {
        "T_DIM_Network": {("ci",): 1, ("us",): 2, (None,): 3},
        "T_DIM_RegionCountry": {
            ("California", "USA"): 1,
            ("Kermadec Islands", "New Zealand"): 2,
            (None, None): 3,
            ("Crete", "Greece"): 4,
        },
        "T_DIM_Seismic_Activity_Type": {
            ("earthquake",): 1, (None,): 2, ("volcanic eruption",): 3,
        },
        "T_DIM_magCategory": {
            ("Minor",): 1, ("Moderate",): 2, ("Not Felt",): 3, ("Strong",): 4,
        },
        "T_DIM_depthCategory": {("Intermediate",): 1, ("Shallow",): 2},
        "T_DIM_date": {
            ("2024-03-05",): 20240305, ("2024-03-06",): 20240306, ("2024-04-01",): 20240401,
        },
    }

    # delivery 2: the volcanic event re-sent with a revised magnitude
    # (already in ODS, so dropped — the fact keeps 6.55) and one new
    # event whose keys and date all exist: no dimension gains a row, so
    # no dimension gains a file
    files_before = _dim_files(wh)
    dims_before = _dims(wh)
    d2 = _feed(
        raw / "all_day_20240402_120000.csv",
        _row("2024-04-01T09:30:00.000Z", 40.0, 20.0, 200.0, 6.9,
             typ="volcanic eruption", place="Crete, Greece"),
        _row("2024-04-01T11:00:00.000Z", 42.0, 22.0, 15.0, 5.2, place="Crete, Greece"),
    )
    jobs = jobs_of("steady-delivery", d2, datetime.datetime(2024, 4, 3, 3, 0))
    assert 0 < len(jobs) <= STEADY_DELIVERY_MAX_JOBS, len(jobs)
    assert _dim_files(wh) == files_before
    assert _dims(wh) == dims_before
    assert _fact(wh) == [
        ("2024-03-05 12:00:00", 2, 1, 1, 2, 2, 20240305, 5.05, 20.2, "10km NE of Anza, CA"),
        ("2024-03-06 13:00:00", 1, 2, 1, 1, 1, 20240306, 3.55, 85.0,
         "Kermadec Islands, New Zealand"),
        ("2024-04-01 12:30:00", 2, 4, 3, 4, 1, 20240401, 6.55, 205.0, "Crete, Greece"),
        ("2024-04-01 13:15:00", 3, 3, 2, 3, 2, 20240401, 2.05, 17.0, None),
        ("2024-04-01 14:00:00", 2, 4, 1, 2, 2, 20240401, 5.25, 20.0, "Crete, Greece"),
    ]

    # idempotent re-run of delivery 2: every warehouse table is unchanged
    tables = ["ODS_earthquake", "T_ODS_earthquake", *DIMS, "T_FACT_Events"]
    before = {t: _table_rows(wh, t) for t in tables}
    load(d2, datetime.datetime(2024, 4, 4, 3, 0))
    assert {t: _table_rows(wh, t) for t in tables} == before
    assert _dim_files(wh) == files_before
