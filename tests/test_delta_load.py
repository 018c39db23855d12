"""Delta loads in the fast tier: a full load, two daily deliveries and an
idempotent re-run, pinned row for row (surrogate ids included), plus the
structural promises of the delta path — a delivery with no new dimension
key writes no dimension file, and a full load and a steady delivery each
stay within a job budget — and of the warehouse: every table it wrote
reads through its `_schema.json` without a Spark job, equal to Spark's
footer-inferring read."""

from __future__ import annotations

import datetime
import os

from gcp_data_pipeline_fyp_spark.plans.pipeline import run_pipeline
from gcp_data_pipeline_fyp_spark.sources.states import states_df
from gcp_data_pipeline_fyp_spark.sources.tables import SCHEMA_FILE, Warehouse

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
# a steady delivery's Spark jobs, its fact rows appended and no table
# read inferring its schema; 38 when the fact MERGE rewrote the touched
# months and every read ran a footer job, 77 with per-dimension chains
STEADY_DELIVERY_MAX_JOBS = 25
# a full load's Spark jobs, its six dimensions numbered by one key query;
# 30 when every read ran a footer job, 46 with six window-numbered
# dimension builds on threads
FULL_LOAD_MAX_JOBS = 25


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


def test_schema_file_reads_run_no_job_and_equal_inferred_reads(spark, tmp_path):
    """Every table of a full load, two deliveries and two stream rounds
    (the second a rewrite: it updates a stored id) carries its schema
    file; `Warehouse.read` of it runs no Spark job and equals
    `spark.read.parquet` in schema (names, types, order) and rows."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import in_range, not_null
    from gcp_data_pipeline_fyp_spark.streaming.ingest import stream_validated_ingest

    raw = tmp_path / "raw"
    raw.mkdir()
    root = str(tmp_path / "wh")
    states = states_df(spark)
    for name, rows, run_ts in [
        ("whole_month_202403.csv", [
            _row("2024-03-05T10:00:00.000Z", 35.1, -117.2, 15.2, 5.0),
            _row("2024-03-06T11:00:00.000Z", 36.0, -118.0, 80.0, 3.5, net="ci",
                 place="Kermadec Islands, New Zealand"),
        ], datetime.datetime(2024, 4, 1, 3, 0)),
        ("all_day_20240401_120000.csv", [
            _row("2024-04-01T09:30:00.000Z", 40.0, 20.0, 200.0, 6.5,
                 typ="volcanic eruption", place="Crete, Greece"),
            _row("2024-04-01T10:15:00.000Z", 41.0, 21.0, 12.0, 2.0, typ="", place="", net=""),
        ], datetime.datetime(2024, 4, 2, 3, 0)),
        ("all_day_20240402_120000.csv", [
            _row("2024-04-01T11:00:00.000Z", 42.0, 22.0, 15.0, 5.2, place="Crete, Greece"),
        ], datetime.datetime(2024, 4, 3, 3, 0)),
    ]:
        run_pipeline(spark, _feed(raw / name, *rows), states, root, run_ts=run_ts)

    wh = Warehouse(spark, root)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rounds = [
        [(1, "2024-01-01 10:00:00", "click", 1.0), (2, "2024-01-01 10:01:00", "", 2.0)],
        [(3, "2024-01-01 11:00:00", "view", 3.0)],
    ]
    for i, rows in enumerate(rounds):
        (in_dir / f"r{i}.csv").write_text(
            "event_id,ts,event_type,value\n"
            + "\n".join(",".join(map(str, r)) for r in rows)
        )
        if i == 1:  # id 3 from another load path: round 1 updates it
            wh.append(
                wh.read("EVENTS").selectExpr(
                    "3L AS event_id", "ts", "event_type", "9.0D AS value"
                ),
                "EVENTS",
            )
        stream_validated_ingest(
            spark, str(in_dir), "event_id long, ts timestamp, event_type string, value double",
            ["event_id"], "ts", wh, "EVENTS", str(tmp_path / "ckpt"),
            rules=[not_null("event_type"), in_range("value", 0, 10)],
            quarantine_table="QUARANTINE", report_table="EXPECTATIONS_LOG",
        ).awaitTermination(120)
    assert sorted(map(tuple, wh.read("EVENTS").select("event_id", "value").collect())) == [
        (1, 1.0), (3, 3.0)
    ]

    tables = sorted(e for e in os.listdir(root) if e != "REJECTED")
    assert set(tables) == {
        "T_STG_earthquake", "ODS_earthquake", "T_ODS_earthquake", *DIMS, "T_FACT_Events",
        "EVENTS", "QUARANTINE", "EXPECTATIONS_LOG",
    }
    sc = spark.sparkContext
    for t in tables:
        assert os.path.exists(os.path.join(wh.path(t), SCHEMA_FILE)), t
        sc.setJobGroup(f"read-{t}", t)
        try:
            df = wh.read(t)
            fields = [(f.name, f.dataType) for f in df.schema]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(f"read-{t}") == [], t
        inferred = spark.read.parquet(wh.path(t))
        assert fields == [(f.name, f.dataType) for f in inferred.schema], t
        assert sorted(map(tuple, df.collect()), key=repr) == sorted(
            map(tuple, inferred.collect()), key=repr
        ), t
