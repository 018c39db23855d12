"""File-utility units: archive naming and moves, the feed calendar and
warehouse reads (S11, P19)."""

from __future__ import annotations

import os

from gcp_data_pipeline_fyp_spark.sources.files import (
    archive_date_from_filename,
    archive_file,
)


def test_archive_date_extract():
    # move_to_archive_*.py:21-27 patterns. NB the reference's ordered
    # alternation (\d{2}|\d{6}) takes the FIRST branch, so a 6-digit
    # token yields its first two digits — replicated as observable
    # behavior (move_to_archive_full_load.py:20).
    assert archive_date_from_filename("whole_month_202403.csv") == "20"
    assert archive_date_from_filename("whole_month_03.csv") == "03"
    assert archive_date_from_filename("all_day_20240401_120000.csv") == "20240401"
    assert archive_date_from_filename("all_day_20240401-120000.csv") == "20240401"
    assert archive_date_from_filename("random.csv") is None


def test_archive_file_moves(tmp_path):
    src = tmp_path / "all_day_20240401_120000.csv"
    src.write_text("data")
    dest = archive_file(str(src), str(tmp_path), "delta")
    assert not src.exists()
    assert os.path.exists(dest)
    assert "ARCHIVE/DELTA_LOAD/20240401/archive_all_day_20240401_120000.csv" in dest


def test_feed_request_calendar():
    # cloud_function.py:20-31 — day 1 -> previous-month full, else daily
    import datetime

    from gcp_data_pipeline_fyp_spark.sources.files import feed_request_for

    url, name, mode = feed_request_for(datetime.datetime(2024, 4, 1, 3, 0))
    assert mode == "full"
    assert name == "whole_month_03.csv"
    assert "starttime=2024-03-01" in url
    url, name, mode = feed_request_for(datetime.datetime(2024, 4, 15, 13, 30, 45))
    assert mode == "delta"
    assert name == "all_day_20240415-133045.csv"
    assert url.endswith("all_day.csv")


# ------------------------------------------------ JSONL source/sink
def test_jsonl_roundtrip_with_corrupt_quarantine(spark, tmp_path):
    from gcp_data_pipeline_fyp_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )

    src = tmp_path / "corpus"
    src.mkdir()
    (src / "part0.jsonl").write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr"}\n'
        "{torn json line\n"
        '{"doc_id": 3, "text": null, "lang": "en"}\n'
    )
    df = read_jsonl(spark, str(src), "doc_id long, text string, lang string")
    valid, corrupt = split_corrupt(df)
    rows = {r["doc_id"]: (r["text"], r["lang"]) for r in valid.collect()}
    assert rows == {
        1: ("hello world", "en"),
        2: ("bonjour", "fr"),
        3: (None, "en"),
    }
    assert [r["raw"] for r in corrupt.collect()] == ["{torn json line"]
    assert "_corrupt_record" not in valid.columns

    # write back compressed and re-read — content survives the roundtrip
    out = tmp_path / "out"
    write_jsonl(valid, str(out), compression="gzip", max_records_per_file=2)
    back = read_jsonl(
        spark, str(out), "doc_id long, text string, lang string",
        keep_corrupt=False,
    )
    assert {
        r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()
    } == rows
    import glob

    assert glob.glob(str(out / "*.gz")), "expected gzip-compressed parts"


def test_jsonl_read_is_single_pass_no_inference(spark, tmp_path):
    """Schema-pinned read must not run an inference scan: reading a
    path whose data would be expensive to infer is plan-only until an
    action, and the scan schema equals the pinned DDL exactly."""
    src = tmp_path / "c2"
    src.mkdir()
    (src / "a.jsonl").write_text('{"doc_id": 9, "text": "t"}\n')
    from gcp_data_pipeline_fyp_spark.sources.jsonl import read_jsonl

    df = read_jsonl(
        spark, str(src), "doc_id long, text string", keep_corrupt=False
    )
    assert df.schema.simpleString() == "struct<doc_id:bigint,text:string>"


def test_read_evolved_unions_footers(spark, tmp_path):
    """Columns added by later appends read back NULL for old files;
    plain read's one-footer sampling is exactly why read_evolved
    exists (additive evolution only — the contract)."""
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "evwh"))
    wh.overwrite(
        spark.createDataFrame([(1, "a")], "id long, v string"), "T"
    )
    wh.append(
        spark.createDataFrame(
            [(2, "b", 9.5)], "id long, v string, extra double"
        ),
        "T",
    )
    got = {
        r["id"]: (r["v"], r["extra"])
        for r in wh.read_evolved("T").collect()
    }
    assert got == {1: ("a", None), 2: ("b", 9.5)}
