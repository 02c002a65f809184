"""Gold-side incremental view maintenance (amt/incremental_gold.py)."""

from __future__ import annotations

import json

from api_to_amt_data_lake_spark.amt.base import date_dim
from api_to_amt_data_lake_spark.amt.incremental_gold import (
    refresh_view_incremental,
)

SY = 2023


def _doc(i: int, date: str) -> dict:
    return {
        "id": f"cd{i}", "date": date,
        "calendarReference": {"schoolYear": SY, "schoolId": 100},
        "calendarEvents": [{
            "calendarEventDescriptor":
            "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}],
    }


def _write_silver(root, docs) -> None:
    d = root / str(SY) / "calendarDates"
    d.mkdir(parents=True, exist_ok=True)
    (d / "calendarDates_1.json").write_text(json.dumps(docs))


def _keys(spark, *keys):
    return spark.createDataFrame([(k,) for k in keys], "DateKey string")


def test_first_refresh_is_full_build(spark, tmp_path):
    silver, gold = tmp_path / "silver", tmp_path / "gold"
    _write_silver(silver, [_doc(1, "2023-08-15"), _doc(2, "2023-08-16")])
    p = refresh_view_incremental(
        spark, "dateDim", str(silver), str(gold), SY,
        _keys(spark, "20230815"), "DateKey")
    got = {r.DateKey for r in spark.read.parquet(p).collect()}
    assert got == {"20230815", "20230816"}  # full build despite 1 key


def test_refresh_equals_full_rebuild_with_update_insert_delete(spark, tmp_path):
    silver, gold = tmp_path / "silver", tmp_path / "gold"
    _write_silver(silver, [_doc(1, "2023-08-15"), _doc(2, "2023-08-16")])
    refresh_view_incremental(
        spark, "dateDim", str(silver), str(gold), SY,
        _keys(spark, "20230815", "20230816"), "DateKey")

    # silver moves on: 0816 deleted (tombstone), 0902 inserted
    _write_silver(silver, [_doc(1, "2023-08-15"), _doc(3, "2023-09-02")])
    p = refresh_view_incremental(
        spark, "dateDim", str(silver), str(gold), SY,
        _keys(spark, "20230816", "20230902"), "DateKey")

    inc = spark.read.parquet(p)
    full = date_dim.build(spark, str(silver), SY)
    assert sorted(inc.columns) == sorted(full.columns)
    cols = sorted(inc.columns)
    assert sorted(map(tuple, inc.select(cols).collect())) == \
        sorted(map(tuple, full.select(cols).collect()))
    got = {r.DateKey for r in inc.collect()}
    assert got == {"20230815", "20230902"}  # delete applied, insert applied


def test_untouched_keys_carry_over_without_recompute_drift(spark, tmp_path):
    silver, gold = tmp_path / "silver", tmp_path / "gold"
    _write_silver(silver, [_doc(1, "2023-08-15"), _doc(2, "2023-08-16")])
    refresh_view_incremental(
        spark, "dateDim", str(silver), str(gold), SY,
        _keys(spark, "20230815", "20230816"), "DateKey")
    # refresh with an empty change set: gold must be byte-identical rows
    before = sorted(map(tuple, spark.read.parquet(
        str(gold / str(SY) / "dateDim")).collect()))
    p = refresh_view_incremental(
        spark, "dateDim", str(silver), str(gold), SY,
        _keys(spark), "DateKey")
    after = sorted(map(tuple, spark.read.parquet(p).collect()))
    assert before == after


def test_pipeline_incremental_refresh_touches_only_listed_views(spark, tmp_path):
    from api_to_amt_data_lake_spark.pipeline import run_incremental_refresh
    silver, gold = tmp_path / "silver", tmp_path / "gold"
    _write_silver(silver, [_doc(1, "2023-08-15")])
    refresh_view_incremental(
        spark, "dateDim", str(silver), str(gold), SY,
        _keys(spark, "20230815"), "DateKey")

    _write_silver(silver, [_doc(1, "2023-08-15"), _doc(2, "2023-09-02")])
    out = run_incremental_refresh(
        spark, str(silver), str(gold), SY,
        {"dateDim": (_keys(spark, "20230902"), "DateKey")})
    assert set(out) == {"dateDim"}
    got = {r.DateKey for r in spark.read.parquet(out["dateDim"]).collect()}
    assert got == {"20230815", "20230902"}
    # no other view directory was created
    import os
    assert sorted(os.listdir(gold / str(SY))) == ["dateDim"]


def test_refresh_repairs_stale_swap_directories(spark, tmp_path):
    """A crash between the swap renames strands .refresh-tmp/-old dirs;
    the next refresh must clear them and succeed."""
    silver, gold = tmp_path / "silver", tmp_path / "gold"
    _write_silver(silver, [_doc(1, "2023-08-15")])
    p = refresh_view_incremental(
        spark, "dateDim", str(silver), str(gold), SY,
        _keys(spark, "20230815"), "DateKey")
    # strand both directories as a crashed swap would
    import shutil
    shutil.copytree(p, p + ".refresh-tmp")
    shutil.copytree(p, p + ".refresh-old")
    _write_silver(silver, [_doc(1, "2023-08-15"), _doc(2, "2023-09-02")])
    p2 = refresh_view_incremental(
        spark, "dateDim", str(silver), str(gold), SY,
        _keys(spark, "20230902"), "DateKey")
    got = {r.DateKey for r in spark.read.parquet(p2).collect()}
    assert got == {"20230815", "20230902"}
    import os
    assert not os.path.exists(p2 + ".refresh-tmp")
    assert not os.path.exists(p2 + ".refresh-old")


def test_register_gold_views_sql_surface(spark, tmp_path):
    from api_to_amt_data_lake_spark.sources.parquet_io import (
        register_gold_views,
    )
    silver, gold = tmp_path / "silver", tmp_path / "gold"
    _write_silver(silver, [_doc(1, "2023-08-15"), _doc(2, "2023-09-02")])
    refresh_view_incremental(
        spark, "dateDim", str(silver), str(gold), SY,
        _keys(spark, "20230815", "20230902"), "DateKey")
    # a staging copy stranded by a crashed swap is not a view
    import shutil
    shutil.copytree(gold / str(SY) / "dateDim",
                    gold / str(SY) / "dateDim.swap-tmp")
    names = register_gold_views(spark, str(gold), SY)
    assert "dateDim" in names
    rows = spark.sql(
        "SELECT DateKey FROM dateDim ORDER BY DateKey").collect()
    assert [r.DateKey for r in rows] == ["20230815", "20230902"]


def test_cli_views_run_and_sql(spark, tmp_path, capsys):
    from api_to_amt_data_lake_spark.__main__ import main
    # views: lists the registry
    assert main(["views"]) == 0
    out = capsys.readouterr().out
    assert "dateDim" in out and "schoolDim" in out
    # run: builds gold from silver (dateDim is the only view with input)
    silver, gold = tmp_path / "silver", tmp_path / "gold"
    _write_silver(silver, [_doc(1, "2023-08-15")])
    assert main(["run", "--silver", str(silver), "--gold", str(gold),
                 "--school-year", str(SY), "--parallelism", "1"]) == 0
    capsys.readouterr()
    # sql: queries the gold views
    assert main(["sql", "--gold", str(gold), "--school-year", str(SY),
                 "SELECT DateKey FROM dateDim"]) == 0
    assert "20230815" in capsys.readouterr().out


def test_validate_gold_reports_orphans_dupes_and_skips(spark, tmp_path):
    """amt/validate.py: referential orphans and duplicate/blank keys are
    counted per check; views missing from the gold folder are SKIPPED,
    and a clean lake is all-PASS."""
    from api_to_amt_data_lake_spark.amt.validate import validate_gold

    gold = tmp_path / "gold" / str(SY)

    def write(name, rows, schema):
        spark.createDataFrame(rows, schema).write.mode("overwrite") \
            .parquet(str(gold / name))

    write("schoolDim", [("s1",), ("s2",)], "SchoolKey string")
    write("studentSchoolDim",
          [("st1-s1", "st1", "s1"), ("st2-s9", "st2", "s9"),  # orphan s9
           ("st1-s1", "st1", "s1")],                          # dup key
          "StudentSchoolKey string, StudentKey string, SchoolKey string")
    write("dateDim", [("20230815",), ("",)], "DateKey string")  # blank key

    rep = {r["check"]: (r["status"], r["violations"])
           for r in validate_gold(spark, str(tmp_path / "gold"),
                                  SY).collect()}
    assert rep["studentSchoolDim.SchoolKey -> schoolDim.SchoolKey"] == \
        ("FAIL", 1)
    assert rep["schoolDim(SchoolKey) unique"] == ("PASS", 0)
    assert rep["studentSchoolDim(StudentSchoolKey) unique"] == ("FAIL", 1)
    assert rep["dateDim(DateKey) non-null"] == ("FAIL", 1)
    # absent views are SKIPPED, not failed
    assert rep["sectionDim(SectionKey) unique"] == ("SKIPPED", 0)
    assert rep[("ews_studentSectionGradeFact.StudentSectionKey -> "
                "studentSectionDim.StudentSectionKey")] == ("SKIPPED", 0)

    # repair the lake -> the previously failing checks pass
    write("studentSchoolDim",
          [("st1-s1", "st1", "s1"), ("st2-s2", "st2", "s2")],
          "StudentSchoolKey string, StudentKey string, SchoolKey string")
    write("dateDim", [("20230815",), ("20230816",)], "DateKey string")
    rep2 = {r["check"]: r["status"]
            for r in validate_gold(spark, str(tmp_path / "gold"),
                                   SY).collect()}
    assert rep2["studentSchoolDim.SchoolKey -> schoolDim.SchoolKey"] == "PASS"
    assert rep2["studentSchoolDim(StudentSchoolKey) unique"] == "PASS"
    assert rep2["dateDim(DateKey) non-null"] == "PASS"
