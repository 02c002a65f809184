"""chronic_absenteeism_attendance_fact — daily attendance flags per
student/school/instructional day.

Parity target: `parquet/amt/chrab/chronic_absenteeism_attendance_fact/
main.py`. Dataflow: enrollments × calendar days (interval containment J7,
`main.py:126-145`), attendance-category crosstabs per (student, school,
date) for school and section events (A9, `main.py:176-182,276-282`),
school-year compatibility filters (P7 null-aware disjunctions,
`main.py:216-221,314-318`), instructional-day + date<=today filters
(`main.py:236-241`), then group-max to one row per student/school/day
(A1, `main.py:376-381`).

Faithfully reproduced quirks:
- `ReportedAsIsPresentInAllSections` is ALWAYS 0: the reference lambda
  (`main.py:409-411`) chains `r[x] == 0 & r[x] == 1`, where `&` binds
  tighter than `==` — the predicate can never hold. Kept for parity.
- `ReportedAsAbsentFromAnySection` equals the homeroom-absence flag
  (`main.py:413-415`).
- The reference's final left join against studentSectionAssociations
  (`main.py:322-363`) only fans rows out (no filter, no columns used);
  the trailing group-max makes it a no-op, so it is omitted here.

Scale shape: the enrollment×calendar interval join shuffles on schoolId
(AQE skew-join handles hot schools); both crosstabs are single-shuffle
pivots on (student, school, date); the final max is a partial-aggregating
groupBy on the output key.
"""

from __future__ import annotations

from datetime import date as _date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.functions.dates import date_key
from api_to_amt_data_lake_spark.functions.descriptors import descriptor_code_value
from api_to_amt_data_lake_spark.operators.pivots import crosstab_count
from api_to_amt_data_lake_spark.plans.contracts import ViewContract
from api_to_amt_data_lake_spark.sources.json_source import read_collection
from api_to_amt_data_lake_spark.sources.lookup import with_descriptor_constant

CONTRACT = ViewContract(
    name="chrab_chronicAbsenteeismAttendanceFact",
    columns=(
        "StudentSchoolKey", "StudentKey", "SchoolKey", "DateKey",
        "ReportedAsPresentAtSchool", "ReportedAsAbsentFromSchool",
        "ReportedAsPresentAtHomeRoom", "ReportedAsAbsentFromHomeRoom",
        "ReportedAsIsPresentInAllSections", "ReportedAsAbsentFromAnySection",
    ),
    types={c: "int" for c in (
        "ReportedAsPresentAtSchool", "ReportedAsAbsentFromSchool",
        "ReportedAsPresentAtHomeRoom", "ReportedAsAbsentFromHomeRoom",
        "ReportedAsIsPresentInAllSections", "ReportedAsAbsentFromAnySection",
    )},
)

_CATS = ["AttendanceEvent.Present", "AttendanceEvent.Absence"]


def _event_counts(events: DataFrame, school_col: str, student_col: str,
                  year_col) -> DataFrame:
    """Crosstab Present/Absence counts per (student, school, eventDate),
    carrying the session school-year key along (max over identical rows).

    The category list is fixed (`_CATS`), so the reference's crosstab
    (A9) collapses to conditional counts inside ONE partial-aggregating
    groupBy — one shuffle, vs pivot + year-groupBy + re-join (three).
    """
    parsed = with_descriptor_constant(
        events.select(
            F.col(student_col).cast("string").alias("_student"),
            F.col(school_col).cast("string").alias("_school"),
            date_key("eventDate").alias("_date"),
            year_col.cast("string").alias("_ev_year"),
            F.col("attendanceEventCategoryDescriptor"),
        ),
        "attendanceEventCategoryDescriptor",
    )
    cat = F.col("attendanceEventCategoryDescriptor_constantName")
    return parsed.groupBy("_student", "_school", "_date").agg(
        F.count(F.when(cat == "AttendanceEvent.Present", True))
        .alias("_present"),
        F.count(F.when(cat == "AttendanceEvent.Absence", True))
        .alias("_absence"),
        F.max("_ev_year").alias("_ev_year"),
    )


def build(spark: SparkSession, silver_root: str, school_year: str | int,
          run_date: str | None = None) -> DataFrame:
    ssa = read_collection(spark, silver_root, school_year,
                          "studentSchoolAssociations")
    cal = read_collection(spark, silver_root, school_year, "calendarDates")
    school_ev = read_collection(spark, silver_root, school_year,
                                "studentSchoolAttendanceEvents")
    section_ev = read_collection(spark, silver_root, school_year,
                                 "studentSectionAttendanceEvents")
    if ssa is None or cal is None or "calendarEvents" not in cal.columns:
        return CONTRACT.empty(spark)

    sch = sec = None
    if school_ev is not None:
        sch = _event_counts(
            school_ev, "schoolReference.schoolId",
            "studentReference.studentUniqueId",
            F.col("sessionReference.schoolYear")
            if "sessionReference" in school_ev.columns else F.lit(None),
        ).withColumnsRenamed({"_present": "_sch_present",
                              "_absence": "_sch_absence",
                              "_ev_year": "_sch_year"})
    if section_ev is not None:
        sec = _event_counts(
            section_ev, "sectionReference.schoolId",
            "studentReference.studentUniqueId",
            F.col("sectionReference.schoolYear"),
        ).withColumnsRenamed({"_present": "_sec_present",
                              "_absence": "_sec_absence",
                              "_ev_year": "_sec_year"})
    return assemble(spark, ssa, cal, sch, sec, run_date)


def assemble(spark: SparkSession, ssa: DataFrame, cal: DataFrame,
             sch: DataFrame | None, sec: DataFrame | None,
             run_date: str | None = None,
             touched: DataFrame | None = None) -> DataFrame:
    """The view body downstream of the event crosstabs: enrollments ×
    instructional days (J7), left-join the per-(student, school, date)
    Present/Absence count frames (columns `_student _school _date
    _sch_present _sch_absence _sch_year` / the `_sec_*` twins), year
    compatibility filters, flag derivation, contract conform.

    Split out of `build` so the count frames can come either from the
    raw silver events (`_event_counts`, the full rebuild) or from the
    per-event indicator snapshots (`amt/chrab_incremental.py` — the
    incremental path). With `touched`
    (columns `StudentKey SchoolKey _date`), the enrollment×day base is
    semi-joined down to the touched output keys first, so a delta
    refresh computes only the changed rows (the broadcast semi join +
    runtime bloom filter push the key set into the silver scans)."""
    today_key = (run_date or _date.today().isoformat()).replace("-", "")[:8]

    enroll = ssa.select(
        F.col("studentReference.studentUniqueId").cast("string").alias("StudentKey"),
        F.col("schoolReference.schoolId").cast("string").alias("SchoolKey"),
        date_key("entryDate").alias("_entry"),
        F.coalesce(date_key("exitWithdrawDate"), F.lit("")).alias("_exit")
        if "exitWithdrawDate" in ssa.columns else F.lit("").alias("_exit"),
        F.col("schoolYearTypeReference.schoolYear").cast("string")
        .alias("_assoc_year"),
    )
    days = cal.select(
        F.col("calendarReference.schoolId").cast("string").alias("_cal_school"),
        date_key("date").alias("_date"),
        F.explode_outer("calendarEvents.calendarEventDescriptor").alias("_event"),
    ).filter(
        (descriptor_code_value("_event") == "Instructional day")
        & (F.col("_date") <= today_key)
    )

    # J7: equi on school, range predicate inside the join condition.
    base = enroll.join(
        days,
        (enroll.SchoolKey == days._cal_school)
        & (enroll._entry <= days._date)
        & ((enroll._exit == "") | (enroll._exit >= days._date)),
        "inner",
    ).select("StudentKey", "SchoolKey", "_date", "_assoc_year")
    if touched is not None:
        base = base.join(
            F.broadcast(touched.select("StudentKey", "SchoolKey",
                                       "_date").distinct()),
            ["StudentKey", "SchoolKey", "_date"], "left_semi")

    def year_ok(ev_year):
        a = F.coalesce(F.col("_assoc_year"), F.lit(""))
        e = F.coalesce(ev_year, F.lit(""))
        return (a == "") | (e == "") | (a == e)

    if sch is not None:
        base = base.join(
            sch,
            (base.StudentKey == sch._student) & (base.SchoolKey == sch._school)
            & (base._date == sch._date), "left",
        ).drop("_student", "_school", sch._date).filter(
            year_ok(F.col("_sch_year")))
    else:
        base = base.withColumns({"_sch_present": F.lit(None).cast("long"),
                                 "_sch_absence": F.lit(None).cast("long")})

    if sec is not None:
        base = base.join(
            sec,
            (base.StudentKey == sec._student) & (base.SchoolKey == sec._school)
            & (base._date == sec._date), "left",
        ).drop("_student", "_school", sec._date).filter(
            year_ok(F.col("_sec_year")))
    else:
        base = base.withColumns({"_sec_present": F.lit(None).cast("long"),
                                 "_sec_absence": F.lit(None).cast("long")})

    agg = base.groupBy("StudentKey", "SchoolKey", "_date").agg(
        F.max("_sch_present").alias("_sch_present"),
        F.max("_sch_absence").alias("_sch_absence"),
        F.max("_sec_present").alias("_sec_present"),
        F.max("_sec_absence").alias("_sec_absence"),
    )

    def flag(c: str):
        return F.when(F.col(c) > 0, 1).otherwise(0)

    return CONTRACT.conform(
        agg.select(
            F.concat_ws("-", "StudentKey", "SchoolKey").alias("StudentSchoolKey"),
            "StudentKey", "SchoolKey",
            F.col("_date").alias("DateKey"),
            flag("_sch_present").alias("ReportedAsPresentAtSchool"),
            flag("_sch_absence").alias("ReportedAsAbsentFromSchool"),
            flag("_sec_present").alias("ReportedAsPresentAtHomeRoom"),
            flag("_sec_absence").alias("ReportedAsAbsentFromHomeRoom"),
            F.lit(0).alias("ReportedAsIsPresentInAllSections"),
            flag("_sec_absence").alias("ReportedAsAbsentFromAnySection"),
        ),
        spark,
    )
