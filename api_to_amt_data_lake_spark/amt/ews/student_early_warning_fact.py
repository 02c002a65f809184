"""student_early_warning_fact — per student/school/calendar-day attendance,
homeroom, and discipline indicator counts.

Parity target: `parquet/amt/ews/student_early_warning_fact/main.py`
(RESULT_COLUMNS `main.py:38-58`). Semantics reproduced:
- enrollment × calendar-event rows joined on schoolId with
  entry<=date<=exit range filters and date<=today (J7 via range-in-join;
  `main.py:148-166`); a null exitWithdrawDate stringifies to 'nan' in the
  reference and passes the >= filter → treated as open-ended here.
- IsInstructionalDay is a per-calendar-event 1/0 via the
  CalendarEvent.InstructionalDay crosswalk constant (F12,
  `main.py:125-131`) — days keep one row per calendar event.
- school-attendance crosstab uses crosswalk *constants*
  (`main.py:194-207`), while the section crosstab uses raw code values
  (`main.py:292-331`) — both kept as raw counts, not clamped to 1.
- homeroom flags come only from homeroomIndicator sections; per
  (school, year, student, day) everything collapses with group-max (A1,
  `main.py:459-466`).
- discipline counts: incidents ⋈ behavior associations → constant
  crosswalk → crosstab per (school, student, incidentDate)
  (`main.py:494-563`).
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

_FLAGS = (
    "IsPresentSchool", "IsAbsentFromSchoolExcused", "IsAbsentFromSchoolUnexcused",
    "IsTardyToSchool", "IsPresentHomeroom", "IsAbsentFromHomeroomExcused",
    "IsAbsentFromHomeroomUnexcused", "IsTardyToHomeroom", "IsPresentAnyClass",
    "IsAbsentFromAnyClassExcused", "IsAbsentFromAnyClassUnexcused",
    "IsTardyToAnyClass", "CountByDayOfStateOffenses", "CountByDayOfConductOffenses",
)

CONTRACT = ViewContract(
    name="ews_studentEarlyWarningFact",
    columns=("StudentKey", "SchoolKey", "DateKey", "IsInstructionalDay",
             "IsEnrolled") + _FLAGS,
    types={**{c: "long" for c in _FLAGS},
           "IsInstructionalDay": "int", "IsEnrolled": "int"},
)


def build(spark: SparkSession, silver_root: str, school_year: str | int,
          run_date: str | None = None) -> DataFrame:
    ssa = read_collection(spark, silver_root, school_year,
                          "studentSchoolAssociations")
    cal = read_collection(spark, silver_root, school_year, "calendarDates")
    school_ev = read_collection(spark, silver_root, school_year,
                                "studentSchoolAttendanceEvents")
    section_assoc = read_collection(spark, silver_root, school_year,
                                    "studentSectionAssociations")
    section_ev = read_collection(spark, silver_root, school_year,
                                 "studentSectionAttendanceEvents")
    incidents = read_collection(spark, silver_root, school_year,
                                "disciplineIncidents")
    behavior = read_collection(
        spark, silver_root, school_year,
        "studentDisciplineIncidentBehaviorAssociations")
    if ssa is None or cal is None or "calendarEvents" not in cal.columns:
        return CONTRACT.empty(spark)

    sch_ct = per_day = disc_ct = None
    if school_ev is not None:
        sch_ct = school_attendance_counts(school_ev)
    if section_ev is not None and section_assoc is not None:
        per_day = section_day_flags(
            section_event_counts(section_ev),
            section_assoc_frame(section_assoc))
    if incidents is not None and behavior is not None:
        disc_ct = discipline_counts(
            incident_frame(incidents).join(
                behavior_frame(behavior), ["_school", "_incident"],
                "inner"))
    return assemble(spark, ssa, cal, sch_ct, per_day, disc_ct, run_date)


def school_attendance_counts(school_ev: DataFrame) -> DataFrame:
    """The school-attendance crosstab per (school, student, eventDate)
    — crosswalk CONSTANTS (`main.py:194-207`)."""
    sch = with_descriptor_constant(
        school_ev.select(
            F.col("schoolReference.schoolId").cast("string").alias("_school"),
            F.col("studentReference.studentUniqueId").cast("string")
            .alias("_student"),
            F.col("eventDate").cast("string").alias("_evdate"),
            F.col("attendanceEventCategoryDescriptor"),
        ),
        "attendanceEventCategoryDescriptor",
    )
    return crosstab_count(
        sch, ["_school", "_student", "_evdate"],
        "attendanceEventCategoryDescriptor_constantName",
        ["AttendanceEvent.Present", "AttendanceEvent.ExcusedAbsence",
         "AttendanceEvent.UnexcusedAbsence", "AttendanceEvent.Tardy"],
        rename={
            "AttendanceEvent.Present": "IsPresentSchool",
            "AttendanceEvent.ExcusedAbsence": "IsAbsentFromSchoolExcused",
            "AttendanceEvent.UnexcusedAbsence":
                "IsAbsentFromSchoolUnexcused",
            "AttendanceEvent.Tardy": "IsTardyToSchool",
        },
    )


SEC_KEYS = ["_lcc", "_school", "_year", "_sid", "_sess", "_student"]


def section_event_counts(section_ev: DataFrame) -> DataFrame:
    """The section-attendance crosstab per (section keys, eventDate,
    environment) — RAW code values (`main.py:292-331`)."""
    ev = section_ev.select(
        F.col("sectionReference.localCourseCode").alias("_lcc"),
        F.col("sectionReference.schoolId").cast("string").alias("_school"),
        F.col("sectionReference.schoolYear").cast("string").alias("_year"),
        F.col("sectionReference.sectionIdentifier").alias("_sid"),
        F.col("sectionReference.sessionName").alias("_sess"),
        F.col("studentReference.studentUniqueId").cast("string")
        .alias("_student"),
        F.col("eventDate").cast("string").alias("_evdate"),
        descriptor_code_value("attendanceEventCategoryDescriptor")
        .alias("_cat"),
        (F.col("educationalEnvironmentDescriptor")
         if "educationalEnvironmentDescriptor" in section_ev.columns
         else F.lit(None).cast("string")).alias("_env"),
    )
    return crosstab_count(
        ev, SEC_KEYS + ["_evdate", "_env"], "_cat",
        ["In Attendance", "Excused Absence", "Unexcused Absence", "Tardy"],
        rename={
            "In Attendance": "IsPresentAnyClass",
            "Excused Absence": "IsAbsentFromAnyClassExcused",
            "Unexcused Absence": "IsAbsentFromAnyClassUnexcused",
            "Tardy": "IsTardyToAnyClass",
        },
    )


def section_assoc_frame(section_assoc: DataFrame) -> DataFrame:
    return section_assoc.select(
        F.col("sectionReference.localCourseCode").alias("_lcc"),
        F.col("sectionReference.schoolId").cast("string").alias("_school"),
        F.col("sectionReference.schoolYear").cast("string").alias("_year"),
        F.col("sectionReference.sectionIdentifier").alias("_sid"),
        F.col("sectionReference.sessionName").alias("_sess"),
        F.col("studentReference.studentUniqueId").cast("string")
        .alias("_student"),
        (F.col("homeroomIndicator")
         if "homeroomIndicator" in section_assoc.columns
         else F.lit(None).cast("boolean")).alias("_homeroom"),
    )


def section_day_flags(ev_ct: DataFrame, assoc: DataFrame) -> DataFrame:
    """assoc ⋈ section crosstab → per-(school, year, student, day)
    group-max with the homeroom split (`main.py:459-466`)."""
    joined = assoc.join(ev_ct, SEC_KEYS, "inner")
    hr = F.when(F.col("_homeroom"), 1).otherwise(0)
    return (
        joined.groupBy("_school", "_year", "_student", "_evdate")
        .agg(
            F.max("IsPresentAnyClass").alias("IsPresentAnyClass"),
            F.max("IsAbsentFromAnyClassExcused")
            .alias("IsAbsentFromAnyClassExcused"),
            F.max("IsAbsentFromAnyClassUnexcused")
            .alias("IsAbsentFromAnyClassUnexcused"),
            F.max("IsTardyToAnyClass").alias("IsTardyToAnyClass"),
            F.max(hr * F.col("IsPresentAnyClass")).alias("IsPresentHomeroom"),
            F.max(hr * F.col("IsAbsentFromAnyClassExcused"))
            .alias("IsAbsentFromHomeroomExcused"),
            F.max(hr * F.col("IsAbsentFromAnyClassUnexcused"))
            .alias("IsAbsentFromHomeroomUnexcused"),
            F.max(hr * F.col("IsTardyToAnyClass")).alias("IsTardyToHomeroom"),
        )
    )


def incident_frame(incidents: DataFrame) -> DataFrame:
    return incidents.select(
        F.col("schoolReference.schoolId").cast("string").alias("_school"),
        F.col("incidentIdentifier").alias("_incident"),
        F.col("incidentDate").cast("string").alias("_incdate"),
    )


def behavior_frame(behavior: DataFrame) -> DataFrame:
    return behavior.select(
        F.col("disciplineIncidentReference.incidentIdentifier")
        .alias("_incident"),
        F.col("disciplineIncidentReference.schoolId").cast("string")
        .alias("_school"),
        F.col("studentReference.studentUniqueId").cast("string")
        .alias("_student"),
        F.col("behaviorDescriptor"),
    )


def discipline_counts(joined: DataFrame) -> DataFrame:
    """Behavior-constant crosstab per (school, student, incidentDate)
    over the incidents ⋈ behavior-association join (`main.py:494-563`)."""
    disc = with_descriptor_constant(joined, "behaviorDescriptor")
    return crosstab_count(
        disc, ["_school", "_student", "_incdate"],
        "behaviorDescriptor_constantName",
        ["Behavior.StateOffense", "Behavior.SchoolCodeOfConductOffense"],
        rename={
            "Behavior.StateOffense": "CountByDayOfStateOffenses",
            "Behavior.SchoolCodeOfConductOffense":
                "CountByDayOfConductOffenses",
        },
    )


def assemble(spark: SparkSession, ssa: DataFrame, cal: DataFrame,
             sch_ct: DataFrame | None, per_day: DataFrame | None,
             disc_ct: DataFrame | None, run_date: str | None = None,
             touched: DataFrame | None = None) -> DataFrame:
    """The view body downstream of the three count frames (split out of
    `build` so they can come either from the raw silver events or from
    the per-collection snapshots — `amt/ews_incremental.py`):
    enrollment × calendar-event base,
    left-join the school crosstab / section per-day flags / discipline
    counts, zero-fill, contract conform. With `touched` (columns
    `StudentKey SchoolKey _date` — raw date strings), the base is
    semi-joined down to the touched output keys first (broadcast semi
    join + runtime bloom into the silver scans)."""
    today_key = (run_date or _date.today().isoformat()).replace("-", "")[:8]

    enroll = ssa.select(
        F.col("schoolReference.schoolId").cast("string").alias("SchoolKey"),
        F.col("studentReference.studentUniqueId").cast("string")
        .alias("StudentKey"),
        date_key("entryDate").alias("_entry"),
        (date_key("exitWithdrawDate") if "exitWithdrawDate" in ssa.columns
         else F.lit(None).cast("string")).alias("_exit"),
    )
    days = with_descriptor_constant(
        cal.select(
            F.col("calendarReference.schoolId").cast("string").alias("_cal_school"),
            F.col("calendarReference.schoolYear").cast("string").alias("_cal_year"),
            F.col("date").cast("string").alias("_date"),
            F.explode("calendarEvents.calendarEventDescriptor").alias("_event"),
        ),
        "_event",
    ).select(
        "_cal_school", "_cal_year", "_date",
        F.when(F.col("_event_constantName") == "CalendarEvent.InstructionalDay", 1)
        .otherwise(0).alias("IsInstructionalDay"),
    )

    dk = date_key("_date")
    base = enroll.join(
        days,
        (enroll.SchoolKey == days._cal_school)
        & (enroll._entry <= dk)
        & (enroll._exit.isNull() | (enroll._exit >= dk))
        & (dk <= today_key),
        "inner",
    ).select("StudentKey", "SchoolKey", "_date", "_cal_year", "IsInstructionalDay")
    if touched is not None:
        base = base.join(
            F.broadcast(touched.select("StudentKey", "SchoolKey",
                                       "_date").distinct()),
            ["StudentKey", "SchoolKey", "_date"], "left_semi")

    # --- school attendance crosstab (crosswalk constants) ---
    if sch_ct is not None:
        base = base.join(
            sch_ct,
            (base.SchoolKey == sch_ct._school)
            & (base.StudentKey == sch_ct._student)
            & (base._date == sch_ct._evdate),
            "left",
        ).drop("_school", "_student", "_evdate")

    # --- section attendance (raw code values) + homeroom split ---
    if per_day is not None:
        base = base.join(
            per_day,
            (base.SchoolKey == per_day._school)
            & (base.StudentKey == per_day._student)
            & (base._date == per_day._evdate)
            & (base._cal_year == per_day._year),
            "left",
        ).drop("_school", "_student", "_evdate", "_year")

    # --- discipline counts ---
    if disc_ct is not None:
        base = base.join(
            disc_ct,
            (base.SchoolKey == disc_ct._school)
            & (base.StudentKey == disc_ct._student)
            & (base._date == disc_ct._incdate),
            "left",
        ).drop("_school", "_student", "_incdate")

    out = base.withColumns({
        "DateKey": date_key("_date"),
        "IsEnrolled": F.lit(1),
    })
    for c in _FLAGS:
        out = out.withColumn(
            c,
            F.coalesce(F.col(c).cast("long"), F.lit(0).cast("long"))
            if c in out.columns else F.lit(0).cast("long"),
        )
    return CONTRACT.conform(out, spark)
