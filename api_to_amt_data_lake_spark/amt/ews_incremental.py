"""ews studentEarlyWarningFact, maintained INCREMENTALLY from silver CDC.

The second (and heavier) fact converted from the reference's rebuild-
everything-every-hour model to delta-bounded refresh (the chrab
conversion is `amt/chrab_incremental.py`; see its docstring for the
shared motivation and the null-key sentinel discipline). Like chrab,
the only persisted state is one id-keyed snapshot per maintained
collection (`{sch,sec,assoc,inc,beh}_snap` under `state_root`), and
the refresh sequence is the shared routine
`amt/incremental_gold.refresh_from_snapshots`. ews adds two shapes
chrab didn't need:

- A JOIN AGGREGATE: the discipline counts are a crosstab over
  incidents ⋈ behaviorAssociations, and CDC can hit EITHER side. The
  touched discipline groups are the (school, student, incident date)
  keys of the join rows, old and new images, whose (school, incident)
  key changed on either side; their counts are recomputed from the new
  snapshots' join restricted to the touched students.
- A NON-FOLDABLE AGGREGATE: the section per-day flags are a group-MAX
  over (assoc ⋈ per-section crosstab). An association change touches
  every day its (section, student) has section events; the per-day max
  is recomputed for the touched (student, school, day) groups only.

Maintained inputs (CDC via id-keyed snapshot diff; at real scale the
change-version API supplies the CDF directly):
studentSchoolAttendanceEvents, studentSectionAttendanceEvents,
studentSectionAssociations, disciplineIncidents,
studentDisciplineIncidentBehaviorAssociations. Enrollment
(studentSchoolAssociations) and calendarDates changes are OUT of the
incremental contract — same as chrab — and require a `full_build`
(they reshape the base, not the counts).

Contract (tests/test_ews_incremental.py): after any sequence of
inserts/updates/deletes on the five maintained collections followed by
`refresh(...)`, the gold parquet is row-identical to a full `build(...)`
over the current silver.

Publishing and crash repair are chrab's: the snapshots commit after the
DateKey-partitioned gold, and a crash between any two commits heals on
the next refresh, which re-detects the changes of every snapshot still
old and re-splices the same rows.
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.amt.ews.student_early_warning_fact import (
    CONTRACT,
    SEC_KEYS,
    assemble,
    section_day_flags,
)
from api_to_amt_data_lake_spark.amt.incremental_gold import (
    build_from_snapshots,
    cdf_images,
    read_contract_gold,
    refresh_from_snapshots,
    touched_rows,
)
from api_to_amt_data_lake_spark.operators.delta_agg import grouped_sums
from api_to_amt_data_lake_spark.sources.json_source import read_collection
from api_to_amt_data_lake_spark.sources.lookup import with_descriptor_constant

VIEW_NAME = CONTRACT.name

_SCH_GROUP = ["_school", "_student", "_evdate"]
_SCH_SUMS = ["p", "ea", "ua", "t"]
_SEC_GROUP = SEC_KEYS + ["_evdate", "_env"]
_DISC_GROUP = ["_school", "_student", "_incdate"]
_DISC_SUMS = ["soff", "coff"]
_DAY = ["_student", "_school", "_evdate"]

_SCH_RENAME = {"sum_p": "IsPresentSchool",
               "sum_ea": "IsAbsentFromSchoolExcused",
               "sum_ua": "IsAbsentFromSchoolUnexcused",
               "sum_t": "IsTardyToSchool"}
_SEC_RENAME = {"sum_p": "IsPresentAnyClass",
               "sum_ea": "IsAbsentFromAnyClassExcused",
               "sum_ua": "IsAbsentFromAnyClassUnexcused",
               "sum_t": "IsTardyToAnyClass"}
_DISC_RENAME = {"sum_soff": "CountByDayOfStateOffenses",
                "sum_coff": "CountByDayOfConductOffenses"}


def _sent(c):
    return F.coalesce(F.col(c).cast("string"), F.lit(""))


def _unsent(c):
    return F.nullif(F.col(c), F.lit("")).alias(c)


def sch_indicators(school_ev: DataFrame) -> DataFrame:
    """Per-event indicator rows for the school-attendance crosstab
    (crosswalk CONSTANTS → fan-out collapsed per event id, the chrab
    lesson: frame_changes needs key-unique frames and an event's exact
    crosstab contribution is the SUM over its crosswalk fan-out)."""
    parsed = with_descriptor_constant(
        school_ev.select(
            F.col("id").cast("string").alias("_k"),
            F.col("schoolReference.schoolId").cast("string")
            .alias("_school"),
            F.col("studentReference.studentUniqueId").cast("string")
            .alias("_student"),
            F.col("eventDate").cast("string").alias("_evdate"),
            F.col("attendanceEventCategoryDescriptor"),
        ),
        "attendanceEventCategoryDescriptor",
    )
    cat = F.col("attendanceEventCategoryDescriptor_constantName")
    fanned = parsed.select(
        "_k", *[_sent(c).alias(c) for c in _SCH_GROUP],
        (cat == "AttendanceEvent.Present").cast("long").alias("p"),
        (cat == "AttendanceEvent.ExcusedAbsence").cast("long").alias("ea"),
        (cat == "AttendanceEvent.UnexcusedAbsence").cast("long")
        .alias("ua"),
        (cat == "AttendanceEvent.Tardy").cast("long").alias("t"),
    )
    return fanned.groupBy("_k", *_SCH_GROUP).agg(
        *[F.sum(c).alias(c) for c in _SCH_SUMS])


def sec_indicators(section_ev: DataFrame) -> DataFrame:
    """Per-event indicator rows for the section crosstab (RAW code
    values — a 1:1 parse, no crosswalk fan-out, so rows are id-unique
    as written; the silver id-uniqueness contract applies)."""
    from api_to_amt_data_lake_spark.functions.descriptors import (
        descriptor_code_value,
    )

    ev = section_ev.select(
        F.col("id").cast("string").alias("_k"),
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
    cat = F.col("_cat")
    return ev.select(
        "_k", *[_sent(c).alias(c) for c in _SEC_GROUP],
        (cat == "In Attendance").cast("long").alias("p"),
        (cat == "Excused Absence").cast("long").alias("ea"),
        (cat == "Unexcused Absence").cast("long").alias("ua"),
        (cat == "Tardy").cast("long").alias("t"),
    )


def assoc_snapshot(section_assoc: DataFrame) -> DataFrame:
    """Id-keyed image of the section associations (the homeroom side of
    the per-day max) — sentinel section keys so they join the sentinel-
    keyed sec snapshot directly."""
    a = section_assoc.select(F.col("id").cast("string").alias("_k"),
                             F.col("sectionReference.localCourseCode")
                             .alias("_lcc"),
                             F.col("sectionReference.schoolId")
                             .cast("string").alias("_school"),
                             F.col("sectionReference.schoolYear")
                             .cast("string").alias("_year"),
                             F.col("sectionReference.sectionIdentifier")
                             .alias("_sid"),
                             F.col("sectionReference.sessionName")
                             .alias("_sess"),
                             F.col("studentReference.studentUniqueId")
                             .cast("string").alias("_student"),
                             (F.col("homeroomIndicator")
                              if "homeroomIndicator"
                              in section_assoc.columns
                              else F.lit(None).cast("boolean"))
                             .alias("_homeroom"))
    return a.select("_k", *[_sent(c).alias(c) for c in SEC_KEYS],
                    "_homeroom")


def inc_snapshot(incidents: DataFrame) -> DataFrame:
    """Id-keyed incident images (the un-fanned side of the discipline
    join — same projection as `incident_frame` plus the CDC key)."""
    return incidents.select(
        F.col("id").cast("string").alias("_k"),
        F.col("schoolReference.schoolId").cast("string").alias("_school"),
        F.col("incidentIdentifier").alias("_incident"),
        F.col("incidentDate").cast("string").alias("_incdate"),
    )


def beh_snapshot(behavior: DataFrame) -> DataFrame:
    """Id-keyed behavior images with crosswalk-collapsed offense
    indicators (the fan-out lives on THIS side of the discipline join,
    so collapsing per id here makes every downstream join row carry the
    association's exact crosstab contribution)."""
    parsed = with_descriptor_constant(
        behavior.select(
            F.col("id").cast("string").alias("_k"),
            F.col("disciplineIncidentReference.incidentIdentifier")
            .alias("_incident"),
            F.col("disciplineIncidentReference.schoolId").cast("string")
            .alias("_school"),
            F.col("studentReference.studentUniqueId").cast("string")
            .alias("_student"),
            F.col("behaviorDescriptor"),
        ),
        "behaviorDescriptor",
    )
    cat = F.col("behaviorDescriptor_constantName")
    fanned = parsed.select(
        "_k", "_incident", "_school", "_student",
        (cat == "Behavior.StateOffense").cast("long").alias("soff"),
        (cat == "Behavior.SchoolCodeOfConductOffense").cast("long")
        .alias("coff"),
    )
    return fanned.groupBy("_k", "_incident", "_school", "_student").agg(
        *[F.sum(c).alias(c) for c in _DISC_SUMS])


def _counts(rows: DataFrame, group: list[str], sums: list[str],
            rename: dict[str, str]) -> DataFrame:
    """`grouped_sums` of snapshot rows in the view's count-frame shape:
    sums renamed to the flag columns, sentinel NULLs restored."""
    return grouped_sums(rows, group, sums).select(
        *[_unsent(c) for c in group],
        *[F.col(s).alias(r) for s, r in rename.items()])


def _read_snapshots(spark, silver_root, school_year):
    """Current silver → the five id-keyed snapshot frames (None for a
    missing collection)."""
    def rc(endpoint):
        return read_collection(spark, silver_root, school_year, endpoint)

    sch = rc("studentSchoolAttendanceEvents")
    sec = rc("studentSectionAttendanceEvents")
    assoc = rc("studentSectionAssociations")
    inc = rc("disciplineIncidents")
    beh = rc("studentDisciplineIncidentBehaviorAssociations")
    return {
        "sch": sch_indicators(sch) if sch is not None else None,
        "sec": sec_indicators(sec) if sec is not None else None,
        "assoc": assoc_snapshot(assoc) if assoc is not None else None,
        "inc": inc_snapshot(inc) if inc is not None else None,
        "beh": beh_snapshot(beh) if beh is not None else None,
    }


def _disc_rows(inc: DataFrame, beh: DataFrame) -> DataFrame:
    """incidents ⋈ behaviors: one row per join row, ''-sentinel
    (school, student, incident date) group + offense indicators."""
    joined = inc.drop("_k").join(beh.drop("_k"),
                                 ["_school", "_incident"], "inner")
    return joined.select(
        *[_sent(c).alias(c) for c in _DISC_GROUP], *_DISC_SUMS)


def _assemble(spark, silver_root, school_year, run_date, snaps,
              touched):
    """The view rows of the `touched` keys (all rows when None) from
    the five snapshots `snaps`: each count frame is `grouped_sums` over
    the snapshot rows at a touched key (`_counts`)."""
    ssa = read_collection(spark, silver_root, school_year,
                          "studentSchoolAssociations")
    cal = read_collection(spark, silver_root, school_year,
                          "calendarDates")
    if ssa is None or cal is None or "calendarEvents" not in cal.columns:
        return CONTRACT.empty(spark)
    sch, sec, assoc, inc, beh = (snaps[n] for n in
                                 ("sch", "sec", "assoc", "inc", "beh"))
    sch_ct = per_day = disc_ct = None
    if sch is not None:
        sch_ct = _counts(touched_rows(sch, touched, "_evdate"),
                         _SCH_GROUP, _SCH_SUMS, _SCH_RENAME)
    if sec is not None and assoc is not None:
        # max is not delete-foldable: the per-day flags are recomputed
        # from the touched days' per-section counts (NULL keys restored
        # on both join sides, the original frames' null semantics)
        per_day = section_day_flags(
            _counts(touched_rows(sec, touched, "_evdate"),
                    _SEC_GROUP, _SCH_SUMS, _SEC_RENAME),
            assoc.select(*[_unsent(c) for c in SEC_KEYS], "_homeroom"))
    if inc is not None and beh is not None:
        if touched is not None:
            # only a touched student's behaviors can reach a touched
            # group (a NULL student's group never joins a base row)
            beh = beh.join(F.broadcast(touched.select(
                F.col("StudentKey").alias("_student"))), "_student",
                "left_semi")
        disc_ct = _counts(
            touched_rows(_disc_rows(inc, beh), touched, "_incdate"),
            _DISC_GROUP, _DISC_SUMS, _DISC_RENAME)
    return assemble(spark, ssa, cal, sch_ct, per_day, disc_ct,
                    run_date, touched=touched)


def _touched(diffs, old, new) -> list[DataFrame]:
    """Touched (student, school, day) keys of the five CDFs: both
    images of a changed attendance event; every day with section events
    of a changed association's (section, student); and the groups of
    every incidents ⋈ behaviors row, old and new, at a changed
    (school, incident) key."""
    parts = [cdf_images(diffs[n], _DAY) for n in ("sch", "sec")
             if n in diffs]
    if "assoc" in diffs and new["sec"] is not None:
        keys = cdf_images(diffs["assoc"], SEC_KEYS).distinct()
        parts.append(new["sec"].join(F.broadcast(keys), SEC_KEYS,
                                     "left_semi").select(*_DAY))
    incidents = [cdf_images(diffs[n], ["_school", "_incident"])
                 for n in ("inc", "beh") if n in diffs]
    if incidents:
        keys = F.broadcast(reduce(DataFrame.unionAll, incidents).distinct())
        for version in (old, new):
            if version["inc"] is None or version["beh"] is None:
                continue
            inc, beh = (version[n].join(keys, ["_school", "_incident"],
                                        "left_semi") for n in ("inc", "beh"))
            parts.append(_disc_rows(inc, beh).select(
                "_student", "_school", "_incdate"))
    return parts


def full_build(spark: SparkSession, silver_root: str,
               school_year: str | int, state_root: str, gold_root: str,
               run_date: str | None = None) -> str:
    """Initial (or reset) build: stage the five snapshots, write the
    DateKey-partitioned gold from them (the same count path a refresh
    uses), then commit the snapshots. Returns the gold path."""
    return build_from_snapshots(
        spark, VIEW_NAME, gold_root, school_year, state_root,
        _read_snapshots(spark, silver_root, school_year),
        partial(_assemble, spark, silver_root, school_year, run_date))


def read_gold(spark: SparkSession, gold_root: str,
              school_year: str | int) -> DataFrame:
    """The maintained gold in CONTRACT column order and types
    (`incremental_gold.read_contract_gold`)."""
    return read_contract_gold(spark, CONTRACT, gold_root, school_year)


def refresh(spark: SparkSession, silver_root: str,
            school_year: str | int, state_root: str, gold_root: str,
            run_date: str | None = None) -> dict:
    """Delta-bounded refresh of the five maintained collections
    (`incremental_gold.refresh_from_snapshots`): diff each against its
    snapshot, recompute the view rows of the touched (student, school,
    day) keys only, splice into gold. Returns per-source change counts;
    falls back to `full_build` when gold or a snapshot is missing."""
    return refresh_from_snapshots(
        spark, VIEW_NAME, gold_root, school_year, state_root,
        _read_snapshots(spark, silver_root, school_year), _touched,
        partial(_assemble, spark, silver_root, school_year, run_date))
