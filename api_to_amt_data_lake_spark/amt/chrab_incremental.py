"""chrab attendance fact, maintained INCREMENTALLY from silver CDC.

The reference rebuilds all 41 gold views from scratch every hour
(`dagster_config/schedules/schedule.py:8-10`; `README.md:41,68` "every
time the project is executed, all data is requested"), so its cost per
run is the full collection size even when almost nothing changed. This
module converts the repo's most expensive view —
chrab_chronicAbsenteeismAttendanceFact (83 s of the 223 s 1M-student
gold run, GOLD_SCALE_r10_n1000000.json) — to delta-bounded refresh:

- The view's only event-volume-proportional work is the Present/Absence
  crosstab per (student, school, date)
  (`chrab/chronic_absenteeism_attendance_fact.py::_event_counts`).
  That crosstab is a grouped sum over per-event 0/1 indicators, so
  the one persisted state is the per-event indicator SNAPSHOT of each
  attendance-event collection (`{sch,sec}_snap` under `state_root`,
  keyed by event id).
- A refresh diffs current silver against those snapshots
  (`sources/incremental.frame_changes` — insert/update/delete rows with
  old images), takes the touched (student, school, date) keys from both
  images, and recomputes the count frames of ONLY those keys from the
  new snapshots (`counts_from_snapshot` over `snapshot ⋉ touched`).
  The rest of the view (enrollment × instructional-day base, year
  filters, flags) is recomputed for the same keys
  (`assemble(..., touched=...)`) and spliced into the gold parquet.

The refresh sequence — repair, full-build fallback, stage and diff,
splice, commit — is the shared routine
`amt/incremental_gold.refresh_from_snapshots`; this module supplies
only its snapshot frames, touched-key derivation and recompute.

Contract (`tests/test_chrab_incremental.py` pins it): after any
sequence of attendance-event inserts/updates/deletes followed by
`refresh(...)`, the gold parquet is row-identical to a full
`build(...)` of the view over the current silver.

Snapshots commit only after gold. Because every count derives from a
snapshot, a crash between any two commits leaves each snapshot either
old or new: the next refresh re-detects the changes of the old ones
and re-splices the same rows — nothing is counted twice or lost.

Null-key discipline: snapshot group columns are stored with an ''
sentinel, so the equi semi join to the touched keys
(`incremental_gold.touched_rows`) also matches a key that was NULL;
NULL is restored when a snapshot is read back into count frames,
preserving `_event_counts`' exact null semantics.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.amt.chrab.chronic_absenteeism_attendance_fact import (
    CONTRACT,
    assemble,
)
from api_to_amt_data_lake_spark.amt.incremental_gold import (
    build_from_snapshots,
    cdf_images,
    read_contract_gold,
    refresh_from_snapshots,
    touched_rows,
)
from api_to_amt_data_lake_spark.functions.dates import date_key
from api_to_amt_data_lake_spark.sources.json_source import read_collection
from api_to_amt_data_lake_spark.sources.lookup import with_descriptor_constant

VIEW_NAME = CONTRACT.name

_GROUP = ["_student", "_school", "_date", "_year"]
_SIDES = {
    "sch": ("studentSchoolAttendanceEvents",
            "schoolReference.schoolId", "sessionReference.schoolYear"),
    "sec": ("studentSectionAttendanceEvents",
            "sectionReference.schoolId", "sectionReference.schoolYear"),
}


def event_indicators(events: DataFrame, school_col: str,
                     year_col, key_col: str = "id") -> DataFrame:
    """Per-event indicator rows: (_k, group keys, present, absence) —
    the pre-aggregation image of `_event_counts`' conditional counts
    (count(when(cat == X)) ≡ sum of a 0/1 indicator). Group keys are
    ''-coalesced (see module docstring)."""
    parsed = with_descriptor_constant(
        events.select(
            F.col(key_col).cast("string").alias("_k"),
            F.col("studentReference.studentUniqueId").cast("string")
            .alias("_student"),
            F.col(school_col).cast("string").alias("_school"),
            date_key("eventDate").alias("_date"),
            year_col.cast("string").alias("_year"),
            F.col("attendanceEventCategoryDescriptor"),
        ),
        "attendanceEventCategoryDescriptor",
    )
    cat = F.col("attendanceEventCategoryDescriptor_constantName")
    fanned = parsed.select(
        "_k",
        *[F.coalesce(F.col(c), F.lit("")).alias(c) for c in _GROUP],
        (cat == "AttendanceEvent.Present").cast("long").alias("present"),
        (cat == "AttendanceEvent.Absence").cast("long").alias("absence"),
    )
    # The crosswalk join fans one event out to EVERY matching constant
    # (e.g. 'Excused Absence' → Absence + ExcusedAbsence rows);
    # `_event_counts` counts those rows, so the event's exact crosstab
    # contribution is the SUM over its fan-out. Collapse it here so the
    # frame is key-unique — `frame_changes`' full-outer diff requires
    # one row per `_k` (a duplicated key would cross-join old×new
    # images and double-count the event's change).
    return fanned.groupBy("_k", *_GROUP).agg(
        F.sum("present").alias("present"),
        F.sum("absence").alias("absence"))


def counts_from_snapshot(snap: DataFrame, prefix: str) -> DataFrame:
    """Per-(student, school, date) count frame in `assemble`'s expected
    shape (`_{prefix}_present/_absence/_year` + `_student _school
    _date`) from indicator rows: counts sum across years, the year
    column is the max non-sentinel year (exactly `_event_counts`'
    max-ignoring-nulls), NULL group keys restored."""
    real_year = F.max(F.when(F.col("_year") != "", F.col("_year")))
    return (
        snap.groupBy("_student", "_school", "_date")
        .agg(F.sum("present").alias(f"_{prefix}_present"),
             F.sum("absence").alias(f"_{prefix}_absence"),
             real_year.alias(f"_{prefix}_year"))
        .select(
            *[F.nullif(F.col(c), F.lit("")).alias(c)
              for c in ("_student", "_school", "_date")],
            f"_{prefix}_present", f"_{prefix}_absence", f"_{prefix}_year")
    )


def _read_events(spark, silver_root, school_year, side):
    endpoint, school_col, year_path = _SIDES[side]
    ev = read_collection(spark, silver_root, school_year, endpoint)
    if ev is None:
        return None
    year_col = (F.col(year_path) if year_path.split(".")[0] in ev.columns
                else F.lit(None))
    return event_indicators(ev, school_col, year_col)


def _read_snapshots(spark, silver_root, school_year) -> dict:
    return {side: _read_events(spark, silver_root, school_year, side)
            for side in _SIDES}


def _assemble(spark, silver_root, school_year, run_date, snaps,
              touched):
    """The view rows of the `touched` keys (all rows when None) from
    the indicator snapshots `snaps`."""
    ssa = read_collection(spark, silver_root, school_year,
                          "studentSchoolAssociations")
    cal = read_collection(spark, silver_root, school_year, "calendarDates")
    if ssa is None or cal is None or "calendarEvents" not in cal.columns:
        return CONTRACT.empty(spark)
    counts = {
        side: (counts_from_snapshot(touched_rows(snap, touched, "_date"),
                                    side) if snap is not None else None)
        for side, snap in snaps.items()}
    # NULL-key gold rows are invariant under event CDC (an event with a
    # NULL group key can never equi-join a base row), so the splice's
    # plain-equality anti join leaving them untouched is exactly right.
    return assemble(spark, ssa, cal, counts["sch"], counts["sec"],
                    run_date, touched=touched)


def _touched(diffs, old, new) -> list[DataFrame]:
    """Touched (student, school, date) keys: both images of every
    changed event."""
    return [cdf_images(ch, ["_student", "_school", "_date"])
            for ch in diffs.values()]


def full_build(spark: SparkSession, silver_root: str,
               school_year: str | int, state_root: str, gold_root: str,
               run_date: str | None = None) -> str:
    """Initial (or reset) build: stage both indicator snapshots, write
    the DateKey-partitioned gold from them (the same count path a
    refresh uses), then commit the snapshots. Returns the gold path."""
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
    """Delta-bounded refresh (`incremental_gold.refresh_from_snapshots`):
    diff current silver events against the indicator snapshots,
    recompute ONLY the touched output rows, splice them into gold.
    Returns per-side change counts (all zero = gold untouched); falls
    back to `full_build` when gold or a snapshot is missing."""
    return refresh_from_snapshots(
        spark, VIEW_NAME, gold_root, school_year, state_root,
        _read_snapshots(spark, silver_root, school_year), _touched,
        partial(_assemble, spark, silver_root, school_year, run_date))
