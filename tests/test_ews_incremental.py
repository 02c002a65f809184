"""IVM-maintained ews gold (amt/ews_incremental.py): refresh(...) must
equal a full build over the current silver for any CDC sequence on the
five maintained collections — including the two shapes chrab didn't
exercise: discipline counts over incidents ⋈ behaviors with either
side changing, and the per-day section max recomputed for the touched
groups from the per-section counts."""

from __future__ import annotations

import json
import os

SY = 2023
URI = "uri://ed-fi.org"
RUN_DATE = "2024-06-01"


def _sch_ev(i, student, school, date, cat):
    return {"id": f"ae{i}", "eventDate": date,
            "attendanceEventCategoryDescriptor":
                f"{URI}/AttendanceEventCategoryDescriptor#{cat}",
            "schoolReference": {"schoolId": school},
            "studentReference": {"studentUniqueId": student}}


def _sec_ev(i, student, school, date, cat, course="ALG1",
            year=SY):
    return {"id": f"se{i}", "eventDate": date,
            "attendanceEventCategoryDescriptor":
                f"{URI}/AttendanceEventCategoryDescriptor#{cat}",
            "studentReference": {"studentUniqueId": student},
            "sectionReference": {"schoolId": school, "schoolYear": year,
                                 "localCourseCode": course,
                                 "sectionIdentifier": "S-01",
                                 "sessionName": "Fall"}}


def _assoc(i, student, school, homeroom, course="ALG1", year=SY):
    return {"id": f"sa{i}", "homeroomIndicator": homeroom,
            "studentReference": {"studentUniqueId": student},
            "sectionReference": {"schoolId": school, "schoolYear": year,
                                 "localCourseCode": course,
                                 "sectionIdentifier": "S-01",
                                 "sessionName": "Fall"}}


def _inc(i, school, date):
    return {"id": f"di{i}", "incidentIdentifier": f"INC{i}",
            "incidentDate": date,
            "schoolReference": {"schoolId": school}}


def _beh(i, incident, school, student, kind):
    return {"id": f"bh{i}", "behaviorDescriptor":
            f"{URI}/BehaviorDescriptor#{kind}",
            "disciplineIncidentReference":
                {"incidentIdentifier": incident, "schoolId": school},
            "studentReference": {"studentUniqueId": student}}


def _base_docs():
    ssa = [
        {"id": f"ssa{i}", "entryDate": "2023-08-15",
         "exitWithdrawDate": None,
         "schoolReference": {"schoolId": 100 + i % 2},
         "studentReference": {"studentUniqueId": f"STU{i}"},
         "schoolYearTypeReference": {"schoolYear": SY}}
        for i in range(6)
    ]
    cal = [
        {"id": f"cd{s}_{d}", "date": f"2023-09-{d:02d}",
         "calendarReference": {"schoolYear": SY, "schoolId": s},
         "calendarEvents": [{"calendarEventDescriptor":
                             f"{URI}/CalendarEventDescriptor"
                             "#Instructional day"}]}
        for s in (100, 101) for d in (1, 2, 3)
    ]
    return ssa, cal


def _write(root, endpoint, docs):
    d = root / str(SY) / endpoint
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{endpoint}_1.json").write_text(json.dumps(docs))


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(cols).collect()))


def _assert_gold_matches_full(spark, silver, gold_root):
    from api_to_amt_data_lake_spark.amt import ews_incremental as ei
    from api_to_amt_data_lake_spark.amt.ews import (
        student_early_warning_fact as ews,
    )
    inc = ei.read_gold(spark, str(gold_root), SY)
    full = ews.build(spark, str(silver), SY, run_date=RUN_DATE)
    assert inc.columns == full.columns
    assert _rows(inc) == _rows(full)


def test_ews_fold_refresh_matches_full_rebuild(spark, tmp_path):
    from api_to_amt_data_lake_spark.amt import ews_incremental as ei

    silver, gold, state = (tmp_path / "silver", tmp_path / "gold",
                           tmp_path / "state")
    ssa, cal = _base_docs()
    _write(silver, "studentSchoolAssociations", ssa)
    _write(silver, "calendarDates", cal)
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance"),
            _sch_ev(2, "STU0", 100, "2023-09-02", "Tardy"),
            _sch_ev(3, "STU2", 100, "2023-09-01", "Excused Absence")])
    _write(silver, "studentSectionAttendanceEvents",
           [_sec_ev(1, "STU0", 100, "2023-09-01", "In Attendance"),
            _sec_ev(2, "STU1", 101, "2023-09-02", "Unexcused Absence"),
            _sec_ev(3, "STU3", 101, "2023-09-01", "Tardy")])
    _write(silver, "studentSectionAssociations",
           [_assoc(1, "STU0", 100, True),
            _assoc(2, "STU1", 101, False),
            _assoc(3, "STU3", 101, True)])
    _write(silver, "disciplineIncidents",
           [_inc(1, 100, "2023-09-02"), _inc(2, 101, "2023-09-01")])
    _write(silver, "studentDisciplineIncidentBehaviorAssociations",
           [_beh(1, "INC1", 100, "STU0", "State Offense"),
            _beh(2, "INC2", 101, "STU1", "School Code of Conduct")])

    ei.full_build(spark, str(silver), SY, str(state), str(gold),
                  run_date=RUN_DATE)
    _assert_gold_matches_full(spark, silver, gold)

    # CDC round 1 across all five collections:
    # - school events: category flip + delete + insert
    # - section events: date move (group-moving update)
    # - assoc: homeroom flip (touches every day STU0 has section events)
    # - incidents: date change (moves the count to another day)
    # - behaviors: new association on the other incident + a delete
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "Unexcused Absence"),
            _sch_ev(2, "STU0", 100, "2023-09-02", "Tardy"),
            _sch_ev(4, "STU4", 100, "2023-09-03", "In Attendance")])
    _write(silver, "studentSectionAttendanceEvents",
           [_sec_ev(1, "STU0", 100, "2023-09-03", "In Attendance"),
            _sec_ev(2, "STU1", 101, "2023-09-02", "Unexcused Absence"),
            _sec_ev(3, "STU3", 101, "2023-09-01", "Tardy")])
    _write(silver, "studentSectionAssociations",
           [_assoc(1, "STU0", 100, False),
            _assoc(2, "STU1", 101, False),
            _assoc(3, "STU3", 101, True)])
    _write(silver, "disciplineIncidents",
           [_inc(1, 100, "2023-09-03"), _inc(2, 101, "2023-09-01")])
    _write(silver, "studentDisciplineIncidentBehaviorAssociations",
           [_beh(1, "INC1", 100, "STU0", "State Offense"),
            _beh(3, "INC2", 101, "STU3", "State Offense")])

    stats = ei.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats["full_build"] is False
    assert stats["sch"] == 3   # flip, delete, insert
    assert stats["sec"] == 1   # date move
    assert stats["assoc"] == 1
    assert stats["inc"] == 1
    assert stats["beh"] == 2   # delete bh2, insert bh3
    assert 0 < stats["touched_keys"] <= 10
    _assert_gold_matches_full(spark, silver, gold)

    # CDC round 2: no changes — zero deltas, gold untouched.
    before = _rows(ei.read_gold(spark, str(gold), SY))
    stats = ei.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats == {"full_build": False, "sch": 0, "sec": 0,
                     "assoc": 0, "inc": 0, "beh": 0}
    after = _rows(ei.read_gold(spark, str(gold), SY))
    assert before == after

    # CDC round 3: delete an incident entirely — its behavior rows must
    # retract from the discipline counts (signed join delta, delete on
    # the LEFT side).
    _write(silver, "disciplineIncidents",
           [_inc(2, 101, "2023-09-01")])
    stats = ei.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats["inc"] == 1 and stats["beh"] == 0
    _assert_gold_matches_full(spark, silver, gold)


def test_ews_refresh_without_state_falls_back(spark, tmp_path):
    from api_to_amt_data_lake_spark.amt import ews_incremental as ei

    silver = tmp_path / "silver"
    ssa, cal = _base_docs()
    _write(silver, "studentSchoolAssociations", ssa)
    _write(silver, "calendarDates", cal)
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance")])
    stats = ei.refresh(spark, str(silver), SY, str(tmp_path / "state"),
                       str(tmp_path / "gold"), run_date=RUN_DATE)
    assert stats == {"full_build": True}
    _assert_gold_matches_full(spark, silver, tmp_path / "gold")
