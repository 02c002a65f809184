"""The five AMT dashboard query shapes, their Zipf-skewed parameter mix,
and the DuckDB cross-check of their answers.

Each shape is one SQL text that both Spark SQL (over the temp views of
`sources.parquet_io.register_gold_views`) and DuckDB (over the same gold
parquet files) execute unchanged. Answers are compared as an
order-insensitive hash of the result rows.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import os
import random

CHRAB = "chrab_chronicAbsenteeismAttendanceFact"
EWS = "ews_studentEarlyWarningFact"

SHAPES: dict[str, str] = {
    # share of a school's students absent on >= 10% of their enrolled days
    "chronic_absence_by_school": f"""
        SELECT SchoolKey, COUNT(*) AS students,
               SUM(CASE WHEN absent * 10 >= days THEN 1 ELSE 0 END) AS chronic
        FROM (SELECT SchoolKey, StudentKey, COUNT(*) AS days,
                     SUM(ReportedAsAbsentFromSchool) AS absent
              FROM {CHRAB} WHERE SchoolKey = '{{p}}'
              GROUP BY SchoolKey, StudentKey) t
        GROUP BY SchoolKey""",
    # one student's early-warning indicators
    "ews_student": f"""
        SELECT StudentKey, SchoolKey, COUNT(*) AS days,
               SUM(IsInstructionalDay) AS instructional,
               SUM(IsPresentSchool) AS present,
               SUM(IsAbsentFromSchoolExcused) AS excused,
               SUM(IsAbsentFromSchoolUnexcused) AS unexcused,
               SUM(IsTardyToSchool) AS tardy,
               SUM(IsAbsentFromHomeroomUnexcused) AS homeroom_unexcused,
               SUM(CountByDayOfStateOffenses) AS state_offenses,
               SUM(CountByDayOfConductOffenses) AS conduct_offenses
        FROM {EWS} WHERE StudentKey = '{{p}}'
        GROUP BY StudentKey, SchoolKey""",
    # the students one teacher may see, scoped by row-level security
    "teacher_roster": """
        SELECT s.StudentKey, s.SchoolKey, s.StudentFirstName,
               s.StudentLastName, s.GradeLevel
        FROM rls_UserStudentDataAuthorization a
        JOIN studentSchoolDim s ON a.StudentKey = s.StudentKey
        WHERE a.UserKey = '{p}'""",
    # grade distribution of one section per grading period
    "section_grades": """
        SELECT SectionKey, GradingPeriodKey, COUNT(*) AS students,
               ROUND(AVG(NumericGradeEarned), 6) AS mean_grade,
               MIN(NumericGradeEarned) AS low, MAX(NumericGradeEarned) AS high,
               SUM(CASE WHEN LetterGradeEarned IN ('D', 'F') THEN 1 ELSE 0 END)
                   AS failing
        FROM ews_studentSectionGradeFact WHERE SectionKey = '{p}'
        GROUP BY SectionKey, GradingPeriodKey""",
    # absence by demographic group within one school
    "equity_breakdown": f"""
        SELECT d.DemographicParentKey, d.DemographicLabel,
               COUNT(DISTINCT b.StudentSchoolKey) AS students,
               SUM(c.absent) AS absent_days, SUM(c.days) AS days
        FROM studentSchoolDemographicsBridge b
        JOIN demographicDim d ON b.DemographicKey = d.DemographicKey
        JOIN studentSchoolDim s ON b.StudentSchoolKey = s.StudentSchoolKey
        JOIN (SELECT StudentSchoolKey, COUNT(*) AS days,
                     SUM(ReportedAsAbsentFromSchool) AS absent
              FROM {CHRAB} GROUP BY StudentSchoolKey) c
          ON c.StudentSchoolKey = b.StudentSchoolKey
        WHERE s.SchoolKey = '{{p}}'
        GROUP BY d.DemographicParentKey, d.DemographicLabel""",
}

# gold views the shapes read
VIEWS = (CHRAB, EWS, "rls_UserStudentDataAuthorization", "studentSchoolDim",
         "ews_studentSectionGradeFact", "studentSchoolDemographicsBridge",
         "demographicDim")

ZIPF_S = 1.1


class Mix:
    """A seeded stream of (shape, parameter) pairs. Each client cycles
    through the five shapes, starting at its own offset, so every run
    sends the same shape proportions. Parameters are Zipf(s=1.1)-skewed
    over each shape's key domain: a few schools, students, teachers and
    sections are hot and the rest form a long tail."""

    def __init__(self, domains: dict[str, list[str]], seed: int,
                 offset: int = 0):
        self.rng = random.Random(seed)
        self.shapes = sorted(SHAPES)
        self.turn = offset
        self.domains = {}
        for shape in self.shapes:
            keys = list(domains[shape])
            random.Random(f"{seed}:{shape}").shuffle(keys)
            weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(keys))]
            self.domains[shape] = (keys, list(itertools.accumulate(weights)))

    def next(self) -> tuple[str, str]:
        shape = self.shapes[self.turn % len(self.shapes)]
        self.turn += 1
        keys, cum = self.domains[shape]
        r = self.rng.random() * cum[-1]
        return shape, keys[bisect.bisect_left(cum, r)]


def sql(shape: str, param: str) -> str:
    return SHAPES[shape].format(p=param)


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "is_finite"):  # Decimal
        return round(float(v), 6)
    return v


def answer_hash(rows) -> str:
    """Order-insensitive fingerprint of a result (a bag of rows)."""
    lines = sorted(repr(tuple(_norm(v) for v in row)) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class DuckCheck:
    """DuckDB over the same gold parquet files the Spark views read."""

    def __init__(self, gold_year_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for view in VIEWS:
            path = os.path.join(gold_year_dir, view, "**", "*.parquet")
            self.con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet("
                f"'{path}', hive_partitioning = true)")

    def answer(self, shape: str, param: str) -> str:
        return answer_hash(self.con.execute(sql(shape, param)).fetchall())

    def close(self) -> None:
        self.con.close()
