"""Incremental IVM gold refresh at volume: chrab or ews.

Synthesizes the scale_smoke silver layer at N students, builds the
chrab attendance fact (or the ews early-warning fact with `ews`) once
through the snapshot path (`amt/chrab_incremental.full_build`, which
commits the per-event snapshots a refresh diffs against), mutates ~1%
of the school attendance events (inserts + category flips + deletes;
`clustered` puts them all on one date), then times `refresh(...)`
against the cost of the reference-style full recompute (`build()` +
write, what GOLD_SCALE times) and verifies the spliced gold is
row-identical to the full rebuild over the mutated silver.

Usage: python tools/incremental_gold_smoke.py [n_students] [out_dir]
       [chrab|ews] [clustered]

Writes GOLD_INCR_r11[_ews][_clustered]_n{N}.json into out_dir (default
/tmp/incr_gold_smoke), next to the silver, gold and snapshot
directories it builds there.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from scale_smoke import SY, synth_silver  # noqa: E402

URI = "uri://ed-fi.org"


def _attendance_docs(n_students: int, n_schools: int) -> list[dict]:
    """The exact studentSchoolAttendanceEvents docs scale_smoke dumps
    (kept in lockstep with tools/scale_smoke.py)."""
    return [
        {"id": f"ae{i}_{d}", "eventDate": f"2023-09-{d % 28 + 1:02d}",
         "attendanceEventCategoryDescriptor":
             f"{URI}/AttendanceEventCategoryDescriptor#"
             + ("In Attendance" if (i + d) % 10 else "Excused Absence"),
         "schoolReference": {"schoolId": 1000 + i % n_schools},
         "studentReference": {"studentUniqueId": f"S{i}"},
         "sessionReference": {"schoolYear": SY}}
        for i in range(0, n_students, 4) for d in range(3)
    ]


def _mutate_one_percent(docs: list[dict], n_students: int,
                        n_schools: int) -> tuple[list[dict], int]:
    """~1% churn: one third each of category flips, deletes, inserts."""
    k = max(3, len(docs) // 100)
    third = k // 3
    out = list(docs)
    # flips: swap category on every (len//third)-th doc
    step = max(1, len(out) // third)
    flipped = 0
    for idx in range(0, len(out), step):
        if flipped >= third:
            break
        d = dict(out[idx])
        cat = d["attendanceEventCategoryDescriptor"]
        d["attendanceEventCategoryDescriptor"] = (
            f"{URI}/AttendanceEventCategoryDescriptor#Excused Absence"
            if cat.endswith("In Attendance")
            else f"{URI}/AttendanceEventCategoryDescriptor#In Attendance")
        out[idx] = d
        flipped += 1
    # deletes: drop a stride of docs from the tail half
    deleted = 0
    keep = []
    for j, d in enumerate(out):
        if deleted < third and j % (len(out) // third + 1) == 7:
            deleted += 1
            continue
        keep.append(d)
    out = keep
    # inserts: brand-new events for existing students
    inserted = k - flipped - deleted
    for j in range(inserted):
        i = (j * 37) % n_students
        out.append({
            "id": f"aeNEW{j}", "eventDate": f"2023-09-{j % 20 + 5:02d}",
            "attendanceEventCategoryDescriptor":
                f"{URI}/AttendanceEventCategoryDescriptor#Excused Absence",
            "schoolReference": {"schoolId": 1000 + i % n_schools},
            "studentReference": {"studentUniqueId": f"S{i}"},
            "sessionReference": {"schoolYear": SY}})
    return out, flipped + deleted + inserted


def _mutate_one_percent_clustered(docs: list[dict], n_students: int,
                                  n_schools: int
                                  ) -> tuple[list[dict], int]:
    """~1% churn CONCENTRATED on one event date — the realistic shape
    (attendance corrections land for recent days), and the case the
    DateKey-partitioned splice exists for: touched_dates stays ~1."""
    day = "2023-09-03"
    k = max(3, len(docs) // 100)
    out, flipped, deleted = [], 0, 0
    for d in docs:
        if d["eventDate"] == day and flipped < k // 2:
            d = dict(d)
            cat = d["attendanceEventCategoryDescriptor"]
            d["attendanceEventCategoryDescriptor"] = (
                f"{URI}/AttendanceEventCategoryDescriptor"
                "#Excused Absence" if cat.endswith("In Attendance")
                else f"{URI}/AttendanceEventCategoryDescriptor"
                "#In Attendance")
            flipped += 1
        elif d["eventDate"] == day and deleted < k // 4:
            deleted += 1
            continue
        out.append(d)
    inserted = k - flipped - deleted
    for j in range(inserted):
        i = (j * 37) % n_students
        out.append({
            "id": f"aeNEW{j}", "eventDate": day,
            "attendanceEventCategoryDescriptor":
                f"{URI}/AttendanceEventCategoryDescriptor"
                "#Excused Absence",
            "schoolReference": {"schoolId": 1000 + i % n_schools},
            "studentReference": {"studentUniqueId": f"S{i}"},
            "sessionReference": {"schoolYear": SY}})
    return out, flipped + deleted + inserted


def _dump_events(root: Path, docs: list[dict], per_file: int = 5000):
    d = root / str(SY) / "studentSchoolAttendanceEvents"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True, exist_ok=True)
    for i in range(0, max(len(docs), 1), per_file):
        (d / f"studentSchoolAttendanceEvents_{i // per_file}.json"
         ).write_text(json.dumps(docs[i:i + per_file]))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out = Path(sys.argv[2]) if len(sys.argv) > 2 else Path(
        "/tmp/incr_gold_smoke")
    which = sys.argv[3] if len(sys.argv) > 3 else "chrab"
    shutil.rmtree(out, ignore_errors=True)
    silver, gold, state = out / "silver", out / "gold", out / "state"
    n_schools = max(2, n // 500)

    print(f"synthesizing silver for {n:,} students ...", flush=True)
    synth_silver(silver, n)

    if which == "ews":
        from api_to_amt_data_lake_spark.amt import (
            ews_incremental as ci,
        )
        from api_to_amt_data_lake_spark.amt.ews import (
            student_early_warning_fact as chrab,
        )
    else:
        from api_to_amt_data_lake_spark.amt import (
            chrab_incremental as ci,
        )
        from api_to_amt_data_lake_spark.amt.chrab import (
            chronic_absenteeism_attendance_fact as chrab,
        )
    from api_to_amt_data_lake_spark.session import get_spark

    spark = get_spark("incr-gold-smoke")
    run_date = "2023-12-01"
    res: dict = {"n_students": n, "view": ci.VIEW_NAME}

    t0 = time.time()
    ci.full_build(spark, str(silver), SY, str(state), str(gold),
                  run_date=run_date)
    res["full_build_s"] = round(time.time() - t0, 2)
    print(f"full_build (snapshot path): {res['full_build_s']} s",
          flush=True)

    # The reference-style cost to beat: rebuild + rewrite, no snapshots.
    t0 = time.time()
    chrab.build(spark, str(silver), SY, run_date=run_date) \
        .write.mode("overwrite").parquet(str(out / "gold_full_ref"))
    res["full_recompute_s"] = round(time.time() - t0, 2)
    print(f"full recompute baseline: {res['full_recompute_s']} s",
          flush=True)

    clustered = "clustered" in sys.argv
    docs = _attendance_docs(n, n_schools)
    mutate = (_mutate_one_percent_clustered if clustered
              else _mutate_one_percent)
    mutated, n_changes = mutate(docs, n, n_schools)
    res["churn"] = "date_clustered" if clustered else "uniform"
    _dump_events(silver, mutated)
    res["mutated_events"] = n_changes
    res["total_events"] = len(docs)

    t0 = time.time()
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=run_date)
    res["refresh_s"] = round(time.time() - t0, 2)
    res["refresh_stats"] = stats
    print(f"incremental refresh: {res['refresh_s']} s  stats={stats}",
          flush=True)

    print("verifying refresh == full rebuild ...", flush=True)
    inc = (ci.read_gold(spark, str(gold), SY)
           if hasattr(ci, "read_gold")
           else spark.read.parquet(str(gold / str(SY) / ci.VIEW_NAME)))
    full = chrab.build(spark, str(silver), SY, run_date=run_date)
    a = inc.exceptAll(full).count()
    b = full.exceptAll(inc).count()
    res["parity"] = {"inc_minus_full": a, "full_minus_inc": b,
                     "rows": inc.count()}
    ok = a == 0 and b == 0
    res["parity_ok"] = ok
    res["speedup_vs_full_recompute"] = round(
        res["full_recompute_s"] / max(res["refresh_s"], 1e-9), 2)

    tag = "" if which == "chrab" else f"_{which}"
    if clustered:
        tag += "_clustered"
    artifact = out / f"GOLD_INCR_r11{tag}_n{n}.json"
    artifact.write_text(json.dumps(res, indent=2) + "\n")
    print(json.dumps(res))
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
