"""Seeded Ed-Fi ODS generator for the lake benchmark.

`generate(seed, n_students)` returns {collection: [documents]} covering
every endpoint the 41 AMT builders read. Shapes follow the golden
fixtures in `tests/silver_docs.py`; volumes keep the ratios of
`tools/scale_smoke.py` (one school per 500 students, one staff member
per 20 students, 56 calendar days per school, three school-attendance
events for every fourth student, ~10% mid-year exits), and extend them to
the collections that generator leaves empty (sections and their
associations, grades, grading periods, sessions, courses, assessments,
parents, programs, cohorts, discipline, EPP candidates and surveys, RLS
staff assignments).

Every reference resolves, so a full build writes rows to all 41 views
and `validate_gold` passes every check. The same (seed, n_students)
always yields the same documents.
"""

from __future__ import annotations

import random

SY = 2023
RUN_DATE = "2023-10-01"
URI = "uri://ed-fi.org"
LEA = 5
EPP_SCHOOL = 9000
COURSES = (("ALG-1", "Algebra I", "Mathematics"),
           ("ENG-1", "English I", "English Language and Literature"),
           ("BIO-1", "Biology", "Science"))
SECTION_SIZE = 25
RACES = ("White", "Asian", "Black - African American",
         "American Indian - Alaska Native")


def d(family: str, code: str) -> str:
    return f"{URI}/{family}#{code}"


def school_ids(n_students: int) -> list[int]:
    return [1000 + i for i in range(max(2, n_students // 500))]


def calendar_days() -> list[str]:
    """The 56 instructional days every school's calendar carries."""
    return [f"2023-{9 + k // 28:02d}-{k % 28 + 1:02d}" for k in range(56)]


def section_ref(school: int, course: int, k: int,
                link: bool = False) -> dict:
    ref = {"schoolId": school, "localCourseCode": f"C{course}",
           "schoolYear": SY, "sectionIdentifier": f"S{school}-{course}-{k}",
           "sessionName": "Fall"}
    if link:
        ref["link"] = {"href": f"/ed-fi/sections/sec{school}_{course}_{k}"}
    return ref


def attendance_event(eid: str, student: int, school: int, day: str,
                     category: str) -> dict:
    return {"id": eid, "eventDate": day,
            "attendanceEventCategoryDescriptor":
                d("AttendanceEventCategoryDescriptor", category),
            "schoolReference": {"schoolId": school},
            "studentReference": {"studentUniqueId": f"S{student}"},
            "sessionReference": {"schoolYear": SY}}


def pick_category(rng: random.Random) -> str:
    r = rng.random()
    return ("In Attendance" if r < 0.85 else "Excused Absence" if r < 0.92
            else "Unexcused Absence" if r < 0.97 else "Tardy")


def enrollment(i: int, school: int, exit_date: str | None) -> dict:
    return {"id": f"ssch{i}", "entryDate": "2023-08-15",
            "entryGradeLevelDescriptor":
                d("GradeLevelDescriptor", "Ninth grade"),
            "exitWithdrawDate": exit_date,
            "schoolReference": {"schoolId": school,
                                "link": {"href": f"/ed-fi/schools/s{school}"}},
            "studentReference": {"studentUniqueId": f"S{i}",
                                 "link": {"href": f"/ed-fi/students/stu{i}"}},
            "schoolYearTypeReference": {"schoolYear": SY},
            "calendarReference": {"calendarCode": f"CAL{school}"}}


def section_association(i: int, school: int, course: int, k: int) -> dict:
    return {"id": f"ssec{i}_{course}", "homeroomIndicator": course == 0,
            "studentReference": {"studentUniqueId": f"S{i}",
                                 "link": {"href": f"/ed-fi/students/stu{i}"}},
            "sectionReference": section_ref(school, course, k, link=True),
            "beginDate": "2023-08-15", "endDate": "2023-12-20"}


def _descriptors() -> dict[str, list[dict]]:
    def fam(name: str, codes, start: int, short: bool = False):
        key = "shortDescription" if short else "description"
        family = name[0].upper() + name[1:-1]
        return [{f"{name[:-1]}Id": start + j, "codeValue": c, key: c,
                 "namespace": f"{URI}/{family}"}
                for j, c in enumerate(codes)]

    return {
        "gradingPeriodDescriptors": fam(
            "gradingPeriodDescriptors",
            ("First Six Weeks", "Second Six Weeks"), 7),
        "academicSubjectDescriptors": fam(
            "academicSubjectDescriptors", [c[2] for c in COURSES], 3),
        "termDescriptors": fam("termDescriptors", ("Fall Semester",), 4),
        "educationalEnvironmentDescriptors": fam(
            "educationalEnvironmentDescriptors", ("Classroom",), 5),
        "aidTypeDescriptors": fam("aidTypeDescriptors", ("Grant",), 61),
        "assessmentCategoryDescriptors": fam(
            "assessmentCategoryDescriptors",
            ("College entrance exam", "State assessment"), 81),
        "assessmentReportingMethodDescriptors": fam(
            "assessmentReportingMethodDescriptors",
            ("Scale score", "Raw score"), 91),
        "resultDatatypeTypeDescriptors": fam(
            "resultDatatypeTypeDescriptors", ("Integer",), 95),
        "performanceLevelDescriptors": fam(
            "performanceLevelDescriptors", ("Proficient", "Basic"), 97),
        "programTypeDescriptors": fam(
            "programTypeDescriptors", ("Bilingual", "Special Education"), 41),
        "sexDescriptors": fam("sexDescriptors", ("Female", "Male"), 51, True),
        "cohortYearTypeDescriptors": fam(
            "cohortYearTypeDescriptors", ("Ninth grade",), 11, True),
        "raceDescriptors": fam("raceDescriptors", RACES, 21, True),
        "languageDescriptors": fam(
            "languageDescriptors", ("Spanish", "Vietnamese"), 31, True),
        "cohortTypeDescriptors": fam(
            "cohortTypeDescriptors", ("Study partners",), 61),
        "gradeLevelDescriptors": fam(
            "gradeLevelDescriptors", ("Ninth grade",), 71),
        "schoolFoodServiceProgramServiceDescriptors": fam(
            "schoolFoodServiceProgramServiceDescriptors",
            ("Free Lunch", "Free Breakfast"), 81),
        "disciplineDescriptors": fam(
            "disciplineDescriptors", ("In School Suspension", "Expulsion"),
            91),
        "schoolYearTypes": [
            {"schoolYear": SY, "currentSchoolYear": True,
             "schoolYearDescription": "2022-2023"},
            {"schoolYear": SY + 1, "currentSchoolYear": False,
             "schoolYearDescription": "2023-2024"}],
    }


def generate(seed: int, n_students: int) -> dict[str, list[dict]]:
    """All ODS documents for one synthetic district, keyed by collection
    (the last segment of the resource route)."""
    rng = random.Random(seed)
    out: dict[str, list[dict]] = _descriptors()
    schools = school_ids(n_students)
    n_schools = len(schools)
    n_staff = max(2 * n_schools, n_students // 20)

    def add(coll: str, docs) -> None:
        out.setdefault(coll, []).extend(docs)

    # -- education organizations ------------------------------------------
    add("stateEducationAgencies", [
        {"id": "sea-1", "stateEducationAgencyId": 1,
         "nameOfInstitution": "State Education Agency"}])
    add("educationServiceCenters", [
        {"id": "esc-9", "educationServiceCenterId": 9,
         "nameOfInstitution": "Region 9"}])
    add("localEducationAgencies", [
        {"id": f"lea-{LEA}", "localEducationAgencyId": LEA,
         "nameOfInstitution": "Alpha ISD",
         "localEducationAgencyCategoryDescriptor":
             d("LocalEducationAgencyCategoryDescriptor", "Independent"),
         "educationServiceCenterReference": {
             "educationServiceCenterId": 9,
             "link": {"href": "/ed-fi/educationServiceCenters/esc-9"}},
         "stateEducationAgencyReference": {
             "stateEducationAgencyId": 1,
             "link": {"href": "/ed-fi/stateEducationAgencies/sea-1"}}}])
    lea_ref = {"localEducationAgencyId": LEA,
               "link": {"href": f"/ed-fi/localEducationAgencies/lea-{LEA}"}}
    add("schools", [
        {"id": f"s{s}", "schoolId": s, "nameOfInstitution": f"School {s}",
         "schoolTypeDescriptor": d("SchoolTypeDescriptor", "Regular"),
         "localEducationAgencyReference": lea_ref,
         "addresses": [
             {"addressTypeDescriptor": d("AddressTypeDescriptor", "Physical"),
              "stateAbbreviationDescriptor":
                  d("StateAbbreviationDescriptor", "TX"),
              "streetNumberName": f"{s} Main St", "city": "Austin",
              "nameOfCounty": "Travis"}]}
        for s in schools])
    add("schools", [
        {"id": f"s{EPP_SCHOOL}", "schoolId": EPP_SCHOOL,
         "nameOfInstitution": "Alpha College of Education",
         "schoolTypeDescriptor": d("SchoolTypeDescriptor", "Regular"),
         "localEducationAgencyReference": lea_ref,
         "educationOrganizationCategories": [
             {"educationOrganizationCategoryDescriptor":
                  d("EducationOrganizationCategoryDescriptor",
                    "Educator Preparation Provider")}],
         "addresses": []}])
    add("feederSchoolAssociations", [
        {"feederSchoolReference": {"schoolId": schools[j]},
         "schoolReference": {"schoolId": schools[j + 1]},
         "beginDate": "2015-01-01", "endDate": "2199-12-31"}
        for j in range(n_schools - 1)])

    # -- calendar, sessions, grading periods, courses, sections ------------
    days = calendar_days()
    add("calendarDates", [
        {"id": f"cd{s}_{k}", "date": day,
         "calendarReference": {"schoolYear": SY, "schoolId": s,
                               "calendarCode": f"CAL{s}"},
         "calendarEvents": [
             {"calendarEventDescriptor":
                  d("CalendarEventDescriptor", "Instructional day")}]}
        for s in schools for k, day in enumerate(days)])
    periods = (("First Six Weeks", 1, "2023-08-15", "2023-09-30", 29),
               ("Second Six Weeks", 2, "2023-10-01", "2023-11-15", 30))
    add("gradingPeriods", [
        {"id": f"gp{s}_{seq}",
         "gradingPeriodDescriptor": d("GradingPeriodDescriptor", name),
         "schoolReference": {"schoolId": s},
         "schoolYearTypeReference": {"schoolYear": SY},
         "beginDate": begin, "endDate": end,
         "totalInstructionalDays": n_days, "periodSequence": seq}
        for s in schools for name, seq, begin, end, n_days in periods])
    add("sessions", [
        {"id": f"ses{s}", "sessionName": "Fall",
         "schoolReference": {"schoolId": s},
         "schoolYearTypeReference": {"schoolYear": SY},
         "beginDate": "2023-08-15", "endDate": "2023-12-20",
         "termDescriptor": d("TermDescriptor", "Fall Semester"),
         "gradingPeriods": [
             {"gradingPeriodReference": {
                 "schoolId": s, "schoolYear": SY,
                 "gradingPeriodDescriptor":
                     d("GradingPeriodDescriptor", name),
                 "periodSequence": seq,
                 "link": {"href": f"/ed-fi/gradingPeriods/gp{s}_{seq}"}}}
             for name, seq, *_ in periods]}
        for s in schools])
    add("courses", [
        {"id": f"c{c}", "courseCode": code, "courseTitle": title,
         "academicSubjectDescriptor": d("AcademicSubjectDescriptor", subj),
         "educationOrganizationReference": {"educationOrganizationId": LEA}}
        for c, (code, title, subj) in enumerate(COURSES)])
    add("courseOfferings", [
        {"id": f"co{s}_{c}", "localCourseCode": f"C{c}",
         "schoolReference": {"schoolId": s,
                             "link": {"href": f"/ed-fi/schools/s{s}"}},
         "sessionReference": {"schoolYear": SY, "sessionName": "Fall",
                              "link": {"href": f"/ed-fi/sessions/ses{s}"}},
         "courseReference": {"courseCode": COURSES[c][0],
                             "link": {"href": f"/ed-fi/courses/c{c}"}}}
        for s in schools for c in range(len(COURSES))])

    # students of school index j are i with i % n_schools == j; their
    # local rank i // n_schools places them in a section of SECTION_SIZE
    per_school = -(-n_students // n_schools)
    n_sections = max(1, -(-per_school // SECTION_SIZE))
    add("sections", [
        {"id": f"sec{s}_{c}_{k}", "sectionIdentifier": f"S{s}-{c}-{k}",
         "sectionName": f"{COURSES[c][1]}-{k}",
         "educationalEnvironmentDescriptor":
             d("EducationalEnvironmentDescriptor", "Classroom"),
         "courseOfferingReference": {
             "localCourseCode": f"C{c}", "schoolId": s, "schoolYear": SY,
             "sessionName": "Fall",
             "link": {"href": f"/ed-fi/courseOfferings/co{s}_{c}"}},
         "classPeriods": [
             {"classPeriodReference": {"classPeriodName": f"P{c + 1}",
                                       "schoolId": s}}]}
        for s in schools for c in range(len(COURSES))
        for k in range(n_sections)])

    # -- staff and RLS assignments ----------------------------------------
    add("staffs", [
        {"id": f"st{j}", "staffUniqueId": f"T{j}", "firstName": f"TF{j}",
         "lastSurname": f"TL{j}", "birthDate": "1980-01-01",
         "sexDescriptor": d("SexDescriptor", rng.choice(("Female", "Male"))),
         "hispanicLatinoEthnicity": rng.random() < 0.3,
         "highlyQualifiedTeacher": True, "loginId": f"t{j}",
         "electronicMails": [
             {"electronicMailAddress": f"t{j}@example.edu",
              "electronicMailTypeDescriptor":
                  d("ElectronicMailTypeDescriptor", "Work")}],
         "races": [{"raceDescriptor": d("RaceDescriptor", rng.choice(RACES))}]}
        for j in range(n_staff)])
    # staff j works at school j % n_schools; the first of each school is
    # its principal, staff 0 is also the superintendent
    assignments = []
    for j in range(n_staff):
        s = schools[j % n_schools]
        role = "Principal" if j < n_schools else "Teacher"
        assignments.append(
            {"id": f"seoaa{j}",
             "staffClassificationDescriptor":
                 d("StaffClassificationDescriptor", role),
             "staffReference": {"staffUniqueId": f"T{j}",
                                "link": {"href": f"/ed-fi/staffs/st{j}"}},
             "educationOrganizationReference": {
                 "educationOrganizationId": s,
                 "link": {"href": f"/ed-fi/schools/s{s}"}},
             "beginDate": "2023-08-01"})
    assignments.append(
        {"id": "seoaa-sup",
         "staffClassificationDescriptor":
             d("StaffClassificationDescriptor", "Superintendent"),
         "staffReference": {"staffUniqueId": "T0",
                            "link": {"href": "/ed-fi/staffs/st0"}},
         "educationOrganizationReference": {
             "educationOrganizationId": LEA,
             "link": {"href": f"/ed-fi/localEducationAgencies/lea-{LEA}"}},
         "beginDate": "2023-08-01"})
    add("staffEducationOrganizationAssignmentAssociations", assignments)
    teachers = {s: [j for j in range(n_staff)
                    if schools[j % n_schools] == s and j >= n_schools]
                or [schools.index(s)] for s in schools}
    def teacher(s: int, c: int, k: int) -> int:
        return teachers[s][(c * n_sections + k) % len(teachers[s])]

    add("staffSectionAssociations", [
        {"id": f"stsec{s}_{c}_{k}",
         "staffReference": {
             "staffUniqueId": f"T{teacher(s, c, k)}",
             "link": {"href": f"/ed-fi/staffs/st{teacher(s, c, k)}"}},
         "sectionReference": section_ref(s, c, k, link=True),
         "beginDate": "2023-08-15", "endDate": "2199-12-31"}
        for s in schools for c in range(len(COURSES))
        for k in range(n_sections)])

    # -- students and their associations ----------------------------------
    n_cand = max(2, n_students // 100)
    students, ssa, seoa, ssec, grades = [], [], [], [], []
    sch_events, sec_events = [], []
    for i in range(n_students):
        s = schools[i % n_schools]
        k = (i // n_schools) // SECTION_SIZE
        stu = {"id": f"stu{i}", "studentUniqueId": f"S{i}",
               "firstName": f"F{i}", "middleName": None,
               "lastSurname": f"L{i}", "birthDate": "2009-05-01"}
        if i < n_cand:
            stu["personReference"] = {
                "personId": f"PER{i}", "link": {"href": f"/ed-fi/people/per{i}"}}
        students.append(stu)
        ssa.append(enrollment(i, s, None if rng.random() < 0.9
                              else "2023-09-20"))
        race = rng.choice(RACES)
        sex = rng.choice(("Female", "Male"))
        hispanic = rng.random() < 0.3
        for org, rel, href in ((s, "School", f"/ed-fi/schools/s{s}"),
                               (LEA, "LocalEducationAgency",
                                f"/ed-fi/localEducationAgencies/lea-{LEA}")):
            doc = {"id": f"eo{i}_{org}",
                   "educationOrganizationReference": {
                       "educationOrganizationId": org,
                       "link": {"rel": rel, "href": href}},
                   "studentReference": {
                       "studentUniqueId": f"S{i}",
                       "link": {"href": f"/ed-fi/students/stu{i}"}},
                   "hispanicLatinoEthnicity": hispanic,
                   "sexDescriptor": d("SexDescriptor", sex),
                   "races": [{"raceDescriptor": d("RaceDescriptor", race)}],
                   "studentCharacteristics": [] if i % 4 else [
                       {"studentCharacteristicDescriptor":
                            d("StudentCharacteristicDescriptor",
                              "Economic Disadvantaged")}],
                   "studentIndicators": [
                       {"indicatorName": "Internet Access In Residence",
                        "indicator": "Yes" if i % 5 else "No",
                        "indicatorGroup": "Connectivity"}]}
            if i % 7 == 0:
                doc["languages"] = [
                    {"languageDescriptor": d("LanguageDescriptor", "Spanish"),
                     "uses": [{"languageUseDescriptor":
                               d("LanguageUseDescriptor", "Home language")}]}]
            if i % 11 == 0:
                doc["disabilities"] = [
                    {"disabilityDescriptor":
                         d("DisabilityDescriptor", "Dyslexia"),
                     "designations": [
                         {"disabilityDesignationDescriptor":
                              d("DisabilityDesignationDescriptor",
                                "Section 504")}]}]
            if org == s:
                doc["cohortYears"] = [
                    {"cohortYearTypeDescriptor":
                         d("CohortYearTypeDescriptor", "Ninth grade"),
                     "schoolYearTypeReference": {"schoolYear": SY}}]
            seoa.append(doc)
        for c in range(len(COURSES)):
            ssec.append(section_association(i, s, c, k))
            g = rng.randint(55, 100)
            grades.append(
                {"id": f"gr{i}_{c}",
                 "gradingPeriodReference": {
                     "gradingPeriodDescriptor":
                         d("GradingPeriodDescriptor", "First Six Weeks"),
                     "periodSequence": 1, "schoolId": s, "schoolYear": SY},
                 "studentSectionAssociationReference": {
                     "studentUniqueId": f"S{i}", "beginDate": "2023-08-15",
                     **section_ref(s, c, k)},
                 "letterGradeEarned": "ABCDF"[min(4, (100 - g) // 10)],
                 "numericGradeEarned": float(g),
                 "gradeTypeDescriptor":
                     d("GradeTypeDescriptor", "Grading Period")})
        if i % 4 == 0:
            for j in rng.sample(range(28), 3):
                sch_events.append(attendance_event(
                    f"ae{i}_{j}", i, s, days[j], pick_category(rng)))
            j = rng.randrange(28)
            sec_events.append(
                {"id": f"se{i}_{j}", "eventDate": days[j],
                 "attendanceEventCategoryDescriptor":
                     d("AttendanceEventCategoryDescriptor",
                       pick_category(rng)),
                 "studentReference": {"studentUniqueId": f"S{i}"},
                 "sectionReference": section_ref(s, 0, k)})
    add("students", students)
    add("studentSchoolAssociations", ssa)
    add("studentEducationOrganizationAssociations", seoa)
    add("studentSectionAssociations", ssec)
    add("grades", grades)
    add("studentSchoolAttendanceEvents", sch_events)
    add("studentSectionAttendanceEvents", sec_events)

    # -- parents, programs, cohorts, food service, discipline -------------
    add("parents", [
        {"id": f"p{p}", "parentUniqueId": f"PAR{p}", "firstName": f"PF{p}",
         "lastSurname": f"L{2 * p}",
         "addresses": [
             {"addressTypeDescriptor": d("AddressTypeDescriptor", "Home"),
              "city": "Austin", "postalCode": "78701",
              "stateAbbreviationDescriptor":
                  d("StateAbbreviationDescriptor", "TX"),
              "streetNumberName": f"{p} Oak Ln",
              "apartmentRoomSuiteNumber": None,
              "periods": [{"beginDate": "2020-01-01"}]}],
         "telephones": [
             {"telephoneNumber": f"512-{p:07d}",
              "telephoneNumberTypeDescriptor":
                  d("TelephoneNumberTypeDescriptor", "Mobile")}],
         "electronicMails": [
             {"electronicMailAddress": f"par{p}@home.example",
              "electronicMailTypeDescriptor":
                  d("ElectronicMailTypeDescriptor", "Home/Personal"),
              "primaryEmailAddressIndicator": True}]}
        for p in range(-(-n_students // 2))])
    add("studentParentAssociations", [
        {"id": f"spa{i}", "parentReference": {"parentUniqueId": f"PAR{i // 2}"},
         "studentReference": {"studentUniqueId": f"S{i}"},
         "primaryContactStatus": True, "livesWith": True,
         "emergencyContactStatus": i % 2 == 0, "contactPriority": 1,
         "contactRestrictions": None,
         "relationDescriptor": d("RelationDescriptor",
                                 "Mother" if i % 2 else "Father")}
        for i in range(n_students)])
    programs = (("Bilingual", "Bilingual"),
                ("Special Education", "Special Education"))
    add("programs", [
        {"id": f"prog{j}", "programName": name,
         "programTypeDescriptor": d("ProgramTypeDescriptor", ptype),
         "educationOrganizationReference": {"educationOrganizationId": LEA}}
        for j, (name, ptype) in enumerate(programs)])
    add("studentProgramAssociations", [
        {"id": f"spra{i}", "studentReference": {"studentUniqueId": f"S{i}"},
         "beginDate": "2023-09-01",
         "programReference": {
             "programName": programs[i % 2][0],
             "programTypeDescriptor":
                 d("ProgramTypeDescriptor", programs[i % 2][1]),
             "educationOrganizationId": LEA,
             "link": {"href": f"/ed-fi/programs/prog{i % 2}"}},
         "educationOrganizationReference": {"educationOrganizationId": LEA}}
        for i in range(0, n_students, 10)])
    add("cohorts", [
        {"id": "coh1", "cohortIdentifier": "CH-1",
         "cohortDescription": "Freshman mentoring",
         "cohortTypeDescriptor": d("CohortTypeDescriptor", "Study partners"),
         "educationOrganizationReference": {"educationOrganizationId": LEA},
         "programs": [
             {"programReference": {
                 "educationOrganizationId": LEA, "programName": "Bilingual",
                 "programTypeDescriptor":
                     d("ProgramTypeDescriptor", "Bilingual"),
                 "link": {"href": "/ed-fi/programs/prog0"}}}]}])
    add("studentCohortAssociations", [
        {"id": f"sca{i}",
         "cohortReference": {"link": {"href": "/ed-fi/cohorts/coh1"}},
         "studentReference": {"studentUniqueId": f"S{i}",
                              "link": {"href": f"/ed-fi/students/stu{i}"}},
         "beginDate": "2023-09-01"}
        for i in range(3, n_students, 20)])
    add("studentSchoolFoodServiceProgramAssociations", [
        {"id": f"sfsp{i}", "studentReference": {"studentUniqueId": f"S{i}"},
         "programReference": {
             "programName": "Food Service", "educationOrganizationId": LEA,
             "programTypeDescriptor": d("ProgramTypeDescriptor", "Bilingual")},
         "educationOrganizationReference": {"educationOrganizationId": LEA},
         "beginDate": "2023-08-20",
         "schoolFoodServiceProgramServices": [
             {"schoolFoodServiceProgramServiceDescriptor":
                  d("SchoolFoodServiceProgramServiceDescriptor",
                    "Free Lunch")}]}
        for i in range(1, n_students, 3)])
    disc = list(range(5, n_students, 50))
    add("disciplineActions", [
        {"id": f"da{i}", "disciplineActionIdentifier": f"DA-{i}",
         "disciplineDate": "2023-09-15",
         "studentReference": {"studentUniqueId": f"S{i}"},
         "disciplines": [
             {"disciplineDescriptor":
                  d("DisciplineDescriptor",
                    "In School Suspension" if i % 2 else "Expulsion")}],
         "staffs": [{"staffReference": {"staffUniqueId": "T0",
                                        "link": {"href": "/ed-fi/staffs/st0"}}}]}
        for i in disc])
    add("disciplineIncidents", [
        {"id": f"di{i}", "incidentIdentifier": f"INC{i}",
         "incidentDate": days[i % 28],
         "schoolReference": {"schoolId": schools[i % n_schools]}}
        for i in disc])
    add("studentDisciplineIncidentBehaviorAssociations", [
        {"id": f"bh{i}",
         "behaviorDescriptor": d("BehaviorDescriptor",
                                 "State Offense" if i % 2
                                 else "School Code of Conduct"),
         "disciplineIncidentReference": {
             "incidentIdentifier": f"INC{i}",
             "schoolId": schools[i % n_schools]},
         "studentReference": {"studentUniqueId": f"S{i}"}}
        for i in disc])

    # -- assessments --------------------------------------------------------
    def scores(method: str, lo: int, hi: int) -> list[dict]:
        return [{"assessmentReportingMethodDescriptor":
                     d("AssessmentReportingMethodDescriptor", method),
                 "maximumScore": hi, "minimumScore": lo,
                 "resultDatatypeTypeDescriptor":
                     d("ResultDatatypeTypeDescriptor", "Integer")}]

    add("assessments", [
        {"id": "asm1", "assessmentIdentifier": "ACT-MATH",
         "namespace": "uri://act.org",
         "assessmentCategoryDescriptor":
             d("AssessmentCategoryDescriptor", "College entrance exam"),
         "assessmentTitle": "ACT Math", "assessmentVersion": SY,
         "assessedGradeLevels": [
             {"gradeLevelDescriptor":
                  d("GradeLevelDescriptor", "Ninth grade")}],
         "scores": scores("Scale score", 1, 36),
         "academicSubjects": [
             {"academicSubjectDescriptor":
                  d("AcademicSubjectDescriptor", "Mathematics")}]}])
    add("objectiveAssessments", [
        {"id": "oa1",
         "assessmentReference": {"assessmentIdentifier": "ACT-MATH",
                                 "namespace": "uri://act.org"},
         "identificationCode": "ALG", "description": "Algebra strand",
         "percentOfAssessment": 50, "scores": scores("Raw score", 0, 18),
         "learningStandards": [
             {"learningStandardReference": {
                 "learningStandardId": "LS-ALG-1",
                 "link": {"href": "/ed-fi/learningStandards/ls1"}}}]}])

    def result(method: str, value: int, level: str) -> dict:
        return {
            "scoreResults": [
                {"assessmentReportingMethodDescriptor":
                     d("AssessmentReportingMethodDescriptor", method),
                 "result": str(value),
                 "resultDatatypeTypeDescriptor":
                     d("ResultDatatypeTypeDescriptor", "Integer")}],
            "performanceLevels": [
                {"assessmentReportingMethodDescriptor":
                     d("AssessmentReportingMethodDescriptor", method),
                 "performanceLevelDescriptor":
                     d("PerformanceLevelDescriptor", level),
                 "performanceLevelMet": True}]}

    student_assessments = []
    for i in range(0, n_students, 2):
        scale = rng.randint(10, 36)
        student_assessments.append(
            {"id": f"sa{i}", "studentAssessmentIdentifier": f"SA-{i}",
             "assessmentReference": {"assessmentIdentifier": "ACT-MATH",
                                     "namespace": "uri://act.org"},
             "studentReference": {"studentUniqueId": f"S{i}"},
             "administrationDate": "2023-09-15",
             "whenAssessedGradeLevelDescriptor":
                 d("GradeLevelDescriptor", "Ninth grade"),
             **result("Scale score", scale,
                      "Proficient" if scale >= 22 else "Basic"),
             "studentObjectiveAssessments": [
                 {"objectiveAssessmentReference": {"identificationCode": "ALG"},
                  **result("Raw score", scale // 2,
                           "Proficient" if scale >= 22 else "Basic")}]})
    add("studentAssessments", student_assessments)

    # -- educator preparation (TPDM) ---------------------------------------
    cand = range(n_cand)
    add("people", [{"id": f"per{c}", "personId": f"PER{c}"} for c in cand])
    add("candidates", [
        {"id": f"cand{c}", "candidateIdentifier": f"C{c}",
         "firstName": f"F{c}", "lastSurname": f"L{c}",
         "sexDescriptor": d("SexDescriptor", "Female" if c % 2 else "Male"),
         "hispanicLatinoEthnicity": c % 3 == 0,
         "economicDisadvantaged": c % 4 == 0,
         "personReference": {"personId": f"PER{c}",
                             "link": {"href": f"/ed-fi/people/per{c}"}},
         "races": [{"raceDescriptor": d("RaceDescriptor", RACES[c % 4])}]}
        for c in cand])
    add("candidateEducatorPreparationProgramAssociations", [
        {"id": f"cepp{c}", "candidateReference": {"candidateIdentifier": f"C{c}"},
         "educatorPreparationProgramReference": {
             "programName": "Sec Math", "educationOrganizationId": EPP_SCHOOL},
         "beginDate": "2022-08-01",
         "reasonExitedDescriptor": d("ReasonExitedDescriptor", "Completed"),
         "cohortYears": [
             {"termDescriptor": d("TermDescriptor", "Fall Semester"),
              "schoolYearTypeReference": {"schoolYear": SY}}]}
        for c in cand])
    add("credentials", [
        {"id": f"cred{c}", "credentialIdentifier": f"CR{c}",
         "issuanceDate": "2023-05-01",
         "_ext": {"tpdm": {"personReference": {
             "personId": f"PER{c}", "link": {"href": f"/ed-fi/people/per{c}"}}}}}
        for c in cand])
    add("financialAids", [
        {"id": f"fa{c}",
         "studentReference": {"studentUniqueId": f"S{c}",
                              "link": {"href": f"/ed-fi/students/stu{c}"}},
         "beginDate": "2023-01-10", "aidConditionDescription": "Need-based",
         "aidTypeDescriptor": d("AidTypeDescriptor", "Grant"),
         "aidAmount": float(500 + 100 * (c % 10)),
         "pellGrantRecipient": c % 2 == 0}
        for c in cand])
    add("evaluationObjectives", [
        {"id": "evobj1", "evaluationObjectiveTitle": "Instruction"}])
    add("evaluationElementRatings", [
        {"id": f"eer{c}",
         "evaluationObjectiveRatingReference": {
             "personId": f"PER{c}", "evaluationDate": "2023-04-15T00:00:00Z",
             "evaluationObjectiveTitle": "Instruction"},
         "evaluationElementReference": {
             "performanceEvaluationTitle": "Clinical Eval",
             "evaluationElementTitle": "Lesson Planning",
             "termDescriptor": d("TermDescriptor", "Fall Semester"),
             "schoolYear": SY, "evaluationTitle": "Midterm"},
         "results": [{"ratingResultTitle": "Pedagogy",
                      "rating": 1.0 + (c % 4)}]}
        for c in cand])
    add("surveys", [{"id": "svy1", "surveyIdentifier": "SV1",
                     "surveyTitle": "Exit Survey"}])
    add("surveyQuestions", [
        {"id": f"sq{q}", "questionCode": f"Q{q}",
         "questionText": f"Question {q}",
         "surveyReference": {"surveyIdentifier": "SV1",
                             "link": {"href": "/ed-fi/surveys/svy1"}},
         "surveySectionReference": {"surveyIdentifier": "SV1",
                                    "surveySectionTitle": "Preparation"}}
        for q in (1, 2)])
    add("surveyResponses", [
        {"id": f"sr{c}", "surveyResponseIdentifier": f"R{c}",
         "responseDate": "2023-05-20",
         "surveyReference": {"surveyIdentifier": "SV1",
                             "link": {"href": "/ed-fi/surveys/svy1"}}}
        for c in cand])
    add("surveyQuestionResponses", [
        {"id": f"sqr{c}_{q}",
         "surveyQuestionReference": {
             "questionCode": f"Q{q}", "surveyIdentifier": "SV1",
             "link": {"href": f"/ed-fi/surveyQuestions/sq{q}"}},
         "surveyResponseReference": {
             "surveyResponseIdentifier": f"R{c}",
             "link": {"href": f"/ed-fi/surveyResponses/sr{c}"}},
         "surveyQuestionMatrixElementResponses": [
             {"numericResponse": 1 + (c + q) % 5,
              "textResponse": "Prepared"}]}
        for c in cand for q in (1, 2)])
    add("surveyResponsePersonTargetAssociations", [
        {"id": f"srpt{c}",
         "surveyResponseReference": {
             "surveyResponseIdentifier": f"R{c}",
             "link": {"href": f"/ed-fi/surveyResponses/sr{c}"}},
         "personReference": {"personId": f"PER{c}",
                             "link": {"href": f"/ed-fi/people/per{c}"}}}
        for c in cand])
    # every ODS resource carries a resource id
    for coll, docs in out.items():
        for k, doc in enumerate(docs):
            doc.setdefault("id", f"{coll}-{k}")
    return out

