"""Seeded Ed-Fi silver and embedding inputs for the benchmark workloads.

The silver documents have the shapes `tools/scale_smoke.py` lands (one
JSON array per file, one directory per endpoint under
`<root>/<school year>/`). The seed decides which enrolments exit early,
which attendance events are absences and which events the 1% churn
touches; everything else is a pure function of the student count, so
two runs with one seed see byte-identical inputs.
"""

from __future__ import annotations

import json
import random
import shutil
from pathlib import Path

SY = 2023
URI = "uri://ed-fi.org"
_PRESENT = f"{URI}/AttendanceEventCategoryDescriptor#In Attendance"
_ABSENT = f"{URI}/AttendanceEventCategoryDescriptor#Excused Absence"
PER_FILE = 5000
ATTENDANCE = "studentSchoolAttendanceEvents"


def n_schools(n_students: int) -> int:
    return max(2, n_students // 500)


def _dump(root: Path, endpoint: str, docs: list[dict]) -> None:
    d = root / str(SY) / endpoint
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True, exist_ok=True)
    for i in range(0, max(len(docs), 1), PER_FILE):
        (d / f"{endpoint}_{i // PER_FILE}.json").write_text(
            json.dumps(docs[i:i + PER_FILE]))


def write_silver(root: Path, n_students: int, seed: int) -> None:
    """Land every endpoint the 41 views read at `n_students`."""
    exits = random.Random(f"exits:{seed}")
    ns = n_schools(n_students)
    n_staff = max(2, n_students // 20)
    _dump(root, "schools", [
        {"id": f"s{i}", "schoolId": 1000 + i,
         "nameOfInstitution": f"School {i}",
         "schoolTypeDescriptor": f"{URI}/SchoolTypeDescriptor#Regular",
         "localEducationAgencyReference": {
             "localEducationAgencyId": 5,
             "link": {"href": "/ed-fi/localEducationAgencies/lea-5"}},
         "addresses": [
             {"addressTypeDescriptor": f"{URI}/AddressTypeDescriptor#Physical",
              "stateAbbreviationDescriptor":
                  f"{URI}/StateAbbreviationDescriptor#TX",
              "streetNumberName": f"{i} Main St", "city": "Austin",
              "nameOfCounty": "Travis"}]}
        for i in range(ns)])
    _dump(root, "localEducationAgencies", [
        {"id": "lea-5", "localEducationAgencyId": 5,
         "nameOfInstitution": "Alpha ISD",
         "localEducationAgencyCategoryDescriptor":
             f"{URI}/LocalEducationAgencyCategoryDescriptor#Independent"}])
    _dump(root, "calendarDates", [
        {"id": f"cd{s}_{d}", "date": f"2023-{9 + d // 28:02d}-{d % 28 + 1:02d}",
         "calendarReference": {"schoolYear": SY, "schoolId": 1000 + s},
         "calendarEvents": [
             {"calendarEventDescriptor":
                  f"{URI}/CalendarEventDescriptor#Instructional day"}]}
        for s in range(ns) for d in range(56)])
    _dump(root, "students", [
        {"id": f"stu{i}", "studentUniqueId": f"S{i}",
         "firstName": f"F{i}", "lastSurname": f"L{i}",
         "birthDate": "2009-05-01"}
        for i in range(n_students)])
    _dump(root, "studentSchoolAssociations", [
        {"id": f"ssa{i}", "entryDate": "2023-08-15",
         "entryGradeLevelDescriptor": f"{URI}/GradeLevelDescriptor#Ninth grade",
         "exitWithdrawDate": None if exits.random() < 0.9 else "2023-09-20",
         "schoolReference": {
             "schoolId": 1000 + i % ns,
             "link": {"href": f"/ed-fi/schools/s{i % ns}"}},
         "studentReference": {"studentUniqueId": f"S{i}",
                              "link": {"href": f"/ed-fi/students/stu{i}"}},
         "schoolYearTypeReference": {"schoolYear": SY}}
        for i in range(n_students)])
    _dump(root, "studentEducationOrganizationAssociations", [
        {"id": f"eo{i}",
         "educationOrganizationReference": {
             "educationOrganizationId": 1000 + i % ns,
             "link": {"rel": "School", "href": f"/ed-fi/schools/s{i % ns}"}},
         "studentReference": {"studentUniqueId": f"S{i}",
                              "link": {"href": f"/ed-fi/students/stu{i}"}},
         "hispanicLatinoEthnicity": bool(i % 3 == 0),
         "sexDescriptor": f"{URI}/SexDescriptor#Female",
         "races": [{"raceDescriptor": f"{URI}/RaceDescriptor#White"}],
         "studentCharacteristics": [] if i % 4 else [
             {"studentCharacteristicDescriptor":
                  f"{URI}/StudentCharacteristicDescriptor"
                  "#Economic Disadvantaged"}]}
        for i in range(n_students)])
    _dump(root, ATTENDANCE, attendance_events(n_students, seed))
    _dump(root, "staffs", [
        {"id": f"st{i}", "staffUniqueId": f"T{i}", "firstName": f"TF{i}",
         "lastSurname": f"TL{i}",
         "electronicMails": [
             {"electronicMailAddress": f"t{i}@example.edu",
              "electronicMailTypeDescriptor":
                  f"{URI}/ElectronicMailTypeDescriptor#Work"}],
         "races": [{"raceDescriptor": f"{URI}/RaceDescriptor#White"}]}
        for i in range(n_staff)])
    _dump(root, "gradeLevelDescriptors", [
        {"gradeLevelDescriptorId": 71, "codeValue": "Ninth grade",
         "description": "Grade 9",
         "namespace": f"{URI}/GradeLevelDescriptor"}])
    _dump(root, "raceDescriptors", [
        {"raceDescriptorId": 22, "codeValue": "White",
         "shortDescription": "White", "namespace": f"{URI}/RaceDescriptor"}])
    _dump(root, "sexDescriptors", [
        {"sexDescriptorId": 51, "codeValue": "Female",
         "shortDescription": "Female", "namespace": f"{URI}/SexDescriptor"}])
    _dump(root, "schoolYearTypes", [{"schoolYear": SY,
                                     "schoolYearDescription": "2023"}])


def _event(i: int, ns: int, event_id: str, day: str, absent: bool) -> dict:
    return {"id": event_id, "eventDate": day,
            "attendanceEventCategoryDescriptor":
                _ABSENT if absent else _PRESENT,
            "schoolReference": {"schoolId": 1000 + i % ns},
            "studentReference": {"studentUniqueId": f"S{i}"},
            "sessionReference": {"schoolYear": SY}}


def attendance_events(n_students: int, seed: int) -> list[dict]:
    """Three events for every fourth student, ~10% of them absences."""
    absences = random.Random(f"absences:{seed}")
    ns = n_schools(n_students)
    return [_event(i, ns, f"ae{i}_{d}", f"2023-09-{d + 1:02d}",
                   absences.random() < 0.1)
            for i in range(0, n_students, 4) for d in range(3)]


def churn_attendance(root: Path, n_students: int, seed: int) -> int:
    """Land 1% uniform churn on the attendance events: a third category
    flips, a third deletes and a third inserts, the inserts on dates
    spread over 2023-09-05..24 (the shape of the uniform churn in
    `tools/incremental_gold_smoke.py`). Returns the number of changes."""
    rng = random.Random(f"churn:{seed}")
    ns = n_schools(n_students)
    docs = attendance_events(n_students, seed)
    k = max(3, len(docs) // 100)
    picked = rng.sample(range(len(docs)), 2 * (k // 3))
    flips, deletes = picked[:k // 3], set(picked[k // 3:])
    for idx in flips:
        docs[idx] = {**docs[idx], "attendanceEventCategoryDescriptor":
                     _PRESENT if docs[idx][
                         "attendanceEventCategoryDescriptor"] == _ABSENT
                     else _ABSENT}
    docs = [d for idx, d in enumerate(docs) if idx not in deletes]
    inserts = k - len(picked)
    for j in range(inserts):
        i = rng.randrange(n_students)
        docs.append(_event(i, ns, f"aeNEW{j}",
                           f"2023-09-{rng.randrange(5, 25):02d}", True))
    _dump(root, ATTENDANCE, docs)
    return k


def write_embeddings(path: Path, n_vectors: int, dim: int, seed: int) -> None:
    """`embeddings.parquet` in the testdata schema (vec_id bigint,
    embedding array<float>, label int): unit vectors scattered around
    eight seeded cluster centres, labels 0/1."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(8, dim))
    member = rng.integers(0, 8, size=n_vectors)
    vecs = centres[member] + 0.6 * rng.normal(size=(n_vectors, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 2, size=n_vectors).astype(np.int32)),
    })
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path))
