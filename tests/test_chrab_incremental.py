"""IVM-maintained chrab gold (amt/chrab_incremental.py): the contract is
refresh(...) ≡ full build of the view over the CURRENT silver, for any
sequence of attendance-event inserts / updates / deletes — with the
event crosstab folded as a grouped-sum state (q99zy's algebra), never
re-aggregated from scratch."""

from __future__ import annotations

import json

SY = 2023
URI = "uri://ed-fi.org"
RUN_DATE = "2024-06-01"


def _sch_ev(i, student, school, date, cat, year=SY):
    return {"id": f"ae{i}", "eventDate": date,
            "attendanceEventCategoryDescriptor":
                f"{URI}/AttendanceEventCategoryDescriptor#{cat}",
            "schoolReference": {"schoolId": school},
            "studentReference": {"studentUniqueId": student},
            "sessionReference": {"schoolYear": year}}


def _sec_ev(i, student, school, date, cat, year=SY):
    return {"id": f"se{i}", "eventDate": date,
            "attendanceEventCategoryDescriptor":
                f"{URI}/AttendanceEventCategoryDescriptor#{cat}",
            "studentReference": {"studentUniqueId": student},
            "sectionReference": {"schoolId": school, "schoolYear": year,
                                 "localCourseCode": "ALG1",
                                 "sectionIdentifier": "S-01",
                                 "sessionName": "Fall"}}


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
    from api_to_amt_data_lake_spark.amt import chrab_incremental as ci
    from api_to_amt_data_lake_spark.amt.chrab import (
        chronic_absenteeism_attendance_fact as chrab,
    )
    inc = ci.read_gold(spark, str(gold_root), SY)
    full = chrab.build(spark, str(silver), SY, run_date=RUN_DATE)
    assert inc.columns == full.columns  # exact contract order
    assert _rows(inc) == _rows(full)


def test_fold_refresh_matches_full_rebuild(spark, tmp_path):
    from api_to_amt_data_lake_spark.amt import chrab_incremental as ci

    silver = tmp_path / "silver"
    gold = tmp_path / "gold"
    state = tmp_path / "state"
    ssa, cal = _base_docs()
    _write(silver, "studentSchoolAssociations", ssa)
    _write(silver, "calendarDates", cal)
    sch = [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance"),
           _sch_ev(2, "STU0", 100, "2023-09-02", "Excused Absence"),
           _sch_ev(3, "STU2", 100, "2023-09-01", "In Attendance"),
           _sch_ev(4, "STU1", 101, "2023-09-03", "Unexcused Absence")]
    sec = [_sec_ev(1, "STU0", 100, "2023-09-01", "Excused Absence"),
           _sec_ev(2, "STU3", 101, "2023-09-02", "In Attendance")]
    _write(silver, "studentSchoolAttendanceEvents", sch)
    _write(silver, "studentSectionAttendanceEvents", sec)

    ci.full_build(spark, str(silver), SY, str(state), str(gold),
                  run_date=RUN_DATE)
    _assert_gold_matches_full(spark, silver, gold)

    # CDC round 1: insert, update (category flip = retract+apply within
    # a group), update that MOVES a row between groups (date change),
    # and a delete — on the school side; insert + delete on the section
    # side.
    sch2 = [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance"),
            _sch_ev(2, "STU0", 100, "2023-09-02", "In Attendance"),
            _sch_ev(4, "STU1", 101, "2023-09-01", "Unexcused Absence"),
            _sch_ev(5, "STU4", 100, "2023-09-03", "Excused Absence")]
    sec2 = [_sec_ev(2, "STU3", 101, "2023-09-02", "In Attendance"),
            _sec_ev(3, "STU5", 101, "2023-09-01", "Excused Absence")]
    _write(silver, "studentSchoolAttendanceEvents", sch2)
    _write(silver, "studentSectionAttendanceEvents", sec2)

    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats["full_build"] is False
    assert stats["sch"] == 4  # ae3 delete, ae2 update, ae4 move, ae5 ins
    assert stats["sec"] == 2  # se1 delete, se3 insert
    # Touched output keys stay proportional to the change set, not the
    # enrollment × day space (18 base rows here).
    assert 0 < stats["touched_keys"] <= 8
    _assert_gold_matches_full(spark, silver, gold)

    # CDC round 2: no changes — gold must be untouched, zero deltas.
    from api_to_amt_data_lake_spark.amt import chrab_incremental as ci2
    before = _rows(ci2.read_gold(spark, str(gold), SY))
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats == {"full_build": False, "sch": 0, "sec": 0}
    after = _rows(ci2.read_gold(spark, str(gold), SY))
    assert before == after

    # CDC round 3: delete EVERY event for one (student, school, date)
    # group — the state group must retract to nothing and the output
    # row must fall back to all-zero flags (it stays: base rows exist
    # for every enrolled instructional day).
    _write(silver, "studentSchoolAttendanceEvents",
           [d for d in sch2 if d["id"] != "ae1"])
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats["sch"] == 1
    _assert_gold_matches_full(spark, silver, gold)

    # CDC round 4: the section-event collection leaves silver (every
    # event deleted), then returns. The deletes fold once: the snapshot
    # goes with the source, so the next refresh sees no change. A
    # source without a snapshot is new to the state, so its return is
    # a full build.
    import shutil
    shutil.rmtree(silver / str(SY) / "studentSectionAttendanceEvents")
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats["sec"] == 2
    _assert_gold_matches_full(spark, silver, gold)
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats == {"full_build": False, "sch": 0, "sec": 0}
    _write(silver, "studentSectionAttendanceEvents", sec2)
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats == {"full_build": True}
    _assert_gold_matches_full(spark, silver, gold)


def test_crash_between_gold_and_state_commit_heals_on_rerun(
        spark, tmp_path, monkeypatch):
    """The refresh commit order is gold-then-states; a crash in the
    window leaves NEW gold with OLD snapshots. The healing claim: the
    next refresh re-detects the same changes (old snapshot diff) and
    re-splices identical rows — gold converges to the full rebuild,
    never duplicates. Inject the crash by failing the first
    state/snapshot rename."""
    import os as _os

    import pytest

    from api_to_amt_data_lake_spark.amt import chrab_incremental as ci

    silver, gold, state = (tmp_path / "silver", tmp_path / "gold",
                           tmp_path / "state")
    ssa, cal = _base_docs()
    _write(silver, "studentSchoolAssociations", ssa)
    _write(silver, "calendarDates", cal)
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance"),
            _sch_ev(2, "STU2", 100, "2023-09-02", "Excused Absence")])
    ci.full_build(spark, str(silver), SY, str(state), str(gold),
                  run_date=RUN_DATE)

    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "Excused Absence"),
            _sch_ev(3, "STU4", 100, "2023-09-03", "In Attendance")])

    real_rename = _os.rename

    def boom(src, dst):
        if ".next" in str(src) and str(state) in str(src):
            raise OSError("injected crash at state commit")
        return real_rename(src, dst)

    monkeypatch.setattr(ci.os, "rename", boom)
    with pytest.raises(OSError, match="injected"):
        ci.refresh(spark, str(silver), SY, str(state), str(gold),
                   run_date=RUN_DATE)
    monkeypatch.setattr(ci.os, "rename", real_rename)

    # Re-run: the old snapshot re-detects the same 3 changes and the
    # re-splice is idempotent.
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats["full_build"] is False and stats["sch"] == 3
    _assert_gold_matches_full(spark, silver, gold)

    # And a third refresh is a clean no-op.
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats["sch"] == 0
    _assert_gold_matches_full(spark, silver, gold)


def test_crash_inside_gold_partition_commit_heals_on_rerun(
        spark, tmp_path, monkeypatch):
    """A crash after a touched DateKey partition was set aside, before
    its rewrite moved in, leaves that partition missing. The rerun
    restores it before the splice reads the carried rows, so the
    untouched keys of that date survive. Inject the crash by failing
    the first move out of the splice's staged write."""
    import os as _os

    import pytest

    from api_to_amt_data_lake_spark.amt import chrab_incremental as ci

    silver, gold, state = (tmp_path / "silver", tmp_path / "gold",
                           tmp_path / "state")
    ssa, cal = _base_docs()
    _write(silver, "studentSchoolAssociations", ssa)
    _write(silver, "calendarDates", cal)
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance")])
    ci.full_build(spark, str(silver), SY, str(state), str(gold),
                  run_date=RUN_DATE)
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "Excused Absence")])

    real_rename = _os.rename

    def boom(src, dst):
        if ".stage" in str(src):
            raise OSError("injected crash at gold commit")
        return real_rename(src, dst)

    monkeypatch.setattr(ci.os, "rename", boom)
    with pytest.raises(OSError, match="injected"):
        ci.refresh(spark, str(silver), SY, str(state), str(gold),
                   run_date=RUN_DATE)
    monkeypatch.setattr(ci.os, "rename", real_rename)
    live = gold / str(SY) / ci.VIEW_NAME
    assert not (live / "DateKey=20230901").exists()

    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats["full_build"] is False and stats["sch"] == 1
    assert stats["touched_dates"] == 1
    _assert_gold_matches_full(spark, silver, gold)


def test_refresh_without_state_falls_back_to_full_build(spark, tmp_path):
    import os
    import shutil

    from api_to_amt_data_lake_spark.amt import chrab_incremental as ci

    silver = tmp_path / "silver"
    gold, state = tmp_path / "gold", tmp_path / "state"
    ssa, cal = _base_docs()
    _write(silver, "studentSchoolAssociations", ssa)
    _write(silver, "calendarDates", cal)
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance")])
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats == {"full_build": True}
    _assert_gold_matches_full(spark, silver, gold)

    # A gold with parquet files at its top level (the flat layout) is
    # not spliceable: refresh rebuilds it DateKey-partitioned.
    live = gold / str(SY) / ci.VIEW_NAME
    flat = tmp_path / "flat"
    ci.read_gold(spark, str(gold), SY).write.parquet(str(flat))
    shutil.rmtree(live)
    shutil.move(str(flat), str(live))
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "Excused Absence"),
            _sch_ev(2, "STU2", 100, "2023-09-02", "In Attendance")])
    stats = ci.refresh(spark, str(silver), SY, str(state), str(gold),
                       run_date=RUN_DATE)
    assert stats == {"full_build": True}
    top = os.listdir(live)
    assert any(d.startswith("DateKey=") for d in top)
    assert not any(f.endswith(".parquet") for f in top)
    _assert_gold_matches_full(spark, silver, gold)


def test_year_conflict_events_still_filter_after_fold(spark, tmp_path):
    """An event whose session year conflicts with the enrollment year
    drops the joined base row (the view's year_ok filter) — the fold
    path must reproduce that, including UN-dropping the row when the
    conflicting event is deleted."""
    from api_to_amt_data_lake_spark.amt import chrab_incremental as ci

    silver = tmp_path / "silver"
    gold = tmp_path / "gold"
    state = tmp_path / "state"
    ssa, cal = _base_docs()
    _write(silver, "studentSchoolAssociations", ssa)
    _write(silver, "calendarDates", cal)
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance")])
    # (no section events endpoint at all — the None side must ride
    # through full_build and refresh untouched)
    ci.full_build(spark, str(silver), SY, str(state), str(gold),
                  run_date=RUN_DATE)

    # Year-conflicting event appears (wrong session year).
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance"),
            _sch_ev(9, "STU2", 100, "2023-09-02", "In Attendance",
                    year=1999)])
    ci.refresh(spark, str(silver), SY, str(state), str(gold),
               run_date=RUN_DATE)
    _assert_gold_matches_full(spark, silver, gold)

    # ...and disappears again: the dropped base row must come back.
    _write(silver, "studentSchoolAttendanceEvents",
           [_sch_ev(1, "STU0", 100, "2023-09-01", "In Attendance")])
    ci.refresh(spark, str(silver), SY, str(state), str(gold),
               run_date=RUN_DATE)
    _assert_gold_matches_full(spark, silver, gold)
