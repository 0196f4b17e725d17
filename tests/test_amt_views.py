"""View-level golden tests on Ed-Fi-shaped silver fixtures (FIXTURES.md,
SURVEY.md §5 strategy item 2) — including the empty-input contract path."""

from __future__ import annotations

import json

import pytest

from api_to_amt_data_lake_spark.amt.base import (
    class_period_dim,
    date_dim,
    grading_period_dim,
    local_education_agency_dim,
    school_dim,
    section_dim,
)
from api_to_amt_data_lake_spark.amt.equity import feeder_school_dim

SY = 2023


@pytest.fixture(scope="module")
def silver(tmp_path_factory):
    """Writes the shared fixture documents (tests/silver_docs.py) as the
    landed silver layout: {root}/{year}/{endpoint}/{endpoint}_1.json."""
    from silver_docs import SILVER_DOCS

    root = tmp_path_factory.mktemp("silver")
    for endpoint, docs in SILVER_DOCS.items():
        d = root / str(SY) / endpoint
        d.mkdir(parents=True, exist_ok=True)
        (d / f"{endpoint}_1.json").write_text(json.dumps(docs))
    return str(root)


def test_date_dim_golden(spark, silver):
    rows = {r["DateKey"]: r for r in date_dim.build(spark, silver, SY).collect()}
    assert set(rows) == {"20230815", "20240102"}  # dedup across calendars
    r = rows["20230815"]
    assert (r["Day"], r["Month"], r["Year"]) == ("15", "08", "2023")
    assert r["MonthName"] == "August"
    assert r["CalendarQuarter"] == "3" and r["CalendarQuarterName"] == "Third"
    assert r["SchoolYear"] == "2023"
    assert rows["20240102"]["CalendarQuarterName"] == "First"


def test_date_dim_empty_contract(spark, tmp_path):
    df = date_dim.build(spark, str(tmp_path), SY)
    assert df.count() == 0
    assert list(df.columns) == list(date_dim.CONTRACT.columns)


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def _typed(schema):
    return [(f.name, f.dataType) for f in schema]


def test_missing_silver_plans_empty_local_relations(spark, tmp_path):
    """With no silver collections every view optimizes to a LocalRelation
    with the contract's columns and types: no LogicalRDD (a Python-list
    frame, whose scans run Python-worker tasks) survives anywhere in the
    plan, and planning starts no Spark job. The one view that reads no
    silver, the crosswalk's authorization-scope rows, keeps its 3 rows."""
    from api_to_amt_data_lake_spark.amt import registry

    constant_rows = {"rls_StaffClassificationDescriptorScopeList": 3}
    sc = spark.sparkContext
    sc.setJobGroup("local-relation-guard", "plan only")
    try:
        for name, spec in registry.VIEWS.items():
            df = registry.build_view(name, spark, str(tmp_path), SY,
                                     "2024-06-01")
            plan = _optimized(df)
            assert "LogicalRDD" not in plan.toString(), name
            assert plan.getClass().getSimpleName() == "LocalRelation", name
            assert plan.data().size() == constant_rows.get(name, 0), name
            assert _typed(df.schema) == _typed(spec.contract.schema()), name
        assert list(sc.statusTracker().getJobIdsForGroup(
            "local-relation-guard")) == []
    finally:
        sc._jsc.clearJobGroup()


def test_lookup_frames_are_local_relations(spark):
    from api_to_amt_data_lake_spark.sources.lookup import (
        _DESCRIPTOR_CONSTANTS,
        descriptor_constant_df,
        letter_grade_lookup_df,
    )

    cw = descriptor_constant_df(spark)
    assert _optimized(cw).getClass().getSimpleName() == "LocalRelation"
    assert cw.dtypes == [("constantName", "string"), ("descriptor", "string"),
                         ("codeValue", "string")]
    rows = [tuple(r) for r in cw.collect()]
    assert len(rows) == 45 and rows == list(_DESCRIPTOR_CONSTANTS)

    lg = letter_grade_lookup_df(spark)
    assert _optimized(lg).getClass().getSimpleName() == "LocalRelation"
    assert lg.dtypes == [("LetterGradeEarned", "string"),
                         ("NumericGradeEarnedJoin", "bigint")]
    assert [tuple(r) for r in lg.collect()] == [
        ("A", 95), ("B", 85), ("C", 75), ("D", 65), ("F", 55)]


def test_grading_period_dim_golden(spark, silver):
    rows = grading_period_dim.build(spark, silver, SY).collect()
    # Inner join with descriptors drops the unmatched 'Unknown Period'.
    assert len(rows) == 1
    r = rows[0]
    assert r["GradingPeriodKey"] == "7-100-20230815"
    assert r["GradingPeriodBeginDateKey"] == "20230815"
    assert r["GradingPeriodEndDateKey"] == "20230930"
    assert r["GradingPeriodDescription"] == "First Six Weeks"
    assert r["TotalInstructionalDays"] == 29 and r["PeriodSequence"] == 1
    assert r["SchoolKey"] == "100" and r["SchoolYear"] == "2023"


def test_school_dim_golden(spark, silver):
    rows = school_dim.build(spark, silver, SY).collect()
    assert len(rows) == 1  # physical address only — mailing row filtered
    r = rows[0]
    assert r["SchoolKey"] == "100" and r["SchoolName"] == "Alpha High"
    assert r["SchoolType"] == "Regular"
    assert r["SchoolAddress"] == "1 Main St, Austin TX Travis"
    assert r["SchoolState"] == "TX" and r["SchoolCounty"] == "Travis"
    assert r["LocalEducationAgencyName"] == "Alpha ISD"
    assert r["LocalEducationAgencyKey"] == "5"
    assert r["EducationServiceCenterName"] == "Region 9"
    assert r["StateEducationAgencyName"] == "Texas Education Agency"


def test_class_period_dim_golden(spark, silver):
    rows = class_period_dim.build(spark, silver, SY).collect()
    by_key = {r["ClassPeriodKey"]: r for r in rows}
    assert len(rows) == 3  # 2 periods for sec1 + 1 null-period row for sec2
    r = by_key["P1-ALG1-100-2023-S-01-Fall"]
    assert r["SectionKey"] == "100-ALG1-2023-S-01-Fall"
    assert r["SchoolKey"] == "100" and r["SchoolYear"] == "2023"
    # Section without classPeriods: key null-propagates (pandas + parity).
    assert None in by_key and by_key[None]["SectionIdentifier"] == "S-02"


def test_section_dim_golden(spark, silver):
    rows = section_dim.build(spark, silver, SY).collect()
    assert len(rows) == 2
    r = {x["SectionKey"]: x for x in rows}["100-ALG1-2023-S-01-Fall"]
    assert r["Description"] == "Math-(ALG1)-Algebra I-Fall"
    assert r["SectionName"] == "ALG1-Fall"
    assert r["SessionKey"] == "100-2023-Fall"
    assert r["CourseTitle"] == "Algebra I"
    assert r["EducationalEnvironmentDescriptor"] == "In person"
    assert r["LocalEducationAgencyKey"] == "5"
    # sec2 has no educationalEnvironmentDescriptor → '' via fillna parity.
    r2 = {x["SectionKey"]: x for x in rows}["100-ALG1-2023-S-02-Fall"]
    assert r2["EducationalEnvironmentDescriptor"] == ""


def test_most_recent_grading_period_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt import registry
    rows = registry.build_view("mostRecentGradingPeriod", spark, silver,
                               SY).collect()
    assert [(r["SchoolKey"], r["GradingPeriodBeginDateKey"]) for r in rows] == \
        [("100", "20230815")]


def test_feeder_school_dim_golden(spark, silver):
    rows = feeder_school_dim.build(spark, silver, SY,
                                   run_date="2023-09-01").collect()
    assert len(rows) == 1  # expired association filtered by run_date
    r = rows[0]
    assert r["feederSchoolUniqueKey"] == "200-100"
    assert r["schoolKey"] == "200" and r["feederSchoolKey"] == "100"
    assert r["feederSchoolName"] == "Alpha High"


def test_staff_section_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import staff_section_dim
    rows = staff_section_dim.build(spark, silver, SY,
                                   run_date="2023-09-01").collect()
    assert len(rows) == 1  # T200's assignment expired before run_date
    r = rows[0]
    assert r["StaffSectionKey"] == "T100-100-ALG1-2023-S-01-Fall"
    assert r["SectionKey"] == "100-ALG1-2023-S-01-Fall"
    assert r["UserKey"] == "T100" and r["SchoolKey"] == "100"
    assert r["StaffFirstName"] == "Ada" and r["StaffLastName"] == "Lovelace"
    assert r["ElectronicMailAddress"] == "ada@example.edu"
    assert r["Race"] == "Multiracial"  # two races collapse
    assert r["Sex"] == "Female"
    assert r["HispanicLatinoEthnicity"] == 0
    assert r["HighlyQualifiedTeacher"] == 1
    assert r["LoginId"] == "ada"


def test_student_section_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import student_section_dim
    rows = student_section_dim.build(spark, silver, SY).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["StudentSectionKey"] == "STU1-100-ALG1-2023-S-01-Fall-20230815"
    assert r["StudentSchoolKey"] == "STU1-100"
    assert r["SectionKey"] == "100-ALG1-2023-S-01-Fall"
    assert r["Subject"] == "Math" and r["CourseTitle"] == "Algebra I"
    assert r["TeacherName"] == "Ada Lovelace, Alan Turing"
    assert r["StudentSectionStartDateKey"] == "20230815"
    assert r["StudentSectionEndDateKey"] == "20231220"


def test_chronic_absenteeism_fact_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.chrab import (
        chronic_absenteeism_attendance_fact as chrab,
    )
    rows = chrab.build(spark, silver, SY, run_date="2024-06-01").collect()
    by_key = {(r["StudentKey"], r["DateKey"]): r for r in rows}
    # STU1 enrolled all year → both instructional days; STU2 exited 0820 →
    # only the August day.
    assert set(by_key) == {("STU1", "20230815"), ("STU1", "20240102"),
                           ("STU2", "20230815")}
    aug = by_key[("STU1", "20230815")]
    assert aug["ReportedAsPresentAtSchool"] == 1
    assert aug["ReportedAsAbsentFromSchool"] == 0
    assert aug["ReportedAsAbsentFromAnySection"] == 0
    jan = by_key[("STU1", "20240102")]
    assert jan["ReportedAsAbsentFromSchool"] == 1   # excused absence
    assert jan["ReportedAsPresentAtSchool"] == 0
    assert jan["ReportedAsAbsentFromHomeRoom"] == 1  # section unexcused
    assert jan["ReportedAsAbsentFromAnySection"] == 1
    assert jan["ReportedAsIsPresentInAllSections"] == 0  # reference bug parity
    assert by_key[("STU2", "20230815")]["ReportedAsPresentAtSchool"] == 0
    assert aug["StudentSchoolKey"] == "STU1-100"


def test_student_early_warning_fact_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.ews import student_early_warning_fact as ews
    rows = ews.build(spark, silver, SY, run_date="2024-06-01").collect()
    by_key = {(r["StudentKey"], r["DateKey"]): r for r in rows}
    assert set(by_key) == {("STU1", "20230815"), ("STU1", "20240102"),
                           ("STU2", "20230815")}
    aug = by_key[("STU1", "20230815")]
    assert aug["IsInstructionalDay"] == 1 and aug["IsEnrolled"] == 1
    assert aug["IsPresentSchool"] == 1 and aug["IsAbsentFromSchoolExcused"] == 0
    jan = by_key[("STU1", "20240102")]
    assert jan["IsAbsentFromSchoolExcused"] == 1
    assert jan["IsAbsentFromAnyClassUnexcused"] == 1
    # the section is STU1's homeroom → homeroom flag mirrors it
    assert jan["IsAbsentFromHomeroomUnexcused"] == 1
    assert jan["IsPresentHomeroom"] == 0
    assert by_key[("STU2", "20230815")]["IsPresentSchool"] == 0


def test_all_student_school_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import all_student_school_dim
    rows = all_student_school_dim.build(spark, silver, SY,
                                        run_date="2023-09-01").collect()
    by = {r["StudentKey"]: r for r in rows}
    assert set(by) == {"STU1", "STU2"}
    r = by["STU1"]
    assert r["AllStudentSchoolKey"] == "STU1-100-20230815"
    assert r["StudentSchoolKey"] == "STU1-100"
    assert r["StudentFirstName"] == "Maria" and r["GradeLevel"] == "Ninth grade"
    assert r["IsHispanic"] == 1                       # school-level edOrg
    assert r["Sex"] == "Female"
    assert r["InternetAccessInResidence"] == "Yes"    # school-level indicator
    assert r["InternetPerformance"] == "Good"         # district-level fallback
    assert r["DigitalDevice"] == "n/a"                # absent everywhere
    assert r["LimitedEnglishProficiency"] == "Not applicable"
    assert r["IsEnrolled"] == 1 and r["SchoolYear"] == "2023"
    r2 = by["STU2"]
    assert r2["IsEnrolled"] == 0                      # exited 2023-08-20
    assert r2["IsHispanic"] == 0 and r2["Sex"] == ""


def test_student_school_dim_enrolled_only(spark, silver):
    from api_to_amt_data_lake_spark.amt import registry
    from api_to_amt_data_lake_spark.amt.base import student_school_dim
    rows = registry.build_view("studentSchoolDim", spark, silver, SY,
                               run_date="2023-09-01").collect()
    assert [r["StudentKey"] for r in rows] == ["STU1"]
    assert "IsEnrolled" not in student_school_dim.CONTRACT.columns


def test_contact_person_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import contact_person_dim
    rows = contact_person_dim.build(spark, silver, SY,
                                    run_date="2023-09-01").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["UniqueKey"] == "PAR1-STU1"
    assert r["ContactPersonKey"] == "PAR1" and r["StudentKey"] == "STU1"
    assert r["RelationshipToStudent"] == "Mother"
    assert r["ContactHomeAddress"] == "5 Oak Ln, 2B, Austin TX 78701"
    assert r["ContactWorkAddress"] == "9 Elm St, Austin TX 78702"
    assert r["ContactPhysicalAddress"] == ""
    assert r["MobilePhoneNumber"] == "512-1111" and r["HomePhoneNumber"] == ""
    assert r["PersonalEmailAddress"] == "rosa@home.example"
    assert r["WorkEmailAddress"] == "rosa@work.example"
    assert r["PrimaryEmailAddress"] == "Personal"
    assert r["IsPrimaryContact"] == 1 and r["StudentLivesWith"] == 1
    assert r["IsEmergencyContact"] == 0 and r["ContactPriority"] == 1
    assert r["PostalCode"] == "78701"


def test_demographics_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import demographics_dim
    rows = demographics_dim.build(spark, silver, SY).collect()
    keys = {r["DemographicKey"] for r in rows}
    # cohort cross join: 1 cohort descriptor × 2 school years
    assert "CohortYear:2023-First grade" in keys
    assert "CohortYear:2024-First grade" in keys
    assert "Race:Asian" in keys and "Race:White" in keys
    assert "Language:Spanish" in keys
    by = {r["DemographicKey"]: r for r in rows}
    assert by["Race:Asian"]["DemographicParentKey"] == "Race"
    assert by["Race:Asian"]["DemographicLabel"] == "Asian"
    assert by["CohortYear:2023-First grade"]["DemographicLabel"] == \
        "2023-First grade"


def test_student_section_grade_fact_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.ews import student_section_grade_fact as f
    rows = f.build(spark, silver, SY).collect()
    by = {(r["StudentKey"]): r for r in rows}
    assert set(by) == {"STU1", "STU2"}  # 'Exam' grade type filtered out
    r = by["STU1"]
    assert r["GradingPeriodKey"] == "7-100-20230815"
    assert r["StudentSectionKey"] == "STU1-100-ALG1-2023-S-01-Fall-20230815"
    assert r["SectionKey"] == "100-ALG1-2023-S-01-Fall"
    assert r["NumericGradeEarned"] == 87.0 and r["LetterGradeEarned"] == "B"
    assert r["GradeType"] == "Grading Period"
    # zero numeric grade falls back to the letter translation (A → 95)
    assert by["STU2"]["NumericGradeEarned"] == 95.0


def test_student_program_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import student_program_dim
    rows = student_program_dim.build(spark, silver, SY,
                                     run_date="2023-09-01").collect()
    assert len(rows) == 1  # STU1 only: STU2's enrollment exited
    r = rows[0]
    assert r["StudentSchoolProgramKey"] == \
        "STU1-100-Bilingual-41-5-5-20230901"
    assert r["StudentSchoolKey"] == "STU1-100"
    assert r["ProgramName"] == "Bilingual"
    assert r["EducationOrganizationKey"] == "5"


def test_epp_views_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.epp import descriptor_dims, epp_dim
    eppd = epp_dim.build(spark, silver, SY).collect()
    assert [(r["EducationOrganizationKey"], r["NameOfInstitution"])
            for r in eppd] == [("900", "Alpha College of Ed")]
    race = descriptor_dims.race_descriptor_dim.build(spark, silver, SY).collect()
    assert {(r["RaceDescriptorKey"], r["CodeValue"]) for r in race} == \
        {("21", "Asian"), ("22", "White")}
    sex = descriptor_dims.sex_descriptor_dim.build(spark, silver, SY).collect()
    assert [(r["SexDescriptorKey"], r["CodeValue"]) for r in sex] == \
        [("51", "Female")]
    term = descriptor_dims.term_descriptor_dim.build(spark, silver, SY).collect()
    assert [(r["TermDescriptorKey"], r["CodeValue"]) for r in term] == \
        [("4", "Fall Semester")]


def test_local_education_agency_dim_golden(spark, silver):
    rows = local_education_agency_dim.build(spark, silver, SY).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["LocalEducationAgencyKey"] == "5"
    assert r["LocalEducationAgencyName"] == "Alpha ISD"
    assert r["LocalEducationAgencyType"] == "Independent"
    assert r["LocalEducationAgencyStateEducationAgencyName"] == \
        "Texas Education Agency"
    assert r["LocalEducationAgencyStateEducationAgencyKey"] == "1"
    assert r["LocalEducationAgencyServiceCenterName"] == "Region 9"
    assert r["LocalEducationAgencyServiceCenterKey"] == "9"
    assert r["LocalEducationAgencyParentLocalEducationAgencyKey"] == ""
    assert r["LocalEducationAgencyCharterStatus"] == ""


def test_academic_time_period_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import academic_time_period_dim
    rows = academic_time_period_dim.build(spark, silver, SY).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["AcademicTimePeriodKey"] == "100-2023-4-7-20230815"
    assert r["SessionKey"] == "100-2023-Fall"
    assert r["GradingPeriodKey"] == "7-100-20230815"
    assert r["SchoolYearName"] == "2022-2023"
    assert r["IsCurrentSchoolYear"] == 1
    assert r["TermName"] == "Fall Semester"
    assert r["GradingPeriodName"] == "First Six Weeks"


def test_student_local_education_agency_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import (
        student_local_education_agency_dim as v,
    )
    rows = v.build(spark, silver, SY, run_date="2023-09-01").collect()
    # Only eo2 points at the LEA (id 5 ref lea-5); eo1 targets the school.
    assert len(rows) == 1
    r = rows[0]
    assert r["StudentLocalEducationAgencyKey"] == "STU1-5"
    assert r["StudentFirstName"] == "Maria"
    assert r["StudentMiddleName"] == "J"
    assert r["IsHispanic"] == "1" and r["Sex"] == "Female"
    assert r["LimitedEnglishProficiency"] == "Not Applicable"
    assert r["InternetPerformance"] == "n/a"       # unmapped indicator name
    assert r["InternetAccessInResidence"] == "n/a"  # on eo1, not eo2
    assert r["DigitalDevice"] == "n/a"


def test_student_program_cohort_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.equity import (
        student_program_cohort_dim as v,
    )
    rows = v.build(spark, silver, SY, run_date="2023-09-01").collect()
    assert len(rows) == 1  # STU2's enrollment exited
    r = rows[0]
    assert r["StudentProgramCohortKey"] == \
        "STU1-100-Bilingual-41-5-5-20230901-CH-1"
    assert r["StudentSchoolProgramKey"] == "STU1-100-Bilingual-41-5-5-20230901"
    assert r["StudentSchoolKey"] == "STU1-100"
    assert r["EntryGradeLevelDescriptor"] == "Grade 9"
    assert r["CohortTypeDescriptor"] == "Study partners cohort"
    assert r["CohortDescription"] == "Freshman mentoring"
    assert r["ProgramName"] == "Bilingual"


def test_student_school_food_service_program_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.equity import (
        student_school_food_service_program_dim as v,
    )
    rows = v.build(spark, silver, SY, run_date="2023-09-01").collect()
    by = {r["StudentSchoolFoodServiceProgramKey"]: r for r in rows}
    assert set(by) == {
        "STU1-100-Food Service-41-5-5-20230820-81",
        "STU1-100-Food Service-41-5-5-20230820-82",
    }
    r = by["STU1-100-Food Service-41-5-5-20230820-81"]
    assert r["StudentSchoolProgramKey"] == \
        "STU1-100-Food Service-41-5-5-20230820"
    assert r["StudentSchoolKey"] == "STU1-100"
    assert r["SchoolFoodServiceProgramServiceDescriptor"] == "Free Lunch"


def test_student_discipline_action_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.equity import (
        student_discipline_action_dim as v,
    )
    rows = v.build(spark, silver, SY, run_date="2023-09-01").collect()
    by = {r["StudentDisciplineActionKey"]: r for r in rows}
    assert set(by) == {
        "DA-1-20231005-STU1-100",
        "DA-2-20231106-STU1-100",
    }
    assert by["DA-1-20231005-STU1-100"]["UserKey"] == "T100"
    assert by["DA-1-20231005-STU1-100"]["DisciplineActionDescription"] == "ISS"
    assert by["DA-2-20231106-STU1-100"]["UserKey"] == ""  # no staff on action
    assert by["DA-2-20231106-STU1-100"]["DisciplineActionDescription"] == \
        "Expulsion"


def test_student_school_demographics_bridge_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import (
        student_school_demographics_bridge as v,
    )
    rows = v.build(spark, silver, SY, run_date="2023-09-01").collect()
    keys = {r["StudentSchoolDemographicBridgeKey"] for r in rows}
    assert keys == {
        # eo1 (school 100, matched by the open ssch1 enrollment)
        "Race:White-STU1-100",
        "Language:Spanish-STU1-100",
        "LanguageUse:Home language-STU1-100",
        "CohortYear:2023-Ninth grade-STU1-100",
        "StudentCharacteristic:Economic Disadvantaged-STU1-100",
        # eo2 (LEA 5) has no studentSchoolAssociation — the reference's
        # 'nan' >= today quirk keeps unmatched left-join rows
        "Race:White-STU1-5",
        "Disability:Dyslexia-STU1-5",
        "DisabilityDesignation:Section 504-STU1-5",
    }
    by = {r["StudentSchoolDemographicBridgeKey"]: r for r in rows}
    assert by["Race:White-STU1-100"]["StudentSchoolKey"] == "STU1-100"
    assert by["Race:White-STU1-100"]["DemographicKey"] == "Race:White"


def test_student_lea_demographics_bridge_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.base import (
        student_local_education_agency_demographics_bridge as v,
    )
    rows = v.build(spark, silver, SY, run_date="2023-09-01").collect()
    keys = {r["StudentSchoolDemographicBridgeKey"] for r in rows}
    # only eo2 carries rel == LocalEducationAgency; enrollment resolves
    # s1 → lea-5 via the schools crosswalk; ssch2 is exited → dropped
    assert keys == {
        "Race:White-STU1-5",
        "Disability:Dyslexia-STU1-5",
        "DisabilityDesignation:Section 504-STU1-5",
    }
    by = {r["StudentSchoolDemographicBridgeKey"]: r for r in rows}
    assert by["Race:White-STU1-5"]["StudentLocalEducationAgencyKey"] == "STU1-5"
    assert by["Race:White-STU1-5"]["DemographicKey"] == "Race:White"


def test_student_history_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt import registry
    rows = registry.build_view("equity_StudentHistoryDim", spark, silver, SY,
                               run_date="2023-09-01").collect()
    # student_school_dim keeps only currently-enrolled STU1
    assert len(rows) == 1
    r = rows[0]
    assert r["StudentKey"] == "STU1"
    assert r["StudentSchoolKey"] == "STU1-100"
    assert r["CurrentSchoolKey"] == "100"
    # both grade rows (the reference computes but discards the grade-type
    # crosswalk filter); same start date key → desc tie-break on the text
    assert r["GradeSummary"] == "Algebra I: 87.0\n Algebra I: 75.0"
    assert r["AttendanceRate"] == 100.0
    assert r["ReferralsAndSuspensions"] == 2
    assert r["EnrollmentHistory"] == "Alpha High"


def test_rls_simple_views_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.rls import (
        rls_staff_classification_descriptor_scope_list as scopes,
        rls_student_data_authorization as sda,
        rls_user_dim as users,
    )
    scope_rows = scopes.build(spark, silver, SY).collect()
    assert {(r["AuthorizationScopeName"], r["CodeValue"])
            for r in scope_rows} == {
        ("AuthorizationScope.District", "Superintendent"),
        ("AuthorizationScope.School", "Principal"),
        ("AuthorizationScope.Section", "Teacher"),
    }

    auth_rows = sda.build(spark, silver, SY).collect()
    assert len(auth_rows) == 1
    a = auth_rows[0]
    assert a["StudentKey"] == "STU1" and a["SchoolKey"] == "100"
    assert a["SectionId"] == "sec1"
    assert a["BeginDateKey"] == "20230815"
    assert a["EndDateKey"] == "20231220"
    assert a["BeginDate"].strftime("%Y-%m-%d") == "2023-08-15"

    user_rows = users.build(spark, silver, SY).collect()
    assert [(r["UserKey"], r["UserEmail"]) for r in user_rows] == \
        [("T100", "ada@example.edu")]


def test_rls_user_authorization_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.rls import rls_user_authorization as v
    rows = v.build(spark, silver, SY, run_date="2023-09-01").collect()
    by = {(r["UserKey"], r["UserScope"]): r for r in rows}
    # the reference's edOrg endDate check is commented out (`main.py:95-102`)
    # → the expired Superintendent SX still gets a District row
    assert set(by) == {
        ("T100", "AuthorizationScope.Section"),
        ("P1", "AuthorizationScope.School"),
        ("S1", "AuthorizationScope.District"),
        ("SX", "AuthorizationScope.District"),
    }
    t = by[("T100", "AuthorizationScope.Section")]
    assert t["SectionPermission"] == "sec1"
    assert t["SectionKeyPermission"] == "100-ALG1-2023-S-01-Fall"
    assert t["SchoolPermission"] == "100" and t["DistrictId"] == ""
    p = by[("P1", "AuthorizationScope.School")]
    assert p["SectionPermission"] == "ALL" and p["SchoolPermission"] == "100"
    assert p["DistrictId"] == ""
    s = by[("S1", "AuthorizationScope.District")]
    assert s["SectionPermission"] == "ALL" and s["SchoolPermission"] == "ALL"
    assert s["DistrictId"] == "5"
    assert all(r["StudentPermission"] == "ALL" for r in rows)


def test_rls_user_student_data_authorization_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.rls import (
        rls_user_student_data_authorization as v,
    )
    rows = v.build(spark, silver, SY, run_date="2023-09-01").collect()
    pairs = {(r["UserKey"], r["StudentKey"]) for r in rows}
    # STU2 exited before the run date; SX's assignment is expired (this
    # view DOES enforce the assignment end date, unlike user_authorization)
    assert pairs == {
        ("S1", "STU1"),   # district: lea-5 → s1 → STU1
        ("P1", "STU1"),   # school: s1 → STU1
        ("T100", "STU1"),  # section: sec1 shared, live, enrolled
    }


def test_candidate_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.epp import candidate_dim as v
    rows = v.build(spark, silver, SY).collect()
    # two credentials collapse via the groupby-all-columns dedup (A3)
    assert len(rows) == 1
    r = rows[0]
    assert r["CandidateKey"] == "C1"
    assert r["FirstName"] == "Maria" and r["LastSurname"] == "Garcia"
    assert r["SexDescriptorKey"] == "51" and r["SexDescriptor"] == "Female"
    assert r["RaceDescriptorKey"] == "22" and r["RaceDescriptor"] == "White"
    assert r["HispanicLatinoEthnicity"] == 1
    assert r["EconomicDisadvantaged"] == 1
    assert r["Cohort"] == "2023"
    assert r["ProgramComplete"] == 1
    assert r["StudentKey"] == "STU1"
    assert r["ProgramName"] == "Sec Math"
    assert r["BeginDate"] == "2022-08-01"
    assert r["EducationOrganizationId"] == "900"
    assert r["PersonId"] == "PER1"
    assert r["CohortYearTermDescription"] == "Fall Semester"
    assert r["EducationOrganizationKey"] == "900"


def test_epp_financial_aid_fact_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.epp import epp_financial_aid_fact as v
    rows = v.build(spark, silver, SY).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["CandidateAidKey"] == "C1-61-20230110"
    assert r["CandidateKey"] == "C1"
    assert r["BeginDate"] == "2023-01-10" and r["EndDate"] == ""
    assert r["AidConditionDescription"] == "Need-based"
    assert r["AidType"] == "Grant"
    assert r["AidAmount"] == 1500.0
    assert r["PellGrantRecipient"] == 1
    # quirk parity: the *DateKey columns carry the raw ISO dates
    assert r["BeginDateKey"] == "2023-01-10" and r["EndDateKey"] == ""


def test_evaluation_element_rating_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.epp import (
        evaluation_element_rating_dim as v,
    )
    rows = v.build(spark, silver, SY).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["CandidateKey"] == "C1"
    assert r["EvaluationDate"] == "2023-04-15"
    assert r["EvaluationDateKey"] == "20230415"
    assert r["PerformanceEvaluationTitle"] == "Clinical Eval"
    assert r["EvaluationObjectiveTitle"] == "Instruction"
    assert r["EvaluationElementTitle"] == "Lesson Planning"
    assert r["RatingResultTitle"] == "Pedagogy"
    assert r["EvaluationTitle"] == "Midterm"
    assert r["TermDescriptorId"] == "4" and r["TermDescriptorKey"] == "4"
    assert r["SchoolYear"] == "2023"
    assert r["Rating"] == 3.5


def test_candidate_survey_dim_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.epp import candidate_survey_dim as v
    rows = v.build(spark, silver, SY).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["CandidateSurveyKey"] == "SV1-Q1-R1-PER1"
    assert r["CandidateKey"] == "C1"
    assert r["SurveyTitle"] == "Exit Survey"
    assert r["SurveySectionTitle"] == "Preparation"
    assert r["ResponseDateKey"] == "20230520"
    assert r["QuestionCode"] == "Q1"
    assert r["QuestionText"] == "How prepared are you?"
    assert r["NumericResponse"] == "4"
    assert r["TextResponse"] == "Well prepared"


def test_assessment_fact_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.asmt import assessment_fact as v
    rows = v.build(spark, silver, SY).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["AssessmentFactKey"] == \
        "ACT-MATH-uri://act.org-71-91-3-ALG--92-LS-ALG-1"
    assert r["AssessmentKey"] == "ACT-MATH-uri://act.org"
    assert r["AssessmentIdentifier"] == "ACT-MATH"
    assert r["Namespace"] == "uri://act.org"
    assert r["Title"] == "ACT Math" and r["Version"] == "2023"
    assert r["Category"] == "College Entrance Exam"
    assert r["AssessedGradeLevel"] == "Grade 9"
    assert r["AcademicSubject"] == "Math"
    assert r["ResultDataType"] == "Integer"
    assert r["ReportingMethod"] == "Scale Score"
    assert r["ObjectiveAssessmentKey"] == "ACT-MATH-ALG-uri://act.org"
    assert r["IdentificationCode"] == "ALG"
    assert r["ParentObjectiveAssessmentKey"] == ""
    assert r["ObjectiveAssessmentDescription"] == "Algebra strand"
    assert r["PercentOfAssessment"] == "50"
    assert r["MinScore"] == "1" and r["MaxScore"] == "36"
    assert r["LearningStandard"] == "LS-ALG-1"


def test_student_assessment_fact_golden(spark, silver):
    from api_to_amt_data_lake_spark.amt.asmt import student_assessment_fact as v
    rows = v.build(spark, silver, SY, run_date="2023-09-01").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["StudentAssessmentFactKey"] == \
        "ACT-MATH-uri://act.org-SA-1-91-97-ALG-92-98-STU1-100-20230815"
    assert r["StudentAssessmentKey"] == "ACT-MATH-uri://act.org-SA-1-STU1"
    assert r["StudentObjectiveAssessmentKey"] == \
        "STU1-ALG-ACT-MATH-SA-1-uri://act.org"
    assert r["ObjectiveAssessmentKey"] == "ACT-MATH-ALG-uri://act.org"
    assert r["AssessmentKey"] == "ACT-MATH-uri://act.org"
    assert r["StudentKey"] == "STU1"
    assert r["StudentSchoolKey"] == "STU1-100"
    assert r["SchoolKey"] == "100"
    assert r["AdministrationDate"] == "2023-10-01"
    assert r["AdministrationDateKey"] == "20231001"
    assert r["AssessedGradeLevel"] == "Ninth grade"
    # objective-level values win the cascade ...
    assert r["StudentScore"] == "15"
    assert r["ReportingMethod"] == "Raw score"
    assert r["PerformanceResult"] == "Basic"
    assert r["ResultDataType"] == "Integer"
    # ... while the StudentAssessment* quartet stays assessment-level
    assert r["StudentAssessmentScore"] == "28"
    assert r["StudentAssessmentReportingMethod"] == "Scale score"
    assert r["StudentAssessmentPerformanceResult"] == "Proficient"
    assert r["StudentAssessmentResultDataType"] == "Integer"


def test_run_all_pipeline_smoke(spark, silver, tmp_path):
    """SURVEY.md §5 item 3: end-to-end silver→gold run over every
    registered view — all 41 outputs land as parquet with their contract
    schemas (empty inputs still produce typed files)."""
    from api_to_amt_data_lake_spark.amt import registry
    gold = str(tmp_path / "gold")
    out = registry.run_all(spark, silver, gold, SY, run_date="2023-09-01")
    assert len(out) == 41
    for name, path in out.items():
        df = spark.read.parquet(path)
        expected = list(registry.VIEWS[name].contract.columns)
        assert df.columns == expected, name


def test_collection_parity_counts():
    """View-per-collection counts match the reference's collection files
    (`parquet/amt/*/??*_collection.py`), including the empty engage/qews
    stubs."""
    from api_to_amt_data_lake_spark.amt import registry
    counts = {c: len(registry.views_in(c)) for c in registry.COLLECTIONS}
    assert counts == {
        "asmt": 2, "base": 18, "chrab": 1, "engage": 0, "epp": 8,
        "equity": 5, "ews": 2, "qews": 0, "rls": 5,
    }
    assert sum(counts.values()) == 41


def test_run_all_parallel_matches_sequential(spark, silver, tmp_path):
    """Parallel gold-phase submission (thread pool over independent view
    writes) must produce exactly the outputs of the sequential loop."""
    from api_to_amt_data_lake_spark.amt import registry
    seq_gold = str(tmp_path / "gold_seq")
    par_gold = str(tmp_path / "gold_par")
    seq = registry.run_all(spark, silver, seq_gold, SY, run_date="2023-09-01")
    par = registry.run_all(spark, silver, par_gold, SY, run_date="2023-09-01",
                           parallelism=8)
    assert set(seq) == set(par)
    for name in seq:
        a = spark.read.parquet(seq[name])
        b = spark.read.parquet(par[name])
        assert a.columns == b.columns, name
        key = lambda row: tuple("\0" if v is None else str(v) for v in row)
        ra = sorted(map(tuple, a.collect()), key=key)
        rb = sorted(map(tuple, b.collect()), key=key)
        assert ra == rb, name


def test_run_all_aggregates_failures(spark, silver, tmp_path):
    """One failing view must not discard successful writes or hide
    sibling errors: run_all collects per-view exceptions and raises one
    summary carrying the successful paths in .partial. Nothing is left
    persisted in the session."""
    import pytest

    from api_to_amt_data_lake_spark.amt import registry

    def boom(spark_, silver_root, school_year, run_date=None):
        raise ValueError("injected view failure")

    broken = registry.ViewSpec(
        name="zz_broken_view", collection="base",
        contract=next(iter(registry.VIEWS.values())).contract, build=boom)
    registry.VIEWS["zz_broken_view"] = broken
    try:
        with pytest.raises(RuntimeError, match="zz_broken_view") as ei:
            registry.run_all(spark, silver, str(tmp_path / "gold"), SY,
                             run_date="2023-09-01", parallelism=8)
        assert len(ei.value.partial) == 41  # every real view still landed
        assert not spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    finally:
        del registry.VIEWS["zz_broken_view"]


def test_run_all_skips_dependents_of_failed_upstream(spark, silver, tmp_path,
                                                     monkeypatch):
    """A failed upstream fails the views built on it, by name, without
    building them; every other view still lands in .partial."""
    import dataclasses

    from api_to_amt_data_lake_spark.amt import registry

    def boom(*args, **kwargs):
        raise ValueError("injected upstream failure")

    monkeypatch.setitem(registry.VIEWS, "gradingPeriodDim", dataclasses.replace(
        registry.VIEWS["gradingPeriodDim"], build=boom))
    with pytest.raises(RuntimeError, match="gradingPeriodDim") as ei:
        registry.run_all(spark, silver, str(tmp_path / "gold"), SY,
                         run_date="2023-09-01", parallelism=8)
    msg = str(ei.value)
    assert "gradingPeriodDim: injected upstream failure" in msg
    assert "mostRecentGradingPeriod: upstream gradingPeriodDim failed" in msg
    assert set(ei.value.partial) == set(registry.VIEWS) - {
        "gradingPeriodDim", "mostRecentGradingPeriod"}
    assert len(ei.value.partial) == 39


def test_run_all_dependents_scan_upstream_gold(spark, silver, tmp_path,
                                               monkeypatch):
    """Each dependent's written frame scans every upstream's committed
    gold parquet and holds no cached relation."""
    from api_to_amt_data_lake_spark.amt import registry

    deps = {n: s.deps for n, s in registry.VIEWS.items() if s.deps}
    assert set(deps) == {"mostRecentGradingPeriod", "studentSchoolDim",
                         "equity_StudentHistoryDim"}
    keep = set(deps).union(*deps.values())
    monkeypatch.setattr(registry, "VIEWS", {
        n: s for n, s in registry.VIEWS.items() if n in keep})
    frames = {}  # the frame run_all hands to write_view, per view
    write_view = registry.write_view

    def spy(df, gold_root, name, *args, **kwargs):
        frames[name] = df
        return write_view(df, gold_root, name, *args, **kwargs)

    monkeypatch.setattr(registry, "write_view", spy)
    out = registry.run_all(spark, silver, str(tmp_path / "gold"), SY,
                           run_date="2023-09-01", parallelism=8)
    assert set(out) == keep
    for name, ups in deps.items():
        plan = frames[name]._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan, name
        files = frames[name].inputFiles()
        for up in ups:
            scanned = [f for f in files if f"{out[up]}/part-" in f]
            assert scanned and all(f.endswith(".parquet") for f in scanned), \
                (name, up)


def test_constant_view_writes_one_file(spark, tmp_path):
    """A view whose rows live in its plan is written as one file, not
    one per row."""
    from pathlib import Path

    from api_to_amt_data_lake_spark.amt import registry

    spec = registry.VIEWS["rls_StaffClassificationDescriptorScopeList"]
    path = registry.write_one(spec, spark, str(tmp_path / "silver"),
                              str(tmp_path / "gold"), SY, None, {})
    assert len(list(Path(path).glob("part-*.parquet"))) == 1
    assert spark.read.parquet(path).count() == 3


def test_run_full_pipeline_end_to_end(spark, silver, tmp_path):
    """EP1→EP2 composed: landing (fake REST session) + the 41-view gold
    build per school year through one orchestrator call."""
    from tests.test_sources import CFG, FakeMetadataSession

    from api_to_amt_data_lake_spark.pipeline import run_full_pipeline

    # Land one extra endpoint into the existing silver fixture via the
    # REST client (version-gated), then build gold for the year.
    sess = FakeMetadataSession(
        [{"id": "x1", "v": 1}], [{"name": "Ed-Fi", "version": "4.0.0"}])
    out = run_full_pipeline(
        spark, silver, str(tmp_path / "gold"), [SY],
        cfg=CFG, endpoints=["anExtraEndpoint"], with_deletes=False,
        parallelism=8, run_date="2023-09-01", session=sess)
    assert set(out) == {str(SY)}
    assert len(out[str(SY)]) == 41
    # The landed endpoint reached silver through the same client.
    import pathlib
    landed = pathlib.Path(silver) / str(SY) / "anExtraEndpoint"
    assert any(landed.glob("*.json"))
