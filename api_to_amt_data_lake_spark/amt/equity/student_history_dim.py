"""student_history_dim — per-student-school history rollup (grades,
attendance rate, discipline counts, enrollment history).

Parity target: `parquet/amt/equity/student_history_dim/main.py`. This is
the reference's J11 flagship: it consumes SIX other gold views
(`main.py:65-71`, its `upstream`) plus the raw `grades` endpoint. Shape:

- EnrollmentHistory: all_student_school_dim ⋈ school_dim, then the ordered
  string-agg A7 — sort desc (StudentKey, IsEnrolled, ExitWithdrawDateKey,
  EnrollmentHistory) and `' \\n'.join` per student (`main.py:76-125`).
- AttendanceRate: chronic_absenteeism_attendance_fact grouped per
  StudentSchoolKey — A5 count/sum → 100*(enrolled-absent)/enrolled
  (`main.py:127-182`), default 100 when no attendance rows.
- ReferralsAndSuspensions: discipline-action rows counted per
  StudentSchoolKey (A6, `main.py:184-213`), default 0.
- GradeSummary: grades ⋈ student_section_dim on the 7-part
  StudentSectionKey, `CourseTitle: numericGrade`, sorted desc by section
  start date and `'\\n '.join`ed per StudentSchoolKey (`main.py:215-325`).
- Assembly: student_school_dim ⋈ EnrollmentHistory (inner on StudentKey),
  then three left joins on StudentSchoolKey (`main.py:330-395`).

Reference quirks documented, not copied:
- `EnrollmentHistory = SchoolName + ' ' + ExitWithdrawDate if
  len(df['ExitWithdrawDate']) >= 6 else SchoolName` (`main.py:98-101`)
  tests the ROW COUNT, not the string length — we implement the evident
  intent (append the exit date when present).
- The `get_descriptor_constant(...).str.contains('GradeType.Semester')`
  result is computed and discarded (`main.py:289-291`) — no filter applied;
  we apply none.
- Missing ExitWithdrawDate sorts as the literal string 'nan'
  (`pandasWrapper.py:143-144`) — reproduced via coalesce for identical
  group-concat ordering.

Scale: every branch is a groupBy on StudentSchoolKey/StudentKey — the
same shuffle key as the final joins, so AQE coalesces these into a few
co-partitioned exchanges; no fan-out joins, no skew keys (students are
near-uniform).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.functions.dates import date_key
from api_to_amt_data_lake_spark.functions.keys import sk_concat_strict
from api_to_amt_data_lake_spark.operators.aggregates import string_agg_ordered
from api_to_amt_data_lake_spark.plans.contracts import ViewContract
from api_to_amt_data_lake_spark.sources.json_source import read_collection

CONTRACT = ViewContract(
    name="equity_StudentHistoryDim",
    columns=("StudentKey", "StudentSchoolKey", "GradeSummary",
             "CurrentSchoolKey", "AttendanceRate", "ReferralsAndSuspensions",
             "EnrollmentHistory"),
    types={"AttendanceRate": "double", "ReferralsAndSuspensions": "bigint"},
)


def build(spark: SparkSession, silver_root: str, school_year: str | int,
          run_date: str | None = None, *,
          upstream: Mapping[str, DataFrame]) -> DataFrame:
    grades = read_collection(spark, silver_root, school_year, "grades")
    chrab = upstream["chrab_chronicAbsenteeismAttendanceFact"]
    schools = upstream["schoolDim"]
    enrolled = upstream["studentSchoolDim"]
    sections = upstream["studentSectionDim"]
    all_enroll = upstream["allStudentSchoolDim"]
    discipline = upstream["equity_StudentDisciplineActionDim"]

    # --- EnrollmentHistory (`main.py:76-125`) ---
    exit_key = F.coalesce(date_key("ExitWithdrawDate"), F.lit("nan"))
    history_rows = (
        all_enroll.join(schools.select("SchoolKey", "SchoolName"),
                        "SchoolKey", "inner")
        .select(
            "StudentSchoolKey", "StudentKey", "IsEnrolled",
            "ExitWithdrawDate", "SchoolName",
            exit_key.alias("_exit_key"),
            F.when(
                F.col("ExitWithdrawDate").isNotNull()
                & (F.col("ExitWithdrawDate") != ""),
                F.concat_ws(" ", "SchoolName", "ExitWithdrawDate"),
            ).otherwise(F.col("SchoolName")).alias("EnrollmentHistory"),
        )
        .dropDuplicates()
    )
    enrollment_history = string_agg_ordered(
        history_rows, ["StudentKey"], "EnrollmentHistory",
        order_by=["IsEnrolled", "_exit_key", "EnrollmentHistory"],
        sep=" \n", descending=True, out_name="EnrollmentHistory",
    )

    # --- AttendanceRate (`main.py:127-182`) ---
    attendance = chrab.groupBy("StudentSchoolKey").agg(
        F.count("ReportedAsAbsentFromHomeRoom").alias("_days_enrolled"),
        F.sum("ReportedAsAbsentFromHomeRoom").alias("_days_absent"),
    ).select(
        "StudentSchoolKey",
        (F.lit(100.0) * (F.col("_days_enrolled") - F.col("_days_absent"))
         / F.col("_days_enrolled")).alias("AttendanceRate"),
    )

    # --- ReferralsAndSuspensions (`main.py:184-213`) ---
    referrals = discipline.groupBy("StudentSchoolKey").agg(
        F.count(F.lit(1)).alias("ReferralsAndSuspensions"))

    # --- GradeSummary (`main.py:215-325`) ---
    grade_summary = None
    if grades is not None:
        g = grades.select(
            F.col("studentSectionAssociationReference.studentUniqueId")
            .cast("string").alias("_student"),
            F.col("studentSectionAssociationReference.schoolId")
            .cast("string").alias("_school"),
            F.col("studentSectionAssociationReference.localCourseCode")
            .cast("string").alias("_course"),
            F.col("studentSectionAssociationReference.schoolYear")
            .cast("string").alias("_year"),
            F.col("studentSectionAssociationReference.sectionIdentifier")
            .cast("string").alias("_section"),
            F.col("studentSectionAssociationReference.sessionName")
            .cast("string").alias("_session"),
            date_key(F.col("studentSectionAssociationReference.beginDate"))
            .alias("StudentSectionStartDateKey"),
            F.col("numericGradeEarned").cast("string").alias("_grade"),
        ).select(
            sk_concat_strict("_student", "_school", "_course", "_year",
                             "_section", "_session",
                             "StudentSectionStartDateKey")
            .alias("StudentSectionKey"),
            "StudentSectionStartDateKey", "_grade",
        )
        graded = g.join(
            sections.select("StudentSectionKey", "StudentSchoolKey",
                            "CourseTitle"),
            "StudentSectionKey", "inner",
        ).select(
            "StudentSchoolKey", "StudentSectionStartDateKey",
            F.concat_ws(": ", "CourseTitle", "_grade").alias("GradeSummary"),
        )
        grade_summary = string_agg_ordered(
            graded, ["StudentSchoolKey"], "GradeSummary",
            order_by=["StudentSectionStartDateKey"],
            sep="\n ", descending=True, out_name="GradeSummary",
        )

    # --- Assembly (`main.py:330-395`) ---
    result = (
        enrolled.select(
            "StudentKey", "StudentSchoolKey",
            F.col("SchoolKey").cast("string").alias("CurrentSchoolKey"),
        )
        .join(enrollment_history, "StudentKey", "inner")
        .join(attendance, "StudentSchoolKey", "left")
        .join(referrals, "StudentSchoolKey", "left")
    )
    if grade_summary is not None:
        result = result.join(grade_summary, "StudentSchoolKey", "left")
    else:
        result = result.withColumn("GradeSummary", F.lit(None).cast("string"))

    return CONTRACT.conform(
        result.select(
            "StudentKey", "StudentSchoolKey",
            F.coalesce("GradeSummary", F.lit("")).alias("GradeSummary"),
            "CurrentSchoolKey",
            F.coalesce(F.col("AttendanceRate"), F.lit(100.0))
            .alias("AttendanceRate"),
            F.coalesce("ReferralsAndSuspensions", F.lit(0))
            .alias("ReferralsAndSuspensions"),
            "EnrollmentHistory",
        ),
        spark,
    )
