"""Small broadcast lookup tables (SURVEY.md §2.1 S10/S11, §2.7 F18).

These are dimension-side inputs of broadcast joins — never shuffled. The
descriptor-constant crosswalk reproduces the semantic content of the
reference's 46-row config (`helper/descriptor_map/descriptor_map.json`,
consumed by `parquet/Common/descriptor_mapping.py:17-95`); the letter-grade
lookup reproduces the 5-row inline table at
`ews/student_section_grade_fact/main.py:49-57`.

Both are built with `plans.contracts.local_frame`, so each is a
`LocalRelation`: the rows sit in the plan, a join against them starts no
Python-worker task, and the optimizer sees their size, so a join whose
data side is empty folds away at plan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.functions.descriptors import (
    descriptor_code_value,
    descriptor_name,
)
from api_to_amt_data_lake_spark.plans.contracts import local_frame

# (constantName, descriptor, codeValue) — AMT descriptor-constant crosswalk.
_DESCRIPTOR_CONSTANTS: tuple[tuple[str, str, str], ...] = (
    ("Address.Home", "AddressTypeDescriptor", "Home"),
    ("Address.Mailing", "AddressTypeDescriptor", "Mailing"),
    ("Address.Physical", "AddressTypeDescriptor", "Physical"),
    ("Address.Temporary", "AddressTypeDescriptor", "Temporary"),
    ("Address.Work", "AddressTypeDescriptor", "Work"),
    ("AssignmentCategory.Assignment", "Canvas", "Assignment"),
    ("AssignmentCategory.Assignment", "Google", "Assignment"),
    ("AssignmentCategory.Assignment", "Schoology", "Assignment"),
    ("AttendanceEvent.Absence", "AttendanceEventCategoryDescriptor", "Excused Absence"),
    ("AttendanceEvent.Absence", "AttendanceEventCategoryDescriptor", "Unexcused Absence"),
    ("AttendanceEvent.ExcusedAbsence", "AttendanceEventCategoryDescriptor", "Excused Absence"),
    ("AttendanceEvent.Present", "AttendanceEventCategoryDescriptor", "In Attendance"),
    ("AttendanceEvent.Tardy", "AttendanceEventCategoryDescriptor", "Tardy"),
    ("AttendanceEvent.UnexcusedAbsence", "AttendanceEventCategoryDescriptor", "Unexcused Absence"),
    ("AuthorizationScope.District", "StaffClassificationDescriptor", "Superintendent"),
    ("AuthorizationScope.School", "StaffClassificationDescriptor", "Principal"),
    ("AuthorizationScope.Section", "StaffClassificationDescriptor", "Teacher"),
    ("Behavior.SchoolCodeOfConductOffense", "BehaviorDescriptor", "School Code of Conduct"),
    ("Behavior.StateOffense", "BehaviorDescriptor", "State Offense"),
    ("CalendarEvent.InstructionalDay", "CalendarEventDescriptor", "Instructional day"),
    ("CalendarEvent.InstructionalDay", "CalendarEventDescriptor", "Make-up day"),
    ("Email.Personal", "ElectronicMailTypeDescriptor", "Home/Personal"),
    ("Email.Work", "ElectronicMailTypeDescriptor", "Work"),
    ("GradeType.Final", "GradeTypeDescriptor", "Final"),
    ("GradeType.GradingPeriod", "GradeTypeDescriptor", "Grading Period"),
    ("GradeType.Semester", "GradeTypeDescriptor", "Semester"),
    ("SubmissionStatus.IsPastDue", "Canvas", "missing"),
    ("SubmissionStatus.IsPastDue", "Google", "MISSING"),
    ("SubmissionStatus.IsPastDue", "Schoology", "missing"),
    ("SubmissionStatus.SubmittedLate", "Canvas", "late"),
    ("SubmissionStatus.SubmittedLate", "Google", "LATE"),
    ("SubmissionStatus.SubmittedLate", "Schoology", "late"),
    ("SubmissionStatus.SubmittedOnTime", "Canvas", "graded"),
    ("SubmissionStatus.SubmittedOnTime", "Canvas", "on-time"),
    ("SubmissionStatus.SubmittedOnTime", "Google", "RETURNED"),
    ("SubmissionStatus.SubmittedOnTime", "Google", "TURNED_IN"),
    ("SubmissionStatus.SubmittedOnTime", "Schoology", "on-time"),
    ("SubmissionStatus.Upcoming", "Canvas", "Upcoming"),
    ("SubmissionStatus.Upcoming", "Google", "CREATED"),
    ("SubmissionStatus.Upcoming", "Google", "NEW"),
    ("SubmissionStatus.Upcoming", "Google", "RECLAIMED_BY_STUDENT"),
    ("SubmissionStatus.Upcoming", "Schoology", "Upcoming"),
    ("Telephone.Home", "TelephoneNumberTypeDescriptor", "Home"),
    ("Telephone.Mobile", "TelephoneNumberTypeDescriptor", "Mobile"),
    ("Telephone.Work", "TelephoneNumberTypeDescriptor", "Work"),
)


def descriptor_constant_df(spark: SparkSession) -> DataFrame:
    """The crosswalk as a broadcast-side `LocalRelation`."""
    return local_frame(
        spark, "constantName string, descriptor string, codeValue string",
        _DESCRIPTOR_CONSTANTS)


def with_descriptor_constant(df: DataFrame, column: str,
                             keep_unmatched: bool = True) -> DataFrame:
    """F18: parse a descriptor-URI column and attach its AMT constant.

    Adds `{column}_descriptor`, `{column}_codeValue`, `{column}_constantName`.
    Case-insensitive equi-join (J5) against the 46-row crosswalk, broadcast
    (the reference re-joins this per call with a hash merge —
    `descriptor_mapping.py:71-85`; here it's a broadcast-hash join, no
    shuffle of the data side).
    """
    spark = df.sparkSession
    cw = descriptor_constant_df(spark).select(
        F.lower(F.col("descriptor")).alias("_cw_desc"),
        F.lower(F.col("codeValue")).alias("_cw_code"),
        F.col("constantName").alias(f"{column}_constantName"),
    )
    parsed = df.withColumns({
        f"{column}_descriptor": descriptor_name(column),
        f"{column}_codeValue": descriptor_code_value(column),
    })
    joined = parsed.join(
        F.broadcast(cw),
        (F.lower(F.col(f"{column}_descriptor")) == F.col("_cw_desc"))
        & (F.lower(F.col(f"{column}_codeValue")) == F.col("_cw_code")),
        "left" if keep_unmatched else "inner",
    ).drop("_cw_desc", "_cw_code")
    return joined


def letter_grade_lookup_df(spark: SparkSession) -> DataFrame:
    """5-row letter-grade → numeric lookup (S10,
    `ews/student_section_grade_fact/main.py:49-57` inline table), a
    `LocalRelation`."""
    rows = [("A", 95), ("B", 85), ("C", 75), ("D", 65), ("F", 55)]
    return local_frame(
        spark, "LetterGradeEarned string, NumericGradeEarnedJoin bigint", rows)
