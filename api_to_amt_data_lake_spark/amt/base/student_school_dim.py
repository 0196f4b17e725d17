"""student_school_dim — currently-enrolled subset of all_student_school_dim.

Parity target: `parquet/amt/base/student_school_dim/main.py:48-55` —
a view-on-view (J11) over allStudentSchoolDim (its `upstream`): filter
IsEnrolled == 1 and project the contract columns (AllStudentSchoolKey /
IsEnrolled / ExitWithdrawDate drop out).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.plans.contracts import ViewContract

CONTRACT = ViewContract(
    name="studentSchoolDim",
    columns=(
        "StudentSchoolKey", "StudentKey", "SchoolKey", "SchoolYear",
        "StudentFirstName", "StudentMiddleName", "StudentLastName", "BirthDate",
        "EnrollmentDateKey", "GradeLevel", "LimitedEnglishProficiency",
        "IsHispanic", "Sex", "InternetAccessInResidence",
        "InternetAccessTypeInResidence", "InternetPerformance", "DigitalDevice",
        "DeviceAccess",
    ),
    types={"IsHispanic": "int"},
)


def build(spark: SparkSession, silver_root: str, school_year: str | int,
          run_date: str | None = None, *,
          upstream: Mapping[str, DataFrame]) -> DataFrame:
    alls = upstream["allStudentSchoolDim"]
    return CONTRACT.conform(alls.filter(F.col("IsEnrolled") == 1), spark)
