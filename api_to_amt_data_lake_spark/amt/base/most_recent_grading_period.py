"""most_recent_grading_period — max begin-date-key per school.

Parity target: `parquet/amt/base/most_recent_grading_period/main.py:37-42`
— a view-on-view (J11) consuming gradingPeriodDim (its `upstream`),
reduced with A2 max-per-group. Output mirrors the reference's
`.max().to_frame()`: (SchoolKey, GradingPeriodBeginDateKey).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.plans.contracts import ViewContract

CONTRACT = ViewContract(
    name="mostRecentGradingPeriod",
    columns=("SchoolKey", "GradingPeriodBeginDateKey"),
)


def build(spark: SparkSession, silver_root: str, school_year: str | int,
          run_date: str | None = None, *,
          upstream: Mapping[str, DataFrame]) -> DataFrame:
    gp = upstream["gradingPeriodDim"]
    return CONTRACT.conform(
        gp.groupBy("SchoolKey").agg(
            F.max("GradingPeriodBeginDateKey").alias("GradingPeriodBeginDateKey")
        ),
        spark,
    )
