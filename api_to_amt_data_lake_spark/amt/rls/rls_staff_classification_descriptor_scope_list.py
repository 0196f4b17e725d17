"""rls_staff_classification_descriptor_scope_list — authorization-scope
rows of the descriptor-constant crosswalk.

Parity target:
`parquet/amt/rls/rls_staff_classification_descriptor_scope_list/main.py`.
No silver input at all: the view is a filter over the 46-row crosswalk
config (S11) keeping constants whose name contains
`AuthorizationScope.{District,School,Section}` (`main.py:45-52`).

Scale: the filter runs on the driver and the view is a `LocalRelation`
of its rows (`write_view` writes such a frame as one file); no IO, no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from api_to_amt_data_lake_spark.plans.contracts import ViewContract, local_frame
from api_to_amt_data_lake_spark.sources.lookup import _DESCRIPTOR_CONSTANTS

CONTRACT = ViewContract(
    name="rls_StaffClassificationDescriptorScopeList",
    columns=("AuthorizationScopeName", "CodeValue"),
)
_SCOPES = tuple(f"AuthorizationScope.{s}"
                for s in ("District", "School", "Section"))


def build(spark: SparkSession, silver_root: str, school_year: str | int,
          run_date: str | None = None) -> DataFrame:
    return local_frame(spark, CONTRACT.schema(), [
        (name, code) for name, _, code in _DESCRIPTOR_CONSTANTS
        if any(scope in name for scope in _SCOPES)])
