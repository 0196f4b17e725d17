"""AMT gold-view builders.

Each module mirrors one reference view (`parquet/amt/{collection}/{view}/
main.py`) — same RESULT_COLUMNS contract, same null/date semantics —
re-expressed as a lazy Spark DataFrame build. Views take
(spark, silver_root, school_year, run_date) and return a DataFrame
conforming to their ViewContract; a view built on other views also takes
them as `upstream` (its registry `deps`). Missing input yields a typed
empty frame (reference `helper/data_frame_generation_result.py:8-23`).
"""

from api_to_amt_data_lake_spark.amt.registry import VIEWS, build_view

__all__ = ["VIEWS", "build_view"]
