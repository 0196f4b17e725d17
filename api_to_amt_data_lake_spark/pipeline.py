"""End-to-end pipeline orchestrator (reference EP1 → EP2 composed).

The reference runs a Dagster job per school year: page every ODS
endpoint to silver JSON, then build the 41 AMT views to gold parquet
(`dagster_config/jobs/job.py`, `parquet/amt_parquet.py:20-41`). This is
that job as a plain function — host scheduling (cron, Airflow, Dagster)
stays out of the engine by design (SURVEY.md §7).

Incremental mode: when `min_change_version` tracking is wanted, land
with change-version params and fold increments via
`sources.incremental.refresh_snapshot` instead of full re-extract; this
orchestrator covers the reference's actual default (full re-extract
each run, `README.md:41,68`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from api_to_amt_data_lake_spark.amt import registry
from api_to_amt_data_lake_spark.amt.incremental_gold import (
    refresh_view_incremental,
)
from api_to_amt_data_lake_spark.session import POOL_WIDTH
from api_to_amt_data_lake_spark.sources.rest import OdsConfig, land_all


def run_full_pipeline(
    spark: SparkSession,
    silver_root: str,
    gold_root: str,
    school_years: list[str | int],
    cfg: OdsConfig | None = None,
    endpoints: list[str] | None = None,
    with_deletes: bool = True,
    parallelism: int | None = POOL_WIDTH,
    run_date: str | None = None,
    session=None,
) -> dict[str, dict[str, str]]:
    """Extract (optional) + build: returns {school_year: {view: path}}.

    With `cfg` set, every endpoint is paged to silver first (EP1, REST
    client with version gate/retries); with cfg=None the silver layer is
    assumed landed (the common test/replay path). `endpoints=None`
    pages the packaged 80-endpoint catalog (`sources/endpoints.py`) —
    the reference's zero-config `api_async` behavior. Gold builds run
    with the parallel writer by default, in dependency levels: a view
    built on other views reads their committed gold (`registry.run_all`).
    """
    out: dict[str, dict[str, str]] = {}
    for year in school_years:
        if cfg is not None:
            land_all(cfg, endpoints, silver_root, year,
                     with_deletes=with_deletes, session=session)
        out[str(year)] = registry.run_all(
            spark, silver_root, gold_root, year,
            run_date=run_date, parallelism=parallelism)
    return out


def run_incremental_refresh(
    spark: SparkSession,
    silver_root: str,
    gold_root: str,
    school_year: str | int,
    changed_keys_by_view: dict[str, tuple[DataFrame, str]],
    run_date: str | None = None,
) -> dict[str, str]:
    """Gold phase of an incremental run.

    After a change-version pull has been folded into silver
    (`sources.incremental.refresh_snapshot`), only the views whose
    sources changed need gold work, and only for the changed natural
    keys: `changed_keys_by_view` maps view name -> (keys DataFrame,
    key column), typically derived from the increment's documents with
    the same key expressions the view itself uses (e.g. dateDim keys =
    `date_key(increment.date)`). Each listed view is splice-refreshed
    (`amt/incremental_gold.py`); unlisted views are untouched. Returns
    {view: gold_path}.

    At 100 TB this is the difference between the reference's hourly
    full rebuild of all 41 views and touching a few thousand rows.
    """
    out: dict[str, str] = {}
    for view, (keys, key_col) in changed_keys_by_view.items():
        out[view] = refresh_view_incremental(
            spark, view, silver_root, gold_root, school_year,
            keys, key_col, run_date=run_date)
    return out
