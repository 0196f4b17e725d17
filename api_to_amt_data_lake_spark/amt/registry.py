"""View registry + runner (replaces the reference's sequential collection
loop `parquet/amt_parquet.py:20-41` and parquet-existence memo-cache
`pandasWrapper.py:219-256`).

Views shared by several downstream views (the J11 reuse set, SURVEY.md §4)
are built once and `.cache()`d by the runner instead of round-tripping
through parquet files.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from api_to_amt_data_lake_spark.amt.base import (
    academic_time_period_dim,
    all_student_school_dim,
    class_period_dim,
    contact_person_dim,
    date_dim,
    demographics_dim,
    grading_period_dim,
    local_education_agency_dim,
    most_recent_grading_period,
    school_dim,
    section_dim,
    staff_section_dim,
    student_local_education_agency_demographics_bridge,
    student_local_education_agency_dim,
    student_program_dim,
    student_school_demographics_bridge,
    student_school_dim,
    student_section_dim,
)
from api_to_amt_data_lake_spark.amt.asmt import (
    assessment_fact,
    student_assessment_fact,
)
from api_to_amt_data_lake_spark.amt.chrab import (
    chronic_absenteeism_attendance_fact,
)
from api_to_amt_data_lake_spark.amt.equity import (
    feeder_school_dim,
    student_discipline_action_dim,
    student_history_dim,
    student_program_cohort_dim,
    student_school_food_service_program_dim,
)
from api_to_amt_data_lake_spark.amt.epp import (
    candidate_dim,
    candidate_survey_dim,
    descriptor_dims,
    epp_dim,
    epp_financial_aid_fact,
    evaluation_element_rating_dim,
)
from api_to_amt_data_lake_spark.amt.rls import (
    rls_staff_classification_descriptor_scope_list,
    rls_student_data_authorization,
    rls_user_authorization,
    rls_user_dim,
    rls_user_student_data_authorization,
)
from api_to_amt_data_lake_spark.amt.ews import (
    student_early_warning_fact,
    student_section_grade_fact,
)
from api_to_amt_data_lake_spark.plans.contracts import ViewContract
from api_to_amt_data_lake_spark.session import pool_map
from api_to_amt_data_lake_spark.sources.parquet_io import write_view

BuilderFn = Callable[[SparkSession, str, "str | int", "str | None"], DataFrame]


@dataclass(frozen=True)
class ViewSpec:
    name: str
    collection: str  # asmt | base | chrab | engage | epp | equity | ews | qews | rls
    contract: ViewContract
    build: BuilderFn
    # True for views consumed by other views (J11) — runner caches them.
    shared: bool = False


VIEWS: dict[str, ViewSpec] = {}


def _register(module, collection: str, shared: bool = False) -> None:
    spec = ViewSpec(
        name=module.CONTRACT.name,
        collection=collection,
        contract=module.CONTRACT,
        build=module.build,
        shared=shared,
    )
    VIEWS[spec.name] = spec


_register(date_dim, "base")
_register(grading_period_dim, "base", shared=True)
_register(school_dim, "base", shared=True)
_register(local_education_agency_dim, "base")
_register(class_period_dim, "base")
_register(section_dim, "base")
_register(most_recent_grading_period, "base")
_register(feeder_school_dim, "equity")
_register(staff_section_dim, "base")
_register(student_section_dim, "base", shared=True)
_register(chronic_absenteeism_attendance_fact, "chrab", shared=True)
_register(student_early_warning_fact, "ews")
_register(all_student_school_dim, "base", shared=True)
_register(student_school_dim, "base", shared=True)
_register(contact_person_dim, "base")
_register(student_program_dim, "base")
_register(student_section_grade_fact, "ews")
_register(epp_dim, "epp")
_register(descriptor_dims.race_descriptor_dim, "epp")
_register(descriptor_dims.sex_descriptor_dim, "epp")
_register(descriptor_dims.term_descriptor_dim, "epp")
_register(demographics_dim, "base")
_register(academic_time_period_dim, "base")
_register(student_local_education_agency_dim, "base")
_register(student_program_cohort_dim, "equity")
_register(student_school_food_service_program_dim, "equity")
_register(student_discipline_action_dim, "equity", shared=True)
_register(student_school_demographics_bridge, "base")
_register(student_local_education_agency_demographics_bridge, "base")
_register(student_history_dim, "equity")
_register(rls_staff_classification_descriptor_scope_list, "rls")
_register(rls_student_data_authorization, "rls")
_register(rls_user_dim, "rls")
_register(rls_user_authorization, "rls")
_register(rls_user_student_data_authorization, "rls")
_register(candidate_dim, "epp")
_register(candidate_survey_dim, "epp")
_register(epp_financial_aid_fact, "epp")
_register(evaluation_element_rating_dim, "epp")
_register(assessment_fact, "asmt")
_register(student_assessment_fact, "asmt")


# The reference's nine collections (`parquet/amt_parquet.py:27-36`).
# engage and qews are empty stubs there too
# (`parquet/amt/engage/engage_collection.py:7-8`,
#  `parquet/amt/qews/qews_collection.py:7-8`).
COLLECTIONS: tuple[str, ...] = (
    "asmt", "base", "chrab", "engage", "epp", "equity", "ews", "qews", "rls")


def views_in(collection: str) -> list[str]:
    """View names registered under one collection (may be empty)."""
    return [name for name, spec in VIEWS.items()
            if spec.collection == collection]


def build_view(name: str, spark: SparkSession, silver_root: str,
               school_year: str | int, run_date: str | None = None) -> DataFrame:
    return VIEWS[name].build(spark, silver_root, school_year, run_date)


def run_all(spark: SparkSession, silver_root: str, gold_root: str,
            school_year: str | int, run_date: str | None = None,
            parallelism: int | None = None) -> dict[str, str]:
    """Build and write every registered view; shared upstreams cached.

    Returns {view_name: gold_path}. Unlike the reference's strictly
    sequential loop, each view is an independent lazy plan — Spark
    schedules the writes' stages across all executor cores.

    View-on-view reuse (J11) works through the CacheManager: dependents
    rebuild the upstream's logical plan, and Spark substitutes the cached
    InMemoryRelation on analyzed-plan equality. That makes ordering
    matter: shared views are cached AND materialized (their gold write)
    first, so dependents hit a completed cache instead of racing to
    compute it.

    `parallelism` > 1 submits the remaining views' write jobs from a
    thread pool. A single view rarely saturates the cluster (small dims
    plan a handful of tasks; every job has scheduling/commit dead time),
    so overlapping independent writes raises utilization — the gold
    phase in the reference is strictly serial (`amt_parquet.py:27-36`).
    The pool (`session.pool_map`) runs each view's jobs under the
    caller's job group and description.
    """
    out: dict[str, str] = {}
    cached: list[DataFrame] = []

    shared_specs = [s for s in VIEWS.values() if s.shared]
    rest_specs = [s for s in VIEWS.values() if not s.shared]

    # The unpersist lives in finally: a failed view write must not leak
    # the shared upstreams in the session cache. Per-view failures are
    # collected (not fail-fast) so one bad view neither discards the
    # paths of writes that already succeeded nor hides sibling errors.
    errors: dict[str, Exception] = {}
    try:
        for spec in shared_specs:
            df = spec.build(spark, silver_root, school_year, run_date).cache()
            cached.append(df)
            out[spec.name] = write_view(df, gold_root, spec.name, school_year)

        def one(spec: ViewSpec) -> None:
            try:
                df = spec.build(spark, silver_root, school_year, run_date)
                out[spec.name] = write_view(df, gold_root, spec.name,
                                            school_year)
            except Exception as exc:  # noqa: BLE001 — reported together
                errors[spec.name] = exc

        if parallelism and parallelism > 1:
            pool_map(spark, one, rest_specs, parallelism)
        else:
            for spec in rest_specs:
                one(spec)
    finally:
        for df in cached:
            df.unpersist()
    if errors:
        detail = "; ".join(f"{n}: {e}" for n, e in sorted(errors.items()))
        err = RuntimeError(
            f"{len(errors)} view(s) failed ({len(out)} succeeded — paths "
            f"kept in the exception's .partial attribute): {detail}",
        )
        err.partial = dict(out)
        raise err from next(iter(errors.values()))
    return out
