"""View registry + runner (replaces the reference's sequential collection
loop `parquet/amt_parquet.py:20-41` and parquet-existence memo-cache
`pandasWrapper.py:219-256`).

A view built on other views (J11, SURVEY.md §4) declares them as `deps`;
`run_all` hands it their committed gold, read with their contract schemas
(the scan prunes to the columns used, where a cache encodes every row).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
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
    # Views this one is built on (J11), passed to `build` as `upstream`.
    deps: tuple[str, ...] = ()


VIEWS: dict[str, ViewSpec] = {}


def _register(module, collection: str, deps: tuple[str, ...] = ()) -> None:
    name = module.CONTRACT.name
    assert all(d in VIEWS for d in deps), f"{name}: register its deps first"
    VIEWS[name] = ViewSpec(name, collection, module.CONTRACT, module.build,
                           deps)


_register(date_dim, "base")
_register(grading_period_dim, "base")
_register(school_dim, "base")
_register(local_education_agency_dim, "base")
_register(class_period_dim, "base")
_register(section_dim, "base")
_register(most_recent_grading_period, "base", deps=("gradingPeriodDim",))
_register(feeder_school_dim, "equity")
_register(staff_section_dim, "base")
_register(student_section_dim, "base")
_register(chronic_absenteeism_attendance_fact, "chrab")
_register(student_early_warning_fact, "ews")
_register(all_student_school_dim, "base")
_register(student_school_dim, "base", deps=("allStudentSchoolDim",))
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
_register(student_discipline_action_dim, "equity")
_register(student_school_demographics_bridge, "base")
_register(student_local_education_agency_demographics_bridge, "base")
_register(student_history_dim, "equity", deps=(
    "chrab_chronicAbsenteeismAttendanceFact", "schoolDim", "studentSchoolDim",
    "studentSectionDim", "allStudentSchoolDim",
    "equity_StudentDisciplineActionDim"))
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
    """One view's plan from silver alone: its upstreams are built the
    same way, recursively, instead of read from gold."""
    up = {d: build_view(d, spark, silver_root, school_year, run_date)
          for d in VIEWS[name].deps}
    return _build(VIEWS[name], spark, silver_root, school_year, run_date, up)


def _build(spec, spark, silver_root, school_year, run_date, upstream):
    args = (spark, silver_root, school_year, run_date)
    return spec.build(*args, upstream=upstream) if spec.deps \
        else spec.build(*args)


def write_one(spec: ViewSpec, spark: SparkSession, silver_root: str,
              gold_root: str, school_year: str | int, run_date: str | None,
              written: Mapping[str, str]) -> str:
    """Build one view over its upstreams' committed gold (`written`:
    view → gold path) and write it; returns its gold path."""
    upstream = {d: VIEWS[d].contract.read(spark, written[d])
                for d in spec.deps}
    df = _build(spec, spark, silver_root, school_year, run_date, upstream)
    return write_view(df, gold_root, spec.name, school_year)


def run_all(spark: SparkSession, silver_root: str, gold_root: str,
            school_year: str | int, run_date: str | None = None,
            parallelism: int | None = None) -> dict[str, str]:
    """Build and write every registered view; returns {view: gold_path}.

    Views are written in dependency levels (level 0 has no deps, any
    other view is 1 + the highest level among its deps); a dependent
    reads its upstreams' committed gold (`write_one`). `parallelism` > 1
    runs each level from a thread pool (`session.pool_map`, which keeps
    the caller's job group and description), since one small view rarely
    saturates the cluster; None or 1 runs the same levels sequentially.
    Per-view failures are collected: one bad view neither discards the
    writes that succeeded nor hides sibling errors, and a view whose
    upstream failed is not built, its error naming that upstream.
    """
    out: dict[str, str] = {}
    errors: dict[str, Exception] = {}

    def one(spec: ViewSpec) -> None:
        try:
            failed = [d for d in spec.deps if d not in out]
            if failed:
                raise RuntimeError(f"upstream {', '.join(failed)} failed")
            out[spec.name] = write_one(spec, spark, silver_root, gold_root,
                                       school_year, run_date, out)
        except Exception as exc:  # noqa: BLE001 — reported together
            errors[spec.name] = exc

    level: dict[str, int] = {}
    for spec in VIEWS.values():  # `_register` puts deps first
        level[spec.name] = 1 + max((level[d] for d in spec.deps), default=-1)
    for n in range(max(level.values(), default=-1) + 1):
        batch = [spec for spec in VIEWS.values() if level[spec.name] == n]
        if parallelism and parallelism > 1:
            pool_map(spark, one, batch, parallelism)
        else:
            for spec in batch:
                one(spec)
    if errors:
        detail = "; ".join(f"{n}: {e}" for n, e in sorted(errors.items()))
        err = RuntimeError(
            f"{len(errors)} view(s) failed ({len(out)} succeeded — paths "
            f"kept in the exception's .partial attribute): {detail}")
        err.partial = dict(out)
        raise err from next(iter(errors.values()))
    return out
