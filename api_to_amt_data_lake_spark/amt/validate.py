"""Gold-layer validation: the post-build checks a lake operator runs
before pointing analysts at a refresh.

The reference has no analog (its CI is lint-only — BASELINE.md); these
are the standard warehouse invariants over the AMT star schema:

- referential integrity: every NON-BLANK fact/bridge foreign key
  resolves to its dimension (anti join — the violating side is counted,
  never collected),
- key uniqueness: dimension primary keys appear exactly once,
- key completeness: no null/empty primary keys (dimension PKs from
  UNIQUE_KEYS) and no null/empty foreign keys (every RI_CHECKS child FK
  column gets its own blank-count row, so a fact full of null
  SchoolKeys FAILs completeness even though the RI anti join skips
  blank keys by design).

Every check is one distributed count; the driver only collects one
scalar per check. At gold sizes a check's data work is small, and its
cost is fixed per action: planning, job submission and the wait
between jobs. So the checks are built as lazy frames and their counts
are submitted together from a thread pool (`session.pool_map`), which
overlaps that fixed cost instead of paying it once per check in turn.
Only the views a check names are read, once each (a Parquet read
starts a schema job of its own); a gold dir no check names, empty or
not, is never read. Views absent from the gold folder (empty source
collections) are reported as SKIPPED rather than failed — an empty
optional collection is a legal lake state.
"""

from __future__ import annotations

import functools
import operator
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.plans.contracts import local_frame
from api_to_amt_data_lake_spark.session import POOL_WIDTH, pool_map

# (child view, child FK column, parent view, parent key column)
RI_CHECKS: list[tuple[str, str, str, str]] = [
    ("studentSchoolDim", "SchoolKey", "schoolDim", "SchoolKey"),
    ("studentSectionDim", "StudentSchoolKey",
     "studentSchoolDim", "StudentSchoolKey"),
    ("ews_studentSectionGradeFact", "StudentSectionKey",
     "studentSectionDim", "StudentSectionKey"),
    ("ews_studentSectionGradeFact", "SchoolKey", "schoolDim", "SchoolKey"),
    # The attendance facts cover each student's whole enrollment window,
    # so their RI parent is allStudentSchoolDim (every association,
    # including exited ones) — studentSchoolDim is the IsEnrolled == 1
    # subset by reference design, and a student who exited mid-year
    # legitimately keeps fact rows from before the exit. (Found by the
    # r9 100k scale run: 10% synthetic mid-year exits orphaned 201k fact
    # rows against the filtered dim; 0 against the full association set.)
    ("chrab_chronicAbsenteeismAttendanceFact", "StudentSchoolKey",
     "allStudentSchoolDim", "StudentSchoolKey"),
    ("chrab_chronicAbsenteeismAttendanceFact", "SchoolKey",
     "schoolDim", "SchoolKey"),
    ("ews_studentEarlyWarningFact", "StudentKey",
     "allStudentSchoolDim", "StudentKey"),
    ("studentSchoolDemographicsBridge", "StudentSchoolKey",
     "studentSchoolDim", "StudentSchoolKey"),
    ("staffSectionDim", "SchoolKey", "schoolDim", "SchoolKey"),
]

# (view, primary key columns) — must be unique AND non-null/non-empty
UNIQUE_KEYS: list[tuple[str, tuple[str, ...]]] = [
    ("schoolDim", ("SchoolKey",)),
    ("studentSchoolDim", ("StudentSchoolKey",)),
    ("studentSectionDim", ("StudentSectionKey",)),
    ("sectionDim", ("SectionKey",)),
    ("dateDim", ("DateKey",)),
    ("gradingPeriodDim", ("GradingPeriodKey",)),
    ("localEducationAgencyDim", ("LocalEducationAgencyKey",)),
]

REPORT_SCHEMA = ("check string, kind string, status string, "
                 "violations long")


def validate_gold(spark: SparkSession, gold_root: str,
                  school_year: str | int,
                  ri_checks=None, unique_keys=None) -> DataFrame:
    """One report row per check: (check, kind, status, violations) with
    status PASS / FAIL / SKIPPED (view not written). The per-check work
    is a distributed anti join, groupBy or filter; only the violation
    COUNT reaches the driver. Registers no temp view."""
    # `is None` (not `or`): an explicitly-passed empty list means
    # "run no checks of this kind", never "fall back to the defaults".
    ri_checks = RI_CHECKS if ri_checks is None else ri_checks
    unique_keys = UNIQUE_KEYS if unique_keys is None else unique_keys

    year_dir = os.path.join(gold_root, str(school_year))
    named = dict.fromkeys(
        [v for child, _, parent, _ in ri_checks for v in (child, parent)]
        + [view for view, _ in unique_keys])
    present = [v for v in named if os.path.isdir(os.path.join(year_dir, v))]
    views = dict(zip(present, pool_map(
        spark, lambda v: spark.read.parquet(os.path.join(year_dir, v)),
        present, POOL_WIDTH)))

    def blank(col: str):
        return F.col(col).isNull() | (F.trim(F.col(col).cast("string")) == "")

    # (check, kind, violating rows); None rows = SKIPPED
    checks: list[tuple[str, str, DataFrame | None]] = []
    fk_seen: set[tuple[str, str]] = set()
    for child, fk, parent, pk in ri_checks:
        rows, parent_rows = views.get(child), views.get(parent)
        checks.append((
            f"{child}.{fk} -> {parent}.{pk}", "referential",
            None if rows is None or parent_rows is None else
            rows.filter(~blank(fk)).join(
                parent_rows.select(F.col(pk).alias(fk)).distinct(), fk,
                "left_anti")))
        # FK completeness: the RI check above deliberately skips blank
        # keys, so count them here — once per (child, fk) column.
        if (child, fk) not in fk_seen:
            fk_seen.add((child, fk))
            checks.append((f"{child}.{fk} non-null", "completeness",
                           None if rows is None else rows.filter(blank(fk))))

    for view, keys in unique_keys:
        kname = ",".join(keys)
        rows = views.get(view)
        checks.append((
            f"{view}({kname}) unique", "uniqueness",
            None if rows is None else
            rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)))
        checks.append((
            f"{view}({kname}) non-null", "completeness",
            None if rows is None else rows.filter(
                functools.reduce(operator.or_, [blank(k) for k in keys]))))

    counts = iter(pool_map(spark, DataFrame.count,
                           [df for _, _, df in checks if df is not None],
                           POOL_WIDTH))
    report = []
    for name, kind, df in checks:
        n = 0 if df is None else next(counts)
        status = "SKIPPED" if df is None else "FAIL" if n else "PASS"
        report.append((name, kind, status, n))
    return local_frame(spark, REPORT_SCHEMA, report)
