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

Every check is one distributed aggregate; the driver only collects one
scalar per check, so the report costs a handful of broadcast-sized anti
joins regardless of lake size. Views absent from the gold folder (empty
source collections) are reported as SKIPPED rather than failed — an
empty optional collection is a legal lake state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.plans.contracts import local_frame
from api_to_amt_data_lake_spark.sources.parquet_io import register_gold_views

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
    is a distributed anti join or groupBy; only the violation COUNT
    reaches the driver."""
    present = set(register_gold_views(spark, gold_root, school_year))
    rows: list[tuple[str, str, str, int]] = []

    def blank(col: str):
        return F.col(col).isNull() | (F.trim(F.col(col).cast("string")) == "")

    # `is None` (not `or`): an explicitly-passed empty list means
    # "run no checks of this kind", never "fall back to the defaults".
    ri_checks = RI_CHECKS if ri_checks is None else ri_checks
    unique_keys = UNIQUE_KEYS if unique_keys is None else unique_keys

    fk_seen: set[tuple[str, str]] = set()
    for child, fk, parent, pk in ri_checks:
        name = f"{child}.{fk} -> {parent}.{pk}"
        if child not in present or parent not in present:
            rows.append((name, "referential", "SKIPPED", 0))
        else:
            orphans = (
                spark.table(child)
                .filter(~blank(fk))
                .join(spark.table(parent)
                      .select(F.col(pk).alias(fk)).distinct(),
                      fk, "left_anti")
                .count()
            )
            rows.append((name, "referential",
                         "PASS" if orphans == 0 else "FAIL", orphans))
        # FK completeness: the RI check above deliberately skips blank
        # keys, so count them here — once per (child, fk) column.
        if (child, fk) in fk_seen:
            continue
        fk_seen.add((child, fk))
        if child not in present:
            rows.append((f"{child}.{fk} non-null", "completeness",
                         "SKIPPED", 0))
        else:
            blanks = spark.table(child).filter(blank(fk)).count()
            rows.append((f"{child}.{fk} non-null", "completeness",
                         "PASS" if blanks == 0 else "FAIL", blanks))

    for view, keys in unique_keys:
        kname = ",".join(keys)
        if view not in present:
            rows.append((f"{view}({kname}) unique", "uniqueness",
                         "SKIPPED", 0))
            rows.append((f"{view}({kname}) non-null", "completeness",
                         "SKIPPED", 0))
            continue
        df = spark.table(view)
        dupes = (
            df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1).count()
        )
        rows.append((f"{view}({kname}) unique", "uniqueness",
                     "PASS" if dupes == 0 else "FAIL", dupes))
        import functools
        nulls = df.filter(functools.reduce(
            lambda a, c: a | c, [blank(k) for k in keys])).count()
        rows.append((f"{view}({kname}) non-null", "completeness",
                     "PASS" if nulls == 0 else "FAIL", nulls))

    return local_frame(spark, REPORT_SCHEMA, rows)
