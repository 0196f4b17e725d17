"""chrab attendance fact, maintained INCREMENTALLY from silver CDC.

The reference rebuilds all 41 gold views from scratch every hour
(`dagster_config/schedules/schedule.py:8-10`; `README.md:41,68` "every
time the project is executed, all data is requested"), so its cost per
run is the full collection size even when almost nothing changed. This
module converts the repo's most expensive view —
chrab_chronicAbsenteeismAttendanceFact (83 s of the 223 s 1M-student
gold run, GOLD_SCALE_r10_n1000000.json) — to delta-bounded refresh by
wiring the verified IVM fold (`operators/delta_agg.fold_grouped_sums`,
q99zy) into the view's own aggregation state:

- The view's only event-volume-proportional work is the Present/Absence
  crosstab per (student, school, date)
  (`chrab/chronic_absenteeism_attendance_fact.py::_event_counts`).
  That crosstab IS a grouped sum over per-event 0/1 indicators, so it
  is kept as a persisted grouped-sum STATE keyed
  (student, school, date, session-year) and maintained from a CDF of
  the attendance-event collections (`sources/incremental.frame_changes`
  — insert/update/delete rows with old-image columns) in
  O(changes + touched groups), never a re-scan aggregate.
- The rest of the view (enrollment × instructional-day base, year
  filters, flags) is recomputed ONLY for the output keys the fold
  touched (`assemble(..., touched=...)` — a broadcast semi join whose
  key set the runtime bloom filter pushes into the silver scans), then
  spliced into the touched DateKey partitions of the existing gold
  (`amt/incremental_gold.py` owns the splice and the commit order).

Contract (the test `tests/test_chrab_incremental.py` pins it): after any
sequence of attendance-event inserts/updates/deletes followed by
`refresh(...)`, the gold parquet is row-identical to a full
`build(...)` of the view over the current silver.

State layout under `state_root`: `{sch,sec}_state` (folded grouped
sums) and `{sch,sec}_snap` (the per-event indicator snapshot the next
refresh diffs against — at real scale the ODS change-version API
(`sources/rest.py`) supplies the CDF directly and the snapshot diff is
skipped; here the diff is one id-keyed join over (id, 6 narrow cols),
a tiny fraction of the view rebuild it replaces).

Null-key discipline: `fold_grouped_sums` folds state and deltas with a
plain full-outer join, so group keys must never be NULL (a NULL key
would fork a phantom group instead of retracting). Indicator group
columns are therefore stored with an '' sentinel and NULL is restored
when the state is read back into count frames (`counts_from_state`),
preserving `_event_counts`' exact null semantics.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.amt.chrab.chronic_absenteeism_attendance_fact import (
    CONTRACT,
    assemble,
)
from api_to_amt_data_lake_spark.amt.incremental_gold import (
    diff_snapshot,
    gold_path,
    repair_all,
    splice_dates,
    splice_ready,
    stage_state,
    state_paths,
)
from api_to_amt_data_lake_spark.functions.dates import date_key
from api_to_amt_data_lake_spark.operators.delta_agg import fold_grouped_sums
from api_to_amt_data_lake_spark.sources.json_source import read_collection
from api_to_amt_data_lake_spark.sources.lookup import with_descriptor_constant
from api_to_amt_data_lake_spark.sources.parquet_io import commit, swap_write

VIEW_NAME = CONTRACT.name

_GROUP = ["_student", "_school", "_date", "_year"]
_SUMS = ["present", "absence"]
_SIDES = {
    "sch": ("studentSchoolAttendanceEvents",
            "schoolReference.schoolId", "sessionReference.schoolYear"),
    "sec": ("studentSectionAttendanceEvents",
            "sectionReference.schoolId", "sectionReference.schoolYear"),
}


def event_indicators(events: DataFrame, school_col: str,
                     year_col, key_col: str = "id") -> DataFrame:
    """Per-event indicator rows: (_k, group keys, present, absence) —
    the pre-aggregation image of `_event_counts`' conditional counts
    (count(when(cat == X)) ≡ sum of a 0/1 indicator). Group keys are
    ''-coalesced (see module docstring)."""
    parsed = with_descriptor_constant(
        events.select(
            F.col(key_col).cast("string").alias("_k"),
            F.col("studentReference.studentUniqueId").cast("string")
            .alias("_student"),
            F.col(school_col).cast("string").alias("_school"),
            date_key("eventDate").alias("_date"),
            year_col.cast("string").alias("_year"),
            F.col("attendanceEventCategoryDescriptor"),
        ),
        "attendanceEventCategoryDescriptor",
    )
    cat = F.col("attendanceEventCategoryDescriptor_constantName")
    fanned = parsed.select(
        "_k",
        *[F.coalesce(F.col(c), F.lit("")).alias(c) for c in _GROUP],
        (cat == "AttendanceEvent.Present").cast("long").alias("present"),
        (cat == "AttendanceEvent.Absence").cast("long").alias("absence"),
    )
    # The crosswalk join fans one event out to EVERY matching constant
    # (e.g. 'Excused Absence' → Absence + ExcusedAbsence rows);
    # `_event_counts` counts those rows, so the event's exact crosstab
    # contribution is the SUM over its fan-out. Collapse it here so the
    # frame is key-unique — `frame_changes`' full-outer diff requires
    # one row per `_k` (a duplicated key would cross-join old×new
    # images and double-count the fold deltas).
    return fanned.groupBy("_k", *_GROUP).agg(
        F.sum("present").alias("present"),
        F.sum("absence").alias("absence"))


def init_state(ind: DataFrame) -> DataFrame:
    """Grouped-sum state from a full indicator read — identical to
    fold_grouped_sums(None, <all-insert CDF>)."""
    return ind.groupBy(*_GROUP).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(c).alias(f"sum_{c}") for c in _SUMS])


def counts_from_state(state: DataFrame, prefix: str) -> DataFrame:
    """Per-(student, school, date) count frame in `assemble`'s expected
    shape (`_{prefix}_present/_absence/_year` + `_student _school
    _date`), derived from the year-keyed state: counts sum across
    years, the year column is the max non-sentinel year (exactly
    `_event_counts`' max-ignoring-nulls), NULL group keys restored."""
    real_year = F.max(F.when(F.col("_year") != "", F.col("_year")))
    return (
        state.groupBy("_student", "_school", "_date")
        .agg(F.sum("sum_present").alias(f"_{prefix}_present"),
             F.sum("sum_absence").alias(f"_{prefix}_absence"),
             real_year.alias(f"_{prefix}_year"))
        .select(
            *[F.nullif(F.col(c), F.lit("")).alias(c)
              for c in ("_student", "_school", "_date")],
            f"_{prefix}_present", f"_{prefix}_absence", f"_{prefix}_year")
    )


def _read_events(spark, silver_root, school_year, side):
    endpoint, school_col, year_path = _SIDES[side]
    ev = read_collection(spark, silver_root, school_year, endpoint)
    if ev is None:
        return None
    year_col = (F.col(year_path) if year_path.split(".")[0] in ev.columns
                else F.lit(None))
    return event_indicators(ev, school_col, year_col)


def full_build(spark: SparkSession, silver_root: str,
               school_year: str | int, state_root: str, gold_root: str,
               run_date: str | None = None) -> str:
    """Initial (or reset) build: materialize both indicator snapshots
    and grouped-sum states, then the gold view THROUGH the state path
    (counts_from_state), so the fold path is exercised from day one."""
    os.makedirs(state_root, exist_ok=True)
    counts = {}
    for side in _SIDES:
        ind = _read_events(spark, silver_root, school_year, side)
        state_path, snap_path = state_paths(state_root, side)
        if ind is None:
            shutil.rmtree(state_path, ignore_errors=True)
            shutil.rmtree(snap_path, ignore_errors=True)
            counts[side] = None
            continue
        swap_write(ind, snap_path)
        snap = spark.read.parquet(snap_path)
        swap_write(init_state(snap), state_path)
        counts[side] = counts_from_state(
            spark.read.parquet(state_path), side)

    ssa = read_collection(spark, silver_root, school_year,
                          "studentSchoolAssociations")
    cal = read_collection(spark, silver_root, school_year, "calendarDates")
    gold = gold_path(gold_root, school_year, VIEW_NAME)
    if ssa is None or cal is None or "calendarEvents" not in cal.columns:
        view = CONTRACT.empty(spark)
    else:
        view = assemble(spark, ssa, cal, counts["sch"], counts["sec"],
                        run_date)
    os.makedirs(os.path.dirname(gold), exist_ok=True)
    # Gold is hive-partitioned by DateKey: real attendance churn is
    # DATE-CLUSTERED (events land for recent days), so the refresh
    # rewrites only the touched date partitions (`splice_dates`).
    swap_write(view, gold, partition_by="DateKey")
    return gold


def read_gold(spark: SparkSession, gold_root: str,
              school_year: str | int) -> DataFrame:
    """Read the maintained gold back in CONTRACT column order and
    types (`ViewContract.read`)."""
    return CONTRACT.read(spark, gold_path(gold_root, school_year, VIEW_NAME))


def _touched_keys(changes: DataFrame) -> DataFrame:
    """Distinct (StudentKey, SchoolKey, _date) output keys a CDF
    touches: the new-side group of every non-delete row plus the
    old-side group of every non-insert row (an update that moves a
    row between groups must refresh BOTH)."""
    new_side = changes.filter(F.col("_change_type") != "delete").select(
        F.col("_student"), F.col("_school"), F.col("_date"))
    old_side = changes.filter(F.col("_change_type") != "insert").select(
        F.col("_old__student").alias("_student"),
        F.col("_old__school").alias("_school"),
        F.col("_old__date").alias("_date"))
    return (
        new_side.unionAll(old_side).distinct()
        .select(
            F.nullif(F.col("_student"), F.lit("")).alias("StudentKey"),
            F.nullif(F.col("_school"), F.lit("")).alias("SchoolKey"),
            F.nullif(F.col("_date"), F.lit("")).alias("_date"))
    )


def refresh(spark: SparkSession, silver_root: str,
            school_year: str | int, state_root: str, gold_root: str,
            run_date: str | None = None) -> dict:
    """Delta-bounded refresh: diff current silver events against the
    stored indicator snapshots, fold the CDF into the grouped-sum
    states (q99zy's verified algebra), recompute ONLY the touched
    output rows, splice them into gold. Returns per-side change counts
    (all zero = gold untouched). Falls back to `full_build` when the
    state or the partitioned gold has never been materialized."""
    gold = gold_path(gold_root, school_year, VIEW_NAME)
    repair_all(gold, state_root, _SIDES)
    inds = {side: _read_events(spark, silver_root, school_year, side)
            for side in _SIDES}
    required = [p for s, ind in inds.items() if ind is not None
                for p in state_paths(state_root, s)]
    if not splice_ready(gold, required):
        full_build(spark, silver_root, school_year, state_root,
                   gold_root, run_date)
        return {"full_build": True}

    stats: dict = {"full_build": False}
    touched_parts = []
    new_states = {}
    pending: list = []  # (staged, live) dirs, committed after the splice
    for side in _SIDES:
        state_path, snap_path = state_paths(state_root, side)
        changes, stats[side], _ = diff_snapshot(
            spark, inds[side], snap_path, pending)
        state = spark.read.parquet(state_path) if os.path.exists(
            state_path) else None
        if stats[side]:
            state = stage_state(spark, fold_grouped_sums(
                state, changes, _GROUP, _SUMS), state_path, pending)
            touched_parts.append(_touched_keys(changes))
        new_states[side] = state

    if not touched_parts:
        return stats

    touched = touched_parts[0]
    for t in touched_parts[1:]:
        touched = touched.unionAll(t)
    touched = touched.distinct().localCheckpoint()
    stats["touched_keys"] = touched.count()

    ssa = read_collection(spark, silver_root, school_year,
                          "studentSchoolAssociations")
    cal = read_collection(spark, silver_root, school_year, "calendarDates")
    # Prune each state to the touched keys BEFORE deriving the count
    # frames (broadcast semi join on the ''-sentinel keys — the state
    # side never fully shuffles into the view join).
    tk = touched.select(
        F.coalesce("StudentKey", F.lit("")).alias("_student"),
        F.coalesce("SchoolKey", F.lit("")).alias("_school"),
        F.coalesce("_date", F.lit("")).alias("_date"))
    counts = {
        side: (counts_from_state(
            st.join(F.broadcast(tk), ["_student", "_school", "_date"],
                    "left_semi"), side) if st is not None else None)
        for side, st in new_states.items()
    }
    recomputed = assemble(spark, ssa, cal, counts["sch"], counts["sec"],
                          run_date, touched=touched)
    stats["touched_dates"] = splice_dates(spark, gold, CONTRACT,
                                          recomputed, touched)
    commit(pending)
    return stats
