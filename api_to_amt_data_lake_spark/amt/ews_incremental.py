"""ews studentEarlyWarningFact, maintained INCREMENTALLY from silver CDC.

The second (and heavier) fact converted from the reference's rebuild-
everything-every-hour model to delta-bounded refresh (the chrab
conversion is `amt/chrab_incremental.py`; see its docstring for the
shared motivation and the null-key sentinel discipline). ews adds the
two IVM shapes chrab didn't need:

- A MAINTAINED JOIN AGGREGATE: the discipline counts are a crosstab
  over incidents ⋈ behaviorAssociations. CDC can hit EITHER side, so
  the count state is folded from the SIGNED join delta
  (`operators/delta_agg.delta_join_signed` — the bilinear
  (A+dA)⋈(B+dB) expansion with sign products, generalizing q99zzl's
  insert-only increment to updates and deletes) through
  `fold_grouped_sums_signed`. Cost tracks the deltas' match fan-out,
  never |incidents| × |behaviors|.
- A NON-FOLDABLE AGGREGATE ON TOP OF A FOLDABLE STATE: the section
  per-day flags are a group-MAX over (assoc ⋈ per-section crosstab).
  Max does not fold under deletes, so the per-SECTION crosstab is kept
  as a foldable grouped-sum state and the per-day max is RECOMPUTED,
  but only for the touched (student, school, day) groups — O(touched
  groups' section rows), never the collection.

Maintained inputs (CDC via id-keyed indicator-snapshot diff, exactly
chrab's discipline; at real scale the change-version API supplies the
CDF directly): studentSchoolAttendanceEvents,
studentSectionAttendanceEvents, studentSectionAssociations,
disciplineIncidents, studentDisciplineIncidentBehaviorAssociations.
Enrollment (studentSchoolAssociations) and calendarDates changes are
OUT of the incremental contract — same as chrab — and require a
`full_build` (they reshape the base, not the counts).

Contract (tests/test_ews_incremental.py): after any sequence of
inserts/updates/deletes on the five maintained collections followed by
`refresh(...)`, the gold parquet is row-identical to a full `build(...)`
over the current silver.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.amt.ews.student_early_warning_fact import (
    CONTRACT,
    SEC_KEYS,
    assemble,
    section_day_flags,
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
from api_to_amt_data_lake_spark.operators.delta_agg import (
    delta_join_signed,
    fold_grouped_sums,
    fold_grouped_sums_signed,
    grouped_sums,
    signed_changes,
)
from api_to_amt_data_lake_spark.sources.json_source import read_collection
from api_to_amt_data_lake_spark.sources.lookup import with_descriptor_constant
from api_to_amt_data_lake_spark.sources.parquet_io import commit, swap_write

VIEW_NAME = CONTRACT.name

_SCH_GROUP = ["_school", "_student", "_evdate"]
_SCH_SUMS = ["p", "ea", "ua", "t"]
_SEC_GROUP = SEC_KEYS + ["_evdate", "_env"]
_DISC_GROUP = ["_school", "_student", "_incdate"]
_DISC_SUMS = ["soff", "coff"]

_SCH_RENAME = {"sum_p": "IsPresentSchool",
               "sum_ea": "IsAbsentFromSchoolExcused",
               "sum_ua": "IsAbsentFromSchoolUnexcused",
               "sum_t": "IsTardyToSchool"}
_SEC_RENAME = {"sum_p": "IsPresentAnyClass",
               "sum_ea": "IsAbsentFromAnyClassExcused",
               "sum_ua": "IsAbsentFromAnyClassUnexcused",
               "sum_t": "IsTardyToAnyClass"}
_DISC_RENAME = {"sum_soff": "CountByDayOfStateOffenses",
                "sum_coff": "CountByDayOfConductOffenses"}


def _sent(c):
    return F.coalesce(F.col(c).cast("string"), F.lit(""))


def _unsent(c):
    return F.nullif(F.col(c), F.lit("")).alias(c)


def sch_indicators(school_ev: DataFrame) -> DataFrame:
    """Per-event indicator rows for the school-attendance crosstab
    (crosswalk CONSTANTS → fan-out collapsed per event id, the chrab
    lesson: frame_changes needs key-unique frames and an event's exact
    crosstab contribution is the SUM over its crosswalk fan-out)."""
    parsed = with_descriptor_constant(
        school_ev.select(
            F.col("id").cast("string").alias("_k"),
            F.col("schoolReference.schoolId").cast("string")
            .alias("_school"),
            F.col("studentReference.studentUniqueId").cast("string")
            .alias("_student"),
            F.col("eventDate").cast("string").alias("_evdate"),
            F.col("attendanceEventCategoryDescriptor"),
        ),
        "attendanceEventCategoryDescriptor",
    )
    cat = F.col("attendanceEventCategoryDescriptor_constantName")
    fanned = parsed.select(
        "_k", *[_sent(c).alias(c) for c in _SCH_GROUP],
        (cat == "AttendanceEvent.Present").cast("long").alias("p"),
        (cat == "AttendanceEvent.ExcusedAbsence").cast("long").alias("ea"),
        (cat == "AttendanceEvent.UnexcusedAbsence").cast("long")
        .alias("ua"),
        (cat == "AttendanceEvent.Tardy").cast("long").alias("t"),
    )
    return fanned.groupBy("_k", *_SCH_GROUP).agg(
        *[F.sum(c).alias(c) for c in _SCH_SUMS])


def sec_indicators(section_ev: DataFrame) -> DataFrame:
    """Per-event indicator rows for the section crosstab (RAW code
    values — a 1:1 parse, no crosswalk fan-out, so rows are id-unique
    as written; the silver id-uniqueness contract applies)."""
    from api_to_amt_data_lake_spark.functions.descriptors import (
        descriptor_code_value,
    )

    ev = section_ev.select(
        F.col("id").cast("string").alias("_k"),
        F.col("sectionReference.localCourseCode").alias("_lcc"),
        F.col("sectionReference.schoolId").cast("string").alias("_school"),
        F.col("sectionReference.schoolYear").cast("string").alias("_year"),
        F.col("sectionReference.sectionIdentifier").alias("_sid"),
        F.col("sectionReference.sessionName").alias("_sess"),
        F.col("studentReference.studentUniqueId").cast("string")
        .alias("_student"),
        F.col("eventDate").cast("string").alias("_evdate"),
        descriptor_code_value("attendanceEventCategoryDescriptor")
        .alias("_cat"),
        (F.col("educationalEnvironmentDescriptor")
         if "educationalEnvironmentDescriptor" in section_ev.columns
         else F.lit(None).cast("string")).alias("_env"),
    )
    cat = F.col("_cat")
    return ev.select(
        "_k", *[_sent(c).alias(c) for c in _SEC_GROUP],
        (cat == "In Attendance").cast("long").alias("p"),
        (cat == "Excused Absence").cast("long").alias("ea"),
        (cat == "Unexcused Absence").cast("long").alias("ua"),
        (cat == "Tardy").cast("long").alias("t"),
    )


def assoc_snapshot(section_assoc: DataFrame) -> DataFrame:
    """Id-keyed image of the section associations (the homeroom side of
    the per-day max) — sentinel section keys so they join the sentinel-
    keyed sec state directly."""
    a = section_assoc.select(F.col("id").cast("string").alias("_k"),
                             F.col("sectionReference.localCourseCode")
                             .alias("_lcc"),
                             F.col("sectionReference.schoolId")
                             .cast("string").alias("_school"),
                             F.col("sectionReference.schoolYear")
                             .cast("string").alias("_year"),
                             F.col("sectionReference.sectionIdentifier")
                             .alias("_sid"),
                             F.col("sectionReference.sessionName")
                             .alias("_sess"),
                             F.col("studentReference.studentUniqueId")
                             .cast("string").alias("_student"),
                             (F.col("homeroomIndicator")
                              if "homeroomIndicator"
                              in section_assoc.columns
                              else F.lit(None).cast("boolean"))
                             .alias("_homeroom"))
    return a.select("_k", *[_sent(c).alias(c) for c in SEC_KEYS],
                    "_homeroom")


def inc_snapshot(incidents: DataFrame) -> DataFrame:
    """Id-keyed incident images (the un-fanned side of the discipline
    join — same projection as `incident_frame` plus the CDC key)."""
    return incidents.select(
        F.col("id").cast("string").alias("_k"),
        F.col("schoolReference.schoolId").cast("string").alias("_school"),
        F.col("incidentIdentifier").alias("_incident"),
        F.col("incidentDate").cast("string").alias("_incdate"),
    )


def beh_snapshot(behavior: DataFrame) -> DataFrame:
    """Id-keyed behavior images with crosswalk-collapsed offense
    indicators (the fan-out lives on THIS side of the discipline join,
    so collapsing per id here makes every downstream join row carry the
    association's exact crosstab contribution)."""
    parsed = with_descriptor_constant(
        behavior.select(
            F.col("id").cast("string").alias("_k"),
            F.col("disciplineIncidentReference.incidentIdentifier")
            .alias("_incident"),
            F.col("disciplineIncidentReference.schoolId").cast("string")
            .alias("_school"),
            F.col("studentReference.studentUniqueId").cast("string")
            .alias("_student"),
            F.col("behaviorDescriptor"),
        ),
        "behaviorDescriptor",
    )
    cat = F.col("behaviorDescriptor_constantName")
    fanned = parsed.select(
        "_k", "_incident", "_school", "_student",
        (cat == "Behavior.StateOffense").cast("long").alias("soff"),
        (cat == "Behavior.SchoolCodeOfConductOffense").cast("long")
        .alias("coff"),
    )
    return fanned.groupBy("_k", "_incident", "_school", "_student").agg(
        *[F.sum(c).alias(c) for c in _DISC_SUMS])


def _counts_from_state(state: DataFrame, group: list[str],
                       rename: dict[str, str],
                       date_alias: str) -> DataFrame:
    """State → the view's count-frame shape: sums renamed to the flag
    columns, sentinel NULLs restored, the date key aliased to what the
    view join expects."""
    out = state.select(
        *[_unsent(c) for c in group],
        *[F.col(s).alias(r) for s, r in rename.items()])
    if date_alias != "_evdate" and "_evdate" in out.columns:
        out = out.withColumnRenamed("_evdate", date_alias)
    return out


def _per_day_from(sec_state: DataFrame, assoc: DataFrame) -> DataFrame:
    """The per-day homeroom/any-class max, recomputed from the
    maintained per-section count state (max is not delete-foldable;
    callers restrict `sec_state` to the touched groups first). Key
    NULLs are restored so the assoc join and the day grouping carry
    the original frames' null semantics."""
    ev_ct = sec_state.select(
        *[_unsent(c) for c in _SEC_GROUP],
        *[F.col(s).alias(r) for s, r in _SEC_RENAME.items()])
    a = assoc.select(*[_unsent(c) for c in SEC_KEYS], "_homeroom")
    return section_day_flags(ev_ct, a)


_SNAPS = ("sch", "sec", "assoc", "inc", "beh")


def _read_snapshots(spark, silver_root, school_year):
    """Current silver → the five id-keyed snapshot frames (None for a
    missing collection)."""
    def rc(endpoint):
        return read_collection(spark, silver_root, school_year, endpoint)

    sch = rc("studentSchoolAttendanceEvents")
    sec = rc("studentSectionAttendanceEvents")
    assoc = rc("studentSectionAssociations")
    inc = rc("disciplineIncidents")
    beh = rc("studentDisciplineIncidentBehaviorAssociations")
    return {
        "sch": sch_indicators(sch) if sch is not None else None,
        "sec": sec_indicators(sec) if sec is not None else None,
        "assoc": assoc_snapshot(assoc) if assoc is not None else None,
        "inc": inc_snapshot(inc) if inc is not None else None,
        "beh": beh_snapshot(beh) if beh is not None else None,
    }


def _disc_state_full(inc: DataFrame, beh: DataFrame) -> DataFrame:
    joined = inc.drop("_k").join(beh.drop("_k"),
                                 ["_school", "_incident"], "inner")
    rows = joined.select(
        *[_sent(c).alias(c) for c in _DISC_GROUP], *_DISC_SUMS)
    return grouped_sums(rows, _DISC_GROUP, _DISC_SUMS)


def full_build(spark: SparkSession, silver_root: str,
               school_year: str | int, state_root: str, gold_root: str,
               run_date: str | None = None) -> str:
    """Initial (or reset) build: materialize the snapshots and states,
    then the gold view THROUGH the state path."""
    os.makedirs(state_root, exist_ok=True)
    snaps = _read_snapshots(spark, silver_root, school_year)
    mat = {}
    for name, df in snaps.items():
        state_path, snap_path = state_paths(state_root, name)
        if df is None:
            shutil.rmtree(state_path, ignore_errors=True)
            shutil.rmtree(snap_path, ignore_errors=True)
            mat[name] = None
            continue
        swap_write(df, snap_path)
        mat[name] = spark.read.parquet(snap_path)
    for name, group, sums in (("sch", _SCH_GROUP, _SCH_SUMS),
                              ("sec", _SEC_GROUP, _SCH_SUMS)):
        if mat[name] is None:
            continue
        swap_write(grouped_sums(mat[name].drop("_k"), group, sums),
                   state_paths(state_root, name)[0])
    disc_path = state_paths(state_root, "disc")[0]
    if mat["inc"] is not None and mat["beh"] is not None:
        swap_write(_disc_state_full(mat["inc"], mat["beh"]), disc_path)
    else:
        shutil.rmtree(disc_path, ignore_errors=True)

    gold = gold_path(gold_root, school_year, VIEW_NAME)
    os.makedirs(os.path.dirname(gold), exist_ok=True)
    view = _assemble_from_states(spark, silver_root, school_year,
                                 state_root, run_date)
    swap_write(view, gold, partition_by="DateKey")
    return gold


def read_gold(spark: SparkSession, gold_root: str,
              school_year: str | int) -> DataFrame:
    """Contract-ordered read of the maintained gold
    (`ViewContract.read`)."""
    return CONTRACT.read(spark, gold_path(gold_root, school_year, VIEW_NAME))


def _state(spark, state_root, name):
    p = state_paths(state_root, name)[0]
    return spark.read.parquet(p) if os.path.exists(p) else None


def _snap(spark, state_root, name):
    p = state_paths(state_root, name)[1]
    return spark.read.parquet(p) if os.path.exists(p) else None


def _assemble_from_states(spark, silver_root, school_year, state_root,
                          run_date, touched=None,
                          states: dict | None = None) -> DataFrame:
    ssa = read_collection(spark, silver_root, school_year,
                          "studentSchoolAssociations")
    cal = read_collection(spark, silver_root, school_year,
                          "calendarDates")
    if ssa is None or cal is None or "calendarEvents" not in cal.columns:
        return CONTRACT.empty(spark)
    states = states or {}

    def st(name):
        return states.get(name, _state(spark, state_root, name))

    def sp(name):
        return states.get(f"{name}_snap",
                          _snap(spark, state_root, name))

    sch_state, sec_state, disc_state = st("sch"), st("sec"), st("disc")
    assoc = sp("assoc")
    if touched is not None:
        tk = F.broadcast(touched.select(
            _sent("StudentKey").alias("_student"),
            _sent("SchoolKey").alias("_school"),
            _sent("_date").alias("_evdate")).distinct())
        if sch_state is not None:
            sch_state = sch_state.join(tk, _SCH_GROUP, "left_semi")
        if sec_state is not None:
            sec_state = sec_state.join(
                tk, ["_student", "_school", "_evdate"], "left_semi")
        if disc_state is not None:
            disc_state = disc_state.join(
                tk.withColumnRenamed("_evdate", "_incdate"),
                _DISC_GROUP, "left_semi")
    sch_ct = (_counts_from_state(sch_state, _SCH_GROUP, _SCH_RENAME,
                                 "_evdate")
              if sch_state is not None else None)
    per_day = (_per_day_from(sec_state, assoc)
               if sec_state is not None and assoc is not None else None)
    disc_ct = (_counts_from_state(disc_state, _DISC_GROUP,
                                  _DISC_RENAME, "_incdate")
               if disc_state is not None else None)
    return assemble(spark, ssa, cal, sch_ct, per_day, disc_ct,
                    run_date, touched=touched)


def _images(changes: DataFrame, cols: list[str]) -> DataFrame:
    """Both CDF images' group keys (new for non-delete, old for
    non-insert) — the touched-key domain of a diff."""
    new_side = changes.filter(F.col("_change_type") != "delete") \
        .select(*[F.col(c) for c in cols])
    old_side = changes.filter(F.col("_change_type") != "insert") \
        .select(*[F.col(f"_old_{c}").alias(c) for c in cols])
    return new_side.unionAll(old_side)


def refresh(spark: SparkSession, silver_root: str,
            school_year: str | int, state_root: str, gold_root: str,
            run_date: str | None = None) -> dict:
    """Delta-bounded refresh of the five maintained collections: diff
    each against its snapshot, fold the two attendance count states
    (CDF path) and the discipline state (signed join-delta path),
    recompute the per-day section max and the view rows for the
    touched (student, school, day) keys only, splice into gold.
    Returns per-source change counts; falls back to `full_build` when
    state or the partitioned gold has never been materialized."""
    gold = gold_path(gold_root, school_year, VIEW_NAME)
    repair_all(gold, state_root, _SNAPS + ("disc",))
    snaps_now = _read_snapshots(spark, silver_root, school_year)
    required = [state_paths(state_root, n)[1]
                for n, df in snaps_now.items() if df is not None]
    if not splice_ready(gold, required):
        full_build(spark, silver_root, school_year, state_root,
                   gold_root, run_date)
        return {"full_build": True}

    stats: dict = {"full_build": False}
    pending: list = []  # (staged, live) dirs, committed after the splice
    diffs: dict[str, DataFrame | None] = {}
    news: dict[str, DataFrame | None] = {}
    for name, df in snaps_now.items():
        changes, stats[name], news[name] = diff_snapshot(
            spark, df, state_paths(state_root, name)[1], pending)
        diffs[name] = changes if stats[name] else None
    if not any(diffs[n] is not None for n in _SNAPS):
        return stats

    touched_parts = []
    states: dict = {}

    # Attendance count states: the CDF fold (q99zy algebra).
    for name, group, sums in (("sch", _SCH_GROUP, _SCH_SUMS),
                              ("sec", _SEC_GROUP, _SCH_SUMS)):
        ch = diffs[name]
        if ch is None:
            continue
        states[name] = stage_state(
            spark, fold_grouped_sums(_state(spark, state_root, name), ch,
                                     group, sums),
            state_paths(state_root, name)[0], pending)
        touched_parts.append(_images(ch, ["_student", "_school",
                                          "_evdate"]))

    # Discipline state: signed join delta (either side may change).
    if diffs["inc"] is not None or diffs["beh"] is not None:
        inc_old = _snap(spark, state_root, "inc").drop("_k")
        beh_old = _snap(spark, state_root, "beh").drop("_k")
        zero_inc = inc_old.limit(0).withColumn("_sgn", F.lit(1))
        zero_beh = beh_old.limit(0).withColumn("_sgn", F.lit(1))
        d_inc = (signed_changes(diffs["inc"],
                                ["_school", "_incident", "_incdate"])
                 if diffs["inc"] is not None else zero_inc)
        d_beh = (signed_changes(diffs["beh"],
                                ["_school", "_incident", "_student"]
                                + _DISC_SUMS)
                 if diffs["beh"] is not None else zero_beh)
        delta = delta_join_signed(inc_old, d_inc, beh_old, d_beh,
                                  ["_school", "_incident"])
        delta = delta.select(
            *[_sent(c).alias(c) for c in _DISC_GROUP],
            *_DISC_SUMS, "_sgn").localCheckpoint()
        states["disc"] = stage_state(
            spark, fold_grouped_sums_signed(
                _state(spark, state_root, "disc"), delta, _DISC_GROUP,
                _DISC_SUMS),
            state_paths(state_root, "disc")[0], pending)
        touched_parts.append(delta.select(
            "_student", "_school",
            F.col("_incdate").alias("_evdate")))

    # Assoc changes touch every day the (section, student) has events:
    # probe the sec state with the changed section keys.
    if diffs["assoc"] is not None:
        keys = _images(diffs["assoc"], SEC_KEYS).distinct()
        sec_state = states.get("sec", _state(spark, state_root, "sec"))
        if sec_state is not None:
            touched_parts.append(
                sec_state.join(F.broadcast(keys), SEC_KEYS, "left_semi")
                .select("_student", "_school", "_evdate"))
        states["assoc_snap"] = news["assoc"]

    if touched_parts:
        touched = touched_parts[0]
        for t in touched_parts[1:]:
            touched = touched.unionAll(t)
        touched = (touched.distinct()
                   .select(_unsent("_student"), _unsent("_school"),
                           _unsent("_evdate"))
                   .withColumnsRenamed({"_student": "StudentKey",
                                        "_school": "SchoolKey",
                                        "_evdate": "_date"})
                   .localCheckpoint())
        stats["touched_keys"] = touched.count()
        recomputed = _assemble_from_states(
            spark, silver_root, school_year, state_root, run_date,
            touched=touched, states=states)
        stats["touched_dates"] = splice_dates(spark, gold, CONTRACT,
                                              recomputed, touched)
    # Without touched keys (e.g. an assoc change matching no events)
    # the states and snapshots still commit.
    commit(pending)
    return stats
