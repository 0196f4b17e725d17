"""Gold-side incremental view maintenance.

`sources/incremental.py` keeps the SILVER layer current without full
re-extracts; this module closes the remaining loop at the GOLD layer:
when a change-version pull reports which natural keys changed (new,
updated, or tombstoned), a view can be refreshed by recomputing ONLY
the rows of those keys and splicing them with the carried-over rows of
the existing gold parquet — instead of the reference's rebuild-
everything-every-hour (`parquet/amt_parquet.py:27-36` rebuilds all 41
views unconditionally each run).

Semantics (the contract the test asserts):
    refresh(changed) == full rebuild, whenever `changed` is a superset
    of the keys whose output rows actually differ.
Deleted keys fall out naturally: the recomputed slice no longer emits
them and the anti-join removes their old rows.

Scale shape: the recomputed slice is `view ⋉ changed_keys` — the semi
join broadcasts the (small) changed-key set, and with runtime bloom
filters enabled (`session.py`) the key filter is pushed into the
silver scans feeding the view, so compute is proportional to the
change set, not the collection. The carry-over side scans the existing
gold once with a broadcast anti join.

The refresh steps of the maintained facts (`chrab_incremental`,
`ews_incremental`) live here too: `diff_snapshot` turns a silver image
into a CDF against its stored snapshot, `stage_state` queues a folded
state, and `splice_dates` rewrites only the touched DateKey partitions
of a fact's gold.

Commit protocol (`sources/parquet_io.py`). Every scratch dir sits
beside the live dir it replaces, with a suffix from
`parquet_io.SCRATCH_SUFFIXES`: `swap_write`'s temp write and the live
dir it sets aside, a splice's `.stage` write, and a state or snapshot
staged as `.next`. A fact refresh commits in one order: the touched
gold partitions first, then the staged snapshots and states. A rerun
repairs a crash that comes before the first snapshot or state has
moved in: `repair` restores a live dir (gold, a gold partition, a
snapshot or a state) from its set-aside copy, stale scratch dirs are
cleared before they are rewritten, and because no snapshot has moved
in yet, the rerun re-detects the same changes and re-splices identical
rows (a touched key's gold rows are replaced, never accumulated). The
snapshot and state moves are not atomic as a group: a crash between
two of them leaves a state that disagrees with its snapshot, which
only a `full_build` corrects.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.amt import registry
from api_to_amt_data_lake_spark.sources.incremental import frame_changes
from api_to_amt_data_lake_spark.sources.parquet_io import (
    commit,
    repair,
    swap_write,
)


def refresh_view_incremental(
    spark: SparkSession,
    name: str,
    silver_root: str,
    gold_root: str,
    school_year: str | int,
    changed_keys: DataFrame,
    key_col: str,
    run_date: str | None = None,
) -> str:
    """Refresh one gold view for the given changed natural keys.

    `changed_keys` is a one-column DataFrame (column name = `key_col`)
    of keys to recompute. Returns the gold path. If the view has never
    been written, falls back to a full build-and-write.
    """
    path = gold_path(gold_root, school_year, name)
    fresh = registry.build_view(name, spark, silver_root, school_year,
                                run_date)
    if os.path.exists(path):
        keys = F.broadcast(changed_keys.select(key_col).distinct())
        recomputed = fresh.join(keys, key_col, "left_semi")
        carried = spark.read.parquet(path).join(keys, key_col, "left_anti")
        fresh = carried.unionByName(recomputed)
    swap_write(fresh, path)
    return path


def gold_path(gold_root: str, school_year: str | int, name: str) -> str:
    return os.path.join(gold_root, str(school_year), name)


def state_paths(state_root: str, name: str) -> tuple[str, str]:
    """The (folded state, id-keyed snapshot) dirs of one source."""
    return (os.path.join(state_root, f"{name}_state"),
            os.path.join(state_root, f"{name}_snap"))


def repair_all(gold: str, state_root: str, names) -> None:
    """Heal a crashed commit of a fact's gold and of every source's
    state and snapshot (see the module docstring)."""
    repair(gold)
    for name in names:
        for p in state_paths(state_root, name):
            repair(p)


def splice_ready(gold: str, required: list[str]) -> bool:
    """True when `gold` is DateKey-partitioned (no parquet file at its
    top level) and every `required` state dir exists; otherwise a fact
    refresh falls back to its `full_build`, which rewrites the gold
    partitioned."""
    return (os.path.isdir(gold)
            and not any(f.endswith(".parquet") for f in os.listdir(gold))
            and all(os.path.exists(p) for p in required))


def stage_state(spark: SparkSession, df: DataFrame, live: str,
                pending: list) -> DataFrame:
    """Write `df` as `live`'s `.next`, queue it for `commit` and return
    it read back (a fold reads the live dir, so it cannot be written in
    place)."""
    staged = live + ".next"
    shutil.rmtree(staged, ignore_errors=True)
    df.write.parquet(staged)
    pending.append((staged, live))
    return spark.read.parquet(staged)


def diff_snapshot(spark: SparkSession, current: DataFrame | None,
                  snap_path: str, pending: list):
    """CDF of one source's id-keyed image (`_k` + value columns; None
    when the source is missing from silver) against its snapshot.

    The image is staged as the snapshot's `.next` — the one scan of its
    silver source per refresh — and read back. Returns
    `(changes, count, image)`, with every non-`_k` column compared and
    the old image carried (`include_old`). A non-empty diff queues the
    staged snapshot for `commit` (a missing source's snapshot is then
    removed); an empty one drops it. `(None, 0, None)` when neither the
    source nor its snapshot exists."""
    has_snap = os.path.exists(snap_path)
    if current is None and not has_snap:
        return None, 0, None
    old = spark.read.parquet(snap_path) if has_snap else current.limit(0)
    staged = snap_path + ".next"
    shutil.rmtree(staged, ignore_errors=True)
    if current is None:
        cur = old.limit(0)
    else:
        current.write.parquet(staged)
        cur = spark.read.parquet(staged)
    cols = [c for c in cur.columns if c != "_k"]
    changes = frame_changes(old, cur, "_k", compare_cols=cols,
                            include_old=True).localCheckpoint()
    n = changes.count()  # the diff is reused: count, fold, touched keys
    if n:
        pending.append((staged, snap_path))
    else:
        shutil.rmtree(staged, ignore_errors=True)
    return changes, n, cur


def splice_dates(spark: SparkSession, gold: str, contract,
                 recomputed: DataFrame, touched: DataFrame) -> int:
    """Replace the gold rows of the `touched` (StudentKey, SchoolKey,
    _date) keys with `recomputed`, rewriting only the touched DateKey
    partitions: real attendance churn is date-clustered, so every other
    date's files are never opened. Returns the number of touched dates.

    NULL-key gold rows are invariant under event CDC (an event with a
    NULL group key never equi-joins a base row), so the plain-equality
    anti join leaves them in place."""
    date_key = F.substring(F.regexp_replace("_date", "-", ""), 1, 8) \
        .alias("DateKey")
    dates = sorted({r[0] for r in touched.select(date_key).distinct()
                    .collect() if r[0] is not None})
    parts = [os.path.join(gold, f"DateKey={d}") for d in dates]
    for p in parts:
        repair(p)
    keys = F.broadcast(touched.select("StudentKey", "SchoolKey", date_key))
    carried = (
        spark.read.schema(contract.schema()).parquet(gold)
        .filter(F.col("DateKey").isin(dates))
        .join(keys, ["StudentKey", "SchoolKey", "DateKey"], "left_anti")
    )
    staged = gold + ".stage"
    shutil.rmtree(staged, ignore_errors=True)
    # The anti join moves its keys to the front; restore contract order
    # so the spliced rows stay positionally identical to a full build.
    out = carried.unionByName(recomputed).select(*contract.columns)
    out.repartition(F.col("DateKey")).write.partitionBy("DateKey") \
        .parquet(staged)
    commit([(os.path.join(staged, f"DateKey={d}"), p)
            for d, p in zip(dates, parts)])
    shutil.rmtree(staged, ignore_errors=True)
    return len(dates)
