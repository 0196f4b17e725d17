"""Silver JSON collection source (SURVEY.md §2.1 S5).

Reference behavior (`parquet/Common/functions.py:10-23`): read the first
.json file in `{silver}/{school_year}/{endpoint}/` and parse the whole
document. Spark-first version: `spark.read.json` over the directory —
distributed parse, schema inference (or caller-provided schema for
stability), nested objects as StructType, arrays as ArrayType.

The reference's "first file only" quirk is reproduced *optionally*
(`first_file_only=True`) for parity testing; the engine default reads the
full directory, which is the behavior a 100 TB lake actually needs
(multiline JSON arrays split per-file across executors).
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def col_or_null(df: DataFrame, path: str, cast: str = "string"):
    """Resolve a (possibly nested) field, or a typed null when the document
    never carries it — the Spark analogue of the reference's
    ``jsonNormalize(errors='ignore')`` + ``addColumnIfNotExists`` scaffold
    (`pandasWrapper.py:57-61,138-140`): views stay schema-stable when an
    optional field is absent from every landed document.
    """
    from pyspark.sql import functions as F

    root = path.split(".")[0]
    if root in df.columns:
        # The root may exist but a nested member may not (partial structs).
        try:
            df.select(path)
            return F.col(path).cast(cast)
        except Exception:
            return F.lit(None).cast(cast)
    return F.lit(None).cast(cast)


def array_col(df: DataFrame, path: str, element_type: str):
    """An array column for explode: the real column when the documents carry
    it (inferred schema — never cast, struct casts are positional), else a
    typed null literal so the downstream `explode` simply yields no rows.
    """
    from pyspark.sql import functions as F

    if path in df.columns:
        return F.col(path)
    return F.lit(None).cast(f"array<{element_type}>")


# DataFrame memo, keyed by (context id, file list, mtimes, schema,
# firstOnly). A 41-view run touches the big endpoints
# (studentEducationOrganizationAssociations, studentSchoolAssociations,
# students) from ~10 builders each; without the memo every builder pays
# its own schema-inference job (a full parse of the multiline JSON). The
# mtime component invalidates the entry when a test rewrites its silver
# fixture in place.
#
# Bounded two ways so a long-lived process cannot grow it without limit:
# entries of stopped/collected SparkContexts are purged on every access,
# and the rest is LRU-capped (_MEMO_CAP re-reads are cheap; an unbounded
# dict pinning dead DataFrames is not).
#
# Single-flight: `run_all` starts its level-0 builders together, so
# concurrent misses on one key wait on that key's lock while the first
# pays the one inference job. _MEMO_LOCK guards the bookkeeping (memo,
# context refs, key locks); no Spark call runs under it. A key's lock is
# dropped once its frame is memoized.
_READ_MEMO: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_MEMO_CAP = 128
_CTX_REFS: dict[int, "weakref.ref"] = {}
_MEMO_LOCK = threading.Lock()
_KEY_LOCKS: dict[tuple, threading.Lock] = {}


def _purge_memo() -> None:
    """Drop memo entries whose SparkContext is stopped or collected.
    Called under _MEMO_LOCK."""
    dead = set()
    for cid, ref in list(_CTX_REFS.items()):
        sc = ref()
        if sc is None or getattr(sc, "_jsc", None) is None:
            dead.add(cid)
            del _CTX_REFS[cid]
    if dead:
        for k in [k for k in _READ_MEMO if k[0] in dead]:
            del _READ_MEMO[k]


def read_collection(
    spark: SparkSession,
    silver_root: str,
    school_year: str | int,
    endpoint: str,
    schema: T.StructType | None = None,
    first_file_only: bool = False,
) -> DataFrame | None:
    """Read one endpoint's landed JSON documents.

    Returns None when the endpoint directory has no .json files — the
    view-contract layer (`plans.contracts`) converts None into a typed
    empty frame, mirroring `helper/data_frame_generation_result.py:8-23`.

    Files are written by the ingestion module as JSON arrays, so
    ``multiLine=True``. At scale, one file per API page keeps parse
    parallelism; `spark.read.json` fans the file list across executors.
    """
    path = os.path.join(str(silver_root), str(school_year), endpoint)
    files = sorted(glob(os.path.join(path, "*.json")))
    if not files:
        return None
    targets = files[:1] if first_file_only else files
    key = (
        id(spark.sparkContext),
        tuple(targets),
        tuple(int(os.path.getmtime(f) * 1000) for f in targets),
        schema.json() if schema is not None else None,
    )
    with _MEMO_LOCK:
        _CTX_REFS.setdefault(id(spark.sparkContext),
                             weakref.ref(spark.sparkContext))
        _purge_memo()
        memo = _memo_get(key)
        if memo is not None:
            return memo
        key_lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with key_lock:
        with _MEMO_LOCK:
            memo = _memo_get(key)
        if memo is None:
            memo = _read(spark, targets, schema)
            with _MEMO_LOCK:
                _READ_MEMO[key] = memo
                while len(_READ_MEMO) > _MEMO_CAP:
                    _READ_MEMO.popitem(last=False)
                _KEY_LOCKS.pop(key, None)
    return memo


def _memo_get(key: tuple) -> DataFrame | None:
    """A memo hit, marked most recently used. Called under _MEMO_LOCK."""
    memo = _READ_MEMO.get(key)
    if memo is not None:
        _READ_MEMO.move_to_end(key)
    return memo


def _read(spark: SparkSession, targets: list[str],
          schema: T.StructType | None) -> DataFrame:
    reader = spark.read.option("multiLine", "true")
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(targets)
    # A malformed landed page must not poison the collection: PERMISSIVE
    # mode surfaces it as rows whose only content is _corrupt_record —
    # drop those rows (and the column) so downstream views never see
    # parser garbage; the good files' documents still flow through.
    if "_corrupt_record" in df.columns:
        from pyspark.sql import functions as F

        df = df.filter(F.col("_corrupt_record").isNull()) \
            .drop("_corrupt_record")
    return df
