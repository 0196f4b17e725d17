"""Streaming ANN index maintenance: foreachBatch + ann_index_append.

Composes the persisted IVFPQ index (`sources/ann_index.py`) with the
streaming fold discipline of `streaming/sink.py`: a stream of NEW
embedding rows (id, vector) keeps the index current — each micro-batch
is folded-encoded against the FROZEN trained models (no retrain, a pure
scan projection of the increment) and appended as new code files under
its buckets. This is the standing shape of a production vector index: a
crawl/embedding pipeline emits vectors continuously, the index absorbs
them shard by shard, and searches (`ann_index_search`) always see every
row appended so far with partition-pruned reads.

Replay safety mirrors the other sinks: the last applied batch id is
recorded in a marker file inside the index directory AFTER the append
commits; a replayed batch id is SKIPPED outright. A crash between the
append and the marker write re-appends on replay, which — unlike the
upsert sinks — would duplicate that batch's code rows; the exposure is
one micro-batch and `dedupe_codes` (one keyed distinct over the codes,
offline) restores exactness, the same recovery contract Delta users get
from OPTIMIZE after a dirty append. Callers who need strict
exactly-once should stage each batch to a path named by batch id and
move it in (rename is atomic); the marker path keeps the common case
(restart after commit) exact with zero overhead.

The models are trained ONCE (`build_ann_index`, typically on a sample —
`sample_frac`); drift is handled by periodic re-index
(`sources/ann_index.py::rebuild_ann_index` — retrain on the current
corpus, re-encode, atomic generation swap carrying the replay marker),
not by mutating a live index — matching FAISS/IVF production practice
where centroid stability is what makes shard appends consistent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from api_to_amt_data_lake_spark.sources.ann_index import (
    ann_index_append,
    load_ann_index,
)
from api_to_amt_data_lake_spark.sources.versioned import (
    read_marker,
    write_marker,
)


def _marker(index_root: str) -> str:
    return os.path.join(str(index_root), "_last_batch")


def last_applied_batch(index_root: str) -> int:
    return read_marker(_marker(index_root))


def fold_ann_batch(spark: SparkSession, batch_df: DataFrame,
                   batch_id: int, index_root: str,
                   compact_threshold: int | None = None) -> bool:
    """Append one micro-batch of (id, vector) rows to the persisted
    index; returns False when the batch id was already applied
    (replay skipped). Empty batches advance the marker only.

    `compact_threshold` bounds per-bucket file counts under sustained
    micro-batching (each append adds ~one file per touched bucket, so a
    long-lived stream otherwise accumulates thousands): buckets past
    the threshold are rewritten after the marker commits — compaction
    is content-preserving, so replay semantics are untouched."""
    if batch_id <= last_applied_batch(index_root):
        return False
    if not batch_df.isEmpty():
        ann_index_append(spark, index_root, batch_df)
    write_marker(_marker(index_root), batch_id)
    if compact_threshold is not None:
        from api_to_amt_data_lake_spark.sources.ann_index import (
            compact_index_buckets,
        )
        compact_index_buckets(spark, index_root,
                              max_files=compact_threshold)
    return True


def dedupe_codes(spark: SparkSession, index_root: str) -> int:
    """Offline recovery after a dirty append (crash between append and
    marker): rewrite the codes with one distinct over the full code key
    (id, bucket, sub_idx, code) — duplicate rows from a replayed batch
    collapse; rows are never otherwise equal across batches because ids
    are unique across shards (the append contract). Returns the row
    count removed. One shuffle over the codes (ids, not vectors).

    Stage→commit→sweep (the append/compaction discipline): the clean
    copy is written under a hidden tmp sibling (invisible — readers
    resolve files only through the committed manifest), its files are
    moved into the live bucket dirs under their own unique part names
    (still uncommitted), and then the manifest is REPLACED wholesale in
    one atomic meta write — a racing reader sees the pre- or post-dedupe
    codes set, never a mix, and a crash at any instant leaves a
    committed manifest whose every file is on disk. The replaced
    files are marked superseded in the same atomic meta write (the
    compaction discipline — `_mark_superseded`) and retained for the
    index's configurable `sweep_grace_seconds` window plus one writer
    cycle, so a reader holding the pre-dedupe manifest never hits
    FileNotFound; `expire_superseded` is the early-reclaim lever."""
    from api_to_amt_data_lake_spark.sources.ann_index import _writer_lock
    with _writer_lock(str(index_root)):
        return _dedupe_locked(spark, index_root)


def _dedupe_locked(spark: SparkSession, index_root: str) -> int:
    import shutil

    from pyspark.sql import functions as F

    from api_to_amt_data_lake_spark.sources.ann_index import (
        _ensure_manifest,
        _read_meta,
        _sweep_uncommitted,
        _write_meta_atomic,
    )

    root = str(index_root)
    codes_dir = os.path.join(root, "codes")
    tmp = os.path.join(root, ".dedupe_tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # crash debris of a prior run
    *_, codes, meta = load_ann_index(spark, root)
    _ensure_manifest(root, meta)    # legacy index: snapshot dir state
    _sweep_uncommitted(root, meta)  # crash debris / superseded files
    before = codes.count()
    # Cluster by bucket before partitionBy (the bucket_store lesson:
    # unclustered partitioned writes emit tasks × partitions small
    # files) — the recovery rewrite doubles as compaction of the
    # per-append file accumulation.
    codes.distinct().repartition(F.col("bucket")) \
        .write.partitionBy("bucket").parquet(tmp)
    # Stage: move the clean files into the live bucket dirs. Spark part
    # names embed a per-write UUID, so they cannot collide with the
    # committed ones; until the meta replace below they are invisible
    # to every reader.
    staged: list[str] = []
    for d in sorted(os.listdir(tmp)):
        if not d.startswith("bucket="):
            continue
        live = os.path.join(codes_dir, d)
        os.makedirs(live, exist_ok=True)
        for f in os.listdir(os.path.join(tmp, d)):
            if f.endswith(".parquet") and not f.startswith("."):
                os.rename(os.path.join(tmp, d, f),
                          os.path.join(live, f))
                crc = os.path.join(tmp, d, f".{f}.crc")
                if os.path.isfile(crc):
                    os.rename(crc, os.path.join(live, f".{f}.crc"))
                staged.append(f"{d}/{f}")
    shutil.rmtree(tmp, ignore_errors=True)
    # Commit: the clean set replaces the manifest wholesale in ONE
    # atomic meta write. The superseded files are NOT deleted here —
    # they are uncommitted debris the next writer operation sweeps, so
    # a reader holding the previous manifest keeps a whole writer-cycle
    # grace window.
    from api_to_amt_data_lake_spark.sources.ann_index import (
        _manifest_get,
        _manifest_set,
        _mark_superseded,
    )
    meta2 = _read_meta(root)
    _mark_superseded(meta2, _manifest_get(root, meta2) or ())
    _manifest_set(root, meta2, sorted(staged))
    _write_meta_atomic(root, meta2)
    after = spark.read.option("basePath", codes_dir).parquet(
        *[os.path.join(codes_dir, rel) for rel in staged]).count()
    return before - after


def stream_ann_index(
    stream_df: DataFrame,
    index_root: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    compact_threshold: int | None = None,
):
    """Start a stream appending every micro-batch of embedding rows to
    the persisted ANN index. The index must already exist
    (`build_ann_index`); the stream's columns must include the index's
    id and vector columns. `compact_threshold` keeps per-bucket file
    counts bounded under sustained micro-batching (see
    `fold_ann_batch`). Returns the StreamingQuery."""
    spark = stream_df.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_ann_batch(spark, batch_df, batch_id, index_root,
                       compact_threshold=compact_threshold)

    writer = stream_df.writeStream.foreachBatch(fold) \
        .option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
