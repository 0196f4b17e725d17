"""Persisted IVFPQ ANN index: save/load/append/search contracts.

VERDICT r6 item 1 — the index must (a) round-trip through disk, (b)
append a shard by folded-encoding ONLY the increment against the frozen
models (no retrain, no rewrite of existing code files), and (c) search
from the loaded index exactly as `ivfpq_topk` would over the union
corpus encoded in one lineage."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.operators.sampling import _M32, hash_bucket
from api_to_amt_data_lake_spark.operators.similarity import (
    ivfpq_fit,
    ivfpq_topk,
)
from api_to_amt_data_lake_spark.sources.ann_index import (
    ann_index_append,
    ann_index_search,
    build_ann_index,
    encode_shard,
    load_ann_index,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet")) \
        .select("vec_id", "embedding")


def _halves(spark):
    e = _emb(spark)
    half = hash_bucket(F.col("vec_id").cast("long")) < int(0.5 * _M32)
    return e, e.filter(half), e.filter(~half)


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    """Models trained on the base half, BOTH halves' codes present
    (shard appended) — the state every test here assumes, built in the
    fixture so tests stay order-independent."""
    root = str(tmp_path_factory.mktemp("ann") / "idx")
    _, base, shard = _halves(spark)
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    ann_index_append(spark, root, shard)
    return root


def _code_files(root: str) -> dict[str, tuple[int, float, int]]:
    out = {}
    for dirpath, _, names in os.walk(os.path.join(root, "codes")):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime, st.st_ino)
    return out


def test_append_adds_files_without_touching_existing(spark, tmp_path):
    # Builds its OWN base-only index: this test audits the append
    # itself, so it must not share the already-appended module fixture.
    root = str(tmp_path / "idx")
    e, base, shard = _halves(spark)
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    before = _code_files(root)
    n_before = spark.read.parquet(os.path.join(root, "codes")).count()
    ann_index_append(spark, root, shard)
    after = _code_files(root)
    # Every pre-existing file survives byte-identical (same inode, size,
    # mtime) — the append is add-only, the Delta-MERGE shape in parquet.
    for p, sig in before.items():
        assert p in after and after[p] == sig, f"rewrote {p}"
    assert len(after) > len(before)
    n_after = spark.read.parquet(os.path.join(root, "codes")).count()
    # m=2 code rows per appended vector.
    assert n_after - n_before == shard.count() * 2


def test_loaded_appended_search_matches_union_lineage(spark, index_root):
    """Search over the loaded+appended index == ivfpq_topk over the
    union corpus with the SAME trained models (sample_frac=0.5 trains
    on exactly the base half)."""
    e, base, shard = _halves(spark)
    coarse, book, codes = ivfpq_fit(
        e, "vec_id", "embedding", kc=4, coarse_iters=2, m=2, k=4,
        iters=2, sample_frac=0.5)
    q = e.filter(F.col("vec_id") < 5)
    want = sorted(
        (r["query_id"], r["match_id"], r["adc_dist"], r["rank"])
        for r in ivfpq_topk(q, coarse, book, codes, "vec_id",
                            "embedding", m=2, k=3, nprobe=1).collect())
    got = sorted(
        (r["query_id"], r["match_id"], r["adc_dist"], r["rank"])
        for r in ann_index_search(spark, index_root, q, k=3,
                                  nprobe=1).collect())
    assert got == want


def test_pruned_search_matches_unpruned(spark, index_root):
    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 5)
    full = sorted(map(tuple, ann_index_search(
        spark, index_root, q, k=3, nprobe=2, prune=False).collect()))
    pruned = sorted(map(tuple, ann_index_search(
        spark, index_root, q, k=3, nprobe=2, prune=True).collect()))
    assert pruned == full


def test_append_encode_plan_is_pure_scan(spark, index_root):
    """The append encodes ONLY the increment at scan speed: models fold
    into the projection — zero Exchange, zero join in the executed
    plan, and the scan reads the shard, not the index."""
    _, _, shard = _halves(spark)
    coarse, book, _, meta = load_ann_index(spark, index_root)
    frame = encode_shard(shard, coarse, book, "vec_id", "embedding")
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_meta_tracks_appends(spark, index_root):
    *_, meta = load_ann_index(spark, index_root)
    assert meta["appended_shards"] >= 1
    assert meta["m"] == 2 and meta["id_col"] == "vec_id"


def test_rebuild_matches_fresh_build_and_bumps_generation(
        spark, tmp_path):
    """VERDICT r7 item 3: after drifty appends, `rebuild_ann_index`
    retrains on the current corpus and atomically swaps — search over
    the rebuilt index must equal search over an index FRESH-built from
    the same corpus with the same hyperparameters, and the generation
    counter must advance."""
    from api_to_amt_data_lake_spark.sources.ann_index import (
        rebuild_ann_index,
    )

    e, base, shard = _halves(spark)
    root = str(tmp_path / "idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    ann_index_append(spark, root, shard)
    gen = rebuild_ann_index(spark, e, root, kc=4, coarse_iters=2,
                            k=4, iters=2)
    assert gen == 1
    *_, meta = load_ann_index(spark, root)
    assert meta["generation"] == 1 and meta["appended_shards"] == 0
    assert meta["m"] == 2  # inherited from the previous generation

    fresh = str(tmp_path / "fresh")
    build_ann_index(e, fresh, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    q = e.filter(F.col("vec_id") < 5)
    got = sorted(map(tuple, ann_index_search(
        spark, root, q, k=3, nprobe=2).collect()))
    want = sorted(map(tuple, ann_index_search(
        spark, fresh, q, k=3, nprobe=2).collect()))
    assert got == want and len(got) > 0
    # No swap debris.
    assert not os.path.isdir(root + "._tmp")
    assert not os.path.isdir(root + "._old")


def test_save_swap_is_crash_safe(spark, tmp_path):
    """Advisor r7: a failure mid-save must leave the PREVIOUS index
    loadable (the old rmtree-first shape left nothing). Inject a write
    failure into the new codes and confirm the old index still
    searches; then simulate the crash window between the two renames
    and confirm `_repair_root` restores the live index on next load."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from api_to_amt_data_lake_spark.operators.similarity import ivfpq_fit
    from api_to_amt_data_lake_spark.sources.ann_index import (
        save_ann_index,
    )

    e, base, _ = _halves(spark)
    root = str(tmp_path / "idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    q = e.filter(F.col("vec_id") < 5)
    before = sorted(map(tuple, ann_index_search(
        spark, root, q, k=3, nprobe=2).collect()))

    coarse, book, codes = ivfpq_fit(
        e, "vec_id", "embedding", kc=4, coarse_iters=2, m=2, k=4,
        iters=2)
    boom = F.udf(lambda v: (_ for _ in ()).throw(RuntimeError("boom")),
                 T.IntegerType())
    poisoned = codes.withColumn("code", boom("code"))
    with _pytest.raises(Exception):
        save_ann_index(root, coarse, book, poisoned, "vec_id",
                       "embedding", 2)
    after = sorted(map(tuple, ann_index_search(
        spark, root, q, k=3, nprobe=2).collect()))
    assert after == before  # old index intact

    # Crash window: live root renamed aside, tmp never renamed in.
    os.rename(root, root + "._old")
    got = sorted(map(tuple, ann_index_search(
        spark, root, q, k=3, nprobe=2).collect()))
    assert got == before
    assert os.path.isdir(root) and not os.path.isdir(root + "._old")


def test_crash_repairs_on_load(spark, tmp_path):
    """Review findings r8: every crash window heals on LOAD, not just
    on the next writer call — a search-only deployment must never
    silently read a partial index. (a) compaction's rename gap: a
    bucket stranded under .compact_old_ is restored; (b) the save
    swap's rename gap: a complete ._tmp is PROMOTED when the live root
    is missing; (c) a rebuild carries the streaming replay marker
    inside the swap."""
    import shutil as _sh

    from api_to_amt_data_lake_spark.sources.ann_index import (
        rebuild_ann_index,
    )
    from api_to_amt_data_lake_spark.streaming.ann import (
        last_applied_batch,
    )

    e, base, shard = _halves(spark)
    root = str(tmp_path / "idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    q = e.filter(F.col("vec_id") < 5)
    want = sorted(map(tuple, ann_index_search(
        spark, root, q, k=3, nprobe=4).collect()))

    # (a) Strand one bucket in the compaction crash state.
    codes = os.path.join(root, "codes")
    b0 = next(d for d in os.listdir(codes) if d.startswith("bucket="))
    os.rename(os.path.join(codes, b0),
              os.path.join(root, f".compact_old_{b0}"))
    got = sorted(map(tuple, ann_index_search(
        spark, root, q, k=3, nprobe=4).collect()))
    assert got == want
    assert os.path.isdir(os.path.join(codes, b0))

    # (b) Save-swap crash state: live root renamed aside, complete tmp
    # present — load must promote the NEW generation.
    with open(os.path.join(root, "_last_batch"), "w") as f:
        f.write("7")
    rebuild_ann_index(spark, e, root, kc=4, coarse_iters=2, k=4,
                      iters=2)
    # (c) marker rode inside the swap
    assert last_applied_batch(root) == 7
    rebuilt = sorted(map(tuple, ann_index_search(
        spark, root, q, k=3, nprobe=4).collect()))
    _sh.copytree(root, root + "._tmp")
    import json as _json
    mp = os.path.join(root + "._tmp", "meta.json")
    m2 = _json.load(open(mp))
    m2["generation"] = 2  # the "new generation" the crashed save built
    _json.dump(m2, open(mp, "w"))
    os.rename(root, root + "._old")
    got = sorted(map(tuple, ann_index_search(
        spark, root, q, k=3, nprobe=4).collect()))
    assert got == rebuilt
    *_, meta = load_ann_index(spark, root)
    assert meta["generation"] == 2  # the promoted tmp, not the old gen 1


def test_compaction_bounds_files_and_preserves_content(spark, tmp_path):
    """VERDICT r7 item 4: sustained appends with `compact_threshold`
    keep per-bucket parquet file counts bounded while the code rows
    stay exactly the union of every shard appended."""
    from api_to_amt_data_lake_spark.sources.ann_index import (
        bucket_file_counts,
        compact_index_buckets,
    )

    e, base, shard = _halves(spark)
    root = str(tmp_path / "idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    # 12 micro-shards of the other half, appended with a tight
    # compaction threshold.
    parts = shard.withColumn(
        "_p", F.pmod(F.xxhash64("vec_id"), F.lit(12)))
    for i in range(12):
        ann_index_append(spark, root,
                         parts.filter(F.col("_p") == i).drop("_p"),
                         compact_threshold=4)
    counts = bucket_file_counts(root)
    assert counts and max(counts.values()) <= 4 + 1, counts
    # Content THROUGH THE COMMITTED MANIFEST (what searches read): the
    # directory may also hold superseded files a committed compaction
    # left for the next writer op's sweep — exactly base + shard code
    # rows, no loss, no duplicates.
    *_, codes, _meta = load_ann_index(spark, root)
    assert codes.count() == e.count() * 2  # m=2 rows per vector
    assert codes.select("vec_id").distinct().count() == e.count()
    # Idempotent when under threshold; content stable across a forced
    # full compaction.
    h0 = codes.orderBy("vec_id", "sub_idx").collect()
    assert compact_index_buckets(spark, root, max_files=0) != []
    *_, codes1, _meta = load_ann_index(spark, root)
    h1 = codes1.orderBy("vec_id", "sub_idx").collect()
    assert h1 == h0


def test_atomic_exchange_swaps_directories(tmp_path):
    """ADVICE r8: compaction's swap uses renameat2(RENAME_EXCHANGE) on
    Linux so a concurrent search never observes a missing bucket dir.
    Verify the primitive actually exchanges contents atomically (both
    paths exist throughout; contents swapped after)."""
    import sys

    from api_to_amt_data_lake_spark.sources.ann_index import (
        _atomic_exchange,
    )

    a, b = tmp_path / "live", tmp_path / "tmp"
    a.mkdir(); b.mkdir()
    (a / "old.parquet").write_text("old")
    (b / "new.parquet").write_text("new")
    ok = _atomic_exchange(str(a), str(b))
    if not sys.platform.startswith("linux"):
        assert ok is False
        return
    assert ok, "renameat2(RENAME_EXCHANGE) should work on Linux tmpfs"
    assert (a / "new.parquet").read_text() == "new"
    assert (b / "old.parquet").read_text() == "old"
    assert not (a / "old.parquet").exists()


def test_opq_index_lifecycle(spark, tmp_path):
    """Round 9: OPQ-rotated persisted index. (a) build with opq_iters>0
    stores an orthonormal rotation in meta; (b) search equals the
    manual composition (rotate corpus with the STORED R -> same ivfpq
    fit -> ivfpq_topk on rotated queries); (c) append encodes the shard
    in the rotated space, so loaded+appended search equals one-lineage
    encode of the rotated union against the frozen models; (d)
    opq_iters=0 stores no rotation at all."""
    import json as _json

    import numpy as np
    from api_to_amt_data_lake_spark.operators.opq import rotate_vectors
    from api_to_amt_data_lake_spark.sources.ann_index import (
        _META,
        ann_index_search,
    )

    e, base, shard = _halves(spark)
    root = str(tmp_path / "opq_idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2, opq_iters=1)
    with open(os.path.join(root, _META)) as f:
        meta = _json.load(f)
    rot = np.asarray(meta["rotation"])
    assert rot.shape == (64, 64) and meta["opq_iters"] == 1
    np.testing.assert_allclose(rot @ rot.T, np.eye(64), atol=1e-9)

    # (b) search == manual rotated-space composition on the base half.
    q = e.filter(F.col("vec_id") < 5)
    got = sorted(
        (r["query_id"], r["match_id"], r["adc_dist"], r["rank"])
        for r in ann_index_search(spark, root, q, k=3, nprobe=1)
        .collect())
    rot_base = rotate_vectors(base, "vec_id", "embedding", rot)
    coarse, book, codes = ivfpq_fit(rot_base, "vec_id", "embedding",
                                    kc=4, coarse_iters=2, m=2, k=4,
                                    iters=2)
    rot_q = rotate_vectors(q, "vec_id", "embedding", rot)
    want = sorted(
        (r["query_id"], r["match_id"], r["adc_dist"], r["rank"])
        for r in ivfpq_topk(rot_q, coarse, book, codes, "vec_id",
                            "embedding", m=2, k=3, nprobe=1).collect())
    assert got == want

    # (c) appended search == one-lineage rotated-union encode against
    # the same frozen models.
    ann_index_append(spark, root, shard)
    got_u = sorted(
        (r["query_id"], r["match_id"], r["adc_dist"], r["rank"])
        for r in ann_index_search(spark, root, q, k=3, nprobe=1)
        .collect())
    rot_union = rotate_vectors(e, "vec_id", "embedding", rot)
    codes_u = encode_shard(rot_union, coarse, book, "vec_id", "embedding")
    want_u = sorted(
        (r["query_id"], r["match_id"], r["adc_dist"], r["rank"])
        for r in ivfpq_topk(rot_q, coarse, book, codes_u, "vec_id",
                            "embedding", m=2, k=3, nprobe=1).collect())
    assert got_u == want_u

    # (d) plain build stores no rotation key.
    root2 = str(tmp_path / "plain_idx")
    build_ann_index(base, root2, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    with open(os.path.join(root2, _META)) as f:
        assert "rotation" not in _json.load(f)


def test_opq_index_rebuild_retrains_rotation(spark, tmp_path):
    """A rebuild of an OPQ index stays OPQ: the new generation carries
    a fresh orthonormal rotation (trained on today's corpus with the
    inherited round count) and searches still work."""
    import json as _json

    import numpy as np
    from api_to_amt_data_lake_spark.sources.ann_index import (
        _META,
        ann_index_search,
        rebuild_ann_index,
    )

    e, base, _ = _halves(spark)
    root = str(tmp_path / "opq_idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2, opq_iters=1)
    gen = rebuild_ann_index(spark, e, root, kc=4, coarse_iters=2,
                            k=4, iters=2)
    assert gen == 1
    with open(os.path.join(root, _META)) as f:
        meta = _json.load(f)
    assert meta["opq_iters"] == 1
    rot = np.asarray(meta["rotation"])
    np.testing.assert_allclose(rot @ rot.T, np.eye(64), atol=1e-9)
    q = e.filter(F.col("vec_id") < 3)
    assert ann_index_search(spark, root, q, k=3, nprobe=1).count() == 9


def _search_rows(spark, root, q, k=3, nprobe=2):
    return sorted(
        (r["query_id"], r["match_id"], round(r["adc_dist"], 9), r["rank"])
        for r in ann_index_search(spark, root, q, k=k,
                                  nprobe=nprobe).collect())


def test_append_is_all_or_nothing_to_readers(spark, tmp_path):
    """VERDICT r8 item 1 (the done-criterion): interleave a reader with
    an appender at every boundary — each search must equal the index at
    some WHOLE number of committed shards, never a partial one.

    The appender's two phases are driven explicitly through the
    stage/commit seam the public `ann_index_append` composes: after
    STAGE the shard's files are on disk but uncommitted, and a search
    must still see exactly the previous state; after COMMIT (one atomic
    meta replace) it must see exactly the new one."""
    from api_to_amt_data_lake_spark.sources.ann_index import (
        _append_commit,
        _append_stage,
        _list_codes_files,
        committed_files,
    )

    e = _emb(spark)
    root = str(tmp_path / "idx")
    base = e.filter(F.col("vec_id") % 4 == 0)
    shards = [e.filter(F.col("vec_id") % 4 == i) for i in (1, 2, 3)]
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    q = e.filter(F.col("vec_id") < 5)

    committed_states = [_search_rows(spark, root, q)]
    for i, shard in enumerate(shards):
        meta, staged = _append_stage(spark, root, shard)
        assert staged, "stage landed no files"
        # Staged files are on disk but NOT in the committed manifest…
        on_disk = _list_codes_files(root)
        committed = committed_files(root)
        assert staged <= on_disk and not (staged & committed)
        # …so a racing reader sees exactly the previous whole-shard
        # state: nothing more, nothing less.
        assert _search_rows(spark, root, q) == committed_states[i]
        _append_commit(root, meta, staged)
        committed_states.append(_search_rows(spark, root, q))
    # Each commit changed what readers see (shards carry 1/4 of the
    # corpus each — the top-3 neighbor sets cannot all be identical).
    assert len({tuple(s) for s in committed_states}) > 1
    # Final state equals a reference index built with the PUBLIC append
    # path over the same shards — the seam is the same code.
    ref = str(tmp_path / "ref")
    build_ann_index(base, ref, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    for shard in shards:
        ann_index_append(spark, ref, shard)
    assert _search_rows(spark, ref, q) == committed_states[-1]


def test_crashed_stage_is_swept_not_duplicated(spark, tmp_path):
    """An appender that dies between stage and commit leaves debris no
    reader resolves; the next writer operation sweeps it, so replaying
    the same shard through the public append yields exactly one copy of
    every code row."""
    from api_to_amt_data_lake_spark.sources.ann_index import _append_stage

    e, base, shard = _halves(spark)
    root = str(tmp_path / "idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    _append_stage(spark, root, shard)  # "crash": no commit
    ann_index_append(spark, root, shard)  # replay via the public path
    *_, codes, meta = load_ann_index(spark, root)
    n_ids = base.count() + shard.count()
    assert codes.count() == n_ids * meta["m"]
    assert codes.select("vec_id").distinct().count() == n_ids
    # The sweep also removed the debris from disk: disk == committed.
    from api_to_amt_data_lake_spark.sources.ann_index import (
        _list_codes_files,
        committed_files,
    )
    assert _list_codes_files(root) == committed_files(root)


def test_compaction_defers_deletes_one_writer_cycle(spark, tmp_path):
    """A committed compaction supersedes files but leaves them on disk
    until the NEXT writer operation — the grace window that keeps an
    in-flight reader's (stale-manifest) scan alive. Content stays exact
    throughout."""
    from api_to_amt_data_lake_spark.sources.ann_index import (
        _list_codes_files,
        bucket_file_counts,
        committed_files,
        compact_index_buckets,
    )

    e = _emb(spark)
    root = str(tmp_path / "idx")
    base = e.filter(F.col("vec_id") % 8 == 0)
    build_ann_index(base, root, "vec_id", "embedding", kc=2,
                    coarse_iters=1, m=2, k=4, iters=1)
    for i in (1, 2, 3, 4):
        ann_index_append(spark, root, e.filter(F.col("vec_id") % 8 == i))
    *_, codes_before, _m = load_ann_index(spark, root)
    want = sorted(map(tuple, codes_before.collect()))

    assert compact_index_buckets(spark, root, max_files=1) != []
    committed = committed_files(root)
    on_disk = _list_codes_files(root)
    assert committed < on_disk, "superseded files must survive the commit"
    assert max(bucket_file_counts(root).values()) <= 2
    *_, codes_after, _m = load_ann_index(spark, root)
    assert sorted(map(tuple, codes_after.collect())) == want

    # The next writer operation (an append) sweeps the superseded files.
    ann_index_append(spark, root, e.filter(F.col("vec_id") % 8 == 5))
    assert _list_codes_files(root) == committed_files(root)


def _tree_sig(root: str) -> dict[str, tuple[int, float, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (
                st.st_size, st.st_mtime, st.st_ino)
    return out


def test_recall_gate_refuses_degraded_rebuild(spark, tmp_path):
    """VERDICT r8 item 4: a retrain on a pathologically tiny sample of
    shifted data produces collapsed models; the gate must refuse the
    swap and leave the live index byte-identical (same inodes, sizes,
    mtimes — nothing was even renamed)."""
    from api_to_amt_data_lake_spark.sources.ann_index import (
        RecallGateError,
        rebuild_ann_index,
    )

    e = _emb(spark)
    root = str(tmp_path / "idx")
    build_ann_index(e, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    holdout = e.filter(F.col("vec_id") < 8)
    # A sample so thin the trainers see ~one vector: centroids and
    # codebook collapse, candidate recall craters (measured 0.19 →
    # 0.03 on this corpus at k=10, nprobe=2).
    before = _tree_sig(root)
    with pytest.raises(RecallGateError):
        rebuild_ann_index(spark, e, root, kc=4, coarse_iters=1,
                          k=4, iters=1, sample_frac=0.003,
                          holdout_queries=holdout,
                          min_recall_ratio=0.9)
    assert _tree_sig(root) == before
    assert not os.path.isdir(root + "._cand"), "candidate not cleaned"


def test_keep_generations_and_rollback_restore_bytes(spark, tmp_path):
    """`keep_generations` parks the outgoing generation; rollback
    restores it byte-identically (rename semantics — same inodes)."""
    from api_to_amt_data_lake_spark.sources.ann_index import (
        rebuild_ann_index,
        rollback_ann_index,
    )

    e, base, shard = _halves(spark)
    root = str(tmp_path / "idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    ann_index_append(spark, root, shard)
    gen0 = _tree_sig(root)
    gen = rebuild_ann_index(spark, e, root, kc=4, coarse_iters=2,
                            k=4, iters=2, keep_generations=1)
    assert gen == 1
    kept = root + "._gen0000"
    assert os.path.isdir(kept)
    # Parking is a rename: the old generation's bytes are untouched.
    assert _tree_sig(kept) == gen0
    restored = rollback_ann_index(root)
    assert restored == 0
    assert _tree_sig(root) == gen0
    assert not os.path.isdir(kept)
    # The restored index still searches.
    q = e.filter(F.col("vec_id") < 3)
    assert ann_index_search(spark, root, q, k=3, nprobe=1).count() == 9


def test_gate_passes_healthy_rebuild(spark, tmp_path):
    """A faithful retrain on the same corpus sails through the gate."""
    from api_to_amt_data_lake_spark.sources.ann_index import (
        load_ann_index as _load,
        rebuild_ann_index,
    )

    e, base, shard = _halves(spark)
    root = str(tmp_path / "idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    ann_index_append(spark, root, shard)
    holdout = e.filter(F.col("vec_id") < 8)
    gen = rebuild_ann_index(spark, e, root, kc=4, coarse_iters=2,
                            k=4, iters=2, holdout_queries=holdout,
                            min_recall_ratio=0.9)
    assert gen == 1
    *_, meta = _load(spark, root)
    assert meta["generation"] == 1


def test_concurrent_writer_fails_fast(spark, tmp_path):
    """The single-writer contract is ENFORCED, not just documented: a
    writer operation racing a held writer lock raises
    ConcurrentWriterError instead of silently interleaving its sweep
    with the other writer's staged files."""
    import fcntl

    from api_to_amt_data_lake_spark.sources.ann_index import (
        ConcurrentWriterError,
        compact_index_buckets,
        rebuild_ann_index,
    )

    e, base, shard = _halves(spark)
    root = str(tmp_path / "idx")
    build_ann_index(base, root, "vec_id", "embedding", kc=4,
                    coarse_iters=2, m=2, k=4, iters=2)
    # Hold the lock the way another writer process would.
    with open(root + ".writer.lock", "w") as held:
        fcntl.flock(held, fcntl.LOCK_EX)
        with pytest.raises(ConcurrentWriterError):
            ann_index_append(spark, root, shard)
        with pytest.raises(ConcurrentWriterError):
            compact_index_buckets(spark, root, max_files=0)
        with pytest.raises(ConcurrentWriterError):
            rebuild_ann_index(spark, e, root, kc=4, coarse_iters=1,
                              k=4, iters=1)
    # Lock released -> the same append succeeds.
    ann_index_append(spark, root, shard)
    *_, codes, meta = load_ann_index(spark, root)
    assert codes.count() == e.count() * meta["m"]


def test_model_parquet_driver_write_matches_spark_write(spark, tmp_path):
    """`save_ann_index` writes the trainers' model tables on the driver
    via pyarrow. Reloaded through Spark, the file must have the dtypes
    and rows of a Spark write of `createDataFrame(table)`, for both
    model shapes (centroids, codebook). `toArrow` marks fields not
    null, so the arrow schemas differ in nullability; Spark dtypes are
    what a reader sees."""
    from api_to_amt_data_lake_spark.operators.similarity import (
        kmeans_fit,
        pq_fit,
    )
    from api_to_amt_data_lake_spark.sources.ann_index import (
        _write_model_parquet,
    )

    e = _emb(spark)
    coarse = kmeans_fit(e, "vec_id", "embedding", k=4, iters=2)
    book = pq_fit(e, "vec_id", "embedding", m=2, k=4, iters=2)
    for name, model in (("coarse", coarse), ("book", book)):
        drv, spk = str(tmp_path / f"{name}_drv"), str(tmp_path / f"{name}_spk")
        _write_model_parquet(model, drv)
        # No Spark commit artifacts: the write never ran a Spark job.
        assert not os.path.exists(os.path.join(drv, "_SUCCESS"))
        spark.createDataFrame(model).write.parquet(spk)
        got, want = spark.read.parquet(drv), spark.read.parquet(spk)
        assert got.dtypes == want.dtypes, name
        key = lambda r: tuple(  # noqa: E731
            tuple(v) if isinstance(v, list) else v for v in r)
        assert sorted(map(key, got.collect())) == \
            sorted(map(key, want.collect())), name


def test_unreadable_model_raises_naming_path(spark, index_root, tmp_path):
    """A truncated coarse file or a missing book dir fails the load and
    the search with an error naming the path — never a silent fallback
    to some other read."""
    import re
    import shutil

    import pyarrow as pa

    q = _emb(spark).filter(F.col("vec_id") < 3)
    root = str(tmp_path / "idx")
    shutil.copytree(index_root, root)
    coarse_dir = os.path.join(root, "coarse")
    (part,) = [os.path.join(coarse_dir, n) for n in os.listdir(coarse_dir)
               if n.endswith(".parquet")]
    with open(part, "r+b") as f:
        f.truncate(os.path.getsize(part) // 2)
    with pytest.raises(pa.ArrowInvalid, match=re.escape(part)):
        load_ann_index(spark, root)
    with pytest.raises(pa.ArrowInvalid, match=re.escape(part)):
        ann_index_search(spark, root, q, k=3, nprobe=1)

    root2 = str(tmp_path / "idx2")
    shutil.copytree(index_root, root2)
    book_dir = os.path.join(root2, "book")
    shutil.rmtree(book_dir)
    with pytest.raises(FileNotFoundError, match=re.escape(book_dir)):
        load_ann_index(spark, root2)
    with pytest.raises(FileNotFoundError, match=re.escape(book_dir)):
        ann_index_search(spark, root2, q, k=3, nprobe=1)


def test_search_listing_bounded_by_probed_buckets(spark, index_root):
    """Round-11 listing-time prune: a pruned search's codes scan must
    list only the probed buckets' committed files (subset of the
    manifest), while results stay equal to the unpruned search (the
    existing parity test); here we pin the file-index bound itself."""
    from api_to_amt_data_lake_spark.sources.ann_index import (
        committed_files,
        load_ann_index,
    )

    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 5)
    df = ann_index_search(spark, index_root, q, k=3, nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    total = len(committed_files(index_root))
    *_, codes, _meta = load_ann_index(spark, index_root)
    # The probed search must NOT reference every committed file: at
    # nprobe=1 with 4 coarse buckets the probed set is a strict subset.
    listed = [rel for rel in committed_files(index_root)
              if rel.split("/", 1)[0] + "/" in plan
              or rel.split("/", 1)[-1] in plan]
    assert 0 < len(listed) < total
