"""OPQ (optimized product quantization) — rotation training contracts.

Covers the pieces a SQL oracle cannot reach (the rotation comes out of
a driver-side SVD): identity short-circuit (== plain PQ bit-exactly),
rotation exactness for permutation matrices, orthonormality of the
trained rotation, inline reconstruction correctness, and the measurable
point of OPQ — lower quantization error than axis-aligned PQ on a
corpus whose correlation straddles the subspace boundary.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.operators.opq import (
    _folded_pq_recon_expr,
    opq_fit,
    opq_topk,
    rotate_vectors,
)
from api_to_amt_data_lake_spark.operators.similarity import (
    pq_adc_topk,
    pq_encode,
    pq_fit,
)


def _vec_df(spark, mat, id_start=0):
    return spark.createDataFrame(
        [(id_start + i, [float(x) for x in row])
         for i, row in enumerate(mat)],
        ["vec_id", "embedding"])


def test_rotate_identity_short_circuits(spark):
    df = _vec_df(spark, np.arange(12.0).reshape(3, 4))
    out = rotate_vectors(df, "vec_id", "embedding", np.eye(4))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan  # untouched frame, no Arrow pass
    assert ({(r["vec_id"], tuple(r["embedding"])) for r in out.collect()}
            == {(r["vec_id"], tuple(r["embedding"])) for r in df.collect()})


def test_rotate_permutation_is_exact(spark):
    rng = np.random.default_rng(3)
    x = rng.normal(size=(20, 6))
    perm = np.eye(6)[[2, 0, 1, 5, 3, 4]]  # columns permuted
    df = _vec_df(spark, x)
    out = {r["vec_id"]: np.asarray(r["embedding"])
           for r in rotate_vectors(df, "vec_id", "embedding",
                                   perm).collect()}
    want = np.round(x @ perm, 9)
    for i in range(20):
        np.testing.assert_array_equal(out[i], want[i])


def test_folded_reconstruction_matches_codebook_join(spark):
    rng = np.random.default_rng(5)
    x = rng.normal(size=(60, 8))
    df = _vec_df(spark, x)
    book = pq_fit(df, "vec_id", "embedding", m=2, k=4, iters=2)
    recon = df.select(
        "vec_id",
        _folded_pq_recon_expr("embedding", book).alias("yh")).collect()
    # Independent path: explicit encode + join + assemble.
    codes = pq_encode(df, book, "vec_id", "embedding", m=2, folded=True)
    book = spark.createDataFrame(book)
    joined = (
        codes.join(book, (codes.sub_idx == book.sub_idx)
                   & (codes.code == book.cent_id))
        .groupBy("vec_id")
        .agg(F.flatten(F.array_sort(F.collect_list(
            F.struct(codes.sub_idx, F.col("centroid"))))
            .getField("centroid")).alias("yh"))
    ).collect()
    got = {r["vec_id"]: tuple(r["yh"]) for r in recon}
    want = {r["vec_id"]: tuple(r["yh"]) for r in joined}
    assert got == want


def test_opq_zero_iters_equals_plain_pq(spark):
    rng = np.random.default_rng(7)
    x = rng.normal(size=(80, 8))
    df = _vec_df(spark, x)
    rot, book, codes = opq_fit(df, "vec_id", "embedding", m=2, k=4,
                               iters=2, opq_iters=0)
    np.testing.assert_array_equal(rot, np.eye(8))
    q = df.filter(F.col("vec_id") < 3)
    got = opq_topk(q, rot, book, codes, "vec_id", "embedding",
                   m=2, k=3).collect()
    pbook = pq_fit(df, "vec_id", "embedding", m=2, k=4, iters=2)
    pcodes = pq_encode(df, pbook, "vec_id", "embedding", m=2, folded=True)
    want = pq_adc_topk(q, pcodes, pbook, "vec_id", "embedding",
                       m=2, k=3).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted([(r["query_id"], r["match_id"], r["adc_dist"], r["rank"])
                   for r in got]) \
        == sorted([(r["query_id"], r["match_id"], r["adc_dist"], r["rank"])
                   for r in want])


def _quant_error(spark, df, rot, book):
    y = rotate_vectors(df, "vec_id", "embedding", rot)
    rows = y.select(
        "embedding",
        _folded_pq_recon_expr("embedding", book).alias("yh")).collect()
    errs = [np.sum((np.asarray(r["embedding"]) - np.asarray(r["yh"])) ** 2)
            for r in rows]
    return float(np.mean(errs))


def test_opq_beats_pq_on_cross_boundary_correlation(spark):
    """The CVPR-2013 motivation, reproduced: clusters axis-aligned in a
    LATENT space, observed through a rotation that smears each latent
    dimension across both PQ subspaces. Plain PQ (m=2 on dims [0,1] vs
    [2,3]) must quantize correlated marginals independently; OPQ's
    trained rotation recovers (a PQ-equivalent of) the latent basis and
    lands a strictly lower mean quantization error."""
    rng = np.random.default_rng(11)
    centers = rng.normal(scale=8.0, size=(4, 4))
    latent = centers[rng.integers(0, 4, size=200)] \
        + rng.normal(scale=0.05, size=(200, 4))
    theta = np.pi / 4
    mix = np.eye(4)
    mix[1, 1] = mix[2, 2] = np.cos(theta)
    mix[1, 2], mix[2, 1] = -np.sin(theta), np.sin(theta)
    x = latent @ mix  # correlation now straddles the m=2 boundary
    df = _vec_df(spark, x)

    rot, obook, _ = opq_fit(df, "vec_id", "embedding", m=2, k=4,
                            iters=3, opq_iters=3)
    pbook = pq_fit(df, "vec_id", "embedding", m=2, k=4, iters=3)
    err_opq = _quant_error(spark, df, rot, obook)
    err_pq = _quant_error(spark, df, np.eye(4), pbook)
    assert err_opq < err_pq * 0.8, (err_opq, err_pq)
    # Trained rotation stays orthonormal (Procrustes solutions are).
    np.testing.assert_allclose(rot @ rot.T, np.eye(4), atol=1e-9)
