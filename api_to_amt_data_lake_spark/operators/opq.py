"""Optimized Product Quantization (OPQ) — learned rotation before PQ.

Ge, He, Ke & Sun, "Optimized Product Quantization" (CVPR 2013 / TPAMI
2014), non-parametric alternating solver: find an ORTHONORMAL rotation
R that redistributes variance across the PQ subspaces so independent
per-subspace k-means wastes less of its bit budget on correlated
dimensions. Each round alternates

  1. rotate:      Y = X R                       (corpus pass, GEMM)
  2. quantize:    codebook = pq_fit(Y); Yhat = decode(encode(Y))
                                                (folded — scan speed)
  3. re-rotate:   R = U Vt  where  X^T Yhat = U S Vt  (Procrustes)

Spark-first decomposition of each piece:

- The rotation is a per-row GEMM — an Arrow-batched `mapInPandas`
  (`rotate_vectors`), one float64 matmul per batch, zero shuffle. The
  identity rotation short-circuits to the input frame so
  `opq_iters=0` is EXACTLY the plain-PQ pipeline (parity contract
  q99zi).
- Encode AND decode fold into the scan: `_folded_pq_recon_expr`
  reads the centroid vector out of the same argmin-over-literal-
  centroids struct that `_folded_pq_pairs_expr` reads the code from
  (`similarity._pq_argmins`), so the reconstruction `Yhat` is a pure
  projection — no join, no shuffle.
- The Procrustes correlation matrix M = X^T Yhat is accumulated as
  per-partition partial Gram matrices (one dim x dim numpy matmul per
  Arrow batch, ONE flattened row per partition) and summed on the
  driver — M is model-sized (dim^2 doubles) no matter how big the
  corpus is, the exact shape MLlib uses for its Gramian computations.
  The dim x dim SVD runs on the driver (numpy): model work, not data
  work.

At 100 TB: every OPQ iteration is one corpus-sample pass (rotate +
reconstruct + partial Gram, all in one stage) plus a PQ fit over the
same sample (`sample_frac` bounds both); the full corpus is touched
once at the end for the folded encode. R (dim x dim) and the codebook
(m x k) stay broadcast-sized forever.

Reference parity note: the reference has no vector search at all —
this extends the beyond-reference ANN tier (SURVEY.md §2's
training-data-pipeline suite) alongside ivfpq/sq8/binary.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.operators.similarity import (
    _pq_argmins,
    _training_sample,
    pq_adc_topk,
    pq_encode,
    pq_fit,
)

_ROT_SCHEMA = "{id} long, {vec} array<double>"


def rotate_vectors(
    df: DataFrame, id_col: str, vec_col: str, rotation: np.ndarray,
) -> DataFrame:
    """(id, vec @ R) via one numpy GEMM per Arrow batch — zero shuffle,
    zero join; the rotation matrix rides to executors inside the
    closure (dim x dim doubles, model-sized). Rotated components are
    rounded to 9dp so every downstream fold (PQ distances, ADC) sees
    partitioning-independent values.

    An exact identity rotation returns the input frame UNTOUCHED (same
    column values, no rounding), which makes `opq_iters=0` bit-equal to
    the plain-PQ pipeline — the q99zi parity contract depends on it.
    """
    import pandas as pd

    rot = np.ascontiguousarray(rotation, dtype=np.float64)
    if rot.shape[0] == rot.shape[1] and np.array_equal(
            rot, np.eye(rot.shape[0])):
        return df.select(id_col, vec_col)

    def batches(it):
        for pdf in it:
            x = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vec_col]])
            y = np.round(x @ rot, 9)
            yield pd.DataFrame({id_col: pdf[id_col],
                                vec_col: list(y)})

    return df.select(id_col, vec_col).mapInPandas(
        batches, _ROT_SCHEMA.format(id=id_col, vec=vec_col))


def _folded_pq_recon_expr(vec_col: str,
                          codebook: DataFrame | pa.Table) -> Column:
    """array<double>: the PQ RECONSTRUCTION of a vector, inline, from a
    codebook model (a pyarrow Table, or a DataFrame collected once by
    `_model_table`). Same argmin-over-literal-centroids fold as
    `_folded_pq_pairs_expr` (`_pq_argmins`), keeping the winning
    centroid vector instead of its id — flattened across subs this is
    decode(encode(v)) as a pure scan projection."""
    return F.flatten(F.array(*[
        best.getField("v")
        for _, best in _pq_argmins(vec_col, codebook, "opq")]))


def _procrustes_rotation(
    train: DataFrame, id_col: str, vec_col: str,
    rotation: np.ndarray, codebook: pa.Table, dim: int,
) -> np.ndarray:
    """One OPQ re-rotation step: accumulate M = X^T Yhat distributedly
    (per-partition partial Gram matrices, one flattened row each), then
    solve the orthogonal Procrustes problem on the driver:
    R = U Vt for M = U S Vt. M is dim^2 doubles regardless of |X|."""
    import pandas as pd

    # Rotate and keep the original vector in the SAME Arrow pass — a
    # rotate-then-join-back-on-id shape would cost one shuffle per OPQ
    # iteration for data that never needed to move.
    rot = np.ascontiguousarray(rotation, dtype=np.float64)

    def rot_keep(it):
        for pdf in it:
            x = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vec_col]])
            yield pd.DataFrame({"_x": list(x),
                                "_y": list(np.round(x @ rot, 9))})

    pair = train.select(vec_col).mapInPandas(
        rot_keep, "_x array<double>, _y array<double>"
    ).select("_x", _folded_pq_recon_expr("_y", codebook).alias("_yh"))

    def gram(it):
        m = np.zeros((dim, dim), dtype=np.float64)
        seen = False
        for pdf in it:
            if not len(pdf):
                continue
            x = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf["_x"]])
            yh = np.vstack([np.asarray(v, dtype=np.float64)
                            for v in pdf["_yh"]])
            m += x.T @ yh
            seen = True
        if seen:
            yield pd.DataFrame({"cells": [m.reshape(-1)]})

    partials = pair.mapInPandas(gram, "cells array<double>").collect()
    m = np.zeros((dim, dim), dtype=np.float64)
    for r in partials:
        m += np.asarray(r["cells"], dtype=np.float64).reshape(dim, dim)
    u, _, vt = np.linalg.svd(m)
    return np.ascontiguousarray(u @ vt)


def opq_train_rotation(
    corpus: DataFrame, id_col: str, vec_col: str, m: int = 4,
    k: int = 8, iters: int = 3, opq_iters: int = 2,
    sample_frac: float | None = None,
) -> np.ndarray:
    """Just the rotation: `opq_iters` alternating (PQ fit, Procrustes)
    rounds over the training sample. `opq_iters=0` returns the
    identity. Used directly by the persisted-index build, which trains
    its own (residual) codebook downstream."""
    train = _training_sample(corpus, id_col, sample_frac)
    dim = len(train.select(vec_col).first()[0])
    rotation = np.eye(dim)
    for _ in range(opq_iters):
        rot_train = rotate_vectors(train, id_col, vec_col, rotation)
        book = pq_fit(rot_train, id_col, vec_col, m=m, k=k, iters=iters)
        rotation = _procrustes_rotation(
            train, id_col, vec_col, rotation, book, dim)
    return rotation


def opq_fit(
    corpus: DataFrame, id_col: str, vec_col: str, m: int = 4,
    k: int = 8, iters: int = 3, opq_iters: int = 2,
    sample_frac: float | None = None,
) -> tuple[np.ndarray, pa.Table, DataFrame]:
    """Train OPQ: returns (rotation R, codebook model on the rotated
    space — a pyarrow Table, as `pq_fit` returns — codes of the rotated
    corpus). `opq_iters=0` degenerates to exactly
    `pq_fit` + folded `pq_encode` (R = I, rotation short-circuited) —
    the q99zi parity contract. Trainers iterate over the deterministic
    id-hash sample when `sample_frac` is set; the full corpus is
    touched once, by the final folded encode."""
    rotation = opq_train_rotation(
        corpus, id_col, vec_col, m=m, k=k, iters=iters,
        opq_iters=opq_iters, sample_frac=sample_frac)
    train = _training_sample(corpus, id_col, sample_frac)
    rot_train = rotate_vectors(train, id_col, vec_col, rotation)
    book = pq_fit(rot_train, id_col, vec_col, m=m, k=k, iters=iters)
    rot_corpus = rotate_vectors(corpus, id_col, vec_col, rotation)
    codes = pq_encode(rot_corpus, book, id_col, vec_col, m=m, folded=True)
    return rotation, book, codes


def opq_topk(
    queries: DataFrame, rotation: np.ndarray, codebook: DataFrame | pa.Table,
    codes: DataFrame, id_col: str, vec_col: str, m: int = 4, k: int = 3,
) -> DataFrame:
    """ADC top-k in the rotated space: rotate the (few) queries with the
    trained R, then the standard `pq_adc_topk` — distances to rotated
    centroids equal distances in the original space because R is
    orthonormal. Output contract matches pq_adc_topk:
    (query_id, match_id, adc_dist, rank)."""
    rot_q = rotate_vectors(queries, id_col, vec_col, rotation)
    return pq_adc_topk(rot_q, codes, codebook, id_col, vec_col, m=m, k=k)
