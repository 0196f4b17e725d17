"""ANN-family scale smoke: the vector-search operators over a corpus
orders of magnitude beyond the sf0.1 fixtures (5k vectors there).

Usage: python tools/ann_smoke.py [n_vectors]   (default 1_000_000)

Vectors are generated DISTRIBUTED (spark.range + sin-hash expressions —
no driver loops, no Python row funcs): 64 dims, values in [-1, 1],
deterministic per (id, dim). Planted structure: ids sharing (id % 1000)
use a common base pattern with per-id jitter, so near-neighbor queries
have real answers.

Stages timed (each is the registered operator):
  gen       materialize the corpus (baseline scan cost)
  quantize  binary_quantize — 64 dims -> 2 packed words, scan-level
  hamming   hamming_topk for 8 queries over the full corpus (two-phase
            salted ranking; the 100 TB cheap-scan stage)
  rerank    binary_rerank_topk — Hamming shortlist 64 + exact cosine
  sq8       sq8 train (2 passes) + dequantized encode pass
  ivf_fit   kmeans_fit kc=16 on a 10% deterministic sample (iters x
            sample scans, the FAISS-style bounded fit)
  ivfpq_residual / ivfpq_book / ivfpq_encode
            the post-training IVFPQ index build: FOLDED residual scan,
            sampled PQ codebook fit on residuals, FOLDED code scan
  ivf_search ivf_topk for the 8 queries at nprobe=2

Prints one JSON line mirroring tools/corpus_smoke.py.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from api_to_amt_data_lake_spark.operators.similarity import (  # noqa: E402
    binary_quantize,
    binary_rerank_topk,
    hamming_topk,
    ivf_residuals,
    ivf_topk,
    kmeans_fit,
    pq_encode,
    pq_fit,
    sq8_dequantized,
    sq8_minmax,
)
from api_to_amt_data_lake_spark.session import get_spark  # noqa: E402

DIMS = 64


def build_vectors(spark, n: int):
    """(vec_id, embedding: array<double>) — deterministic, distributed."""
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(DIMS)),
        lambda i: (
            F.sin(F.col("vec_id") % 1000 * i)              # shared pattern
            + F.sin(F.xxhash64(F.col("vec_id"), i) % 1000 / 100.0) / 10
        ))
    return base.select("vec_id", emb.alias("embedding"))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark("ann_smoke")
    t: dict[str, float] = {}
    rows: dict[str, int] = {}

    t0 = time.time()
    corpus = build_vectors(spark, n).localCheckpoint()
    rows["gen"] = corpus.count()
    t["gen"] = round(time.time() - t0, 2)

    queries = corpus.filter(F.col("vec_id") < 8)

    t0 = time.time()
    bits = binary_quantize(corpus, "vec_id", "embedding", dims=DIMS)
    bits = bits.localCheckpoint()
    rows["quantize"] = bits.count()
    t["quantize"] = round(time.time() - t0, 2)

    t0 = time.time()
    qb = bits.filter(F.col("vec_id") < 8)
    rows["hamming"] = hamming_topk(qb, bits, "vec_id", k=10).count()
    t["hamming"] = round(time.time() - t0, 2)

    t0 = time.time()
    rows["rerank"] = binary_rerank_topk(
        queries, corpus, "vec_id", "embedding", dims=DIMS,
        shortlist=64, k=10).count()
    t["rerank"] = round(time.time() - t0, 2)

    t0 = time.time()
    deq = sq8_dequantized(corpus, "embedding",
                          sq8_minmax(corpus, "embedding"))
    rows["sq8"] = deq.select(F.sum(F.element_at("embedding", 1))).count()
    t["sq8"] = round(time.time() - t0, 2)

    t0 = time.time()
    cents = kmeans_fit(corpus, "vec_id", "embedding", k=16, iters=2,
                       sample_frac=0.1)
    rows["ivf_fit"] = cents.num_rows
    t["ivf_fit"] = round(time.time() - t0, 2)

    t0 = time.time()
    # Post-training IVFPQ passes, both FOLDED (the driver-side model
    # tables become scan literals): residual projection, then code
    # assignment — zero corpus shuffles, the 100 TB index-build path.
    res = ivf_residuals(corpus, cents, "vec_id", "embedding",
                        folded=True).localCheckpoint()
    rows["ivfpq_residual"] = res.count()
    t["ivfpq_residual"] = round(time.time() - t0, 2)

    t0 = time.time()
    book = pq_fit(res.select("vec_id", "embedding"), "vec_id",
                  "embedding", m=4, k=8, iters=2, sample_frac=0.1)
    rows["ivfpq_book"] = book.num_rows
    t["ivfpq_book"] = round(time.time() - t0, 2)

    t0 = time.time()
    rows["ivfpq_encode"] = pq_encode(
        res.select("vec_id", "embedding"), book, "vec_id", "embedding",
        m=4, folded=True).count()
    t["ivfpq_encode"] = round(time.time() - t0, 2)

    t0 = time.time()
    rows["ivf_search"] = ivf_topk(
        queries, corpus, cents, "vec_id", "embedding",
        k=10, nprobe=2).count()
    t["ivf_search"] = round(time.time() - t0, 2)

    # Persisted index lifecycle: save the trained models + codes (90% of
    # the corpus), append the last 10% as a new shard (folded-encode
    # scan of the increment only), then search from the loaded index
    # with partition-pruned probes. index_append vs ivfpq_encode is the
    # incremental-vs-full comparison; index_search reads nprobe/kc of
    # the code files.
    import shutil
    import tempfile

    from api_to_amt_data_lake_spark.sources.ann_index import (
        ann_index_append,
        ann_index_search,
        save_ann_index,
    )
    root = tempfile.mkdtemp(prefix="ann_index_smoke_") + "/idx"
    cut = int(n * 0.9)
    t0 = time.time()
    base_codes = pq_encode(
        res.filter(F.col("vec_id") < cut).select("vec_id", "embedding"),
        book, "vec_id", "embedding", m=4, folded=True) \
        .join(res.select("vec_id", "bucket"), "vec_id")
    save_ann_index(root, cents, book, base_codes, "vec_id", "embedding",
                   m=4)
    t["index_save"] = round(time.time() - t0, 2)
    t0 = time.time()
    ann_index_append(spark, root,
                     corpus.filter(F.col("vec_id") >= cut))
    t["index_append"] = round(time.time() - t0, 2)
    t0 = time.time()
    rows["index_search"] = ann_index_search(
        spark, root, queries, k=10, nprobe=2).count()
    t["index_search"] = round(time.time() - t0, 2)
    shutil.rmtree(root, ignore_errors=True)

    print(json.dumps({"n_vectors": n, "dims": DIMS, "sec": t,
                      "rows": rows,
                      "total_sec": round(sum(t.values()), 2)}))


if __name__ == "__main__":
    main()
