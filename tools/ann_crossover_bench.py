#!/usr/bin/env python
"""Exact-GEMM vs LSH-ANN crossover measurement (VERDICT r5 #5).

``api.search`` once auto-routed query batches above 65,536 queries to
the LSH ANN path; this measurement is why "auto" now stays exact and
ANN is an explicit ``tier="ann"``. Exact-GEMM wall grows linearly in
Q (every query scores every index vector — Q·N·d FLOPs), while the
LSH path scores only band-bucket collisions (candidate-sized work) at
recall < 1.

Index: 100k x 64-d unit-ish vectors at rest (parquet). For each
Q in {1k, 10k, 65k} both tiers run; 100k runs the ANN tier plus — when
``CROSSOVER_FULL=1`` — the exact tier with ``max_queries`` raised, to
show the post-cutover gap. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N, D, K = 100_000, 64, 5
INDEX_PATH = os.environ.get(
    "CROSSOVER_INDEX", "/tmp/ovs_crossover_index"
)


def main() -> None:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from oracle_vector_search_spark.operators.ann import (
        lsh_ann_topk,
        lsh_bucket_table,
    )
    from oracle_vector_search_spark.operators.knn import knn_exact_gemm
    from oracle_vector_search_spark.session import get_spark

    spark = get_spark("ann_crossover_bench")
    rng = np.random.RandomState(42)

    if not os.path.isdir(INDEX_PATH):
        chunk = N // 4
        parts = []
        for c in range(4):
            m = rng.randn(chunk, D).astype(np.float32)
            parts.append(
                spark.createDataFrame(
                    pd.DataFrame(
                        {
                            "vec_id": np.arange(
                                c * chunk, (c + 1) * chunk, dtype=np.int64
                            ),
                            "embedding": list(m),
                        }
                    ),
                    schema="vec_id long, embedding array<float>",
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(16).write.mode("overwrite").parquet(INDEX_PATH)
    index = spark.read.parquet(INDEX_PATH)
    index = index.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    # at-rest bucket table (the deployment shape: hashed once on ingest)
    t0 = time.time()
    buckets_path = INDEX_PATH + "_buckets"
    if not os.path.isdir(buckets_path):
        lsh_bucket_table(index, "vec_id", "embedding", D).write.mode(
            "overwrite"
        ).parquet(buckets_path)
    ibuckets = spark.read.parquet(buckets_path)
    bucket_build_s = time.time() - t0

    results = {}
    # MEASURED CAVEAT (this tool, this host): with RANDOM gaussian
    # vectors — the LSH worst case, no cluster structure, so band
    # collisions are pure noise (~3k candidates/query at 28-bit/4-band
    # signatures over N=100k) — the ANN candidate join materializes
    # ~2x10^8 pairs at Q=65k and ran PAST a 35-minute local[32] budget
    # while exact GEMM finished. Unstructured data is therefore served
    # by the exact tiers (the chunked GEMM is Q-linear and never
    # collects the index); the banded join wins when the corpus
    # clusters (real embeddings — the regime the registered
    # `lsh_ann_topk` + multiprobe recall audits cover on the fixture)
    # or with more selective signatures. So: exact at all three sizes,
    # ANN at the sizes the worst case completes.
    q_sizes = [1_000, 10_000, 65_000]
    ann_sizes = {1_000, 10_000}
    for q_n in q_sizes:
        qm = rng.randn(q_n, D).astype(np.float32)
        qdf = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(q_n, dtype=np.int64) + 10_000_000,
                    "embedding": list(qm),
                }
            ),
            schema="vec_id long, embedding array<float>",
        ).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        qdf = qdf.persist()
        qdf.count()
        entry = {}
        t0 = time.time()
        n = knn_exact_gemm(
            index, qdf, k=K, max_queries=200_000
        ).count()
        gemm_s = time.time() - t0
        assert n == q_n * K
        entry["gemm_sec"] = round(gemm_s, 1)
        entry["gemm_qps"] = round(q_n / gemm_s, 1)
        if q_n in ann_sizes or os.environ.get("CROSSOVER_FULL") == "1":
            t0 = time.time()
            n = lsh_ann_topk(
                index,
                qdf,
                k=K,
                id_col="vec_id",
                vec_col="embedding",
                dims=D,
                index_buckets=ibuckets,
            ).count()
            ann_s = time.time() - t0
            entry["ann_sec"] = round(ann_s, 1)
            entry["ann_qps"] = round(q_n / ann_s, 1)
            entry["ann_rows"] = n  # < q_n*K where buckets miss
        results[f"q{q_n}"] = entry
        print(json.dumps({f"q{q_n}": entry}), flush=True)  # streaming
        qdf.unpersist()

    print(
        json.dumps(
            {
                "metric": "gemm_vs_lsh_crossover_100k_64d",
                "bucket_build_sec": round(bucket_build_s, 1),
                "batches": results,
            }
        )
    )


if __name__ == "__main__":
    main()
