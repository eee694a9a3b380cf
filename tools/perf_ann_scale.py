"""ANN scale study: brute-force vs IVF on a 10x embeddings corpus.

Builds a ~500k-vector corpus at sf0.1 (the 50k fixture embeddings
replicated 10x with deterministic per-vector gaussian jitter so copies
are near- but not exact-duplicates), then measures:

1. brute-force exact cosine top-5 for 100 queries (``cosine_topk``, the
   baseline every ANN variant is judged against);
2. IVF (k=64 cells, nprobe=4) search for the same queries: wall time
   + recall@5 against the brute answer.

Prints one JSON line. One run each (regression tracker, not a
microbenchmark); training time reported separately from search time
because a real index amortizes training across queries.

Usage: python tools/perf_ann_scale.py  [REPS=10 IVF_K=64 NPROBE=4]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from value_at_risk_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    ivf_topk,
    kmeans_centroids,
)
from value_at_risk_spark.session import get_spark  # noqa: E402

REPS = int(os.environ.get("REPS", "100"))
IVF_K = int(os.environ.get("IVF_K", "32"))
NPROBE = int(os.environ.get("NPROBE", "4"))
N_QUERIES = int(os.environ.get("N_QUERIES", "100"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("perf-ann-scale")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )

    def jitter(batches):
        for pdf in batches:
            out_ids, out_vecs = [], []
            for vid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.asarray(vec, dtype=np.float64)
                rng = np.random.default_rng(int(vid))
                noise = rng.normal(0.0, 0.05, (REPS, v.shape[0]))
                for r in range(REPS):
                    out_ids.append(int(vid) + r * 10**9)
                    out_vecs.append((v + noise[r]).tolist())
            yield pd.DataFrame({"vec_id": out_ids, "embedding": out_vecs})

    import tempfile, shutil

    scaled = tempfile.mkdtemp(prefix="perf_ann_corpus_")
    try:
        t0 = time.time()
        base.mapInPandas(
            jitter, schema="vec_id long, embedding array<double>"
        ).write.mode("overwrite").parquet(scaled)
        build_sec = round(time.time() - t0, 2)
        raw = spark.read.parquet(scaled)
        n = raw.count()
        n_base = n // REPS
        corpus = raw.select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        )

        # N_QUERIES of the ORIGINAL (r=0) vectors, evenly spaced
        stride = max(n_base // N_QUERIES, 1)
        queries = raw.filter(
            (F.col("vec_id") < n_base) & (F.col("vec_id") % stride == 0)
        ).select(F.col("vec_id").alias("query_id"), "embedding")
        nq = queries.count()

        t0 = time.time()
        brute = cosine_topk(queries, corpus, k=5, round_to=6)
        brute_rows = {
            (r.query_id, r.neighbor_id) for r in brute.collect()
        }
        brute_sec = round(time.time() - t0, 2)

        t0 = time.time()
        cents = kmeans_centroids(
            corpus, k=IVF_K, iters=2, seed=4242, dim=64
        )
        train_sec = round(time.time() - t0, 2)

        # index BUILD: assign cells once, store partitioned by cell —
        # searches then equi-join the prebuilt assignment instead of
        # re-scoring every row against every centroid per query batch
        from value_at_risk_spark.operators.similarity import (
            nearest_cell_expr,
        )

        idx_dir = os.path.join(scaled, "_ivf_index")
        t0 = time.time()
        corpus.withColumn(
            "_cell", nearest_cell_expr("embedding", cents)
        ).write.partitionBy("_cell").mode("overwrite").parquet(idx_dir)
        index_build_sec = round(time.time() - t0, 2)
        indexed = spark.read.parquet(idx_dir)

        t0 = time.time()
        ivf = ivf_topk(
            queries, indexed, cents, k=5, nprobe=NPROBE, cell_col="_cell"
        )
        ivf_rows = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
        ivf_sec = round(time.time() - t0, 2)

        recall = round(len(ivf_rows & brute_rows) / max(len(brute_rows), 1), 4)
        print(
            json.dumps(
                {
                    "corpus_vectors": n,
                    "queries": nq,
                    "corpus_build_sec": build_sec,
                    "brute_search_sec": brute_sec,
                    "ivf_train_sec": train_sec,
                    "ivf_index_build_sec": index_build_sec,
                    "ivf_search_sec": ivf_sec,
                    "ivf_speedup_x": round(brute_sec / max(ivf_sec, 1e-9), 2),
                    "ivf_recall_at5": recall,
                    "ivf_k": IVF_K,
                    "nprobe": NPROBE,
                }
            )
        )
    finally:
        shutil.rmtree(scaled, ignore_errors=True)


if __name__ == "__main__":
    main()
