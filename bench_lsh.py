"""MinHash-LSH dedup scale probe — the 100 TB-shape evidence run.

The driver's `documents` table is useless for an LSH probe: its
synthetic texts share a ~30-word vocabulary, so almost every document
pair exceeds the banding collision threshold and candidate generation
degenerates toward all-pairs (that corpus is exercised by the
`dedup_minhash_lsh` oracle query instead). This probe synthesizes the
shape LSH is built for — a wide-vocabulary corpus (40 md5-derived
tokens per doc, ~0 cross-doc Jaccard) with one planted exact-duplicate
partner per 50 docs — and runs the full `minhash_dedup` pipeline
(signatures → LSH banding → candidate join → exact Jaccard verify).

What it demonstrates: end-to-end cost tracks corpus size × signature
width, NOT corpus², because banding only joins signature-colliding
buckets; recall of the planted pairs is exactly 1.0 (identical docs
collide in every band). Run directly:

    SPARK_GRAFT_LSH_DOCS=100000 python bench_lsh.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from pyspark.sql import functions as F

    from error_analysis_spark.extensions import dedup as DD
    from error_analysis_spark.session import get_spark

    n_docs = int(os.environ.get("SPARK_GRAFT_LSH_DOCS", "100000"))
    spark = get_spark("bench-lsh")

    # 40 tokens per doc from a doc-unique md5 stream (seed = doc id,
    # except planted duplicates which reuse their partner's seed)
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    dups = (spark.range(0, n_docs, 50)
            .select((F.col("id") + 10_000_000).alias("doc_id")))
    seed = F.when(F.col("doc_id") >= 10_000_000,
                  F.col("doc_id") - 10_000_000).otherwise(F.col("doc_id"))
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(39)),
            lambda j: F.substring(
                F.md5(F.concat(seed.cast("string"), F.lit("_"),
                               j.cast("string"))), 1, 10)),
        " ")
    corpus = (base.unionByName(dups)
              .select("doc_id", text.alias("text"))
              .repartition(64).cache())
    n_total = corpus.count()

    t0 = time.perf_counter()
    pairs, n_pairs = DD.minhash_dedup(corpus, num_perm=16, bands=8,
                                      threshold=0.9)
    dt = round(time.perf_counter() - t0, 1)

    planted = (pairs.where((F.col("id_b") - F.col("id_a") == 10_000_000)
                           & (F.col("id_a") % 50 == 0)).count())
    n_planted = (n_docs + 49) // 50
    print(json.dumps({
        "metric": "lsh_dedup_sec", "value": dt, "unit": "sec",
        "docs": n_total, "pairs_found": n_pairs,
        "planted": n_planted, "planted_found": planted,
        "recall": round(planted / max(n_planted, 1), 4),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
