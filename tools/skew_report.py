#!/usr/bin/env python
"""Bucket-skew audit for the LLM-pipeline hot path at a scaled corpus
(VERDICT r04 item 7), over a corpus dir produced by tools/gen_corpus.py
(distribution-preserving, duplicate-free scaling): the d03 MinHash-LSH
bucket distribution on the FULL documents table — max bucket size, total
candidate pairs, pairs per doc, and the largest single bucket's share of
all candidate pairs (the verdict's bound: no bucket > ~5% of pairs — a hot
bucket would serialize the candidate join at cluster scale).

Usage: python tools/skew_report.py CORPUS_DIR

The same corpus's Spark-vs-DuckDB timings come from bench.py's protocol:
  SPARK_GRAFT_SF_DIR=CORPUS_DIR python bench.py --compare \
    --queries=d03_full_minhash_lsh_pairs,s01_cosine_topk,s02_ann_lsh_topk,s04_ann_ivf_topk
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F


def main() -> None:
    corpus = os.path.abspath(sys.argv[1])

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    from highs_duckdb_spark.operators.dedup import (
        _minhash_buckets_udf_factory,
        _shingles,
    )
    from highs_duckdb_spark.session import get_spark, load_table, tune_for_data

    spark = get_spark("skew-report", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_data(spark, corpus)

    docs = load_table(spark, "documents", corpus)
    n_docs = docs.count()
    udf = _minhash_buckets_udf_factory()
    sigs = docs.select("doc_id", _shingles(F.col("text"), 3).alias("sh")).select(
        "doc_id", udf("sh").alias("buckets")
    )
    bands = sigs.select(F.posexplode("buckets").alias("band", "bucket"))
    sizes = bands.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    r = sizes.agg(
        F.max("n").alias("mx"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
        F.max(F.col("n") * (F.col("n") - 1) / 2).alias("mx_pairs"),
        F.count(F.lit(1)).alias("n_buckets"),
    ).first()
    share = (r["mx_pairs"] / r["pairs"] * 100) if r["pairs"] else 0.0
    print(
        f"SKEW corpus={corpus} docs={n_docs} buckets={r['n_buckets']} "
        f"max_bucket={r['mx']} pairs={int(r['pairs'])} "
        f"pairs_per_doc={r['pairs'] / n_docs:.2f} "
        f"max_bucket_pair_share={share:.2f}%",
        flush=True,
    )


if __name__ == "__main__":
    main()
