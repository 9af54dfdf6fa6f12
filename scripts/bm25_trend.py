#!/usr/bin/env python
"""r15 measurement for the persisted-BM25-index scale claim: serving
cost is proportional to the MATCHED POSTINGS, not the corpus.

Design of the experiment (the clean control): a rare term is planted
in a FIXED number of documents (200) while the corpus grows 4x — so
the matched-postings size is constant across corpus sizes. If the
claim holds, the index probe's wall time and admitted bytes stay flat
while the one-shot ``relevance.bm25_scores`` recompute (which must
re-tokenize the whole corpus per call) grows with the corpus. A
second axis holds the corpus fixed and grows the query's term count —
probe cost should track matched postings.

Usage: python scripts/bm25_trend.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DOC_TOKENS = 40
VOCAB = 1000
RARE_DOCS = 200
SIZES = (25_000, 100_000)


def synth_docs(spark, n: int):
    from pyspark.sql import functions as F

    toks = F.transform(
        F.sequence(F.lit(0), F.lit(DOC_TOKENS - 1)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("doc_id"), i),
                   F.lit(VOCAB)).cast("string")),
    )
    text = F.concat_ws(" ", toks)
    text = F.when(F.col("doc_id") < RARE_DOCS,
                  F.concat(text, F.lit(" rareterm"))).otherwise(text)
    return (spark.range(n).select(F.col("id").alias("doc_id"))
            .repartition(32).withColumn("text", text))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> int:
    from query_planner_optimizer_spark.operators import indexstore
    from query_planner_optimizer_spark.operators import textindex as tix
    from query_planner_optimizer_spark.operators.relevance import bm25_scores
    from query_planner_optimizer_spark.session import get_spark

    spark = get_spark(app_name="qpo-bm25-trend")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"corpus: synthetic {DOC_TOKENS}-token docs, vocab {VOCAB}, "
          f"'rareterm' planted in exactly {RARE_DOCS} docs at every "
          f"size; index n_buckets={tix.TEXT_INDEX_BUCKETS}", flush=True)
    print("| corpus docs | build s | postings MB | probe terms "
          "| matched postings | probe bytes frac | probe s (min of 2) "
          "| live recompute s (min of 2) |", flush=True)
    print("|---|---|---|---|---|---|---|---|", flush=True)

    for n in SIZES:
        docs = synth_docs(spark, n).persist()
        docs.count()
        d = tempfile.mkdtemp(prefix="qpo_bm25_trend_")
        t0 = time.perf_counter()
        tix.build_text_index(docs, d)
        build_s = time.perf_counter() - t0
        vdir = indexstore.current_version_dir(d)
        posts_path = os.path.join(vdir, "postings")
        total_bytes = dir_bytes(posts_path)

        for terms in (["rareterm"],
                      ["rareterm", "w1", "w2", "w3"],
                      [f"w{i}" for i in range(16)]):
            times = []
            matched = None
            for _ in range(2):
                t0 = time.perf_counter()
                matched = tix.bm25_index_scores(
                    spark, d, terms=terms).count()
                times.append(time.perf_counter() - t0)
            buckets = tix._term_buckets(spark, terms,
                                        tix.TEXT_INDEX_BUCKETS)
            read_bytes = sum(
                dir_bytes(os.path.join(posts_path, f"tbucket={b}"))
                for b in buckets)
            live = []
            for _ in range(2):
                t0 = time.perf_counter()
                bm25_scores(docs, terms=terms).count()
                live.append(time.perf_counter() - t0)
                # bust the one-tokenize memo so each live run pays the
                # real per-call corpus pass a serving index amortizes
                from query_planner_optimizer_spark.operators import (
                    relevance as rel,
                )
                rel._PRE_CACHE.clear()
            print(f"| {n} | {build_s:.1f} | {total_bytes / 1e6:.1f} "
                  f"| {len(terms)} | {matched} "
                  f"| {read_bytes / total_bytes:.2f} "
                  f"| {min(times):.2f} | {min(live):.2f} |", flush=True)
        docs.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
