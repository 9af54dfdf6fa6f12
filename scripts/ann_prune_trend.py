#!/usr/bin/env python
"""r14 measurements for the two similarity-index claims:

1. ANN postings partition pruning (similarity.build_ann_index writes
   postings partitionBy(cell); ann_index_topk pushes the probed-cell
   union as a partition filter): a pruned probe (nprobe=4 of
   nlist=16) must READ ~4/16 of the postings bytes and run faster
   than the full probe on the same index. Bytes are measured from the
   partition directories the filter selects (exactly what the scan's
   PartitionFilters admits — the plan-audit twin is in
   tests/test_incremental_dedup.py).

2. Multiprobe LSH recall-vs-cost (similarity.lsh_multiprobe_topk):
   at identical index/corpus-side cost (same sketch, same tables),
   1-bit query-side probes trade a modest wall-time increase for a
   large recall gain over single-probe — measured on the real sf0.1
   embeddings against exact brute force.

Usage: python scripts/ann_prune_trend.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_VECS = 200_000
DIM = 64
#: nlist for the pruning measurement: production IVF sizes nlist ≈
#: √N (≫ the demo default 16), and partition pruning is a BATCH
#: property — the scan reads the UNION of the batch's probed cells,
#: so the fraction pruned is |union| / nlist. A diverse-enough batch
#: saturates a small nlist (measured: 200 queries × nprobe 2 cover
#: all 16 default cells — frac 1.00); at production nlist the union
#: stays ≪ nlist. Measured here at nlist=64 with realistic small
#: serving batches.
PRUNE_NLIST = 64
BATCHES = (5, 20)


def synth_embeddings(spark, n: int):
    from pyspark.sql import functions as F

    # Deterministic pseudo-random unit-ish vectors (hash-derived, no
    # RNG state): good enough for timing/pruning geometry.
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: (F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(2000))
                   .cast("double") / 1000.0 - 1.0),
    )
    return (spark.range(n).select(F.col("id").alias("vec_id"))
            .repartition(32)
            .withColumn("embedding", vec))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> int:
    from pyspark.sql import functions as F

    from query_planner_optimizer_spark.operators import indexstore
    from query_planner_optimizer_spark.operators import similarity as S
    from query_planner_optimizer_spark.session import get_spark

    spark = get_spark(app_name="qpo-ann-prune-trend")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- 1. partition-pruned ANN probe ------------------------------
    emb = synth_embeddings(spark, N_VECS).persist()
    emb.count()
    d = tempfile.mkdtemp(prefix="qpo_ann_prune_trend_")
    t0 = time.perf_counter()
    S.build_ann_index(emb, d, nlist=PRUNE_NLIST)
    build_s = time.perf_counter() - t0
    _, posts_path = S.ann_paths(d)
    total_bytes = dir_bytes(posts_path)

    print(f"ANN index: {N_VECS} x {DIM}d vectors, nlist={PRUNE_NLIST}, "
          f"build {build_s:.1f}s, postings {total_bytes / 1e6:.1f} MB",
          flush=True)
    print("| batch | nprobe | probed cells | bytes frac "
          "| probe s (min of 2) | rows |", flush=True)
    print("|---|---|---|---|---|---|", flush=True)
    for n_q in BATCHES:
        queries = emb.filter(F.col("vec_id") < n_q)
        for nprobe in (2, 8, PRUNE_NLIST):
            times, rows = [], None
            for _ in range(2):
                t0 = time.perf_counter()
                rows = S.ann_index_topk(spark, queries, d,
                                        nprobe=nprobe).count()
                times.append(time.perf_counter() - t0)
            # bytes admitted by the partition filter = the probed
            # cells' partition dirs (recompute the probed union the
            # same way the operator does)
            cents = S._read_centroids(spark, d)
            qs = S.with_norm(queries, "embedding").select(
                F.col("vec_id").alias("id"), "_vec", "_norm")
            cells = sorted(
                r["cell"] for r in S._scored_cells(qs, cents)
                .filter(F.col("crank") <= nprobe)
                .select("cell").distinct().collect())
            read_bytes = sum(
                dir_bytes(os.path.join(posts_path, f"cell={c}"))
                for c in cells)
            print(f"| {n_q} | {nprobe} | {len(cells)}/{PRUNE_NLIST} "
                  f"| {read_bytes / total_bytes:.2f} "
                  f"| {min(times):.2f} | {rows} |", flush=True)
    emb.unpersist()

    # ---- 1b. IVF-PQ ADC quality: global vs residual codebooks, with
    # a BINDING shortlist (at driver scales candidates < shortlist, so
    # ADC ranking is bypassed and the two variants are provably
    # identical — the discriminating regime needs the shortlist to
    # actually cut). Two data regimes: UNCLUSTERED (residual energy >
    # unit energy — residual PQ should HURT) and CLUSTERED (residuals
    # concentrate — residual PQ should win). --------------------------
    def clustered_embeddings(n: int, centers: int = 16,
                             noise_scale: float = 0.15):
        center = F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda i: (F.pmod(F.xxhash64(
                (F.col("vec_id") % centers).cast("long"), i),
                F.lit(2000)).cast("double") / 1000.0 - 1.0))
        noise = F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda i: (F.pmod(F.xxhash64(F.col("vec_id"), i, F.lit(7)),
                              F.lit(2000)).cast("double") / 1000.0 - 1.0)
            * noise_scale)
        return (spark.range(n).select(F.col("id").alias("vec_id"))
                .repartition(32)
                .withColumn("embedding",
                            F.zip_with(center, noise, lambda a, b: a + b)))

    for regime, frame in (("unclustered", synth_embeddings(spark, 50_000)),
                          ("clustered", clustered_embeddings(50_000))):
        emb2 = frame.persist()
        emb2.count()
        exact = S.cosine_topk(emb2, num_queries=20)
        exact_set = {(r.qid, r.nid) for r in exact.collect()}
        k_eff = {}
        for qid, _ in exact_set:
            k_eff[qid] = k_eff.get(qid, 0) + 1
        print("", flush=True)
        print(f"IVF-PQ ADC quality, 50k {regime} vectors, nprobe=4/16, "
              "BINDING shortlist=25:", flush=True)
        print("| codebooks | avg recall | min recall |", flush=True)
        print("|---|---|---|", flush=True)
        for name, kw in (("global", {}), ("residual", {"residual": True})):
            got = {(r.qid, r.nid) for r in S.ivfpq_topk(
                emb2, num_queries=20, shortlist=25, **kw).collect()}
            per_q = {}
            for qid, nid in got & exact_set:
                per_q[qid] = per_q.get(qid, 0) + 1
            rec = [per_q.get(q, 0) / n for q, n in k_eff.items()]
            print(f"| {name} | {sum(rec) / len(rec):.3f} "
                  f"| {min(rec):.3f} |", flush=True)
        emb2.unpersist()

    # ---- 1c. persisted IVF-PQ serving index: probe pruning + bytes
    # (r15: the production serving shape — codes/ partition-pruned to
    # the batch's probed cells, ADC over packed codes, store refine on
    # the shortlist only; codes bytes vs the flat index's full-vector
    # postings on identical data). ------------------------------------
    emb3 = synth_embeddings(spark, N_VECS).persist()
    emb3.count()
    d_pq = tempfile.mkdtemp(prefix="qpo_ivfpq_prune_trend_")
    t0 = time.perf_counter()
    S.build_ivfpq_index(emb3, d_pq, nlist=PRUNE_NLIST)
    pq_build_s = time.perf_counter() - t0
    vdir = indexstore.current_version_dir(d_pq)
    codes_path = os.path.join(vdir, "codes")
    codes_bytes = dir_bytes(codes_path)
    print("", flush=True)
    print(f"IVF-PQ serving index: {N_VECS} x {DIM}d, "
          f"nlist={PRUNE_NLIST}, m={S.PQ_M}, ks={S.PQ_KS}: build "
          f"{pq_build_s:.1f}s, codes {codes_bytes / 1e6:.1f} MB "
          f"(flat postings above: {total_bytes / 1e6:.1f} MB -> "
          f"codes are {codes_bytes / total_bytes:.2f} of flat)",
          flush=True)
    print("| batch | nprobe | probed cells | codes bytes frac "
          "| probe s (min of 2) | rows |", flush=True)
    print("|---|---|---|---|---|---|", flush=True)
    for n_q in BATCHES:
        queries = emb3.filter(F.col("vec_id") < n_q)
        for nprobe in (2, 8, PRUNE_NLIST):
            times, rows = [], None
            for _ in range(2):
                t0 = time.perf_counter()
                rows = S.ivfpq_index_topk(
                    spark, queries, d_pq, source=emb3,
                    nprobe=nprobe).count()
                times.append(time.perf_counter() - t0)
            cents = S._read_centroids(spark, d_pq)
            qs = S.with_norm(queries, "embedding").select(
                F.col("vec_id").alias("id"), "_vec", "_norm")
            cells = sorted(
                r["cell"] for r in S._scored_cells(qs, cents)
                .filter(F.col("crank") <= nprobe)
                .select("cell").distinct().collect())
            read_bytes = sum(
                dir_bytes(os.path.join(codes_path, f"cell={c}"))
                for c in cells)
            print(f"| {n_q} | {nprobe} | {len(cells)}/{PRUNE_NLIST} "
                  f"| {read_bytes / codes_bytes:.2f} "
                  f"| {min(times):.2f} | {rows} |", flush=True)
    emb3.unpersist()

    # ---- 2. multiprobe LSH recall-vs-cost (real sf0.1 embeddings) ---
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    real = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding").persist())
    real.count()
    exact = S.cosine_topk(real)
    exact_set = {(r.qid, r.nid) for r in exact.collect()}
    truth = {}
    for qid, _nid in exact_set:
        truth[qid] = truth.get(qid, 0) + 1

    print("", flush=True)
    print(f"multiprobe LSH vs single-probe ({sf_dir}, "
          f"planes={S.LSH_PLANES}, tables={S.LSH_TABLES}):", flush=True)
    print("| variant | avg recall | min recall | time s (min of 2) |",
          flush=True)
    print("|---|---|---|---|", flush=True)
    for name, fn in (("single-probe", S.lsh_topk),
                     ("multiprobe (1-bit)", S.lsh_multiprobe_topk)):
        times, got = [], None
        for _ in range(2):
            t0 = time.perf_counter()
            got = {(r.qid, r.nid) for r in fn(real).collect()}
            times.append(time.perf_counter() - t0)
        per_q = {}
        for qid, nid in got & exact_set:
            per_q[qid] = per_q.get(qid, 0) + 1
        recalls = [per_q.get(q, 0) / k for q, k in truth.items()]
        print(f"| {name} | {sum(recalls) / len(recalls):.3f} "
              f"| {min(recalls):.3f} | {min(times):.2f} |", flush=True)
    real.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
