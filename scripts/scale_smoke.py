#!/usr/bin/env python
"""Scale smoke: replicate sf0.1 inputs K× (ids remapped) and time key
operators at 1× vs K× — the local stand-in for "does the plan's cost
track data volume or blow up superlinearly?". Results feed SCALE.md.

Usage: python scripts/scale_smoke.py [K] [--only=a,b]
Plans execute through the `noop` DSv2 sink (full computation, no
output I/O), warm JVM, min-of-two timing.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate_docs(spark, k: int):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if k == 1:
        return docs
    reps = spark.range(k).withColumnRenamed("id", "__rep")
    return (
        docs.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") * k + F.col("__rep"))
        .drop("__rep")
    )


def replicate_orders(spark, k: int):
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    if k == 1:
        return orders
    reps = spark.range(k).withColumnRenamed("id", "__rep")
    # Keep o_custkey as-is: per-key row counts scale k×, so hot keys get
    # k× hotter — the regime salting exists for.
    return (
        orders.crossJoin(reps)
        .withColumn("o_orderkey", F.col("o_orderkey") * k + F.col("__rep"))
        .drop("__rep")
    )


def synth_docs(spark, n_docs: int):
    """Synthetic corpus that scales to sf10-equivalent sizes with a
    STABLE duplicate density: ~40 pseudo-random tokens per doc from a
    100k-token vocabulary (all JVM-side — xxhash64 + base-36), and
    every 20th doc reuses its predecessor's seed (a planted exact dup).
    Pair structure grows linearly (~n/20), never quadratically — unlike
    naive k×-replication, where each doc becomes a k-clique of dups and
    the candidate set explodes as k²."""
    from pyspark.sql import functions as F

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 20 == 19, F.col("id") - 1)
        .otherwise(F.col("id"))
        .alias("seed"),
    )
    tok = lambda i: F.conv(  # noqa: E731
        (F.abs(F.xxhash64(F.col("seed"), i)) % 100000).cast("string"), 10, 36
    )
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.lit(40)), tok), " "
        ).alias("text"),
    )


def replicate_events(spark, k: int):
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    if k == 1:
        return events
    reps = spark.range(k).withColumnRenamed("id", "__rep")
    # Timestamps unchanged: rows-per-bucket scale k× while the gapfill
    # spine stays FIXED — the regime that separates per-row cost from
    # per-bucket cost.
    return (
        events.crossJoin(reps)
        .withColumn("event_id", F.col("event_id") * k + F.col("__rep"))
        .drop("__rep")
    )


def replicate_embeddings(spark, k: int):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    if k == 1:
        return emb
    reps = spark.range(k).withColumnRenamed("id", "__rep")
    # Query set stays the fixed first-20 ids; the CORPUS scales k× —
    # top-k cost should track corpus size linearly.
    return (
        emb.crossJoin(reps)
        .withColumn(
            "vec_id",
            F.when(F.col("__rep") == 0, F.col("vec_id"))
            .otherwise(F.col("vec_id") * k + F.col("__rep") + 100000),
        )
        .drop("__rep")
    )


def chain_edges(spark, n_nodes: int, chain: int = 10):
    """Chain-of-10 graph: nodes 0..n-1, edge (i, i-1) unless i is a
    chain head. Component count is exactly ceil(n/chain); diameter is
    chain-1 regardless of n — so CC round counts must stay FLAT as the
    edge set scales, only per-round shuffle bytes grow."""
    from pyspark.sql import functions as F

    edges = (
        spark.range(1, n_nodes)
        .filter(F.col("id") % chain != 0)
        .select(F.col("id").alias("doc_a"), (F.col("id") - 1).alias("doc_b"))
    )
    verts = spark.range(n_nodes).select(F.col("id").alias("doc_id"))
    return edges, verts


def run_noop(build_thunk) -> float:
    """min-of-two of (plan build + full execution through the noop
    sink). Build time is included deliberately: the iterative operators
    (connected_components) run their loop eagerly at build, so timing
    only the final write would miss the actual work."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        df = build_thunk()
        df.write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> int:
    k = 20
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        else:
            k = int(a)

    from pyspark.sql import functions as F

    from query_planner_optimizer_spark.functions.skew import salted_join
    from query_planner_optimizer_spark.operators import docpipe, text
    from query_planner_optimizer_spark.session import get_spark

    spark = get_spark(app_name="qpo-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    def salted(spark, kk):
        orders = replicate_orders(spark, kk)
        customer = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        hot = [
            r[0]
            for r in orders.groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("o_custkey"))
            .limit(10)
            .collect()
        ]
        joined = salted_join(orders, customer, "o_custkey",
                             salt_buckets=8, hot_keys=hot)
        return joined.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n"))

    from query_planner_optimizer_spark.operators import dedup

    #: base sizes chosen so k=100 is sf10-equivalent (sf0.1 documents
    #: is 5000 rows; 100× synthetic = 500k docs)
    MINHASH_BASE_DOCS = 5_000
    CC_BASE_NODES = 100_000

    def minhash_synth(spark, kk):
        return dedup.minhash_lsh_pairs(
            synth_docs(spark, MINHASH_BASE_DOCS * kk),
            max_bucket_size=64,
        )

    cc_stats: dict = {}

    def cc_build(method):
        def build(spark, kk):
            edges, verts = chain_edges(spark, CC_BASE_NODES * kk)
            return dedup.connected_components(
                edges, verts, method=method, stats=cc_stats
            )
        return build

    from query_planner_optimizer_spark.operators import similarity, temporal

    def _gapfill(spark, kk):
        return temporal.gapfill_resample(
            replicate_events(spark, kk), group_cols=("event_type",)
        )

    def _quant_topk(spark, kk):
        return similarity.quantized_topk(replicate_embeddings(spark, kk))

    def _pq_topk(spark, kk):
        return similarity.pq_topk(replicate_embeddings(spark, kk))

    def _corpus_card(spark, kk):
        return docpipe.corpus_card(replicate_docs(spark, kk))

    def _snapshot_diff(spark, kk):
        from pyspark.sql import functions as FF
        docs = replicate_docs(spark, kk).select("doc_id", "text")
        old = docs.filter(FF.col("doc_id") % 3 != 0)
        new = docs.filter(FF.col("doc_id") % 5 != 0).withColumn(
            "text", FF.when(FF.col("doc_id") % 7 == 0,
                            FF.concat(FF.col("text"), FF.lit(" v2")))
            .otherwise(FF.col("text")))
        return docpipe.snapshot_diff_report(old, new)

    def _best_of_cluster(spark, kk):
        from pyspark.sql import functions as FF

        from query_planner_optimizer_spark.operators import dedup, text
        docs = replicate_docs(spark, kk).select("doc_id", "text")
        scored = text.with_quality_score(docs).withColumn(
            "cluster_id", FF.col("doc_id") % 1000)
        return dedup.select_representatives(scored).select(
            "doc_id", "is_representative")

    from query_planner_optimizer_spark.operators import analytics
    from query_planner_optimizer_spark.prepare import rollup_frame

    def _profile(spark, kk):
        ev = replicate_events(spark, kk)
        return analytics.profile_table(
            ev.select("event_id", "user_id", "event_type", "value"))

    def _profile_approx(spark, kk):
        ev = replicate_events(spark, kk)
        return analytics.profile_table(
            ev.select("event_id", "user_id", "event_type", "value"),
            distinct_mode="approx", rsd=0.05)

    def _corr(spark, kk):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        if kk > 1:
            reps = spark.range(kk).withColumnRenamed("id", "__rep")
            li = li.crossJoin(reps).drop("__rep")
        return analytics.corr_pairs(
            li, ["l_quantity", "l_extendedprice", "l_discount"])

    def _cube(spark, kk):
        from query_planner_optimizer_spark.catalog import (
            augment_time_columns,
        )
        ev = augment_time_columns(replicate_events(spark, kk))
        return analytics.cube_counts(ev, ["day", "event_type"], "value")

    def _topk(spark, kk):
        from query_planner_optimizer_spark.streaming.windows import (
            topk_trending,
        )
        return topk_trending(replicate_events(spark, kk))

    def _hist_rollup(spark, kk):
        ev = replicate_events(spark, kk)
        from query_planner_optimizer_spark.catalog import (
            augment_time_columns,
        )
        return rollup_frame(augment_time_columns(ev),
                            ["day", "event_type"],
                            {"value": ["sum", "count", "hist"]})

    def _events_userscaled(spark, kk):
        """events replicated k× with user_id remapped per replica: the
        USER POPULATION scales k× while per-user event density stays
        constant — the honest regime for per-key window operators
        (keeping user_id would instead deepen every partition k× AND
        quadratically fan out interval-join matches, conflating plan
        cost with output size)."""
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        if kk == 1:
            return ev
        reps = spark.range(kk).withColumnRenamed("id", "__rep")
        return (
            ev.crossJoin(reps)
            .withColumn("event_id", F.col("event_id") * kk + F.col("__rep"))
            .withColumn("user_id", F.col("user_id") * kk + F.col("__rep"))
            .drop("__rep")
        )

    def _asof(spark, kk):
        """r9: as-of join (union + per-key carry window) at k× users.
        The carry window is linear-with-sort per user partition, so k×
        users → ~k× cost; the union never shuffles more than once."""
        from query_planner_optimizer_spark.operators.temporal import (
            asof_join,
        )
        ev = _events_userscaled(spark, kk)
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "value")
        return asof_join(purchases, clicks, on="user_id",
                         tolerance_us=3_600_000_000)

    def _deep_asof(spark, kk):
        """Adversarial variant: user_id KEPT, so every per-user carry
        partition deepens k× (one window partition holds k× rows) —
        the single-hot-entity regime. Sort-bound k log k per
        partition is the pass bar."""
        from query_planner_optimizer_spark.operators.temporal import (
            asof_join,
        )
        ev = replicate_events(spark, kk)
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "value")
        return asof_join(purchases, clicks, on="user_id",
                         tolerance_us=3_600_000_000)

    def _exists_skew(spark, kk):
        """r9 (r8 VERDICT #4): correlated EXISTS under correlate-key
        skew. lineitem replicates k× and ~1% of the replicated rows
        remap onto ONE hot orderkey, so the semi-join's build input has
        a single key carrying ~k·6k rows — the regime AQE's skew-join
        splitting (session.py) exists for. The build function also
        asserts the compiled plan keeps a hash-based LEFT SEMI (no
        BroadcastNestedLoopJoin): the exists rewrite joins on pure
        equi-keys, so a BNLJ would mean the rewrite regressed."""
        from query_planner_optimizer_spark.catalog import Catalog
        from query_planner_optimizer_spark.dsl.compiler import compile_query

        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        hot = 1  # an orderkey present in the base orders table
        if kk > 1:
            reps = spark.range(kk).withColumnRenamed("id", "__rep")
            orders = (
                orders.crossJoin(reps)
                .withColumn(
                    "o_orderkey",
                    F.when(F.col("__rep") == 0, F.col("o_orderkey"))
                    .otherwise(
                        F.col("o_orderkey") * kk + F.col("__rep")),
                )
                .drop("__rep")
            )
            li = (
                li.crossJoin(reps)
                .withColumn(
                    "l_orderkey",
                    F.when(
                        F.pmod(F.xxhash64("l_orderkey", "__rep"),
                               F.lit(100)) == 0,
                        F.lit(hot),
                    ).otherwise(
                        F.col("l_orderkey") * kk + F.col("__rep")),
                )
                .drop("__rep")
            )
        orders.createOrReplaceTempView("orders")
        li.createOrReplaceTempView("lineitem")
        cat = Catalog(spark, "/nonexistent-use-views",
                      register_views=False)
        q = {
            "select": ["o_orderkey", "o_totalprice"],
            "from": "orders",
            "where": [{"op": "exists", "val": {
                "subquery": {
                    "select": ["l_orderkey"], "from": "lineitem",
                    "where": [{"col": "l_quantity", "op": "gt",
                               "val": 30}]},
                "correlate": [["o_orderkey", "l_orderkey"]]}}],
        }
        df = compile_query(q, cat)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # The k×-replication crossJoin above is itself a (deliberate,
        # harness-side) BNLJ against the 100-row reps range — the
        # assert targets the SEMI join node only: it must be hash- or
        # sort-based, never nested-loop/cartesian.
        semi_lines = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
        assert semi_lines, plan
        for ln in semi_lines:
            assert "NestedLoop" not in ln and "Cartesian" not in ln, ln
        return df

    ops = {
        "line_dedup": lambda spark, kk: docpipe.line_dedup(
            replicate_docs(spark, kk), line_tokens=3),
        "collocations": lambda spark, kk: text.bigram_collocations(
            replicate_docs(spark, kk)),
        "salted_join_agg": salted,
        # iterative family: synthetic inputs that scale with stable
        # structure (see synth_docs / chain_edges docstrings)
        "minhash_lsh_synth": minhash_synth,
        "cc_star_chain": cc_build("star"),
        "cc_prop_chain": cc_build("propagation"),
        # r5 additions: fixed spine + k× rows (gapfill), fixed queries +
        # k× corpus (quantized ANN)
        "gapfill_hourly": lambda spark, kk: _gapfill(spark, kk),
        "quantized_topk": lambda spark, kk: _quant_topk(spark, kk),
        # r7: PQ — codebook train + encode + ADC + rerank; corpus-side
        # work is (id, s, code) triples, so k× rows → ~k× encode cost
        "pq_topk": lambda spark, kk: _pq_topk(spark, kk),
        # r7 pipeline additions: one-shuffle group reports and the
        # digest-pair full outer join
        "corpus_card": lambda spark, kk: _corpus_card(spark, kk),
        "snapshot_diff": lambda spark, kk: _snapshot_diff(spark, kk),
        "best_of_cluster": lambda spark, kk: _best_of_cluster(spark, kk),
        # r5 late additions: two-level aggregation (the derived-FROM
        # Q13 shape — two shuffles, both on bounded key sets) and the
        # corpus bigram LM (explode + two narrow count aggs + stream
        # join; hot-bigram skew is AQE's case)
        "nested_agg_distribution": lambda spark, kk: (
            replicate_orders(spark, kk)
            .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
            .groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_cust"))),
        "bigram_lm": lambda spark, kk: text.bigram_lm_score(
            replicate_docs(spark, kk)),
        # k-x replication makes EVERY window duplicated (k copies) —
        # the worst case for the covered-position join; linear k is
        # the pass bar
        "duplicate_spans": lambda spark, kk: dedup.duplicate_spans(
            replicate_docs(spark, kk)),
        # r6 late additions: single-Aggregate profiler (Expand-amplified
        # by its per-column exact distincts — the documented trade),
        # integer-moment corr (one scan, 18 conditional sums), and the
        # histogram rollup build (one shuffle, nbins conditional sums)
        "profile_events": lambda spark, kk: _profile(spark, kk),
        # r7: HLL profile mode — no Expand, one map pass; the 100-TB
        # default (exact stays the oracle-checked opt-in)
        "profile_approx": lambda spark, kk: _profile_approx(spark, kk),
        "corr_pairs": lambda spark, kk: _corr(spark, kk),
        "hist_rollup_build": lambda spark, kk: _hist_rollup(spark, kk),
        # one-pass CUBE (4 grouping sets -> 4x shuffle rows, 1 scan)
        # and sliding-window top-k (hopping counts + grain-bounded rank)
        "cube_day_etype": lambda spark, kk: _cube(spark, kk),
        "topk_trending": lambda spark, kk: _topk(spark, kk),
        # r8 (r7 VERDICT #4): the flagship-pipeline 100x protocol —
        # salted two-stage prefix sum (windows over levels/salt buckets
        # only) and the score→gate→hash-dedup funnel
        "token_budget": lambda spark, kk: docpipe.select_token_budget(
            replicate_docs(spark, kk)),
        "clean_corpus": lambda spark, kk: docpipe.clean_corpus(
            replicate_docs(spark, kk)),
        # r9 (r8 VERDICT #4): correlated-EXISTS semi-join with a hot
        # correlate key — no-BNLJ plan assert + sublinear time bar
        "exists_semi_skew": _exists_skew,
        # r9: as-of join at k× users (wide) and k×-deeper per-user
        # partitions (adversarial)
        "asof_join_users": _asof,
        "asof_join_deep": _deep_asof,
    }
    print(f"# scale smoke: 1x vs {k}x (sf0.1 base, local, noop sink)")
    for name, build in ops.items():
        if only and name not in only:
            continue
        cc_stats.clear()
        t1 = run_noop(lambda: build(spark, 1))
        r1 = dict(cc_stats)
        cc_stats.clear()
        tk = run_noop(lambda: build(spark, k))
        rk = dict(cc_stats)
        rounds = (f"  rounds {r1.get('rounds')}->{rk.get('rounds')}"
                  if r1 or rk else "")
        print(f"{name}: 1x {t1:.2f}s  {k}x {tk:.2f}s  "
              f"(time ratio {tk / max(t1, 1e-9):.1f}x for {k}x rows)"
              f"{rounds}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
