"""Physical-plan audits: lock in the optimizer behaviors the engine
relies on at scale (SURVEY.md §4 — Catalyst replaces the reference's
hand-rolled pruning, so prove it actually happens)."""

from __future__ import annotations

from pyspark.sql import functions as F

from query_planner_optimizer_spark.dsl.compiler import compile_query
from query_planner_optimizer_spark.functions.skew import salted_groupby_agg

from .conftest import SF_DIR, normalize


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(catalog):
    q = {"select": ["event_id", "value"], "from": "events",
         "where": [{"col": "event_type", "op": "eq", "val": "click"},
                   {"col": "value", "op": "gt", "val": 5}]}
    plan = _plan(compile_query(q, catalog))
    assert "PushedFilters:" in plan
    assert "EqualTo(event_type,click)" in plan
    assert "GreaterThan(value,5" in plan


def test_column_pruning_reaches_read_schema(catalog):
    q = {"select": ["event_id", "value"], "from": "events"}
    plan = _plan(compile_query(q, catalog))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read_schema and "value" in read_schema
    # untouched wide columns must not be read
    assert "props" not in read_schema and "event_type" not in read_schema


def test_aggregate_is_partial_then_final(catalog):
    q = {"select": ["event_type", {"SUM": "value"}], "from": "events",
         "group_by": ["event_type"]}
    plan = _plan(compile_query(q, catalog))
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(catalog):
    q = {"select": ["o_orderkey", "o_totalprice"], "from": "orders",
         "order_by": [{"col": "o_totalprice", "dir": "desc"}], "limit": 10}
    plan = _plan(compile_query(q, catalog))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_whole_stage_codegen_active(catalog):
    q = {"select": ["l_returnflag", {"SUM": "l_quantity"}], "from": "lineitem",
         "group_by": ["l_returnflag"]}
    df = compile_query(q, catalog)
    df.collect()  # AQE finalizes the plan only on execution
    plan = _plan(df)
    # codegen stages are starred in the final adaptive plan
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_salted_groupby_matches_plain(spark, catalog):
    events = catalog.table("events")
    got = salted_groupby_agg(
        events, ["event_type"],
        {"n": ("count", "*"), "sum_value": ("sum", "value"),
         "max_value": ("max", "value")},
        salt_buckets=16,
    ).toPandas()
    want = (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"),
             F.max("value").alias("max_value"))
        .toPandas()
    )
    import pandas as pd

    pd.testing.assert_frame_equal(normalize(got), normalize(want),
                                  check_dtype=False, check_exact=False, rtol=1e-9)


def test_salted_groupby_with_salt_col(spark, catalog):
    events = catalog.table("events")
    got = salted_groupby_agg(
        events, ["event_type"], {"n": ("count", "*")},
        salt_buckets=8, salt_col="user_id",
    ).toPandas()
    want = events.groupBy("event_type").count().withColumnRenamed(
        "count", "n").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(normalize(got), normalize(want),
                                  check_dtype=False)


def test_salted_join_matches_plain_on_planted_skew(spark):
    """salted_join ≡ plain inner join on a planted 90%-one-key dataset,
    with auto hot-key detection picking up the hot key; and the cold-keys
    path (no hot keys detected) degenerates to the plain join."""
    import pandas as pd

    from query_planner_optimizer_spark.functions.skew import (
        detect_hot_keys,
        salted_join,
    )

    # 90% of fact rows share key 7; dim covers keys 0..9 plus an
    # unmatched key 99; fact has a NULL key row (drops out of inner).
    fact_rows = [(7, i) for i in range(900)]
    fact_rows += [(k % 10, 1000 + k) for k in range(100) if k % 10 != 7]
    fact_rows += [(None, 9999)]
    fact = spark.createDataFrame(fact_rows, ["k", "payload"])
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in [*range(10), 99]], ["k", "attr"]
    )
    hot = detect_hot_keys(fact, "k", share_threshold=0.5)
    assert hot == [7]
    got = salted_join(fact, dim, "k", salt_buckets=4).toPandas()
    want = fact.join(dim, "k", "inner").toPandas()
    key = ["k", "payload", "attr"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[key],
        want.sort_values(key).reset_index(drop=True)[key],
        check_dtype=False,
    )
    # No key clears a 99% bar -> pure plain-join path, same answer.
    got2 = salted_join(
        fact, dim, "k", salt_buckets=4, share_threshold=0.99
    ).toPandas()
    assert len(got2) == len(want)


def test_salted_join_plan_is_equi_join(spark):
    """Both branches of salted_join must plan as hash equi-joins — a
    CartesianProduct/BroadcastNestedLoopJoin would mean the salt column
    stopped acting as a join key."""
    from query_planner_optimizer_spark.functions.skew import salted_join

    fact = spark.range(1000).selectExpr("id % 7 AS k", "id AS payload")
    dim = spark.range(7).selectExpr("id AS k", "concat('d', id) AS attr")
    out = salted_join(fact, dim, "k", salt_buckets=4, hot_keys=[0, 1])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_router_caches_rollup_frames(spark, tmp_path):
    """The second routed query over the same rollup must read the
    cached frame (InMemoryTableScan), not re-scan parquet."""
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import build_rollups

    events = spark.range(200).selectExpr(
        "date_add(DATE'2024-01-01', CAST(id % 7 AS INT)) AS day",
        "CAST(id % 3 AS STRING) AS event_type",
        "CAST(id AS DOUBLE) AS value",
    )
    rollups = {"agg_d": {"keys": ["day", "event_type"],
                         "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "aggs")
    build_rollups(events, agg_dir, rollups)
    router = RollupRouter(spark, agg_dir, rollups)
    q = {"select": ["day", {"COUNT": "*", "as": "n"}], "from": "events",
         "group_by": ["day"]}
    first = router.route(q)
    assert first is not None
    first.collect()  # materializes the cache
    second = router.route(q)
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_router_one_split_rollup_runs_one_job(spark, tmp_path):
    """A rollup that reads as one split is cached as SinglePartition: a
    routed grouped, ordered query over it has no Exchange and runs one
    Spark job once the cache is filled. The same rollup written as two
    files keeps its Exchange. Both answer like the unrouted scan."""
    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import (
        build_rollups,
        rollup_frame,
    )

    events = spark.range(400).selectExpr(
        "date_add(DATE'2024-01-01', CAST(id % 7 AS INT)) AS day",
        "CAST(id % 3 AS STRING) AS event_type",
        "CAST(id AS DOUBLE) AS value",
    )
    events.write.parquet(str(tmp_path / "events.parquet"))
    keys, aggs = ["day", "event_type"], {"value": ["sum", "count"]}
    rollups = {"agg_d": {"keys": keys, "aggs": aggs}}
    one_file = str(tmp_path / "aggs_one")
    build_rollups(events, one_file, rollups)
    two_files = str(tmp_path / "aggs_two")
    rollup_frame(events, keys, aggs).repartition(2).write.parquet(
        f"{two_files}/agg_d.parquet")
    q = {"select": ["day", {"SUM": "value", "round": 4, "as": "s"},
                    {"COUNT": "*", "as": "n"}],
         "from": "events", "group_by": ["day"],
         "order_by": [{"col": "day", "dir": "desc"}]}
    cat = Catalog(spark, str(tmp_path), register_views=False)
    want = compile_query(q, cat).collect()
    sc = spark.sparkContext

    def warm_run(agg_dir: str, group: str):
        router = RollupRouter(spark, agg_dir, rollups)
        router.route(q).collect()  # fills the rollup cache
        df = router.route(q)
        assert df is not None and router.last_rollup == "agg_d"
        sc.setJobGroup(group, group)
        try:
            rows = df.collect()
        finally:
            sc.setJobGroup("", "")
        router.invalidate()
        return (rows, _plan(df),
                len(sc.statusTracker().getJobIdsForGroup(group)))

    rows, plan, jobs = warm_run(one_file, "one_split_rollup")
    assert rows == want
    assert "Exchange" not in plan and "Coalesce 1" in plan
    assert jobs == 1

    rows, plan, jobs = warm_run(two_files, "two_split_rollup")
    assert rows == want
    assert "Exchange hashpartitioning" in plan
    assert jobs > 1


def test_router_cost_based_rollup_choice(spark, tmp_path):
    """When several rollups qualify, the router must pick the SMALLEST
    by actual row count — planted so the fewest-grouping-keys proxy
    picks the wrong one (1-key grain on a high-cardinality id is 50x
    bigger than the 2-key grain on low-cardinality columns)."""
    from pyspark.sql import functions as F

    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import build_rollups

    events = spark.range(1000).selectExpr(
        "id AS event_id",                       # 1000 distinct
        "CAST(id % 2 AS STRING) AS event_type",  # 2 distinct
        "CAST(id % 5 AS STRING) AS country",     # 5 distinct
        "CAST(id AS DOUBLE) AS value",
    )
    rollups = {
        "agg_by_id": {"keys": ["event_id"],
                      "aggs": {"value": ["sum", "count"]}},       # 1000 rows
        "agg_type_country": {"keys": ["event_type", "country"],
                             "aggs": {"value": ["sum", "count"]}},  # 10 rows
    }
    agg_dir = str(tmp_path / "aggs")
    build_rollups(events, agg_dir, rollups)
    router = RollupRouter(spark, agg_dir, rollups)
    # Ungrouped COUNT qualifies for BOTH grains (no plain columns).
    q = {"select": [{"COUNT": "*", "as": "n"}], "from": "events"}
    out = router.route(q)
    assert out is not None
    assert router.last_rollup == "agg_type_country"  # 10 rows beats 1000
    assert out.collect()[0]["n"] == 1000
    # A query referencing event_type can ONLY use the matching grain.
    q2 = {"select": ["event_type", {"COUNT": "*", "as": "n"}],
          "from": "events", "group_by": ["event_type"]}
    assert router.route(q2) is not None
    assert router.last_rollup == "agg_type_country"
    base = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    got = {r.event_type: r.n for r in router.route(q2).collect()}
    want = {r.event_type: r.n for r in base.collect()}
    assert got == want


def test_similarity_plans_avoid_cross_products(spark):
    """LSH bucket joins must be hash equi-joins: a CartesianProduct or
    BroadcastNestedLoopJoin in these plans means the bucket key stopped
    acting as the join key and the operator degenerated to N²."""
    from query_planner_optimizer_spark.operators import dedup, similarity

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for df in (
        similarity.embedding_neardup_pairs(emb, use_lsh=True),
        similarity.lsh_topk(emb),
        dedup.minhash_lsh_pairs(docs, threshold=0.2),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_topk_broadcasts_query_side(spark):
    from query_planner_optimizer_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert "BroadcastExchange" in _plan(similarity.cosine_topk(emb))


def test_funnel_batch_single_shuffle(spark, catalog):
    """The batch funnel is one repartition-by-key then map-only python:
    exactly one shuffle exchange in the plan."""
    from query_planner_optimizer_spark.streaming import stateful

    plan = _plan(stateful.funnel_batch(catalog.table("events")))
    assert plan.count("Exchange hashpartitioning") == 1


def test_bucketized_join_is_shuffle_free(spark, catalog, request):
    """Pre-bucketed fact-fact join: both sides read co-located buckets,
    so the plan is a SortMergeJoin with NO Exchange — the prepare-time
    fix for re-shuffling terabytes per join at full scale."""
    from query_planner_optimizer_spark.prepare import bucketize

    bo = bucketize(catalog.table("orders"), "b_orders_t", ["o_orderkey"], 8)
    bl = bucketize(
        catalog.table("lineitem"), "b_lineitem_t", ["l_orderkey"], 8
    )
    request.addfinalizer(lambda: [
        spark.sql("DROP TABLE IF EXISTS b_orders_t"),
        spark.sql("DROP TABLE IF EXISTS b_lineitem_t"),
    ])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        plain = catalog.table("orders").join(
            catalog.table("lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_tpch_q5_pushes_filters_and_broadcasts_dims(catalog):
    """The 6-table chain: every filter reaches a scan (PushedFilters),
    nation/region build sides broadcast, no cartesian products."""
    from __spark_entry__ import DSL_QUERIES

    df = compile_query(
        DSL_QUERIES["dsl_tpch_q5_local_supplier_volume"], catalog
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    formatted = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    assert "EqualTo(r_name,ASIA)" in formatted       # region filter at scan
    assert "GreaterThanOrEqual(o_orderdate" in formatted  # date range at scan


def test_dsl_window_single_window_node(catalog):
    """The 3-term window entry shares ONE Window spec (same partition +
    order), so the plan carries a single Window node and one Exchange."""
    from __spark_entry__ import DSL_QUERIES

    df = compile_query(DSL_QUERIES["dsl_window_rank_running"], catalog)
    plan = _plan(df)
    assert plan.count("Window") - plan.count("WindowGroupLimit") in (1, 2)
    # row_number/lag share the unframed spec; running sum adds the frame
    assert "rowsBetween" not in plan  # frame renders inside Window, not extra ops


def test_scalar_subquery_is_broadcast_one_row(catalog):
    from __spark_entry__ import DSL_QUERIES

    df = compile_query(DSL_QUERIES["dsl_scalar_subquery_above_avg"], catalog)
    plan = _plan(df)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_side(spark):
    from query_planner_optimizer_spark.operators.dedup import q_decontaminate

    plan = _plan(q_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# -- Catalyst-plan-level routing (plans/catalyst_router.py) -----------------


def _mk_plan_router(spark, catalog, tmp_path):
    from query_planner_optimizer_spark.plans.catalyst_router import PlanRouter
    from query_planner_optimizer_spark.prepare import build_rollups

    rollups = {"agg_day_etype": {"keys": ["day", "event_type"],
                                 "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "aggs")
    build_rollups(catalog.table("events"), agg_dir, rollups)
    return PlanRouter(spark, agg_dir, rollups)


def test_plan_router_count_star_bit_equal(spark, catalog, tmp_path):
    """A raw spark.sql COUNT(*) aggregate routes onto the rollup and is
    bit-identical to executing the original plan."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    sql = "SELECT day, event_type, count(*) AS n FROM events GROUP BY day, event_type"
    df, routed = pr.sql(sql)
    assert routed, pr.last_reason
    assert sorted(df.collect()) == sorted(spark.sql(sql).collect())


def test_plan_router_rounded_minmax_native_spelling(
        spark, catalog, tmp_path):
    """A raw-SQL ROUND(MIN(x), k) plan rounds NATIVELY over the raw
    aggregate; the routed measure must mirror that spelling
    (catalyst_router flags __round_native__ on MIN/MAX, the same
    routed == unrouted pin as the pre-r8 AVG idiom). Coarse round_to=2
    so half-boundaries are REACHABLE from the 6dp-ish corpus values —
    the regime where native ROUND and the r9 FLOOR half-up differ."""
    from query_planner_optimizer_spark.plans.catalyst_router import (
        PlanRouter,
    )
    from query_planner_optimizer_spark.prepare import build_rollups

    rollups = {"agg_day_mm": {"keys": ["day"],
                              "aggs": {"value": ["sum", "count",
                                                 "min", "max"]}}}
    agg_dir = str(tmp_path / "aggs_mm")
    build_rollups(catalog.table("events"), agg_dir, rollups)
    pr = PlanRouter(spark, agg_dir, rollups)
    sql = ("SELECT day, round(min(value), 2) AS mn, "
           "round(max(value), 2) AS mx FROM events GROUP BY day")
    df, routed = pr.sql(sql)
    assert routed, pr.last_reason
    assert sorted(df.collect()) == sorted(spark.sql(sql).collect())


def test_plan_router_equals_dsl_router(spark, catalog, tmp_path):
    """The SAME query through the SQL-text path (PlanRouter) and the DSL
    path (RollupRouter) returns identical rows — both reduce to one
    subsumption proof and one decimal-partial re-aggregation."""
    from __spark_entry__ import DSL_QUERIES

    pr = _mk_plan_router(spark, catalog, tmp_path)
    df, routed = pr.sql(
        "SELECT day, round(sum(value), 6) AS sum_value FROM events "
        "WHERE event_type = 'click' GROUP BY day"
    )
    assert routed, pr.last_reason
    dsl = pr.router.route(DSL_QUERIES["dsl_daily_rollup"])
    assert dsl is not None
    assert sorted(df.collect()) == sorted(dsl.collect())


def test_plan_router_having_order_limit(spark, catalog, tmp_path):
    """HAVING over an analyzer-planted internal aggregate, ORDER BY an
    alias, and LIMIT all translate; the planted column is trimmed after
    routing and the ordered result matches the unrouted plan."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    sql = ("SELECT day, round(sum(value), 2) AS sv, count(value) AS cv "
           "FROM events WHERE event_type IN ('click', 'view') GROUP BY day "
           "HAVING count(*) > 2 ORDER BY sv DESC, day LIMIT 5")
    df, routed = pr.sql(sql)
    assert routed, pr.last_reason
    assert df.columns == ["day", "sv", "cv"]
    assert df.collect() == spark.sql(sql).collect()


def test_plan_router_routed_plan_reads_rollup_only(spark, catalog, tmp_path):
    """The routed physical plan must not scan the base events parquet —
    the whole point of the rewrite is rollup-only I/O."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    df, routed = pr.sql("SELECT day, count(*) AS n FROM events GROUP BY day")
    assert routed, pr.last_reason
    plan = _plan(df)
    assert "events.parquet" not in plan
    assert "agg_day_etype" in plan or "InMemoryTableScan" in plan


def test_plan_router_refusals(spark, catalog, tmp_path):
    """Subsume-or-refuse: shapes outside the surface fall back to the
    original plan (never a wrong rewrite). Each case pins the reason
    family: translation-level vs subsumption-level."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    cases = [
        # grouping key not in the rollup grain -> router refusal
        ("SELECT user_id, count(*) AS c FROM events GROUP BY user_id",
         "router"),
        # unrounded AVG over a decimal-partial rollup -> ulp-hazard refusal
        ("SELECT day, avg(value) AS a FROM events GROUP BY day", "router"),
        # DISTINCT aggregate -> translation refusal
        ("SELECT day, count(DISTINCT user_id) AS c FROM events GROUP BY day",
         "translate"),
        # join under the aggregate -> translation refusal
        ("SELECT e.day, count(*) AS c FROM events e JOIN events f "
         "ON e.event_id = f.event_id GROUP BY e.day", "translate"),
        # derived subquery -> not the registered view -> refusal
        ("SELECT day, count(*) AS c FROM "
         "(SELECT * FROM events WHERE value > 1) GROUP BY day", "translate"),
        # window function in output -> translation refusal
        ("SELECT day, n, rank() OVER (ORDER BY n) AS r FROM "
         "(SELECT day, count(*) n FROM events GROUP BY day)", "translate"),
    ]
    for sql, family in cases:
        df, routed = pr.sql(sql)
        assert not routed, sql
        assert pr.last_reason.startswith(family), (sql, pr.last_reason)
        df.limit(1).collect()  # the fallback plan still executes


def test_plan_router_hour_grain_typed_derivation(spark, catalog, tmp_path):
    """r8 admission of the former hour type-flavor refusal: a GROUP BY
    hour plan routes onto a (minute, event_type) rollup because the
    PlanRouter pins the derived hour's dtype from the source schema
    (router._TIME_DERIVE_TYPED). Routed result is bit-equal to the
    unrouted plan, including the timestamp flavor."""
    from query_planner_optimizer_spark.plans.catalyst_router import PlanRouter
    from query_planner_optimizer_spark.prepare import build_rollups

    rollups = {"agg_minute_etype": {"keys": ["minute", "event_type"],
                                    "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "aggs_minute")
    build_rollups(catalog.table("events"), agg_dir, rollups)
    pr = PlanRouter(spark, agg_dir, rollups)
    sql = ("SELECT hour, count(*) AS n, round(sum(value), 6) AS sv "
           "FROM events GROUP BY hour")
    df, routed = pr.sql(sql)
    assert routed, pr.last_reason
    want_dtype = catalog.table("events").schema["hour"].dataType
    assert df.schema["hour"].dataType == want_dtype
    assert sorted(df.collect()) == sorted(spark.sql(sql).collect())


def test_rollup_router_hour_flavor_refusal_and_pin(spark, catalog, tmp_path):
    """The flavor-blind RollupRouter REFUSES minute→hour derivation
    (hour's timestamp-vs-ntz flavor follows the source parquet; a
    wrong-flavor rewrite would silently break bit-exactness) — and
    ROUTES once the caller pins the dtype, matching the scan."""
    from query_planner_optimizer_spark.dsl.compiler import compile_query
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import build_rollups

    rollups = {"agg_minute_etype": {"keys": ["minute", "event_type"],
                                    "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "aggs_minute_dsl")
    build_rollups(catalog.table("events"), agg_dir, rollups)
    router = RollupRouter(spark, agg_dir, rollups)
    q = {"select": ["hour", {"COUNT": "*", "as": "n"},
                    {"SUM": "value", "as": "sv", "round": 6}],
         "from": "events", "group_by": ["hour"]}
    assert router.route(q) is None  # flavor unknown → principled refusal
    router.time_dtypes["hour"] = \
        catalog.table("events").schema["hour"].dataType
    routed = router.route(q)
    assert routed is not None
    scan = compile_query(q, catalog)
    # nullability differs (routed COUNT is a nullable partial-sum);
    # names, dtypes — the hour flavor above all — and values must match
    assert [(f.name, f.dataType) for f in routed.schema.fields] == \
        [(f.name, f.dataType) for f in scan.schema.fields]
    assert sorted(routed.collect()) == sorted(scan.collect())


def test_plan_router_refusal_contract(spark, catalog, tmp_path):
    """The pinned refusal contract (COVERAGE.md r8): every residual
    refusal in the shapes audit is PRINCIPLED — each shape refuses the
    route (never a wrong rewrite) and the fallback executes the
    original plan correctly. Reference hazard analog: the reference's
    pattern router silently DROPPED filters it couldn't serve
    (query_engine.py:166-232); these refusals are that failure mode
    done right."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    cases = [
        # unrounded fractional SUM partial: the rollup's exact-decimal
        # merge vs the scan's order-dependent double sum can differ by
        # an ulp with no rounding step to absorb it
        ("SELECT day, round(sum(value) / count(*), 6) AS r "
         "FROM events GROUP BY day", "router"),
        ("SELECT event_type, sum(value) AS sv FROM events "
         "GROUP BY event_type HAVING count(*) > 100", "router"),
        # expression grouping key: lower(event_type) is not a grain key
        ("SELECT lower(event_type) AS e, count(*) AS n FROM events "
         "GROUP BY lower(event_type)", "translate"),
        # not representable in sum/count/min/max partials
        ("SELECT day, count(DISTINCT user_id) AS du FROM events "
         "GROUP BY day", "translate"),
        ("SELECT day, round(stddev(value), 6) AS sd FROM events "
         "GROUP BY day", "translate"),
        ("SELECT day, round(median(value), 6) AS md FROM events "
         "GROUP BY day", "translate"),
        ("SELECT day, count(*) FILTER (WHERE value > 1) AS nf "
         "FROM events GROUP BY day", "translate"),
        # non-ISO literal keeps string-comparison semantics the date
        # domain can't express ('2024-1-3' ≠ any fixed-width ISO day)
        ("SELECT day, count(*) AS n FROM events "
         "WHERE CAST(day AS STRING) = '2024-1-3' GROUP BY day",
         "translate"),
    ]
    for sql, family in cases:
        df, routed = pr.sql(sql)
        assert not routed, sql
        assert pr.last_reason.startswith(family), (sql, pr.last_reason)
        # refuse-not-wrong: the fallback is the original plan and runs
        assert df.count() >= 0


def test_plan_router_date_literal_forms(spark, catalog, tmp_path):
    """DATE literals and string-to-date casts both coerce to the DSL's
    string spelling and route with pushdown-friendly typed filters."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    for pred in ("day = DATE '2024-01-02'", "day >= '2024-01-02'"):
        sql = (f"SELECT day, count(*) AS n FROM events WHERE {pred} "
               "GROUP BY day")
        df, routed = pr.sql(sql)
        assert routed, (pred, pr.last_reason)
        assert sorted(df.collect()) == sorted(spark.sql(sql).collect())


def test_exists_compiles_to_slim_semi_join(catalog):
    """A correlated EXISTS must compile to a LEFT SEMI (NOT EXISTS →
    LEFT ANTI) hash/sort-merge join whose build side carries ONLY the
    renamed correlate key — never a nested-loop plan, never the
    subquery's full row width through the shuffle."""
    from query_planner_optimizer_spark.dsl.compiler import compile_query

    q = {"select": ["o_orderpriority"],
         "from": "orders",
         "where": [{"op": "exists", "val": {
             "subquery": {"select": ["l_orderkey"], "from": "lineitem",
                          "where": [{"col": "l_quantity", "op": "gt",
                                     "val": 45}]},
             "correlate": [["o_orderkey", "l_orderkey"]]}}]}
    plan = compile_query(q, catalog)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # lineitem scan pruned to the key + filter column only
    import re
    read = re.search(r"lineitem.*?ReadSchema: struct<([^>]*)>", plan)
    if read:  # formatted scans present
        cols = {c.split(":")[0] for c in read.group(1).split(",") if c}
        assert cols <= {"l_orderkey", "l_quantity"}, cols


def test_scalar_select_attaches_broadcast_one_row(catalog):
    """A SELECT-side scalar subquery must attach as a broadcast
    (one-row build side) — never a shuffle or nested-loop over the
    outer frame's full width."""
    q = {"select": ["event_type", {"SUM": "value", "as": "sv",
                                   "round": 4},
                    {"subquery": {"select": [{"SUM": "value",
                                              "as": "t", "round": 4}],
                                  "from": "events"}, "as": "total"}],
         "from": "events", "group_by": ["event_type"]}
    plan = _plan(compile_query(q, catalog))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_nonequi_inner_join_is_hash_with_residual(catalog):
    """A range conjunct on an inner/left join must ride the equi keys:
    hash or sort-merge join with the inequality as a residual filter
    inside the join node — a BroadcastNestedLoopJoin/CartesianProduct
    would be the O(n·m) plan that dies at scale."""
    for jt in ("inner", "left"):
        q = {"select": ["c_custkey", "o_orderkey"],
             "from": "customer",
             "join": [{"table": "orders", "type": jt,
                       "on": [["c_custkey", "o_custkey"]],
                       "cond": [{"left": "c_acctbal", "op": "gt",
                                 "right": "o_totalprice"}]}]}
        plan = _plan(compile_query(q, catalog))
        assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
                or "ShuffledHashJoin" in plan), plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_plan_router_cast_between(spark, catalog, tmp_path):
    """CAST(day AS STRING) BETWEEN canonical ISO literals routes (r7
    admission — fixed-width lexicographic order ≡ date order); a
    non-canonical bound keeps string-comparison semantics the date
    domain can't express and must refuse."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    sql = ("SELECT day, count(*) AS n FROM events "
           "WHERE CAST(day AS STRING) BETWEEN '2024-01-02' AND "
           "'2024-01-05' GROUP BY day")
    df, routed = pr.sql(sql)
    assert routed, pr.last_reason
    assert sorted(df.collect()) == sorted(spark.sql(sql).collect())

    bad = ("SELECT day, count(*) AS n FROM events "
           "WHERE CAST(day AS STRING) BETWEEN '2024-1-2' AND "
           "'2024-01-05' GROUP BY day")
    df, routed = pr.sql(bad)
    assert not routed
    assert pr.last_reason.startswith("translate")
    df.limit(1).collect()  # fallback plan still executes


def test_plan_router_corpus_agreement(spark, catalog, tmp_path):
    """Corpus-wide sweep: every DSL query, assembled to the engine's own
    spark-dialect SQL (incl. the bit-stable decimal SUM/AVG idioms),
    must (a) route through the plan matcher whenever the DSL router
    routes the dict form, and (b) return rows identical to executing
    the unrouted plan whenever it routes. Queries outside the routable
    surface must refuse on BOTH paths — never crash, never rewrite
    wrong."""
    import __spark_entry__ as E
    from query_planner_optimizer_spark.dsl.assembler import assemble_sql
    from query_planner_optimizer_spark.plans.catalyst_router import PlanRouter
    from query_planner_optimizer_spark.prepare import (
        DRIVER_EVENTS_ROLLUPS,
        build_rollups,
    )

    agg_dir = str(tmp_path / "aggs")
    build_rollups(
        catalog.table("events"), agg_dir, DRIVER_EVENTS_ROLLUPS,
        tables={"lineitem": catalog.table("lineitem")},
    )
    routers = {
        t: PlanRouter(spark, agg_dir, DRIVER_EVENTS_ROLLUPS, view=t, table=t)
        for t in ("events", "lineitem")
    }
    plan_routed_names = []
    for name, q in E.DSL_QUERIES.items():
        if any(kw in q for kw in ("union", "intersect", "except")):
            continue
        tbl = q.get("from", "events")
        if not isinstance(tbl, str) or tbl not in routers or "with" in q:
            continue  # derived-FROM/CTE shapes never route
        pr = routers[tbl]
        sql = assemble_sql(q, E._query_type_map(q), dialect="spark")
        df = spark.sql(sql)
        plan_routed = pr.route_df(df)
        dsl_routed = pr.router.route(q)
        if dsl_routed is not None:
            assert plan_routed is not None, (name, pr.last_reason)
        if plan_routed is not None:
            plan_routed_names.append(name)
            a, b = plan_routed.collect(), df.collect()
            if not q.get("order_by"):
                key = lambda r: tuple(  # noqa: E731
                    (v is None, str(v)) for v in r
                )
                a, b = sorted(a, key=key), sorted(b, key=key)
            assert a == b, name
    # the routed family must actually route through the plan path
    # (dsl_hourly_day_between is NOT expected: no rollup carries the
    # `hour` key, so both paths refuse it — agreement, not coverage.)
    for expected in ("dsl_daily_rollup", "dsl_weekly_rollup",
                     "dsl_minute_rollup", "dsl_pricing_summary"):
        assert expected in plan_routed_names, plan_routed_names


def test_plan_router_dataframe_api_path(spark, catalog, tmp_path):
    """DataFrame-API aggregates (no view) route when the below-aggregate
    subtree structurally equals the canonical source frame; any user
    transformation in between (a redefined `day`) refuses."""
    from query_planner_optimizer_spark.plans.catalyst_router import PlanRouter
    from query_planner_optimizer_spark.prepare import build_rollups

    rollups = {"agg_day_etype": {"keys": ["day", "event_type"],
                                 "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "aggs")
    events = catalog.table("events")
    build_rollups(events, agg_dir, rollups)
    pr = PlanRouter(spark, agg_dir, rollups, frame=events)

    df = (events.filter(F.col("event_type") == "click")
          .groupBy("day").agg(F.count(F.lit(1)).alias("n")))
    routed = pr.route_df(df)
    assert routed is not None, pr.last_reason
    assert sorted(routed.collect()) == sorted(df.collect())

    # Redefining a grouping column between source and aggregate must
    # refuse — the subtree is no longer the canonical frame.
    tampered = (events.withColumn("day", F.date_add(F.col("day"), 1))
                .groupBy("day").agg(F.count(F.lit(1)).alias("n")))
    assert pr.route_df(tampered) is None
    assert "source is neither" in pr.last_reason

    # Selecting a column subset also refuses (not the canonical frame).
    pruned = (events.select("day", "value")
              .groupBy("day").agg(F.count(F.lit(1)).alias("n")))
    assert pr.route_df(pruned) is None


def test_plan_router_post_aggregation_arithmetic(spark, catalog, tmp_path):
    """Raw-SQL arithmetic over aggregates (ratio-of-sums, scaled
    ratios, outer ROUND) routes via hidden decomposed aggregate terms
    and a post expression — bit-identical to the unrouted plan, and the
    hidden columns never leak into the output."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    sqls = [
        "SELECT day, round(sum(value), 6) / count(value) AS avg_hand "
        "FROM events GROUP BY day",
        "SELECT day, 100.0 * round(sum(value), 6) / count(*) AS scaled "
        "FROM events WHERE event_type = 'click' GROUP BY day",
        "SELECT day, round(100.0 * round(sum(value), 6) / count(*), 4) "
        "AS r FROM events GROUP BY day",
    ]
    for sql in sqls:
        df, routed = pr.sql(sql)
        assert routed, (sql, pr.last_reason)
        assert df.columns == spark.sql(sql).columns  # no hidden leak
        assert sorted(df.collect()) == sorted(spark.sql(sql).collect())
    # non-numeric arithmetic refuses instead of mistranslating
    df, routed = pr.sql(
        "SELECT day, concat(string(sum(value)), 'x') AS s "
        "FROM events GROUP BY day")
    assert not routed


def test_plan_router_col_vs_col_where(spark, catalog, tmp_path):
    """Raw-SQL column-vs-column WHERE over rollup-covered columns routes
    (both columns in the grain) or refuses (one outside the grain) —
    never mistranslates."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    sql = ("SELECT day, count(*) AS n FROM events "
           "WHERE event_type = event_type GROUP BY day")
    df, routed = pr.sql(sql)
    assert routed, pr.last_reason
    assert sorted(df.collect()) == sorted(spark.sql(sql).collect())
    # value is not in the day/event_type rollup grain -> refuse
    _df, routed2 = pr.sql(
        "SELECT day, count(*) AS n FROM events "
        "WHERE value > user_id GROUP BY day")
    assert not routed2


def test_plan_router_cast_string_date_filter(spark, catalog, tmp_path):
    """CAST(day AS STRING) compared to canonical ISO literals strips
    the cast (fixed-width ISO strings order chronologically) and routes
    bit-equal to the unrouted plan; a non-canonical literal refuses —
    its string semantics aren't expressible on the date domain."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    routable = [
        "CAST(day AS STRING) = '2024-01-03'",
        "CAST(day AS STRING) >= '2024-01-05'",
        "'2024-01-05' < CAST(day AS STRING)",
        "CAST(day AS STRING) IN ('2024-01-03', '2024-01-04')",
    ]
    for pred in routable:
        sql = (f"SELECT day, count(*) AS n FROM events WHERE {pred} "
               "GROUP BY day")
        df, routed = pr.sql(sql)
        assert routed, (pred, pr.last_reason)
        assert sorted(df.collect()) == sorted(spark.sql(sql).collect())
    for pred in ("CAST(day AS STRING) = '2024-1-3'",
                 "CAST(day AS STRING) < 'zzz'",
                 "CAST(day AS STRING) IN ('2024-01-03', 'nope')"):
        sql = (f"SELECT day, count(*) AS n FROM events WHERE {pred} "
               "GROUP BY day")
        df, routed = pr.sql(sql)
        assert not routed, pred
        assert pr.last_reason.startswith("translate"), pr.last_reason


def test_plan_router_view_name_case_insensitive(spark, catalog, tmp_path):
    """Spark resolves identifiers case-insensitively and lower-cases
    them in the analyzed plan; the router's view match must agree, so a
    mixed-case FROM still routes."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    df, routed = pr.sql(
        "SELECT day, count(*) AS n FROM EVENTS GROUP BY day")
    assert routed, pr.last_reason
    sql = "SELECT day, count(*) AS n FROM events GROUP BY day"
    assert sorted(df.collect()) == sorted(spark.sql(sql).collect())


def test_plan_router_nulls_ordering_admitted(spark, catalog, tmp_path):
    """Explicit NULLS FIRST/LAST in raw SQL maps to the DSL order spec
    and routes; result order matches the unrouted plan exactly."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    for tail in ("ORDER BY day DESC NULLS FIRST",
                 "ORDER BY day ASC NULLS LAST",
                 "ORDER BY n DESC NULLS LAST, day"):
        sql = (f"SELECT day, count(*) AS n FROM events GROUP BY day "
               f"{tail} LIMIT 10")
        df, routed = pr.sql(sql)
        assert routed, (tail, pr.last_reason)
        assert df.collect() == spark.sql(sql).collect()


def test_plan_router_pre_r8_avg_spelling_rounds_native(spark, tmp_path):
    """The pre-r8 AVG spelling ROUND(double(SUM)/COUNT, k) rounds its
    UNROUTED plan with native Spark ROUND (half-away-from-zero); the
    routed measure must match bit-for-bit even at a negative
    half-boundary, where native ROUND and the r8 FLOOR half-up idiom
    legitimately differ (-0.125 -> -0.13 vs -0.12). Before the
    __round_native__ flag the router served FLOOR for this spelling,
    silently breaking routed == unrouted at exactly these points."""
    from query_planner_optimizer_spark.plans.catalyst_router import PlanRouter
    from query_planner_optimizer_spark.prepare import build_rollups

    rows = [("2024-01-01", "click", -0.125)] * 8
    ev = (spark.createDataFrame(
            rows, "day string, event_type string, value double")
          .withColumn("day", F.to_date("day")))
    ev.createOrReplaceTempView("events_prev8")
    rollups = {"agg_day_etype": {"keys": ["day", "event_type"],
                                 "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "aggs_prev8")
    build_rollups(ev, agg_dir, rollups)
    pr = PlanRouter(spark, agg_dir, rollups, view="events_prev8",
                    table="events")
    sql = ("SELECT day, CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(38, 12)))"
           " AS DOUBLE) / COUNT(value), 2) AS DOUBLE) AS av "
           "FROM events_prev8 GROUP BY day")
    out, routed = pr.sql(sql)
    assert routed, pr.last_reason
    got = out.collect()
    assert got == spark.sql(sql).collect()
    assert got[0]["av"] == -0.13  # native half-away-from-zero
    # The r8 DSL spelling of the same aggregate keeps the FLOOR half-up
    # contract (toward +inf on negative halves) — both through the scan
    # compiler and through the SAME rollup.
    q = {"select": ["day", {"AVG": "value", "as": "av", "round": 2}],
         "from": "events", "group_by": ["day"]}
    routed_dsl = pr.router.route(q)
    assert routed_dsl is not None
    assert routed_dsl.collect()[0]["av"] == -0.12
    # ... which is also what the r8 FLOOR spelling computes unrouted.
    floor_sql = (
        "SELECT day, FLOOR((CAST(SUM(CAST(value AS DECIMAL(38, 12))) "
        "AS DOUBLE) / COUNT(value)) * CAST(100.0 AS DOUBLE) "
        "+ CAST(0.5 AS DOUBLE)) / CAST(100.0 AS DOUBLE) AS av "
        "FROM events_prev8 GROUP BY day")
    assert spark.sql(floor_sql).collect()[0]["av"] == -0.12


def test_plan_router_negative_floor_scale_refuses(spark, catalog, tmp_path):
    """A FLOOR expression shaped like the AVG idiom but with a
    non-positive divisor must REFUSE (fall back to the original plan),
    not crash with math.log10's ValueError."""
    pr = _mk_plan_router(spark, catalog, tmp_path)
    sql = ("SELECT day, FLOOR(CAST(SUM(CAST(value AS DECIMAL(38, 12))) "
           "AS DOUBLE) / COUNT(value) * CAST(-100 AS DOUBLE) "
           "+ CAST(0.5 AS DOUBLE)) / CAST(-100 AS DOUBLE) AS x "
           "FROM events GROUP BY day")
    df, routed = pr.sql(sql)
    assert not routed
    assert sorted(df.collect()) == sorted(spark.sql(sql).collect())


def test_stale_scale_rollup_refuses_route_and_fold(spark, tmp_path):
    """A rollup dir persisted under a DIFFERENT decimal accumulator
    scale (pre-r8 dirs stored DECIMAL(38,16); current contract is 12)
    must (a) refuse to serve rounded SUM/AVG routes — the stale
    partials carry the old scale's cast noise against the new scan /
    oracle contract — and (b) refuse an incremental fold, which would
    silently widen-and-mix scales (refuse-not-wrong, like the
    corrupted _last_batch guard)."""
    import pytest as _pytest

    from query_planner_optimizer_spark.dsl.compiler import agg_decimal_scale
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import (
        build_rollups, refresh_rollups,
    )

    events = spark.range(200).selectExpr(
        "date_add(DATE'2024-01-01', CAST(id % 7 AS INT)) AS day",
        "CAST(id % 3 AS STRING) AS event_type",
        "CAST(id AS DOUBLE) / 8 AS value",
    )
    rollups = {"agg_d": {"keys": ["day", "event_type"],
                         "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "aggs_stale")
    build_rollups(events, agg_dir, rollups)
    # Simulate a pre-migration dir: rewrite sum_value at scale 16.
    path = f"{agg_dir}/agg_d.parquet"
    stale = spark.read.parquet(path).withColumn(
        "sum_value", F.col("sum_value").cast("decimal(38, 16)"))
    tmp = f"{agg_dir}/agg_d_stale.parquet"
    stale.write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(path)
    shutil.move(tmp, path)
    assert agg_decimal_scale() == 12  # the contract this test pins

    router = RollupRouter(spark, agg_dir, rollups)
    rounded = {"select": ["day", {"AVG": "value", "as": "av", "round": 6}],
               "from": "events", "group_by": ["day"]}
    assert router.route(rounded) is None  # stale scale -> raw scan
    # Scale-independent measures still route fine from the same dir.
    counts = {"select": ["day", {"COUNT": "*", "as": "n"}],
              "from": "events", "group_by": ["day"]}
    assert router.route(counts) is not None

    with _pytest.raises(ValueError, match="accumulator scale"):
        refresh_rollups(spark, events.limit(10), agg_dir, rollups)
