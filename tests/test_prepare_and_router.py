"""End-to-end prepare→query tests on the reference's ad-event data shape.

Generates a deterministic synthetic events CSV (the reference's raw
schema, FIXTURES.md §1), runs the prepare ETL, then executes the
reference's five benchmark queries (FIXTURES.md §3.1) through THREE
paths — base-scan compiler, rollup router, DuckDB-over-CSV oracle —
and asserts all agree. Also proves the router's subsumption logic
rejects the reference's silent-wrong-answer cases (SURVEY.md §4).
"""

from __future__ import annotations

import csv
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from query_planner_optimizer_spark.catalog import Catalog
from query_planner_optimizer_spark.dsl.assembler import assemble_sql
from query_planner_optimizer_spark.dsl.compiler import compile_query
from query_planner_optimizer_spark.plans.router import RollupRouter
from query_planner_optimizer_spark.prepare import prepare
from query_planner_optimizer_spark.runner import QueryRunner

from .conftest import normalize

N_EVENTS = 20_000
COUNTRIES = ["US", "JP", "DE", "IN", "BR", "FR"]
TYPES = ["serve", "impression", "click", "purchase"]


def _gen_events_csv(path: str) -> None:
    rng = random.Random(42)
    base_ts = 1704067200000  # 2024-01-01T00:00:00Z in millis
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["ts", "type", "auction_id", "advertiser_id", "publisher_id",
                    "bid_price", "user_id", "total_price", "country"])
        for i in range(N_EVENTS):
            ts = base_ts + rng.randrange(0, 21 * 24 * 3600 * 1000)  # 3 weeks
            etype = rng.choices(TYPES, weights=[4, 3, 2, 1])[0]
            bid = round(rng.uniform(0.01, 2.0), 4) if etype == "impression" else ""
            total = round(rng.uniform(1, 300), 2) if etype == "purchase" else "null"
            country = rng.choice(COUNTRIES)
            w.writerow([ts, etype, f"a{i % 3000:05d}", rng.randrange(1, 20),
                        rng.randrange(1, 50), bid, rng.randrange(1, 5000),
                        total, country])


BENCHMARK_QUERIES = [
    # 1. daily revenue
    {"select": ["day", {"SUM": "bid_price", "round": 6}], "from": "events",
     "where": [{"col": "type", "op": "eq", "val": "impression"}],
     "group_by": ["day"]},
    # 2. publisher revenue, JP, date range
    {"select": ["publisher_id", {"SUM": "bid_price", "round": 6}], "from": "events",
     "where": [{"col": "type", "op": "eq", "val": "impression"},
               {"col": "country", "op": "eq", "val": "JP"},
               {"col": "day", "op": "between", "val": ["2024-01-05", "2024-01-08"]}],
     "group_by": ["publisher_id"]},
    # 3. avg purchase by country
    {"select": ["country", {"AVG": "total_price", "round": 6}], "from": "events",
     "where": [{"col": "type", "op": "eq", "val": "purchase"}],
     "group_by": ["country"],
     "order_by": [{"col": "AVG(total_price)", "dir": "desc"}]},
    # 4. advertiser x type counts
    {"select": ["advertiser_id", "type", {"COUNT": "*"}], "from": "events",
     "group_by": ["advertiser_id", "type"],
     "order_by": [{"col": "COUNT(*)", "dir": "desc"},
                  {"col": "advertiser_id", "dir": "asc"},
                  {"col": "type", "dir": "asc"}]},
    # 5. minute revenue on one day
    {"select": ["minute", {"SUM": "bid_price", "round": 6}], "from": "events",
     "where": [{"col": "type", "op": "eq", "val": "impression"},
               {"col": "day", "op": "eq", "val": "2024-01-02"}],
     "group_by": ["minute"],
     "order_by": [{"col": "minute", "dir": "asc"}]},
]


@pytest.fixture(scope="module")
def prepared(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("adevents")
    csv_path = str(root / "events_part_0.csv")
    _gen_events_csv(csv_path)
    out = str(root / "optimized")
    res = prepare(spark, csv_path, out)
    cat = Catalog(spark, str(root), register_views=False,
                  overrides={"events": res.partitioned_dir})
    return {"csv": csv_path, "res": res, "catalog": cat}


@pytest.fixture(scope="module")
def ddb_csv(prepared):
    import duckdb

    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW events AS
        SELECT CAST(ts AS BIGINT) AS ts, type, auction_id,
               CAST(advertiser_id AS INT) AS advertiser_id,
               CAST(publisher_id AS INT) AS publisher_id,
               CAST(bid_price AS DOUBLE) AS bid_price,
               CAST(user_id AS BIGINT) AS user_id,
               CAST(total_price AS DOUBLE) AS total_price, country
        FROM read_csv('{prepared["csv"]}', header=true, nullstr=['', 'null'],
                      types={{'ts': 'VARCHAR'}})
    """)
    yield con
    con.close()


@pytest.mark.parametrize("qi", range(len(BENCHMARK_QUERIES)))
def test_benchmark_query_three_ways(qi, spark, prepared, ddb_csv):
    q = BENCHMARK_QUERIES[qi]
    cat = prepared["catalog"]
    type_map = cat.spark_type_map("events")

    # Oracle over the raw CSV view; the assembler's duckdb dialect
    # derives day/week/hour/minute from epoch-millis ts in a CTE.
    oracle_sql = assemble_sql(q, type_map, dialect="duckdb", ts_is_millis=True)
    want = ddb_csv.execute(oracle_sql).fetchdf()

    scan = compile_query(q, cat).toPandas()
    router = RollupRouter(spark, prepared["res"].aggregates_dir)
    routed_df = router.route(q)
    assert routed_df is not None, f"benchmark q{qi + 1} should route to a rollup"
    routed = routed_df.toPandas()

    for got, label in ((scan, "scan"), (routed, "router")):
        assert set(got.columns) == set(want.columns), (label, got.columns)
        pd.testing.assert_frame_equal(
            normalize(got), normalize(want), check_dtype=False,
            check_exact=False, rtol=1e-6,
        )


def test_router_rejects_extra_filter(spark, prepared):
    """Minute-revenue + country filter must NOT route to the minute
    rollup (country not in its grain) — the reference silently dropped
    the filter (query_engine.py:216-232,304-325)."""
    router = RollupRouter(spark, prepared["res"].aggregates_dir)
    q = {"select": ["minute", {"SUM": "bid_price"}], "from": "events",
         "where": [{"col": "type", "op": "eq", "val": "impression"},
                   {"col": "day", "op": "eq", "val": "2024-01-02"},
                   {"col": "country", "op": "eq", "val": "US"}],
         "group_by": ["minute"]}
    assert router.route(q) is None


def test_router_ungrouped_count_empty_filter(spark, prepared):
    """Ungrouped COUNT routed through a rollup must return 0 (not NULL)
    when the WHERE matches no rollup rows — matching the base-path
    F.count semantics and SQL COUNT semantics (differential check)."""
    cat = prepared["catalog"]
    router = RollupRouter(spark, prepared["res"].aggregates_dir)
    q = {"select": [{"COUNT": "*", "as": "n"},
                    {"COUNT": "bid_price", "as": "n_bid"}],
         "from": "events",
         "where": [{"col": "type", "op": "eq", "val": "no_such_type"}]}
    routed_df = router.route(q)
    assert routed_df is not None and router.routed == 1
    routed = routed_df.toPandas()
    base = compile_query(q, cat).toPandas()
    assert routed["n"].iloc[0] == base["n"].iloc[0] == 0
    assert routed["n_bid"].iloc[0] == base["n_bid"].iloc[0] == 0
    # SUM keeps NULL-on-empty semantics on both paths (rounded SUM — the
    # only fractional-SUM shape that routes, see below).
    q2 = {"select": [{"SUM": "bid_price", "as": "s", "round": 6}],
          "from": "events",
          "where": [{"col": "type", "op": "eq", "val": "no_such_type"}]}
    routed2 = router.route(q2).toPandas()
    base2 = compile_query(q2, cat).toPandas()
    assert pd.isna(routed2["s"].iloc[0]) and pd.isna(base2["s"].iloc[0])
    # UNROUNDED fractional SUM/AVG must REFUSE the route: the rollup's
    # exact DECIMAL partial can differ from the scan's order-dependent
    # double sum by an ulp, with no rounding step to absorb it.
    for term in ({"SUM": "bid_price", "as": "s"},
                 {"AVG": "bid_price", "as": "a"}):
        refused = router.route({"select": [term], "from": "events"})
        assert refused is None, f"unrounded fractional {term} must not route"


def test_router_routes_having(spark, prepared):
    """HAVING over derivable aggregate aliases / group keys routes (it's
    a plain filter on the re-aggregated grain-bounded frame); the routed
    result equals the base-path scan result."""
    cat = prepared["catalog"]
    router = RollupRouter(spark, prepared["res"].aggregates_dir)
    q = {"select": ["day", {"SUM": "bid_price", "as": "rev", "round": 6},
                    {"COUNT": "*", "as": "n"}],
         "from": "events",
         "where": [{"col": "type", "op": "eq", "val": "impression"}],
         "group_by": ["day"],
         "having": [{"col": "rev", "op": "gte", "val": 100.0},
                    {"col": "DAY", "op": "is_not_null"}],
         "order_by": ["day"]}
    routed_df = router.route(q)
    assert routed_df is not None and router.routed == 1
    routed = routed_df.toPandas()
    base = compile_query(q, cat).toPandas()
    assert len(routed) > 0
    pd.testing.assert_frame_equal(
        normalize(routed), normalize(base), check_dtype=False,
        check_exact=False, rtol=1e-6,
    )
    # HAVING on a non-derivable reference still refuses.
    q_bad = dict(q, having=[{"col": "no_such", "op": "gte", "val": 1}])
    assert router.route(q_bad) is None


def test_router_count_distinct_key_routes_measure_refuses(
        spark, prepared):
    """COUNT(DISTINCT x) routes iff x is a GROUPING KEY of a rollup
    (the key column carries every distinct value the base group has —
    r6 extension); over a measure column it still refuses (multiplicity
    is lost in sum/count partials)."""
    router = RollupRouter(spark, prepared["res"].aggregates_dir)
    q = {"select": ["day", {"COUNT_DISTINCT": "publisher_id", "as": "n"}],
         "from": "events",
         "where": [{"col": "type", "op": "eq", "val": "impression"}],
         "group_by": ["day"]}
    routed = router.route(q)
    assert routed is not None
    assert router.last_rollup == "agg_publisher_day_country"
    cat = prepared["catalog"]
    from query_planner_optimizer_spark.dsl.compiler import compile_query

    from .conftest import normalize

    got, want = (normalize(routed.toPandas()),
                 normalize(compile_query(q, cat).toPandas()))
    pd.testing.assert_frame_equal(got, want)
    q_measure = {**q, "select": ["day", {"COUNT_DISTINCT": "bid_price",
                                         "as": "n"}]}
    assert router.route(q_measure) is None


def test_router_rejects_min_max(spark, prepared):
    router = RollupRouter(spark, prepared["res"].aggregates_dir)
    q = {"select": ["day", {"MIN": "bid_price"}], "from": "events",
         "where": [{"col": "type", "op": "eq", "val": "impression"}],
         "group_by": ["day"]}
    assert router.route(q) is None


def test_router_rejects_row_level_select(spark, prepared):
    router = RollupRouter(spark, prepared["res"].aggregates_dir)
    q = {"select": ["day", "country"], "from": "events"}
    assert router.route(q) is None


def test_runner_end_to_end_with_cache(spark, prepared, tmp_path):
    runner = QueryRunner(spark, prepared["catalog"],
                         aggregates_dir=prepared["res"].aggregates_dir)
    out = str(tmp_path / "results")
    report = runner.run(BENCHMARK_QUERIES, out_dir=out)
    assert all(r.error is None for r in report.runs)
    assert all(r.routed for r in report.runs)
    # cached second run
    report2 = runner.run(BENCHMARK_QUERIES)
    assert all(r.cached for r in report2.runs)
    assert report2.total_seconds < report.total_seconds
    # CSV artifacts exist with headers
    with open(f"{out}/q1.csv") as f:
        header = f.readline().strip().split(",")
    assert header[0] == "day"


def test_runner_streams_big_results(spark, prepared, tmp_path):
    """Above collect_threshold, results stream to CSV via toLocalIterator
    (bounded driver memory) instead of a full collect; the report keeps
    the true cardinality plus a bounded preview and skips the cache."""
    runner = QueryRunner(spark, prepared["catalog"], collect_threshold=50)
    q = {"select": ["type", "auction_id"], "from": "events"}
    out = str(tmp_path / "big")
    report = runner.run([q], out_dir=out)
    run = report.runs[0]
    assert run.error is None and run.spilled
    expected = prepared["catalog"].table("events").count()
    assert run.total_rows == expected > 50
    assert len(run.rows) <= 1000  # preview only
    with open(f"{out}/q1.csv") as f:
        n_lines = sum(1 for _ in f)
    assert n_lines == expected + 1  # header + all rows
    # Spilled results bypass the in-memory cache.
    assert runner.run_one(q).cached is False


def test_runner_isolates_errors(spark, prepared):
    runner = QueryRunner(spark, prepared["catalog"])
    report = runner.run([{"select": ["nope"], "from": "events"},
                         BENCHMARK_QUERIES[0]])
    assert report.runs[0].error is not None
    assert report.runs[1].error is None and len(report.runs[1].rows) > 0


def test_session_skips_call_site_capture_and_keeps_error_isolation(
        spark, prepared):
    """get_spark turns pyspark's per-call Python call-site capture off;
    an invalid query still comes back as a QueryRun naming the fault."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    runner = QueryRunner(spark, prepared["catalog"])
    run = runner.run_one({"select": ["type"], "from": "events",
                          "where": [{"col": "no_such_col", "op": "eq",
                                     "val": 1}]})
    assert run.error is not None and "no_such_col" in run.error
    assert run.rows == [] and run.columns == []


def test_prepared_layout_is_hive_partitioned(prepared):
    import glob
    import os

    part = prepared["res"].partitioned_dir
    type_dirs = sorted(
        os.path.basename(p) for p in glob.glob(f"{part}/type=*")
    )
    assert type_dirs == ["type=click", "type=impression", "type=purchase",
                         "type=serve"]
    assert glob.glob(f"{part}/type=impression/day=*/*.parquet")


def test_router_lineitem_pricing_rollup(spark, catalog, tmp_path):
    """A table-scoped rollup (lineitem pricing grain) routes the pricing
    summary and re-aggregates to exactly the scan result; queries on
    other tables never touch it."""
    from query_planner_optimizer_spark.dsl.compiler import compile_query
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import (
        DRIVER_EVENTS_ROLLUPS,
        build_rollups,
    )
    from __spark_entry__ import DSL_QUERIES

    agg_dir = str(tmp_path / "aggs")
    written = build_rollups(
        catalog.table("events"),
        agg_dir,
        DRIVER_EVENTS_ROLLUPS,
        tables={"lineitem": catalog.table("lineitem")},
    )
    assert "agg_lineitem_pricing" in written
    router = RollupRouter(spark, agg_dir, DRIVER_EVENTS_ROLLUPS)

    q = DSL_QUERIES["dsl_pricing_summary"]
    routed = router.route(q)
    assert routed is not None and router.routed == 1
    direct = compile_query(q, catalog)
    assert [r.asDict() for r in routed.collect()] == [
        r.asDict() for r in direct.collect()
    ]

    # Same shape against events must NOT use the lineitem rollup.
    q_events = DSL_QUERIES["dsl_groupby_sum"]
    r2 = router.route(q_events)
    if r2 is not None:
        assert router.tables["agg_lineitem_pricing"] == "lineitem"


def test_cli_prepare_and_run(spark, tmp_path):
    """python -m query_planner_optimizer_spark prepare/run, in-process:
    the reference user's two-phase workflow end to end.

    The CLI's Catalog registers temp views (real CLI runs own their
    session); in this SHARED test session those views clobber the
    driver-testdata views other test modules registered — drop them
    afterwards so test order cannot change results."""
    import query_planner_optimizer_spark.__main__ as cli

    root = tmp_path
    csv_path = str(root / "events_part_0.csv")
    _gen_events_csv(csv_path)
    opt = str(root / "optimized")
    out = str(root / "results")

    try:
        assert cli.main(["prepare", "--data-dir", csv_path,
                         "--optimized-dir", opt]) == 0
        assert cli.main(["run", "--optimized-dir", opt,
                         "--out-dir", out]) == 0
        import csv as _csv
        for i in range(1, 6):
            path = f"{out}/q{i}.csv"
            with open(path) as f:
                rows = list(_csv.reader(f))
            assert len(rows) >= 1, path  # header always present
        # q1 (daily revenue) must have data rows on the synthetic corpus.
        with open(f"{out}/q1.csv") as f:
            assert len(list(_csv.reader(f))) > 1

        # --queries-file override path.
        import json
        qf = str(root / "queries.json")
        with open(qf, "w") as f:
            json.dump([BENCHMARK_QUERIES[0]], f)
        out2 = str(root / "results2")
        assert cli.main(["run", "--optimized-dir", opt, "--out-dir", out2,
                         "--queries-file", qf]) == 0
        with open(f"{out2}/q1.csv") as f:
            assert len(list(_csv.reader(f))) > 1
    finally:
        spark.catalog.dropTempView("events")


def test_compact_small_files(spark, catalog, tmp_path):
    """64 tiny files → one right-sized file, identical data."""
    import glob

    from query_planner_optimizer_spark.prepare import compact

    src = str(tmp_path / "small")
    events = catalog.table("events").select("event_id", "ts", "value")
    events.repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64

    out = str(tmp_path / "compacted")
    n = compact(spark, src, out, target_mb=128)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == n == 1
    assert spark.read.parquet(out).count() == events.count()
    got = spark.read.parquet(out).agg(
        F.sum("value"), F.sum("event_id")
    ).collect()[0]
    want = events.agg(F.sum("value"), F.sum("event_id")).collect()[0]
    assert abs(got[0] - want[0]) < 1e-6  # float sum order differs
    assert got[1] == want[1]


def test_router_refuses_median(spark, prepared):
    """MEDIAN never routes: order statistics don't re-aggregate from
    sum/count partials."""
    router = RollupRouter(spark, prepared["res"].aggregates_dir)
    q = {"select": ["type", {"MEDIAN": "bid_price", "as": "m"}],
         "from": "events", "group_by": ["type"]}
    assert router.route(q) is None


def test_sort_layout_disjoint_file_ranges(spark, catalog, tmp_path):
    """Range-clustered layout: per-file ts min/max footers must be
    (near-)disjoint and ordered — the property parquet file skipping
    needs — and the data must round-trip unchanged."""
    import glob

    import pyarrow.parquet as pq

    from query_planner_optimizer_spark.prepare import sort_layout

    events = catalog.table("events").select("event_id", "ts_dt", "value")
    out = str(tmp_path / "sorted_events")
    sort_layout(events, out, ["ts_dt"], n_files=8)

    spans = []
    for f in sorted(glob.glob(f"{out}/*.parquet")):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "ts_dt"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    assert len(spans) > 1
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {hi1} > {lo2}"

    back = spark.read.parquet(out)
    assert back.count() == events.count()
    # A narrow range predicate returns identical rows on both layouts.
    lo = events.agg({"ts_dt": "min"}).collect()[0][0]
    import datetime

    hi = lo + datetime.timedelta(hours=6)
    a = {r.event_id for r in events.filter(events.ts_dt < hi).collect()}
    b = {r.event_id for r in back.filter(back.ts_dt < hi).collect()}
    assert a == b


def test_incremental_refresh_bit_identical_to_rebuild(spark, tmp_path):
    """refresh_rollups over an appended slice produces a rollup table
    bit-identical to a from-scratch rebuild (decimal partials merge
    associatively), and a second refresh keeps merging correctly."""
    from .conftest import SF_DIR
    from query_planner_optimizer_spark.prepare import (
        build_rollups,
        refresh_rollups,
        rollup_frame,
    )

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    days = sorted(r.day for r in events.select("day").distinct().collect())
    cut1, cut2 = days[len(days) // 3], days[2 * len(days) // 3]
    spec = {"agg_day_etype": {"keys": ["day", "event_type"],
                              "aggs": {"value": ["sum", "count"]}}}

    inc_dir = str(tmp_path / "inc")
    build_rollups(events.filter(F.col("day") <= F.lit(cut1)), inc_dir, spec)
    refresh_rollups(
        spark,
        events.filter((F.col("day") > F.lit(cut1))
                      & (F.col("day") <= F.lit(cut2))),
        inc_dir, spec,
    )
    refresh_rollups(
        spark, events.filter(F.col("day") > F.lit(cut2)), inc_dir, spec
    )

    got = spark.read.parquet(f"{inc_dir}/agg_day_etype.parquet")
    want = rollup_frame(events, ["day", "event_type"],
                        {"value": ["sum", "count"]})
    key = ["day", "event_type"]
    g = {tuple(str(r[k]) for k in key): (r.n_rows, r.sum_value, r.count_value)
         for r in got.collect()}
    w = {tuple(str(r[k]) for k in key): (r.n_rows, r.sum_value, r.count_value)
         for r in want.collect()}
    assert g == w  # decimal partials → exact equality, not approx


def test_refresh_swap_recovery_and_file_typed_aside(spark, tmp_path):
    """Crash-recovery invariants of the refresh swap: (1) a stranded
    ``.refresh_old`` aside with the main path missing is renamed back by
    recover_rollup_swap (and by RollupRouter.__init__), so a crash
    between the two renames never silently drops the rollup; (2) a
    stale aside that is a plain FILE (not a dir) is removed, not
    rmtree-no-op'd, so the next swap's rename cannot collide."""
    import os
    import shutil

    from .conftest import SF_DIR
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import (
        build_rollups,
        recover_rollup_swap,
        refresh_rollups,
    )

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    spec = {"agg_day_etype": {"keys": ["day", "event_type"],
                              "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "agg")
    build_rollups(events, agg_dir, spec)
    path = os.path.join(agg_dir, "agg_day_etype.parquet")

    # (1) Simulate a crash after rename(path, aside): path gone, aside holds
    # the old data. Recovery must put it back.
    os.rename(path, path + ".refresh_old")
    assert recover_rollup_swap(path) is True
    assert os.path.exists(path) and not os.path.exists(path + ".refresh_old")

    # Same crash state healed implicitly by router construction.
    os.rename(path, path + ".refresh_old")
    router = RollupRouter(spark, agg_dir, spec)
    assert os.path.exists(path)
    assert router.route({"select": ["day", {"SUM": "value", "as": "s",
                                            "round": 6}],
                         "from": "events", "group_by": ["day"]}) is not None

    # (2) A file-typed stale aside must not break the next refresh swap.
    with open(path + ".refresh_old", "w") as fh:
        fh.write("stale non-directory aside")
    refresh_rollups(spark, events.limit(100), agg_dir, spec)
    assert os.path.isdir(path)  # swap completed
    assert not os.path.exists(path + ".refresh_old")
    shutil.rmtree(agg_dir)


def test_router_invalidate_after_refresh(spark, tmp_path):
    """A router that outlives refresh_rollups pins cached frames/counts;
    invalidate() drops both so the next route sees the refreshed data."""
    from .conftest import SF_DIR
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import (
        build_rollups,
        refresh_rollups,
    )

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    days = sorted(r.day for r in events.select("day").distinct().collect())
    cut = days[len(days) // 2]
    spec = {"agg_day_etype": {"keys": ["day", "event_type"],
                              "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "agg")
    build_rollups(events.filter(F.col("day") <= F.lit(cut)), agg_dir, spec)

    q = {"select": [{"COUNT": "*", "as": "cnt"}], "from": "events"}
    router = RollupRouter(spark, agg_dir, spec)
    before = router.route(q).collect()[0]["cnt"]

    refresh_rollups(spark, events.filter(F.col("day") > F.lit(cut)),
                    agg_dir, spec)
    router.invalidate()
    after = router.route(q).collect()[0]["cnt"]
    assert before < after == events.count()


def test_prepare_fast_profile(spark, prepared, tmp_path):
    """--fast profile parity (reference prepare_ultra_fast.py): zstd
    level 1 + bigger row groups + ONLY the three essential rollups.
    The partitioned data itself is bit-equal in content (compression is
    codec-level only), level-1 output is measurably larger on disk than
    the level-3 default, and the router still routes the essential
    patterns while falling back (loudly, by returning None) on the
    grains the fast profile skips."""
    import os

    from query_planner_optimizer_spark.prepare import PREPARE_PROFILES

    out = str(tmp_path / "fast_optimized")
    res = prepare(spark, prepared["csv"], out, profile="fast")

    # essential-only rollup subset
    assert sorted(res.rollups) == sorted(
        PREPARE_PROFILES["fast"]["rollup_subset"])

    def _tree_bytes(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        )

    fast_b = _tree_bytes(res.partitioned_dir)
    default_b = _tree_bytes(prepared["res"].partitioned_dir)
    # zstd level 1 compresses less than level 3 — proves the codec-level
    # option reaches parquet-mr (identical rows either way).
    assert fast_b > default_b

    fast = spark.read.parquet(res.partitioned_dir)
    dflt = spark.read.parquet(prepared["res"].partitioned_dir)
    assert fast.count() == dflt.count()

    router = RollupRouter(spark, res.aggregates_dir)
    routed = router.route(BENCHMARK_QUERIES[0])        # daily revenue
    assert routed is not None
    skipped = router.route(BENCHMARK_QUERIES[4])       # minute grain
    assert skipped is None and router.fallbacks >= 1


def test_cli_sql_routes_and_falls_back(spark, tmp_path, capsys):
    """`python -m query_planner_optimizer_spark sql`: raw SQL text gets
    the Catalyst-plan-level rollup rewrite when a prepared rollup
    subsumes it, falls back to a scan otherwise, and both paths write
    the same distributed CSV shape."""
    import csv as _csv
    import glob

    import query_planner_optimizer_spark.__main__ as cli

    csv_path = str(tmp_path / "events_part_0.csv")
    _gen_events_csv(csv_path)
    opt = str(tmp_path / "optimized")
    try:
        assert cli.main(["prepare", "--data-dir", csv_path,
                         "--optimized-dir", opt]) == 0
        out = str(tmp_path / "sql_out")
        assert cli.main([
            "sql", "SELECT day, count(*) AS n FROM events GROUP BY day",
            "--optimized-dir", opt, "--out", out,
        ]) == 0
        captured = capsys.readouterr().out
        assert "[routed via " in captured
        rows = []
        for part in glob.glob(f"{out}/part-*.csv"):
            with open(part) as f:
                rows += [r for r in _csv.reader(f) if r]
        assert any(r == ["day", "n"] for r in rows)
        assert len(rows) > 1

        # Unroutable shape (DISTINCT aggregate) must fall back, not fail.
        assert cli.main([
            "sql",
            "SELECT day, count(DISTINCT user_id) AS u FROM events GROUP BY day",
            "--optimized-dir", opt,
        ]) == 0
        assert "[scan (" in capsys.readouterr().out
    finally:
        spark.catalog.dropTempView("events")


def test_router_serves_post_aggregation_terms(spark, catalog, tmp_path):
    """Post-aggregation expressions route: the inner aggregate is served
    from the rollup, the ratio projected on top — identical to the scan
    path; an unroutable inner aggregate (MEDIAN) still refuses."""
    from query_planner_optimizer_spark.dsl.compiler import compile_query
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import build_rollups

    rollups = {"agg_day_etype": {"keys": ["day", "event_type"],
                                 "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "aggs")
    build_rollups(catalog.table("events"), agg_dir, rollups)
    router = RollupRouter(spark, agg_dir, rollups)
    q = {"select": ["day",
                    {"SUM": "value", "as": "sv", "round": 6},
                    {"COUNT": "*", "as": "n"},
                    {"post": {"op": "div", "args": ["sv", "n"]},
                     "as": "per_event", "round": 6}],
         "from": "events", "group_by": ["day"], "order_by": ["day"]}
    routed = router.route(q)
    assert routed is not None and router.routed == 1
    assert [tuple(r) for r in routed.collect()] == \
        [tuple(r) for r in compile_query(q, catalog).collect()]
    unroutable = {"select": [{"MEDIAN": "value", "as": "m"},
                             {"post": {"op": "mul", "args": ["m", 2]},
                              "as": "m2"}],
                  "from": "events"}
    assert router.route(unroutable) is None


def test_cli_explain_shows_plan_and_route(spark, tmp_path, capsys):
    """`explain` prints the routing decision, the spark-sql twin when
    asked, and a formatted physical plan — without executing."""
    import json as _json

    import query_planner_optimizer_spark.__main__ as cli

    q = {"select": ["event_type", {"SUM": "value", "as": "sv",
                                   "round": 6}],
         "from": "events", "group_by": ["event_type"]}
    qf = str(tmp_path / "q.json")
    with open(qf, "w") as f:
        _json.dump(q, f)
    from .conftest import SF_DIR as _sfdir

    assert cli.main(["explain", "--query-file", qf,
                     "--data-dir", _sfdir, "--sql"]) == 0
    out = capsys.readouterr().out
    assert "-- route: scan" in out
    assert "Physical Plan" in out
    assert "GROUP BY event_type" in out
    # prepared dir: the same aggregate routes
    csv_path = str(tmp_path / "events_part_0.csv")
    _gen_events_csv(csv_path)
    opt = str(tmp_path / "optimized")
    assert cli.main(["prepare", "--data-dir", csv_path,
                     "--optimized-dir", opt]) == 0
    assert cli.main([
        "explain", "--optimized-dir", opt,
        "--query", _json.dumps({
            "select": ["day", {"SUM": "bid_price", "round": 6}],
            "from": "events", "group_by": ["day"]}),
    ]) == 0
    assert "-- route: routed" in capsys.readouterr().out


def test_minmax_partials_route_and_merge(spark, catalog, tmp_path):
    """MIN/MAX rollup partials: routed answer equals the scan path, and
    an incremental refresh (half + half) merges min/max partials
    bit-identically to a full rebuild."""
    import pandas as pd

    from query_planner_optimizer_spark.dsl.compiler import compile_query
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import (
        build_rollups,
        refresh_rollups,
    )
    from .conftest import normalize

    events = catalog.table("events")
    rollups = {"agg_et_mm": {"keys": ["day", "event_type"],
                             "aggs": {"value": ["sum", "count",
                                                "min", "max"]}}}
    q = {"select": ["event_type",
                    {"MIN": "value", "as": "min_value", "round": 6},
                    {"MAX": "value", "as": "max_value", "round": 6}],
         "from": "events", "group_by": ["event_type"],
         "order_by": ["event_type"]}
    full_dir = str(tmp_path / "full")
    build_rollups(events, full_dir, rollups)
    router = RollupRouter(spark, full_dir, rollups)
    routed = router.route(q)
    assert routed is not None and router.routed == 1
    assert [tuple(r) for r in routed.collect()] == \
        [tuple(r) for r in compile_query(q, catalog).collect()]
    # incremental: first half then refresh with second half
    inc_dir = str(tmp_path / "inc")
    h0 = events.filter(F.col("event_id") % 2 == 0)
    h1 = events.filter(F.col("event_id") % 2 == 1)
    build_rollups(h0, inc_dir, rollups)
    refresh_rollups(spark, h1, inc_dir, rollups)
    merged = spark.read.parquet(f"{inc_dir}/agg_et_mm.parquet").toPandas()
    rebuilt = spark.read.parquet(f"{full_dir}/agg_et_mm.parquet").toPandas()
    pd.testing.assert_frame_equal(normalize(merged), normalize(rebuilt))


def test_router_time_grain_derivation(spark, prepared):
    """r6 subsumption extensions: (a) a day-filtered minute-grain query
    routes onto the minute rollup even though `day` is only derivable
    (prefix of the minute string); (b) a week-grouped query routes onto
    a day-keyed rollup via the Monday-truncation derivation; (c) MIN/
    MAX over a key column route with no stored partial. Every routed
    answer equals the raw-scan compile."""
    from query_planner_optimizer_spark.dsl.compiler import compile_query

    from .conftest import normalize

    router = RollupRouter(spark, prepared["res"].aggregates_dir)
    cat = prepared["catalog"]
    cases = [
        # (a) is served directly by agg_minute_day_type (day IS a key
        # there), so drop day from that rollup's keys to force the
        # derivation path instead: use week-from-day on pattern 1.
        {"select": ["week", {"SUM": "bid_price", "as": "rev",
                             "round": 4}],
         "from": "events",
         "where": [{"col": "type", "op": "eq", "val": "impression"}],
         "group_by": ["week"], "order_by": ["week"]},
        # (c) MIN/MAX over the day key, grouped by type
        {"select": ["type", {"MIN": "day", "as": "first_day"},
                    {"MAX": "day", "as": "last_day"},
                    {"COUNT": "*", "as": "n"}],
         "from": "events", "group_by": ["type"],
         "order_by": ["type"]},
        # or/not tree over grain keys (previously refused: the plain-
        # column walk returned None for tree nodes)
        {"select": ["day", {"COUNT": "*", "as": "n"}],
         "from": "events",
         "where": [{"or": [{"col": "type", "op": "eq",
                            "val": "impression"},
                           {"not": {"col": "country", "op": "eq",
                                    "val": "US"}}]}],
         "group_by": ["day"], "order_by": ["day"]},
    ]
    for q in cases:
        routed = router.route(q)
        assert routed is not None, q
        got = normalize(routed.toPandas())
        want = normalize(compile_query(q, cat).toPandas())
        pd.testing.assert_frame_equal(got, want)
    # week grouping + a MINUTE-grain filter must still refuse on the
    # day rollup (minute is finer than any day-keyed grain) when no
    # minute rollup subsumes the other columns.
    refuse = {"select": ["week", {"SUM": "total_price", "as": "r",
                                  "round": 4}],
              "from": "events",
              "where": [{"col": "minute", "op": "eq",
                         "val": "2024-01-02 10:00"},
                        {"col": "country", "op": "eq", "val": "US"}],
              "group_by": ["week"]}
    assert router.route(refuse) is None


def test_hll_rollup_partial_routes_and_bounds(spark, catalog, tmp_path):
    """HLL sketch rollup partial (r6): the routed
    union-of-sketches estimate EQUALS the scan path's
    sketch-then-estimate bit-for-bit (register state is
    order-independent; union-of-parts == sketch-of-whole), lands
    within the documented 5% bound of the exact count, exact
    COUNT_DISTINCT still refuses (approximation must be asked for by
    name), and APPROX refuses when no hll partial is stored. The
    assembler refuses an SQL twin (engine-specific sketch)."""
    from query_planner_optimizer_spark.dsl.compiler import QueryError
    from query_planner_optimizer_spark.prepare import build_rollups

    events = catalog.table("events")
    agg_dir = str(tmp_path / "hll_rollups")
    rollups = {"agg_day_etype_hll": {
        "keys": ["day", "event_type"],
        "aggs": {"value": ["sum", "count"], "user_id": ["hll"]},
    }}
    build_rollups(events, agg_dir, rollups)
    router = RollupRouter(spark, agg_dir, rollups)
    q = {"select": ["event_type",
                    {"APPROX_COUNT_DISTINCT": "user_id", "as": "n_est"}],
         "from": "events", "group_by": ["event_type"],
         "order_by": ["event_type"]}
    routed = router.route(q)
    assert routed is not None
    got = routed.toPandas()
    scan = compile_query(q, catalog).toPandas()
    pd.testing.assert_frame_equal(got, scan)  # identical, not close
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n")).toPandas().set_index(
        "event_type")["n"]
    for _, row in got.iterrows():
        assert abs(row["n_est"] - exact[row["event_type"]]) <= \
            0.05 * exact[row["event_type"]]
    # exact distinct never routes onto the sketch
    q_exact = {"select": ["event_type",
                          {"COUNT_DISTINCT": "user_id", "as": "n"}],
               "from": "events", "group_by": ["event_type"]}
    assert router.route(q_exact) is None
    # no hll partial for value -> refuse
    q_nosketch = {"select": ["event_type",
                             {"APPROX_COUNT_DISTINCT": "value",
                              "as": "n"}],
                  "from": "events", "group_by": ["event_type"]}
    assert router.route(q_nosketch) is None
    with pytest.raises(QueryError):
        assemble_sql(q, catalog.spark_type_map("events"),
                     dialect="duckdb")


def test_hll_rollup_incremental_refresh_equals_rebuild(
        spark, catalog, tmp_path):
    """Splitting the data into build + refresh slices and merging HLL
    partials via hll_union_agg serves the IDENTICAL routed estimate as
    a from-scratch rebuild (register state is associative; serialized
    bytes may differ by sketch storage mode, estimates may not)."""
    from query_planner_optimizer_spark.prepare import (
        build_rollups, refresh_rollups,
    )

    events = catalog.table("events")
    cut = events.select(F.min("day"), F.max("day")).first()
    mid = cut[0] + (cut[1] - cut[0]) / 2
    rollups = {"agg_day_etype_hll": {
        "keys": ["day", "event_type"],
        "aggs": {"user_id": ["hll"]},
    }}
    q = {"select": ["event_type",
                    {"APPROX_COUNT_DISTINCT": "user_id", "as": "n_est"}],
         "from": "events", "group_by": ["event_type"],
         "order_by": ["event_type"]}

    full_dir = str(tmp_path / "full")
    build_rollups(events, full_dir, rollups)
    incr_dir = str(tmp_path / "incr")
    build_rollups(events.filter(F.col("day") <= F.lit(mid)),
                  incr_dir, rollups)
    refreshed = refresh_rollups(
        spark, events.filter(F.col("day") > F.lit(mid)), incr_dir,
        rollups)
    assert refreshed == ["agg_day_etype_hll"]
    full = RollupRouter(spark, full_dir, rollups).route(q)
    incr = RollupRouter(spark, incr_dir, rollups).route(q)
    assert full is not None and incr is not None
    pd.testing.assert_frame_equal(full.toPandas(), incr.toPandas())


def test_hist_quantile_routes_accuracy_and_refresh(spark, tmp_path):
    """Histogram-quantile partials end-to-end: (a) the routed estimate
    is BITWISE equal to the scan form (same exact integer cums, same
    IEEE combine); (b) the estimate lands within one bin width of the
    exact quantile for in-range data; (c) incremental refresh merges
    hist arrays elementwise to the exact rebuild counts; (d) a rollup
    without the hist partial refuses to serve the quantile."""
    from .conftest import SF_DIR
    from query_planner_optimizer_spark.dsl.compiler import compile_query
    from query_planner_optimizer_spark.functions.histq import bin_width
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import (
        build_rollups,
        refresh_rollups,
        rollup_frame,
    )

    cat = Catalog(spark, SF_DIR, register_views=False)
    events = cat.table("events")
    spec = {"agg_day_etype_hist": {"keys": ["day", "event_type"],
                                   "aggs": {"value": ["sum", "count",
                                                      "hist"]}}}
    agg_dir = str(tmp_path / "aggs")
    build_rollups(events, agg_dir, spec)
    router = RollupRouter(spark, agg_dir, spec)
    q = {"select": ["event_type",
                    {"APPROX_P50": "value", "as": "p50_est"},
                    {"APPROX_P90": "value", "as": "p90_est"}],
         "from": "events", "group_by": ["event_type"]}
    routed = router.route(q)
    assert routed is not None and router.routed == 1
    got = sorted(routed.collect())
    assert got == sorted(compile_query(q, cat).collect())  # bitwise

    # (b) error bound: ≤ one bin width vs the exact order statistic
    w = bin_width("value")
    exact = {r.event_type: (r.p50, r.p90) for r in events.groupBy(
        "event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90")).collect()}
    for r in got:
        e50, e90 = exact[r.event_type]
        assert abs(r.p50_est - e50) <= w, (r.event_type, r.p50_est, e50)
        assert abs(r.p90_est - e90) <= w, (r.event_type, r.p90_est, e90)

    # (c) incremental refresh == rebuild, elementwise-exact hist arrays
    days = sorted(r.day for r in events.select("day").distinct().collect())
    cut = days[len(days) // 2]
    inc_dir = str(tmp_path / "inc")
    build_rollups(events.filter(F.col("day") <= F.lit(cut)), inc_dir, spec)
    refresh_rollups(spark, events.filter(F.col("day") > F.lit(cut)),
                    inc_dir, spec)
    got_h = {(str(r.day), r.event_type): list(r.hist_value)
             for r in spark.read.parquet(
                 f"{inc_dir}/agg_day_etype_hist.parquet").collect()}
    want_h = {(str(r.day), r.event_type): list(r.hist_value)
              for r in rollup_frame(
                  events, ["day", "event_type"],
                  {"value": ["hist"]}).collect()}
    assert got_h == want_h

    # (d) no hist partial stored -> quantile refuses (falls back)
    plain_spec = {"agg_day_etype": {"keys": ["day", "event_type"],
                                    "aggs": {"value": ["sum", "count"]}}}
    plain_dir = str(tmp_path / "plain")
    build_rollups(events, plain_dir, plain_spec)
    r2 = RollupRouter(spark, plain_dir, plain_spec)
    assert r2.route(q) is None


def test_approx_quantile_requires_bin_spec(spark):
    """APPROX_P* over a column without a HIST_BINS entry refuses loudly
    in both twins (compiler and assembler)."""
    import pytest

    from .conftest import SF_DIR
    from query_planner_optimizer_spark.dsl.assembler import assemble_sql
    from query_planner_optimizer_spark.dsl.compiler import (
        QueryError,
        compile_query,
    )

    cat = Catalog(spark, SF_DIR, register_views=False)
    q = {"select": [{"APPROX_P90": "user_id", "as": "p"}],
         "from": "events"}
    with pytest.raises(QueryError, match="HIST_BINS"):
        compile_query(q, cat)
    tm = {f.name: f.dataType for f in cat.table("events").schema.fields}
    with pytest.raises(QueryError, match="HIST_BINS"):
        assemble_sql(q, tm, dialect="duckdb")
