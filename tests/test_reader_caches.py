"""Session-lifetime reader-cache invalidation contract (r9 caches,
r10 verdict ask #6): immutable paths are served from the cross-instance
caches; override (mutable) paths are ALWAYS re-read so swap protocols
observe fresh listings; explicit invalidation evicts by path prefix.
"""

from __future__ import annotations

import os

import pytest

from query_planner_optimizer_spark import catalog as cat_mod
from query_planner_optimizer_spark.catalog import (
    Catalog,
    cached_parquet,
    invalidate_reader_caches,
)


def _write_events(spark, path: str, n: int, base_id: int = 0) -> None:
    spark.range(base_id, base_id + n).selectExpr(
        "id AS event_id",
        "id % 7 AS user_id",
        "CAST(1700000000000 + id * 60000 AS LONG) AS ts",
        "'click' AS event_type",
        "CAST(id AS DOUBLE) AS value",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_immutable_path_cached_across_catalog_instances(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    _write_events(spark, path, 10)
    c1 = Catalog(spark, str(tmp_path), register_views=False)
    c2 = Catalog(spark, str(tmp_path), register_views=False)
    df1 = c1.table("events")
    df2 = c2.table("events")
    # Cross-instance cache: the SAME augmented frame object serves both
    # catalogs (this is the r9 fixed-floor win being pinned).
    assert df1 is df2
    invalidate_reader_caches(str(tmp_path))


def test_invalidate_by_path_observes_fresh_listing(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    _write_events(spark, path, 10)
    c1 = Catalog(spark, str(tmp_path), register_views=False)
    assert c1.table("events").count() == 10
    # Mutate the dir (a rewrite with MORE files / rows), then
    # invalidate: a fresh catalog must see the new listing.
    _write_events(spark, path, 25)
    invalidate_reader_caches(path)
    c2 = Catalog(spark, str(tmp_path), register_views=False)
    assert c2.table("events").count() == 25
    invalidate_reader_caches(str(tmp_path))


def test_invalidate_prefix_covers_parent_and_child(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    _write_events(spark, path, 5)
    cached_parquet(spark, path)
    key_present = any(
        k[1] == os.path.abspath(path) for k in cat_mod._PARQUET_CACHE
    )
    assert key_present
    # Invalidating the PARENT dir evicts entries below it.
    invalidate_reader_caches(str(tmp_path))
    assert not any(
        k[1] == os.path.abspath(path) for k in cat_mod._PARQUET_CACHE
    )


def test_override_path_always_reread(spark, tmp_path):
    """The mutable-dir branch: an override path (rollup/prepare output)
    bypasses the cross-instance cache, so a rewrite between two
    queries through FRESH Catalog instances is observed without any
    invalidation call — the swap-protocol guarantee from `542e246`."""
    path = str(tmp_path / "prepared.parquet")
    _write_events(spark, path, 8)
    ov = {"events": path}
    c1 = Catalog(spark, str(tmp_path), register_views=False, overrides=ov)
    assert c1.table("events").count() == 8
    _write_events(spark, path, 13, base_id=100)
    c2 = Catalog(spark, str(tmp_path), register_views=False, overrides=ov)
    assert c2.table("events").count() == 13
    # And the override frame never landed in the shared cache.
    assert not any(
        k[1] == os.path.abspath(path) for k in cat_mod._AUGMENTED_CACHE
    )


def test_refresh_rollups_invalidates_agg_dir(spark, tmp_path):
    """prepare.refresh_rollups writes under agg_dir; the r10 hook must
    evict any cached reader over that dir so later reads list the
    swapped files."""
    from query_planner_optimizer_spark.prepare import build_rollups

    agg_dir = str(tmp_path / "agg")
    os.makedirs(agg_dir, exist_ok=True)
    src = str(tmp_path / "events.parquet")
    _write_events(spark, src, 20)
    events = Catalog(spark, str(tmp_path), register_views=False).table(
        "events"
    )
    name = "agg_day"
    spec = {name: {"keys": ["day"], "aggs": {"value": ["sum", "count"]}}}
    rollup_path = os.path.join(agg_dir, f"{name}.parquet")
    written = build_rollups(events, agg_dir, spec)
    assert written == [name]
    # Seed the shared cache with the rollup path, then rebuild: the
    # build must evict it (stale listing would FileNotFound or serve
    # old rows after the overwrite).
    cached_parquet(spark, rollup_path)
    build_rollups(events, agg_dir, spec)
    assert not any(
        k[1] == os.path.abspath(rollup_path)
        for k in cat_mod._PARQUET_CACHE
    )
    # Re-read sees the fresh build.
    assert cached_parquet(spark, rollup_path).count() > 0
    invalidate_reader_caches(str(tmp_path))


def test_mutation_token_observes_cross_process_append(spark, tmp_path):
    """r16 (ADVICE medium): a cached reader frame over an append-able
    index dataset must observe files published by a DIFFERENT process
    — one that cannot call this process's invalidate_reader_caches and
    leaves no pending marker behind (the writer's own repair already
    consumed it). The fix is the dir-stat mutation token: simulate the
    foreign publish by renaming a staged part file straight into the
    live dataset dir, exactly what indexstore.repair's publish step
    does."""
    from query_planner_optimizer_spark.operators.indexstore import (
        reader as _index_parquet,
    )

    idx = str(tmp_path / "idx")
    live = os.path.join(idx, "ds")
    spark.range(5).coalesce(1).write.parquet(live)
    df1 = _index_parquet(spark, idx, "ds")
    assert df1.count() == 5
    # Unchanged dir: the cached frame object itself is served.
    assert _index_parquet(spark, idx, "ds") is df1
    # Foreign publish: stage a parquet part elsewhere, rename it in.
    stage = str(tmp_path / "stage")
    spark.range(5, 9).coalesce(1).write.parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.rename(os.path.join(stage, part),
              os.path.join(live, f"part-appended-{part}"))
    # No invalidate call — the token alone must trigger the re-list.
    assert _index_parquet(spark, idx, "ds").count() == 9
    invalidate_reader_caches(idx)


def test_frame_memo_anchor_and_cap(spark):
    """FrameMemo contract: anchor identity gates hits; the LRU cap
    evicts (and unpersists) oldest; clear() empties."""
    from query_planner_optimizer_spark.catalog import FrameMemo

    memo = FrameMemo(cap=2)
    a = spark.range(3)
    f1 = spark.range(1).persist()
    memo.put(("k1",), a, f1)
    assert memo.get(("k1",), anchor=a) is f1
    # A different anchor object under the same key must MISS (recycled
    # id() safety).
    assert memo.get(("k1",), anchor=spark.range(3)) is None
    f2, f3 = spark.range(2).persist(), spark.range(4).persist()
    memo.put(("k2",), a, f2)
    memo.put(("k3",), a, f3)  # evicts k1 (cap=2) and unpersists f1
    assert len(memo) == 2
    assert memo.get(("k1",), anchor=a) is None
    assert f1.storageLevel.useMemory is False
    assert memo.get(("k3",), anchor=a) is f3
    memo.clear()
    assert len(memo) == 0
    assert f3.storageLevel.useMemory is False


def test_invalidate_clears_cte_memo(spark, tmp_path):
    """A write+invalidate under a previously-read dir must not be
    served a stale persisted CTE materialization (r10 advisor): the
    multiply-referenced view memo is registered with
    invalidate_reader_caches and cleared wholesale."""
    from query_planner_optimizer_spark.dsl.compiler import (
        _CTE_CACHE,
        compile_query,
    )

    path = str(tmp_path / "events.parquet")
    _write_events(spark, path, 10)
    q = {"with": {"v": {"select": ["user_id",
                                   {"COUNT": "*", "as": "n"}],
                        "from": "events", "group_by": ["user_id"]}},
         "select": ["user_id", "n"], "from": "v",
         "where": [{"col": "n", "op": "gte",
                    "val": {"subquery": {
                        "select": [{"MIN": "n", "as": "m"}],
                        "from": "v"}}}]}
    c1 = Catalog(spark, str(tmp_path), register_views=False)
    total1 = compile_query(q, c1).agg({"n": "sum"}).collect()[0][0]
    assert total1 == 10
    assert len(_CTE_CACHE) >= 1
    _write_events(spark, path, 25)
    invalidate_reader_caches(path)
    assert len(_CTE_CACHE) == 0
    c2 = Catalog(spark, str(tmp_path), register_views=False)
    total2 = compile_query(q, c2).agg({"n": "sum"}).collect()[0][0]
    assert total2 == 25
    invalidate_reader_caches(str(tmp_path))
