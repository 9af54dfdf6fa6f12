"""Persisted BM25 serving index (operators/textindex.py).

Load-bearing properties: (1) build+append serves scores IDENTICAL to a
full rebuild AND to the one-shot relevance.bm25_scores recompute — the
append path has no staleness by construction; (2) probes prune the
postings scan to the query terms' buckets (PartitionFilters) with the
term filter pushed; (3) a torn append heals on next touch and can
never serve postings whose stats delta didn't land.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from query_planner_optimizer_spark.operators import indexstore
from query_planner_optimizer_spark.operators import textindex as tix
from query_planner_optimizer_spark.operators.relevance import bm25_scores

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_build_append_equals_rebuild_and_recompute(spark, docs):
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d_inc = tempfile.mkdtemp(prefix="qpo_tix_inc_")
    tix.build_text_index(corpus, d_inc)
    tix.append_to_text_index(spark, shard, d_inc)
    d_full = tempfile.mkdtemp(prefix="qpo_tix_full_")
    tix.build_text_index(docs, d_full)
    got_inc = _rows(tix.bm25_index_scores(spark, d_inc))
    got_full = _rows(tix.bm25_index_scores(spark, d_full))
    assert got_inc == got_full and len(got_inc) > 0
    # and both equal the one-shot corpus recompute (identical rounding
    # contract; avgdl via exact integer sum in the index path)
    got_live = _rows(bm25_scores(docs))
    assert got_inc == got_live


def test_stats_deltas_are_exact_after_append(spark, docs):
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_tix_stats_")
    tix.build_text_index(corpus, d)
    tix.append_to_text_index(spark, shard, d)
    row = tix.text_index_stats(spark, d).collect()[0]
    from query_planner_optimizer_spark.functions.textexpr import tokens

    lens = docs.select(F.size(tokens(F.col("text"))).alias("dl"))
    want_docs = docs.count()
    want_sum = lens.agg(F.sum("dl")).collect()[0][0]
    assert row["n_docs"] == want_docs
    assert row["sum_dl"] == want_sum
    # two stats delta rows on disk (build + append), summed at probe
    vdir = indexstore.current_version_dir(d)
    deltas = spark.read.parquet(os.path.join(vdir, "stats"))
    assert deltas.count() == 2


def test_probe_prunes_to_matched_buckets(spark, docs):
    d = tempfile.mkdtemp(prefix="qpo_tix_prune_")
    tix.build_text_index(docs, d)
    scores = tix.bm25_index_scores(spark, d, terms=["spark", "window"])
    scores.collect()
    plan = scores._jdf.queryExecution().executedPlan().toString()
    import re

    pf = [m for m in re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
          if "tbucket" in m]
    assert pf, plan  # bucket pruning reached the postings scan
    assert "PushedFilters" in plan and "term" in plan
    # the pruned bucket set is term-bounded, not layout-sized
    assert len(tix._term_buckets(spark, ["spark", "window"],
                                 tix.TEXT_INDEX_BUCKETS)) <= 2


def test_torn_append_heals_on_next_touch(spark, docs, monkeypatch):
    """Crash after the marker write, mid-publish: the next probe must
    complete the publish idempotently — scores equal the full
    build+append result, never postings without their stats delta."""
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_tix_torn_")
    tix.build_text_index(corpus, d)
    want_before = _rows(tix.bm25_index_scores(spark, d))
    real_repair = indexstore.repair
    monkeypatch.setattr(indexstore, "repair", lambda _d: None)
    tix.append_to_text_index(spark, shard, d)
    monkeypatch.undo()
    vdir = indexstore.current_version_dir(d)
    markers = [f for f in os.listdir(vdir) if f.startswith("_pending_")]
    assert len(markers) == 1
    # partially publish one postings file by hand (crash mid-publish)
    import json as _json

    with open(os.path.join(vdir, markers[0])) as f:
        plan = _json.load(f)
    rel = plan["files"]["postings"][0]
    dst = os.path.join(vdir, "postings", rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(os.path.join(vdir, plan["staging"], "postings", rel), dst)
    # next probe heals: equals a clean build+append
    got = _rows(tix.bm25_index_scores(spark, d))
    assert not [f for f in os.listdir(vdir)
                if f.startswith(("_pending_", "_staging_"))]
    d_ref = tempfile.mkdtemp(prefix="qpo_tix_torn_ref_")
    tix.build_text_index(docs, d_ref)
    assert got == _rows(tix.bm25_index_scores(spark, d_ref))
    assert got != want_before  # the shard really landed
    assert real_repair is indexstore.repair


def test_cross_process_append_refreshes_cached_postings(
        spark, docs, monkeypatch):
    """An append published by ANOTHER process cannot evict this
    process's reader caches, and when its postings land in existing
    ``tbucket=`` dirs the ``postings/`` dir keeps its mtime. The next
    probe must still serve corpus ∪ shard — never new stats (N, avgdl)
    over the old postings."""
    from query_planner_optimizer_spark import catalog

    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_tix_xproc_")
    tix.build_text_index(corpus, d)
    before = _rows(tix.bm25_index_scores(spark, d))  # warms the cache
    posts = os.path.join(indexstore.current_version_dir(d), "postings")

    def buckets():
        return sorted(b for b in os.listdir(posts)
                      if b.startswith("tbucket="))

    buckets_before = buckets()
    # the foreign writer: its publish evicts nothing in this process
    monkeypatch.setattr(catalog, "invalidate_reader_caches",
                        lambda *_a, **_k: None)
    tix.append_to_text_index(spark, shard, d)
    monkeypatch.undo()
    assert buckets() == buckets_before  # no new tbucket= dir
    got = _rows(tix.bm25_index_scores(spark, d))
    d_ref = tempfile.mkdtemp(prefix="qpo_tix_xproc_ref_")
    tix.build_text_index(docs, d_ref)
    assert got == _rows(tix.bm25_index_scores(spark, d_ref))
    assert got != before


def test_staging_gc_respects_grace_period(spark, docs):
    d = tempfile.mkdtemp(prefix="qpo_tix_grace_")
    tix.build_text_index(docs, d)
    vdir = indexstore.current_version_dir(d)
    young = os.path.join(vdir, "_staging_young")
    os.makedirs(os.path.join(young, "postings"))
    indexstore.repair(vdir)
    assert os.path.isdir(young)
    import time

    past = time.time() - (indexstore.STAGING_GC_GRACE_SECONDS + 60)
    os.utime(young, (past, past))
    indexstore.repair(vdir)
    assert not os.path.exists(young)


def test_rebuild_flips_atomically_and_topk_shape(spark, docs):
    d = tempfile.mkdtemp(prefix="qpo_tix_flip_")
    tix.build_text_index(docs, d, n_buckets=4)
    vdir0 = indexstore.current_version_dir(d)
    assert tix._load_text_meta(d)["n_buckets"] == 4
    tix.build_text_index(docs, d, n_buckets=8)
    vdir1 = indexstore.current_version_dir(d)
    assert vdir1 != vdir0 and tix._load_text_meta(d)["n_buckets"] == 8
    assert [n for n in os.listdir(d) if n.startswith("v_")] == [
        os.path.basename(vdir1)]  # superseded version dropped
    topk = tix.bm25_index_topk(spark, d, k=10)
    rows = topk.collect()
    assert len(rows) == 10
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, never a full sort


def test_tfidf_served_from_same_index_equals_recompute(spark, docs):
    from query_planner_optimizer_spark.operators.relevance import tfidf_scores

    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_tix_tfidf_")
    tix.build_text_index(corpus, d)
    tix.append_to_text_index(spark, shard, d)
    got = _rows(tix.tfidf_index_scores(spark, d))
    want = _rows(tfidf_scores(docs))
    assert got == want and len(got) > 0


def test_streaming_maintenance_equals_rebuild(spark, docs, tmp_path):
    """readStream landing-dir ingest folds shards into the live index;
    served scores equal a full rebuild over everything ingested, and a
    restart replays already-folded batches as no-ops (marker
    discipline) instead of double-appending."""
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    s1 = docs.filter(F.col("doc_id") % 8 == 0)
    d = str(tmp_path / "tix")
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    tix.build_text_index(corpus, d)
    s1.select("doc_id", "text").coalesce(1).write.mode("append").parquet(
        landing)
    schema = "doc_id LONG, text STRING"
    q = tix.streaming_text_index_maintenance(spark, landing, d, ckpt,
                                             schema)
    q.awaitTermination()
    got = _rows(tix.bm25_index_scores(spark, d))
    d_full = str(tmp_path / "tix_full")
    tix.build_text_index(docs, d_full)
    assert got == _rows(tix.bm25_index_scores(spark, d_full))
    # restart with no new files: nothing re-appends
    n_stats = spark.read.parquet(
        os.path.join(indexstore.current_version_dir(d), "stats")).count()
    q2 = tix.streaming_text_index_maintenance(spark, landing, d, ckpt,
                                              schema)
    q2.awaitTermination()
    assert spark.read.parquet(
        os.path.join(indexstore.current_version_dir(d), "stats")).count() == n_stats
    assert _rows(tix.bm25_index_scores(spark, d)) == got
    # crash-window replay: marker says folded, checkpoint does not —
    # wipe the checkpoint so Spark replays batch 0; the marker must
    # turn the replay into a no-op instead of a double append
    import shutil

    shutil.rmtree(ckpt)
    q3 = tix.streaming_text_index_maintenance(spark, landing, d, ckpt,
                                              schema)
    q3.awaitTermination()
    assert _rows(tix.bm25_index_scores(spark, d)) == got


def test_compact_text_index_identical_and_one_file_per_bucket(spark, docs):
    gen = F.col("doc_id") % 8
    corpus = docs.filter((gen != 0) & (gen != 4))
    d = tempfile.mkdtemp(prefix="qpo_tix_compact_")
    tix.build_text_index(corpus, d, n_buckets=4)
    # two appends -> several file sets per bucket + 3 stats rows
    for g in (0, 4):
        tix.append_to_text_index(
            spark, docs.filter(gen == g), d)
    want = _rows(tix.bm25_index_scores(spark, d))
    want_tfidf = _rows(tix.tfidf_index_scores(spark, d))
    vdir_old = indexstore.current_version_dir(d)
    tix.compact_text_index(spark, d)
    vdir_new = indexstore.current_version_dir(d)
    assert vdir_new != vdir_old and not os.path.exists(vdir_old)
    assert _rows(tix.bm25_index_scores(spark, d)) == want
    assert _rows(tix.tfidf_index_scores(spark, d)) == want_tfidf
    # stats deltas summed to ONE row; postings one file per bucket
    stats = spark.read.parquet(os.path.join(vdir_new, "stats"))
    assert stats.count() == 1
    posts_root = os.path.join(vdir_new, "postings")
    for b in os.listdir(posts_root):
        if not b.startswith("tbucket="):
            continue
        files = [f for f in os.listdir(os.path.join(posts_root, b))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
    # a post-compaction append still works and stays exact
    extra = docs.filter(F.col("doc_id") % 40 == 1).select(
        (F.col("doc_id") + 50_000).alias("doc_id"), "text")
    tix.append_to_text_index(spark, extra, d)
    d_ref = tempfile.mkdtemp(prefix="qpo_tix_compact_ref_")
    tix.build_text_index(docs.unionByName(extra), d_ref)
    assert _rows(tix.bm25_index_scores(spark, d)) == \
        _rows(tix.bm25_index_scores(spark, d_ref))


def test_phrase_match_trigram_and_guards(spark):
    rows = [
        (1, "a b c a b c x"),        # "a b c" twice
        (2, "a b x c a b"),          # "a b" twice, never "a b c"
        (3, "c b a"),                # reversed - no match
        (4, "a a b c"),              # once, offset start
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="qpo_tix_phrase_")
    tix.build_text_index(docs, d, positions=True)
    got3 = {r["doc_id"]: r["n_occurrences"]
            for r in tix.phrase_match(spark, d, ["a", "b", "c"]).collect()}
    assert got3 == {1: 2, 4: 1}
    got2 = {r["doc_id"]: r["n_occurrences"]
            for r in tix.phrase_match(spark, d, ["a", "b"]).collect()}
    assert got2 == {1: 2, 2: 2, 4: 1}
    # unigram degenerates to tf
    got1 = {r["doc_id"]: r["n_occurrences"]
            for r in tix.phrase_match(spark, d, ["a"]).collect()}
    assert got1 == {1: 2, 2: 2, 3: 1, 4: 2}
    # positions survive an append (layout comes from META)
    more = spark.createDataFrame([(10, "z a b c z")],
                                 "doc_id long, text string")
    tix.append_to_text_index(spark, more, d)
    got_after = {r["doc_id"]: r["n_occurrences"]
                 for r in tix.phrase_match(spark, d, ["a", "b", "c"])
                 .collect()}
    assert got_after == {1: 2, 4: 1, 10: 1}
    # a positions-free index refuses phrase queries loudly
    d_flat = tempfile.mkdtemp(prefix="qpo_tix_nophrase_")
    tix.build_text_index(docs, d_flat)
    with pytest.raises(ValueError, match="without positions"):
        tix.phrase_match(spark, d_flat, ["a", "b"])
