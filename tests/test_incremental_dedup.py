"""Incremental shard-vs-corpus dedup (operators/incremental.py).

The load-bearing property: joining a NEW shard against the persisted
index must equal the full-corpus recompute restricted to cross pairs —
on the xxhash64 SCALE path, not just the portable oracle family (the
driver entry covers that one end-to-end). Plus: the append path (two
daily shards in sequence ≡ one full recompute), the exact-digest path
vs a brute-force text join, and the broadcast plan audit for the probe
join (standing broadcast-defect discipline).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from query_planner_optimizer_spark.operators import incremental as inc
from query_planner_optimizer_spark.operators import indexstore
from query_planner_optimizer_spark.operators.dedup import minhash_lsh_pairs

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )


def _cross_pairs_full(docs, corpus_pred, threshold):
    """Full-corpus recompute (xxhash scale path) restricted to pairs
    with exactly one side in the corpus; normalized to
    (corpus_id, shard_id, jaccard) for comparison."""
    full = minhash_lsh_pairs(docs, threshold=threshold)
    in_corpus_a = corpus_pred(F.col("doc_a"))
    in_corpus_b = corpus_pred(F.col("doc_b"))
    return (
        full.filter(in_corpus_a != in_corpus_b)
        .select(
            F.when(in_corpus_a, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("corpus_id"),
            F.when(in_corpus_a, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("shard_id"),
            "jaccard",
        )
    )


def test_incremental_equals_full_recompute_xxhash(spark, docs):
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_incr_test_")
    inc.build_dedup_index(corpus, d)
    got = inc.incremental_minhash_pairs(spark, shard, d, threshold=0.2)
    want = _cross_pairs_full(
        docs, lambda c: c % 8 != 0, threshold=0.2
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w
    assert len(g) > 0, "split produced no cross pairs — test is vacuous"


def test_append_two_shard_sequence_equals_full(spark, docs):
    """Day 1: corpus = %4 ∈ {1,2,3}... split into three generations:
    corpus (%4 != 0), shard1 (%8 == 0), shard2 (%8 == 4). Processing
    shard1 against the corpus index, appending it, then processing
    shard2 must together yield every cross-GENERATION pair of the full
    recompute (shard-internal pairs are the next full-corpus job's
    business, by design)."""
    gen = F.col("doc_id") % 8
    corpus = docs.filter((gen != 0) & (gen != 4))
    s1 = docs.filter(gen == 0)
    s2 = docs.filter(gen == 4)
    d = tempfile.mkdtemp(prefix="qpo_incr_append_")
    inc.build_dedup_index(corpus, d)
    day1 = inc.incremental_minhash_pairs(spark, s1, d, threshold=0.2)
    day1_rows = sorted(map(tuple, day1.collect()))
    inc.append_shard_to_index(s1, d)
    day2 = inc.incremental_minhash_pairs(spark, s2, d, threshold=0.2)
    day2_rows = sorted(map(tuple, day2.collect()))

    full = minhash_lsh_pairs(docs, threshold=0.2)
    ga, gb = (F.col("doc_a") % 8), (F.col("doc_b") % 8)
    gen_a = F.when(ga == 0, 1).when(ga == 4, 2).otherwise(0)
    gen_b = F.when(gb == 0, 1).when(gb == 4, 2).otherwise(0)
    cross = full.withColumn("ga", gen_a).withColumn("gb", gen_b).filter(
        F.col("ga") != F.col("gb")
    )
    # Normalize to (earlier-generation id, later-generation id, jaccard).
    want = cross.select(
        F.when(F.col("ga") < F.col("gb"), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("corpus_id"),
        F.when(F.col("ga") < F.col("gb"), F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("shard_id"),
        "jaccard",
    )
    w = sorted(map(tuple, want.collect()))
    assert sorted(day1_rows + day2_rows) == w


def test_incremental_exact_matches_bruteforce(spark, docs):
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0).unionByName(
        corpus.filter(F.col("doc_id") % 20 == 1).select(
            (F.col("doc_id") + inc.RECRAWL_SHADOW).alias("doc_id"), "text"
        )
    )
    d = tempfile.mkdtemp(prefix="qpo_incr_exact_")
    inc.build_dedup_index(corpus, d)
    got = inc.incremental_exact_dups(spark, shard, index_dir=d)
    want = (
        shard.alias("s")
        .join(corpus.alias("c"), F.col("s.text") == F.col("c.text"))
        .groupBy(F.col("s.doc_id").alias("shard_id"))
        .agg(F.min("c.doc_id").alias("corpus_keep_id"))
    )
    g = sorted((r.shard_id, r.corpus_keep_id) for r in got.collect())
    w = sorted(map(tuple, want.collect()))
    assert g == w
    assert len(g) > 0


def test_probe_join_broadcasts_shard(spark, docs):
    """Standing broadcast-defect audit: the candidate join must scan
    the persisted band index with a BROADCAST of the shard side — no
    shuffle of index rows (at 100 TB the index is the big side)."""
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_incr_plan_")
    inc.build_dedup_index(corpus, d)
    plan = inc.incremental_minhash_pairs(
        spark, shard, d, threshold=0.2
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # The index side must never be broadcast (it scales with the corpus):
    # every broadcast exchange in the plan builds from the shard lineage,
    # which after the eager persist shows as InMemoryTableScan.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_streaming_ingest_gate_equals_batch(spark, docs, tmp_path):
    """ingest_gate's shared body through a REAL readStream (file
    source, 2 files → 2 micro-batches, availableNow) must admit
    exactly the batch twin's rows: the stream-static LEFT ANTI join is
    stateless, so streaming ≡ batch with no watermark caveats."""
    import pyspark.sql.types as T

    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    d = tempfile.mkdtemp(prefix="qpo_ingest_idx_")
    inc.build_dedup_index(corpus, d)
    digests = spark.read.parquet(os.path.join(d, "digests"))

    shard = docs.filter(F.col("doc_id") % 8 == 0).unionByName(
        corpus.filter(F.col("doc_id") % 16 == 1).select(
            (F.col("doc_id") + inc.RECRAWL_SHADOW).alias("doc_id"),
            "text",
        )
    )
    src = str(tmp_path / "landing")
    shard.filter(F.col("doc_id") < 400).coalesce(1).write.mode(
        "append").parquet(src)
    shard.filter(F.col("doc_id") >= 400).coalesce(1).write.mode(
        "append").parquet(src)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    stream = inc.ingest_gate(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
        digests,
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("ingest_gate_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.content_hash)
           for r in spark.sql("SELECT * FROM ingest_gate_t").collect()}
    want = {(r.doc_id, r.content_hash)
            for r in inc.ingest_gate(shard, digests).collect()}
    assert got == want
    # the re-crawl shadows were gated out, the true-new docs admitted
    assert all(i < inc.RECRAWL_SHADOW for i, _ in got)
    assert len(got) > 0


def test_compaction_preserves_probe_results(spark, docs):
    """compact_index is pure maintenance: after two appends produce a
    many-small-files index, compaction must leave probe results (near
    -dup pairs AND the exact gate) bit-identical, with fewer files."""
    gen = F.col("doc_id") % 8
    corpus = docs.filter((gen != 0) & (gen != 4))
    s1 = docs.filter(gen == 0)
    s2 = docs.filter(gen == 4)
    d = tempfile.mkdtemp(prefix="qpo_incr_compact_")
    inc.build_dedup_index(corpus, d)
    inc.append_shard_to_index(s1, d)

    def n_files(name):
        p = os.path.join(d, name)
        return sum(1 for f in os.listdir(p) if f.endswith(".parquet"))

    before_files = n_files("bands")
    assert before_files >= 2          # build + one append
    pairs_before = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, s2, d, threshold=0.2).collect()))
    exact_before = sorted(map(tuple, inc.incremental_exact_dups(
        spark, s2, index_dir=d).collect()))
    inc.compact_index(spark, d, target_files=1)
    assert n_files("bands") == 1
    pairs_after = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, s2, d, threshold=0.2).collect()))
    exact_after = sorted(map(tuple, inc.incremental_exact_dups(
        spark, s2, index_dir=d).collect()))
    assert pairs_before == pairs_after
    assert exact_before == exact_after


def test_index_stats_consistent(spark, docs):
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    d = tempfile.mkdtemp(prefix="qpo_incr_stats_")
    inc.build_dedup_index(corpus, d)
    row = inc.index_stats(spark, d).collect()[0]
    n = corpus.count()
    assert row.indexed_docs == n
    assert row.band_rows == 8 * n
    assert row.digest_rows == n
    assert 0 < row.distinct_digests <= n
    assert 0 < row.distinct_buckets <= row.band_rows


# ---- incremental ANN index (similarity.py build/append/probe) -------------


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .cache()
    )


def test_ann_index_full_probe_equals_bruteforce(spark, emb):
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ann_test_")
    S.build_ann_index(emb.filter(F.col("vec_id") % 8 != 0), d)
    S.append_to_ann_index(spark, emb.filter(F.col("vec_id") % 8 == 0), d)
    got = S.ann_index_topk(
        spark, emb.filter(F.col("vec_id") < 20), d, nprobe=S.IVF_NLIST
    )
    want = S.cosine_topk(emb, num_queries=20)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_ann_append_freezes_centroids_and_adds_postings(spark, emb):
    from query_planner_optimizer_spark.operators import similarity as S

    corpus = emb.filter(F.col("vec_id") % 8 != 0)
    shard = emb.filter(F.col("vec_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_ann_append_")
    S.build_ann_index(corpus, d)
    cents_path, posts_path = S.ann_paths(d)
    cents_before = sorted(map(tuple, spark.read.parquet(
        cents_path).select("cell", "c_norm").collect()))
    n_before = spark.read.parquet(posts_path).count()
    S.append_to_ann_index(spark, shard, d)
    assert S.ann_paths(d) == (cents_path, posts_path)  # same version
    cents_after = sorted(map(tuple, spark.read.parquet(
        cents_path).select("cell", "c_norm").collect()))
    n_after = spark.read.parquet(posts_path).count()
    assert cents_before == cents_after          # no re-train on append
    assert n_before == corpus.count()
    assert n_after == n_before + shard.count()  # exactly the shard added
    # every posting lands in exactly one cell (no dup/loss through the
    # append): ids unique across the postings dataset
    posts = spark.read.parquet(posts_path)
    assert posts.select("id").distinct().count() == n_after


def _tear_append(vdir: str, dataset: str) -> None:
    """Crash state of an ANN/IVF-PQ append: its one pending marker is
    written and exactly one of its files is already published."""
    import json as _json

    markers = [f for f in os.listdir(vdir) if f.startswith("_pending_")]
    assert len(markers) == 1
    with open(os.path.join(vdir, markers[0])) as f:
        plan = _json.load(f)
    rel = plan["files"][dataset][0]
    dst = os.path.join(vdir, dataset, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(os.path.join(vdir, plan["staging"], dataset, rel), dst)


def test_ann_and_ivfpq_torn_append_heals_on_next_probe(
        spark, emb, monkeypatch):
    """ANN and IVF-PQ appends are staged: a crash after the marker
    write, mid-publish, never serves a partial shard — the next full
    probe completes the publish and equals brute force over
    corpus ∪ shard."""
    from query_planner_optimizer_spark.operators import similarity as S

    corpus = emb.filter(F.col("vec_id") % 8 != 0)
    shard = emb.filter(F.col("vec_id") % 8 == 0)
    qs = emb.filter(F.col("vec_id") < 20)
    want = sorted(map(tuple, S.cosine_topk(emb, num_queries=20).collect()))

    d = tempfile.mkdtemp(prefix="qpo_ann_torn_")
    S.build_ann_index(corpus, d)
    monkeypatch.setattr(indexstore, "repair", lambda _root: None)
    S.append_to_ann_index(spark, shard, d)
    monkeypatch.undo()
    vdir = indexstore.current_version_dir(d)
    _tear_append(vdir, "postings")
    got = sorted(map(tuple, S.ann_index_topk(
        spark, qs, d, nprobe=S.IVF_NLIST).collect()))
    assert not [f for f in os.listdir(vdir)
                if f.startswith(("_pending_", "_staging_"))]
    assert got == want and len(got) > 0

    d2 = tempfile.mkdtemp(prefix="qpo_ivfpq_torn_")
    S.build_ivfpq_index(corpus, d2)
    monkeypatch.setattr(indexstore, "repair", lambda _root: None)
    S.append_to_ivfpq_index(spark, shard, d2)
    monkeypatch.undo()
    vdir2 = indexstore.current_version_dir(d2)
    _tear_append(vdir2, "codes")
    got2 = sorted(map(tuple, S.ivfpq_index_topk(
        spark, qs, d2, source=emb, nprobe=S.IVF_NLIST,
        shortlist=1 << 40).collect()))
    assert not [f for f in os.listdir(vdir2)
                if f.startswith(("_pending_", "_staging_"))]
    assert got2 == want


def test_ann_partial_probe_is_subset_quality(spark, emb):
    """nprobe < nlist returns k rows per query whose sims are bounded
    by the full-probe (exact) result — structure sanity for the pruned
    path over the persisted index."""
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ann_partial_")
    S.build_ann_index(emb, d)
    part = S.ann_index_topk(
        spark, emb.filter(F.col("vec_id") < 10), d, nprobe=4
    ).toPandas()
    full = S.ann_index_topk(
        spark, emb.filter(F.col("vec_id") < 10), d, nprobe=S.IVF_NLIST
    ).toPandas()
    assert set(part["qid"]) == set(full["qid"])
    for qid, grp in part.groupby("qid"):
        fbest = full[full["qid"] == qid]["sim"].max()
        assert (grp["sim"] <= fbest + 1e-9).all()


def test_ann_retrain_full_probe_invariant(spark, emb):
    """Periodic re-train migrates every posting to fresh centroids;
    FULL-probe results must be invariant (both before and after equal
    brute force over the same vectors), centroids must actually change
    (drift repaired), and no posting may be lost or duplicated."""
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ann_retrain_")
    S.build_ann_index(emb.filter(F.col("vec_id") % 8 != 0), d)
    S.append_to_ann_index(spark, emb.filter(F.col("vec_id") % 8 == 0), d)
    q = emb.filter(F.col("vec_id") < 15)
    before = sorted(map(tuple, S.ann_index_topk(
        spark, q, d, nprobe=S.IVF_NLIST).collect()))
    cents_path0, posts_path0 = S.ann_paths(d)
    cents_before = spark.read.parquet(cents_path0).collect()
    n_before = spark.read.parquet(posts_path0).count()
    S.retrain_ann_index(spark, d)
    after = sorted(map(tuple, S.ann_index_topk(
        spark, q, d, nprobe=S.IVF_NLIST).collect()))
    assert before == after and len(after) > 0
    cents_path1, posts_path1 = S.ann_paths(d)
    # retrain publishes a NEW version and flips the pointer atomically;
    # the old version dir is gone (no stale generation to mis-pair)
    assert posts_path1 != posts_path0
    assert not os.path.exists(os.path.dirname(posts_path0))
    posts = spark.read.parquet(posts_path1)
    assert posts.count() == n_before
    assert posts.select("id").distinct().count() == n_before
    cents_after = spark.read.parquet(cents_path1).collect()
    # re-training over corpus+shard moves at least one centroid (the
    # original training never saw the shard)
    assert sorted(map(tuple, cents_before)) != sorted(
        map(tuple, cents_after))


def test_daily_ingest_classification(spark, docs):
    """One-call gate: exact beats near; every shard doc gets exactly
    one status; matches agree with the two probes run separately."""
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0).unionByName(
        corpus.filter(F.col("doc_id") % 20 == 1).select(
            (F.col("doc_id") + inc.RECRAWL_SHADOW).alias("doc_id"),
            "text")
    )
    d = tempfile.mkdtemp(prefix="qpo_daily_ingest_")
    inc.build_dedup_index(corpus, d)
    rep = inc.daily_ingest(spark, shard, d, threshold=0.2).toPandas()
    assert len(rep) == shard.count()
    assert rep["doc_id"].is_unique
    exact_ids = {r.shard_id for r in inc.incremental_exact_dups(
        spark, shard, index_dir=d).collect()}
    near = inc.incremental_minhash_pairs(
        spark, shard, d, threshold=0.2).toPandas()
    near_ids = set(near["shard_id"]) - exact_ids
    got_exact = set(rep[rep["status"] == "exact_dup"]["doc_id"])
    got_near = set(rep[rep["status"] == "near_dup"]["doc_id"])
    assert got_exact == exact_ids
    assert got_near == near_ids
    assert (rep[rep["status"] == "exact_dup"]["score"] == 1.0).all()
    # near match_id/score = the max-jaccard (tie: lower corpus id) pair
    for did in got_near:
        cand = near[near["shard_id"] == did].sort_values(
            ["jaccard", "corpus_id"], ascending=[False, True]).iloc[0]
        row = rep[rep["doc_id"] == did].iloc[0]
        assert row["match_id"] == cand["corpus_id"]
        assert abs(row["score"] - cand["jaccard"]) < 1e-9
    assert rep[rep["status"] == "new"]["match_id"].isna().all()


# ---- bucketed band index (non-broadcast probe path) ------------------------


def test_bucketed_probe_no_index_side_shuffle(spark, docs):
    """The 100-TB backfill case: a shard too big to broadcast probes a
    BUCKETED bands table with a sort-merge join whose Exchange is on
    the SHARD side only — the corpus-sized index is scanned bucketed
    (SelectedBucketsCount in the scan) and never shuffled. Results
    must be bit-identical to the broadcast probe on a plain index."""
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d_plain = tempfile.mkdtemp(prefix="qpo_incr_plainidx_")
    d_bkt = tempfile.mkdtemp(prefix="qpo_incr_bktidx_")
    inc.build_dedup_index(corpus, d_plain)
    inc.build_dedup_index(corpus, d_bkt, bucket_bands=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = inc.incremental_minhash_pairs(
            spark, shard, d_bkt, threshold=0.2, broadcast_shard=False)
        rows = sorted(map(tuple, got.collect()))  # also finalizes AQE
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "SelectedBucketsCount" in plan  # index scanned bucketed
        # The same verified probe on the PLAIN index shuffles both sides
        # of the candidate join; the verification joins downstream are
        # identical on both layouts, so the bucketed plan must have
        # exactly one fewer exchange (the index side's) — the
        # zero-index-side-shuffle claim, counted.
        got_plain = inc.incremental_minhash_pairs(
            spark, shard, d_plain, threshold=0.2, broadcast_shard=False)
        got_plain.collect()
        plan_plain = got_plain._jdf.queryExecution() \
            .executedPlan().toString()
        # toString of an AdaptiveSparkPlan repeats the tree under
        # "== Initial Plan ==" — count exchanges in the FINAL plan only.
        n_bkt = plan.split("== Initial Plan ==")[0] \
            .count("Exchange hashpartitioning")
        n_plain = plan_plain.split("== Initial Plan ==")[0] \
            .count("Exchange hashpartitioning")
        assert n_bkt == n_plain - 1, (n_bkt, n_plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    want = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, shard, d_plain, threshold=0.2).collect()))
    assert rows == want and len(rows) > 0


def test_bucketed_append_and_compact_preserve_results(spark, docs):
    """Appends to a bucketed index keep the bucket layout (staged
    bucketed write, renamed files keep their bucket ids) and
    compaction rewrites it with the same spec — probe results
    bit-identical throughout, non-broadcast path included."""
    gen = F.col("doc_id") % 8
    corpus = docs.filter((gen != 0) & (gen != 4))
    s1 = docs.filter(gen == 0)
    s2 = docs.filter(gen == 4)
    d = tempfile.mkdtemp(prefix="qpo_incr_bktappend_")
    inc.build_dedup_index(corpus, d, bucket_bands=4)
    inc.append_shard_to_index(s1, d)
    want = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, s2, d, threshold=0.2).collect()))
    got_sm = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, s2, d, threshold=0.2, broadcast_shard=False).collect()))
    assert got_sm == want and len(want) > 0
    inc.compact_index(spark, d)
    after = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, s2, d, threshold=0.2, broadcast_shard=False).collect()))
    assert after == want
    # compaction left one file per bucket, bucket ids in the names
    files = [f for f in os.listdir(os.path.join(d, "bands"))
             if f.endswith(".parquet")]
    assert len(files) == 4


# ---- crash-safety: torn append + crashed compaction swap -------------------


def test_torn_append_is_repaired_on_next_touch(spark, docs, monkeypatch):
    """Crash after the marker write but before any publish: the next
    entry-point call must complete the publish idempotently and the
    probe must see the whole shard — never bands without digests."""
    gen = F.col("doc_id") % 8
    corpus = docs.filter((gen != 0) & (gen != 4))
    s1 = docs.filter(gen == 0)
    s2 = docs.filter(gen == 4)
    d = tempfile.mkdtemp(prefix="qpo_incr_torn_")
    inc.build_dedup_index(corpus, d)
    # Simulate the crash: stage + marker, but suppress the publish.
    monkeypatch.setattr(indexstore, "repair", lambda _d: None)
    inc.append_shard_to_index(s1, d)
    monkeypatch.undo()
    markers = [f for f in os.listdir(d) if f.startswith("_pending_")]
    stagings = [f for f in os.listdir(d) if f.startswith("_staging_")]
    assert len(markers) == 1 and len(stagings) == 1
    # Partially publish one bands file by hand (crash mid-publish).
    with open(os.path.join(d, markers[0])) as f:
        import json as _json
        plan = _json.load(f)
    first = plan["files"]["bands"][0]
    os.rename(os.path.join(d, plan["staging"], "bands", first),
              os.path.join(d, "bands", first))
    # Next probe heals the index and sees corpus ∪ s1.
    got = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, s2, d, threshold=0.2).collect()))
    assert not [f for f in os.listdir(d) if f.startswith(("_pending_",
                                                          "_staging_"))]
    d_ref = tempfile.mkdtemp(prefix="qpo_incr_torn_ref_")
    inc.build_dedup_index(corpus.unionByName(s1), d_ref)
    want = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, s2, d_ref, threshold=0.2).collect()))
    assert got == want and len(got) > 0


def test_compact_crash_between_renames_is_restored(spark, docs):
    """The ADVICE-flagged window: a crash between os.rename(src, old)
    and os.rename(staged, src) leaves the dataset MISSING at src. A
    re-run of compact_index must restore it (not skip it) and finish
    the compaction with probe results intact."""
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_incr_crashcompact_")
    inc.build_dedup_index(corpus, d)
    want = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, shard, d, threshold=0.2).collect()))
    # Crash state (a): src renamed away, staged copy incomplete/absent.
    src = os.path.join(d, "digests")
    os.rename(src, src + ".old")
    assert not os.path.exists(src)
    inc.compact_index(spark, d, target_files=1)
    assert os.path.exists(src)
    got = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, shard, d, threshold=0.2).collect()))
    assert got == want
    # Crash state (b): stale .compact + completed swap leftovers heal too.
    os.makedirs(os.path.join(d, "bands.compact"), exist_ok=True)
    os.makedirs(os.path.join(d, "bands.old"), exist_ok=True)
    inc.compact_index(spark, d, target_files=1)
    assert not os.path.exists(os.path.join(d, "bands.compact"))
    assert not os.path.exists(os.path.join(d, "bands.old"))
    got2 = sorted(map(tuple, inc.incremental_minhash_pairs(
        spark, shard, d, threshold=0.2).collect()))
    assert got2 == want


# ---- ANN postings partition pruning ----------------------------------------


def test_ann_pruned_probe_reads_only_probed_cells(spark, emb):
    """nprobe < nlist must PARTITION-PRUNE the postings scan: the
    executed plan's postings FileScan carries a PartitionFilters entry
    on cell, and the number of scanned partitions is bounded by the
    probed-cell union — at 100 TB this is reading nprobe/nlist of the
    index instead of all of it."""
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ann_prune_")
    S.build_ann_index(emb, d)
    got = S.ann_index_topk(
        spark, emb.filter(F.col("vec_id") < 10), d, nprobe=4)
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the postings scan must carry a non-empty partition filter on cell
    import re
    pf = [m for m in re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
          if "cell" in m]
    assert pf, plan
    # full probe (nprobe == nlist) stays provably brute-force
    full = S.ann_index_topk(
        spark, emb.filter(F.col("vec_id") < 10), d, nprobe=S.IVF_NLIST)
    want = S.cosine_topk(emb, num_queries=10)
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, want.collect()))


def test_streaming_daily_ingest_foreachbatch_equals_sequential(
        spark, docs, tmp_path):
    """Deployment shape for the one-call gate: readStream over the
    landing dir + foreachBatch(classify with daily_ingest, THEN fold
    the shard in with append_shard_to_index). Two micro-batches must
    produce exactly the two sequential batch days' reports — day 2's
    classification sees corpus ∪ day 1 through the evolving index."""
    gen = F.col("doc_id") % 8
    corpus = docs.filter((gen != 0) & (gen != 4))
    s1 = docs.filter(gen == 0)
    s2 = docs.filter(gen == 4)
    d_stream = tempfile.mkdtemp(prefix="qpo_daily_stream_")
    d_ref = tempfile.mkdtemp(prefix="qpo_daily_ref_")
    inc.build_dedup_index(corpus, d_stream)
    inc.build_dedup_index(corpus, d_ref)

    # Sequential batch reference: classify day 1, append, classify day 2.
    want1 = sorted(map(tuple, inc.daily_ingest(
        spark, s1, d_ref, threshold=0.2).collect()))
    inc.append_shard_to_index(s1, d_ref)
    want2 = sorted(map(tuple, inc.daily_ingest(
        spark, s2, d_ref, threshold=0.2).collect()))

    # Streaming run: one landing file per day, one micro-batch each.
    src = str(tmp_path / "landing_daily")
    s1.coalesce(1).write.mode("append").parquet(src)
    s2.coalesce(1).write.mode("append").parquet(src)
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    reports = []

    def handle(bdf, _bid):
        rep = sorted(map(tuple, inc.daily_ingest(
            spark, bdf, d_stream, threshold=0.2).collect()))
        inc.append_shard_to_index(bdf, d_stream)
        reports.append(rep)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "daily_ckpt"))
        .start()
    )
    q.awaitTermination(240)
    assert len(reports) == 2
    # Key each batch report by its shard generation (file order is a
    # listing property, not a semantic one).
    by_gen = {}
    for rep in reports:
        gens = {doc % 8 for doc, _s, _m, _sc in rep}
        assert len(gens) == 1
        by_gen[gens.pop()] = rep
    assert by_gen[0] == want1
    assert by_gen[4] == want2
    assert len(want1) > 0 and len(want2) > 0


def test_ann_retrain_publishes_new_version_and_drops_old(spark, emb):
    """A retrain publishes a NEW version (the live paths resolve to it)
    and the superseded version dir is removed right after the flip."""
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ann_keepv_")
    S.build_ann_index(emb.filter(F.col("vec_id") % 8 != 0), d)
    cents0, posts0 = S.ann_paths(d)
    S.retrain_ann_index(spark, d)
    cents1, posts1 = S.ann_paths(d)
    assert posts1 != posts0
    assert spark.read.parquet(posts1).count() > 0
    versions = [n for n in os.listdir(d) if n.startswith("v_")]
    assert len(versions) == 1


# ---- persisted IVF-PQ index (codes-only serving artifact) ------------------


def test_ivfpq_index_full_probe_equals_bruteforce(spark, emb):
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ivfpq_idx_")
    S.build_ivfpq_index(emb.filter(F.col("vec_id") % 8 != 0), d)
    S.append_to_ivfpq_index(spark, emb.filter(F.col("vec_id") % 8 == 0), d)
    got = S.ivfpq_index_topk(
        spark, emb.filter(F.col("vec_id") < 20), d, source=emb,
        nprobe=S.IVF_NLIST, shortlist=1 << 40)
    want = S.cosine_topk(emb, num_queries=20)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_ivfpq_index_append_frozen_and_small(spark, emb):
    """Append must not move centroids or codebooks (frozen encode),
    must add exactly the shard's code rows, and the codes-only index
    must be a small fraction of the flat full-vector postings — the
    memory-bounded-serving claim, asserted in bytes."""
    from query_planner_optimizer_spark.operators import similarity as S

    def tree_bytes(p):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _d, fs in os.walk(p) for f in fs)

    corpus = emb.filter(F.col("vec_id") % 8 != 0)
    shard = emb.filter(F.col("vec_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_ivfpq_append_")
    S.build_ivfpq_index(corpus, d)
    vdir = indexstore.current_version_dir(d)
    books0 = sorted(map(tuple, spark.read.parquet(
        os.path.join(vdir, "books")).collect()))
    cents0 = sorted(map(tuple, spark.read.parquet(
        os.path.join(vdir, "centroids")).select("cell", "c_norm").collect()))
    n0 = spark.read.parquet(os.path.join(vdir, "codes")).count()
    S.append_to_ivfpq_index(spark, shard, d)
    assert indexstore.current_version_dir(d) == vdir  # same version
    books1 = sorted(map(tuple, spark.read.parquet(
        os.path.join(vdir, "books")).collect()))
    cents1 = sorted(map(tuple, spark.read.parquet(
        os.path.join(vdir, "centroids")).select("cell", "c_norm").collect()))
    codes = spark.read.parquet(os.path.join(vdir, "codes"))
    assert books1 == books0 and cents1 == cents0  # frozen encode
    assert codes.count() == n0 + shard.count()
    assert codes.select("id").distinct().count() == n0 + shard.count()
    # every packed row carries exactly m codes
    assert codes.filter(F.size("codes") != S.PQ_M).count() == 0
    # codes-only index ≪ flat full-vector postings on the same data
    d_flat = tempfile.mkdtemp(prefix="qpo_flat_idx_")
    S.build_ann_index(corpus, d_flat)
    _, flat_posts = S.ann_paths(d_flat)
    flat_b = tree_bytes(flat_posts)
    code_b = tree_bytes(os.path.join(vdir, "codes"))
    assert code_b < 0.25 * flat_b, (code_b, flat_b)


def test_ivfpq_index_pruned_probe_partition_filters(spark, emb):
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ivfpq_prune_")
    S.build_ivfpq_index(emb, d)
    got = S.ivfpq_index_topk(
        spark, emb.filter(F.col("vec_id") < 10), d, source=emb, nprobe=4)
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re
    pf = [m for m in re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
          if "cell" in m]
    assert pf, plan
    # pruned sims bounded by the full probe's best per query
    full = S.ivfpq_index_topk(
        spark, emb.filter(F.col("vec_id") < 10), d, source=emb,
        nprobe=S.IVF_NLIST, shortlist=1 << 40).toPandas()
    part = got.toPandas()
    for qid, grp in part.groupby("qid"):
        fbest = full[full["qid"] == qid]["sim"].max()
        assert (grp["sim"] <= fbest + 1e-9).all()


# ---- r15 hardening: GC grace, append validation, versioned META ------------


def test_staging_gc_respects_grace_period(spark, docs):
    """A marker-less _staging_* dir may be another process's append
    mid-staging: repair must leave it alone until it is older than
    the grace window, then GC it."""
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    d = tempfile.mkdtemp(prefix="qpo_incr_grace_")
    inc.build_dedup_index(corpus, d)
    young = os.path.join(d, "_staging_young")
    os.makedirs(os.path.join(young, "bands"))
    indexstore.repair(d)
    assert os.path.isdir(young)  # inside the grace window: untouched
    old_age = indexstore.STAGING_GC_GRACE_SECONDS + 60
    import time
    past = time.time() - old_age
    os.utime(young, (past, past))
    indexstore.repair(d)
    assert not os.path.exists(young)  # aged out: pre-marker garbage


def test_append_param_mismatch_raises(spark, docs):
    """An append whose signature params differ from the recorded build
    params would mix incompatible band signatures — must fail loudly,
    not corrupt probes. bucket_bands on an append must match the
    on-disk layout."""
    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_incr_speccheck_")
    inc.build_dedup_index(corpus, d)
    with pytest.raises(ValueError, match="append params mismatch"):
        inc.append_shard_to_index(shard, d, k=inc.MINHASH_K * 2)
    with pytest.raises(ValueError, match="append params mismatch"):
        inc.append_shard_to_index(shard, d, portable=True)
    with pytest.raises(ValueError, match="bucket_bands"):
        inc.build_dedup_index(shard, d, mode="append", bucket_bands=4)
    # matching params still append fine
    inc.append_shard_to_index(shard, d)
    probe = docs.filter(F.col("doc_id") % 8 == 4)
    assert inc.incremental_minhash_pairs(
        spark, probe, d, threshold=0.2).count() > 0


def test_ivfpq_meta_commits_inside_version_dir(spark, emb):
    """META.json lives in the version dir and flips with CURRENT: a
    geometry-changing rebuild can never pair new meta with old codes."""
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ivfpq_meta_")
    S.build_ivfpq_index(emb, d, m=8)
    vdir = indexstore.current_version_dir(d)
    assert os.path.exists(os.path.join(vdir, "META.json"))
    assert not os.path.exists(os.path.join(d, "META.json"))
    assert S._load_ivfpq_meta(d)["m"] == 8
    # geometry-changing rebuild: meta follows the flip atomically
    S.build_ivfpq_index(emb, d, m=4)
    vdir2 = indexstore.current_version_dir(d)
    assert vdir2 != vdir
    assert S._load_ivfpq_meta(d)["m"] == 4
    got = S.ivfpq_index_topk(
        spark, emb.filter(F.col("vec_id") < 10), d, source=emb,
        nprobe=S.IVF_NLIST, shortlist=1 << 40)
    want = S.cosine_topk(emb, num_queries=10)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_ivfpq_rebuild_publishes_new_version_and_drops_old(spark, emb):
    """A rebuild of build_ivfpq_index publishes a NEW version (with its
    META) and removes the superseded one right after the flip."""
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ivfpq_keepv_")
    S.build_ivfpq_index(emb, d)
    vdir0 = indexstore.current_version_dir(d)
    S.build_ivfpq_index(emb, d)
    vdir1 = indexstore.current_version_dir(d)
    assert vdir1 != vdir0
    assert os.path.exists(os.path.join(vdir1, "META.json"))
    assert spark.read.parquet(os.path.join(vdir1, "codes")).count() > 0
    versions = [n for n in os.listdir(d) if n.startswith("v_")]
    assert len(versions) == 1


def test_ivfpq_lut_guard_join_path_identical(spark, emb):
    """Above max_lut_rows the ADC LUT joins instead of broadcasting —
    results must be identical on both paths, for both the in-memory
    composition and the persisted index serving path."""
    from query_planner_optimizer_spark.operators import similarity as S

    sub = emb.filter(F.col("vec_id") % 4 == 0)
    base = S.ivfpq_topk(sub, num_queries=10)
    joined = S.ivfpq_topk(sub, num_queries=10, max_lut_rows=0)
    assert sorted(map(tuple, base.collect())) == \
        sorted(map(tuple, joined.collect()))
    d = tempfile.mkdtemp(prefix="qpo_ivfpq_lutguard_")
    S.build_ivfpq_index(sub, d)
    qs = sub.filter(F.col("vec_id") < 40)
    base_i = S.ivfpq_index_topk(spark, qs, d, source=sub)
    joined_i = S.ivfpq_index_topk(spark, qs, d, source=sub,
                                  max_lut_rows=0)
    assert sorted(map(tuple, base_i.collect())) == \
        sorted(map(tuple, joined_i.collect()))


def test_reliable_checkpoint_prunes_superseded_rounds(spark, docs):
    """A long reliable-checkpoint loop must hold O(1) superseded
    rounds on disk, not all of them: after the run, only the
    non-evolving pins plus the last two evolving generations remain."""
    from query_planner_optimizer_spark.operators.dedup import dedup_clusters

    ckpt = tempfile.mkdtemp(prefix="qpo_cc_prune_")
    out = dedup_clusters(docs.limit(200), threshold=0.2,
                         checkpoint_dir=ckpt)
    n = out.count()
    assert n > 0
    pins = [p for p in os.listdir(ckpt) if p.startswith("pin-")]
    # propagation: 1 pinned edge list + ≤2 retained evolving label gens
    assert 1 <= len(pins) <= 3, pins


def test_compact_ann_and_ivfpq_indexes_preserve_serving(spark, emb):
    """Version-flip compaction (r15): probe results bit-identical
    before/after for both the flat and the IVF-PQ serving indexes;
    compaction is layout-only (centroids/books/META unchanged)."""
    from query_planner_optimizer_spark.operators import similarity as S

    corpus = emb.filter(F.col("vec_id") % 8 != 0)
    shard = emb.filter(F.col("vec_id") % 8 == 0)
    qs = emb.filter(F.col("vec_id") < 20)

    d = tempfile.mkdtemp(prefix="qpo_ann_compact_")
    S.build_ann_index(corpus, d)
    S.append_to_ann_index(spark, shard, d)
    want = sorted(map(tuple, S.ann_index_topk(
        spark, qs, d, nprobe=S.IVF_NLIST).collect()))
    S.compact_ann_index(spark, d)
    got = sorted(map(tuple, S.ann_index_topk(
        spark, qs, d, nprobe=S.IVF_NLIST).collect()))
    assert got == want and len(got) > 0
    assert len([n for n in os.listdir(d) if n.startswith("v_")]) == 1

    d2 = tempfile.mkdtemp(prefix="qpo_ivfpq_compact_")
    S.build_ivfpq_index(corpus, d2)
    S.append_to_ivfpq_index(spark, shard, d2)
    want2 = sorted(map(tuple, S.ivfpq_index_topk(
        spark, qs, d2, source=emb, nprobe=S.IVF_NLIST,
        shortlist=1 << 40).collect()))
    meta_before = S._load_ivfpq_meta(d2)
    S.compact_ivfpq_index(spark, d2)
    assert S._load_ivfpq_meta(d2) == meta_before
    got2 = sorted(map(tuple, S.ivfpq_index_topk(
        spark, qs, d2, source=emb, nprobe=S.IVF_NLIST,
        shortlist=1 << 40).collect()))
    assert got2 == want2 and len(got2) > 0


def test_incremental_clusters_equals_full_recompute(spark, docs):
    """Cluster maintenance ≡ dedup_clusters(corpus ∪ shard) on the
    scale-path (xxhash) shingles: old clusters enter as star edges,
    cross pairs come from the persisted index's shingles, internal
    pairs from the shard text."""
    from query_planner_optimizer_spark.operators.dedup import dedup_clusters

    corpus = docs.filter(F.col("doc_id") % 8 != 0)
    shard = docs.filter(F.col("doc_id") % 8 == 0)
    d = tempfile.mkdtemp(prefix="qpo_incr_clusters_")
    inc.build_dedup_index(corpus, d)
    old = dedup_clusters(corpus, threshold=0.2)
    got = sorted(map(tuple, inc.incremental_clusters(
        spark, shard, d, old, threshold=0.2).collect()))
    want = sorted(map(tuple, dedup_clusters(docs, threshold=0.2).collect()))
    assert got == want and len(got) > 0


def test_incremental_clusters_merges_old_clusters(spark):
    """A shard document bridging two previously-separate clusters must
    MERGE them — the case a naive assign-to-nearest-cluster
    maintenance gets wrong."""
    from query_planner_optimizer_spark.operators.dedup import dedup_clusters

    a = "w1 w2 w3 w4 w5 w6 w7 w8"
    b = "x1 x2 x3 x4 x5 x6 x7 x8"
    corpus = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string")
    bridge = spark.createDataFrame(
        [(3, a + " " + b)], "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="qpo_incr_merge_")
    inc.build_dedup_index(corpus, d)
    old = dedup_clusters(corpus, threshold=0.2)
    # precondition: two singleton clusters before the bridge arrives
    assert {r["cluster_id"] for r in old.collect()} == {1, 2}
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
           for r in inc.incremental_clusters(
               spark, bridge, d, old, threshold=0.2).collect()}
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3)}
    want = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in dedup_clusters(
                corpus.unionByName(bridge), threshold=0.2).collect()}
    assert got == want


def test_ivfpq_unbounded_shortlist_sentinel_equals_windowed(spark, emb):
    """r15: shortlist >= 2^31 (the provably-brute-force sentinel) skips
    the shortlist window stage outright. Results must be identical to a
    finite shortlist large enough to keep every candidate, and the
    sentinel plan must not contain the shortlist rank at all."""
    from query_planner_optimizer_spark.operators import similarity as S

    d = tempfile.mkdtemp(prefix="qpo_ivfpq_sentinel_")
    S.build_ivfpq_index(emb, d)
    qs = emb.filter(F.col("vec_id") < 5)
    sent = S.ivfpq_index_topk(
        spark, qs, d, source=emb, nprobe=S.IVF_NLIST, shortlist=1 << 40)
    fin = S.ivfpq_index_topk(
        spark, qs, d, source=emb, nprobe=S.IVF_NLIST, shortlist=10**9)
    got = sorted(map(tuple, sent.collect()))
    want = sorted(map(tuple, fin.collect()))
    assert got == want
    assert "srank" not in sent._jdf.queryExecution().executedPlan().toString()
    assert "srank" in fin._jdf.queryExecution().executedPlan().toString()


def test_jaccard_persist_retires_previous_call(spark, docs):
    """r15 hygiene: each jaccard_pairs call unpersists the previous
    call's shingle-hash cache (one cached corpus pass per process, not
    one per invocation)."""
    from query_planner_optimizer_spark.operators import dedup as D

    D.jaccard_pairs(docs, threshold=0.2).count()
    assert len(D._JACCARD_PERSIST_SLOT) == 1
    first = D._JACCARD_PERSIST_SLOT[0]
    assert first.storageLevel.useMemory
    D.jaccard_pairs(docs, threshold=0.2).count()
    assert len(D._JACCARD_PERSIST_SLOT) == 1
    assert D._JACCARD_PERSIST_SLOT[0] is not first
    assert not first.storageLevel.useMemory
