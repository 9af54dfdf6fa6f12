"""Tests for the pipeline operators (dedup / similarity / text) —
oracle-checked where SQL-expressible, semantics-checked otherwise."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from query_planner_optimizer_spark.operators import (
    dedup,
    relevance,
    similarity,
    text,
)

from .conftest import SF_DIR, assert_matches_duckdb


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# ---- oracle-checked ------------------------------------------------------

def test_exact_dedup_matches_oracle(docs, ddb):
    assert_matches_duckdb(
        dedup.exact_dedup(docs), ddb, dedup.entry_oracles()["dedup_exact"]
    )


def test_jaccard_pairs_matches_oracle(docs, ddb):
    assert_matches_duckdb(
        dedup.jaccard_pairs(docs, threshold=0.2),
        ddb,
        dedup.entry_oracles()["dedup_ngram_jaccard"],
    )


def test_cosine_topk_matches_oracle(emb, ddb):
    assert_matches_duckdb(
        similarity.cosine_topk(emb), ddb,
        similarity.entry_oracles()["sim_cosine_topk"],
    )


@pytest.mark.parametrize("key", ["text_token_count", "text_quality_score",
                                 "text_lang_id", "text_fingerprint",
                                 "text_repetition", "text_pii_scrub"])
def test_text_ops_match_oracle(key, spark, ddb):
    df = text.entry_queries()[key](spark, SF_DIR)
    assert_matches_duckdb(df, ddb, text.entry_oracles()[key])


#: Synthetic rows exercising every PII hit path (the driver corpus has
#: none) — emails, IPv4s, long digit runs, mixes, and near-misses.
_PII_ROWS = [
    (1, "contact me at alice.smith+spam@example.co.uk for details"),
    (2, "server at 192.168.0.1 and backup at 10.0.0.255 are up"),
    (3, "call 5551234567 or account 00012345678 asap"),
    (4, "bob@test.io pinged 8.8.8.8 ref 99887766554"),
    (5, "no pii here, just words and the number 42"),
    (6, "almost@an@email and 1.2.3 and 123456 stay untouched"),
    (7, ""),
]


def test_pii_scrub_hit_paths_match_oracle(spark, ddb):
    """Differential PII check over synthetic rows WITH matches — both
    engines must agree on counts AND the redacted text itself."""
    sdf = spark.createDataFrame(_PII_ROWS, ["doc_id", "text"])
    got = text.with_pii_scrub(sdf).select(
        "doc_id", "n_emails", "n_ipv4", "n_numbers", "has_pii", "redacted"
    )
    ddb.execute("CREATE OR REPLACE TABLE pii_probe(doc_id BIGINT, text VARCHAR)")
    ddb.executemany("INSERT INTO pii_probe VALUES (?, ?)", _PII_ROWS)
    sql = text.entry_oracles()["text_pii_scrub"].replace(
        "FROM documents", "FROM pii_probe"
    ).replace(
        "md5(regexp_replace", "(regexp_replace"
    ).replace(") AS redacted_md5", ") AS redacted")
    assert_matches_duckdb(got, ddb, sql)
    # And the redactions actually happened where expected.
    rows = {r.doc_id: r for r in got.collect()}
    assert "<EMAIL>" in rows[1].redacted and rows[1].n_emails == 1
    assert rows[2].redacted.count("<IP>") == 2 and rows[2].n_ipv4 == 2
    assert rows[3].redacted.count("<NUM>") == 2 and rows[3].n_numbers == 2
    assert rows[4].has_pii and rows[4].n_emails == 1 and rows[4].n_ipv4 == 1
    assert not rows[5].has_pii and rows[5].redacted == _PII_ROWS[4][1]
    assert not rows[6].has_pii
    assert not rows[7].has_pii and rows[7].redacted == ""


def test_normalize_nfc_matches_duckdb_on_real_unicode(spark, ddb):
    """The pandas-UDF NFC normalizer agrees with DuckDB's nfc_normalize
    on combining sequences, precomposed chars and NULLs — and actually
    changes the decomposed inputs."""
    rows = [
        (1, "e\u0301clair"),   # e + combining acute -> U+00E9
        (2, "caf\u00e9"),      # already NFC
        (3, "A\u030a \u212b"),  # A+ring / angstrom sign -> U+00C5 both
        (4, ""),
        (5, None),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = text.with_normalized_text(sdf).select("doc_id", "text_nfc")
    ddb.execute("CREATE OR REPLACE TABLE nfc_probe(doc_id BIGINT, text VARCHAR)")
    ddb.executemany("INSERT INTO nfc_probe VALUES (?, ?)", rows)
    sql = text.entry_oracles()["text_normalize_nfc"].replace(
        "FROM documents", "FROM nfc_probe"
    )
    assert_matches_duckdb(got, ddb, sql)
    vals = {r.doc_id: r.text_nfc for r in got.collect()}
    assert vals[1] == "\u00e9clair"            # composed
    assert vals[3] == "\u00c5 \u00c5"          # both forms -> U+00C5
    assert vals[5] is None


def test_strip_markup_matches_duckdb_on_html(spark, ddb):
    rows = [
        (1, "<html><body>Hello <b>world</b>!</body></html>"),
        (2, "no tags   just    spaces"),
        (3, "<br/><p class='x'>a</p>\n\n<div>b</div>"),
        (4, ""),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = text.strip_markup(sdf).select("doc_id", "text_clean")
    ddb.execute("CREATE OR REPLACE TABLE markup_probe(doc_id BIGINT, text VARCHAR)")
    ddb.executemany("INSERT INTO markup_probe VALUES (?, ?)", rows)
    sql = text.entry_oracles()["text_strip_markup"].replace(
        "FROM documents", "FROM markup_probe"
    )
    assert_matches_duckdb(got, ddb, sql)
    vals = {r.doc_id: r.text_clean for r in got.collect()}
    assert vals[1] == "Hello world !"
    assert vals[2] == "no tags just spaces"
    assert vals[3] == "a b"
    assert vals[4] == ""


def test_collocations_planted_phrase(spark, ddb):
    """A planted phrase ('new york' always adjacent) scores high lift;
    a pair of independently-frequent tokens scores ~1; sub-threshold
    pairs are absent. Differential vs the DuckDB oracle on the same
    synthetic corpus."""
    rows = []
    for i in range(10):
        # 'new york' appears once per doc; 'the'/'cat' frequent but
        # (mostly) not adjacent.
        rows.append((i, "new york " + "the x cat y " * 5 + "the cat"))
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = text.bigram_collocations(sdf)
    ddb.execute("CREATE OR REPLACE TABLE colloc_probe(doc_id BIGINT, text VARCHAR)")
    ddb.executemany("INSERT INTO colloc_probe VALUES (?, ?)", rows)
    sql = text.entry_oracles()["text_collocations"].replace(
        "FROM documents", "FROM colloc_probe"
    )
    assert_matches_duckdb(got, ddb, sql)
    vals = {(r.tok_a, r.tok_b): r for r in got.collect()}
    ny = vals[("new", "york")]
    assert ny.n_pair == 10 and ny.n_a == 10 and ny.n_b == 10
    assert ny.lift > 5  # always adjacent -> lift = N / 10 >> 1
    tc = vals[("the", "cat")]
    assert tc.n_pair == 10  # one adjacent 'the cat' per doc
    assert tc.lift < 1.0    # frequent tokens, rarely adjacent
    assert ("x", "the") not in vals or vals[("x", "the")].n_pair >= 5


def test_repetition_flags_synthetic_extremes(spark):
    rows = [
        (1, "spam " * 50),                       # one token repeated
        (2, " ".join(f"w{i} x{i} y{i}" for i in range(40))),  # all distinct
    ]
    out = {
        r.doc_id: r
        for r in text.with_repetition(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1].repetitive and out[1].dup_3gram_ratio > 0.9
    assert out[1].top_token_ratio == 1.0
    assert not out[2].repetitive and out[2].dup_3gram_ratio == 0.0


# ---- semantic checks for hash-dependent (rows-only) ops ------------------

def test_token_vocab_matches_oracle(spark, ddb):
    df = text.q_token_vocab(spark, SF_DIR)
    assert_matches_duckdb(df, ddb, text.entry_oracles()["text_token_vocab"])


@pytest.mark.parametrize("key", ["relevance_tfidf", "relevance_bm25"])
def test_relevance_scores_match_oracle(key, spark, ddb):
    df = relevance.entry_queries()[key](spark, SF_DIR)
    assert_matches_duckdb(df, ddb, relevance.entry_oracles()[key])


def test_bm25_ranks_term_dense_doc_highest(spark):
    """A doc saturated with the query term must outrank a doc with one
    mention, and longer docs are length-penalized at equal tf."""
    rows = [
        (1, "spark spark spark spark spark"),
        (2, "spark plus lots of other words " + "filler " * 40),
        (3, "spark plus few words"),
        (4, "nothing relevant at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.score for r in relevance.bm25_scores(
        docs, terms=["spark"]).collect()}
    assert set(got) == {1, 2, 3}          # doc 4 matches nothing
    assert got[1] > got[3] > got[2]       # tf dominance, then length penalty


def test_connected_components_transitive_chain(spark):
    """A-B and B-C edges (no A-C) must land in ONE cluster; a 6-node
    path graph exercises multi-round propagation; isolated vertices
    stay singletons."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24),
         (24, 25)],
        ["doc_a", "doc_b"],
    )
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21, 22, 23, 24, 25, 99)],
        ["doc_id"],
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(edges, verts).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert all(got[i] == 20 for i in (20, 21, 22, 23, 24, 25))
    assert got[99] == 99


def test_connected_components_star_method(spark):
    """Large-star/small-star on the same graphs as the propagation test
    (identical clusters), PLUS the adversarial case: a long planted
    chain converges in O(log n) alternations where plain propagation
    needs diameter rounds — and exhaustion RAISES instead of returning
    wrong labels."""
    import pytest as _pytest

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24),
         (24, 25)],
        ["doc_a", "doc_b"],
    )
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21, 22, 23, 24, 25, 99)],
        ["doc_id"],
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(
            edges, verts, method="star"
        ).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert all(got[i] == 20 for i in (20, 21, 22, 23, 24, 25))
    assert got[99] == 99

    # Planted 512-node chain, diameter 511: propagation's label-sum
    # fixpoint needs ~511 rounds -> loud failure at max_iter=8; star
    # needs exactly 10 alternations (log2(n)+1, verified by offline
    # simulation: 64->7, 512->10, 4096->13, 65536->17), so a budget of
    # 14 passes with headroom while still proving the O(log n) claim.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(511)], ["doc_a", "doc_b"]
    ).coalesce(4)
    chain_verts = spark.createDataFrame(
        [(i,) for i in range(512)], ["doc_id"]
    ).coalesce(4)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, chain_verts, max_iter=8)
    star = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(
            chain, chain_verts, method="star", max_iter=14
        ).collect()
    }
    assert len(star) == 512 and set(star.values()) == {0}


def test_cc_round_plan_one_exchange_carries_partial_min(spark):
    """r16 skew guard (VERDICT #3): the one exchange per propagation
    round must carry PARTIAL-MIN rows — i.e. the neighbor-min message
    shuffle is a two-level aggregation (map-side partial min per key,
    final min after the exchange), which bounds what a celebrity node
    can put through the shuffle to one partially-aggregated row per
    map partition per round. AQE skew handling never applies to
    aggregations (guide §2.5), and the CC loop compiles with AQE off
    anyway — so this plan property IS the skew mitigation; pin it so a
    refactor cannot silently regress to shuffling raw
    (neighbor, label) message rows."""
    import re

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"])
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 7, 8)], ["doc_id"])
    stats: dict = {}
    dedup.connected_components(edges, verts, stats=stats)
    plan = stats["round_plan"]
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, plan
    assert "partial_min" in plan, plan


def test_dedup_clusters_matches_recursive_oracle(docs, ddb):
    assert_matches_duckdb(
        dedup.dedup_clusters(docs, threshold=0.2),
        ddb,
        dedup.entry_oracles()["dedup_connected_components"],
    )


def test_minhash_lsh_subset_of_exact(docs):
    """LSH-verified pairs must be a subset of exact Jaccard pairs (no
    false positives after verification) with decent recall."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, threshold=0.2).collect()
    }
    got = dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
    for r in got:
        assert (r.doc_a, r.doc_b) in exact
    # recall over high-similarity ground truth (LSH S-curve ~0.59 @ b8r4)
    high = {k for k, v in exact.items() if v >= 0.7}
    if high:
        found = {(r.doc_a, r.doc_b) for r in got}
        recall = len(high & found) / len(high)
        assert recall >= 0.8, f"minhash recall too low: {recall}"


def test_simhash_pairs_are_symmetric_and_bounded(docs):
    rows = dedup.simhash_pairs(docs).collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= dedup.SIMHASH_HAMMING_MAX


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different set of words entirely unrelated text")],
        ["doc_id", "text"],
    )
    rows = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(df).collect()}
    assert rows.get((1, 2)) == 0


def test_lsh_topk_recall_vs_exact(emb):
    exact = {
        (r.qid, r.nid)
        for r in similarity.cosine_topk(emb, k=10).collect()
    }
    approx = {(r.qid, r.nid) for r in similarity.lsh_topk(emb, k=10).collect()}
    # every approx hit must be a real vector pair with correct sim —
    # subset isn't required (approx may surface beyond-exact-top-k), but
    # overlap (recall@10) should be non-trivial for 64-dim data.
    recall = len(exact & approx) / max(len(exact), 1)
    assert recall >= 0.25, f"lsh recall@10 too low: {recall}"


def test_ann_recall_summary_bounds(emb):
    """The quantified-recall entry (driver hash-checked) holds its
    bounds: 20 queries, avg recall >= 0.70, min recall >= 0.40 with the
    wider-bucket (planes=4, tables=16) recall configuration."""
    row = similarity.ann_recall_summary(emb).collect()[0]
    assert row.n_queries == 20
    assert row.avg_recall_ge_70 is True
    assert row.min_recall_ge_40 is True
    # and the underlying per-query frame is complete + in [0, 1]
    per_q = similarity.ann_recall(emb).collect()
    assert len(per_q) == 20
    assert all(0.0 <= r.recall <= 1.0 for r in per_q)


def test_minhash_signature_shape(docs):
    sig = dedup.minhash_signatures(docs).limit(5).collect()
    for r in sig:
        assert len(r.sig) == dedup.MINHASH_K


def test_embedding_neardup_exact_matches_oracle(emb, ddb):
    assert_matches_duckdb(
        similarity.embedding_neardup_pairs(emb), ddb,
        similarity.entry_oracles()["dedup_embedding_cosine"],
    )


def test_embedding_neardup_lsh_subset_and_recall(emb):
    """LSH-verified near-dup pairs ⊆ exact pairs (verification removes
    all false bucket collisions) with usable recall."""
    exact = {(r.id_a, r.id_b) for r in
             similarity.embedding_neardup_pairs(emb).collect()}
    approx = {(r.id_a, r.id_b) for r in
              similarity.embedding_neardup_pairs(emb, use_lsh=True).collect()}
    assert approx <= exact
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.6, f"neardup lsh recall too low: {recall}"


def test_ivf_full_probe_equals_brute_force(emb):
    """Probing every cell must reproduce exact top-k bit-for-bit —
    the IVF partition is then just a routing detail."""
    full = {tuple(r) for r in
            similarity.ivf_topk(emb, nprobe=similarity.IVF_NLIST).collect()}
    exact = {tuple(r) for r in similarity.cosine_topk(emb).collect()}
    assert full == exact


def test_assigned_cells_in_row_argmax_no_shuffle(spark):
    """The IVF cell assignment is per-row math: its executed plan has
    no shuffle Exchange — the only exchange is the BroadcastExchange of
    the packed centroid matrix — and every row's cell equals a Python
    brute-force argmax of the cosine to each centroid (ties toward the
    lower cell; a zero vector or zero centroid scores 0.0)."""
    import math
    import random
    import re

    rng = random.Random(7)
    dim = 8
    vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(40)]
    vecs.append([0.0] * dim)
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(5)]
    cents.append([0.0] * dim)
    side = similarity.with_norm(spark.createDataFrame(
        list(enumerate(vecs)), "id long, embedding array<double>"),
    ).select("id", "_vec", "_norm")

    out = similarity._assigned_cells(side, cents)
    got = {r.id: r.cell for r in out.collect()}  # also finalizes AQE
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    exchanges = re.findall(r"(\w*)Exchange\b", final)
    assert exchanges and set(exchanges) == {"Broadcast"}, final

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def csim(v, c):
        n, cn = math.sqrt(dot(v, v)), math.sqrt(dot(c, c)) or 1.0
        return dot(v, c) / (n * cn) if n > 0 else 0.0

    want = {i: max(range(len(cents)), key=lambda c: (csim(v, cents[c]), -c))
            for i, v in enumerate(vecs)}
    assert got == want


def test_ivf_topk_recall_vs_exact(emb):
    approx = {(r.qid, r.nid) for r in similarity.ivf_topk(emb).collect()}
    exact = {(r.qid, r.nid) for r in similarity.cosine_topk(emb).collect()}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"ivf recall@10 too low: {recall}"


def test_pq_full_shortlist_equals_brute_force(emb):
    """With the ADC shortlist covering the whole corpus, the exact
    rerank sees every candidate and PQ must reproduce brute-force
    top-k bit-for-bit — quantization is then just routing. A
    non-divisible dim refuses loudly."""
    import pytest

    n = emb.count()
    full = {tuple(r) for r in
            similarity.pq_topk(emb, shortlist=n).collect()}
    exact = {tuple(r) for r in similarity.cosine_topk(emb).collect()}
    assert full == exact
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_topk(emb, dim=64, m=7)


def test_pq_topk_corpus_smaller_than_ks(emb, tmp_path):
    """A corpus with fewer vectors than ks codes per subspace trains
    only the seeded codes: PQ then equals brute-force top-k (every
    candidate reaches the exact rerank), the persisted IVF-PQ index
    records the trained code count as its LUT stride, and an empty
    corpus fails loudly."""
    import pytest

    tiny = emb.filter("vec_id < 20")
    assert tiny.count() < similarity.PQ_KS
    exact = {tuple(r) for r in similarity.cosine_topk(tiny).collect()}
    assert {tuple(r) for r in similarity.pq_topk(tiny).collect()} == exact
    idx = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(tiny, idx, nlist=2)
    assert similarity._load_ivfpq_meta(idx)["ks"] == 20
    probed = similarity.ivfpq_index_topk(
        tiny.sparkSession, tiny, idx, source=tiny, nprobe=2,
        shortlist=1 << 40)
    assert {tuple(r) for r in probed.collect()} == exact
    with pytest.raises(ValueError, match="at least one vector"):
        similarity.pq_topk(emb.filter("vec_id < 0"))


def test_pq_topk_recall_vs_exact(emb):
    approx = {(r.qid, r.nid) for r in similarity.pq_topk(emb).collect()}
    exact = {(r.qid, r.nid) for r in similarity.cosine_topk(emb).collect()}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"pq recall@10 too low: {recall}"


def test_clean_corpus_pipeline_matches_oracle(spark, ddb):
    from query_planner_optimizer_spark.operators import docpipe

    df = docpipe.q_clean_corpus(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, docpipe.entry_oracles()["pipeline_clean_corpus"]
    )


def test_clean_corpus_drops_rejects_before_shuffle(spark, catalog):
    """The quality/language gates are scan-side: the filter must appear
    below the window exchange in the physical plan."""
    from query_planner_optimizer_spark.operators import docpipe

    df = docpipe.clean_corpus(catalog.table("documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchange_pos = plan.find("Exchange")
    filter_pos = plan.rfind("Filter")
    assert exchange_pos != -1 and filter_pos != -1
    # toString prints operators top-down; a Filter BELOW the exchange
    # appears after it in the dump.
    assert filter_pos > exchange_pos


def test_hash_sample_matches_oracle(spark, ddb):
    from query_planner_optimizer_spark.operators import sampling

    df = sampling.q_sample_10pct(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, sampling.entry_oracles()["sample_hash_10pct"]
    )


def test_split_assignments_match_oracle_and_are_stable(spark, ddb):
    from query_planner_optimizer_spark.operators import sampling

    df = sampling.q_split_assignments(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, sampling.entry_oracles()["sample_split_assignments"]
    )
    # Stability: assignments computed on a SUBSET agree row-for-row —
    # adding/removing other rows never reassigns a key.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    full = {r.doc_id: r.split
            for r in sampling.split_by_hash(docs, "doc_id")
            .select("doc_id", "split").collect()}
    sub = {r.doc_id: r.split
           for r in sampling.split_by_hash(docs.limit(100), "doc_id")
           .select("doc_id", "split").collect()}
    assert all(full[k] == v for k, v in sub.items())


def test_stratified_sample_per_stratum_equivalence(spark, ddb):
    """The stratified sample restricted to one stratum is EXACTLY the
    plain hash sample of that stratum at its fraction (same per-key
    thresholds — the subset/stability contract), and the entry matches
    its oracle."""
    from query_planner_optimizer_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    strat = sampling.stratified_sample(
        docs, "lang", {"en": 0.20}, "doc_id", default_fraction=0.60
    )
    en_direct = sampling.hash_sample(
        docs.filter(F.col("lang") == "en"), "doc_id", 0.20
    )
    assert (
        sorted(r.doc_id for r in strat.filter(F.col("lang") == "en").collect())
        == sorted(r.doc_id for r in en_direct.collect())
    )
    df = sampling.q_stratified_sample(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, sampling.entry_oracles()["sample_stratified_by_lang"]
    )


def test_split_fractions_roughly_hold(spark):
    from query_planner_optimizer_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    counts = dict(
        sampling.split_by_hash(docs, "doc_id")
        .groupBy("split").count().collect()
    )
    n = sum(counts.values())
    assert counts.get("train", 0) / n > 0.7
    assert 0.03 < counts.get("val", 0) / n < 0.2
    assert 0.03 < counts.get("test", 0) / n < 0.2


def test_chunk_documents_matches_oracle(spark, ddb):
    from query_planner_optimizer_spark.operators import docpipe

    df = docpipe.q_chunk_documents(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, docpipe.entry_oracles()["pipeline_chunk_documents"]
    )


def test_chunk_documents_window_semantics(spark):
    """Overlapping-window invariants on a synthetic long doc: full
    coverage, 64-token chunks except the tail, 16-token overlap, and
    reassembly of the original token stream from stride prefixes."""
    from query_planner_optimizer_spark.operators import docpipe

    toks = [f"t{i}" for i in range(150)]
    df = spark.createDataFrame([(1, " ".join(toks)), (2, ""), (3, "one")],
                               ["doc_id", "text"])
    rows = sorted(
        docpipe.chunk_documents(df).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc  # empty doc yields no chunks
    assert [r.n_chunk_tokens for r in by_doc[3]] == [1]
    c1 = by_doc[1]
    # ceil(150/48) = 4 chunks at starts 0/48/96/144; the last two
    # truncate at the document end: sizes 64, 64, 150-96=54, 150-144=6
    assert [r.n_chunk_tokens for r in c1] == [64, 64, 54, 6]
    for i, r in enumerate(c1):
        start = i * docpipe.CHUNK_STRIDE
        expect = toks[start:start + docpipe.CHUNK_SIZE]
        assert r.chunk_text.split(" ") == expect
    # stride prefixes reassemble the original stream exactly
    reassembled = []
    for r in c1:
        reassembled.extend(r.chunk_text.split(" ")[:docpipe.CHUNK_STRIDE])
    assert reassembled[:150] == toks


def test_pack_sequences_matches_oracle(spark, ddb):
    from query_planner_optimizer_spark.operators import docpipe

    df = docpipe.q_pack_sequences(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, docpipe.entry_oracles()["pipeline_pack_sequences"]
    )


def test_pack_sequences_budget_properties(spark, catalog):
    """Within a shard: pack ids are contiguous from 0; every pack except
    possibly the last STARTS within budget (offset < budget); offsets
    increase with doc order."""
    from pyspark.sql import functions as F

    from query_planner_optimizer_spark.operators import docpipe, text

    docs = text.with_token_count(catalog.table("documents"))
    packed = docpipe.pack_sequences(docs)
    rows = packed.orderBy("shard", "doc_id").collect()
    assert all(0 <= r.pack_offset < docpipe.PACK_BUDGET for r in rows)
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        ids = [r.pack_id for r in shard_rows]
        assert ids[0] == 0  # first doc of a shard starts pack 0
        # monotone in doc order (a pack never reopens)
        assert all(b >= a for a, b in zip(ids, ids[1:]))


def test_pack_sequences_grouped_never_mixes_groups(spark, catalog):
    """group_cols packing: a (group, shard, pack_id) pack holds exactly
    one group's documents, and within each group the packing equals the
    ungrouped algorithm applied to that group alone."""
    from query_planner_optimizer_spark.operators import docpipe, text

    docs = text.with_token_count(catalog.table("documents"))
    grouped = docpipe.pack_sequences(docs, group_cols=("lang",))
    rows = grouped.collect()
    assert {r.lang for r in rows} == {
        r.lang for r in docs.select("lang").distinct().collect()
    }
    langs = sorted({r.lang for r in rows})
    got_by_lang = {
        lg: sorted(
            (r.doc_id, r.shard, r.pack_id, r.pack_offset)
            for r in rows if r.lang == lg
        )
        for lg in langs
    }
    for lg in langs:
        solo = sorted(
            (r.doc_id, r.shard, r.pack_id, r.pack_offset)
            for r in docpipe.pack_sequences(
                docs.filter(F.col("lang") == lg)
            ).collect()
        )
        assert got_by_lang[lg] == solo


def test_top_quality_fraction_matches_oracle_no_window(spark, ddb):
    from query_planner_optimizer_spark.operators import docpipe

    df = docpipe.q_top_quality(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, docpipe.entry_oracles()["pipeline_top_quality"]
    )
    # threshold broadcast-join, never a per-group window sort
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # kept fraction ≈ keep_frac (ties only push it up)
    rows = df.collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r.lang, []).append(r)
    for lang, kept in by_group.items():
        n = kept[0].n_group
        frac = len(kept) / n
        # interpolated cutoff may exclude one boundary rank; ties only
        # push the kept set up
        assert docpipe.TOP_QUALITY_KEEP_FRAC - 1 / n <= frac + 1e-9
        assert frac <= docpipe.TOP_QUALITY_KEEP_FRAC + 0.2, (lang, frac)


def test_decontaminate_matches_oracle(spark, ddb):
    assert_matches_duckdb(
        dedup.q_decontaminate(spark, SF_DIR), ddb,
        dedup.entry_oracles()["dedup_decontaminate"],
    )


def test_decontaminate_flags_planted_overlap(spark):
    """A training doc embedding an eval doc's 5-gram is flagged; clean
    docs are not."""
    evalset = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"])
    train = spark.createDataFrame(
        [(1, "noise words alpha beta gamma delta epsilon more noise"),
         (2, "entirely unrelated content with no shared window at all")],
        ["doc_id", "text"])
    got = {r.doc_id: r for r in
           dedup.decontaminate(train, evalset, n=5).collect()}
    assert set(got) == {1}
    assert got[1].n_shared_ngrams == 1 and got[1].n_eval_docs_hit == 1


def test_oov_ratio_matches_oracle_and_flags_noise(spark, ddb):
    assert_matches_duckdb(
        text.q_oov_ratio(spark, SF_DIR), ddb,
        text.entry_oracles()["text_oov_ratio"],
    )
    vocab = spark.createDataFrame(
        [("known",), ("words",)], ["token"])
    docs = spark.createDataFrame(
        [(1, "known words known"), (2, "known zzqx vvbb"), (3, "")],
        ["doc_id", "text"])
    got = {r.doc_id: r for r in text.oov_ratio(docs, vocab).collect()}
    assert got[1].oov_rate == 0.0
    assert got[2].n_oov == 2 and abs(got[2].oov_rate - 2 / 3) < 1e-6
    assert got[3].n_tokens == 0 and got[3].oov_rate == 0.0


def test_mixture_sample_matches_oracle(spark, ddb):
    from query_planner_optimizer_spark.operators import sampling

    assert_matches_duckdb(
        sampling.q_mixture(spark, SF_DIR), ddb,
        sampling.entry_oracles()["sample_mixture_weights"],
    )


def test_mixture_sample_epoch_semantics(spark):
    """weight w emits floor(w) full epochs of every key plus a
    deterministic (w - floor(w)) sample as the last epoch; weight 0
    emits nothing; default weight 1 emits exactly epoch 0."""
    from query_planner_optimizer_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = sampling.mixture_sample(
        docs, "source", {"src0": 2.5, "src2": 0.0}, "doc_id"
    ).select("doc_id", "source", "epoch")
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    n_src0 = docs.filter("source = 'src0'").count()
    # src0: epochs 0 and 1 are full copies; epoch 2 is a proper subset.
    e = {0: 0, 1: 0, 2: 0}
    for r in by_src["src0"]:
        e[r.epoch] += 1
    assert e[0] == n_src0 and e[1] == n_src0
    assert 0 <= e[2] < n_src0
    # weight 0 drops the source entirely.
    assert "src2" not in by_src
    # unlisted sources: exactly one epoch-0 copy each.
    other = [r for s, rs in by_src.items() if s not in ("src0", "src2")
             for r in rs]
    assert other and all(r.epoch == 0 for r in other)
    n_other = docs.filter("source NOT IN ('src0', 'src2')").count()
    assert len(other) == n_other


def test_new_operators_empty_and_edge_inputs(spark):
    """Degenerate inputs must not throw: empty corpora, all-boilerplate
    documents, sub-threshold collocations, empty join sides."""
    from query_planner_optimizer_spark.functions.skew import salted_join
    from query_planner_optimizer_spark.operators import docpipe

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert docpipe.line_dedup(empty_docs).count() == 0
    assert docpipe.line_dedup(empty_docs, line_tokens=3).count() == 0
    assert text.bigram_collocations(empty_docs).count() == 0
    # one-token docs produce no bigrams; single doc -> no pair clears
    # the min_count bar either
    tiny = spark.createDataFrame([(1, "solo"), (2, "a b")],
                                 "doc_id long, text string")
    assert text.bigram_collocations(tiny).count() == 0
    # every line boilerplate -> clean_text becomes '' but rows survive
    boiler_docs = spark.createDataFrame(
        [(i, "same line") for i in range(4)], "doc_id long, text string"
    )
    out = docpipe.line_dedup(boiler_docs, max_doc_freq=2).collect()
    assert len(out) == 4
    assert all(r.clean_text == "" and r.n_lines_removed == 1 for r in out)
    # salted join with an empty dim/fact side
    fact = spark.createDataFrame([(1, 10)], "k long, payload long")
    empty_dim = spark.createDataFrame([], "k long, attr string")
    assert salted_join(fact, empty_dim, "k", hot_keys=[1]).count() == 0
    empty_fact = spark.createDataFrame([], "k long, payload long")
    dim = spark.createDataFrame([(1, "d")], "k long, attr string")
    assert salted_join(empty_fact, dim, "k").count() == 0


def test_line_dedup_newline_mode(spark):
    """Real-corpus mode: a boilerplate line planted in 3 documents is
    removed everywhere (df > 2); unique lines survive; reassembly
    preserves original line order and counts are exact."""
    from query_planner_optimizer_spark.operators import docpipe

    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"alpha one\n{boiler}\nbeta two"),
        (2, f"{boiler}\ngamma three"),
        (3, f"delta four\n{boiler}"),
        (4, "all unique\nlines here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in docpipe.line_dedup(docs, max_doc_freq=2).collect()
    }
    assert got[1].clean_text == "alpha one\nbeta two"
    assert got[1].n_lines_kept == 2 and got[1].n_lines_removed == 1
    assert got[2].clean_text == "gamma three"
    assert got[3].clean_text == "delta four"
    assert got[4].clean_text == "all unique\nlines here"
    assert got[4].n_lines_removed == 0
    # df == max_doc_freq is KEPT (strictly-greater removal threshold)
    kept2 = {
        r.doc_id: r
        for r in docpipe.line_dedup(docs, max_doc_freq=3).collect()
    }
    assert kept2[2].clean_text == f"{boiler}\ngamma three"


def test_line_dedup_matches_oracle(spark, ddb):
    from query_planner_optimizer_spark.operators import docpipe

    assert_matches_duckdb(
        docpipe.q_line_dedup(spark, SF_DIR), ddb,
        docpipe.entry_oracles()["pipeline_line_dedup"],
    )


def test_token_budget_selection(spark, ddb):
    """Matches the single-window oracle, spends at most the budget, and
    is maximal: the next document in (quality desc, doc_id) order would
    overflow."""
    from query_planner_optimizer_spark.operators import docpipe
    from query_planner_optimizer_spark.operators import text as T

    got = docpipe.q_token_budget(spark, SF_DIR)
    assert_matches_duckdb(
        got, ddb, docpipe.entry_oracles()["pipeline_token_budget"]
    )
    rows = got.orderBy("cum_tokens").collect()
    if rows:
        assert rows[-1].cum_tokens <= docpipe.TOKEN_BUDGET
    docs = T._load_documents(spark, SF_DIR)
    import pyspark.sql.functions as F

    scored = T.with_quality_score(docs).select(
        "doc_id", F.round("quality_score", 6).alias("q"), "n_tokens"
    ).orderBy(F.col("q").desc(), F.col("doc_id").asc()).collect()
    cum, expect = 0, []
    for r in scored:
        if cum + r.n_tokens > docpipe.TOKEN_BUDGET:
            break
        cum += r.n_tokens
        expect.append(r.doc_id)
    assert sorted(r.doc_id for r in rows) == sorted(expect)


def test_connected_components_diameter_equals_max_iter(spark):
    """A 6-node path (diameter 5) with max_iter=5: labels settle in
    exactly 5 propagation rounds; the post-loop change-check proves the
    fixpoint without a 6th budgeted round (previously this raised even
    though the labels were already correct)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["doc_a", "doc_b"]
    )
    verts = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(
            edges, verts, max_iter=5
        ).collect()
    }
    assert len(got) == 6 and set(got.values()) == {0}


def test_minhash_hot_bucket_drop(spark):
    """Degenerate corpus: 40 identical (empty-ish) documents all land in
    ONE bucket per band — 780 candidate pairs from a single hot bucket.
    With max_bucket_size the hot buckets are dropped (no pairs from the
    degenerate group), normal near-dup pairs in the same corpus survive
    via their own small buckets, and the plan stays pure equi-joins
    (no CartesianProduct/BroadcastNestedLoop)."""
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "with considerable enthusiasm every single morning")
    rows = [(i, "boiler plate") for i in range(40)]          # degenerate
    rows += [(100, base), (101, base)]                        # true near-dup
    rows += [(200 + i, f"unique text number {i} " + " ".join(
        f"w{i}x{j}" for j in range(12))) for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(4)

    uncapped = dedup.minhash_lsh_pairs(docs, threshold=0.2)
    capped_df = dedup.minhash_lsh_pairs(docs, threshold=0.2,
                                        max_bucket_size=8)
    plan = capped_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan

    un = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    cap = {(r.doc_a, r.doc_b) for r in capped_df.collect()}
    # Uncapped: the degenerate group contributes 40*39/2 pairs.
    assert sum(1 for a, b in un if a < 40 and b < 40) == 780
    # Capped: every degenerate-bucket pair is gone...
    assert not any(a < 40 and b < 40 for a, b in cap)
    # ...while the genuine near-dup pair survives (its buckets are small).
    assert (100, 101) in cap
    assert cap <= un


def test_token_budget_salted_constant_score(spark):
    """Adversarial corpus: every document has the SAME quality score (one
    level holds the whole corpus — the concentration hazard). With a
    small salt_width the within-level window splits into doc_id-range
    buckets (each <= salt_width rows by construction) and the selection
    still equals the naive single-window prefix sum."""
    from query_planner_optimizer_spark.operators import docpipe

    # identical text -> identical quality score (and token count: six
    # whitespace tokens, re-derived by with_quality_score) across docs
    rows = [(i, "alpha beta gamma delta epsilon zeta", 6) for i in range(200)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "n_tokens"]).coalesce(4)

    budget = 6 * 57 + 3          # cuts mid-corpus, not on a doc boundary
    got = docpipe.select_token_budget(docs, budget=budget, salt_width=16)
    res = {r.doc_id: r.cum_tokens for r in got.collect()}
    # naive reference: same score everywhere -> order is doc_id asc
    want = {}
    cum = 0
    for i in range(200):
        cum += 6
        if cum <= budget:
            want[i] = cum
    assert res == want                     # exact single-window semantics
    assert len(res) == 57

    # partition bound holds by construction: no (level, salt) bucket
    # exceeds salt_width documents
    from pyspark.sql import functions as F
    from query_planner_optimizer_spark.operators import text as T

    scored = T.with_quality_score(docs).select(
        "doc_id", F.round("quality_score", 6).alias("q"))
    mx = (scored.withColumn("s", F.expr("doc_id DIV 16"))
          .groupBy("q", "s").count()
          .agg(F.max("count")).collect()[0][0])
    assert mx <= 16


def test_semantic_dedup_matches_oracle_and_invariants(emb, ddb):
    """Full semantic-dedup pipeline (LSH pairs → CC → survivors) vs the
    recursive-CTE oracle, plus structural invariants: cluster_id is a
    member min, exactly one canonical per cluster, sizes add to N."""
    df = similarity.semantic_dedup(emb)
    assert_matches_duckdb(
        df, ddb, similarity.entry_oracles()["dedup_semantic_clusters"]
    )
    rows = df.collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == emb.count()
    for cid, members in by_cluster.items():
        assert cid == min(m.vec_id for m in members)
        assert sum(m.is_canonical for m in members) == 1
        assert all(m.cluster_size == len(members) for m in members)


def test_quantized_topk_recall_vs_exact(emb):
    """int8-quantized cosine top-k recalls ≥0.8 of exact top-10 on
    64-dim vectors (literature says high-90s; assert a safe floor),
    and quantized values stay within [-127, 127]."""
    exact = {}
    for r in similarity.cosine_topk(emb).collect():
        exact.setdefault(r.qid, set()).add(r.nid)
    quant = {}
    for r in similarity.quantized_topk(emb).collect():
        quant.setdefault(r.qid, set()).add(r.nid)
    recalls = [
        len(exact[q] & quant.get(q, set())) / len(exact[q]) for q in exact
    ]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.8, f"quantized recall too low: {avg}"
    qd = similarity.quantize_embeddings(emb).collect()
    for r in qd[:50]:
        assert all(-127 <= v <= 127 for v in r.qvec)
        assert r.scale > 0


def test_bigram_lm_score_semantics(spark):
    """A perfectly predictable corpus scores 1.0; a document whose
    transitions are unique in the corpus scores lower than one whose
    transitions are shared by every other document."""
    from query_planner_optimizer_spark.operators import text

    rows = [(i, "a b a b a b") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.bigram_lm_score(docs).collect()}
    assert len(got) == 5
    for r in got.values():
        assert r.n_bigrams == 5
        assert r.lm_score == 1.0  # every transition is deterministic

    rows2 = [(i, "x y x y x y") for i in range(9)] + [(99, "x q y p x z")]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got2 = {r.doc_id: r.lm_score for r in text.bigram_lm_score(docs2).collect()}
    assert got2[0] > got2[99]  # typical transitions beat unique ones
    assert 0.0 < got2[99] < got2[0] <= 1.0
    # docs with <2 tokens are absent
    docs3 = spark.createDataFrame([(1, "solo"), (2, "a b")],
                                  "doc_id long, text string")
    out3 = text.bigram_lm_score(docs3).collect()
    assert {r.doc_id for r in out3} == {2}


def test_epoch_shuffle_properties(spark):
    """Each epoch is a complete deterministic permutation; different
    epochs produce different orders; shards are reasonably balanced."""
    from query_planner_optimizer_spark.operators import sampling

    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    e0 = sampling.epoch_shuffle(docs, "doc_id", 8, seed=1, epoch=0)
    e1 = sampling.epoch_shuffle(docs, "doc_id", 8, seed=1, epoch=1)
    p0 = e0.orderBy("shard", "shuffle_key", "doc_id").collect()
    p1 = e1.orderBy("shard", "shuffle_key", "doc_id").collect()
    assert len(p0) == len(p1) == 500  # complete, no dup/drop
    assert {r.doc_id for r in p0} == set(range(500))
    assert [r.doc_id for r in p0] != [r.doc_id for r in p1]  # re-permuted
    sizes = [sum(1 for r in p0 if r.shard == s) for s in range(8)]
    assert all(20 <= n <= 110 for n in sizes), sizes  # no empty/hot shard
    # determinism: same seed+epoch reproduces bit-identically
    again = sampling.epoch_shuffle(docs, "doc_id", 8, seed=1, epoch=0)
    assert [(r.shard, r.shuffle_key) for r in
            again.orderBy("doc_id").collect()] == \
           [(r.shard, r.shuffle_key) for r in e0.orderBy("doc_id").collect()]
    with pytest.raises(ValueError):
        sampling.epoch_shuffle(docs, "doc_id", 0)


def test_duplicate_spans_semantics(spark):
    """Planted shared substring across docs is found and merged into
    one maximal span per doc; unique text yields no spans; spans carry
    1-based inclusive token positions."""
    from query_planner_optimizer_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, f"unique one two three {shared} tail1 tailx"),
        (2, f"{shared} totally different ending here now"),
        (3, "nothing in common with anything else at all bravo charlie"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.duplicate_spans(docs, window=8).collect()}
    assert set(out) == {1, 2}          # doc 3 has no duplicated window
    # doc 1: shared tokens occupy positions 5..14 -> windows 5..7 merge
    assert out[1].span_start == 5 and out[1].span_end == 14
    assert out[1].n_windows == 3
    # doc 2: shared tokens at positions 1..10
    assert out[2].span_start == 1 and out[2].span_end == 10
    assert out[2].n_windows == 3


def test_remove_duplicate_spans_cuts_planted(spark):
    """Planted shared substring is removed from every copy; unique
    documents pass through intact with original token order."""
    from query_planner_optimizer_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"keep one two {shared} keep3 keep4"),
        (2, f"{shared} other tail here now ok"),
        (3, "fully unique text stays word for word exactly"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.remove_duplicate_spans(docs, window=8).collect()}
    assert out[1].text_clean == "keep one two keep3 keep4"
    assert out[1].n_tokens_kept == 5
    assert out[2].text_clean == "other tail here now ok"
    assert out[3].text_clean == "fully unique text stays word for word exactly"


def test_temperature_mixture_rebalances(spark):
    """alpha=0.5 temperature sampling up-weights rare sources and
    down-samples dominant ones, preserving total size approximately;
    deterministic across runs."""
    from query_planner_optimizer_spark.operators import sampling

    rows = [(i, "big") for i in range(900)] + \
           [(1000 + i, "small") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.temperature_mixture(docs, "source", "doc_id")
    got = out.groupBy("source").count().collect()
    n = {r.source: r["count"] for r in got}
    # w_big = N*sqrt(900)/(sqrt(900)+sqrt(100))/900 = 1000*30/40/900 ≈ .83
    # w_small = 1000*10/40/100 = 2.5 -> small roughly 2.5x, big sampled
    assert 200 <= n["small"] <= 300, n
    assert 680 <= n["big"] <= 820, n
    total = n["small"] + n["big"]
    assert 850 <= total <= 1150, total  # size preserved in expectation
    # determinism
    again = sampling.temperature_mixture(docs, "source", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == \
           sorted(r.doc_id for r in again.collect())


def test_bpe_merge_induction_matches_python_reference(spark):
    """The distributed BPE merge rounds equal a plain-Python reference
    (pair counting with overlap, lexicographic tiebreak, left-to-right
    non-overlapping fuse) on a corpus tiny enough to hand-check."""
    from collections import Counter

    from query_planner_optimizer_spark.operators.text import (
        bpe_merge_induction,
    )

    texts = ["low low low lower lowest", "new newer newest new",
             "low new lowest"]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")

    def py_bpe(texts, n):
        words = Counter(w for t in texts for w in t.lower().split())
        vocab = {tuple(w): c for w, c in words.items()}
        out = []
        for r in range(1, n + 1):
            pairs = Counter()
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += c
            if not pairs:
                break
            (l, rr), pc = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((r, l, rr, pc))
            new_vocab = {}
            for syms, c in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == l
                            and syms[i + 1] == rr):
                        merged.append(l + rr)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                new_vocab[tuple(merged)] = \
                    new_vocab.get(tuple(merged), 0) + c
            vocab = new_vocab
        return out

    want = py_bpe(texts, 5)
    got = [(r.merge_round, r.left_sym, r.right_sym, r.pair_count)
           for r in bpe_merge_induction(docs, n_merges=5)
           .orderBy("merge_round").collect()]
    assert got == want
    # top_words truncation keeps determinism
    got2 = bpe_merge_induction(docs, n_merges=3, top_words=4).collect()
    assert len(got2) == 3

    # Adjacent repeated pairs (the r7 _bpe_fuse fix): ' a a a a '
    # must fuse to 'aa aa' like the Sennrich scan, not the old
    # shared-separator ' aa a a ' — pair counts in later rounds
    # diverge if the fuse under- or mis-aligns on runs.
    rep = ["aaaa aaa aaaaa aaaa baaab"]
    docs_rep = spark.createDataFrame([(0, rep[0])],
                                     "doc_id long, text string")
    want_rep = py_bpe(rep, 4)
    got_rep = [(r.merge_round, r.left_sym, r.right_sym, r.pair_count)
               for r in bpe_merge_induction(docs_rep, n_merges=4)
               .orderBy("merge_round").collect()]
    assert got_rep == want_rep


def test_bpe_segment_applies_merges_in_order(spark):
    """Encoding applies merges in LEARNED order (an early merge feeds a
    later one: e + s -> es, then es + t -> est), and unmergeable words
    stay char-segmented."""
    from query_planner_optimizer_spark.operators.text import bpe_segment

    docs = spark.createDataFrame(
        [(1, "test best rest"), (2, "xy")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in bpe_segment(
        docs, [("e", "s"), ("es", "t")]).collect()}
    # 'test' -> t,e,s,t -> t,es,t -> t,est : 2 subwords; same for best/rest
    assert out[1].n_words == 3 and out[1].n_bpe_tokens == 6
    assert out[2].n_words == 1 and out[2].n_bpe_tokens == 2


def test_ngram_novelty_semantics(spark):
    """Known overlap: an eval doc fully covered by the reference scores
    0 novelty; a fully-unseen doc scores 1; a short (< n words) doc
    falls back to its whole-doc shingle."""
    from query_planner_optimizer_spark.operators.dedup import (
        ngram_novelty,
    )

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps"), (101, "tiny doc")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(1, "the quick brown fox"),      # both 3-grams seen
         (2, "completely novel words here"),   # none seen
         (3, "tiny doc"),                 # short: whole-doc shingle, seen
         (4, "small one")],               # short: whole-doc, unseen
        "doc_id long, text string")
    got = {r.doc_id: r for r in ngram_novelty(ev, ref).collect()}
    assert got[1].novelty == 0.0 and got[1].n_ngrams == 2
    assert got[2].novelty == 1.0
    assert got[3].novelty == 0.0 and got[3].n_ngrams == 1
    assert got[4].novelty == 1.0 and got[4].n_ngrams == 1


def test_select_representatives_policy(spark):
    """Best score wins the cluster; exact ties fall to the smaller id;
    singleton clusters are their own representative."""
    from query_planner_optimizer_spark.operators.dedup import (
        select_representatives,
    )

    df = spark.createDataFrame(
        [(1, 10, 0.5), (2, 10, 0.9), (3, 10, 0.9),
         (4, 20, 0.1)],
        "doc_id long, cluster_id long, quality_score double")
    got = {r.doc_id: r.is_representative
           for r in select_representatives(df).collect()}
    assert got == {1: False, 2: True, 3: False, 4: True}


def test_snapshot_diff_semantics(spark):
    """Hand-built snapshots hit every status class; the report counts
    match; multi-column content participates in change detection."""
    from query_planner_optimizer_spark.operators.docpipe import (
        snapshot_diff,
        snapshot_diff_report,
    )

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")],
        "doc_id long, text string, meta string")
    new = spark.createDataFrame(
        [(2, "b", "y"), (3, "c", "CHANGED"), (4, "d", "w")],
        "doc_id long, text string, meta string")
    got = {r.doc_id: r.status for r in snapshot_diff(
        old, new, content_cols=("text", "meta")).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed",
                   4: "added"}
    rep = {r.status: r.n for r in snapshot_diff_report(
        old, new, content_cols=("text", "meta")).collect()}
    assert rep == {"added": 1, "removed": 1, "changed": 1,
                   "unchanged": 1}
    # text-only content: row 3's meta change is invisible
    got_t = {r.doc_id: r.status for r in snapshot_diff(
        old, new).collect()}
    assert got_t[3] == "unchanged"


def test_split_leakage_report_semantics(spark):
    """Leaked = identical content under ids assigned to different
    splits; single-split duplicate groups and unique docs don't
    appear; the splits column lists the sorted distinct split names."""
    from query_planner_optimizer_spark.operators.dedup import (
        split_leakage_report,
    )
    from query_planner_optimizer_spark.operators.sampling import (
        split_by_hash,
    )

    base = spark.createDataFrame(
        [(i, f"text-{i % 40}") for i in range(200)], "doc_id long, text string"
    )
    out = split_leakage_report(base).collect()
    assigned = {r.doc_id: r.split
                for r in split_by_hash(base, "doc_id").collect()}
    # independent reconstruction
    from collections import defaultdict
    groups = defaultdict(set)
    for i in range(200):
        groups[f"text-{i % 40}"].add(assigned[i])
    want_leaked = {t for t, s in groups.items() if len(s) > 1}
    assert len(out) == len(want_leaked)
    for r in out:
        assert r.n_splits == len(set(r.splits.split(",")))
        assert r.n_splits > 1
        assert r.splits == ",".join(sorted(r.splits.split(",")))


def test_reliable_checkpoint_survives_block_loss(spark, tmp_path):
    """The cluster-deployment knob (checkpoint_dir=) must make the CC
    loop survive losing every cached block — the executor-failure mode
    that destroys a localCheckpoint-pinned loop (its lineage is
    truncated, so lost blocks are unrecomputable). Kill-test: drop all
    persistent RDD blocks created by each variant, then re-read."""
    sc = spark.sparkContext

    def new_rdd_ids(before):
        jmap = sc._jsc.getPersistentRDDs()
        return {int(r) for r in jmap.keySet().toArray()} - before

    def drop(ids):
        jmap = sc._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            if int(rid) in ids:
                jmap.get(rid).unpersist(True)

    def snapshot():
        return {int(r)
                for r in sc._jsc.getPersistentRDDs().keySet().toArray()}

    df = spark.range(0, 5000).selectExpr("id", "id % 7 AS g")

    # (a) localCheckpoint CANNOT survive: blocks gone → unrecomputable.
    before = snapshot()
    lc = df.localCheckpoint(eager=True)
    assert lc.count() == 5000
    drop(new_rdd_ids(before))
    with pytest.raises(Exception, match="(?i)checkpoint|block"):
        lc.count()

    # (b) the reliable-checkpoint CC run survives the same kill and
    # matches the default run's labels exactly.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)]       # 20 two-node comps
        + [(100, 101), (101, 102), (102, 103)],      # one chain
        "doc_a long, doc_b long",
    )
    verts = spark.createDataFrame(
        [(i,) for i in range(0, 42)] + [(i,) for i in range(100, 104)]
        + [(999,)],                                  # singleton
        "doc_id long",
    )
    want = sorted(map(tuple, dedup.connected_components(
        edges, verts).collect()))
    ckpt = str(tmp_path / "cc_ckpt")
    before = snapshot()
    got_df = dedup.connected_components(
        edges, verts, checkpoint_dir=ckpt)
    got = sorted(map(tuple, got_df.collect()))
    assert got == want
    # reliable checkpoint files actually exist on disk
    files = [os.path.join(r, f) for r, _d, fs in os.walk(ckpt) for f in fs]
    assert files, "no reliable checkpoint data written"
    drop(new_rdd_ids(before))
    assert sorted(map(tuple, got_df.collect())) == want  # survives

    # star method honors the knob too
    got_star = sorted(map(tuple, dedup.connected_components(
        edges, verts, method="star",
        checkpoint_dir=str(tmp_path / "cc_ckpt_star")).collect()))
    assert got_star == want


def test_multiprobe_beats_single_probe(emb):
    """The 1-bit probe fan-out must (a) keep every single-probe
    candidate (the 0-flip key is always probed, so per-query best sim
    can only improve) and (b) clear the quantified recall gate,
    including structural dominance over single-probe."""
    single = similarity.lsh_topk(emb).toPandas()
    multi = similarity.lsh_multiprobe_topk(emb).toPandas()
    s_best = single[single["rank"] == 1].set_index("qid")["sim"]
    m_best = multi[multi["rank"] == 1].set_index("qid")["sim"]
    for qid, s in s_best.items():
        assert m_best.get(qid, -1.0) >= s - 1e-12
    row = similarity.multiprobe_recall_summary(emb).collect()[0]
    assert row.n_queries == 20
    assert row.avg_recall_ge_80 and row.min_recall_ge_40
    assert row.multi_ge_single_avg


def test_ivfpq_full_probe_full_shortlist_equals_brute_force(emb):
    """nprobe == nlist admits every pair past the cell filter and an
    unbounded shortlist reranks everything exactly — the composition
    must degenerate to brute-force cosine top-k bit-for-bit."""
    got = similarity.ivfpq_topk(
        emb, nprobe=similarity.IVF_NLIST, shortlist=1 << 40)
    want = similarity.cosine_topk(emb)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_ivfpq_pruned_recall_gate(emb):
    row = similarity.ivfpq_recall_summary(emb).collect()[0]
    assert row.n_queries == 20
    assert row.avg_recall_ge_50 and row.min_recall_ge_10


def test_ivfpq_residual_full_probe_equals_brute_force(emb):
    """The residual (IVFADC) variant must satisfy the same degeneracy:
    full probe + unbounded shortlist ≡ exact brute force — covering
    the per-(query, cell) LUT path and the kept |r_q|^2 term."""
    got = similarity.ivfpq_topk(
        emb, nprobe=similarity.IVF_NLIST, shortlist=1 << 40,
        residual=True)
    want = similarity.cosine_topk(emb)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_multiprobe_flips2_superset_and_cap(emb):
    """flips=2 candidates ⊇ flips=1 ⊇ single-probe (the smaller rings
    are always probed), so recall is monotone in flips; an over-budget
    (planes, flips) combination raises loudly."""
    exact = {(r.qid, r.nid) for r in similarity.cosine_topk(emb).collect()}
    got1 = {(r.qid, r.nid)
            for r in similarity.lsh_multiprobe_topk(emb).collect()}
    got2 = {(r.qid, r.nid)
            for r in similarity.lsh_multiprobe_topk(emb, flips=2).collect()}

    def recall(got):
        return len(got & exact) / len(exact)

    assert recall(got2) >= recall(got1)
    with pytest.raises(ValueError, match="max_probes"):
        similarity.lsh_multiprobe_topk(emb, flips=2, max_probes=5)
    with pytest.raises(ValueError, match="flips"):
        similarity.lsh_multiprobe_topk(emb, flips=3)


def test_with_quality_and_lang_equals_chained_composition(docs):
    """r15: the fused single-tokenize scorer must be column-for-column
    identical (names, order, values) to the chained composition it
    replaced in clean_corpus / corpus_card / curation_funnel."""
    fused = text.with_quality_and_lang(docs)
    chained = text.with_lang_id(text.with_quality_score(docs))
    assert fused.columns == chained.columns
    got = sorted(map(tuple, fused.collect()))
    want = sorted(map(tuple, chained.collect()))
    assert got == want
