"""Persisted BM25 serving index: build / append / probe under
CURRENT-pointer versioning — the lexical twin of the ANN serving index
(similarity.py's build/append/probe family).

Why it exists: :func:`relevance.bm25_scores` is the one-shot scorer —
it re-tokenizes the corpus and recomputes df/avgdl on EVERY call. A
real retrieval user queries a frozen corpus repeatedly; at 100 TB the
corpus pass is the whole bill and must be paid at BUILD time, once.
(No reference analog — the reference engine, `claude.md:92-143`, has
no text-retrieval surface at all; additive, like the dedup/ANN
families.)

Layout (one complete version per ``v_*`` dir, published by flipping
the one-line ``CURRENT`` pointer; see operators/indexstore.py):

- ``postings/`` — (term, doc_id, tf, dl) PARTITIONED BY ``tbucket``
  (= hash(term) mod n_buckets). Term-bucket partitioning rather than
  ``partitionBy(term)``: a corpus vocabulary is millions of distinct
  terms (a directory per term is a filesystem DoS), while a bucketed
  layout keeps the directory count fixed AND still prunes — a query
  touches only its terms' buckets (PartitionFilters on the scan,
  plan-audited in tests), and the pushed ``term IN (...)`` filter
  prunes row groups inside each bucket because postings are
  sorted by term. Query cost ∝ matched postings, not corpus size.
- ``stats/`` — append-only DELTA rows (n_docs, sum_dl), one per
  build/append publish; probes SUM them (a handful of tiny rows).
- ``META.json`` — (n_buckets) INSIDE the version dir, so layout and
  postings commit atomically with the single CURRENT flip.

Exactness: unlike the ANN family's frozen codebooks (which trade
staleness for append cheapness), BM25's corpus statistics are pure
aggregates, so appends here are EXACT with no staleness bound at all —
``df`` is derived at query time from the matched postings themselves
(one row per (term, doc) ⇒ count = document frequency), and N/avgdl
come from summing the stats deltas (integer-exact: sum_dl is a long,
avgdl = sum_dl/n_docs in one deterministic double division). An
appended index therefore serves scores IDENTICAL to a full rebuild —
pinned in tests and by the driver entry, whose oracle recomputes BM25
from the raw documents in SQL.

Index size: postings are O(distinct (doc, term)) rows of
(string, long, int, int) — the same order as the compressed text, the
standard inverted-index trade (cf. the dedup index's ``shingles/``).

Crash discipline: rebuilds and compactions publish whole version dirs
via the CURRENT flip; appends stage postings + stats and publish them
into the live version dir through the shared staged-append protocol,
and every entry point repairs first. The crash and concurrency
contract is described once, in operators/indexstore.py.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_planner_optimizer_spark.functions.textexpr import tokens
from query_planner_optimizer_spark.operators import indexstore
from query_planner_optimizer_spark.operators.relevance import (
    BM25_B,
    BM25_K1,
    DEFAULT_QUERY_TERMS,
    _load_documents,
    _SQL_TOKS,
)
from query_planner_optimizer_spark.streaming.maintenance import (
    exactly_once_stream,
)

#: Fixed partition-dir count for ``postings/`` regardless of vocabulary
#: size; probes prune to the query terms' buckets.
TEXT_INDEX_BUCKETS = 16


def _bucket_col(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def _shard_frames(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int,
    positions: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(postings, stats_delta) for one corpus/shard: postings =
    (tbucket, term, doc_id, tf, dl) with dl piggybacked through the tf
    aggregation (constant per doc ⇒ max() is exact — the
    relevance._term_stats move); stats_delta = one row
    (n_docs, sum_dl) over EVERY doc including zero-token ones.
    ``positions=True`` adds a sorted 0-based token-offset array per
    (term, doc) — the positional-postings layout phrase matching
    needs (Lucene's positions trade: storage grows to O(tokens), the
    same order as the corpus text)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    ).select("doc_id", F.size("__toks").alias("dl"), "__toks")
    if positions:
        postings = (
            toks.select("doc_id", "dl",
                        F.posexplode("__toks").alias("p", "term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"),
                 F.array_sort(F.collect_list("p")).alias("positions"))
            .withColumn("tbucket", _bucket_col(F.col("term"), n_buckets))
        )
    else:
        postings = (
            toks.select("doc_id", "dl", F.explode("__toks").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
            .withColumn("tbucket", _bucket_col(F.col("term"), n_buckets))
        )
    stats_delta = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    return postings, stats_delta


def _load_text_meta(index_dir: str) -> dict:
    with open(os.path.join(indexstore.current_version_dir(index_dir),
                           "META.json")) as f:
        return json.load(f)


def _write_datasets(root: str, postings: DataFrame,
                    stats: DataFrame) -> None:
    """``postings/`` (one task per bucket, sorted by term) and
    ``stats/`` (one file) under ``root`` — a version dir or a staging
    dir."""
    (
        postings.repartition("tbucket")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").partitionBy("tbucket")
        .parquet(os.path.join(root, "postings"))
    )
    stats.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(root, "stats"))


def build_text_index(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = TEXT_INDEX_BUCKETS,
    positions: bool = False,
) -> None:
    """One corpus pass → a complete index version (postings + stats
    delta + META), published by the atomic CURRENT flip. The corpus
    text is read and tokenized exactly once, here — never again by any
    probe or append. ``positions=True`` stores per-(term, doc) token
    offsets, enabling :func:`phrase_match`; the flag is recorded in
    META so appends keep the layout and phrase probes can refuse a
    positions-free index loudly."""
    postings, delta = _shard_frames(docs, id_col, text_col, n_buckets,
                                    positions=positions)
    vdir = indexstore.new_version_dir(index_dir)
    _write_datasets(vdir, postings, delta)
    indexstore.write_atomic(
        os.path.join(vdir, "META.json"),
        json.dumps({"n_buckets": n_buckets, "positions": positions}))
    indexstore.publish_version(index_dir, vdir)


def append_to_text_index(
    spark: SparkSession,
    shard: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold a NEW shard into the live version: shard-proportional work
    only (the corpus postings are never read). Stages the shard's
    postings (same bucket layout, from META) and its ONE stats-delta
    row, then publishes through a marker — a crash can never serve
    postings whose stats delta didn't land (BM25's N/avgdl would
    silently shrink). Served scores after an append are EXACTLY a full
    rebuild's (see module docstring)."""
    vdir = indexstore.live_version_dir(index_dir)
    meta = _load_text_meta(index_dir)
    postings, delta = _shard_frames(shard, id_col, text_col,
                                    meta["n_buckets"],
                                    positions=meta.get("positions", False))
    indexstore.staged_append(
        vdir, lambda stg_root: _write_datasets(stg_root, postings, delta),
        ("postings", "stats"))


#: Memo for :func:`_term_buckets`: xxhash64 of a string literal is a
#: pure function, so the |terms|-row job runs once per (terms,
#: n_buckets) per process instead of once per probe call (r15 — it was
#: a fixed per-probe driver round trip).
_TERM_BUCKET_MEMO: dict[tuple, list[int]] = {}


def _term_buckets(spark: SparkSession, terms: list[str],
                  n_buckets: int) -> list[int]:
    """Bucket ids of the query terms — computed with the SAME engine
    expression that wrote the layout (xxhash64 has no Python twin),
    one |terms|-row local job, memoized per (terms, n_buckets)."""
    key = (tuple(terms), n_buckets)
    hit = _TERM_BUCKET_MEMO.get(key)
    if hit is not None:
        return list(hit)
    tf = spark.createDataFrame([(t,) for t in terms], "term string")
    rows = tf.select(
        _bucket_col(F.col("term"), n_buckets).alias("b")).distinct().collect()
    out = sorted(r["b"] for r in rows)
    _TERM_BUCKET_MEMO[key] = out
    return list(out)


def bm25_index_scores(
    spark: SparkSession,
    index_dir: str,
    terms: list[str] | tuple[str, ...] = DEFAULT_QUERY_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Serve BM25 from the persisted index — no corpus text is read.
    Scan cost ∝ matched postings: the scan prunes to the query terms'
    ``tbucket`` partitions (PartitionFilters) and the pushed
    ``term IN`` filter prunes row groups within them; df comes from
    the matched postings, N/avgdl from summing the tiny stats deltas.
    Same output contract as :func:`relevance.bm25_scores`:
    (doc_id, n_matched_terms, score), all matching docs."""
    vdir = indexstore.live_version_dir(index_dir)
    meta = _load_text_meta(index_dir)
    terms = list(terms)
    buckets = _term_buckets(spark, terms, meta["n_buckets"])
    posts = (
        indexstore.reader(spark, vdir, "postings")
        .filter(F.col("tbucket").isin(buckets)
                & F.col("term").isin(terms))
        .select("term", "doc_id", "tf", "dl")
    )
    stats = indexstore.reader(spark, vdir, "stats").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    ).select(
        "n_docs",
        # integer-exact sum ⇒ ONE deterministic double division; no
        # float-accumulation order anywhere in the stats path.
        (F.col("sum_dl").cast("double")
         / F.col("n_docs").cast("double")).alias("avgdl"),
    )
    dfreq = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
        "avgdl",
    )
    scored = posts.join(F.broadcast(idf), "term").select(
        "doc_id",
        (
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
                )
            )
        ).alias("contrib"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matched_terms"),
        F.round(F.sum(F.col("contrib").cast("decimal(38, 12)")), 6)
        .cast("double").alias("score"),
    )


def tfidf_index_scores(
    spark: SparkSession,
    index_dir: str,
    terms: list[str] | tuple[str, ...] = DEFAULT_QUERY_TERMS,
) -> DataFrame:
    """TF-IDF served from the SAME index (tf·ln(N/df)): one postings
    layout, both lexical scorers — same pruning shape and output
    contract as :func:`relevance.tfidf_scores`
    ((doc_id, n_matched_terms, score))."""
    vdir = indexstore.live_version_dir(index_dir)
    meta = _load_text_meta(index_dir)
    terms = list(terms)
    buckets = _term_buckets(spark, terms, meta["n_buckets"])
    posts = (
        indexstore.reader(spark, vdir, "postings")
        .filter(F.col("tbucket").isin(buckets)
                & F.col("term").isin(terms))
        .select("term", "doc_id", "tf")
    )
    n_docs = indexstore.reader(spark, vdir, "stats").agg(
        F.sum("n_docs").cast("long").alias("n_docs"))
    dfreq = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
        .alias("idf"),
    )
    return (
        posts.join(F.broadcast(idf), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.round(F.sum((F.col("tf") * F.col("idf"))
                          .cast("decimal(38, 12)")), 6)
            .cast("double").alias("score"),
        )
    )


def bm25_index_topk(
    spark: SparkSession,
    index_dir: str,
    terms: list[str] | tuple[str, ...] = DEFAULT_QUERY_TERMS,
    k: int = 50,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Retrieval shape: top-k by (score desc, doc_id asc) — the
    doc_id tie-break makes the result SET deterministic on rounded
    scores; TakeOrderedAndProject, never a full sort."""
    return (
        bm25_index_scores(spark, index_dir, terms, k1, b)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def phrase_match(
    spark: SparkSession,
    index_dir: str,
    phrase: list[str] | tuple[str, ...],
) -> DataFrame:
    """Exact-phrase retrieval from a POSITIONAL index (``build_text_
    index(positions=True)``): (doc_id, n_occurrences) for documents
    containing the phrase's terms at consecutive token offsets.

    Plan: prune postings to the phrase's terms (bucket PartitionFilters
    + pushed term filter, like the scorers), one positions-array row
    per (term, doc); k-way equi-join on doc_id (k = phrase length —
    each successive join SHRINKS the candidate set, so join order
    already matches selectivity); count occurrences with ONE
    higher-order array filter over the first term's positions
    (codegen-free but interpreted per candidate doc only —
    candidate-proportional, never corpus-proportional). A unigram
    phrase degenerates to docs-containing-term with n_occurrences =
    tf. Raises on an index built without positions."""
    vdir = indexstore.live_version_dir(index_dir)
    meta = _load_text_meta(index_dir)
    if not meta.get("positions"):
        raise ValueError(
            f"index at {index_dir} was built without positions; "
            f"rebuild with build_text_index(positions=True) to serve "
            f"phrase queries"
        )
    phrase = list(phrase)
    if not phrase:
        raise ValueError("empty phrase")
    buckets = _term_buckets(spark, phrase, meta["n_buckets"])
    posts = (
        indexstore.reader(spark, vdir, "postings")
        .filter(F.col("tbucket").isin(buckets)
                & F.col("term").isin(phrase))
        .select("term", "doc_id", "positions")
    )
    joined = None
    for i, term in enumerate(phrase):
        side = posts.filter(F.col("term") == term).select(
            "doc_id", F.col("positions").alias(f"pos{i}"))
        joined = side if joined is None else joined.join(side, "doc_id")
    def _adjacent(i: int):
        def cond(x):
            return F.array_contains(F.col(f"pos{i}"), x + i)
        return cond

    def _both(a, b):
        def cond(x):
            return a(x) & b(x)
        return cond

    conds = None
    for i in range(1, len(phrase)):
        c = _adjacent(i)
        conds = c if conds is None else _both(conds, c)
    occurrences = (
        F.size(F.filter(F.col("pos0"), conds))
        if conds is not None else F.size(F.col("pos0"))
    )
    return (
        joined.select(
            "doc_id", occurrences.cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


def compact_text_index(
    spark: SparkSession,
    index_dir: str,
) -> None:
    """Parquet-maintenance job for an append-grown index: every append
    lands one file set per bucket plus one stats-delta row, so a year
    of daily ingest is ~365 small files per bucket and 365 delta rows.
    Compaction rewrites the live version into a FRESH version dir —
    postings re-clustered one-file-per-bucket, the stats deltas summed
    into a single row — and publishes it with the same atomic CURRENT
    flip as a rebuild. Versioning makes this trivially crash-safe (no
    rename dance like incremental.compact_index needs): a crash
    mid-compaction leaves an unreferenced ``v_*`` dir and the live
    version untouched; probes never see a half-compacted state.
    Results are bit-identical before/after (pinned in tests) — the
    summed stats row equals the delta sum by integer exactness."""
    vdir = indexstore.live_version_dir(index_dir)
    meta = _load_text_meta(index_dir)
    posts = indexstore.reader(spark, vdir, "postings")
    stats = indexstore.reader(spark, vdir, "stats").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    )
    new_vdir = indexstore.new_version_dir(index_dir)
    _write_datasets(new_vdir, posts, stats)
    indexstore.write_atomic(os.path.join(new_vdir, "META.json"),
                            json.dumps(meta))
    indexstore.publish_version(index_dir, new_vdir)


def streaming_text_index_maintenance(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
):
    """Continuous index maintenance: a ``readStream`` over a landing
    dir of document shards folds each micro-batch into the live index
    via :func:`append_to_text_index` — the deployment shape of daily/
    hourly corpus ingest, run by the exactly-once runner of
    streaming/maintenance.py. Its batch marker sits in the index dir,
    so a restart after a crash BETWEEN the fold and the checkpoint
    commit replays the batch as a no-op instead of double-appending
    (appends are not idempotent by themselves). Single writer, as per
    the indexstore contract."""
    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        append_to_text_index(spark, batch_df, index_dir,
                             id_col=id_col, text_col=text_col)

    return exactly_once_stream(
        spark, landing_dir, schema, checkpoint_dir,
        os.path.join(index_dir, "_last_text_batch"), fold,
        max_files_per_trigger)


def text_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """One-row accounting of the persisted index: postings rows,
    distinct terms/docs in the postings, and the summed corpus stats.
    The driver entry's oracle recomputes every cell from the raw
    documents in SQL — an end-to-end check that build+append lost and
    duplicated nothing."""
    vdir = indexstore.live_version_dir(index_dir)
    posts = indexstore.reader(spark, vdir, "postings")
    stats = indexstore.reader(spark, vdir, "stats")
    acc = posts.agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.countDistinct("term").alias("n_terms"),
        F.countDistinct("doc_id").alias("n_docs_posted"),
        F.sum("tf").cast("long").alias("total_tf"),
    )
    sc = stats.agg(F.sum("n_docs").cast("long").alias("n_docs"),
                   F.sum("sum_dl").cast("long").alias("sum_dl"))
    return acc.crossJoin(F.broadcast(sc))


# --------------------------------------------------------------------------
# Driver entries — build(⅞ of corpus) + append(⅛) cached per
# (process, sf_dir) like the ANN index entries (the construction is
# deterministic/idempotent; warm runs measure the PROBE, the operation
# a retrieval deployment actually re-runs).
# --------------------------------------------------------------------------

_TEXT_INDEX_CACHE: dict[str, str] = {}


def _built_index(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    key = os.path.abspath(sf_dir)
    if key not in _TEXT_INDEX_CACHE:
        docs = _load_documents(spark, sf_dir)
        d = tempfile.mkdtemp(prefix="qpo_text_index_")
        # positions=True: ONE cached index serves the scorers (which
        # ignore the extra column) AND the phrase entry.
        build_text_index(docs.filter(F.col("doc_id") % 8 != 0), d,
                         positions=True)
        append_to_text_index(
            spark, docs.filter(F.col("doc_id") % 8 == 0), d)
        _TEXT_INDEX_CACHE[key] = d
    return _TEXT_INDEX_CACHE[key]


def q_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build + crash-safe append + serve: hash-equal to the full BM25
    recompute from raw documents (the oracle) — the ANN-index
    'different physical path, one answer' discipline on the lexical
    side."""
    return bm25_index_scores(spark, _built_index(spark, sf_dir))


def q_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_index_topk(spark, _built_index(spark, sf_dir), k=50)


def q_tfidf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_index_scores(spark, _built_index(spark, sf_dir))


#: Driver phrase: a mid-frequency consecutive bigram of the driver
#: corpus (present at every sf).
DEFAULT_PHRASE = ("window", "join")


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phrase_match(spark, _built_index(spark, sf_dir),
                        DEFAULT_PHRASE)


def q_text_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_index_stats(spark, _built_index(spark, sf_dir))


def entry_queries() -> dict[str, Callable]:
    return {
        "relevance_bm25_index": q_bm25_index,
        "relevance_bm25_index_topk": q_bm25_index_topk,
        "relevance_tfidf_index": q_tfidf_index,
        "relevance_phrase_match": q_phrase_match,
        "relevance_text_index_stats": q_text_index_stats,
    }


def entry_oracles() -> dict[str, str]:
    term_list = ", ".join(f"'{t}'" for t in DEFAULT_QUERY_TERMS)
    # Same corpus recompute as the relevance_bm25 oracle, except avgdl
    # = SUM(dl)/COUNT(*) (integer-exact sum, one double division) to
    # mirror the index's stats-delta arithmetic bit-for-bit.
    base = f"""
        tok AS (
            SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tok
            WHERE term IN ({term_list})
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        lens AS (SELECT doc_id, len({_SQL_TOKS}) AS dl FROM documents),
        stats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
            FROM lens
        )
    """
    scores = f"""
        WITH {base}
        SELECT tf.doc_id, COUNT(*) AS n_matched_terms,
               CAST(ROUND(SUM(CAST(
                   ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * (tf.tf * {BM25_K1 + 1.0})
                   / (tf.tf + {BM25_K1} * ({1.0 - BM25_B}
                      + {BM25_B} * CAST(lens.dl AS DOUBLE) / stats.avgdl))
               AS DECIMAL(38, 12))), 6) AS DOUBLE) AS score
        FROM tf
        JOIN dfreq USING (term)
        JOIN lens ON tf.doc_id = lens.doc_id, stats
        GROUP BY tf.doc_id
    """
    topk = f"""
        SELECT * FROM ({scores})
        ORDER BY score DESC, doc_id ASC LIMIT 50
    """
    tfidf = f"""
        WITH {base}
        SELECT tf.doc_id, COUNT(*) AS n_matched_terms,
               CAST(ROUND(SUM(CAST(
                   tf.tf * ln(CAST(stats.n_docs AS DOUBLE) / dfreq.df)
               AS DECIMAL(38, 12))), 6) AS DOUBLE) AS score
        FROM tf JOIN dfreq USING (term), stats
        GROUP BY tf.doc_id
    """
    p0, p1 = DEFAULT_PHRASE
    # generate_subscripts is 1-based vs Spark's 0-based posexplode —
    # consecutiveness (x+1) is offset-invariant, so counts agree.
    phrase = f"""
        WITH base AS (
            SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
        ),
        tok AS (
            SELECT doc_id, unnest(toks) AS term,
                   generate_subscripts(toks, 1) AS p
            FROM base
        ),
        t0 AS (SELECT doc_id, list(p ORDER BY p) AS pos FROM tok
               WHERE term = '{p0}' GROUP BY doc_id),
        t1 AS (SELECT doc_id, list(p ORDER BY p) AS pos FROM tok
               WHERE term = '{p1}' GROUP BY doc_id)
        SELECT t0.doc_id,
               CAST(len(list_filter(t0.pos,
                   x -> list_contains(t1.pos, x + 1))) AS BIGINT)
                   AS n_occurrences
        FROM t0 JOIN t1 ON t0.doc_id = t1.doc_id
        WHERE len(list_filter(t0.pos,
                  x -> list_contains(t1.pos, x + 1))) > 0
    """
    idx_stats = f"""
        WITH tok AS (
            SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tok
            GROUP BY doc_id, term
        ),
        lens AS (SELECT doc_id, len({_SQL_TOKS}) AS dl FROM documents)
        SELECT
            (SELECT COUNT(*) FROM tf) AS n_postings,
            (SELECT COUNT(DISTINCT term) FROM tf) AS n_terms,
            (SELECT COUNT(DISTINCT doc_id) FROM tf) AS n_docs_posted,
            (SELECT CAST(SUM(tf) AS BIGINT) FROM tf) AS total_tf,
            (SELECT COUNT(*) FROM lens) AS n_docs,
            (SELECT CAST(SUM(dl) AS BIGINT) FROM lens) AS sum_dl
    """
    return {
        "relevance_bm25_index": scores,
        "relevance_bm25_index_topk": topk,
        "relevance_tfidf_index": tfidf,
        "relevance_phrase_match": phrase,
        "relevance_text_index_stats": idx_stats,
    }
