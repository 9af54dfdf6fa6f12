"""Incremental shard-vs-corpus deduplication via a persisted index.

Every other dedup path (dedup.py: minhash_lsh_pairs, exact_dedup)
re-processes the whole corpus. At 100 TB with daily ingest the
operation a real pipeline runs far more often is: *given a NEW shard,
which of its documents duplicate something already in the corpus?* —
without re-tokenizing/re-signaturing 100 TB. (No reference analog —
additive, like the rest of the dedup family; the reference engine
(`claude.md:92-143`) has no dedup surface at all.)

Design:

- :func:`build_dedup_index` persists THREE parquet datasets at prepare
  time, all derived from shapes ``minhash_lsh_pairs`` already computes:

  * ``bands/``     — (band, bsig, doc_id): the LSH band-bucket index.
  * ``shingles/``  — (doc_id, hs array): per-doc shingle hashes, the
    verification side-input (exact-Jaccard check of candidates).
  * ``digests/``   — (content_hash, doc_id): sha2-256 content digests
    for exact incremental dedup.

  Index size: ``bands/`` + ``digests/`` are O(1) rows per document
  (8 band keys + 1 digest) — a small constant fraction of the corpus.
  ``shingles/`` is O(tokens per document) and in the default xxhash64
  mode costs ~8 high-entropy bytes per distinct shingle — the same
  order as the compressed text itself (measured ratios in SCALE.md
  r13; the portable md5 mode, hex strings, runs ~4× that and exists
  for oracle-checkability, not production). The trade is storage ≈
  O(corpus) for never re-READING or re-TOKENIZING the corpus text on
  any future shard: every probe verifies its candidates against
  ``shingles/``, and :func:`incremental_clusters` scans it for the
  shard's cross pairs.

- :func:`incremental_minhash_pairs` signatures ONLY the shard, bands
  it with the exact same plan as the full-corpus path
  (``banded_signature_frame`` is shared code), then equi-joins the
  persisted band index on (band, bsig). A daily shard is tiny relative
  to the corpus, so the shard side is broadcast — the corpus index is
  scanned once, map-side, with NO shuffle of index rows. Candidates
  are verified with the shared ``verify_candidate_pairs`` (corpus
  shingle arrays come from the index, shard arrays in-flight).
  The result is EXACTLY the full-corpus recompute restricted to
  corpus×shard pairs: same band keys → same candidates, same shingle
  hashes → same Jaccard (equality pinned in
  tests/test_incremental_dedup.py, and the driver entry's oracle IS
  the full recompute restricted to cross pairs).

- :func:`append_shard_to_index` appends the processed shard's bands /
  shingles / digests, so tomorrow's shard dedups against
  corpus ∪ today. Two-day sequence ≡ full recompute: pinned in tests.

- :func:`incremental_exact_dups` joins the shard's sha2 digests
  against ``digests/`` (broadcast shard side) — the daily exact-dup
  gate that precedes LSH in a real pipeline.

Cluster notes (local[32] here, 1000 executors in design): with a
broadcast shard the plan touches each index partition exactly once
(zero index-side shuffle, plan-audited). For shards too big to
broadcast — a backfill, a merged week of crawls —
``build_dedup_index(bucket_bands=N)`` writes ``bands/`` as a Spark
BUCKETED table (``bucketBy(N, band, bsig)``, one file per bucket):
the non-broadcast probe (``broadcast_shard=False``) then sort-merge
-joins against the bucketed scan with the Exchange on the SHARD side
only — the corpus-sized index is never shuffled, at any shard size
(plan-audited in tests/test_incremental_dedup.py). The plain layout
still clusters rows by (band, bsig) (repartition +
sortWithinPartitions) so row-group stats stay tight.

Crash discipline: ``mode="append"`` stages all three datasets and
publishes them through the shared staged-append protocol with the index
dir as its publish root; every entry point repairs first, so a torn
append can never serve a partially-indexed shard. The crash and
concurrency contract (one writer, many readers in any process) is
described once, in operators/indexstore.py. Appends are also validated
against the recorded build params (``_indexspec.json``), so a
mismatched append fails loudly instead of corrupting probes. The index
is not versioned: compaction swaps each dataset with two renames
(:func:`compact_index`).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_planner_optimizer_spark import catalog
from query_planner_optimizer_spark.operators import indexstore
from query_planner_optimizer_spark.operators.dedup import (
    DEFAULT_JACCARD_THRESHOLD,
    DEFAULT_NGRAM,
    MINHASH_BANDS,
    MINHASH_K,
    _doc_shingle_hashes,
    _docs,
    _minhash_lsh_oracle,
    _portable_banded_cte,
    banded_signature_frame,
    connected_components,
    jaccard_pairs,
    verify_candidate_pairs,
)

#: doc_id offset for synthesized "re-crawl" shadow documents in the
#: exact-incremental driver entry (same convention as dedup._REP_SHADOW).
RECRAWL_SHADOW = 10_000_000

#: One-slot cache of the current probe's persisted shard-shingle frame
#: (see incremental_minhash_pairs docstring — bounds cached blocks at
#: one shard per process instead of accumulating per call).
_SHARD_CACHE: list = []


def _retire_previous_shard_cache(ds_s) -> None:
    while _SHARD_CACHE:
        prev = _SHARD_CACHE.pop()
        try:
            prev.unpersist()
        except Exception:  # noqa: BLE001 — session already gone is fine
            pass
    _SHARD_CACHE.append(ds_s)


def _bucketspec_path(index_dir: str) -> str:
    return os.path.join(index_dir, "bands_bucketspec.json")


def _indexspec_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_indexspec.json")


def _load_indexspec(index_dir: str) -> dict | None:
    p = _indexspec_path(index_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _validate_append_params(index_dir: str, n: int, k: int, bands: int,
                            portable: bool,
                            bucket_bands: int | None) -> None:
    """An append with signature parameters different from the index it
    appends to would mix incompatible band signatures into ``bands/``
    and silently corrupt probe results — raise instead. The build-time
    params are recorded in ``_indexspec.json``; a pre-r15 index without
    one skips the check (nothing recorded to compare against). An
    explicit ``bucket_bands`` on an append must match the on-disk
    bucketspec (the layout always comes from the spec, never the
    argument)."""
    bspec = _load_bucketspec(index_dir)
    if bucket_bands is not None and (
            bspec is None or bspec["buckets"] != bucket_bands):
        have = "a plain (non-bucketed) layout" if bspec is None else (
            f"{bspec['buckets']} buckets")
        raise ValueError(
            f"append requested bucket_bands={bucket_bands} but the index "
            f"at {index_dir} has {have}; appends always keep the built "
            f"layout — drop the argument or rebuild with the new spec"
        )
    spec = _load_indexspec(index_dir)
    if spec is None:
        return
    got = {"n": n, "k": k, "bands": bands, "portable": portable}
    mismatched = {key: (val, spec.get(key))
                  for key, val in got.items() if spec.get(key) != val}
    if mismatched:
        detail = ", ".join(
            f"{key}: append={a!r} vs index={b!r}"
            for key, (a, b) in sorted(mismatched.items()))
        raise ValueError(
            f"append params mismatch the index at {index_dir} ({detail}); "
            f"mixing band signatures from different (n, k, bands, "
            f"portable) silently corrupts probes — use the build-time "
            f"params or rebuild"
        )


def _load_bucketspec(index_dir: str) -> dict | None:
    p = _bucketspec_path(index_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _bands_table_name(index_dir: str) -> str:
    digest = hashlib.md5(
        os.path.abspath(index_dir).encode()).hexdigest()[:12]
    return f"qpo_bands_{digest}"


def _ensure_bands_table(spark: SparkSession, index_dir: str,
                        spec: dict) -> str:
    """Session-catalog registration of the bucketed bands table. The
    bucket layout lives in the FILES (bucket ids are encoded in the
    part-file names Spark wrote); the catalog entry only re-declares
    the spec, so a fresh session re-registers with one DDL and reads
    the existing files bucketed."""
    tbl = _bands_table_name(index_dir)
    if not spark.catalog.tableExists(tbl):
        path = os.path.abspath(os.path.join(index_dir, "bands"))
        spark.sql(
            f"CREATE TABLE {tbl} ({spec['schema_ddl']}) USING PARQUET "
            f"CLUSTERED BY (band, bsig) SORTED BY (band, bsig) "
            f"INTO {spec['buckets']} BUCKETS LOCATION '{path}'"
        )
    # Appends/compactions change the files under the table's location
    # behind the catalog's back (rename-based publish) — drop any
    # cached file listing before handing the table out.
    spark.catalog.refreshTable(tbl)
    return tbl


def _write_bands_bucketed(bands_df: DataFrame, index_dir: str,
                          path: str, n_buckets: int,
                          table_name: str | None = None) -> None:
    """Bucketed parquet write via saveAsTable (the only API that
    stamps bucket ids into file names). ``repartition(n, keys)`` uses
    the same hash partitioning as the bucket assignment, so each task
    holds exactly one bucket → one file per bucket. Dropping a staging
    table afterwards is metadata-only (external table, files kept)."""
    spark = bands_df.sparkSession
    tbl = table_name or _bands_table_name(index_dir)
    if spark.catalog.tableExists(tbl):
        spark.sql(f"DROP TABLE {tbl}")
    (
        bands_df.repartition(n_buckets, "band", "bsig")
        .write.format("parquet")
        .bucketBy(n_buckets, "band", "bsig")
        .sortBy("band", "bsig")
        .option("path", os.path.abspath(path))
        .mode("overwrite")
        .saveAsTable(tbl)
    )


def build_dedup_index(
    df: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    portable: bool = False,
    mode: str = "overwrite",
    bucket_bands: int | None = None,
) -> None:
    """Persist the corpus dedup index (bands/ shingles/ digests/).

    One pass over the corpus text: tokenize → shingle-hash arrays
    (map-side, dedup.py:_doc_shingle_hashes), written as ``shingles/``;
    signatures+banding on top of that lineage as ``bands/``; sha2
    digests as ``digests/``. The corpus text itself is never written —
    the index carries only longs / hex strings.

    ``bucket_bands=N`` writes ``bands/`` as a Spark BUCKETED table
    (``bucketBy(N, band, bsig)``) instead of the clustered plain
    layout: the non-broadcast probe then joins with zero index-side
    shuffle (see module docstring). The spec is recorded in
    ``bands_bucketspec.json`` so appends keep the layout and probes in
    a fresh session re-register the table.

    ``mode="append"`` is how :func:`append_shard_to_index` folds a
    processed shard in. Appends are CRASH-SAFE: all three datasets are
    staged completely, then published through a marker file with
    per-file renames — ``indexstore.repair`` (run by every entry point)
    completes a torn publish idempotently, so the index never serves a
    shard whose bands arrived but whose digests didn't.
    """
    named = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ds = _doc_shingle_hashes(named, "doc_id", "text", n, portable=portable)
    digests_df = named.select(
        F.sha2(F.col("text"), 256).alias("content_hash"), F.col("doc_id")
    )
    if mode == "append":
        indexstore.repair(index_dir)
        _validate_append_params(index_dir, n=n, k=k, bands=bands,
                                portable=portable,
                                bucket_bands=bucket_bands)
        _staged_append(ds, digests_df, index_dir, k, bands,
                       portable=portable)
        return
    # The banded frame re-reads ds lineage; at index-build scale that is
    # one extra tokenize pass over the shard/corpus being indexed —
    # persist to pay it once (arrays of longs, far smaller than text).
    ds = ds.persist()
    try:
        ds.write.mode(mode).parquet(os.path.join(index_dir, "shingles"))
        bands_df = banded_signature_frame(ds, k, bands, portable=portable)
        if bucket_bands is not None:
            _write_bands_bucketed(
                bands_df, index_dir,
                os.path.join(index_dir, "bands"), bucket_bands)
            schema_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in bands_df.schema.fields
            )
            indexstore.write_atomic(
                _bucketspec_path(index_dir),
                json.dumps({"buckets": bucket_bands,
                            "cols": ["band", "bsig"],
                            "schema_ddl": schema_ddl}))
        else:
            if os.path.exists(_bucketspec_path(index_dir)):
                # overwrite rebuild back to the plain layout: drop the
                # stale spec so probes don't read a non-bucketed dir as
                # a bucketed table
                os.remove(_bucketspec_path(index_dir))
            (
                bands_df
                .repartition("band", "bsig")
                .sortWithinPartitions("band", "bsig")
                .write.mode(mode)
                .parquet(os.path.join(index_dir, "bands"))
            )
    finally:
        ds.unpersist()
    digests_df.write.mode(mode).parquet(os.path.join(index_dir, "digests"))
    # Record the signature params so future appends can be validated
    # against the layout they must match (see _validate_append_params).
    indexstore.write_atomic(
        _indexspec_path(index_dir),
        json.dumps({"n": n, "k": k, "bands": bands, "portable": portable}))
    catalog.invalidate_reader_caches(index_dir)


def _staged_append(
    ds: DataFrame,
    digests_df: DataFrame,
    index_dir: str,
    k: int,
    bands: int,
    portable: bool,
) -> None:
    """Crash-safe shard append: stage bands/shingles/digests completely,
    then publish them through ``indexstore.staged_append``. If the live
    index is bucketed, the staged bands are written with the SAME bucket
    spec (bucket ids are carried in the file names, so renamed files
    keep their buckets)."""
    spark = ds.sparkSession
    spec = _load_bucketspec(index_dir)

    def write(stg_root: str) -> None:
        persisted = ds.persist()
        try:
            persisted.write.mode("overwrite").parquet(
                os.path.join(stg_root, "shingles"))
            bands_df = banded_signature_frame(persisted, k, bands,
                                              portable=portable)
            if spec is not None:
                stg_tbl = (_bands_table_name(index_dir)
                           + os.path.basename(stg_root))
                _write_bands_bucketed(
                    bands_df, index_dir, os.path.join(stg_root, "bands"),
                    spec["buckets"], table_name=stg_tbl)
                spark.sql(f"DROP TABLE {stg_tbl}")
            else:
                (
                    bands_df.repartition("band", "bsig")
                    .sortWithinPartitions("band", "bsig")
                    .write.mode("overwrite")
                    .parquet(os.path.join(stg_root, "bands"))
                )
        finally:
            persisted.unpersist()
        digests_df.write.mode("overwrite").parquet(
            os.path.join(stg_root, "digests"))

    indexstore.staged_append(index_dir, write,
                             ("shingles", "bands", "digests"))


def incremental_minhash_pairs(
    spark: SparkSession,
    shard: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = 0.5,
    portable: bool = False,
    broadcast_shard: bool = True,
) -> DataFrame:
    """Near-dup pairs between a NEW shard and the indexed corpus:
    (corpus_id, shard_id, jaccard), jaccard ≥ threshold.

    Only the shard is tokenized/signatured; the corpus contributes its
    persisted band index (candidate generation) and shingle arrays
    (verification). Equal by construction to
    ``minhash_lsh_pairs(corpus ∪ shard)`` restricted to cross pairs —
    the band keys and shingle hashes are computed by the same shared
    code, so a candidate (c, s) collides on a band in one path iff it
    does in the other.

    ``broadcast_shard`` (default True): a daily shard ≪ corpus, so the
    shard's banded frame and shingle arrays broadcast — the index scan
    never shuffles. Pass False when the shard itself is too big to
    broadcast (a backfill): on a BUCKETED index (``build_dedup_index
    (bucket_bands=N)``) the probe sort-merge-joins the bucketed scan
    with the Exchange on the shard side only — STILL zero index-side
    shuffle; on a plain index it degrades to a shuffled hash join.

    Cache lifetime: the shard shingle frame is persisted eagerly
    (candidate generation + verification both consume it) and held in
    a one-slot module cache — each call unpersists the PREVIOUS call's
    shard, so repeated daily/bench invocations in one process bound
    cached shard blocks at one shard instead of accumulating. A caller
    still holding the previous call's un-materialized result simply
    recomputes the (shard-sized) lineage.
    """
    indexstore.repair(index_dir)
    named = shard.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    ds_s = _doc_shingle_hashes(named, "doc_id", "text", n, portable=portable)
    # Candidate generation + verification both consume the shard arrays;
    # eager persist (same rationale as minhash_lsh_pairs), one-slot
    # lifetime (see docstring).
    ds_s = ds_s.persist()
    _retire_previous_shard_cache(ds_s)
    ds_s.count()
    probe = banded_signature_frame(ds_s, k, bands, portable=portable)
    if broadcast_shard:
        probe = F.broadcast(probe)
    spec = _load_bucketspec(index_dir)
    if not broadcast_shard and spec is not None:
        idx = spark.table(_ensure_bands_table(spark, index_dir, spec))
    else:
        idx = indexstore.reader(spark, index_dir, "bands")
    cand = (
        idx.alias("c")
        .join(
            probe.alias("s"),
            (F.col("c.band") == F.col("s.band"))
            & (F.col("c.bsig") == F.col("s.bsig")),
        )
        .select(
            F.col("c.doc_id").alias("corpus_id"),
            F.col("s.doc_id").alias("shard_id"),
        )
        .distinct()
    )
    ds_c = indexstore.reader(spark, index_dir, "shingles")
    shard_side = F.broadcast(ds_s) if broadcast_shard else ds_s
    return verify_candidate_pairs(
        cand, ds_c, shard_side, threshold, a_col="corpus_id", b_col="shard_id"
    )


def incremental_exact_dups(
    spark: SparkSession,
    shard: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    index_dir: str = "",
) -> DataFrame:
    """Shard documents whose content already exists in the corpus:
    (shard_id, corpus_keep_id, content_hash). ``corpus_keep_id`` is the
    smallest corpus doc_id holding that content — the canonical survivor
    the shard row would be deduped against.

    Plan: shard digests (map-side sha2, broadcast) ⋈ persisted
    ``digests/`` — the corpus side streams through one map-side join,
    then a candidate-proportional min-aggregation picks the keeper.
    """
    indexstore.repair(index_dir)
    sh = F.broadcast(shard.select(
        F.sha2(F.col(text_col), 256).alias("content_hash"),
        F.col(id_col).alias("shard_id"),
    ))
    idx = indexstore.reader(spark, index_dir, "digests")
    return (
        idx.join(sh, "content_hash")
        .groupBy("shard_id", "content_hash")
        .agg(F.min("doc_id").alias("corpus_keep_id"))
        .select("shard_id", "corpus_keep_id", "content_hash")
    )


def append_shard_to_index(
    shard: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    portable: bool = False,
) -> None:
    """Fold a processed shard into the index (parquet append) so the
    next shard dedups against corpus ∪ this one. Append-only — no
    rewrite of existing index files; compaction is a normal parquet
    maintenance job, orthogonal to correctness."""
    build_dedup_index(
        shard, index_dir, id_col, text_col, n, k, bands,
        portable=portable, mode="append",
    )


def incremental_clusters(
    spark: SparkSession,
    shard: DataFrame,
    index_dir: str,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = DEFAULT_JACCARD_THRESHOLD,
    portable: bool = False,
) -> DataFrame:
    """Daily CLUSTER maintenance: fold a new shard into an existing
    near-dup cluster assignment WITHOUT re-pairing the corpus —
    provably equal to ``dedup_clusters(corpus ∪ shard)`` recomputed
    from scratch (the driver entry shares the full recursive-CTE
    oracle with ``dedup_clusters``; a 4th physical path onto it after
    propagation/star/reliable).

    Why equality holds: a cluster assignment is connectivity-complete
    for the old corpus (doc—cluster_id star edges span exactly the
    old components), the shard's CROSS pairs are recomputed exactly
    from the index's persisted shingles, and the shard's INTERNAL
    pairs from its own text — so CC over (star edges ∪ cross ∪
    internal) has the same components as CC over the full pair set,
    including merges of previously-separate clusters bridged by a new
    document. Labels agree because both sides take the component min.

    Work shape at 100 TB: the corpus text is never re-read and never
    re-paired — cross candidates come from exploding the index's
    shingle arrays (hash longs, map-side) against the BROADCAST
    shard's shingles; the only corpus-proportional cost is one scan
    of ``shingles/``. Old clusters enter as star edges (diameter ≤ 2),
    so CC converges in O(1) extra rounds regardless of corpus size."""
    indexstore.repair(index_dir)
    named = shard.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ds_s = _doc_shingle_hashes(named, "doc_id", "text", n,
                               portable=portable).persist()
    try:
        sh_s = F.broadcast(ds_s.select(
            F.col("doc_id").alias("s_doc"), F.explode("hs").alias("h")))
        sz_s = F.broadcast(ds_s.select(
            F.col("doc_id").alias("s_doc"), F.size("hs").alias("sz_s")))
        ds_c = indexstore.reader(spark, index_dir, "shingles")
        sh_c = ds_c.select(
            F.col("doc_id").alias("c_doc"), F.explode("hs").alias("h"))
        sz_c = ds_c.select(
            F.col("doc_id").alias("c_doc"), F.size("hs").alias("sz_c"))
        common = (
            sh_c.join(sh_s, "h")
            .groupBy("c_doc", "s_doc")
            .agg(F.count(F.lit(1)).alias("common"))
        )
        jac = F.col("common").cast("double") / (
            F.col("sz_c") + F.col("sz_s") - F.col("common")).cast("double")
        cross = (
            common.join(sz_c, "c_doc").join(sz_s, "s_doc")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= F.lit(threshold))
            .select(F.col("c_doc").alias("doc_a"),
                    F.col("s_doc").alias("doc_b"))
        )
        internal = jaccard_pairs(named, "doc_id", "text", n,
                                 threshold).select("doc_a", "doc_b")
        star = (
            clusters.select(F.col("cluster_id").alias("doc_a"),
                            F.col("doc_id").alias("doc_b"))
            .filter(F.col("doc_a") != F.col("doc_b"))
        )
        edges = cross.unionByName(internal).unionByName(star)
        verts = (
            clusters.select("doc_id")
            .unionByName(named.select("doc_id"))
            .distinct()
        )
        comp = connected_components(edges, verts, method="star")
        sizes = comp.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("cluster_size"))
        out = (
            comp.join(sizes, "cluster_id")
            .select(
                "doc_id", "cluster_id", "cluster_size",
                (F.col("doc_id") == F.col("cluster_id"))
                .alias("is_canonical"),
            )
        )
        # Materialization boundary: CC already collected its
        # convergence scalars, so the shard shingle cache has served
        # every consumer by the time this frame is returned.
        return out
    finally:
        ds_s.unpersist(blocking=False)


def ingest_gate(
    shard: DataFrame,
    digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """New-content gate: shard rows whose sha2 digest does NOT already
    exist in the corpus digest index — (doc_id, content_hash) of the
    genuinely-new documents a daily ingest should admit.

    The body is batch/streaming-shared: with a STREAMING ``shard``
    (readStream over the landing directory) this is a stream-static
    LEFT ANTI join — stateless (no watermark, no state store), each
    micro-batch anti-joins the static index; Spark re-plans the static
    side per batch, so an index refreshed between batches is picked up
    (tests/test_incremental_dedup.py runs the real readStream twin and
    pins streaming ≡ batch)."""
    sh = shard.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("content_hash"),
    )
    return sh.join(
        digests.select("content_hash"), "content_hash", "left_anti"
    ).select("doc_id", "content_hash")


def _repair_swap_leftovers(src: str) -> None:
    """Heal the artifacts of a crashed staged-swap (compact/retrain
    style: write ``src.compact``, rename ``src``→``src.old``, rename
    staged→``src``, rm old). Cases: (a) ``.old`` exists and ``src`` is
    missing — crashed BETWEEN the two renames, the dangerous window:
    restore the old dataset; (b) ``.old`` and ``src`` both exist —
    crashed before the final cleanup: the swap completed, drop the old
    copy; (c) ``.compact`` exists alongside ``src`` — crashed before
    or during the first rename: the staged copy may be incomplete,
    drop it (the next compaction rebuilds it)."""
    old, staged = src + ".old", src + ".compact"
    if os.path.exists(old) and not os.path.exists(src):
        os.rename(old, src)
    elif os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(staged):
        shutil.rmtree(staged, ignore_errors=True)


def compact_index(spark: SparkSession, index_dir: str,
                  target_files: int = 8) -> None:
    """Parquet-maintenance job for an append-grown index: rewrite each
    dataset into ``target_files`` files (bands re-clustered by the
    probe key; a BUCKETED bands dataset is rewritten with its recorded
    bucket spec instead — one file per bucket). Append-only ingestion
    (append_shard_to_index) produces one small file set per day;
    compaction restores scan efficiency without touching semantics —
    rebuild-equality pinned in tests (probe results bit-identical
    before/after).

    Crash discipline: staged write, then a two-rename swap per
    dataset. Each dataset is atomic-per-rename, but a crash BETWEEN
    the renames briefly leaves the dataset absent at ``src`` — that
    window (and a crash before the final cleanup) is healed on the
    next compact/repair entry by :func:`_repair_swap_leftovers`, which
    restores the ``.old`` copy or finishes the cleanup instead of
    silently skipping the dataset."""
    indexstore.repair(index_dir)
    spec = _load_bucketspec(index_dir)
    for name, cluster in (("bands", ("band", "bsig")),
                          ("shingles", ()), ("digests", ())):
        src = os.path.join(index_dir, name)
        _repair_swap_leftovers(src)
        if not os.path.exists(src):
            continue
        staged = src + ".compact"
        if name == "bands" and spec is not None:
            # Rewrite with the same bucket spec (bucket ids live in the
            # file names, so the swapped-in files stay a valid bucketed
            # table at the same location). The live table's metadata
            # only records path + spec — both unchanged by the swap.
            # Read the FILES, not the table: reading via the bucketed
            # table makes Catalyst drop the aligning repartition as
            # redundant (the metadata "satisfies" it) while the
            # bucketed scan itself is auto-disabled for a plain write,
            # leaving arbitrary partitions that each split per bucket —
            # files-per-bucket would GROW instead of compacting.
            stg_tbl = _bands_table_name(index_dir) + "_compact"
            df = spark.read.parquet(src)
            _write_bands_bucketed(df, index_dir, staged,
                                  spec["buckets"], table_name=stg_tbl)
            spark.sql(f"DROP TABLE {stg_tbl}")
        else:
            df = spark.read.parquet(src)
            if cluster:
                df = df.repartition(target_files, *cluster) \
                       .sortWithinPartitions(*cluster)
            else:
                df = df.repartition(target_files)
            df.write.mode("overwrite").parquet(staged)
        old = src + ".old"
        os.rename(src, old)
        os.rename(staged, src)
        shutil.rmtree(old)
    catalog.invalidate_reader_caches(index_dir)


def daily_ingest(
    spark: SparkSession,
    shard: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """The one-call daily gate: classify every shard document against
    the persisted index as ``exact_dup`` (content already in the
    corpus, match_id = the corpus keeper), ``near_dup`` (best LSH
    -verified match ≥ threshold; match_id = highest-jaccard corpus doc,
    ties to the lower id; score = that jaccard), or ``new``. Exact
    beats near (a verbatim re-crawl is an exact dup even though it
    also near-matches). Returns (doc_id, status, match_id, score) —
    the admit/reject report a real ingest writes next to the shard.

    Composition of the two probes this module already proves
    (digest anti/semi join + band-index probe); one extra
    shard-proportional aggregation picks the best near match.

    r15 plan shape: ONE pass — the shard id list takes two LEFT joins
    (exact match, best near match) and a single conditional projection
    assigns the status. The pre-r15 shape unioned three branches whose
    anti-joins referenced the probe subtrees repeatedly; Catalyst does
    not de-duplicate common subtrees across a DAG, so the digest join
    executed 3× and the whole LSH probe 2× per run (visible as both
    wasted wall time and the entry's huge run-to-run spread). Each
    probe subtree now appears exactly once in the plan.
    """
    sh_ids = shard.select(F.col(id_col).alias("doc_id"))
    exact = incremental_exact_dups(
        spark, shard, id_col, text_col, index_dir=index_dir
    ).select(
        F.col("shard_id").alias("doc_id"),
        F.col("corpus_keep_id").alias("__e_mid"),
    )
    pairs = incremental_minhash_pairs(
        spark, shard, index_dir, id_col, text_col,
        threshold=threshold, portable=portable,
    )
    # Best near match per shard doc: max jaccard, ties to the LOWER
    # corpus id — max(struct(jaccard, -corpus_id)) is the
    # partial-aggregable argmax (the assigned_cells precedent).
    best = (
        pairs.groupBy("shard_id")
        .agg(F.max(F.struct(
            F.col("jaccard"), (-F.col("corpus_id")).alias("nid")
        )).alias("b"))
        .select(
            F.col("shard_id").alias("doc_id"),
            (-F.col("b.nid")).alias("__n_mid"),
            F.col("b.jaccard").alias("__n_score"),
        )
    )
    is_exact = F.col("__e_mid").isNotNull()
    is_near = F.col("__n_mid").isNotNull()
    return (
        sh_ids.join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.when(is_exact, F.lit("exact_dup"))
            .when(is_near, F.lit("near_dup"))
            .otherwise(F.lit("new")).alias("status"),
            F.when(is_exact, F.col("__e_mid"))
            .otherwise(F.col("__n_mid")).alias("match_id"),
            F.when(is_exact, F.lit(1.0))
            .otherwise(F.col("__n_score")).alias("score"),
        )
    )


def q_daily_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the one-call gate: the daily shard is true-new
    docs (% 8 == 0, which may still NEAR-match corpus docs) plus
    verbatim re-crawls (% 40 == 1, id + 10M → exact_dup class). All
    three statuses are populated at sf0.01, and the oracle recomputes
    the whole classification from the corpus definition (full LSH
    recompute restricted to cross pairs + digest join + precedence)."""
    idx = _corpus_index(spark, sf_dir, portable=True)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.filter(
        _corpus_pred() & (F.col("doc_id") % 40 == 1)
    ).select((F.col("doc_id") + RECRAWL_SHADOW).alias("doc_id"), "text")
    shard = docs.filter(_shard_pred()).unionByName(recrawl)
    return daily_ingest(spark, shard, idx, threshold=0.2, portable=True)


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """One-row accounting of the persisted index: row counts and
    distinct-key counts per dataset. The driver entry's oracle
    recomputes every cell from the corpus definition in SQL, so this
    doubles as an end-to-end check that the index write path loses /
    duplicates nothing."""
    indexstore.repair(index_dir)
    bands = indexstore.reader(spark, index_dir, "bands")
    shingles = indexstore.reader(spark, index_dir, "shingles")
    digests = indexstore.reader(spark, index_dir, "digests")
    b = bands.agg(
        F.count(F.lit(1)).alias("band_rows"),
        F.countDistinct("band", "bsig").alias("distinct_buckets"),
    )
    s = shingles.agg(F.count(F.lit(1)).alias("indexed_docs"))
    d = digests.agg(
        F.count(F.lit(1)).alias("digest_rows"),
        F.countDistinct("content_hash").alias("distinct_digests"),
    )
    return b.crossJoin(s).crossJoin(d)


# ---------------------------------------------------------------------------
# Driver entries. Corpus/shard split: shard = doc_id % 8 == 0 (~1/8 of
# the table), corpus = the rest — deterministic and SQL-expressible, so
# the oracle can replay the split. The index is built per (sf_dir,
# portable) once per process and cached (bench/selfcheck run many
# entries in one process; rebuilding identical parquet each time would
# only measure tmpfs).
# ---------------------------------------------------------------------------

_INDEX_CACHE: dict[tuple[str, bool], str] = {}


def _corpus_pred():
    # Built lazily: Column construction needs an active SparkContext,
    # and this module imports before any session exists (pytest
    # collection, driver import).
    return F.col("doc_id") % 8 != 0


def _shard_pred():
    return F.col("doc_id") % 8 == 0


def _corpus_index(spark: SparkSession, sf_dir: str, portable: bool) -> str:
    key = (os.path.abspath(sf_dir), portable)
    if key not in _INDEX_CACHE:
        import tempfile

        d = tempfile.mkdtemp(prefix="qpo_dedup_index_")
        build_dedup_index(
            _docs(spark, sf_dir).filter(_corpus_pred()), d, portable=portable
        )
        _INDEX_CACHE[key] = d
    return _INDEX_CACHE[key]


def q_incremental_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-vs-corpus near-dup pairs through the persisted index,
    portable md5 family → full DuckDB oracle: the oracle recomputes the
    WHOLE corpus∪shard LSH (dedup._minhash_lsh_oracle) and restricts to
    cross pairs — proving index-join ≡ full recompute end-to-end."""
    idx = _corpus_index(spark, sf_dir, portable=True)
    shard = _docs(spark, sf_dir).filter(_shard_pred())
    return incremental_minhash_pairs(
        spark, shard, idx, threshold=0.2, portable=True
    )


_BUCKETED_INDEX_CACHE: dict[str, str] = {}


def q_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BACKFILL physical path onto the same cross-pairs oracle as
    dedup_incremental_shard: a BUCKETED band index (bucketBy(8, band,
    bsig) saved table) probed with ``broadcast_shard=False`` — the
    sort-merge join shuffles the shard side only; zero index-side
    shuffle (plan pinned in tests/test_incremental_dedup.py). Third
    physical plan, one hash-checked answer (the cc/cc_star and
    sim_incremental_* precedent)."""
    key = os.path.abspath(sf_dir)
    if key not in _BUCKETED_INDEX_CACHE:
        import tempfile

        d = tempfile.mkdtemp(prefix="qpo_dedup_bktindex_")
        build_dedup_index(
            _docs(spark, sf_dir).filter(_corpus_pred()), d,
            portable=True, bucket_bands=8,
        )
        _BUCKETED_INDEX_CACHE[key] = d
    shard = _docs(spark, sf_dir).filter(_shard_pred())
    return incremental_minhash_pairs(
        spark, shard, _BUCKETED_INDEX_CACHE[key], threshold=0.2,
        portable=True, broadcast_shard=False,
    )


def q_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental dedup of a synthetic daily shard: the true
    shard rows (doc_id % 8 == 0) plus re-crawled copies of corpus docs
    (doc_id % 40 == 1, id + 10M, text unchanged — the duplicate class a
    daily crawl actually produces). Every re-crawl must land on its
    corpus keeper; true-shard rows match only if their content already
    exists in the corpus."""
    idx = _corpus_index(spark, sf_dir, portable=True)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.filter(_corpus_pred() & (F.col("doc_id") % 40 == 1)).select(
        (F.col("doc_id") + RECRAWL_SHADOW).alias("doc_id"), "text"
    )
    shard = docs.filter(_shard_pred()).unionByName(recrawl)
    return incremental_exact_dups(spark, shard, index_dir=idx)


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _corpus_index(spark, sf_dir, portable=True)
    return index_stats(spark, idx)


def q_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-day ingest sequence through ONE evolving index: day 1's
    shard (doc_id % 8 == 0) dedups against the corpus (% 8 ∉ {0, 4}),
    is appended, then day 2's shard (% 8 == 4) dedups against
    corpus ∪ day 1. Output: (day, corpus_id, shard_id, jaccard). The
    oracle recomputes the WHOLE corpus LSH and restricts to
    cross-generation pairs with day = the later generation — proving
    the parquet-append path loses/duplicates nothing, end-to-end under
    the driver's hash. A fresh index per call: append is stateful, so
    this entry never shares the cached single-shot index."""
    import tempfile

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    gen = F.col("doc_id") % 8
    corpus = docs.filter((gen != 0) & (gen != 4))
    s1 = docs.filter(gen == 0)
    s2 = docs.filter(gen == 4)
    d = tempfile.mkdtemp(prefix="qpo_incr_append_entry_")
    build_dedup_index(corpus, d, portable=True)
    day1 = incremental_minhash_pairs(
        spark, s1, d, threshold=0.2, portable=True
    ).select(F.lit(1).alias("day"), "corpus_id", "shard_id", "jaccard")
    # Day-1 results must be frozen BEFORE the append mutates the index
    # the lazy plan reads (same files-on-disk discipline a real daily
    # pipeline has: process, then fold in).
    day1 = day1.localCheckpoint(eager=True)
    append_shard_to_index(s1, d, portable=True)
    day2 = incremental_minhash_pairs(
        spark, s2, d, threshold=0.2, portable=True
    ).select(F.lit(2).alias("day"), "corpus_id", "shard_id", "jaccard")
    return day1.unionByName(day2)


def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the streaming new-content gate (same shared body
    the readStream twin runs — see ingest_gate): the daily shard is
    true-new docs (% 8 == 0) plus re-crawl copies of corpus docs
    (% 40 == 1, id + 10M, text unchanged); only the true-new rows may
    pass. The digest side reads the PERSISTED index, so this also
    exercises parquet-roundtripped digests in anti-join position."""
    idx = _corpus_index(spark, sf_dir, portable=True)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = docs.filter(_corpus_pred() & (F.col("doc_id") % 40 == 1)).select(
        (F.col("doc_id") + RECRAWL_SHADOW).alias("doc_id"), "text"
    )
    shard = docs.filter(_shard_pred()).unionByName(recrawl)
    digests = indexstore.reader(spark, idx, "digests")
    return ingest_gate(shard, digests)


def q_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster maintenance ≡ full reclustering: old clusters over the
    corpus (⅞), the shard (⅛) folded in via the persisted index's
    shingles — hash-checked against the SAME recursive-CTE oracle as
    dedup_clusters over the whole table (4th physical path onto it)."""
    from query_planner_optimizer_spark.operators.dedup import dedup_clusters

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = _corpus_index(spark, sf_dir, portable=True)
    old = dedup_clusters(docs.filter(_corpus_pred()), threshold=0.2)
    return incremental_clusters(
        spark, docs.filter(_shard_pred()), idx, old,
        threshold=0.2, portable=True)


def entry_queries() -> dict[str, Callable]:
    return {
        "dedup_incremental_shard": q_incremental_shard,
        "dedup_incremental_bucketed": q_incremental_bucketed,
        "dedup_incremental_exact": q_incremental_exact,
        "dedup_index_stats": q_index_stats,
        "dedup_incremental_append": q_incremental_append,
        "dedup_incremental_clusters": q_incremental_clusters,
        "stream_incremental_ingest": q_stream_ingest,
        "pipeline_daily_ingest": q_daily_ingest,
    }


def _dedup_clusters_oracle() -> str:
    from query_planner_optimizer_spark.operators.dedup import (
        _clusters_oracle,
    )

    return _clusters_oracle()


def entry_oracles() -> dict[str, str]:
    lsh = _minhash_lsh_oracle(threshold=0.2)
    incr_shard = f"""
        WITH pairs AS ({lsh})
        SELECT CASE WHEN doc_a % 8 <> 0 THEN doc_a ELSE doc_b END
                   AS corpus_id,
               CASE WHEN doc_a % 8 = 0 THEN doc_a ELSE doc_b END
                   AS shard_id,
               jaccard
        FROM pairs
        WHERE (doc_a % 8 = 0) <> (doc_b % 8 = 0)
    """
    incr_exact = f"""
        WITH shard AS (
            SELECT doc_id AS shard_id, text FROM documents
            WHERE doc_id % 8 = 0
            UNION ALL
            SELECT doc_id + {RECRAWL_SHADOW} AS shard_id, text
            FROM documents WHERE doc_id % 8 <> 0 AND doc_id % 40 = 1
        )
        SELECT s.shard_id, MIN(c.doc_id) AS corpus_keep_id,
               sha256(s.text) AS content_hash
        FROM shard s
        JOIN documents c
          ON c.doc_id % 8 <> 0 AND sha256(c.text) = sha256(s.text)
        GROUP BY s.shard_id, sha256(s.text)
    """
    stats = f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 8 <> 0
        ),
        {_portable_banded_cte(src="corpus")}
        SELECT (SELECT COUNT(*) FROM banded0) AS band_rows,
               (SELECT COUNT(DISTINCT (band, bsig)) FROM banded0)
                   AS distinct_buckets,
               (SELECT COUNT(*) FROM corpus) AS indexed_docs,
               (SELECT COUNT(*) FROM corpus) AS digest_rows,
               (SELECT COUNT(DISTINCT sha256(text)) FROM corpus)
                   AS distinct_digests
    """
    # Two-day append: gen 0 = corpus, 1 = day-1 shard (% 8 == 0),
    # 2 = day-2 shard (% 8 == 4). A cross-generation pair surfaces on
    # the LATER side's day; corpus_id is the earlier-generation doc.
    incr_append = f"""
        WITH pairs AS ({lsh}),
        tagged AS (
            SELECT doc_a, doc_b, jaccard,
                   CASE doc_a % 8 WHEN 0 THEN 1 WHEN 4 THEN 2
                        ELSE 0 END AS ga,
                   CASE doc_b % 8 WHEN 0 THEN 1 WHEN 4 THEN 2
                        ELSE 0 END AS gb
            FROM pairs
        )
        SELECT CASE WHEN ga > gb THEN ga ELSE gb END AS day,
               CASE WHEN ga < gb THEN doc_a ELSE doc_b END AS corpus_id,
               CASE WHEN ga < gb THEN doc_b ELSE doc_a END AS shard_id,
               jaccard
        FROM tagged WHERE ga <> gb
    """
    stream_ingest = f"""
        WITH shard AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 8 = 0
            UNION ALL
            SELECT doc_id + {RECRAWL_SHADOW} AS doc_id, text
            FROM documents WHERE doc_id % 8 <> 0 AND doc_id % 40 = 1
        ),
        corpus_hashes AS (
            SELECT DISTINCT sha256(text) AS content_hash
            FROM documents WHERE doc_id % 8 <> 0
        )
        SELECT s.doc_id, sha256(s.text) AS content_hash
        FROM shard s
        WHERE sha256(s.text) NOT IN (SELECT content_hash
                                     FROM corpus_hashes)
    """
    # One-call gate: exact (digest join, min-id keeper) beats near
    # (best cross pair: jaccard desc, corpus_id asc), rest is new.
    # Re-crawl shadows are exact by construction (their content IS a
    # corpus doc), so the shadow side needs no LSH replay.
    daily = f"""
        WITH pairs AS ({lsh}),
        shard AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 8 = 0
            UNION ALL
            SELECT doc_id + {RECRAWL_SHADOW} AS doc_id, text
            FROM documents WHERE doc_id % 8 <> 0 AND doc_id % 40 = 1
        ),
        exact AS (
            SELECT s.shard_id AS doc_id, MIN(c.doc_id) AS match_id
            FROM (SELECT doc_id AS shard_id, sha256(text) AS h
                  FROM shard) s
            JOIN (SELECT doc_id, sha256(text) AS h FROM documents
                  WHERE doc_id % 8 <> 0) c USING (h)
            GROUP BY s.shard_id
        ),
        cross_pairs AS (
            SELECT CASE WHEN doc_a % 8 <> 0 THEN doc_a ELSE doc_b END
                       AS corpus_id,
                   CASE WHEN doc_a % 8 = 0 THEN doc_a ELSE doc_b END
                       AS shard_id,
                   jaccard
            FROM pairs WHERE (doc_a % 8 = 0) <> (doc_b % 8 = 0)
        ),
        best AS (
            SELECT shard_id AS doc_id, corpus_id AS match_id,
                   jaccard AS score
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY shard_id
                      ORDER BY jaccard DESC, corpus_id ASC) AS rn
                  FROM cross_pairs) WHERE rn = 1
        ),
        e AS (
            SELECT doc_id, 'exact_dup' AS status, match_id,
                   CAST(1.0 AS DOUBLE) AS score FROM exact
        ),
        n AS (
            SELECT b.doc_id, 'near_dup' AS status, b.match_id, b.score
            FROM best b
            WHERE b.doc_id NOT IN (SELECT doc_id FROM exact)
        )
        SELECT * FROM e
        UNION ALL SELECT * FROM n
        UNION ALL
        SELECT s.doc_id, 'new' AS status,
               CAST(NULL AS BIGINT) AS match_id,
               CAST(NULL AS DOUBLE) AS score
        FROM shard s
        WHERE s.doc_id NOT IN (SELECT doc_id FROM exact)
          AND s.doc_id NOT IN (SELECT doc_id FROM best)
    """
    return {
        "dedup_incremental_shard": incr_shard,
        # bucketed saved-table index + non-broadcast SMJ probe: a
        # different physical plan computing the same cross pairs
        "dedup_incremental_bucketed": incr_shard,
        "dedup_incremental_exact": incr_exact,
        "dedup_index_stats": stats,
        "dedup_incremental_append": incr_append,
        "dedup_incremental_clusters": _dedup_clusters_oracle(),
        "stream_incremental_ingest": stream_ingest,
        "pipeline_daily_ingest": daily,
    }
