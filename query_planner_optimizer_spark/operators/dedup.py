"""Deduplication operators over the ``documents`` table.

Four strategies, each a standard large-corpus dedup technique the
reference engine lacks (SURVEY.md §7 step 8), all shuffle-aware:

- **exact**: hash-groupBy on sha2(text) — shuffles 32-byte digests, not
  document bodies; one shuffle total.
- **n-gram Jaccard**: exact pairwise similarity via an inverted-index
  self-join on word n-gram shingles (shuffle key = shingle), never a
  cross join. This is the exact baseline the approximate methods are
  verified against.
- **MinHash + LSH**: per-doc shingle-hash arrays computed map-side (no
  explode, no shuffle of corpus text); k minhashes via seeded xxhash64
  over the 8-byte shingle hashes; banded into b buckets; candidate pairs
  from an equi-join on (band, band-hash); candidates verified with exact
  Jaccard via array_intersect. At 100 TB this is the scale path: the
  only shuffled rows are (doc_id, band keys) and candidate pairs —
  versus the inverted-index join whose hot shingles skew.
- **SimHash**: 64-bit signature from per-token hash bit-votes; candidate
  pairs from equality on any of 4 16-bit chunks (hamming ≤ 3 guaranteed
  caught by pigeonhole when chunks are rotated... we use chunk-equality
  banding as the standard heuristic), verified with exact hamming
  distance via bit_count(xor).

Exact and Jaccard have DuckDB oracles (identical math both sides:
Jaccard = |A∩B| / (|A|+|B|-|A∩B|), one double division — bit-identical).
MinHash/SimHash depend on engine-specific hash functions (xxhash64), so
their driver entries are rows-only checked; their *semantics* are
verified in tests against the exact-Jaccard/hamming oracles (no false
positives after verification, recall measured).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from query_planner_optimizer_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up as _rs,
)
from query_planner_optimizer_spark.functions.textexpr import (
    shingles_from_tokens,
    tokens,
    word_shingles,
)

DEFAULT_NGRAM = 3
DEFAULT_JACCARD_THRESHOLD = 0.5
MINHASH_K = 32
MINHASH_BANDS = 8  # 8 bands x 4 rows
SIMHASH_HAMMING_MAX = 8


def _shingles(text_col: str, n: int) -> Column:
    return word_shingles(F.col(text_col), n)


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, shingle) exploded rows via the two-step projection —
    tokens materialized below the Generate so tokenization runs once
    per document, not once per shingle (see shingles_from_tokens)."""
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    return toked.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("sh")
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: one surviving id per distinct content.

    Returns (content_hash, keep_id, dup_count). Groups on sha2-256 of
    the text so the shuffle carries digests instead of full documents —
    at 100 TB the text column never crosses the wire.
    """
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


#: One-slot retirement for the per-call eager persists below (r15
#: hygiene, same contract as incremental._SHARD_CACHE): each call
#: unpersists the PREVIOUS call's cached frame, bounding cached blocks
#: at one corpus pass per slot instead of accumulating per invocation.
#: A caller still holding the previous call's un-materialized result
#: simply recomputes its (bounded) lineage — driver/bench/pytest all
#: collect eagerly.
_JACCARD_PERSIST_SLOT: list = []
_MINHASH_PERSIST_SLOT: list = []

#: r16 (ADVICE): the pop/unpersist/append sequence below is not atomic;
#: a multithreaded driver interleaving two calls could unpersist a frame
#: the other thread just parked (results stay correct — unpersist only
#: forces recompute — but the cache goes silently useless). One lock
#: serializes retirement; the single-slot design itself still assumes
#: the produced frames are consumed before the next call (the
#: documented driver/bench/pytest contract).
_PERSIST_SLOT_LOCK = threading.Lock()


def _retire_previous(slot: list, frame: DataFrame) -> None:
    with _PERSIST_SLOT_LOCK:
        while slot:
            prev = slot.pop()
            try:
                prev.unpersist()
            except Exception:  # noqa: BLE001 — session already gone is fine
                pass
        slot.append(frame)


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = DEFAULT_JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via inverted-index self-join.

    Plan shape: per-doc distinct shingle-hash arrays (one tokenize
    pass, persisted eagerly at call time so the join's branches read
    it once) → explode (doc_id, sz, h) → self equi-join on the 8-byte
    hash (shuffle key = hash, so no cross join) → ONE pair aggregation
    producing common count and both set sizes → Jaccard filter.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    A document-frequency pre-filter (drop hashes held by one document)
    was measured slower at every available scale (pairs 2.3 → 3.5 s at
    sf0.1; 16.6 → 178 s on the 10×-replicated sf1 corpus, where it
    drops nothing but breaks the self-join's reused exchange and AQE
    skew handling), so the join reads every hash.

    Scale: hot (near-stopword) shingles create join skew; AQE skew-join
    splits them at runtime. For corpus-scale dedup prefer
    :func:`minhash_lsh_pairs` and verify its candidates with this metric.
    """
    # r15 shape (guide §2.3 "shuffle keys and metadata instead of
    # payloads" + §2.4): the inverted-index self-join shuffles 8-byte
    # xxhash64 shingle hashes instead of shingle STRINGS (equal up to
    # hash collisions, ~2^-64 per pair — the same argument the
    # LSH verify path already rests on), and the per-doc distinct-
    # shingle count rides ALONG the exploded rows (F.size of the
    # map-side array) instead of being a separate groupBy that was
    # computed twice and broadcast twice. The per-doc hash arrays are
    # persisted eagerly so the join's two branches read one tokenize
    # pass — the pre-r15 plan evaluated the tokenize+shingle lineage
    # six times per call (2 sizes aggregations + 2 broadcast builds +
    # 2 explode sides; 105 s of executor time at sf0.1).
    ds = _doc_shingle_hashes(df, id_col, text_col, n).persist()
    _retire_previous(_JACCARD_PERSIST_SLOT, ds)
    ds.count()
    ex = ds.select(
        "doc_id", F.size("hs").alias("sz"), F.explode("hs").alias("h")
    )
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.min(F.col("a.sz")).alias("sz_a"),
            F.min(F.col("b.sz")).alias("sz_b"),
        )
    )
    jac = F.col("common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("common")
    ).cast("double")
    return (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", round_half_up(F.col("jaccard"), 6).alias("jaccard"))
    )


def _formatted_plan(df: DataFrame) -> str:
    """``explain("formatted")`` as a string — the same JVM call
    ``DataFrame.explain`` prints, minus the print."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@contextmanager
def _no_aqe(spark: SparkSession):
    """Compile the CC loop without AQE (r15). Two reasons, both
    measured on the round plans:

    - ``localCheckpoint``/``checkpoint`` under AQE record
      ``UnknownPartitioning`` (AdaptiveSparkPlanExec cannot state its
      partitioning at checkpoint-creation time), so every round
      re-shuffled BOTH pinned inputs; compiled statically, the pin
      records ``hashpartitioning(n)`` + the within-partition sort
      order, and the per-round join runs with ZERO exchange and ZERO
      sort on the pinned sides — the only exchange left is the
      neighbor-min message shuffle (guide §2.4).
    - The loop's frames are longs-only and explicitly pre-partitioned;
      AQE's coalescing/skew machinery has nothing to add inside the
      loop, while costing the partitioning information above.

    The scope covers only the iterative section; callers' plans over
    the returned labels compile with the session's normal AQE setting
    (the recorded partitioning on the final pin survives either way).
    """
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def _pinner(df_example: DataFrame, checkpoint_dir: str | None):
    """Per-round lineage pin for iterative loops. Default:
    ``localCheckpoint`` — blocks live in executor storage, which is
    the right (cheap) choice on local[32] and for short loops, but
    executor loss on a real cluster destroys them mid-job (a
    localCheckpointed RDD cannot recompute: its lineage was
    truncated). ``checkpoint_dir=`` switches every pin to a RELIABLE
    ``checkpoint()`` against that directory (HDFS/S3/NFS on a
    cluster): blocks are re-readable from storage after any executor
    failure, making multi-hour CC jobs survivable — the standard
    Spark iterative-algorithm discipline (GraphX checkpoints the same
    way). Survival under block loss where localCheckpoint cannot is
    pinned in tests/test_operators.py.

    Disk discipline (reliable mode): each pin writes under its own
    ``pin-<seq>/`` subdir (``setCheckpointDir`` is per-pin — the
    context-global mutation lasts only until the next pin; one
    iterative job per session at a time is the assumption, as with
    GraphX). Pins marked ``evolving=True`` (the loop's one evolving
    frame) keep only the TWO most recent generations on disk:
    generation N may still be read right after N+1's pin (the star
    loop's convergence ``exceptAll``), generation N-1 cannot be, so
    it is deleted — a thousand-round job holds O(1) superseded
    rounds instead of all of them. Non-evolving pins (edge lists
    read every round) live for the whole loop."""
    if checkpoint_dir is None:
        # LAZY localCheckpoint (r15): blocks materialize under the FIRST
        # action that computes the frame — the CC loop's convergence
        # aggregate — so each round runs ONE job (materialize + sum)
        # instead of two (eager count, then sum). Lineage truncation is
        # the point: a persist-only pin was tried and abandoned — the
        # loop's self-joins double the logical tree every round
        # (exponential analyzer blowup by round ~8). Partitioning /
        # ordering preservation across the pin needs the loop to compile
        # WITHOUT AQE (see :func:`_no_aqe`): an AdaptiveSparkPlanExec
        # reports UnknownPartitioning at checkpoint time, throwing away
        # the hash partitioning the loop relies on.
        return lambda df, evolving=False: df.localCheckpoint(eager=False)
    import shutil

    sc = df_example.sparkSession.sparkContext
    state = {"seq": 0, "evolving_dirs": []}

    def pin(df: DataFrame, evolving: bool = False) -> DataFrame:
        state["seq"] += 1
        rdir = os.path.join(checkpoint_dir, f"pin-{state['seq']:05d}")
        sc.setCheckpointDir(rdir)
        out = df.checkpoint(eager=True)
        if evolving:
            state["evolving_dirs"].append(rdir)
            # eager => the new generation is fully on disk; anything
            # older than the previous generation is unreachable.
            while len(state["evolving_dirs"]) > 2:
                shutil.rmtree(state["evolving_dirs"].pop(0),
                              ignore_errors=True)
        return out

    return pin


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    vid: str = "doc_id",
    max_iter: int = 25,
    method: str = "propagation",
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a similar-pair edge set: the transitive
    closure step that turns pairwise near-dup hits into dedup groups
    (A~B and B~C must collapse to ONE surviving document even when A~C
    was never emitted). Returns (doc_id, cluster_id) with cluster_id =
    min member id; vertices absent from any edge are singletons.

    Two algorithms, both pure DataFrame jobs with longs-only frames:

    - ``method="propagation"`` (default): iterative min-label
      propagation — each round one shuffle (groupBy node), labels only
      ever decrease, convergence detected by a monotone aggregate (sum
      of labels, accumulated in decimal so 64-bit ids cannot overflow
      the ANSI sum). Rounds needed = component diameter; near-dup
      clusters are clique-dense (diameter 2-3), so 3-4 rounds in
      practice — the right default for dedup graphs.
    - ``method="star"``: the large-star/small-star alternation
      (Kiveris et al., "Connected Components in MapReduce and Beyond"):
      large-star hangs every larger neighbor under the neighborhood
      minimum, small-star re-hangs the smaller ones; the alternation
      converges in O(log n) rounds EVEN on path/chain graphs where
      propagation needs diameter rounds. Two shuffles per round plus an
      exact edge-set equality check — the opt-in for adversarial
      long-chain graphs.

    Exhausting ``max_iter`` without converging RAISES (RuntimeError)
    rather than returning silently-wrong labels. ``stats``, when given,
    receives ``{"rounds": N}`` on return (propagation rounds or star
    alternations) — the scale-telemetry hook ``scripts/scale_smoke.py``
    uses to show rounds stay flat as the graph grows.

    Scale notes: the iterated frames carry (node, label)/(u, v) longs
    only — document text never enters the loop. Each round ends in a
    lineage pin (iterative plans otherwise re-derive every prior round
    at each action and the optimizer pass itself becomes the
    bottleneck): ``localCheckpoint`` by default, or a RELIABLE
    ``checkpoint()`` when ``checkpoint_dir`` is given — the cluster
    deployment knob that makes the loop survive executor loss (see
    :func:`_pinner`).
    """
    if method == "star":
        return _cc_star(edges, vertices, src, dst, vid, max_iter, stats,
                        checkpoint_dir)
    if method != "propagation":
        raise ValueError(f"unknown method {method!r}")
    pin = _pinner(edges, checkpoint_dir)
    # r15 loop shape (guide §2.4 "share one exchange"): every frame in
    # the loop is HASH-PARTITIONED BY ``n`` and SORTED on it within
    # partitions, the loop compiles without AQE so the pins RECORD that
    # layout (see _no_aqe), and the per-round join of the static edge
    # list with the evolving labels therefore needs no exchange and no
    # sort on either pinned side; the ONE corpus-keyed exchange per
    # round is the neighbor-min aggregation (the actual message
    # passing). The pre-r15 shape (union + groupBy over both frames)
    # re-shuffled the edge list AND the labels every round.
    und_src = edges.select(
        F.col(src).alias("n"), F.col(dst).alias("m")
    ).unionByName(
        edges.select(F.col(dst).alias("n"), F.col(src).alias("m"))
    )
    # The upstream pair generation is a multi-shuffle job that SHOULD
    # keep AQE (coalescing, skew handling) — cache it outside the
    # no-AQE scope; the loop's statically-compiled lineage then starts
    # at the cache scan, and the id pairs (tiny relative to the corpus)
    # are computed once.
    und_src = und_src.persist()
    spark = edges.sparkSession
    try:
        with _no_aqe(spark):
            # Materialize the edge list once, pre-partitioned and
            # pre-sorted on the join key; re-read every round.
            und = pin(und_src.repartition("n").sortWithinPartitions("n"))
            labels = vertices.select(
                F.col(vid).alias("n"), F.col(vid).cast("long").alias("label")
            )
            labels = pin(
                labels.repartition("n").sortWithinPartitions("n"),
                evolving=True,
            )
            prev_sum = labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]

            def _next(lbl: DataFrame) -> DataFrame:
                # min(own ∪ incoming) ≡ least(own, min(incoming)):
                # F.least skips the NULL an isolated vertex gets from
                # the left join, so vertices without incoming edges
                # keep their own label — exactly the old union+groupBy
                # semantics, without re-shuffling the label frame.
                nmin = (
                    und.join(lbl, "n")
                    .select(F.col("m").alias("n"), "label")
                    .groupBy("n").agg(F.min("label").alias("__nl"))
                )
                return lbl.join(nmin, "n", "left").select(
                    "n",
                    F.least(F.col("label"), F.col("__nl")).alias("label"),
                )

            converged = False
            rounds = 0
            for _ in range(max_iter):
                rounds += 1
                stepped = _next(labels)
                if stats is not None and rounds == 1:
                    # Debug/evidence hook (r16): the formatted physical
                    # plan of one propagation round, exactly as the loop
                    # compiles it (no-AQE, pinned partitioning). The
                    # skew-shape test pins that the ONE exchange per
                    # round carries PARTIAL_MIN rows — i.e. the message
                    # shuffle is two-level (map-side partial min per
                    # key, final min after), so a celebrity node
                    # contributes at most one row per map partition to
                    # the shuffle.
                    stats["round_plan"] = _formatted_plan(stepped)
                new_labels = pin(stepped, evolving=True)
                new_sum = new_labels.agg(
                    F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
                ).collect()[0]["s"]
                labels = new_labels
                if new_sum == prev_sum:  # min-propagation fixpoint
                    converged = True
                    break
                prev_sum = new_sum
            if not converged:
                # Fixpoint detection needs one no-change round BEYOND
                # the diameter: a graph whose diameter exactly equals
                # max_iter has correct labels after the loop but hasn't
                # yet proven it. Run one final change-check before
                # declaring failure, so max_iter is a bound on
                # propagation rounds, not diameter+1.
                final_sum = (
                    _next(labels)
                    .agg(F.sum(F.col("label").cast("decimal(38,0)"))
                         .alias("s"))
                    .collect()[0]["s"]
                )
                if final_sum != prev_sum:
                    raise RuntimeError(
                        f"connected_components(method='propagation') did "
                        f"not converge in {max_iter} rounds — the graph's "
                        f"diameter exceeds the round budget; use "
                        f"method='star' (O(log n) rounds) or raise "
                        f"max_iter"
                    )
    finally:
        # The pinned frames read their own checkpoint blocks; the
        # pair-generation cache is only needed while pins materialize —
        # by the time the loop exits, every consumer reads pins.
        und_src.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(F.col("n").alias(vid), F.col("label").alias("cluster_id"))


def _cc_star(
    edges: DataFrame,
    vertices: DataFrame,
    src: str,
    dst: str,
    vid: str,
    max_iter: int,
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. 2014). The
    edge set converges to a star forest — every node directly attached
    to its component minimum — in O(log n) alternations; convergence is
    an EXACT edge-set equality check (count + subtract-empty), not a
    checksum, so a non-converged return is impossible. Per-round
    lineage pins honor ``checkpoint_dir`` (reliable checkpoints — see
    :func:`_pinner`)."""
    pin = _pinner(edges, checkpoint_dir)
    e = pin(
        edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct(),
        evolving=True,
    )

    def large_star(ed: DataFrame) -> DataFrame:
        # key every edge on BOTH endpoints; for each center n with
        # neighborhood N(n): m = min(N(n) ∪ {n}); hang every LARGER
        # neighbor under m.
        sym = ed.select("u", "v").unionByName(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v"))
            .filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # key every edge on its LARGER endpoint; m = min of the smaller
        # neighbors (all < center); re-hang them (and the center) on m.
        big = ed.select(F.greatest("u", "v").alias("c"),
                        F.least("u", "v").alias("v"))
        mins = big.groupBy("c").agg(F.min("v").alias("m"))
        rehung = (
            big.join(mins, "c")
            .select(F.col("m").alias("u"), F.col("v"))
        )
        center = mins.select(F.col("m").alias("u"), F.col("c").alias("v"))
        return (
            rehung.unionByName(center)
            .filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v"))
            .distinct()
        )

    converged = False
    rounds = 0
    # The count doubles as the lazy pin's materializing action; caching
    # it across rounds saves re-counting the (already materialized)
    # previous edge set every round (r15).
    e_count = e.count()
    for _ in range(max_iter):
        rounds += 1
        new_e = pin(small_star(large_star(e)), evolving=True)
        new_count = new_e.count()
        if new_count == e_count and new_e.exceptAll(e).isEmpty():
            e = new_e
            converged = True
            break
        e, e_count = new_e, new_count
    if not converged:
        raise RuntimeError(
            f"connected_components(method='star') did not converge in "
            f"{max_iter} alternations — raise max_iter (expected rounds "
            f"are O(log n), so this indicates a pathological input)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # Converged star forest: every edge is (root, member). Singletons
    # come from the vertex frame.
    member = e.select(F.col("v").alias("n"), F.col("u").alias("label"))
    root = e.select(F.col("u").alias("n"), F.col("u").alias("label"))
    labels = member.unionByName(root).groupBy("n").agg(
        F.min("label").alias("label")
    )
    verts = vertices.select(F.col(vid).cast("long").alias("n"))
    return (
        verts.join(labels, "n", "left")
        .select(
            F.col("n").alias(vid),
            F.coalesce("label", F.col("n")).alias("cluster_id"),
        )
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = DEFAULT_JACCARD_THRESHOLD,
    cc_method: str = "propagation",
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full near-dup grouping: exact Jaccard pairs → connected
    components → (doc_id, cluster_id, cluster_size, is_canonical).
    The canonical survivor is the min doc_id of each component — the
    keep-set of a corpus-dedup pass is ``is_canonical = true``.

    The cluster_size join shuffles (cluster_id, count) pairs; at corpus
    scale cluster counts are tiny relative to docs, so AQE marks the
    count side broadcast-able.

    ``stats`` passes through to :func:`connected_components` (receives
    ``{"rounds": N}``) — the scale-telemetry hook
    ``scripts/cc_trend.py`` uses to show propagation rounds stay FLAT
    as the corpus grows (near-dup graphs are clique-dense: diameter,
    hence rounds, is set by cluster shape, not corpus size).
    """
    pairs = jaccard_pairs(df, id_col, text_col, n, threshold)
    comp = connected_components(
        pairs.select("doc_a", "doc_b"), df.select(id_col), vid=id_col,
        method=cc_method, stats=stats, checkpoint_dir=checkpoint_dir,
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.join(sizes, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
        )
    )


def select_representatives(
    df: DataFrame,
    cluster_col: str = "cluster_id",
    score_col: str = "quality_score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection: mark the best-scoring member
    of each duplicate cluster (ties → smallest id, fully
    deterministic) — the keep-the-best-copy policy production dedup
    pipelines use instead of min-id (RefinedWeb/CCNet-style: among
    near-identical copies, keep the highest-quality or longest one).
    Adds ``is_representative``; composes downstream of
    :func:`dedup_clusters` / :func:`exact_dedup` / semantic dedup —
    any frame carrying a cluster assignment and a score.

    Scale: ONE shuffle on the cluster key (the window partition);
    cluster populations are tiny relative to the corpus, so no
    partition-skew regime — the heaviest key is the largest duplicate
    cluster, bounded by how many copies of one document exist.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("is_representative", F.col("__rn") == 1)
        .drop("__rn")
    )


def _doc_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int,
    portable: bool = False,
) -> DataFrame:
    """(doc_id, hs: array<long>) — distinct shingle hashes per document,
    computed entirely map-side (tokenize → shingle → xxhash64 per
    element, all array expressions over the scan; no explode, no
    shuffle). At 100 TB this is the load-bearing shape: the corpus text
    never leaves its input partition — everything downstream (signatures,
    banding, verification) works on arrays of longs.

    Two projection steps materialize ``__toks`` then ``__sh`` as
    attributes so higher-order lambdas never re-evaluate tokenization
    per element (see shingles_from_tokens).

    ``portable=True`` hashes shingles with md5 (hex strings) instead of
    xxhash64 — ~4x more bytes per element, but bit-identical in every
    engine that ships md5, which is what lets the LSH driver entry carry
    a REAL DuckDB oracle. xxhash64 stays the scale default."""
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    shingled = toked.select(
        "doc_id", shingles_from_tokens(F.col("__toks"), n).alias("__sh")
    )
    hash_one = F.md5 if portable else F.xxhash64
    return shingled.select(
        "doc_id", F.transform(F.col("__sh"), lambda s: hash_one(s)).alias("hs")
    )


def _minhash_sig(hs: Column, k: int, portable: bool = False) -> Column:
    """k-permutation MinHash over a shingle-hash array: sig[i] = min over
    shingles of xxhash64(i, shingle_hash). Hashing the 8-byte shingle
    hash (not the shingle string) k times keeps the per-element cost
    constant in document size.

    ``portable``: seeded hash = md5("<i>:" + shingle_md5), min taken
    lexicographically over the hex strings — identical in Spark and
    DuckDB (byte-wise collation over ASCII hex).

    The per-seed lambda is built by a closure FACTORY, never the
    ``lambda h, i=i:`` default-arg idiom: PySpark decides a
    higher-order-function lambda's arity from its Python signature, so
    a two-parameter lambda becomes a BINARY ``(element, index)``
    Catalyst lambda — the default is shadowed by the array-index
    variable and the seed silently degenerates (every sig row hashes
    with its element's position, or with the stringified index column).
    Caught by the bucket-cap entry's signature-level oracle; the
    verified-pair outputs had masked it."""

    def seeded(i: int):
        if portable:
            return lambda h: F.md5(F.concat(F.lit(f"{i}:"), h))
        return lambda h: F.xxhash64(F.lit(i), h)

    return F.array(
        *[
            F.array_min(F.transform(hs, seeded(i))).alias(f"h{i}")
            for i in range(k)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = MINHASH_K,
) -> DataFrame:
    """k-permutation MinHash signatures, zero-shuffle (map-side only)."""
    ds = _doc_shingle_hashes(df, id_col, text_col, n)
    return ds.select("doc_id", _minhash_sig(F.col("hs"), k).alias("sig"))


def banded_signature_frame(
    ds: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    portable: bool = False,
) -> DataFrame:
    """(doc_id, band, bsig) — the LSH banding of a per-doc shingle-hash
    frame (``ds`` = output of :func:`_doc_shingle_hashes`). Factored out
    of :func:`minhash_lsh_pairs` so the persisted-index builder and the
    incremental shard probe (operators/incremental.py) band with the
    EXACT same plan as the full-corpus path — the incremental result's
    equality to the full recompute depends on byte-identical band keys.

    Band key = one hash of the band's r signature values (cheaper to
    shuffle/compare than the concatenated key); portable mode keys on
    md5 of the '|'-joined row hashes (the oracle rebuilds it verbatim).
    """
    sig = ds.select(
        "doc_id", _minhash_sig(F.col("hs"), k, portable=portable).alias("sig")
    )
    return _banded_from_sig(sig, k, bands, portable=portable)


def _banded_from_sig(
    sig: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    portable: bool = False,
) -> DataFrame:
    """Band a (doc_id, sig) frame — the single definition of the band
    key expressions (every caller routes through here, so the
    incremental index and the full-corpus path can never drift)."""
    r = k // bands
    if portable:
        def _bsig(bi: int) -> Column:
            return F.md5(
                F.concat_ws(
                    "|", *[F.col("sig")[bi * r + j] for j in range(r)]
                )
            )
    else:
        def _bsig(bi: int) -> Column:
            return F.xxhash64(*[F.col("sig")[bi * r + j] for j in range(r)])

    band_arrays = F.array(
        *[
            F.struct(F.lit(bi).alias("band"), _bsig(bi).alias("bsig"))
            for bi in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_arrays).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bsig").alias("bsig")
    )


def verify_candidate_pairs(
    cand: DataFrame,
    ds_a: DataFrame,
    ds_b: DataFrame,
    threshold: float,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Candidate-proportional exact-Jaccard verification: two hash-joins
    attach shingle-hash arrays from ``ds_a``/``ds_b`` (each a
    (doc_id, hs) frame), then array_intersect counts the overlap — work
    ∝ |candidates|·shingles. Shared by the full-corpus and incremental
    paths so verification math stays one implementation."""
    da = ds_a.select(F.col("doc_id").alias(a_col), F.col("hs").alias("hs_a"))
    db = ds_b.select(F.col("doc_id").alias(b_col), F.col("hs").alias("hs_b"))
    common = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    jac = common.cast("double") / (
        F.size(F.col("hs_a")) + F.size(F.col("hs_b")) - common
    ).cast("double")
    return (
        cand.join(da, a_col)
        .join(db, b_col)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(
            a_col, b_col, round_half_up(F.col("jaccard"), 6).alias("jaccard")
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = DEFAULT_JACCARD_THRESHOLD,
    portable: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard.

    Bands the k-long signature into ``bands`` groups of k/bands rows;
    docs colliding on any whole band become candidates (equi-join on
    (band_id, band_signature) — the classic LSH bucket join; shuffle
    key is the 2-tuple, never a cross join). With k=32, b=8, r=4 the
    S-curve threshold is (1/8)^(1/4) ≈ 0.59 Jaccard. Each candidate is
    then verified by exact Jaccard over the two docs' shingle hashes, so
    every returned pair has ``jaccard >= threshold``.

    ``portable=True`` swaps every hash for its md5 twin (same plan
    shape: map-side signatures, banded equi-join, candidate-proportional
    verification) so the result is engine-reproducible and the driver
    entry carries a full DuckDB oracle; xxhash64 remains the default for
    throughput (8-byte longs vs 32-char hex through the shuffle).

    ``max_bucket_size``: the standard hot-bucket drop. A degenerate
    band — every empty document shares one signature; boilerplate
    shingle sets collide — produces a bucket of m docs and m² candidate
    pairs, the quadratic blowup LSH exists to avoid. Buckets larger
    than the cap are dropped BEFORE the self-join (bucket sizes are one
    partial aggregation on the banded frame; the drop is a left-semi
    equi-join, so the plan stays pure equi-joins). Near-dup pairs
    inside a dropped bucket still surface through their OTHER bands
    (probability 1-(1-s^r)^(b-1) instead of 1-(1-s^r)^b); exact-empty
    degenerate groups are better handled by the exact-dedup pass that
    precedes LSH in any real pipeline. None (default) disables.
    """
    # The per-doc shingle-hash arrays feed the intersection counts and
    # the k-permutation SIGNATURES feed banding — persist BOTH once
    # (r15): the banded self-join's two branches and the two
    # verification joins otherwise each re-derive the tokenize +
    # k·|shingles| signature lineage (the signature pass alone is k=32
    # hashes per shingle, and the pre-r15 persist of ``hs`` only still
    # computed it twice, once per self-join side). Footprint is
    # (doc_id, array<long>, array<long>), far smaller than the corpus
    # text.
    ds = _doc_shingle_hashes(df, id_col, text_col, n, portable=portable)
    sigf = ds.select(
        "doc_id", "hs",
        _minhash_sig(F.col("hs"), k, portable=portable).alias("sig"),
    ).persist()
    # Materialize eagerly: lazy persists race under the self-join's
    # concurrent map stages, each computing the full lineage before
    # the cache fills.
    _retire_previous(_MINHASH_PERSIST_SLOT, sigf)
    sigf.count()
    banded = _banded_from_sig(
        sigf.select("doc_id", "sig"), k, bands, portable=portable)
    if max_bucket_size is not None:
        keep = (
            banded.groupBy("band", "bsig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band", "bsig")
        )
        banded = banded.join(keep, ["band", "bsig"], "left_semi")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Candidate-proportional exact verification — work ∝
    # |candidates|·shingles, never the full inverted-index self-join
    # (that's the whole point of LSH). Jaccard over 64-bit shingle
    # hashes equals Jaccard over shingle strings up to hash collisions
    # (~2^-64 per pair).
    hsf = sigf.select("doc_id", "hs")
    return verify_candidate_pairs(cand, hsf, hsf, threshold)


def portable_hash60(c: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5,
    parsed base-16 (fits a signed 64-bit, always non-negative). DuckDB
    twin: ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 64, portable: bool = False,
) -> DataFrame:
    """64-bit SimHash: per-token xxhash64; each bit votes +1/-1; the
    signature's bit i is 1 iff the vote sum is positive.

    Expressed as explode → per-bit conditional sums → bit assembly, all
    built-in integer ops (one shuffle of (doc_id, 64 ints)).

    ``portable=True`` votes with the 60-bit md5-derived hash (and the
    caller should pass ``bits=60``) so DuckDB can rebuild the identical
    signatures — the hash family is the only engine-specific part."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    h = portable_hash60(F.col("tok")) if portable else F.xxhash64(F.col("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH_HAMMING_MAX,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates collide on any of four
    ``bits/4``-wide signature chunks (banding), verified by exact
    hamming distance bit_count(a XOR b) <= max_hamming. ``portable``
    selects the md5-derived 60-bit hash family (pass ``bits=60``) so
    the DuckDB oracle can replay signatures, banding and verification."""
    sig = simhash_signatures(df, id_col, text_col, bits, portable=portable)
    cw = bits // 4
    mask = (1 << cw) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * cw)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for c in range(4)
        ]
    )
    banded = sig.select("doc_id", "simhash", F.explode(chunks).alias("c")).select(
        "doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_quality(
    df: DataFrame,
    threshold: float = 0.2,
    high: float = 0.7,
    recall_bound: float = 0.8,
) -> DataFrame:
    """One-row quality gate for the MinHash-LSH path, oracle-checkable:
    (n_exact_pairs, subset_ok, high_recall_ge_80).

    - ``n_exact_pairs``: exact n-gram-Jaccard pair count — the oracle
      recomputes it in SQL, so this cell is a REAL differential check;
    - ``subset_ok``: every LSH-verified pair exists in the exact result
      with the same Jaccard (verification removes all false positives);
    - ``high_recall_ge_80``: recall over high-similarity ground truth
      (jaccard >= ``high``) clears ``recall_bound`` — the LSH S-curve
      (b8/r4 ≈ 0.59) makes high-sim pairs near-certain candidates.
    """
    exact = jaccard_pairs(df, threshold=threshold)
    approx = minhash_lsh_pairs(df, threshold=threshold)
    ex = exact.select("doc_a", "doc_b", F.col("jaccard").alias("jac_e"))
    ap = approx.select("doc_a", "doc_b", F.col("jaccard").alias("jac_a"))
    mismatches = (
        ap.join(ex, ["doc_a", "doc_b"], "left")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("jac_e").isNull()
                        | (F.abs(F.col("jac_a") - F.col("jac_e")) > 1e-6),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_bad")
        )
    )
    high_hits = (
        ex.filter(F.col("jac_e") >= high)
        .join(ap.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    totals = ex.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("jac_e") >= high, 1).otherwise(0)), F.lit(0)
        ).alias("n_high"),
    )
    return (
        totals.crossJoin(mismatches)
        .crossJoin(high_hits)
        .select(
            "n_exact_pairs",
            (F.col("n_bad") == 0).alias("subset_ok"),
            (
                (F.col("n_high") == 0)
                | (F.col("n_hit") >= F.col("n_high") * F.lit(recall_bound))
            ).alias("high_recall_ge_80"),
        )
    )


def simhash_quality(df: DataFrame) -> DataFrame:
    """One-row quality gate for the SimHash path:
    (n_exactdup_pairs, all_exactdups_found).

    Identical texts have identical 64-bit SimHashes, so every
    exact-duplicate pair MUST surface with hamming 0 — and the
    exact-duplicate pair count is recomputed by the oracle from text
    equality, making the count cell a differential check. The engine
    joins on sha2(text) (cheap 32-byte shuffle key) then confirms text
    equality, so the count matches the oracle's text-equality semantics
    exactly."""
    keyed = df.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("h"), "text"
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("h"), F.col("text").alias("ta")
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("h"), F.col("text").alias("tb")
    )
    dup_pairs = (
        a.join(b, "h")
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("ta") == F.col("tb")))
        .select("doc_a", "doc_b")
    )
    sim0 = simhash_pairs(df).filter(F.col("hamming") == 0).select(
        "doc_a", "doc_b"
    )
    found = dup_pairs.join(sim0, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    total = dup_pairs.agg(F.count(F.lit(1)).alias("n_exactdup_pairs"))
    return total.crossJoin(found).select(
        "n_exactdup_pairs",
        (F.col("n_found") == F.col("n_exactdup_pairs")).alias(
            "all_exactdups_found"
        ),
    )


# --------------------------------------------------------------------------
# Driver entries
# --------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import cached_parquet, spread

    # CPU-bound tokenization/shingling: spread the (often single-file)
    # local input across cores before the map stage.
    return spread(cached_parquet(spark, f"{sf_dir}/documents.parquet"))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(_docs(spark, sf_dir), threshold=0.2)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable=True: md5 hash family → the DuckDB oracle replays the
    # exact banding + verification, so this entry is hash-checked
    # end-to-end (plan shape is identical to the xxhash64 scale path).
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.2,
                             portable=True)


#: Hot-bucket cap for the guarded driver entry — 2 is DISCRIMINATING at
#: sf0.01 (the corpus produces a handful of size-3 band buckets, so the
#: capped result genuinely differs from the uncapped one and the hash
#: compare proves the drop logic, not just its absence).
MINHASH_BUCKET_CAP = 2


def q_minhash_bucket_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The hot-bucket-drop path (degenerate-band guard), oracle-replayed:
    # DuckDB applies the identical cap before its candidate self-join.
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.2,
                             portable=True,
                             max_bucket_size=MINHASH_BUCKET_CAP)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable 60-bit md5-derived hash family → DuckDB rebuilds the
    # identical signatures/banding, making this entry hash-checked.
    return simhash_pairs(_docs(spark, sf_dir), bits=60, portable=True)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters(_docs(spark, sf_dir), threshold=0.2)


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering through the large-star/small-star algorithm —
    cluster assignments are method-independent, so it shares the
    recursive-CTE oracle with the propagation entry: two different
    distributed algorithms, one hash-checked answer."""
    return dedup_clusters(_docs(spark, sf_dir), threshold=0.2,
                          cc_method="star")


#: One-slot reuse of the reliable-checkpoint dir: each invocation wipes
#: and reuses the SAME per-process dir instead of leaking a fresh
#: mkdtemp per call. Contract (same as incremental._SHARD_CACHE): the
#: previous call's returned frame must be consumed before the next
#: call — driver/bench/pytest all collect eagerly.
_CC_RELIABLE_CKPT: list = []


def q_dedup_clusters_reliable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering with every per-round lineage pin a RELIABLE
    checkpoint (the cluster-deployment knob, kill-tested in
    tests/test_operators.py) — third physical path onto the shared
    recursive-CTE oracle, proving the knob changes fault tolerance,
    not answers."""
    import shutil
    import tempfile

    if not _CC_RELIABLE_CKPT:
        _CC_RELIABLE_CKPT.append(tempfile.mkdtemp(prefix="qpo_cc_reliable_"))
    ckpt = _CC_RELIABLE_CKPT[0]
    for name in os.listdir(ckpt):  # superseded pins from the last call
        shutil.rmtree(os.path.join(ckpt, name), ignore_errors=True)
    return dedup_clusters(
        _docs(spark, sf_dir), threshold=0.2, checkpoint_dir=ckpt)


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any
    word ``n``-gram with a held-out benchmark/eval set — the standard
    guard against test-set leakage in a training corpus.

    Inverted-index shape: both sides explode to (id, shingle) and
    equi-join on the shingle — the shuffle carries shingle hashes, the
    eval side is tiny (benchmarks are KBs against a 100 TB corpus), so
    Catalyst broadcasts it and the training side never shuffles at all.
    Returns (doc_id, n_shared_ngrams, n_eval_docs_hit) for contaminated
    docs only; the keep-set is an anti-join on this result.
    """
    t = _shingle_rows(train, id_col, text_col, n)
    e = _shingle_rows(evalset, id_col, text_col, n).select(
        F.col("doc_id").alias("eval_id"), F.col("sh")
    )
    return (
        t.join(F.broadcast(e), "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs_hit"),
        )
    )


def ngram_novelty(
    eval_docs: DataFrame,
    ref_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus — the
    memorization/novelty metric (what fraction of a generated or
    held-out document's word n-gram occurrences never appear in the
    training reference; within-doc repeats each count, so a doc that
    repeats one training shingle scores low). Returns
    ``(doc_id, n_ngrams, n_novel, novelty)`` with
    ``novelty = round(n_novel / n_ngrams, 6)``.

    Scale shape: the reference reduces to DISTINCT 16-byte md5 shingle
    hashes scan-side (the set a 100 TB reference corpus compresses to
    — reusable across eval batches); eval shingles LEFT-join that set
    on the hash, so the shuffle carries hashes only, and hot shingles
    can't skew the reference side (already distinct). The per-doc
    reduce is count/sum partials.
    """
    ref = (
        _shingle_rows(ref_docs, id_col, text_col, n)
        .select(F.md5("sh").alias("h"))
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    ev = _shingle_rows(eval_docs, id_col, text_col, n).select(
        "doc_id", F.md5("sh").alias("h"))
    return (
        ev.join(ref, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.col("__seen").isNull().cast("long")).alias("n_novel"),
        )
        .withColumn("novelty",
                    round_half_up(F.col("n_novel") / F.col("n_ngrams"), 6))
    )


#: Eval split for the novelty entry: every 10th doc held out, scored
#: against the rest as reference.
NOVELTY_EVAL_MOD = 10


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % NOVELTY_EVAL_MOD == 0)
    ref = docs.filter(F.col("doc_id") % NOVELTY_EVAL_MOD != 0)
    return ngram_novelty(ev, ref).orderBy("doc_id")


#: Driver-entry eval set: every 50th document stands in for a benchmark.
DECONTAM_EVAL_MOD = 50


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n=4 on the driver's word-soup corpus lands between all-clean (5)
    # and half-the-corpus (3) — a result set the hash compare can bite
    # on. Real pipelines use 8-13-gram windows over natural text.
    docs = _docs(spark, sf_dir)
    evalset = docs.filter(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
    train = docs.filter(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
    return decontaminate(train, evalset, n=4)


def split_leakage_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
) -> DataFrame:
    """Cross-split exact-duplicate leakage: content (by sha2-256
    digest) that lands in MORE THAN ONE train/val/test split under the
    deterministic hash assignment (`sampling.split_by_hash`). Split
    assignment is per-document-id, so two ids carrying identical text
    can straddle the split boundary — exactly the leakage that inflates
    eval scores. Returns one row per leaked digest:
    ``(content_hash, n_docs, n_splits, splits)``.

    Scale: one shuffle on 32-byte digests carrying only the split
    label — document bodies are hashed map-side and never move. The
    fix-side join (drop or re-side the leaked ids) is an equi-join on
    this digest frame.
    """
    from query_planner_optimizer_spark.operators.sampling import (
        split_by_hash,
    )

    assigned = split_by_hash(df, id_col, splits)
    d = assigned.select(
        F.sha2(F.col(text_col), 256).alias("content_hash"), F.col("split")
    )
    return (
        d.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("split").alias("n_splits"),
            F.array_join(F.sort_array(F.collect_set("split")), ",")
            .alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


#: Shadow-id offset for the driver entry: the driver corpus has no
#: exact duplicates at small SF, so the entry doubles it under shifted
#: ids — identical content now exists under two ids whose hash-splits
#: usually differ, which is precisely the divergence the report exists
#: to catch (and the oracle replays the same union).
SPLIT_LEAK_SHADOW_OFFSET = 10_000_000


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    shadow = docs.select(
        (F.col("doc_id") + F.lit(SPLIT_LEAK_SHADOW_OFFSET)).alias("doc_id"),
        "text",
    )
    return split_leakage_report(docs.unionByName(shadow))


def near_dup_split_leakage(
    df: DataFrame,
    threshold: float = 0.2,
    splits: dict[str, float] | None = None,
) -> DataFrame:
    """NEAR-duplicate cross-split leakage: MinHash-LSH similar pairs
    whose two documents were hash-assigned to DIFFERENT train/val/test
    splits — the leakage exact-digest checks miss (paraphrased or
    lightly-edited copies straddling the boundary still inflate eval).
    Returns ``(doc_a, doc_b, jaccard, split_a, split_b)``.

    Composition of two audited primitives: `minhash_lsh_pairs`
    (portable md5 family — fully oracle-replayable) and
    `sampling.split_by_hash`. Scale: the pair frame carries ids +
    jaccard only; the split frame is (id, label); both joins are
    id-equi-joins AQE can broadcast.
    """
    from query_planner_optimizer_spark.operators.sampling import (
        split_by_hash,
    )

    pairs = minhash_lsh_pairs(df, threshold=threshold, portable=True)
    spl = split_by_hash(df.select("doc_id"), "doc_id")
    sa = spl.select(F.col("doc_id").alias("doc_a"),
                    F.col("split").alias("split_a"))
    sb = spl.select(F.col("doc_id").alias("doc_b"),
                    F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
    )


def q_near_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_split_leakage(_docs(spark, sf_dir))


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level duplicate detection (the token-window
    formulation of Lee et al. 2021's exact-substring dedup): hash every
    ``window``-token rolling window; a window whose hash occurs in at
    least ``min_docs`` DISTINCT documents is a duplicated span.
    Overlapping/adjacent duplicated windows merge into maximal spans —
    the cut list a span-level cleaner applies (vs. :func:`exact_dedup`
    whole-doc and ``docpipe.line_dedup`` line granularity).

    Returns (doc_id, span_start, span_end, n_windows): token positions,
    1-based inclusive.

    Plan: map-side window hashing (md5 of the joined token slice — the
    engine-portable family); one aggregation to the duplicated-hash set
    (COUNT(DISTINCT doc) ≥ min_docs); an equi-join of the window stream
    back onto that set (AQE-broadcast when the dup set is small, skew-
    split when a boilerplate window is corpus-hot); then per-doc
    gaps-and-islands over window POSITIONS (partitions bounded by
    windows-per-doc, never corpus-wide). No driver-side state.
    """
    toked = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t")
    )
    n = F.size(F.col("__t"))
    wins = (
        toked.filter(n >= window)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(window - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(
                            " ", F.slice(F.col("__t"), i, window)
                        )).alias("h"),
                    ),
                )
            ).alias("w"),
        )
        .select("doc_id", "w.pos", "w.h")
    )
    dup = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    hits = wins.join(dup, "h").select("doc_id", "pos")
    from pyspark.sql import Window as W

    grp = F.col("pos") - F.row_number().over(
        W.partitionBy("doc_id").orderBy("pos")
    )
    return (
        hits.withColumn("__g", grp)
        .groupBy("doc_id", "__g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(window - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_spans(_docs(spark, sf_dir))


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The APPLY half of :func:`duplicate_spans`: rebuild each document
    with every duplicated span cut out (all copies removed — the
    practical exact-substring-dedup policy; keeping one global copy
    would need a corpus-wide ordering pass). Returns
    (doc_id, text_clean, n_tokens_kept); documents with no tokens are
    absent (nothing to rebuild).

    Plan: the duplicated-window hit stream explodes to its ``window``
    covered positions (fan-out bounded by duplicate density, not corpus
    size), the position-tagged token stream anti-joins it, and each doc
    reassembles via sort_array(collect_list(struct(pos, tok))) — a
    per-doc list bounded by document length, the same reassembly bound
    ``docpipe.line_dedup`` carries.
    """
    toked = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t")
    )
    n = F.size(F.col("__t"))
    wins = (
        toked.filter(n >= window)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(window - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(
                            " ", F.slice(F.col("__t"), i, window)
                        )).alias("h"),
                    ),
                )
            ).alias("w"),
        )
        .select("doc_id", "w.pos", "w.h")
    )
    dup = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    covered = (
        wins.join(dup, "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))
            ).alias("p"),
        )
        .distinct()
    )
    toks = toked.select(
        "doc_id",
        F.posexplode(F.col("__t")).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    kept = toks.join(covered, ["doc_id", "p"], "left_anti")
    ordered = F.array_sort(F.collect_list(F.struct("p", "tok")))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.transform(ordered, lambda s: s["tok"])
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_tokens_kept"),
        )
    )


def q_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return remove_duplicate_spans(_docs(spark, sf_dir))


def dedup_report(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row exact-dedup audit of a corpus — the summary a curation
    run reports before/after: document count, distinct contents,
    removable duplicate documents, and the characters a keep-first
    exact dedup would save. Two aggregations over 32-byte digests
    (per-content, then global); nothing wider than a digest shuffles.
    """
    per = (
        docs.select(
            F.sha2(F.col(text_col), 256).alias("h"),
            F.length(F.col(text_col)).alias("__len"),
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.max("__len").alias("len"))
    )
    return per.agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("cnt") - 1).alias("n_dup_docs"),
        F.sum(F.col("len") * F.col("cnt")).alias("chars_total"),
        F.sum(F.col("len") * (F.col("cnt") - 1)).alias("chars_saved"),
    )


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_report(_docs(spark, sf_dir))


#: Shadow-id offset for synthesized duplicate clusters (the sf0.01
#: driver corpus has no organic duplicates — same modular discipline as
#: the other dedup entries).
_REP_SHADOW = 10_000_000


def q_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative selection over synthesized
    duplicate clusters: every doc with doc_id % 4 == 0 gains a shadow
    copy (id + 10M) with stopword boilerplate appended — a changed
    quality score — and :func:`select_representatives` keeps the
    better-scoring member per cluster (ties → smaller id). The oracle
    replays the quality formula and the window in SQL."""
    from query_planner_optimizer_spark.operators import text as T

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    shadows = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + _REP_SHADOW).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" the the the the")).alias("text"),
    )
    corpus = docs.unionByName(shadows)
    scored = T.with_quality_score(corpus).withColumn(
        "cluster_id", F.col("doc_id") % _REP_SHADOW)
    return select_representatives(scored).select(
        "doc_id", "cluster_id", "quality_score", "is_representative"
    ).orderBy("doc_id")


#: id offset for the exact-first funnel's re-crawl shadows — NEGATIVE
#: (doc_id - 20M) so the shadow WINS the min-id exact survivorship and
#: the downstream cluster report provably reflects the exact stage
#: (shadow ids replace their originals as members/canonicals — a
#: skipped or broken exact pass produces different clusters, sizes,
#: and ids, so the driver hash discriminates the whole composition).
_EXF_SHADOW = 20_000_000


def q_exact_first_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator ORDER the r13 CC scale note documents (SCALE.md:
    clique-heavy exact-dup input must hit exact_dedup BEFORE near-dup
    clustering): corpus = documents ∪ re-crawl shadows (doc_id % 5 ==
    2, id − 20M, text unchanged), stage 1 = exact survivorship (min id
    per sha2), stage 2 = near-dup clustering over the survivors only.
    One digest shuffle collapses every exact clique; the quadratic
    pair join runs on the deduplicated corpus."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    shadows = docs.filter(F.col("doc_id") % 5 == 2).select(
        (F.col("doc_id") - _EXF_SHADOW).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(shadows)
    keep = exact_dedup(corpus).select(F.col("keep_id").alias("doc_id"))
    survivors = corpus.join(keep, "doc_id", "left_semi")
    return dedup_clusters(survivors, threshold=0.2)


def entry_queries() -> dict[str, Callable]:
    return {
        "dedup_exact": q_exact_dedup,
        "dedup_ngram_jaccard": q_jaccard_pairs,
        "dedup_minhash_lsh": q_minhash_lsh,  # portable md5 family, full oracle
        "dedup_minhash_bucket_cap": q_minhash_bucket_cap,  # hot-bucket drop
        "dedup_simhash": q_simhash,  # portable 60-bit family, full oracle
        # Quality gates for the two rows-only paths above — hash-checked
        # (the pair counts are recomputed by the oracle in SQL).
        "dedup_minhash_quality": lambda spark, sf: minhash_quality(
            _docs(spark, sf)
        ),
        "dedup_simhash_quality": lambda spark, sf: simhash_quality(
            _docs(spark, sf)
        ),
        "dedup_connected_components": q_dedup_clusters,
        "dedup_cc_star": q_dedup_clusters_star,
        "dedup_cc_reliable": q_dedup_clusters_reliable,
        "dedup_decontaminate": q_decontaminate,
        "dedup_duplicate_spans": q_duplicate_spans,
        "dedup_report": q_dedup_report,
        "dedup_remove_spans": q_remove_duplicate_spans,
        "dedup_split_leakage": q_split_leakage,
        "dedup_near_split_leakage": q_near_split_leakage,
        "dedup_best_of_cluster": q_best_of_cluster,
        "dedup_ngram_novelty": q_ngram_novelty,
        "dedup_exact_first_clusters": q_exact_first_clusters,
    }


_SQL_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
_SQL_SHINGLES = f"""
    CASE WHEN len({_SQL_TOKS}) >= {DEFAULT_NGRAM} THEN
        list_distinct(list_transform(range(1, len({_SQL_TOKS}) - {DEFAULT_NGRAM - 2}),
                      i -> array_to_string(({_SQL_TOKS})[i:i+{DEFAULT_NGRAM - 1}], ' ')))
    ELSE [array_to_string({_SQL_TOKS}, ' ')] END
"""


def _portable_banded_cte(
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    src: str = "documents",
) -> str:
    """The hs0/sig/banded0 CTE chain of the portable MinHash-LSH oracle
    (md5 shingle hashes → k lexicographic-min signature rows →
    '|'-joined band keys), parameterized by source relation so the
    incremental-index oracles (operators/incremental.py) replay the
    identical banding over a corpus subset."""
    r = k // bands
    sig_items = ",\n                ".join(
        f"list_min(list_transform(hs, h -> md5('{i}:' || h)))"
        for i in range(k)
    )
    band_items = ",\n                ".join(
        "struct_pack(band := {bi}, bsig := md5({cat}))".format(
            bi=bi,
            cat=" || '|' || ".join(
                f"sig[{bi * r + j + 1}]" for j in range(r)
            ),
        )
        for bi in range(bands)
    )
    return f"""
        hs0 AS (
            SELECT doc_id,
                   list_transform({_SQL_SHINGLES}, s -> md5(s)) AS hs
            FROM {src}
        ),
        sig AS (
            SELECT doc_id, hs, [
                {sig_items}
            ] AS sig FROM hs0
        ),
        banded0 AS (
            SELECT doc_id, u.band AS band, u.bsig AS bsig
            FROM (SELECT doc_id, unnest([
                {band_items}
            ]) AS u FROM sig)
        )"""


def _minhash_lsh_oracle(
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = 0.2,
    max_bucket_size: int | None = None,
) -> str:
    """DuckDB replay of the PORTABLE MinHash-LSH path: same md5 shingle
    hashes, same k lexicographic-min signature rows, same '|'-joined
    band keys, same banded candidate join, same exact-Jaccard
    verification — a full differential oracle for an approximate
    algorithm, possible because the hash family is engine-portable.
    ``max_bucket_size`` replays the engine's hot-bucket drop (buckets
    over the cap excluded before the candidate self-join)."""
    return f"""
        WITH {_portable_banded_cte(k, bands)},
        banded AS (
            SELECT banded0.* FROM banded0
            {"JOIN (SELECT band, bsig FROM banded0 GROUP BY band, bsig"
             f" HAVING COUNT(*) <= {max_bucket_size}) __k USING (band, bsig)"
             if max_bucket_size is not None else ""}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bsig = b.bsig
             AND a.doc_id < b.doc_id
        ),
        v AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(ha.hs, hb.hs)) AS c,
                   len(ha.hs) AS sa, len(hb.hs) AS sb
            FROM cand
            JOIN hs0 ha ON cand.doc_a = ha.doc_id
            JOIN hs0 hb ON cand.doc_b = hb.doc_id
        )
        SELECT doc_a, doc_b,
               {_rs('CAST(c AS DOUBLE) / CAST(sa + sb - c AS DOUBLE)', 6)}
                   AS jaccard
        FROM v
        WHERE CAST(c AS DOUBLE) / CAST(sa + sb - c AS DOUBLE)
              >= {threshold}
    """


def _simhash_oracle(
    bits: int = 60, max_hamming: int = SIMHASH_HAMMING_MAX
) -> str:
    """DuckDB replay of the PORTABLE SimHash path: identical 60-bit
    md5-derived token hashes, per-bit votes, signature assembly, 15-bit
    chunk banding and hamming verification."""
    cw = bits // 4
    mask = (1 << cw) - 1
    votes = ",\n                ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    assemble = " | ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)"
        f" END << {i})"
        for i in range(bits)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS tok
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
            FROM toks
        ),
        votes AS (
            SELECT doc_id,
                {votes}
            FROM h GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id, {assemble} AS simhash FROM votes
        ),
        banded AS (
            SELECT doc_id, simhash, c.chunk AS chunk,
                   (simhash >> (c.chunk * {cw})) & {mask} AS val
            FROM sig CROSS JOIN
                 (SELECT unnest(generate_series(0, 3)) AS chunk) c
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                       AS hamming
            FROM banded a JOIN banded b
              ON a.chunk = b.chunk AND a.val = b.val
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, hamming FROM pairs
        WHERE hamming <= {max_hamming}
    """


def _clusters_oracle() -> str:
    """Full recursive-CTE replay of near-dup clustering over the
    documents table (exact Jaccard pairs at 0.2 -> transitive
    closure -> min label + sizes). Shared by every physical path
    that must land on identical clusters: propagation / star /
    reliable-checkpoint CC AND operators/incremental.py's
    cluster-maintenance entry."""
    return f"""
        WITH RECURSIVE sh AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM common
            JOIN sizes sa ON common.doc_a = sa.doc_id
            JOIN sizes sb ON common.doc_b = sb.doc_id
            WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.2
        ),
        und AS (
            SELECT doc_a AS n, doc_b AS m FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.m, r.label FROM reach r JOIN und e ON r.node = e.n
        ),
        lab AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node
        ),
        sz AS (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM lab GROUP BY cluster_id
        )
        SELECT lab.doc_id, lab.cluster_id, sz.cluster_size,
               lab.doc_id = lab.cluster_id AS is_canonical
        FROM lab JOIN sz USING (cluster_id)
    """


def entry_oracles() -> dict[str, str]:
    exact = """
        SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id,
               COUNT(*) AS dup_count
        FROM documents GROUP BY sha256(text)
    """
    jaccard = f"""
        WITH sh AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               {_rs('CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE)', 6)}
                   AS jaccard
        FROM common
        JOIN sizes sa ON common.doc_a = sa.doc_id
        JOIN sizes sb ON common.doc_b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.2
    """
    # Quality-gate oracles: the pair counts are REAL SQL recomputations
    # (exact Jaccard pairs / text-equality duplicate pairs); the boolean
    # cells state the asserted outcome, so a subset or recall regression
    # in the approximate paths fails the hash match.
    minhash_q = f"""
        WITH sh AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT COUNT(*) AS n_exact_pairs,
               true AS subset_ok, true AS high_recall_ge_80
        FROM common
        JOIN sizes sa ON common.doc_a = sa.doc_id
        JOIN sizes sb ON common.doc_b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.2
    """
    # Span-level exact-substring dedup: same md5-of-window family as
    # the engine (array_to_string == concat_ws for string tokens),
    # islands via the identical pos - row_number() grouping.
    dup_spans = """
        WITH toked AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        wins AS (
            SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
                   md5(array_to_string(t[u.pos:u.pos+7], ' ')) AS h
            FROM (SELECT doc_id, t,
                         unnest(list_transform(range(1, len(t) - 6),
                                i -> struct_pack(pos := i))) AS u
                  FROM toked WHERE len(t) >= 8)
        ),
        dup AS (
            SELECT h FROM wins GROUP BY h
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        hits AS (
            SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS g
            FROM wins JOIN dup USING (h)
        )
        SELECT doc_id, MIN(pos) AS span_start,
               MAX(pos) + 7 AS span_end,
               COUNT(*) AS n_windows
        FROM hits GROUP BY doc_id, g
    """
    simhash_q = """
        SELECT COUNT(*) AS n_exactdup_pairs, true AS all_exactdups_found
        FROM documents a JOIN documents b
          ON a.text = b.text AND a.doc_id < b.doc_id
    """
    # Transitive closure via recursive CTE: labels flow along undirected
    # edges until fixpoint (UNION dedups states, so it terminates); the
    # engine's iterative min-propagation must land on identical clusters.
    clusters = _clusters_oracle()
    # Exact-first funnel: survivors (min id per digest, shadows win via
    # the negative offset) feed the SAME transitive-closure shape the
    # plain clusters oracle uses — over docs2, not documents.
    exact_first = f"""
        WITH RECURSIVE corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id - {_EXF_SHADOW} AS doc_id, text
            FROM documents WHERE doc_id % 5 = 2
        ),
        surv_ids AS (
            SELECT MIN(doc_id) AS doc_id FROM corpus
            GROUP BY sha256(text)
        ),
        docs2 AS (
            SELECT c.doc_id, c.text FROM corpus c
            JOIN surv_ids USING (doc_id)
        ),
        sh AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM docs2
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM common
            JOIN sizes sa ON common.doc_a = sa.doc_id
            JOIN sizes sb ON common.doc_b = sb.doc_id
            WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE)
                  >= 0.2
        ),
        und AS (
            SELECT doc_a AS n, doc_b AS m FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, label) AS (
            SELECT doc_id, doc_id FROM docs2
            UNION
            SELECT e.m, r.label FROM reach r JOIN und e ON r.node = e.n
        ),
        lab AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node
        ),
        sz AS (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM lab GROUP BY cluster_id
        )
        SELECT lab.doc_id, lab.cluster_id, sz.cluster_size,
               lab.doc_id = lab.cluster_id AS is_canonical
        FROM lab JOIN sz USING (cluster_id)
    """
    sh4 = f"""
        CASE WHEN len(tk) >= 4 THEN
            list_distinct(list_transform(range(1, len(tk) - 2),
                          i -> array_to_string(tk[i:i+3], ' ')))
        ELSE [array_to_string(tk, ' ')] END
    """
    decontam = f"""
        WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
        sh AS (SELECT doc_id, unnest({sh4}) AS sh FROM tk),
        t AS (SELECT * FROM sh WHERE doc_id % {DECONTAM_EVAL_MOD} <> 0),
        e AS (SELECT doc_id AS eval_id, sh FROM sh
              WHERE doc_id % {DECONTAM_EVAL_MOD} = 0)
        SELECT t.doc_id, COUNT(*) AS n_shared_ngrams,
               COUNT(DISTINCT e.eval_id) AS n_eval_docs_hit
        FROM t JOIN e USING (sh)
        GROUP BY t.doc_id
    """
    from query_planner_optimizer_spark.operators.sampling import (
        _BUCKET_SQL, BUCKETS,
    )

    # Twin of split_leakage_report: same md5-bucket split assignment as
    # the sample_split_assignments oracle, digests grouped, sorted-
    # unique split list concatenated identically to the engine's
    # array_join(sort_array(collect_set(...))).
    split_leakage = f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {SPLIT_LEAK_SHADOW_OFFSET}, text
            FROM documents
        ),
        assigned AS (
            SELECT sha256(text) AS content_hash,
                   CASE WHEN b < {int(0.8 * BUCKETS)} THEN 'train'
                        WHEN b < {int(0.9 * BUCKETS)} THEN 'val'
                        WHEN b < {BUCKETS} THEN 'test'
                   END AS split
            FROM (SELECT text, {_BUCKET_SQL} AS b FROM corpus)
        )
        SELECT content_hash, COUNT(*) AS n_docs,
               COUNT(DISTINCT split) AS n_splits,
               array_to_string(list_sort(list_distinct(list(split))), ',')
                   AS splits
        FROM assigned GROUP BY content_hash
        HAVING COUNT(DISTINCT split) > 1
    """
    near_split = f"""
        SELECT doc_a, doc_b, jaccard,
               CASE WHEN ba < {int(0.8 * BUCKETS)} THEN 'train'
                    WHEN ba < {int(0.9 * BUCKETS)} THEN 'val'
                    ELSE 'test' END AS split_a,
               CASE WHEN bb < {int(0.8 * BUCKETS)} THEN 'train'
                    WHEN bb < {int(0.9 * BUCKETS)} THEN 'val'
                    ELSE 'test' END AS split_b
        FROM (
            SELECT base.*,
                   CAST(('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 8))
                        AS BIGINT) % {BUCKETS} AS ba,
                   CAST(('0x' || substr(md5(CAST(doc_b AS VARCHAR)), 1, 8))
                        AS BIGINT) % {BUCKETS} AS bb
            FROM ({_minhash_lsh_oracle()}) AS base
        )
        WHERE (ba < {int(0.8 * BUCKETS)}) <> (bb < {int(0.8 * BUCKETS)})
           OR (ba < {int(0.9 * BUCKETS)}) <> (bb < {int(0.9 * BUCKETS)})
    """
    from query_planner_optimizer_spark.operators import text as T

    quality_over_corpus = T.entry_oracles()["text_quality_score"].replace(
        "FROM documents", "FROM corpus")
    best_of_cluster = f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_REP_SHADOW} AS doc_id,
                   text || ' the the the the' AS text
            FROM documents WHERE doc_id % 4 = 0
        ),
        q AS (SELECT * FROM ({quality_over_corpus}))
        SELECT doc_id, doc_id % {_REP_SHADOW} AS cluster_id,
               quality_score,
               row_number() OVER (
                   PARTITION BY doc_id % {_REP_SHADOW}
                   ORDER BY quality_score DESC, doc_id ASC
               ) = 1 AS is_representative
        FROM q ORDER BY doc_id
    """
    novelty = f"""
        WITH ev AS (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh
            FROM documents WHERE doc_id % {NOVELTY_EVAL_MOD} = 0
        ),
        ref AS (
            SELECT DISTINCT unnest({_SQL_SHINGLES}) AS sh
            FROM documents WHERE doc_id % {NOVELTY_EVAL_MOD} <> 0
        )
        SELECT e.doc_id, COUNT(*) AS n_ngrams,
               COUNT(CASE WHEN r.sh IS NULL THEN 1 END) AS n_novel,
               {_rs('''COUNT(CASE WHEN r.sh IS NULL THEN 1 END)
                     / CAST(COUNT(*) AS DOUBLE)''', 6)} AS novelty
        FROM ev e LEFT JOIN ref r ON e.sh = r.sh
        GROUP BY e.doc_id ORDER BY e.doc_id
    """
    return {"dedup_exact": exact, "dedup_ngram_jaccard": jaccard,
            "dedup_best_of_cluster": best_of_cluster,
            "dedup_ngram_novelty": novelty,
            "dedup_split_leakage": split_leakage,
            "dedup_near_split_leakage": near_split,
            "dedup_minhash_lsh": _minhash_lsh_oracle(),
            "dedup_minhash_bucket_cap": _minhash_lsh_oracle(
                max_bucket_size=MINHASH_BUCKET_CAP),
            "dedup_simhash": _simhash_oracle(),
            "dedup_minhash_quality": minhash_q,
            "dedup_simhash_quality": simhash_q,
            "dedup_connected_components": clusters,
            # reliable-checkpoint pins: third path, same answer
            "dedup_cc_reliable": clusters,
            # star-method twin: identical clusters, identical oracle
            "dedup_cc_star": clusters,
            "dedup_exact_first_clusters": exact_first,
            "dedup_decontaminate": decontam,
            "dedup_duplicate_spans": dup_spans,
            "dedup_remove_spans": """
        WITH toked AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        wins AS (
            SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
                   md5(array_to_string(t[u.pos:u.pos+7], ' ')) AS h
            FROM (SELECT doc_id, t,
                         unnest(list_transform(range(1, len(t) - 6),
                                i -> struct_pack(pos := i))) AS u
                  FROM toked WHERE len(t) >= 8)
        ),
        dup AS (
            SELECT h FROM wins GROUP BY h
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        covered AS (
            SELECT DISTINCT doc_id, CAST(pos + j AS BIGINT) AS p
            FROM (SELECT doc_id, pos, unnest(range(0, 8)) AS j
                  FROM wins JOIN dup USING (h))
        ),
        toks AS (
            SELECT doc_id, CAST(u.p AS BIGINT) AS p, t[u.p] AS tok
            FROM (SELECT doc_id, t,
                         unnest(list_transform(range(1, len(t) + 1),
                                i -> struct_pack(p := i))) AS u
                  FROM toked)
        )
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY p) AS text_clean,
               COUNT(*) AS n_tokens_kept
        FROM toks ANTI JOIN covered USING (doc_id, p)
        GROUP BY doc_id
    """,
            "dedup_report": """
        WITH per AS (
            SELECT text, COUNT(*) AS cnt, MAX(length(text)) AS len
            FROM documents GROUP BY text
        )
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs,
               COUNT(*) AS n_distinct,
               CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_docs,
               CAST(SUM(len * cnt) AS BIGINT) AS chars_total,
               CAST(SUM(len * (cnt - 1)) AS BIGINT) AS chars_saved
        FROM per
    """}
