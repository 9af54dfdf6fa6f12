"""Similarity search over the ``embeddings`` table (array<float> column).

- :func:`cosine_topk` — exact brute-force top-k: broadcast the query
  set, score every (query, candidate) pair with built-in array
  expressions (``zip_with`` dot product folded with ``aggregate`` —
  JVM-side, no Python), rank with a per-query window. The correctness
  baseline; cost O(|Q|·N·d).
- :func:`lsh_topk` — random-hyperplane LSH: sign-bit sketch over H
  fixed hyperplanes → candidates share a bucket (equi-join on bucket
  key, multi-probe over P tables) → exact rerank within candidates.
  The 100 TB path: the full corpus is scanned once to sketch, then
  scoring touches only bucket collisions.
- :func:`embedding_neardup_pairs` — cosine near-duplicate pairs
  (sim >= threshold): exact N² self-join baseline, or hyperplane-LSH
  candidates + exact verification for scale.
- :func:`ivf_topk` — IVF approximate top-k: coarse k-means cells built
  with Lloyd rounds as DataFrame jobs, queries probe the nprobe nearest
  cells, exact rerank inside probed cells.

Math is done in double on both engines (arrays cast element-wise), with
sequential left-to-right folds, so Spark and the DuckDB oracle
(``list_dot_product`` over ``DOUBLE[]``) agree bit-for-bit; outputs
round similarity to 6 dp.
"""

from __future__ import annotations

import json
import math
import os
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from query_planner_optimizer_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up as _rs,
)
from query_planner_optimizer_spark.functions.vector import as_double_array, dot
from query_planner_optimizer_spark.operators import indexstore

DEFAULT_K = 10
DEFAULT_NUM_QUERIES = 20
LSH_PLANES = 6
LSH_TABLES = 8


_as_double = as_double_array
_dot = dot


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return df.withColumn("_vec", v).withColumn("_norm", F.sqrt(_dot(v, v)))


def cosine_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
) -> DataFrame:
    """Exact cosine top-k neighbors for the first ``num_queries`` ids.

    Plan: the (tiny) query side is broadcast — the corpus is scanned
    exactly once with no shuffle of the corpus itself; ranking shuffles
    only |Q|·N scored (id, id, double) rows, and the per-query window
    is a partial top-k under AQE.
    """
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("nid"), "_vec", F.col("_norm").alias("n_norm")
    )
    qs = (
        with_norm(df, vec_col)
        .filter(F.col(id_col) < num_queries)
        .select(F.col(id_col).alias("qid"), F.col("_vec").alias("q_vec"),
                F.col("_norm").alias("q_norm"))
    )
    scored = (
        base.join(F.broadcast(qs), F.col("qid") != F.col("nid"))
        .withColumn("sim", _dot(F.col("q_vec"), F.col("_vec"))
                    / (F.col("q_norm") * F.col("n_norm")))
        .select("qid", "nid", "sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", round_half_up(F.col("sim"), 6).alias("sim"))
    )


def _hyperplanes(dim: int, planes: int, tables: int) -> list[list[list[float]]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG —
    reproducible across machines, no numpy state)."""
    state = 0x2545F4914F6CDD1D
    out = []

    def rnd() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        # uniform in (-1, 1)
        return ((state >> 11) / float(1 << 53)) * 2.0 - 1.0

    for _ in range(tables):
        tbl = []
        for _ in range(planes):
            v = [rnd() for _ in range(dim)]
            norm = math.sqrt(sum(x * x for x in v)) or 1.0
            tbl.append([x / norm for x in v])
        out.append(tbl)
    return out


def lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
    planes: int = LSH_PLANES,
    tables: int = LSH_TABLES,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Each vector gets ``tables`` bucket keys (one per hash table); a
    candidate is any corpus vector sharing a bucket with the query in
    any table. Exact cosine reranks candidates. Returns
    (qid, nid, rank, sim) like :func:`cosine_topk` (possibly fewer than
    k rows per query — recall < 1 is the accepted trade).
    """
    hp = _hyperplanes(dim, planes, tables)
    base = with_norm(df, vec_col)

    def bucket(table_idx: int) -> Column:
        bits = []
        for p_idx in range(planes):
            plane = F.array(*[F.lit(x) for x in hp[table_idx][p_idx]])
            bits.append(
                F.when(_dot(F.col("_vec"), plane) >= 0, F.lit(1)).otherwise(F.lit(0))
                * F.lit(1 << p_idx)
            )
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        return acc

    buckets = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), bucket(t).alias("bkt"))
            for t in range(tables)
        ]
    )
    sketched = base.select(
        F.col(id_col).alias("id"), "_vec", "_norm",
        F.explode(buckets).alias("b"),
    ).select("id", "_vec", "_norm",
             F.col("b.tbl").alias("tbl"), F.col("b.bkt").alias("bkt"))

    qs = sketched.filter(F.col("id") < num_queries).select(
        F.col("id").alias("qid"), F.col("_vec").alias("q_vec"),
        F.col("_norm").alias("q_norm"), "tbl", "bkt",
    )
    cand = (
        sketched.join(F.broadcast(qs), ["tbl", "bkt"])
        .filter(F.col("qid") != F.col("id"))
        .select("qid", "q_vec", "q_norm",
                F.col("id").alias("nid"), "_vec", "_norm")
        .dropDuplicates(["qid", "nid"])
    )
    scored = cand.withColumn(
        "sim", _dot(F.col("q_vec"), F.col("_vec")) / (F.col("q_norm") * F.col("_norm"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", round_half_up(F.col("sim"), 6).alias("sim"))
    )


#: Probe-budget guard for multiprobe LSH: the Hamming-ball fan-out is
#: 1 + planes + C(planes, 2) at flips=2 — quadratic in planes. The cap
#: turns an accidental wide-sketch + flips=2 combination into a loud
#: error instead of a silently exploded probe join.
MULTIPROBE_MAX_PROBES = 64


def lsh_multiprobe_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
    planes: int = LSH_PLANES,
    tables: int = LSH_TABLES,
    flips: int = 1,
    max_probes: int = MULTIPROBE_MAX_PROBES,
) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al., VLDB 2007): each query
    probes its OWN bucket plus every bucket at Hamming distance ≤
    ``flips`` of its key, per table — for sign-bit sketches the
    nearest-miss buckets are exactly the one-bit flips (a neighbor
    whose dot product with one hyperplane straddles zero lands there).
    Buys recall WITHOUT more tables: the corpus is sketched once
    (identical map-side cost and index size as :func:`lsh_topk`); only
    the tiny query side fans out. Probing is still a pure equi-join on
    (tbl, bkt) — never a distance scan.

    ``flips=1`` (default): 1 + planes probes per (query, table);
    ``flips=2`` adds the planes-choose-2 two-bit flips (the next ring
    of nearest-miss buckets) — 1 + planes + C(planes, 2) probes. The
    probe set is the full Hamming ball (no per-probe boundary-distance
    scoring as in full QD-probing — at sign-sketch sizes the whole
    ring is affordable), guarded by ``max_probes``: a (planes, flips)
    combination whose per-(query, table) fan-out exceeds it raises
    loudly instead of silently exploding the probe join. Candidates at
    ``flips=2`` are a strict superset of ``flips=1``'s, which are a
    strict superset of single-probe's (the smaller rings are always
    probed), so recall is monotone in ``flips`` — asserted, not
    assumed, by :func:`multiprobe_recall_summary` and the flips=2
    pytest. Exact rerank, same output shape.
    """
    if flips not in (1, 2):
        raise ValueError("flips must be 1 or 2 (Hamming-ball probing)")
    n_probes = 1 + planes + (planes * (planes - 1) // 2 if flips == 2
                             else 0)
    if n_probes > max_probes:
        raise ValueError(
            f"probe fan-out {n_probes} per (query, table) exceeds "
            f"max_probes={max_probes} (planes={planes}, flips={flips}); "
            f"lower flips/planes or raise max_probes explicitly"
        )
    hp = _hyperplanes(dim, planes, tables)
    base = with_norm(df, vec_col)

    def bucket(table_idx: int) -> Column:
        bits = []
        for p_idx in range(planes):
            plane = F.array(*[F.lit(x) for x in hp[table_idx][p_idx]])
            bits.append(
                F.when(_dot(F.col("_vec"), plane) >= 0, F.lit(1)).otherwise(F.lit(0))
                * F.lit(1 << p_idx)
            )
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        return acc

    buckets = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), bucket(t).alias("bkt"))
            for t in range(tables)
        ]
    )
    sketched = base.select(
        F.col(id_col).alias("id"), "_vec", "_norm",
        F.explode(buckets).alias("b"),
    ).select("id", "_vec", "_norm",
             F.col("b.tbl").alias("tbl"), F.col("b.bkt").alias("bkt"))

    # Query-side fan-out: own key + every ≤flips-bit flip of it.
    flip_masks = [1 << p for p in range(planes)]
    if flips == 2:
        flip_masks += [
            (1 << p) | (1 << q)
            for p in range(planes) for q in range(p + 1, planes)
        ]
    probe_keys = F.array(
        F.col("bkt"),
        *[F.col("bkt").bitwiseXOR(F.lit(m)) for m in flip_masks],
    )
    qs = (
        sketched.filter(F.col("id") < num_queries)
        .select(
            F.col("id").alias("qid"), F.col("_vec").alias("q_vec"),
            F.col("_norm").alias("q_norm"), "tbl",
            F.explode(probe_keys).alias("bkt"),
        )
    )
    cand = (
        sketched.join(F.broadcast(qs), ["tbl", "bkt"])
        .filter(F.col("qid") != F.col("id"))
        .select("qid", "q_vec", "q_norm",
                F.col("id").alias("nid"), "_vec", "_norm")
        .dropDuplicates(["qid", "nid"])
    )
    scored = cand.withColumn(
        "sim", _dot(F.col("q_vec"), F.col("_vec")) / (F.col("q_norm") * F.col("_norm"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", round_half_up(F.col("sim"), 6).alias("sim"))
    )


#: Multiprobe bounds (measured: avg 0.860/0.845, min 0.500/0.600 at
#: sf0.001/sf0.01 — vs single-probe avg 0.375/0.305, min 0.0/0.0: the
#: 1-bit flips more than double average recall at identical index size
#: and corpus-side cost. Min bound kept a notch under the tightest
#: observed value; the ≥-single-probe column is structural, not a
#: bound).
MULTIPROBE_RECALL_AVG_BOUND = 0.80
MULTIPROBE_RECALL_MIN_BOUND = 0.40


def multiprobe_recall_summary(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
) -> DataFrame:
    """One-row quantified recall-vs-cost gate for the multiprobe path
    (the sim_ivf_recall scheme): per-query recall against exact
    brute-force truth for BOTH the single-probe and multiprobe sketch,
    reduced to hash-checkable booleans — multiprobe must clear its
    (higher) bounds AND dominate single-probe on average. A recall
    regression (wrong flip keys, broken fan-out) fails the driver's
    hash instead of hiding behind a rows-only check."""
    exact = cosine_topk(df, id_col, vec_col, k=k, num_queries=num_queries)
    single = lsh_topk(df, id_col, vec_col, k=k, num_queries=num_queries)
    multi = lsh_multiprobe_topk(
        df, id_col, vec_col, k=k, num_queries=num_queries)
    truth = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("k_eff"))

    def per_q(approx: DataFrame, name: str) -> DataFrame:
        hits = (
            exact.select("qid", "nid")
            .join(approx.select("qid", "nid"), ["qid", "nid"])
            .groupBy("qid").agg(F.count(F.lit(1)).alias("hit"))
        )
        return truth.join(hits, "qid", "left").select(
            "qid",
            (F.coalesce(F.col("hit"), F.lit(0)) / F.col("k_eff"))
            .alias(name),
        )

    both = per_q(single, "r_single").join(per_q(multi, "r_multi"), "qid")
    return both.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg("r_multi") >= MULTIPROBE_RECALL_AVG_BOUND)
        .alias("avg_recall_ge_80"),
        (F.min("r_multi") >= MULTIPROBE_RECALL_MIN_BOUND)
        .alias("min_recall_ge_40"),
        (F.avg("r_multi") >= F.avg("r_single"))
        .alias("multi_ge_single_avg"),
    )


NEARDUP_THRESHOLD = 0.4
NEARDUP_PLANES = 4
NEARDUP_TABLES = 12


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = NEARDUP_THRESHOLD,
    use_lsh: bool = False,
    planes: int = NEARDUP_PLANES,
    tables: int = NEARDUP_TABLES,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) with
    ``sim >= threshold`` and id_a < id_b.

    Two plans:

    - exact (default): normalized self-join scoring all N²/2 pairs —
      the correctness baseline (DuckDB-oracle-checkable), quadratic by
      construction.
    - ``use_lsh=True``: random-hyperplane sketch (fewer planes + more
      tables than the top-k sketch — tuned for recall at moderate
      thresholds, P(collide) = (1-θ/π)^planes per table); candidates
      share a bucket in any table, then exact cosine verifies. The
      100 TB path: shuffle carries (id, bucket) rows and candidate
      pairs, never the N² cross product.

    Regime note: LSH pruning power is threshold-dependent. The driver
    corpus is near-random (max pairwise sim ≈ 0.5), forcing the default
    threshold down to 0.4 where 4-plane buckets stay coarse and the
    candidate set is a large fraction of N² — on that data this path
    demonstrates correctness, not speed. On a real near-dup corpus
    (threshold ≥ 0.85, θ ≤ 32°) the same code with planes=8/tables=12
    prunes >99% of pairs; pick planes ≈ log2(N/avg_bucket_occupancy).
    """
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm"
    )
    if not use_lsh:
        a = base.select(F.col("id").alias("id_a"), F.col("_vec").alias("va"),
                        F.col("_norm").alias("na"))
        b = base.select(F.col("id").alias("id_b"), F.col("_vec").alias("vb"),
                        F.col("_norm").alias("nb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        hp = _hyperplanes(dim, planes, tables)

        def bucket(t: int) -> Column:
            bits = []
            for p_idx in range(planes):
                plane = F.array(*[F.lit(x) for x in hp[t][p_idx]])
                bits.append(
                    F.when(_dot(F.col("_vec"), plane) >= 0, F.lit(1))
                    .otherwise(F.lit(0)) * F.lit(1 << p_idx)
                )
            acc = bits[0]
            for bb in bits[1:]:
                acc = acc + bb
            return acc

        buckets = F.array(
            *[F.struct(F.lit(t).alias("tbl"), bucket(t).alias("bkt"))
              for t in range(tables)]
        )
        # The band join shuffles ONLY (id, tbl, bkt) — never vectors.
        # Wide rows through a sort-merge join are the scale killer: a
        # coarse-bucket regime produces O(candidate-pairs) rows, and at
        # 64 doubles per side that's ~1 KB per candidate sorted and
        # spilled (measured: Java-heap OOM at sf0.1 under local[32]).
        # Slim candidates dedup FIRST (multi-table collisions collapse),
        # then vectors re-attach by id — two joins keyed on the N-row
        # base, AQE-broadcastable when the base is small.
        sk = base.select("id", F.explode(buckets).alias("b")).select(
            "id", F.col("b.tbl").alias("tbl"), F.col("b.bkt").alias("bkt"))
        a, b = sk.alias("a"), sk.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.bkt") == F.col("b.bkt"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        va = base.select(F.col("id").alias("id_a"),
                         F.col("_vec").alias("va"),
                         F.col("_norm").alias("na"))
        vb = base.select(F.col("id").alias("id_b"),
                         F.col("_vec").alias("vb"),
                         F.col("_norm").alias("nb"))
        pairs = cand.join(va, "id_a").join(vb, "id_b")
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= F.lit(threshold))
        .select("id_a", "id_b", round_half_up(F.col("sim"), 6).alias("sim"))
    )


IVF_NLIST = 16
IVF_NPROBE = 4
IVF_ITERS = 2


def _centroid_norm(c: list[float]) -> float:
    """The one definition of a centroid's norm (zero-norm → sentinel
    1.0), shared by the row-frame and packed-matrix constructors so the
    two scoring paths divide by identical values."""
    return math.sqrt(sum(x * x for x in c)) or 1.0


def _centroid_frame(spark: SparkSession,
                    cents: list[list[float]]) -> DataFrame:
    rows = []
    for ci, c in enumerate(cents):
        rows.append((ci, [float(x) for x in c], _centroid_norm(c)))
    return spark.createDataFrame(
        rows, "cell int, c_vec array<double>, c_norm double"
    )


def _centroid_matrix_frame(spark: SparkSession,
                           cents: list[list[float]]) -> DataFrame:
    """The centroid matrix PACKED into one row (``__cmat`` nlist×dim,
    ``__cnorms`` nlist) — the broadcast shape the in-row argmax fold
    indexes with ``element_at`` (r16; same values as
    :func:`_centroid_frame`, row-per-cell, used by the rank path)."""
    return spark.createDataFrame(
        [([[float(x) for x in c] for c in cents],
          [_centroid_norm(c) for c in cents])],
        "__cmat array<array<double>>, __cnorms array<double>",
    )


def _csim_guarded(vec: Column, norm: Column, c_vec: Column,
                  c_norm: Column) -> Column:
    """The single cosine-to-centroid definition every scoring path
    uses (see :func:`_cell_scored` for the zero-norm rationale)."""
    return F.when((norm > 0) & (c_norm > 0),
                  _dot(vec, c_vec) / (norm * c_norm)).otherwise(F.lit(0.0))


def _cell_scored(side: DataFrame, cents: list[list[float]]) -> DataFrame:
    """side × centroids with the cosine similarity as ``csim``. The
    similarity formula itself lives in :func:`_csim_guarded` — the
    single definition this rank path AND the in-row argmax path
    (:func:`_assigned_cells`, used by the index builder and the shard
    append) score with, so a formula change applies everywhere
    identically. The zero-norm guard maps a
    degenerate (all-zero) vector to csim 0.0 instead of NaN (Spark's
    non-ANSI 0.0/0.0): NaN would sort LARGEST under the rank window
    but last under the min-struct argmin, and the two argmax spellings
    must agree on every input. The guard covers the FULL denominator:
    ``_centroid_frame`` already maps a zero-norm centroid to c_norm
    1.0, but that is a constructor convention — guarding c_norm here
    too keeps the no-NaN invariant local to the one expression that
    divides, surviving any future centroid source that skips the
    constructor (e.g. centroids read back from a persisted index)."""
    sim = _csim_guarded(F.col("_vec"), F.col("_norm"),
                        F.col("c_vec"), F.col("c_norm"))
    return (side.join(F.broadcast(_centroid_frame(side.sparkSession,
                                                  cents)))
            .withColumn("csim", sim))


def _scored_cells(side: DataFrame, cents: list[list[float]]) -> DataFrame:
    """_cell_scored with a per-id rank (1 = best). Deterministic
    tie-break toward the lower cell id."""
    w = Window.partitionBy("id").orderBy(
        F.col("csim").desc(), F.col("cell").asc()
    )
    return _cell_scored(side, cents).withColumn(
        "crank", F.row_number().over(w))


def _assigned_cells(side: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Per-id BEST cell — the argmax computed IN-ROW (r16): score the
    row against the packed broadcast centroid matrix with one
    ``array_min`` over per-cell ``struct(-csim, cell)`` entries and
    keep the winner's cell. No shuffle at all: assignment is per-row
    math, and the previous shape (r8: nlist-way broadcast-join fan-out
    + min-struct partial/final aggregation) still paid one full
    exchange of ``(id, struct(_vec, …))`` rows per assignment job
    because the final HashAggregate demanded hashpartitioning(id) —
    even though every id's fan-out rows already sat in one partition
    (guide §2.4 "remove shuffles outright"; at corpus scale that
    exchange carried the vectors themselves). Each Lloyd round and
    every index build/append encode drops that exchange.

    Equivalence to the min-struct form: csim per (id, cell) is the
    SAME expression over the SAME Python-float centroid values
    (``_csim_guarded`` + ``_centroid_norm`` are shared definitions, and
    ``_dot``'s left-to-right fold is unchanged), and
    ``array_min(struct(ncsim, cell))`` uses the identical struct
    ordering the aggregate used — including the -0.0 = 0.0 and
    NaN-sorts-largest normalizations (a NaN csim remains impossible:
    the guarded division maps zero-norm vectors to 0.0). Cells are
    distinct within a row, so the (ncsim, cell) order is total and the
    pick is bit-identical."""
    nlist = len(cents)
    one = _centroid_matrix_frame(side.sparkSession, cents)

    def entry(i: Column) -> Column:
        cv = F.element_at(F.col("__cmat"), i + 1)
        cn = F.element_at(F.col("__cnorms"), i + 1)
        csim = _csim_guarded(F.col("_vec"), F.col("_norm"), cv, cn)
        return F.struct((-csim).alias("ncsim"), i.cast("int").alias("cell"))

    best = F.array_min(
        F.transform(F.sequence(F.lit(0), F.lit(nlist - 1)), entry))
    return (
        side.crossJoin(F.broadcast(one))
        .select("id", "_vec", "_norm", best["cell"].alias("cell"))
    )


def _train_ivf_centroids(base: DataFrame, dim: int, nlist: int,
                         iters: int) -> list[list[float]]:
    """``iters`` Lloyd rounds as DataFrame jobs; only the nlist×dim
    centroid matrix ever reaches the driver (bounded collects)."""
    seed_rows = base.orderBy("id").limit(nlist).collect()
    centroids = [list(r["_vec"]) for r in seed_rows]
    for _ in range(iters):
        assigned = _assigned_cells(base, centroids)
        dims = [
            F.avg(F.element_at(F.col("_vec"), i + 1)).alias(f"d{i}")
            for i in range(dim)
        ]
        rows = assigned.groupBy("cell").agg(*dims).collect()
        for r in rows:
            centroids[r["cell"]] = [r[f"d{i}"] for i in range(dim)]
    return centroids


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    iters: int = IVF_ITERS,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse k-means cells +
    per-query probing of the ``nprobe`` nearest cells.

    Index build = ``iters`` Lloyd rounds run as DataFrame jobs: the
    centroid matrix is a BROADCAST DataFrame (nlist rows), assignment is
    a broadcast join + per-id top-1 window — small reusable plans, not
    nlist×dim literal expression trees, which dominate analysis time.
    Only the nlist×dim centroid matrix ever reaches the driver (same
    driver/executor split as Spark ML KMeans). Search: queries take
    their ``nprobe`` best cells from the same scored join, equi-join
    corpus on cell, exact rerank, per-query window top-k. With
    ``nprobe == nlist`` this degenerates to exact brute force (tested
    invariant); recall < 1 otherwise is the accepted trade.
    """
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm"
    ).persist()

    centroids = _train_ivf_centroids(base, dim, nlist, iters)
    corpus = _assigned_cells(base, centroids)

    probes = (
        _scored_cells(base.filter(F.col("id") < num_queries), centroids)
        .filter(F.col("crank") <= nprobe)
        .select(F.col("id").alias("qid"), F.col("_vec").alias("q_vec"),
                F.col("_norm").alias("q_norm"), "cell")
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("qid") != F.col("id"))
        .withColumn(
            "sim",
            _dot(F.col("q_vec"), F.col("_vec")) / (F.col("q_norm") * F.col("_norm")),
        )
        .select("qid", F.col("id").alias("nid"), "sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", round_half_up(F.col("sim"), 6).alias("sim"))
    )


def ann_paths(index_dir: str) -> tuple[str, str]:
    """Resolve the live (centroids, postings) dataset paths through the
    ``CURRENT`` version pointer, completing any torn append first.
    Maintenance jobs (:func:`retrain_ann_index`) publish a complete NEW
    version and flip the pointer atomically — readers see either the
    old index or the new one, never centroids from one generation
    paired with postings from another (operators/indexstore.py holds
    the crash and concurrency contract)."""
    vdir = indexstore.live_version_dir(index_dir)
    return os.path.join(vdir, "centroids"), os.path.join(vdir, "postings")


def _write_ann_version(
    spark: SparkSession,
    base: DataFrame,
    cents: list[list[float]],
    index_dir: str,
) -> str:
    """Write one complete index version (centroids + cell-partitioned
    postings) under a fresh version dir; caller flips ``CURRENT``.
    ``partitionBy("cell")`` is the probe-pruning layout: a query batch
    probing ``nprobe`` of ``nlist`` cells reads ~nprobe/nlist of the
    postings bytes (PartitionFilters on the parquet scan, plan-audited
    in tests) instead of every posting."""
    vdir = indexstore.new_version_dir(index_dir)
    _centroid_frame(spark, cents).write.mode("overwrite").parquet(
        os.path.join(vdir, "centroids"))
    (
        _assigned_cells(base, cents)
        .select("cell", "id", "_vec", "_norm")
        .repartition("cell").sortWithinPartitions("id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(os.path.join(vdir, "postings"))
    )
    return vdir


def build_ann_index(
    df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nlist: int = IVF_NLIST,
    iters: int = IVF_ITERS,
) -> None:
    """Persist an IVF index: ``centroids/`` (cell, c_vec, c_norm —
    nlist rows) and ``postings/`` (id, _vec, _norm) PARTITIONED BY
    cell, both under a version dir published via the ``CURRENT``
    pointer (see :func:`ann_paths`). The incremental twin of
    operators/incremental.py's dedup index: train once over the
    corpus, then every future shard APPENDS assignments
    (:func:`append_to_ann_index`) without re-training or re-reading
    the corpus, and queries probe the persisted postings
    (:func:`ann_index_topk`) reading only the probed cells' partitions.
    Postings carry the vectors (needed for exact rerank) — index size
    ≈ the embedding table itself, the standard IVF trade."""
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm"
    ).persist()
    try:
        cents = _train_ivf_centroids(base, dim, nlist, iters)
        vdir = _write_ann_version(df.sparkSession, base, cents, index_dir)
    finally:
        base.unpersist()
    indexstore.publish_version(index_dir, vdir)


#: Per-process memo of collected centroid matrices, keyed on the
#: VERSION-dir centroids path (r15): centroids are immutable once a
#: version is published — appends freeze them, rebuilds/retrains write
#: a fresh ``v_<uuid>`` dir — so the key can never alias two different
#: matrices, and a CURRENT flip changes the key. This is serving-index
#: state (what a real ANN server holds resident), not query-result
#: caching; each entry is nlist×dim doubles (~8 KB at the defaults).
#: r16 (ADVICE): LRU-bounded — entries for version dirs deleted by
#: ``indexstore.publish_version`` otherwise linger forever in a
#: long-lived serving process that cycles retrain/compaction versions.
_CENTROID_CACHE: "OrderedDict[str, list[list[float]]]" = OrderedDict()
_CENTROID_CACHE_CAP = 16


def _read_centroids(spark: SparkSession, index_dir: str) -> list[list[float]]:
    # Bounded collect: nlist rows (same class as the training seeds).
    # Centroids never change inside a version, so no repair is needed.
    cents_path = os.path.join(indexstore.current_version_dir(index_dir),
                              "centroids")
    key = os.path.abspath(cents_path)
    hit = _CENTROID_CACHE.get(key)
    if hit is not None:
        _CENTROID_CACHE.move_to_end(key)
        return hit
    rows = spark.read.parquet(cents_path).orderBy("cell").collect()
    cents = [list(r["c_vec"]) for r in rows]
    _CENTROID_CACHE[key] = cents
    while len(_CENTROID_CACHE) > _CENTROID_CACHE_CAP:
        _CENTROID_CACHE.popitem(last=False)
    return cents


def append_to_ann_index(
    spark: SparkSession,
    shard: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign a NEW shard's vectors to the EXISTING centroids (no
    re-train — the standard daily-ingest move; centroid drift is
    accepted until a periodic full rebuild) and append the postings
    into the current version's cell partitions through the staged
    append (a crash mid-write never serves a partial shard). Work is
    shard-proportional: the corpus postings are never read."""
    vdir = indexstore.live_version_dir(index_dir)
    cents = _read_centroids(spark, index_dir)
    base = with_norm(shard, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm"
    )
    posts = _assigned_cells(base, cents).select("cell", "id", "_vec", "_norm")
    indexstore.staged_append(
        vdir,
        lambda stg_root: posts.write.mode("overwrite").partitionBy("cell")
        .parquet(os.path.join(stg_root, "postings")),
        ("postings",))


def ann_index_topk(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Top-k over the persisted postings for an arbitrary query frame:
    score queries against the stored centroids (broadcast, nlist
    rows), take each query's ``nprobe`` best cells, equi-join postings
    on cell, exact rerank, per-query window top-k. With ``nprobe ==
    nlist`` (full probe) the result is EXACTLY brute-force cosine
    top-k over every indexed vector — the invariant the driver entry's
    oracle states across a build + append sequence.

    Probe I/O is PRUNED to the probed cells: postings are partitioned
    by cell, and the union of the batch's probed cells (a bounded
    collect — at most nlist values, the same class as the centroid
    pull) is pushed as a partition filter on the scan, so a
    nprobe/nlist probe reads ~nprobe/nlist of the postings bytes
    instead of the whole index (plan-audited in tests)."""
    cents = _read_centroids(spark, index_dir)
    qs = with_norm(queries, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm"
    )
    probes = (
        _scored_cells(qs, cents)
        .filter(F.col("crank") <= nprobe)
        .select(F.col("id").alias("qid"), F.col("_vec").alias("q_vec"),
                F.col("_norm").alias("q_norm"), "cell")
    )
    # Bounded collect (≤ nlist values after distinct): the probed-cell
    # manifest that partition-prunes the postings scan.
    probed_cells = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect())
    _, posts_path = ann_paths(index_dir)
    postings = spark.read.parquet(posts_path).filter(
        F.col("cell").isin(probed_cells))
    scored = (
        postings.join(F.broadcast(probes), "cell")
        .filter(F.col("qid") != F.col("id"))
        .withColumn(
            "sim",
            _dot(F.col("q_vec"), F.col("_vec"))
            / (F.col("q_norm") * F.col("_norm")),
        )
        .select("qid", F.col("id").alias("nid"), "sim")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank",
                round_half_up(F.col("sim"), 6).alias("sim"))
    )


def compact_ann_index(spark: SparkSession, index_dir: str) -> None:
    """Parquet maintenance for an append-grown flat index: daily
    appends land one file set per touched cell partition; compaction
    rewrites the live version into a FRESH version dir (postings
    re-clustered one task per cell) and publishes it with the same
    atomic CURRENT flip as a rebuild — versioning makes it trivially
    crash-safe (an interrupted compaction leaves an unreferenced
    ``v_*`` dir; the live version is untouched). Centroids are copied
    unchanged: compaction is layout-only, never a retrain (that is
    :func:`retrain_ann_index`'s job). Probe equality before/after is
    pinned in tests."""
    cents_path, posts_path = ann_paths(index_dir)
    vdir = indexstore.new_version_dir(index_dir)
    spark.read.parquet(cents_path).coalesce(1).write.mode(
        "overwrite").parquet(os.path.join(vdir, "centroids"))
    (
        spark.read.parquet(posts_path)
        .repartition("cell").sortWithinPartitions("id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(os.path.join(vdir, "postings"))
    )
    indexstore.publish_version(index_dir, vdir)


def retrain_ann_index(
    spark: SparkSession,
    index_dir: str,
    dim: int = 64,
    nlist: int = IVF_NLIST,
    iters: int = IVF_ITERS,
) -> None:
    """Periodic index maintenance: re-train centroids over EVERYTHING
    currently indexed (original corpus + every appended shard) and
    re-assign all postings — the job that repairs centroid drift after
    many frozen-centroid appends.

    Crash-ATOMIC across both datasets: the new centroids AND the new
    postings are written completely under a fresh version dir, then
    ``CURRENT`` is flipped with one ``os.replace`` — a crash anywhere
    leaves the pointer at a complete old version or a complete new
    one, never new centroids paired with postings whose cells came
    from the old centroids. The old version is removed after the flip.
    Full-probe results are INVARIANT under retrain (both before and
    after equal brute force over the same vectors — pinned in pytest);
    what changes is pruned-probe quality, which is the point."""
    _, posts_path = ann_paths(index_dir)
    base = spark.read.parquet(posts_path).select(
        "id", "_vec", "_norm").persist()
    try:
        cents = _train_ivf_centroids(base, dim, nlist, iters)
        vdir = _write_ann_version(spark, base, cents, index_dir)
    finally:
        base.unpersist()
    indexstore.publish_version(index_dir, vdir)


PQ_M = 8        #: subspaces (dim 64 → 8 dims per subvector)
PQ_KS = 32      #: codes per subspace codebook (5-bit codes)
PQ_ITERS = 2    #: Lloyd rounds per subspace
PQ_SHORTLIST = 100  #: ADC candidates per query re-ranked exactly


def _pq_subvectors(unit: DataFrame, m: int, d_sub: int) -> DataFrame:
    """(id, s, sv): each unit vector split into its m subvectors —
    map-side explode, shared by PQ training, query LUTs, and both the
    flat-PQ and IVF-PQ search paths."""
    return unit.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("s"),
                     F.slice("u", s * d_sub + 1, d_sub).alias("sv"))
            for s in range(m)
        ])).alias("p"),
    ).select("id", "p.s", "p.sv")


def _pq_train_books(
    spark: SparkSession,
    unit: DataFrame,
    sub: DataFrame,
    m: int,
    ks: int,
    d_sub: int,
    iters: int,
) -> tuple[DataFrame, DataFrame, int]:
    """Lloyd-train the per-subspace codebooks and return
    (books_frame, codes, n_codes): the broadcastable (s, code, c_vec,
    c_n2) codebook frame, the final corpus assignments (id, s, code)
    and the codes per subspace actually trained. Factored out of
    :func:`pq_topk` so IVF-PQ composes the exact same training
    (byte-identical codebooks for identical inputs)."""
    seeds = unit.orderBy("id").limit(ks).collect()
    # A corpus smaller than ks seeds only len(seeds) codes: the code
    # range is bounded by what was seeded (each vector then owns a
    # code), never by codes that were never trained.
    ks = len(seeds)
    if ks == 0:
        raise ValueError("PQ training needs at least one vector")
    books: dict[tuple[int, int], list[float]] = {}
    for j, r in enumerate(seeds):
        u = list(r["u"])
        for s in range(m):
            books[(s, j)] = u[s * d_sub:(s + 1) * d_sub]

    def book_df() -> DataFrame:
        rows = [
            (s, j, [float(x) for x in c],
             float(sum(x * x for x in c)))
            for (s, j), c in books.items()
        ]
        return spark.createDataFrame(
            rows, "s int, code int, c_vec array<double>, c_n2 double")

    def assign() -> DataFrame:
        # |sub|² is constant per (id, s): rank by |c|² − 2·dot alone.
        # r16: the argmin runs IN-ROW against the packed broadcast
        # codebook matrix (array_min over per-code struct(adist, code)
        # entries) — zero shuffle, where the r8 min-struct aggregation
        # still paid one exchange of (id, s, struct(…, sv)) rows per
        # round for its final HashAggregate (guide §2.4; see
        # _assigned_cells for the same argument). adist per code is
        # the identical ``c_n2 − 2·dot`` expression over the identical
        # Python floats book_df() serializes, (adist, code) is a total
        # order (codes distinct, ties impossible), and array_min uses
        # the same struct ordering the aggregate used — pick
        # bit-identical to the r8 form and to the original window.
        one = spark.createDataFrame(
            [([[float(x) for x in books[(s, j)]]
               for s in range(m) for j in range(ks)],
              [float(sum(x * x for x in books[(s, j)]))
               for s in range(m) for j in range(ks)])],
            "__bmat array<array<double>>, __bn2 array<double>")

        def entry(j: Column) -> Column:
            slot = F.col("s") * ks + j + 1
            ad = (F.element_at(F.col("__bn2"), slot)
                  - 2.0 * _dot(F.col("sv"),
                               F.element_at(F.col("__bmat"), slot)))
            return F.struct(ad.alias("adist"), j.cast("int").alias("code"))

        best = F.array_min(
            F.transform(F.sequence(F.lit(0), F.lit(ks - 1)), entry))
        return (
            sub.crossJoin(F.broadcast(one))
            .select("id", "s", best["code"].alias("code"), "sv")
        )

    for _ in range(iters):
        dims = [F.avg(F.element_at(F.col("sv"), i + 1)).alias(f"d{i}")
                for i in range(d_sub)]
        for r in assign().groupBy("s", "code").agg(*dims).collect():
            books[(r["s"], r["code"])] = [r[f"d{i}"] for i in range(d_sub)]

    return book_df(), assign().select("id", "s", "code"), ks


def pq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_M,
    ks: int = PQ_KS,
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
    iters: int = PQ_ITERS,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011): the
    memory-bounded scale path past int8 — each unit vector compresses
    to ``m`` sub-codebook codes (m·log2(ks) bits: 5 bytes/vector here
    vs 256 for float32×64), search is ADC (asymmetric distance: exact
    query subvectors against a per-query lookup table of code
    distances), and the ADC ``shortlist`` re-ranks EXACTLY — the
    standard production shape (IVF-PQ shortlists feeding a rerank).

    Spark-first layout: codebooks are a broadcast frame (m·ks rows —
    the only driver-side collects are the ks seed rows and the m·ks
    centroid updates per Lloyd round); the corpus shuffles only
    ``(id, s, code)`` triples; the LUT (num_queries·m·ks rows)
    broadcasts; exact vectors are fetched ONLY for shortlist members
    (num_queries·shortlist rows). On unit vectors L2² = 2 − 2·cos, and
    the per-query constants Σ|q_s|² drop out of the ranking, so ADC
    scores reduce to Σ_s (|c|² − 2·q_s·c) — cheapest possible form.
    """
    spark = df.sparkSession
    d_sub = dim // m
    if d_sub * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    unit = with_norm(df, vec_col).select(
        F.col(id_col).alias("id"),
        F.transform("_vec", lambda x: x / F.col("_norm")).alias("u"),
    ).persist()
    sub = _pq_subvectors(unit, m, d_sub)
    books, codes, _ = _pq_train_books(spark, unit, sub, m, ks, d_sub, iters)

    # Per-query LUT: partial ADC distance for every (s, code).
    q_sub = sub.filter(F.col("id") < num_queries).select(
        F.col("id").alias("qid"), "s", F.col("sv").alias("qv"))
    lut = (
        q_sub.join(F.broadcast(books), "s")
        .select("qid", "s", "code",
                (F.col("c_n2")
                 - 2.0 * _dot(F.col("qv"), F.col("c_vec"))).alias("pd"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("qid") != F.col("id"))
        .groupBy("qid", "id").agg(F.sum("pd").alias("adist"))
    )
    ws = Window.partitionBy("qid").orderBy(
        F.col("adist").asc(), F.col("id").asc())
    short = (
        adc.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= shortlist)
        .select("qid", "id")
    )

    # Exact rerank of the shortlist only.
    qv = unit.filter(F.col("id") < num_queries).select(
        F.col("id").alias("qid"), F.col("u").alias("q_u"))
    rer = (
        short.join(unit, "id").join(F.broadcast(qv), "qid")
        .withColumn("sim", _dot(F.col("q_u"), F.col("u")))
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("id").asc())
    out = (
        rer.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("id").alias("nid"), "rank",
                round_half_up(F.col("sim"), 6).alias("sim"))
    )
    # The persist served the in-function Lloyd collects; release it so
    # repeated calls in one long-lived session (the 216-entry driver
    # run, scale smokes) don't accumulate cached vector partitions.
    # The returned lazy plan recomputes the cheap scan+normalize
    # lineage instead.
    unit.unpersist(blocking=False)
    return out


#: Bounds for the PQ gate: ADC-shortlist-then-rerank recall on this
#: near-random corpus (the ANN worst case — no cluster structure for
#: the codebooks to exploit). Measured avg 0.78 / min 0.6 at sf0.1
#: with ks=32, shortlist=100; asserted conservatively (codebook
#: training uses float avgs, so recall wiggles slightly run to run).
PQ_RECALL_AVG_BOUND = 0.50
PQ_RECALL_MIN_BOUND = 0.10


def pq_recall_summary(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
) -> DataFrame:
    """One-row quantified-recall assertion for the PQ path, same
    oracle scheme as :func:`ann_recall_summary` / IVF."""
    exact = cosine_topk(df, id_col, vec_col, k=k, num_queries=num_queries)
    approx = pq_topk(df, id_col, vec_col, k=k, num_queries=num_queries)
    hits = (
        exact.select("qid", "nid")
        .join(approx.select("qid", "nid"), ["qid", "nid"])
        .groupBy("qid").agg(F.count(F.lit(1)).alias("hit"))
    )
    per_q = (
        exact.groupBy("qid").agg(F.count(F.lit(1)).alias("k_eff"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            (F.coalesce(F.col("hit"), F.lit(0))
             / F.col("k_eff")).alias("recall"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg("recall") >= PQ_RECALL_AVG_BOUND).alias("avg_recall_ge_50"),
        (F.min("recall") >= PQ_RECALL_MIN_BOUND).alias("min_recall_ge_10"),
    )


#: Broadcast-LUT guard: the per-query ADC LUT has num_queries·m·ks
#: rows (residual variant: ×nprobe). A gate-scale batch broadcasts;
#: a batch whose estimated LUT exceeds this bound takes a shuffled
#: join instead — identical results (broadcast is a strategy hint,
#: not a semantic), no multi-GB broadcast built silently. Default
#: ≈ the rows of a 100k-query batch at m=8, ks=16 — comfortably
#: under spark's 8 GB broadcast-table hard cap at 16 B/row.
MAX_LUT_ROWS = 4_000_000


def _bounded_broadcast(side: DataFrame, est_rows: int,
                       max_rows: int) -> DataFrame:
    """Broadcast only when the estimated row count is within bound;
    above it, return the frame un-hinted so the join shuffles (same
    results, executor-memory-safe). Pinned in tests: both paths
    produce identical top-k."""
    return F.broadcast(side) if est_rows <= max_rows else side


def ivfpq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ks: int = PQ_KS,
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
    ivf_iters: int = IVF_ITERS,
    pq_iters: int = PQ_ITERS,
    shortlist: int = PQ_SHORTLIST,
    residual: bool = False,
    max_lut_rows: int = MAX_LUT_ROWS,
) -> DataFrame:
    """IVF-PQ (Jégou et al., TPAMI 2011 §V): the standard production
    ANN composition — an IVF coarse quantizer prunes the CANDIDATE set
    to the ``nprobe`` probed cells, PQ codes make the scan inside
    those cells memory-bounded (ADC over m small codes instead of
    dim floats), the ADC ``shortlist`` re-ranks exactly. The two
    halves are this module's existing, separately-gated machinery
    composed: :func:`_train_ivf_centroids`/:func:`_assigned_cells`
    for the coarse level, :func:`_pq_train_books` (shared verbatim
    with :func:`pq_topk`) for the codes.

    ``residual=False``: global codebooks over the unit vectors — the
    simpler variant. ``residual=True``: classical IVFADC — PQ encodes
    the COARSE RESIDUAL ``u − ĉ(cell)`` (ĉ = the unit-normalized cell
    centroid; one GLOBAL residual codebook set, as in the paper).
    Residuals concentrate near zero so the same m·ks codes quantize
    them finer, buying shortlist recall at identical code bytes; the
    cost is per-(query, probed-cell) LUTs — num_queries·nprobe·m·ks
    rows — because the query's residual differs in every probed cell.
    Either variant's LUT broadcasts only while its estimated rows stay
    under ``max_lut_rows``; a larger query batch takes a shuffled join
    with identical results (see :data:`MAX_LUT_ROWS`).

    Invariant (pinned in pytest, both variants): ``nprobe == nlist``
    and ``shortlist >= corpus`` degenerates to exact brute-force
    cosine top-k — every pair survives the cell filter, and the exact
    rerank then ranks everything. Pruned configurations are
    quality-gated by :func:`ivfpq_recall_summary`.

    Scale shape: corpus vectors cross the shuffle once for cell
    assignment and once as (id, s, code) triples; the ADC join keys
    candidates (cell-pruned, not all-pairs) against a BROADCAST
    per-query LUT; exact vectors are fetched only for shortlist
    members.
    """
    spark = df.sparkSession
    d_sub = dim // m
    if d_sub * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm").persist()
    unit = base.select(
        "id", F.transform("_vec", lambda x: x / F.col("_norm")).alias("u")
    ).persist()

    cents = _train_ivf_centroids(base, dim, nlist, ivf_iters)
    cells = _assigned_cells(base, cents).select("id", "cell")
    chat = _centroid_frame(spark, cents).select(
        "cell",
        F.transform("c_vec", lambda x: x / F.col("c_norm")).alias("chat"),
    )
    if residual:
        enc_unit = (
            cells.join(unit, "id").join(F.broadcast(chat), "cell")
            .select("id", F.zip_with(
                "u", "chat", lambda a, b: a - b).alias("u"))
        )
    else:
        enc_unit = unit
    sub = _pq_subvectors(enc_unit, m, d_sub)
    books, codes, ks = _pq_train_books(spark, enc_unit, sub, m, ks, d_sub,
                                       pq_iters)

    probes = (
        _scored_cells(base.filter(F.col("id") < num_queries), cents)
        .filter(F.col("crank") <= nprobe)
        .select(F.col("id").alias("qid"), "cell")
    )
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("qid") != F.col("id"))
        .select("qid", "id", "cell")
    )
    if residual:
        # Per-(query, probed-cell) residual subvectors → LUT keyed on
        # (qid, cell, s, code); a corpus code was written under its
        # own cell, which is exactly the cell the candidate join
        # matched on, so the lookup is consistent by construction.
        q_res = (
            probes.join(
                unit.filter(F.col("id") < num_queries)
                .select(F.col("id").alias("qid"), "u"), "qid")
            .join(F.broadcast(chat), "cell")
            .select("qid", "cell", F.zip_with(
                "u", "chat", lambda a, b: a - b).alias("u"))
        )
        q_sub = q_res.select(
            "qid", "cell",
            F.explode(F.array(*[
                F.struct(F.lit(s).alias("s"),
                         F.slice("u", s * d_sub + 1, d_sub).alias("sv"))
                for s in range(m)
            ])).alias("p"),
        ).select("qid", "cell", "p.s", F.col("p.sv").alias("qv"))
        # Unlike the non-residual path, |r_q,s|² must STAY in the ADC
        # term: one query's residual norm differs per probed cell, so
        # dropping it would bias ranking ACROSS cells. With it, adist
        # = Σ_s ||r_s − c_s||² — the true residual-space distance.
        lut = (
            q_sub.join(F.broadcast(books), "s")
            .select("qid", "cell", "s", "code",
                    (F.col("c_n2")
                     - 2.0 * _dot(F.col("qv"), F.col("c_vec"))
                     + _dot(F.col("qv"), F.col("qv")))
                    .alias("pd"))
        )
        lut_keys = ["qid", "cell", "s", "code"]
        lut_est = num_queries * nprobe * m * ks
    else:
        q_sub = sub.filter(F.col("id") < num_queries).select(
            F.col("id").alias("qid"), "s", F.col("sv").alias("qv"))
        lut = (
            q_sub.join(F.broadcast(books), "s")
            .select("qid", "s", "code",
                    (F.col("c_n2")
                     - 2.0 * _dot(F.col("qv"), F.col("c_vec")))
                    .alias("pd"))
        )
        lut_keys = ["qid", "s", "code"]
        lut_est = num_queries * m * ks
    adc = (
        cand.join(codes, "id")
        .join(_bounded_broadcast(lut, lut_est, max_lut_rows), lut_keys)
        .groupBy("qid", "id").agg(F.sum("pd").alias("adist"))
    )
    ws = Window.partitionBy("qid").orderBy(
        F.col("adist").asc(), F.col("id").asc())
    short = (
        adc.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= shortlist)
        .select("qid", "id")
    )
    qv = unit.filter(F.col("id") < num_queries).select(
        F.col("id").alias("qid"), F.col("u").alias("q_u"))
    rer = (
        short.join(unit, "id").join(F.broadcast(qv), "qid")
        .withColumn("sim", _dot(F.col("q_u"), F.col("u")))
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("id").asc())
    out = (
        rer.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("id").alias("nid"), "rank",
                round_half_up(F.col("sim"), 6).alias("sim"))
    )
    # Same cache discipline as pq_topk: the persists served the
    # in-function Lloyd collects; release so repeated calls don't
    # accumulate (the returned lazy plan recomputes the cheap lineage).
    unit.unpersist(blocking=False)
    base.unpersist(blocking=False)
    return out


#: IVF-PQ gate bounds: the composition prunes twice (cells, then ADC
#: shortlist), so its recall sits at or under plain-PQ's. Measured
#: avg 0.815/0.795, min 0.400/0.400 at sf0.001/sf0.01 (pruned config:
#: nprobe=4/16, shortlist=100); asserted conservatively like the
#: PQ/IVF gates (codebooks train on float avgs — recall wiggles).
IVFPQ_RECALL_AVG_BOUND = 0.50
IVFPQ_RECALL_MIN_BOUND = 0.10


def ivfpq_recall_summary(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
) -> DataFrame:
    """One-row quantified-recall assertion for the PRUNED IVF-PQ path
    (nprobe < nlist, bounded shortlist), same oracle scheme as the
    IVF/PQ gates."""
    exact = cosine_topk(df, id_col, vec_col, k=k, num_queries=num_queries)
    approx = ivfpq_topk(df, id_col, vec_col, k=k, num_queries=num_queries)
    hits = (
        exact.select("qid", "nid")
        .join(approx.select("qid", "nid"), ["qid", "nid"])
        .groupBy("qid").agg(F.count(F.lit(1)).alias("hit"))
    )
    per_q = (
        exact.groupBy("qid").agg(F.count(F.lit(1)).alias("k_eff"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            (F.coalesce(F.col("hit"), F.lit(0))
             / F.col("k_eff")).alias("recall"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg("recall") >= IVFPQ_RECALL_AVG_BOUND).alias("avg_recall_ge_50"),
        (F.min("recall") >= IVFPQ_RECALL_MIN_BOUND).alias("min_recall_ge_10"),
    )


# --------------------------------------------------------------------------
# Persisted IVF-PQ index: the production serving artifact. Unlike
# build_ann_index's postings (full vectors — index ≈ the embedding
# table), this index stores only packed PQ codes per vector (~m bytes)
# plus the m·ks codebooks and nlist centroids: 4-30× smaller, the
# layout that actually fits a 100 TB corpus's index in cluster RAM /
# fast storage. Exact rerank REFINES from the source table on the
# shortlist ids only (candidate-proportional fetch — the standard
# "ANN index + feature-store refine" split). Same CURRENT-pointer
# versioning as the flat index (atomic publish); appends encode with
# FROZEN centroids + codebooks (shard-proportional); retrain = rebuild
# from the store, by design (the index carries codes, not vectors).
# --------------------------------------------------------------------------


def _pq_encode(sub: DataFrame, books: DataFrame) -> DataFrame:
    """(id, s, code): nearest-codebook assignment under FROZEN books —
    the append-path twin of the final assignment inside
    :func:`_pq_train_books` (same in-row array_min argmin, same
    ``c_n2 − 2·dot`` scores, same lowest-code tie-break), minus the
    training loop. The codebook frame is collected once (bounded:
    m·ks rows, the same class as ``_read_centroids``) and packed into
    the broadcast matrix the in-row fold indexes — no join, no
    exchange (r16, guide §2.4; see _pq_train_books.assign)."""
    spark = sub.sparkSession
    rows = books.select("s", "code", "c_vec", "c_n2").collect()
    by_slot = {(r["s"], r["code"]): r for r in rows}
    m = 1 + max(r["s"] for r in rows)
    ks = 1 + max(r["code"] for r in rows)
    one = spark.createDataFrame(
        [([[float(x) for x in by_slot[(s, j)]["c_vec"]]
           for s in range(m) for j in range(ks)],
          [float(by_slot[(s, j)]["c_n2"])
           for s in range(m) for j in range(ks)])],
        "__bmat array<array<double>>, __bn2 array<double>")

    def entry(j: Column) -> Column:
        slot = F.col("s") * ks + j + 1
        ad = (F.element_at(F.col("__bn2"), slot)
              - 2.0 * _dot(F.col("sv"),
                           F.element_at(F.col("__bmat"), slot)))
        return F.struct(ad.alias("adist"), j.cast("int").alias("code"))

    best = F.array_min(
        F.transform(F.sequence(F.lit(0), F.lit(ks - 1)), entry))
    return (
        sub.crossJoin(F.broadcast(one))
        .select("id", "s", best["code"].alias("code"))
    )


def _pack_codes(codes: DataFrame) -> DataFrame:
    """(id, codes array<int> ordered by subspace): one row per vector —
    the storage shape (m small ints instead of m rows)."""
    return (
        codes.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "code"))).alias("p"))
        .select("id", F.transform("p", lambda x: x["code"]).alias("codes"))
    )


def _write_ivfpq_version(
    spark: SparkSession,
    cents: list[list[float]],
    books: DataFrame,
    cells: DataFrame,
    packed: DataFrame,
    index_dir: str,
    meta: dict,
) -> str:
    vdir = indexstore.new_version_dir(index_dir)
    # The three datasets land in disjoint subdirs — write the two tiny
    # ones from side threads while the main thread runs the codes job
    # (guide §2.6; versioning makes partial writes invisible until the
    # CURRENT flip).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_c = pool.submit(
            lambda: _centroid_frame(spark, cents).write.mode("overwrite")
            .parquet(os.path.join(vdir, "centroids")))
        f_b = pool.submit(
            lambda: books.write.mode("overwrite")
            .parquet(os.path.join(vdir, "books")))
        (
            cells.join(packed, "id")
            .select("cell", "id", "codes")
            .repartition("cell").sortWithinPartitions("id")
            .write.mode("overwrite").partitionBy("cell")
            .parquet(os.path.join(vdir, "codes"))
        )
        f_c.result()
        f_b.result()
    # META.json lives in the version dir: a rebuild that changes
    # (dim, m, ks, nlist) publishes geometry and codes in the SAME
    # CURRENT flip — no window where new meta decodes old codes.
    indexstore.write_atomic(os.path.join(vdir, "META.json"),
                            json.dumps(meta))
    return vdir


def build_ivfpq_index(
    df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nlist: int = IVF_NLIST,
    m: int = PQ_M,
    ks: int = PQ_KS,
    ivf_iters: int = IVF_ITERS,
    pq_iters: int = PQ_ITERS,
) -> None:
    """Persist the IVF-PQ serving index under a CURRENT-pointer version
    dir: ``centroids/`` (nlist rows), ``books/`` (m·ks codebook rows),
    and ``codes/`` (id, codes array<int>) PARTITIONED BY cell — probes
    partition-prune to the probed cells exactly like the flat index.
    ``META.json`` records (dim, m, ks, nlist) INSIDE the version dir,
    so a geometry-changing rebuild commits meta + codes atomically with
    the one CURRENT flip."""
    spark = df.sparkSession
    d_sub = dim // m
    if d_sub * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm").persist()
    unit = base.select(
        "id", F.transform("_vec", lambda x: x / F.col("_norm")).alias("u")
    ).persist()
    try:
        # r15 (guide §2.6 "overlap independent jobs"): with GLOBAL
        # codebooks the coarse IVF training (over base) and the PQ
        # codebook training (over unit) are independent, deterministic
        # job sequences — run them from two driver threads so each
        # one's job tail back-fills the other's idle executors. Results
        # are identical to the sequential order (both trainings only
        # read their own persisted input and their own driver-side
        # state).
        from concurrent.futures import ThreadPoolExecutor

        sub = _pq_subvectors(unit, m, d_sub)
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_cents = pool.submit(
                _train_ivf_centroids, base, dim, nlist, ivf_iters)
            f_books = pool.submit(
                _pq_train_books, spark, unit, sub, m, ks, d_sub, pq_iters)
            cents = f_cents.result()
            books, codes, ks = f_books.result()
        cells = _assigned_cells(base, cents).select("id", "cell")
        vdir = _write_ivfpq_version(
            spark, cents, books, cells, _pack_codes(codes), index_dir,
            meta={"dim": dim, "m": m, "ks": ks, "nlist": nlist})
    finally:
        unit.unpersist()
        base.unpersist()
    indexstore.publish_version(index_dir, vdir)


def _read_books(spark: SparkSession, vdir: str) -> DataFrame:
    """PQ codebooks of one index VERSION as a reader frame. Books are
    immutable once a version is published (appends encode against
    frozen codebooks; rebuilds write a fresh ``v_<uuid>`` dir), so the
    session-lifetime ``cached_parquet`` frame cache applies — repeat
    probes skip the per-call driver file-listing + schema read
    (r15, guide §5 driver work)."""
    from query_planner_optimizer_spark.catalog import cached_parquet

    return cached_parquet(spark, os.path.join(vdir, "books"))


def _load_ivfpq_meta(index_dir: str) -> dict:
    """META of the CURRENT version dir (meta commits with the codes it
    describes)."""
    with open(os.path.join(indexstore.current_version_dir(index_dir),
                           "META.json")) as f:
        return json.load(f)


def append_to_ivfpq_index(
    spark: SparkSession,
    shard: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Encode a NEW shard against the FROZEN centroids and codebooks
    (no re-train — codebook drift is accepted until a periodic rebuild
    from the store) and append its packed codes into the current
    version's cell partitions through the staged append.
    Shard-proportional: corpus codes are never read."""
    vdir = indexstore.live_version_dir(index_dir)
    meta = _load_ivfpq_meta(index_dir)
    cents = _read_centroids(spark, index_dir)
    books = _read_books(spark, vdir)
    d_sub = meta["dim"] // meta["m"]
    base = with_norm(shard, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm")
    unit = base.select(
        "id", F.transform("_vec", lambda x: x / F.col("_norm")).alias("u"))
    cells = _assigned_cells(base, cents).select("id", "cell")
    packed = _pack_codes(
        _pq_encode(_pq_subvectors(unit, meta["m"], d_sub), books))
    codes = cells.join(packed, "id").select("cell", "id", "codes")
    indexstore.staged_append(
        vdir,
        lambda stg_root: codes.write.mode("overwrite").partitionBy("cell")
        .parquet(os.path.join(stg_root, "codes")),
        ("codes",))


def compact_ivfpq_index(spark: SparkSession, index_dir: str) -> None:
    """IVF-PQ twin of :func:`compact_ann_index`: re-cluster the
    append-grown ``codes/`` one task per cell into a fresh version dir
    (centroids, codebooks, and META copied unchanged — layout-only,
    never a re-train) and flip CURRENT atomically. Serving equality
    before/after pinned in tests."""
    vdir = indexstore.live_version_dir(index_dir)
    meta = _load_ivfpq_meta(index_dir)
    new_vdir = indexstore.new_version_dir(index_dir)
    for small in ("centroids", "books"):
        spark.read.parquet(os.path.join(vdir, small)).coalesce(1).write \
            .mode("overwrite").parquet(os.path.join(new_vdir, small))
    (
        spark.read.parquet(os.path.join(vdir, "codes"))
        .repartition("cell").sortWithinPartitions("id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(os.path.join(new_vdir, "codes"))
    )
    indexstore.write_atomic(os.path.join(new_vdir, "META.json"),
                            json.dumps(meta))
    indexstore.publish_version(index_dir, new_vdir)


def ivfpq_index_topk(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    source: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    nprobe: int = IVF_NPROBE,
    shortlist: int = PQ_SHORTLIST,
    max_lut_rows: int = MAX_LUT_ROWS,
) -> DataFrame:
    """Serve top-k from the persisted IVF-PQ index: score queries
    against the stored centroids, partition-prune ``codes/`` to the
    batch's probed cells (bounded collect, ≤ nlist values), ADC-score
    the unpacked codes against a per-query LUT (broadcast while the
    batch's estimated LUT rows stay under ``max_lut_rows``, a shuffled
    join with identical results above it), shortlist, then REFINE —
    exact cosine rerank joining the ``source`` table on
    the shortlist ids only (candidate-proportional store fetch).
    With ``nprobe == nlist`` and an unbounded shortlist the refine
    ranks every vector exactly: provably brute force, the invariant
    the driver entry's oracle states across a build + append sequence."""
    vdir = indexstore.live_version_dir(index_dir)
    meta = _load_ivfpq_meta(index_dir)
    cents = _read_centroids(spark, index_dir)
    books = _read_books(spark, vdir)
    d_sub = meta["dim"] // meta["m"]

    q_base = with_norm(queries, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm")
    probes = (
        _scored_cells(q_base, cents)
        .filter(F.col("crank") <= nprobe)
        .select(F.col("id").alias("qid"), "cell")
    )
    # One bounded job yields both the probed-cell manifest (≤ nlist
    # values — drives partition pruning) and the batch's query count
    # (drives the LUT broadcast-vs-join decision).
    stats = probes.agg(
        F.collect_set("cell").alias("cells"),
        F.countDistinct("qid").alias("nq"),
    ).collect()[0]
    probed_cells = sorted(stats["cells"])
    lut_est = int(stats["nq"]) * meta["m"] * meta["ks"]
    # r15 ADC shape: codes stay PACKED (one row per vector) and the
    # per-query LUT is packed into one m·ks-slot array per query —
    # adist is then an in-row lookup-sum over the codes array
    # (element_at by s·ks + code). The pre-r15 shape posexploded every
    # stored vector into m rows, equi-joined them against the m·ks-row
    # LUT on (qid, s, code), and shuffled n·|probes| groups for the
    # partial→final SUM; all of that is now a map over the candidate
    # join (guide §2.3/§2.4 — the only remaining exchanges are the
    # shortlist window and the store refine). Summation runs in fixed
    # subspace order s = 0..m-1; ADC sums only rank the shortlist, and
    # every oracle-checked entry runs full-probe + unbounded shortlist
    # where the exact store refine alone decides the output.
    ks = int(meta["ks"])
    codes = (
        spark.read.parquet(os.path.join(vdir, "codes"))
        .filter(F.col("cell").isin(probed_cells))
        .select("cell", "id", "codes")
    )
    q_unit = q_base.select(
        "id", F.transform("_vec", lambda x: x / F.col("_norm")).alias("u"))
    q_sub = _pq_subvectors(q_unit, meta["m"], d_sub).select(
        F.col("id").alias("qid"), "s", F.col("sv").alias("qv"))
    lut = (
        q_sub.join(F.broadcast(books), "s")
        .select("qid", "s", "code",
                (F.col("c_n2")
                 - 2.0 * _dot(F.col("qv"), F.col("c_vec"))).alias("pd"))
    )
    # (s, code) pairs are unique per qid, so the struct sort is a total
    # order and slot s·ks + code of the packed array is exactly pd(s,
    # code).
    lut_packed = (
        lut.groupBy("qid")
        .agg(F.array_sort(F.collect_list(
            F.struct("s", "code", "pd"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["pd"]).alias("__lut"))
    )
    adist = F.aggregate(
        F.transform(
            F.col("codes"),
            lambda c, i: F.element_at(
                F.col("__lut"), i * F.lit(ks) + c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    adc = (
        codes.join(F.broadcast(probes), "cell")
        .filter(F.col("qid") != F.col("id"))
        .join(_bounded_broadcast(lut_packed, lut_est, max_lut_rows),
              "qid")
        .select("qid", "id", adist.alias("adist"))
    )
    if shortlist >= (1 << 31):
        # Unbounded-shortlist sentinel (the oracle entries pass 1<<40 to
        # make the store refine provably brute-force): row_number is an
        # int, so any batch this branch could misfilter would overflow
        # the window anyway — skip the shortlist exchange+sort entirely
        # (r15, guide §2.4; the always-true filter kept every row, and
        # Catalyst then prunes the dead adist aggregate with it).
        short = adc.select("qid", "id")
    else:
        ws = Window.partitionBy("qid").orderBy(
            F.col("adist").asc(), F.col("id").asc())
        short = (
            adc.withColumn("srank", F.row_number().over(ws))
            .filter(F.col("srank") <= shortlist)
            .select("qid", "id")
        )
    # Refine: exact vectors come from the STORE, shortlist ids only.
    store = with_norm(source, vec_col).select(
        F.col(id_col).alias("id"), "_vec", F.col("_norm").alias("n_norm"))
    qv = q_base.select(F.col("id").alias("qid"),
                       F.col("_vec").alias("q_vec"),
                       F.col("_norm").alias("q_norm"))
    rer = (
        short.join(store, "id").join(F.broadcast(qv), "qid")
        .withColumn("sim", _dot(F.col("q_vec"), F.col("_vec"))
                    / (F.col("q_norm") * F.col("n_norm")))
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("id").asc())
    return (
        rer.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("id").alias("nid"), "rank",
                round_half_up(F.col("sim"), 6).alias("sim"))
    )


#: Conservative recall bounds asserted by :func:`ann_recall_summary`
#: (measured on the driver testdata: LSH avg 0.85-0.90, min 0.6-0.7 at
#: sf0.001/sf0.01 with planes=4, tables=16 — headroom on both bounds).
RECALL_AVG_BOUND = 0.70
RECALL_MIN_BOUND = 0.40
RECALL_PLANES = 4
RECALL_TABLES = 16


def ann_recall(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
) -> DataFrame:
    """Per-query recall@k of the LSH path against brute-force truth:
    (qid, recall). Both sides run in Spark over the same input; the
    bucket-join candidate set makes this the quantified quality gate for
    the approximate path (the scale path is never hash-comparable to an
    external oracle, but its recall against the exact result is)."""
    exact = cosine_topk(df, id_col, vec_col, k=k, num_queries=num_queries)
    approx = lsh_topk(df, id_col, vec_col, k=k, num_queries=num_queries,
                      planes=RECALL_PLANES, tables=RECALL_TABLES)
    hits = (
        exact.select("qid", "nid")
        .join(approx.select("qid", "nid"), ["qid", "nid"])
        .groupBy("qid").agg(F.count(F.lit(1)).alias("hit"))
    )
    per_q = (
        exact.groupBy("qid").agg(F.count(F.lit(1)).alias("k_eff"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            (F.coalesce(F.col("hit"), F.lit(0)) / F.col("k_eff")).alias("recall"),
        )
    )
    return per_q


def neardup_lsh_quality(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_bound: float = 0.5,
) -> DataFrame:
    """One-row quality gate for the LSH near-dup path, oracle-checkable:
    (n_exact_pairs, subset_ok, recall_ge_50). The exact pair count is
    recomputed by the oracle in SQL (a real differential cell); subset
    holds by construction (exact cosine verifies each candidate);
    recall on this near-random corpus is the LSH worst case — the bound
    is deliberately conservative."""
    exact = embedding_neardup_pairs(df, id_col, vec_col)
    approx = embedding_neardup_pairs(df, id_col, vec_col, use_lsh=True)
    ex = exact.select("id_a", "id_b", F.col("sim").alias("sim_e"))
    ap = approx.select("id_a", "id_b", F.col("sim").alias("sim_a"))
    bad = (
        ap.join(ex, ["id_a", "id_b"], "left")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("sim_e").isNull()
                        | (F.abs(F.col("sim_a") - F.col("sim_e")) > 1e-6),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_bad")
        )
    )
    hits = ex.join(ap.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    total = ex.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    return (
        total.crossJoin(bad)
        .crossJoin(hits)
        .select(
            "n_exact_pairs",
            (F.col("n_bad") == 0).alias("subset_ok"),
            (
                (F.col("n_exact_pairs") == 0)
                | (F.col("n_hit")
                   >= F.col("n_exact_pairs") * F.lit(recall_bound))
            ).alias("recall_ge_50"),
        )
    )


#: IVF bounds (measured avg 0.795-0.815, min 0.4 at sf0.001/sf0.01 —
#: looser than the LSH gate because nprobe/nlist trades recall away).
IVF_RECALL_AVG_BOUND = 0.65
IVF_RECALL_MIN_BOUND = 0.25


def ivf_recall_summary(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
) -> DataFrame:
    """One-row quantified-recall assertion for the IVF path, twin of
    :func:`ann_recall_summary` (same oracle scheme)."""
    exact = cosine_topk(df, id_col, vec_col, k=k, num_queries=num_queries)
    approx = ivf_topk(df, id_col, vec_col, k=k, num_queries=num_queries)
    hits = (
        exact.select("qid", "nid")
        .join(approx.select("qid", "nid"), ["qid", "nid"])
        .groupBy("qid").agg(F.count(F.lit(1)).alias("hit"))
    )
    per_q = (
        exact.groupBy("qid").agg(F.count(F.lit(1)).alias("k_eff"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            (F.coalesce(F.col("hit"), F.lit(0)) / F.col("k_eff")).alias("recall"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg("recall") >= IVF_RECALL_AVG_BOUND).alias("avg_recall_ge_65"),
        (F.min("recall") >= IVF_RECALL_MIN_BOUND).alias("min_recall_ge_25"),
    )


def ann_recall_summary(df: DataFrame, **kw) -> DataFrame:
    """One-row quantified-recall assertion, deterministic across scale
    factors (the raw recall values aren't): query count plus whether the
    average/minimum recall clear their conservative bounds. The oracle
    states the expected outcome as constants, so a recall regression in
    the approximate path fails the hash-match instead of hiding behind a
    rows-only check."""
    per_q = ann_recall(df, **kw)
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg("recall") >= RECALL_AVG_BOUND).alias("avg_recall_ge_70"),
        (F.min("recall") >= RECALL_MIN_BOUND).alias("min_recall_ge_40"),
    )


# --------------------------------------------------------------------------
# Driver entries
# --------------------------------------------------------------------------

def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import cached_parquet, spread

    # CPU-bound vector math: spread the (often single-file) local input
    # across cores before scoring.
    return spread(cached_parquet(spark, f"{sf_dir}/embeddings.parquet"))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(_emb(spark, sf_dir))


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash-checked end-to-end: the hyperplanes are deterministic
    # literals, so the oracle SQL replays the same sign-bit buckets,
    # candidate join and exact rerank (dot-product folds are
    # left-to-right on both engines — see module docstring).
    return lsh_topk(_emb(spark, sf_dir))


def q_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full oracle like q_lsh_topk: the oracle replays the same sign-bit
    # buckets PLUS the 1-bit-flip probe fan-out (xor over the literal
    # keys), so the multiprobe candidate set itself is recomputed and
    # hash-checked, not just the reranked survivors.
    return lsh_multiprobe_topk(_emb(spark, sf_dir))


def q_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multiprobe_recall_summary(_emb(spark, sf_dir))


def q_multiprobe2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # flips=2: the two-bit Hamming ring joins the probe set; the
    # oracle replays the full two-ring fan-out over the same literal
    # masks, so the WIDER candidate set is itself hash-checked.
    return lsh_multiprobe_topk(_emb(spark, sf_dir), flips=2)


def q_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(_emb(spark, sf_dir))


def q_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash-checked like q_lsh_topk: deterministic literal hyperplanes
    # let the oracle replay bucket generation + exact verification.
    return embedding_neardup_pairs(_emb(spark, sf_dir), use_lsh=True)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FULL-PROBE mode (nprobe == nlist): exercises the whole IVF
    # machinery — Lloyd training, cell assignment, probing, rerank —
    # with a result provably equal to brute force (tested invariant),
    # which is what makes this entry exactly oracle-checkable even
    # though k-means centroids are data-dependent. The PRUNED path
    # (nprobe < nlist) is quality-gated by ``sim_ivf_recall``.
    return ivf_topk(_emb(spark, sf_dir), nprobe=IVF_NLIST)


def q_incremental_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest ANN: build the IVF index over the corpus (vec_id %
    8 != 0), APPEND the shard (% 8 == 0) against the frozen centroids,
    then answer the standard query set with a FULL probe — provably
    equal to brute-force cosine top-k over the whole table, so the
    entry shares the exact sim_cosine_topk oracle (two different
    physical paths — broadcast brute force vs persisted-index
    build+append+probe — one hash-checked answer, the cc/cc_star
    precedent). The COMPLETED build+append index is cached per
    (process, sf_dir): the construction is deterministic and
    idempotent, so warm runs measure the PROBE — the operation a
    daily pipeline actually re-runs; the build is one-time. (Contrast
    incremental.py's q_incremental_append, which stays uncached
    because its mid-entry append is observably stateful.)"""
    import tempfile

    emb = _emb(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    if key not in _ANN_INDEX_CACHE:
        d = tempfile.mkdtemp(prefix="qpo_ann_index_")
        build_ann_index(emb.filter(F.col("vec_id") % 8 != 0), d)
        append_to_ann_index(
            spark, emb.filter(F.col("vec_id") % 8 == 0), d)
        _ANN_INDEX_CACHE[key] = d
    queries = emb.filter(F.col("vec_id") < DEFAULT_NUM_QUERIES)
    return ann_index_topk(spark, queries, _ANN_INDEX_CACHE[key],
                          nprobe=IVF_NLIST)


_ANN_INDEX_CACHE: dict[str, str] = {}


def q_incremental_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build + frozen-centroid append + RETRAIN (centroids re-fit over
    everything indexed, postings migrated) + full probe — still
    provably brute force, making the maintenance job driver-checked
    end-to-end (fourth physical path onto the sim_cosine_topk oracle).
    Cached per (process, sf_dir): the whole construction is
    deterministic and idempotent."""
    import tempfile

    emb = _emb(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    if key not in _ANN_RETRAIN_CACHE:
        d = tempfile.mkdtemp(prefix="qpo_ann_retrain_")
        build_ann_index(emb.filter(F.col("vec_id") % 8 != 0), d)
        append_to_ann_index(
            spark, emb.filter(F.col("vec_id") % 8 == 0), d)
        retrain_ann_index(spark, d)
        _ANN_RETRAIN_CACHE[key] = d
    queries = emb.filter(F.col("vec_id") < DEFAULT_NUM_QUERIES)
    return ann_index_topk(spark, queries, _ANN_RETRAIN_CACHE[key],
                          nprobe=IVF_NLIST)


_ANN_RETRAIN_CACHE: dict[str, str] = {}


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_summary(_emb(spark, sf_dir))


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_recall_summary(_emb(spark, sf_dir))


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_recall_summary(_emb(spark, sf_dir))


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-PROBE + FULL-SHORTLIST IVF-PQ: nprobe == nlist admits every
    pair past the cell filter and an unbounded shortlist makes the
    exact rerank rank everything — provably brute force, so the whole
    composition (coarse training, cell assignment, PQ codes, LUT, ADC,
    shortlist, rerank) is exercised under the sim_cosine_topk oracle
    (the sim_ivf_topk precedent). The PRUNED config is gated by
    sim_ivfpq_recall."""
    emb = _emb(spark, sf_dir)
    return ivfpq_topk(emb, nprobe=IVF_NLIST, shortlist=1 << 40)


def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivfpq_recall_summary(_emb(spark, sf_dir))


def q_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESIDUAL (classical IVFADC) variant under the same
    degeneracy: full probe + unbounded shortlist ≡ brute force, so the
    per-cell residual encode, the per-(query, cell) LUTs, and the
    cross-cell ADC distance (|r_q|² kept — see ivfpq_topk) are all
    exercised under the sim_cosine_topk oracle. At driver scales the
    pruned residual and global variants are provably identical
    (candidates < shortlist ⇒ ADC never cuts), so the pruned-path
    discriminating measurement lives in scripts/ann_prune_trend.py
    with a BINDING shortlist instead of a vacuous second recall gate."""
    emb = _emb(spark, sf_dir)
    return ivfpq_topk(emb, nprobe=IVF_NLIST, shortlist=1 << 40,
                      residual=True)


_IVFPQ_INDEX_CACHE: dict[str, str] = {}


def _ivfpq_entry_index(spark: SparkSession, sf_dir: str) -> str:
    """Per-(process, sf_dir) cached build(⅞)+append(⅛) IVF-PQ index —
    shared by the oracle-checkable full-probe entry and the bench-only
    pruned serving line (construction is deterministic/idempotent)."""
    import tempfile

    emb = _emb(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    if key not in _IVFPQ_INDEX_CACHE:
        d = tempfile.mkdtemp(prefix="qpo_ivfpq_index_")
        build_ivfpq_index(emb.filter(F.col("vec_id") % 8 != 0), d)
        append_to_ivfpq_index(
            spark, emb.filter(F.col("vec_id") % 8 == 0), d)
        _IVFPQ_INDEX_CACHE[key] = d
    return _IVFPQ_INDEX_CACHE[key]


def q_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ serving index, driver-checked end-to-end:
    build over the corpus (vec_id % 8 != 0), APPEND the shard
    (% 8 == 0) with frozen centroids + codebooks, then answer the
    standard query set with a FULL probe and unbounded shortlist —
    the refine from the store ranks every vector exactly, so the
    whole path (coarse train, PQ train, packed codes, cell-pruned
    scan, ADC, store refine) shares the sim_cosine_topk oracle (the
    sim_incremental_index precedent for the flat index). Cached per
    (process, sf_dir): construction is deterministic and idempotent,
    warm runs measure the probe."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < DEFAULT_NUM_QUERIES)
    return ivfpq_index_topk(
        spark, queries, _ivfpq_entry_index(spark, sf_dir), source=emb,
        nprobe=IVF_NLIST, shortlist=1 << 40)


def q_neardup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup_lsh_quality(_emb(spark, sf_dir))


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` ∈ [-127, 127] — the storage/shuffle
    format for embedding columns at corpus scale (4× fewer bytes than
    float32, 8× fewer than double, with cosine recall in the high 90s
    at 64 dims). All array expressions over the scan — map-only, no
    Python. Zero vectors quantize to zeros under a sentinel scale of 1
    (guarding the division; their quantized cosine is defined as 0).

    Determinism note: every quantized value is a small integer, so ALL
    downstream arithmetic (dot products, norms) is exactly
    representable in doubles — quantized scoring is bit-identical in
    any engine and any partition order, which is what gives the
    quantized entries full oracles with no rounding idioms."""
    v = _as_double(F.col(vec_col))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(mx == F.lit(0.0), F.lit(1.0)).otherwise(
        mx / F.lit(127.0)
    )
    qv = F.transform(
        v, lambda x: round_half_up(x / scale, 0).cast("long"))
    return df.select(
        F.col(id_col).alias("vec_id"),
        scale.alias("scale"),
        qv.alias("qvec"),
    )


def quantized_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors (cosine is
    scale-invariant, so per-vector scales cancel: sim_q =
    Σq_a·q_b / (‖q_a‖·‖q_b‖) — integer-exact doubles end to end).
    Same broadcast-the-queries plan as :func:`cosine_topk`, but the
    corpus side ships quantized arrays: at 100 TB this is the variant
    whose shuffle is 4-8× lighter."""
    qd = quantize_embeddings(df, id_col, vec_col)
    qdbl = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    base = qd.select(
        F.col("vec_id").alias("nid"),
        qdbl.alias("qv"),
    ).withColumn("qn", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    qs = base.filter(F.col("nid") < num_queries).select(
        F.col("nid").alias("qid"),
        F.col("qv").alias("q_qv"),
        F.col("qn").alias("q_qn"),
    )
    scored = (
        base.join(F.broadcast(qs), F.col("qid") != F.col("nid"))
        .withColumn(
            "qsim",
            F.when(F.col("q_qn") * F.col("qn") == 0, F.lit(0.0)).otherwise(
                _dot(F.col("q_qv"), F.col("qv"))
                / (F.col("q_qn") * F.col("qn"))
            ),
        )
        .select("qid", "nid", "qsim")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("qsim").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", round_half_up(F.col("qsim"), 6).alias("qsim"))
    )


def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exploded to (vec_id, scale, pos, qval) scalars so the value hash
    # covers every quantized coefficient positionally.
    qd = quantize_embeddings(_emb(spark, sf_dir))
    return qd.select(
        "vec_id",
        round_half_up(F.col("scale"), 9).alias("scale"),
        F.posexplode("qvec").alias("pos", "qval"),
    )


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantized_topk(_emb(spark, sf_dir))


#: Shared quantization CTE (DuckDB replay of quantize_embeddings).
_QUANT_CTE = f"""
    v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    s AS (
        SELECT vec_id, e,
               CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0
                    THEN 1.0
                    ELSE list_max(list_transform(e, x -> abs(x))) / 127.0
               END AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(e, x -> CAST({_rs('x / scale', 0)} AS BIGINT))
                   AS qv
        FROM s
    )
"""


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = NEARDUP_THRESHOLD,
    planes: int = NEARDUP_PLANES,
    tables: int = NEARDUP_TABLES,
) -> DataFrame:
    """Semantic (embedding-space) corpus dedup — the composition a
    training-data pipeline actually runs: LSH near-dup pairs →
    connected components → (id, cluster_id, cluster_size,
    is_canonical). The embedding twin of ``dedup.dedup_clusters``'s
    lexical pipeline; the keep-set is ``is_canonical = true``.

    Every stage is the bucketed scale path: hyperplane-LSH band join
    (never the N² cross product), longs-only CC frames with
    per-round lineage truncation, and a (cluster_id, count) join AQE
    marks broadcast-able (cluster count ≪ corpus size)."""
    from query_planner_optimizer_spark.operators.dedup import (
        connected_components,
    )

    pairs = embedding_neardup_pairs(
        df, id_col, vec_col, dim, threshold,
        use_lsh=True, planes=planes, tables=tables,
    )
    comp = connected_components(
        pairs.select("id_a", "id_b"), df.select(F.col(id_col)),
        src="id_a", dst="id_b", vid=id_col,
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(_emb(spark, sf_dir))


def _semantic_dedup_oracle(
    dim: int = 64,
    threshold: float = NEARDUP_THRESHOLD,
    planes: int = NEARDUP_PLANES,
    tables: int = NEARDUP_TABLES,
) -> str:
    """DuckDB replay of the full semantic-dedup pipeline: literal
    hyperplane buckets → verified pairs → recursive-CTE components →
    cluster sizes + canonical flags."""
    return f"""
        WITH RECURSIVE {_lsh_bucket_cte(dim, planes, tables)},
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM sk a JOIN sk b ON a.tbl = b.tbl AND a.bkt = b.bkt
            WHERE a.vec_id < b.vec_id
        ),
        pairs AS (
            SELECT id_a, id_b FROM cand
            JOIN n a ON cand.id_a = a.vec_id
            JOIN n b ON cand.id_b = b.vec_id
            WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                  >= {threshold}
        ),
        und AS (
            SELECT id_a AS nn, id_b AS mm FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs
        ),
        reach(node, label) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.mm, r.label FROM reach r JOIN und e ON r.node = e.nn
        ),
        lab AS (
            SELECT node AS vec_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node
        ),
        sz AS (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM lab GROUP BY cluster_id
        )
        SELECT lab.vec_id, lab.cluster_id, sz.cluster_size,
               lab.vec_id = lab.cluster_id AS is_canonical
        FROM lab JOIN sz USING (cluster_id)
    """


def entry_queries() -> dict[str, Callable]:
    return {
        "sim_cosine_topk": q_cosine_topk,
        "sim_lsh_topk": q_lsh_topk,  # literal hyperplanes, full oracle
        "dedup_embedding_cosine": q_neardup_exact,
        "dedup_embedding_cosine_lsh": q_neardup_lsh,  # full oracle
        "sim_ivf_topk": q_ivf_topk,  # full-probe ≡ brute force, full oracle
        "sim_ann_recall": q_ann_recall,  # quantified recall, hash-checked
        "sim_ivf_recall": q_ivf_recall,  # quantified recall, hash-checked
        "sim_pq_recall": q_pq_recall,  # PQ shortlist+rerank recall gate
        "dedup_embedding_lsh_quality": q_neardup_lsh_quality,  # hash-checked
        "dedup_semantic_clusters": q_semantic_dedup,  # LSH+CC, full oracle
        "sim_quantize_int8": q_quantize_int8,  # int8 storage format
        "sim_quantized_topk": q_quantized_topk,  # quantized ANN, full oracle
        "sim_incremental_index": q_incremental_ann,  # build+append+probe
        "sim_incremental_retrain": q_incremental_retrain,  # +retrain
        "sim_multiprobe_topk": q_multiprobe_topk,  # 1-bit flips, full oracle
        "sim_multiprobe2_topk": q_multiprobe2_topk,  # 2-bit ring, full oracle
        "sim_multiprobe_recall": q_multiprobe_recall,  # recall-vs-cost gate
        "sim_ivfpq_topk": q_ivfpq_topk,  # full-probe+shortlist ≡ brute force
        "sim_ivfpq_recall": q_ivfpq_recall,  # pruned-path recall gate
        "sim_ivfpq_index": q_ivfpq_index,  # persisted codes-only index
        "sim_ivfpq_residual_topk": q_ivfpq_residual_topk,  # IVFADC residual
    }


def _planes_values_sql(dim: int, planes: int, tables: int) -> str:
    """VALUES rows (tbl, p, vec DOUBLE[]) for the deterministic
    hyperplanes — ``repr`` round-trips every double exactly, so DuckDB
    parses the literal to the bit-identical plane Spark gets via
    ``F.lit``."""
    hp = _hyperplanes(dim, planes, tables)
    rows = []
    for t in range(tables):
        for p in range(planes):
            vec = ", ".join(repr(x) for x in hp[t][p])
            rows.append(f"({t}, {p}, CAST([{vec}] AS DOUBLE[]))")
    return ",\n            ".join(rows)


def _lsh_bucket_cte(dim: int, planes: int, tables: int) -> str:
    """Shared CTE body: normalized vectors + per-(vector, table) LSH
    bucket keys, replaying the engine's sign-bit sketch in SQL."""
    return f"""
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        planes(tbl, p, pv) AS (VALUES
            {_planes_values_sql(dim, planes, tables)}
        ),
        sk AS (
            SELECT n.vec_id, pl.tbl,
                   SUM(CASE WHEN list_dot_product(n.e, pl.pv) >= 0
                       THEN 1 << pl.p ELSE 0 END) AS bkt
            FROM n CROSS JOIN planes pl
            GROUP BY n.vec_id, pl.tbl
        )
    """


def _lsh_topk_oracle(
    dim: int = 64,
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
    planes: int = LSH_PLANES,
    tables: int = LSH_TABLES,
) -> str:
    """DuckDB replay of the hyperplane-LSH top-k: identical literal
    hyperplanes → identical sign-bit buckets → identical candidate sets
    → exact rerank, bit-for-bit (left-to-right double folds on both
    engines)."""
    return f"""
        WITH {_lsh_bucket_cte(dim, planes, tables)},
        cand AS (
            SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
            FROM sk q JOIN sk c ON q.tbl = c.tbl AND q.bkt = c.bkt
            WHERE q.vec_id < {num_queries} AND q.vec_id <> c.vec_id
        ),
        scored AS (
            SELECT cand.qid, cand.nid,
                   list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS sim
            FROM cand
            JOIN n a ON cand.qid = a.vec_id
            JOIN n b ON cand.nid = b.vec_id
        )
        SELECT qid, nid, rank, {_rs('sim', 6)} AS sim FROM (
            SELECT qid, nid, sim,
                   CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY sim DESC, nid ASC) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def _multiprobe_topk_oracle(
    dim: int = 64,
    k: int = DEFAULT_K,
    num_queries: int = DEFAULT_NUM_QUERIES,
    planes: int = LSH_PLANES,
    tables: int = LSH_TABLES,
    flips: int = 1,
) -> str:
    """DuckDB replay of the multiprobe top-k: the shared bucket CTE,
    then the query side fans out to its own key plus every ≤flips-bit
    flip (xor over the same literal masks Spark computes), identical
    candidate union, exact rerank."""
    two_bit = f"""
            UNION ALL
            SELECT s.vec_id, s.tbl,
                   xor(CAST(s.bkt AS BIGINT),
                       CAST((1 << f.p) | (1 << g.q) AS BIGINT))
            FROM sk s
            CROSS JOIN range({planes}) AS f(p)
            CROSS JOIN range({planes}) AS g(q)
            WHERE s.vec_id < {num_queries} AND f.p < g.q
    """ if flips >= 2 else ""
    return f"""
        WITH {_lsh_bucket_cte(dim, planes, tables)},
        qk AS (
            SELECT vec_id, tbl, CAST(bkt AS BIGINT) AS bkt
            FROM sk WHERE vec_id < {num_queries}
            UNION ALL
            SELECT s.vec_id, s.tbl,
                   xor(CAST(s.bkt AS BIGINT), CAST(1 << f.p AS BIGINT))
            FROM sk s CROSS JOIN range({planes}) AS f(p)
            WHERE s.vec_id < {num_queries}
            {two_bit}
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
            FROM qk q JOIN sk c
              ON q.tbl = c.tbl AND q.bkt = CAST(c.bkt AS BIGINT)
            WHERE q.vec_id <> c.vec_id
        ),
        scored AS (
            SELECT cand.qid, cand.nid,
                   list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS sim
            FROM cand
            JOIN n a ON cand.qid = a.vec_id
            JOIN n b ON cand.nid = b.vec_id
        )
        SELECT qid, nid, rank, {_rs('sim', 6)} AS sim FROM (
            SELECT qid, nid, sim,
                   CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY sim DESC, nid ASC) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def _neardup_lsh_oracle(
    dim: int = 64,
    threshold: float = NEARDUP_THRESHOLD,
    planes: int = NEARDUP_PLANES,
    tables: int = NEARDUP_TABLES,
) -> str:
    """DuckDB replay of the LSH near-dup path: bucket-collision
    candidates (any table) + exact cosine verification."""
    return f"""
        WITH {_lsh_bucket_cte(dim, planes, tables)},
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM sk a JOIN sk b ON a.tbl = b.tbl AND a.bkt = b.bkt
            WHERE a.vec_id < b.vec_id
        )
        SELECT id_a, id_b,
               {_rs('list_dot_product(a.e, b.e) / (a.nrm * b.nrm)', 6)} AS sim
        FROM cand
        JOIN n a ON cand.id_a = a.vec_id
        JOIN n b ON cand.id_b = b.vec_id
        WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
              >= {threshold}
    """


def entry_oracles() -> dict[str, str]:
    cosine = f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        scored AS (
            SELECT q.vec_id AS qid, c.vec_id AS nid,
                   list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS sim
            FROM n q JOIN n c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {DEFAULT_NUM_QUERIES}
        )
        SELECT qid, nid, rank, {_rs('sim', 6)} AS sim FROM (
            SELECT qid, nid, sim,
                   CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY sim DESC, nid ASC) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= {DEFAULT_K}
    """
    neardup = f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_rs('list_dot_product(a.e, b.e) / (a.nrm * b.nrm)', 6)} AS sim
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
              >= {NEARDUP_THRESHOLD}
    """
    # sim_ann_recall's oracle is the EXPECTED OUTCOME of the recall
    # assertion (bounds hold, 20 queries) — the engine computes both the
    # exact truth and the approximate result in Spark and reduces to the
    # same shape, so the hash match quantifies ANN quality.
    recall = (
        f"SELECT CAST({DEFAULT_NUM_QUERIES} AS BIGINT) AS n_queries, "
        f"true AS avg_recall_ge_70, true AS min_recall_ge_40"
    )
    ivf_recall = (
        f"SELECT CAST({DEFAULT_NUM_QUERIES} AS BIGINT) AS n_queries, "
        f"true AS avg_recall_ge_65, true AS min_recall_ge_25"
    )
    multiprobe_recall = (
        f"SELECT CAST({DEFAULT_NUM_QUERIES} AS BIGINT) AS n_queries, "
        f"true AS avg_recall_ge_80, true AS min_recall_ge_40, "
        f"true AS multi_ge_single_avg"
    )
    pq_recall = (
        f"SELECT CAST({DEFAULT_NUM_QUERIES} AS BIGINT) AS n_queries, "
        f"true AS avg_recall_ge_50, true AS min_recall_ge_10"
    )
    ivfpq_recall = pq_recall  # same asserted shape and bounds
    # Near-dup LSH quality gate: the exact-pair count cell is a real SQL
    # recomputation; the booleans state the asserted outcome.
    neardup_q = f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
        SELECT COUNT(*) AS n_exact_pairs,
               true AS subset_ok, true AS recall_ge_50
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
              >= {NEARDUP_THRESHOLD}
    """
    return {"sim_cosine_topk": cosine, "dedup_embedding_cosine": neardup,
            # full-probe IVF ≡ brute force — same oracle as cosine_topk
            "sim_ivf_topk": cosine,
            # persisted-index build + shard append + full probe ≡ the
            # same brute force (third physical path, one answer)
            "sim_incremental_index": cosine,
            # + retrain/migration: fourth path, same answer
            "sim_incremental_retrain": cosine,
            # IVF-PQ full-probe + unbounded shortlist ≡ brute force
            "sim_ivfpq_topk": cosine,
            # persisted codes-only index, build+append+full probe+refine
            "sim_ivfpq_index": cosine,
            # residual (IVFADC) variant under the same degeneracy
            "sim_ivfpq_residual_topk": cosine,
            "sim_lsh_topk": _lsh_topk_oracle(),
            "sim_multiprobe_topk": _multiprobe_topk_oracle(),
            "sim_multiprobe2_topk": _multiprobe_topk_oracle(flips=2),
            "sim_multiprobe_recall": multiprobe_recall,
            "dedup_embedding_cosine_lsh": _neardup_lsh_oracle(),
            "dedup_semantic_clusters": _semantic_dedup_oracle(),
            "sim_quantize_int8": f"""
        WITH {_QUANT_CTE}
        SELECT vec_id, {_rs('scale', 9)} AS scale,
               UNNEST(list_transform(qv, (x, i) ->
                      {{'pos': i - 1, 'qval': x}}), recursive := true)
        FROM q
    """,
            "sim_quantized_topk": f"""
        WITH {_QUANT_CTE},
        n2 AS (
            SELECT vec_id,
                   list_transform(qv, x -> CAST(x AS DOUBLE)) AS qd,
                   sqrt(list_dot_product(
                       list_transform(qv, x -> CAST(x AS DOUBLE)),
                       list_transform(qv, x -> CAST(x AS DOUBLE)))) AS qn
            FROM q
        ),
        scored AS (
            SELECT a.vec_id AS qid, b.vec_id AS nid,
                   CASE WHEN a.qn * b.qn = 0 THEN 0.0
                        ELSE list_dot_product(a.qd, b.qd) / (a.qn * b.qn)
                   END AS qsim
            FROM n2 a JOIN n2 b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < {{nq}}
        )
        SELECT qid, nid, rank, {_rs('qsim', 6)} AS qsim FROM (
            SELECT qid, nid, qsim,
                   CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY qsim DESC, nid ASC) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= {{k}}
    """.replace("{nq}", str(DEFAULT_NUM_QUERIES)).replace(
                "{k}", str(DEFAULT_K)),
            "sim_ann_recall": recall, "sim_ivf_recall": ivf_recall,
            "sim_pq_recall": pq_recall, "sim_ivfpq_recall": ivfpq_recall,
            "dedup_embedding_lsh_quality": neardup_q}
