"""Analytic (window-function) operators — beyond the reference surface.

The reference has no window functions (SURVEY.md §2.5). These are the
standard analytical primitives a Spark-first engine exposes for free;
each has an exact ANSI-SQL oracle.

Scale: window functions shuffle on their partition key. Partition keys
here (customer, user) are high-cardinality → well-distributed; an
unpartitioned ORDER BY window would serialize on one task and is
deliberately not offered.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from query_planner_optimizer_spark.catalog import Catalog, cached_parquet
from query_planner_optimizer_spark.dsl.compiler import agg_decimal_scale
from query_planner_optimizer_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up as _rs,
)
from query_planner_optimizer_spark.functions.timeexpr import epoch_micros


def top_n_per_group(
    df: DataFrame, part_cols: list[str], order_col: str, n: int,
    tiebreak: str,
) -> DataFrame:
    """Top-n rows per group by ``order_col`` descending (deterministic
    ascending ``tiebreak``)."""
    w = Window.partitionBy(*part_cols).orderBy(
        F.col(order_col).desc(), F.col(tiebreak).asc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .withColumn("rn", F.col("rn").cast("int"))
    )


#: Shared rounded-aggregate accumulator type (r8 boundary-exact
#: contract — see functions/rounding.py and agg_decimal_scale).
_DEC12 = T.DecimalType(38, agg_decimal_scale(6))


def running_sum(
    df: DataFrame, part_col: str, order_cols: list[str], value_col: str,
) -> DataFrame:
    w = (
        Window.partitionBy(part_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("running_sum", round_half_up(F.sum(value_col).over(w), 6))


def lag_delta_seconds(
    df: DataFrame, part_col: str, ts_col: str, tiebreak: str,
) -> DataFrame:
    """Seconds since the previous event of the same key (NULL for the
    first event)."""
    w = Window.partitionBy(part_col).orderBy(F.col(ts_col).asc(),
                                             F.col(tiebreak).asc())
    prev = F.lag(F.col(ts_col)).over(w)
    # exact integer microseconds both engines (no float epoch rounding)
    return df.withColumn(
        "delta_us", epoch_micros(F.col(ts_col)) - epoch_micros(prev)
    )


def distinct_count(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Exact DISTINCT aggregate (absent from the reference DSL,
    SURVEY.md §2.3) alongside the approximate HLL sketch — the scale
    path at 100 TB, where exact distinct is a two-shuffle expand and
    the sketch is a single mergeable pass."""
    return df.groupBy(*group_cols).agg(
        F.count_distinct(F.col(value_col)).alias("n_distinct"),
        F.approx_count_distinct(F.col(value_col), 0.01).alias("n_approx"),
    )


def group_quantiles(
    df: DataFrame, group_cols: list[str], value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact interpolated quantiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: both linear interpolation). At 100 TB use
    ``percentile_approx`` (mergeable t-digest-style sketch) — tested
    against this exact form for error bounds."""
    pct = F.percentile(F.col(value_col), F.array(*[F.lit(q) for q in qs]))
    agg = df.groupBy(*group_cols).agg(pct.alias("__p"))
    outs = [
        round_half_up(F.col("__p")[i], 6).alias(f"p{int(q * 100)}")
        for i, q in enumerate(qs)
    ]
    return agg.select(*group_cols, *outs)


def rollup_counts(
    df: DataFrame, cols: list[str], value_col: str
) -> DataFrame:
    """GROUP BY ROLLUP over ``cols`` (hierarchical subtotals + grand
    total) — grouping sets are absent from the reference
    (SURVEY.md §2.3) but native in both Spark and the oracle."""
    return df.rollup(*cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col(value_col).cast(_DEC12)), 6)
        .cast("double").alias("sum_value"),
        # grouping() flags let callers distinguish a subtotal row from a
        # group whose key VALUE is NULL — a COALESCE-only sentinel
        # conflates the two (ADVICE r3).
        *[F.grouping(c).alias(f"__g_{c}") for c in cols],
    )


def cube_counts(
    df: DataFrame, cols: list[str], value_col: str
) -> DataFrame:
    """GROUP BY CUBE over ``cols`` — all 2^n grouping sets in one pass.
    Spark expands the sets map-side and shuffles each partial once, so
    the cost is ~2^n × the plain aggregate's shuffle rows, not 2^n
    scans; grouping sets are absent from the reference (SURVEY.md
    §2.3) but native in both Spark and the oracle."""
    return df.cube(*cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col(value_col).cast(_DEC12)), 6)
        .cast("double")
        .alias("sum_value"),
        *[F.grouping(c).alias(f"__g_{c}") for c in cols],
    )


def grouping_sets_counts(
    df: DataFrame, sets: list[list[str]], cols: list[str], value_col: str
) -> DataFrame:
    """GROUP BY GROUPING SETS over an ARBITRARY set list — the general
    form ROLLUP/CUBE are shorthands of (a set list neither shorthand can
    express, e.g. ((a,b),(b),()) skipping the (a) subtotal). Same
    single-pass execution as CUBE: Spark expands the sets map-side and
    shuffles each partial once — len(sets) × the plain aggregate's
    shuffle rows, never len(sets) scans. Sums accumulate in DECIMAL
    (double addition is partition-order-dependent)."""
    for s in sets:
        unknown = [c for c in s if c not in cols]
        if unknown:
            raise ValueError(f"grouping set {s} uses non-grouping cols "
                             f"{unknown} (declared: {cols})")
    return df.groupingSets(
        [[F.col(c) for c in s] for s in sets], *[F.col(c) for c in cols]
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col(value_col).cast(_DEC12)), 6)
        .cast("double")
        .alias("sum_value"),
        *[F.grouping(c).alias(f"__g_{c}") for c in cols],
    )


def pivot_values(
    df: DataFrame,
    group_col: str,
    pivot_col: str,
    pivot_vals: list[str],
    value_col: str,
) -> DataFrame:
    """Crosstab: one row per ``group_col``, one SUM measure column per
    ``pivot_vals`` entry. The EXPLICIT value list matters at scale: it
    compiles to conditional aggregates in a single shuffle; omitting it
    would force Spark's two-pass distinct-scan + collect of pivot keys.
    Sums accumulate in DECIMAL (same rationale as the DSL's rounded
    aggregates: double addition is partition-order-dependent)."""
    measure = F.round(
        F.sum(F.col(value_col).cast(_DEC12)), 6
    ).cast("double")
    return (
        df.groupBy(group_col)
        .pivot(pivot_col, pivot_vals)
        .agg(measure)
    )


def zscore_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier flagging: rows whose value deviates
    more than ``z_threshold`` sample standard deviations from their
    group mean — the anomaly gate of a metrics pipeline (and, over
    per-document loss/quality columns, a training-data one).

    Unpartitioned-window-free: group stats come from ONE partial→final
    aggregation, broadcast back onto the rows by a join on the (low
    cardinality) group key — never a per-row window over the whole
    table. Groups with stddev 0/NULL (constant or singleton) flag
    nothing.
    """
    stats = df.groupBy(*group_cols).agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_samp(value_col).alias("__sd"),
    )
    joined = df.join(F.broadcast(stats), group_cols)
    z = (F.col(value_col) - F.col("__mu")) / F.col("__sd")
    return (
        joined.filter(
            F.col("__sd").isNotNull()
            & (F.col("__sd") > 0)
            & (F.abs(z) > z_threshold)
        )
        .withColumn("zscore", round_half_up(z, 6))
        .drop("__mu", "__sd")
    )


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """Keep-latest upsert compaction: the newest row per key, ordered by
    ``order_cols`` (must be totally ordering — include a unique
    tiebreak). The argmax runs as ``max(struct(order..., payload...))``
    — a declarative aggregate with map-side partial merge, ONE shuffle
    of one struct per (task, key), versus the window row_number() form
    which shuffles every row and sorts each partition. This is the
    CDC/SCD "latest version wins" primitive of an ingest pipeline.
    """
    ordered = F.struct(*[F.col(c) for c in (*order_cols, *payload_cols)])
    agg = df.groupBy(*key_cols).agg(F.max(ordered).alias("__m"))
    return agg.select(
        *key_cols,
        *[F.col(f"__m.{c}").alias(f"last_{c}")
          for c in (*order_cols, *payload_cols)],
    )


def embedding_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-group centroid of an ``array<float>`` column — the cluster
    summary / class-prototype aggregate of an embedding pipeline.

    Computed as ``dim`` independent AVG aggregates over array element
    references: still ONE partial→final aggregation (each partial row
    carries dim doubles + a count), with no explode — the alternative
    posexplode→groupBy(group, pos) multiplies the shuffled row count by
    dim. Output is long-form (group, dim, centroid, n_vectors) so the
    result is schema-stable for any dim and trivially SQL-comparable.
    """
    aggs = [
        round_half_up(F.avg(F.col(vec_col)[i]), 6).alias(f"__c{i}")
        for i in range(dim)
    ]
    wide = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_vectors"), *aggs)
    return wide.select(
        group_col,
        "n_vectors",
        F.posexplode(F.array(*[F.col(f"__c{i}") for i in range(dim)])).alias(
            "dim", "centroid"
        ),
    )


def value_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    bin_width: float = 10.0,
) -> DataFrame:
    """Fixed-width histogram per group: bin = floor(value / width). One
    partial→final aggregation over (group, bin) — the shuffled row count
    is bounded by groups × bins regardless of input size, which is what
    makes distribution profiling viable as a standing job at 100 TB
    (contrast collecting values to the driver for numpy.histogram).
    NULL values fall out (no bin)."""
    bin_col = F.floor(F.col(value_col) / F.lit(bin_width)).cast("int")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            round_half_up(F.min(value_col), 6).alias("bin_min"),
            round_half_up(F.max(value_col), 6).alias("bin_max"),
        )
    )


def json_props_rollup(
    df: DataFrame,
    group_cols: list[str],
    json_col: str = "props",
    field: str = "k",
) -> DataFrame:
    """Schema-on-read aggregation over a JSON string column: parse with
    ``from_json`` (a codegen'd JVM expression — no Python, the parse
    fuses into the scan stage) and aggregate the extracted field.
    Malformed/missing JSON parses to NULL and drops out of SUM/AVG —
    the standard semi-structured ingestion contract. At scale, parsing
    at the scan beats a separate normalize-then-aggregate pass: the
    shuffle carries only (group, partial sums), never the JSON text.
    """
    parsed = F.from_json(F.col(json_col), f"{field} INT")
    return (
        df.select(*group_cols, parsed[field].alias("__f"))
        .groupBy(*group_cols)
        .agg(
            F.sum("__f").alias(f"sum_{field}"),
            round_half_up(F.avg("__f"), 6).alias(f"avg_{field}"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_PROFILE_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                    T.FloatType, T.DoubleType)


def profile_table(df: DataFrame, cols: list[str] | None = None,
                  round_to: int = 6, distinct_mode: str = "exact",
                  rsd: float = 0.01) -> DataFrame:
    """One-pass column profiler: per column, null count, exact distinct
    count, and type-appropriate stats (numeric min/max/avg; string
    min/max/avg-length; timestamps profiled as epoch-µs min/max).
    Output: one row per column with a fixed schema
    ``(col_name, n_rows, n_null, n_distinct, min_num, max_num, avg_num,
    min_str, max_str, avg_len)`` — slots that don't apply are NULL.

    The profiler the reference lacks entirely (its ``stats.parquet`` is
    per-partition row counts only, `prepare_ultra_fast.py`); this is the
    table-level pre-training data-quality pass.

    Scale: ONE Aggregate over ONE scan — all metrics for all columns
    reduce to a single row, then a driver-free explode fans it back out
    to per-column rows. The multiple COUNT(DISTINCT)s share the scan via
    Spark's Expand (input amplification = #distinct-aggs); at 100 TB
    swap `F.count_distinct` for `F.approx_count_distinct` — the rest of
    the plan is partial-aggregate-combining and shuffles ~one row per
    partition. Sums accumulate in DECIMAL(38,16) so avg is bit-portable
    (see `agg_decimal_scale` discipline); divisions are zero-guarded
    (an all-NULL column yields NULL avgs, not ±Inf/NaN).

    ``distinct_mode``: ``"exact"`` (default, oracle-checkable) uses
    COUNT(DISTINCT) — Spark's Expand amplifies the scan #cols-fold, the
    cost that dominates wide-table profiles. ``"approx"`` — the 100-TB
    default — swaps in ``approx_count_distinct`` (HLL++, relative
    error ``rsd``): no Expand, every metric partial-aggregates in one
    map pass, shuffle stays one sketch per column per partition. Same
    output schema; ``n_distinct`` is then an estimate.
    """
    if distinct_mode not in ("exact", "approx"):
        raise ValueError(f"distinct_mode must be exact|approx: "
                         f"{distinct_mode!r}")
    nd = (F.count_distinct if distinct_mode == "exact"
          else lambda c: F.approx_count_distinct(c, rsd))
    names = list(cols) if cols is not None else \
        [f.name for f in df.schema.fields]
    work = df
    kinds: dict[str, str] = {}
    for c in names:
        dt = work.schema[c].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            work = work.withColumn(c, epoch_micros(F.col(c)))
            kinds[c] = "ts"
        elif isinstance(dt, _PROFILE_NUMERIC):
            kinds[c] = "num"
        elif isinstance(dt, T.StringType):
            kinds[c] = "str"
        else:
            raise TypeError(f"profile_table: unsupported dtype for {c}: {dt}")

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in names:
        aggs += [F.count(c).alias(f"{c}__nn"),
                 nd(F.col(c)).alias(f"{c}__nd")]
        if kinds[c] in ("num", "ts"):
            aggs += [F.min(c).cast("double").alias(f"{c}__mn"),
                     F.max(c).cast("double").alias(f"{c}__mx")]
            if kinds[c] == "num":
                aggs.append(
                    F.round(F.sum(F.col(c).cast(_DEC12)),
                            round_to).cast("double").alias(f"{c}__sm"))
        else:
            aggs += [F.min(c).alias(f"{c}__mn"), F.max(c).alias(f"{c}__mx"),
                     F.sum(F.length(c)).alias(f"{c}__sl")]
    g = work.agg(*aggs)

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for c in names:
        nn = F.col(f"{c}__nn")
        fields = [F.lit(c).alias("col_name"),
                  (F.col("n_rows") - nn).alias("n_null"),
                  F.col(f"{c}__nd").alias("n_distinct")]
        if kinds[c] in ("num", "ts"):
            avg = (F.when(nn > 0, F.col(f"{c}__sm") / nn)
                   if kinds[c] == "num" else null_d)
            fields += [F.col(f"{c}__mn").alias("min_num"),
                       F.col(f"{c}__mx").alias("max_num"),
                       avg.alias("avg_num"),
                       null_s.alias("min_str"), null_s.alias("max_str"),
                       null_d.alias("avg_len")]
        else:
            fields += [null_d.alias("min_num"), null_d.alias("max_num"),
                       null_d.alias("avg_num"),
                       F.col(f"{c}__mn").alias("min_str"),
                       F.col(f"{c}__mx").alias("max_str"),
                       F.when(nn > 0, F.col(f"{c}__sl").cast("double") / nn)
                        .alias("avg_len")]
        structs.append(F.struct(*fields))
    return (g.select("n_rows", F.explode(F.array(*structs)).alias("p"))
             .select("p.col_name", "n_rows", "p.n_null", "p.n_distinct",
                     "p.min_num", "p.max_num", "p.avg_num",
                     "p.min_str", "p.max_str", "p.avg_len"))


def key_skew_report(df: DataFrame, key_col: str,
                    top_n: int = 10) -> DataFrame:
    """Key-distribution skew diagnostic for a prospective join/agg key:
    one row of ``(key_col, n_rows, n_keys, max_key_rows, top1_share,
    topn_rows, topn_share, avg_rows_per_key, skew_ratio)``.
    ``skew_ratio`` = heaviest key's rows over the per-key average — the
    number that decides between a plain shuffle join, AQE skew split,
    and explicit salting (`functions/skew.py`).

    Scale: ONE shuffle (count per key, map-side combined); the top-N is
    TakeOrderedAndProject over the counts frame (no global sort); the
    final joins are one-row × one-row. All ratios are double divisions
    of exact integers, so the report is bit-portable.
    """
    k = F.col(key_col)
    counts = df.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_key_rows"),
    )
    top = (counts.orderBy(F.col("n").desc(), F.col("k").asc())
           .limit(top_n).agg(F.sum("n").alias("topn_rows")))
    out = stats.crossJoin(top)
    return out.select(
        F.lit(key_col).alias("key_col"),
        "n_rows", "n_keys", "max_key_rows",
        (F.col("max_key_rows").cast("double") / F.col("n_rows"))
            .alias("top1_share"),
        "topn_rows",
        (F.col("topn_rows").cast("double") / F.col("n_rows"))
            .alias("topn_share"),
        (F.col("n_rows").cast("double") / F.col("n_keys"))
            .alias("avg_rows_per_key"),
        (F.col("max_key_rows").cast("double") * F.col("n_keys")
         / F.col("n_rows")).alias("skew_ratio"),
    )


def corr_pairs(df: DataFrame, cols: list[str], scale: int = 3) -> DataFrame:
    """Pairwise Pearson correlation over numeric columns, bit-portable:
    inputs are quantized to ``10^-scale`` units and ALL moments (n, Σx,
    Σy, Σx², Σy², Σxy) accumulate as exact integers (DECIMAL(38,0) here,
    HUGEINT in the oracle), so the covariance/variance numerators
    ``n·Σxy − Σx·Σy`` are computed exactly — no catastrophic
    cancellation and no partition-order float drift. Only the final
    ``cov / sqrt(varx · vary)`` runs in IEEE double (correctly-rounded
    ops on identical exact inputs ⇒ identical bits in any engine).
    Output: one row per pair ``(col_x, col_y, n_pairs, corr)``; a
    constant column yields NULL, never NaN/Inf.

    Scale: ONE Aggregate over ONE scan (conditional sums per pair —
    rows where either side is NULL drop from that pair only), partials
    map-side combined; the explode fan-out is len(cols)² driver-free
    rows. Bounds: exactness needs n·Σx² < 10³⁸ — at scale=3 that holds
    to ~10⁹ rows of 10⁵-magnitude values; lower `scale` before raising
    row count.
    """
    unit = F.lit(float(10 ** scale))
    q = {c: round_half_up(F.col(c).cast("double") * unit, 0)
            .cast(T.DecimalType(38, 0)) for c in cols}
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = []
    for a, b in pairs:
        m = F.col(a).isNotNull() & F.col(b).isNotNull()
        x, y = F.when(m, q[a]), F.when(m, q[b])
        p = f"{a}__{b}"
        aggs += [F.sum(F.when(m, F.lit(1)).otherwise(F.lit(0)))
                  .alias(f"{p}__n"),
                 F.sum(x).alias(f"{p}__sx"), F.sum(y).alias(f"{p}__sy"),
                 F.sum(x * x).alias(f"{p}__sxx"),
                 F.sum(y * y).alias(f"{p}__syy"),
                 F.sum(x * y).alias(f"{p}__sxy")]
    g = df.agg(*aggs)
    structs = []
    for a, b in pairs:
        p = f"{a}__{b}"
        n = F.col(f"{p}__n")
        sx, sy = F.col(f"{p}__sx"), F.col(f"{p}__sy")
        cov = n * F.col(f"{p}__sxy") - sx * sy
        varx = n * F.col(f"{p}__sxx") - sx * sx
        vary = n * F.col(f"{p}__syy") - sy * sy
        corr = F.when(
            (varx > 0) & (vary > 0),
            cov.cast("double")
            / F.sqrt(varx.cast("double") * vary.cast("double")))
        structs.append(F.struct(
            F.lit(a).alias("col_x"), F.lit(b).alias("col_y"),
            n.alias("n_pairs"), corr.alias("corr")))
    return (g.select(F.explode(F.array(*structs)).alias("p"))
             .select("p.col_x", "p.col_y", "p.n_pairs", "p.corr"))


def winsorized_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Winsorized (outlier-clipped) robust mean per group: values below
    the group's p_lo percentile clip up to it, above p_hi clip down,
    then a DECIMAL-accumulated mean — the robust location estimate for
    metric pipelines where a handful of corrupt readings would swamp a
    plain AVG. Output: ``(group…, p_lo, p_hi, n_rows, n_clip_lo,
    n_clip_hi, winsorized_mean)``.

    Determinism: the clip thresholds are the exact interpolated
    percentiles ROUNDED to 6 (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, the same property `analytics_quantiles` proves),
    so both twins clip at identical doubles; the clipped sum
    accumulates in DECIMAL(38,16). Plan: one stats aggregation per
    group (tiny frame, AQE broadcasts it back), one re-aggregation —
    never a per-row window. NULL values drop from mean and clip counts.
    """
    pct = F.percentile(F.col(value_col),
                       F.array(F.lit(p_lo), F.lit(p_hi)))
    stats = df.groupBy(*group_cols).agg(
        round_half_up(pct.getItem(0), 6).alias("p_lo"),
        round_half_up(pct.getItem(1), 6).alias("p_hi"),
    )
    j = df.join(stats, group_cols)
    x = F.col(value_col)
    clipped = (F.when(x < F.col("p_lo"), F.col("p_lo"))
               .when(x > F.col("p_hi"), F.col("p_hi"))
               .otherwise(x))
    dec = clipped.cast(_DEC12)
    return (
        j.groupBy(*group_cols, "p_lo", "p_hi")
        .agg(
            F.count(x).alias("n_rows"),
            F.sum(F.when(x < F.col("p_lo"), F.lit(1)).otherwise(F.lit(0)))
            .alias("n_clip_lo"),
            F.sum(F.when(x > F.col("p_hi"), F.lit(1)).otherwise(F.lit(0)))
            .alias("n_clip_hi"),
            round_half_up(F.sum(dec).cast("double") / F.count(x), 6)
            .alias("winsorized_mean"),
        )
        .select(*group_cols, "p_lo", "p_hi", "n_rows",
                "n_clip_lo", "n_clip_hi", "winsorized_mean")
    )


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust outlier flagging by median absolute deviation: rows with
    ``|x − median| > k·MAD`` where ``MAD = median(|x − median|)`` per
    group — the median-based counterpart of :func:`zscore_outliers`
    (a mean/stddev gate is itself dragged by the outliers it hunts;
    MAD has a 50% breakdown point). Groups with MAD 0/NULL flag
    nothing.

    Determinism: both medians are the exact interpolated percentile
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``) rounded to 6, so
    the twins compare identical doubles. Plan: two grouped
    aggregations over low-cardinality keys broadcast back onto the
    rows — never a per-row window over the table.
    """
    med = df.groupBy(*group_cols).agg(
        round_half_up(F.percentile(F.col(value_col), F.lit(0.5)), 6)
        .alias("med"))
    j = df.join(med, group_cols).withColumn(
        "dev", F.abs(F.col(value_col) - F.col("med")))
    mad = j.groupBy(*group_cols).agg(
        round_half_up(F.percentile(F.col("dev"), F.lit(0.5)), 6).alias("mad"))
    return (
        j.join(mad, group_cols)
        .filter((F.col("mad") > 0)
                & (F.col("dev") > F.lit(k) * F.col("mad")))
        .select(*group_cols, "event_id", value_col, "med", "mad",
                round_half_up(F.col("dev"), 6).alias("dev"))
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return mad_outliers(events, ["event_type"], "value")


_MAD_OUTLIERS_SQL = f"""
    WITH m AS (
        SELECT event_type, {_rs('quantile_cont(value, 0.5)', 6)} AS med
        FROM events GROUP BY event_type
    ),
    d AS (
        SELECT e.event_type, e.event_id, e.value, m.med,
               ABS(e.value - m.med) AS dev
        FROM events e JOIN m USING (event_type)
    ),
    s AS (
        SELECT event_type, {_rs('quantile_cont(dev, 0.5)', 6)} AS mad
        FROM d GROUP BY event_type
    )
    SELECT d.event_type, d.event_id, d.value, d.med, s.mad,
           {_rs('d.dev', 6)} AS dev
    FROM d JOIN s USING (event_type)
    WHERE s.mad > 0 AND d.dev > 3.0 * s.mad
"""


def q_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return winsorized_stats(events, ["event_type"], "value")


_WINSORIZED_SQL = f"""
    WITH s AS (
        SELECT event_type,
               {_rs('quantile_cont(value, 0.05)', 6)} AS p_lo,
               {_rs('quantile_cont(value, 0.95)', 6)} AS p_hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type, p_lo, p_hi,
           COUNT(value) AS n_rows,
           CAST(SUM(CASE WHEN value < p_lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clip_lo,
           CAST(SUM(CASE WHEN value > p_hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clip_hi,
           {_rs('''CAST(SUM(CAST(
               CASE WHEN value < p_lo THEN p_lo
                    WHEN value > p_hi THEN p_hi
                    ELSE value END AS DECIMAL(38, 12))) AS DOUBLE)
               / COUNT(value)''', 6)} AS winsorized_mean
    FROM events e JOIN s USING (event_type)
    GROUP BY e.event_type, p_lo, p_hi
"""


# --------------------------------------------------------------------------
# Driver entries
# --------------------------------------------------------------------------

def q_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir, register_views=False).table("orders")
    return top_n_per_group(
        orders, ["o_custkey"], "o_totalprice", 3, "o_orderkey"
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return running_sum(
        events, "user_id", ["ts", "event_id"], "value"
    ).select("user_id", "event_id", "running_sum")


def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return lag_delta_seconds(events, "user_id", "ts", "event_id").select(
        "user_id", "event_id", "delta_us"
    )


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    # The approx column is engine-specific (HLL++ vs DuckDB's sketch) —
    # exact column is the oracle-checked surface, approx is bounds-tested
    # in pytest; the driver entry exposes only the exact column.
    return distinct_count(events, ["event_type"], "user_id").select(
        "event_type", "n_distinct"
    )


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return group_quantiles(events, ["event_type"], "value")


def _grouping_sentinel(col: str) -> Column:
    """Render a ROLLUP/CUBE grouping key as a string: 'ALL' for subtotal
    rows (grouping flag = 1), 'NULL' for genuine data-null keys, else
    the value — unambiguous even when both occur (ADVICE r3)."""
    return F.when(F.col(f"__g_{col}") == 1, F.lit("ALL")).otherwise(
        F.coalesce(F.col(col).cast("string"), F.lit("NULL"))
    )


def retention_cohorts(
    events, user_col: str = "user_id", day_col: str = "day"
):
    """Cohort retention triangle — the product-analytics staple: users
    grouped by FIRST active day (their cohort), counted on each later
    active day as an offset from it. Returns
    (cohort_day, day_offset, n_users).

    Window-free: distinct (user, day) activity, a per-user MIN
    aggregation for the cohort day (narrow shuffle on user), one join
    back, one grouped distinct-count. The triangle is |days|² cells at
    most — a tiny output regardless of corpus size.
    """
    from pyspark.sql import functions as FF

    activity = events.select(user_col, day_col).distinct()
    cohort = activity.groupBy(user_col).agg(
        FF.min(day_col).alias("cohort_day")
    )
    joined = activity.join(cohort, user_col)
    return (
        joined.groupBy(
            "cohort_day",
            FF.datediff(FF.col(day_col), FF.col("cohort_day"))
            .alias("day_offset"),
        )
        .agg(FF.countDistinct(user_col).alias("n_users"))
    )


def pct_change_daily(
    events, key_col: str = "event_type", day_col: str = "day",
    value_col: str = "value",
):
    """Day-over-day percent change of per-key revenue — the reporting
    staple over the daily rollup: DECIMAL-accumulated daily sums, then
    lag() per key ordered by day (partitions bounded by days-per-key)
    and ONE portable division. First day per key has NULL change.
    Returns (key, day, dv, pct_change)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as FF
    from pyspark.sql import types as TT

    dec = _DEC12
    daily = events.groupBy(key_col, day_col).agg(
        FF.round(FF.sum(FF.col(value_col).cast(dec)), 4)
        .cast("double").alias("dv")
    )
    w = W.partitionBy(key_col).orderBy(FF.col(day_col).asc())
    prev = FF.lag("dv").over(w)
    # Guard the divisor: a zero-revenue previous day yields NULL here
    # under Spark's non-ANSI Divide but ±Infinity under DuckDB's IEEE
    # default — pin both twins to NULL explicitly.
    return daily.select(
        key_col, day_col, "dv",
        FF.when(
            prev != 0, round_half_up((FF.col("dv") - prev) / prev, 6)
        ).alias("pct_change"),
    )


def stickiness_daily(
    events, user_col: str = "user_id", ts_col: str = "ts"
):
    """DAU/WAU stickiness per day — the engagement ratio product teams
    track: distinct daily users over distinct users of the containing
    (Monday-anchored) week. Two distinct-count aggregations on bounded
    grains plus a broadcast join on week; one portable division.
    Returns (week, day, dau, wau, stickiness)."""
    from pyspark.sql import functions as FF

    base = events.select(
        FF.col(user_col).alias("u"),
        FF.date_trunc("week", FF.col(ts_col)).cast("date").alias("week"),
        FF.col(ts_col).cast("date").alias("day"),
    )
    dau = base.groupBy("week", "day").agg(
        FF.countDistinct("u").alias("dau"))
    wau = base.groupBy("week").agg(FF.countDistinct("u").alias("wau"))
    return (
        dau.join(FF.broadcast(wau), "week")
        .select(
            "week", "day", "dau", "wau",
            round_half_up(
                FF.col("dau").cast("double") / FF.col("wau").cast("double"),
                6,
            ).alias("stickiness"),
        )
    )


def centroid_similarity(
    df, group_col: str = "label", vec_col: str = "embedding",
    dim: int = 64,
):
    """Pairwise cosine similarity between per-group embedding centroids
    — the inter-class-confusability summary a clustering or labeling
    pipeline reports. Centroids are 6dp-rounded per dimension (so both
    engines fold identical doubles), then the groups × groups pair
    frame (tiny — labels, not documents) scores with the portable
    zip_with/aggregate dot product. Returns
    (label_a, label_b, cos_sim) for a < b.
    """
    from pyspark.sql import functions as FF

    from query_planner_optimizer_spark.functions.vector import (
        cosine_similarity,
    )

    aggs = [
        round_half_up(FF.avg(FF.col(vec_col)[i]), 6).alias(f"__c{i}")
        for i in range(dim)
    ]
    cents = df.groupBy(group_col).agg(*aggs).select(
        FF.col(group_col),
        FF.array(*[FF.col(f"__c{i}") for i in range(dim)]).alias("__c"),
    )
    a = cents.select(FF.col(group_col).alias("label_a"),
                     FF.col("__c").alias("__ca"))
    b = cents.select(FF.col(group_col).alias("label_b"),
                     FF.col("__c").alias("__cb"))
    pairs = a.join(b, FF.col("label_a") < FF.col("label_b"))
    return pairs.select(
        "label_a", "label_b",
        round_half_up(
            cosine_similarity(FF.col("__ca"), FF.col("__cb")), 6
        ).alias("cos_sim"),
    )


def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = cached_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return centroid_similarity(emb)


def q_stickiness_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return stickiness_daily(events)


def q_pct_change_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return pct_change_daily(events)


def new_vs_returning(
    events, user_col: str = "user_id", ts_col: str = "ts"
):
    """New vs returning daily actives — the growth-accounting split:
    a user is NEW on their first-ever active day, RETURNING on every
    later one. Same bounded machinery as the retention triangle
    (distinct activity + per-user MIN + join back); returns
    (day, n_new, n_returning)."""
    from pyspark.sql import functions as FF

    activity = events.select(
        FF.col(user_col).alias("u"), FF.col(ts_col).cast("date").alias("day")
    ).distinct()
    first = activity.groupBy("u").agg(FF.min("day").alias("first_day"))
    flagged = activity.join(first, "u")
    return (
        flagged.groupBy("day")
        .agg(
            FF.count(FF.when(FF.col("day") == FF.col("first_day"), 1))
            .alias("n_new"),
            FF.count(FF.when(FF.col("day") != FF.col("first_day"), 1))
            .alias("n_returning"),
        )
    )


def power_user_curve(
    events, user_col: str = "user_id", ts_col: str = "ts"
):
    """Power-user curve: how many users were active on exactly N
    distinct days — the engagement-distribution chart (the Q13
    count-of-counts shape applied to activity). Two bounded
    aggregations; output rows ≤ days in range."""
    from pyspark.sql import functions as FF

    activity = events.select(
        FF.col(user_col).alias("u"), FF.col(ts_col).cast("date").alias("day")
    ).distinct()
    per_user = activity.groupBy("u").agg(
        FF.count(FF.lit(1)).alias("n_active_days"))
    return per_user.groupBy("n_active_days").agg(
        FF.count(FF.lit(1)).alias("n_users"))


def q_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return power_user_curve(events)


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return new_vs_returning(events)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return retention_cohorts(events)


def q_rollup_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    # Subtotal rows emit 'ALL' sentinels keyed on grouping() — NOT on the
    # key being NULL, so a data-NULL group renders 'NULL', never 'ALL'
    # (the sentinels would otherwise collide; ADVICE r3). String-typed on
    # both engines (date-vs-NaT NULL encodings differ across engines).
    return rollup_counts(events, ["day", "event_type"], "value").select(
        _grouping_sentinel("day").alias("day"),
        _grouping_sentinel("event_type").alias("event_type"),
        "n_rows",
        "sum_value",
    )


#: Fixed pivot column list for the crosstab entry (events event_type
#: domain) — explicit so the plan is single-shuffle (see pivot_values).
PIVOT_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_cube_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    # Same sentinel treatment as the ROLLUP entry: 'ALL' only for
    # grouping()=1 subtotal rows, 'NULL' for data-null keys.
    return cube_counts(events, ["day", "event_type"], "value").select(
        _grouping_sentinel("day").alias("day"),
        _grouping_sentinel("event_type").alias("event_type"),
        "n_rows",
        "sum_value",
    )


def q_grouping_sets_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS ((day, event_type), (event_type), ()) —
    skips the (day) subtotal a ROLLUP would force and adds the grand
    total a bare GROUP BY lacks. Sentinels as in the ROLLUP/CUBE
    entries: 'ALL' keyed on grouping(), 'NULL' for data-null keys."""
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return grouping_sets_counts(
        events,
        [["day", "event_type"], ["event_type"], []],
        ["day", "event_type"],
        "value",
    ).select(
        _grouping_sentinel("day").alias("day"),
        _grouping_sentinel("event_type").alias("event_type"),
        "n_rows",
        "sum_value",
    )


def q_pivot_day_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    out = pivot_values(
        events, "day", "event_type", PIVOT_EVENT_TYPES, "value"
    )
    return out.select(F.col("day").cast("string").alias("day"),
                      *PIVOT_EVENT_TYPES)


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted inner join (functions/skew.salted_join) with the
    PLAIN SQL join as its oracle — proves selective salting (hot fact
    keys spread over salt buckets, dim rows replicated per bucket, cold
    keys joined plainly) is semantics-preserving. The 10 busiest
    customers are forced hot so the salted branch really executes; the
    post-join aggregate accumulates in DECIMAL so the union's partition
    order cannot move the rounded sum."""
    from query_planner_optimizer_spark.functions.skew import salted_join

    cat = Catalog(spark, sf_dir, register_views=False)
    orders = cat.table("orders")
    customer = cat.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    hot = [
        r[0]
        for r in orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("o_custkey"))
        .limit(10)
        .collect()
    ]
    joined = salted_join(
        orders, customer, "o_custkey", salt_buckets=8, hot_keys=hot
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast(_DEC12)), 2)
        .cast("double")
        .alias("sum_price"),
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase salted aggregation (functions/skew.py) with
    the PLAIN GROUP BY as its oracle — the entry proves the salting
    rewrite is semantics-preserving. Measures accumulate in DECIMAL so
    the extra partial→final reduction step cannot move a rounded double
    sum across a boundary (exact addition is associative)."""
    from query_planner_optimizer_spark.functions.skew import (
        salted_groupby_agg,
    )

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    pre = events.withColumn("__vdec", F.col("value").cast(_DEC12))
    out = salted_groupby_agg(
        pre,
        ["event_type"],
        {"n_rows": ("count", "*"), "__sum_dec": ("sum", "__vdec")},
        salt_buckets=32,
    )
    return out.select(
        "event_type",
        "n_rows",
        F.round("__sum_dec", 6).cast("double").alias("sum_value"),
    )


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return zscore_outliers(
        events.select("event_id", "event_type", "value"),
        ["event_type"], "value",
    ).select("event_id", "event_type", "value", "zscore")


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    out = latest_per_key(
        events, ["user_id"], ["ts", "event_id"], ["event_type", "value"]
    )
    # Exact integer µs instead of a raw timestamp column: the driver's
    # nano-precision source stringifies differently per engine.
    return out.select(
        "user_id",
        epoch_micros("last_ts").alias("last_ts_us"),
        "last_event_id", "last_event_type", "last_value",
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = cached_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return embedding_centroids(emb)


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return json_props_rollup(events, ["event_type"])


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return value_histogram(events, ["event_type"], "value")


def q_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir, register_views=False).table("lineitem")
    return corr_pairs(li, ["l_quantity", "l_extendedprice", "l_discount"])


def _corr_oracle(table: str, cols: list[str], scale: int = 3) -> str:
    """Twin of :func:`corr_pairs`: HUGEINT-exact moments, identical
    final IEEE combine."""
    unit = float(10 ** scale)
    qsel = ", ".join(
        f"CAST({_rs(f'CAST({c} AS DOUBLE) * {unit!r}', 0)} AS HUGEINT) AS {c}"
        for c in cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    moments, selects = [], []
    for a, b in pairs:
        p, m = f"{a}__{b}", f"{a} IS NOT NULL AND {b} IS NOT NULL"
        x, y = (f"CASE WHEN {m} THEN {a} END",
                f"CASE WHEN {m} THEN {b} END")
        moments += [
            f"CAST(SUM(CASE WHEN {m} THEN 1 ELSE 0 END) AS HUGEINT)"
            f" AS {p}__n",
            f"SUM({x}) AS {p}__sx", f"SUM({y}) AS {p}__sy",
            f"SUM(({x}) * ({x})) AS {p}__sxx",
            f"SUM(({y}) * ({y})) AS {p}__syy",
            f"SUM(({x}) * ({y})) AS {p}__sxy"]
        cov = f"({p}__n * {p}__sxy - {p}__sx * {p}__sy)"
        vx = f"({p}__n * {p}__sxx - {p}__sx * {p}__sx)"
        vy = f"({p}__n * {p}__syy - {p}__sy * {p}__sy)"
        selects.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y,\n"
            f"       CAST({p}__n AS BIGINT) AS n_pairs,\n"
            f"       CASE WHEN {vx} > 0 AND {vy} > 0 THEN\n"
            f"            CAST({cov} AS DOUBLE)\n"
            f"            / sqrt(CAST({vx} AS DOUBLE)"
            f" * CAST({vy} AS DOUBLE)) END AS corr\n"
            f"FROM m")
    return (f"WITH src AS (SELECT {qsel} FROM {table}),\n"
            f"m AS (SELECT {', '.join(moments)} FROM src)\n"
            + "\nUNION ALL\n".join(selects))


_CORR_PAIRS_SQL = _corr_oracle(
    "lineitem", ["l_quantity", "l_extendedprice", "l_discount"])


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return key_skew_report(events, "user_id")


_KEY_SKEW_SQL = """
    WITH c AS (
        SELECT user_id AS k, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
               COUNT(*) AS n_keys, MAX(n) AS max_key_rows
        FROM c
    ),
    t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS topn_rows FROM (
            SELECT n FROM c ORDER BY n DESC, k ASC LIMIT 10
        )
    )
    SELECT 'user_id' AS key_col, n_rows, n_keys, max_key_rows,
           CAST(max_key_rows AS DOUBLE) / n_rows AS top1_share,
           topn_rows,
           CAST(topn_rows AS DOUBLE) / n_rows AS topn_share,
           CAST(n_rows AS DOUBLE) / n_keys AS avg_rows_per_key,
           CAST(max_key_rows AS DOUBLE) * n_keys / n_rows AS skew_ratio
    FROM s, t
"""


def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return profile_table(events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"))


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import spread
    docs = spread(cached_parquet(spark, f"{sf_dir}/documents.parquet"))
    return profile_table(docs.select(
        "doc_id", "text", "lang", "source", "n_chars"))


_PROFILE_EVENT_COLS = ["event_id", "ts", "user_id", "event_type",
                       "value", "props"]


def q_profile_events_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB profile mode: ``profile_table(distinct_mode="approx")``
    — HLL++ estimates replace COUNT(DISTINCT), removing the Expand
    #cols-fold scan amplification that dominates the exact profile
    (SCALE.md r6: 2.9 s for 4 columns). The gate computes the exact
    distincts alongside (one extra agg, gate-scale only; a deployment
    runs the approx pass alone) and emits the exact value plus an
    ``approx_ok`` bound flag — HLL++ is hash-deterministic, so the flag
    is stable, and the oracle checks every exact column + TRUE."""
    events = Catalog(spark, sf_dir, register_views=False).table("events")
    src = events.select(*_PROFILE_EVENT_COLS)
    rsd = 0.05  # single source for the profile call AND the gate bound
    ap = profile_table(src, distinct_mode="approx", rsd=rsd)
    ex = src.agg(*[F.count_distinct(F.col(c)).alias(c)
                   for c in _PROFILE_EVENT_COLS])
    ex_long = ex.select(F.explode(F.map_from_arrays(
        F.array(*[F.lit(c) for c in _PROFILE_EVENT_COLS]),
        F.array(*[F.col(c) for c in _PROFILE_EVENT_COLS]),
    )).alias("col_name", "nd_exact"))
    j = ap.join(F.broadcast(ex_long), "col_name")
    err = F.abs(F.col("n_distinct") - F.col("nd_exact"))
    bound = F.greatest(F.lit(3.0),
                       F.lit(4 * rsd) * F.col("nd_exact"))
    return j.select(
        "col_name", "n_rows", "n_null",
        F.col("nd_exact").alias("n_distinct"),
        "min_num", "max_num", "avg_num", "min_str", "max_str", "avg_len",
        (err <= bound).alias("approx_ok"),
    ).orderBy("col_name")


def _profile_oracle_col(label: str, expr: str, kind: str) -> str:
    """One UNION-ALL branch of the profiler oracle, twin-identical to
    the engine's expression tree (decimal-accumulated avg, zero-guarded
    division, NULL slots for inapplicable metrics)."""
    head = (f"SELECT '{label}' AS col_name, COUNT(*) AS n_rows,\n"
            f"       COUNT(*) - COUNT({expr}) AS n_null,\n"
            f"       COUNT(DISTINCT {expr}) AS n_distinct,\n")
    if kind in ("num", "ts"):
        avg = ("CASE WHEN COUNT({x}) > 0 THEN "
               "CAST(ROUND(SUM(CAST({x} AS DECIMAL(38, 12))), 6) AS DOUBLE)"
               " / COUNT({x}) END").format(x=expr) \
            if kind == "num" else "CAST(NULL AS DOUBLE)"
        body = (f"       CAST(MIN({expr}) AS DOUBLE) AS min_num,\n"
                f"       CAST(MAX({expr}) AS DOUBLE) AS max_num,\n"
                f"       {avg} AS avg_num,\n"
                f"       CAST(NULL AS VARCHAR) AS min_str,\n"
                f"       CAST(NULL AS VARCHAR) AS max_str,\n"
                f"       CAST(NULL AS DOUBLE) AS avg_len\n")
    else:
        body = (f"       CAST(NULL AS DOUBLE) AS min_num,\n"
                f"       CAST(NULL AS DOUBLE) AS max_num,\n"
                f"       CAST(NULL AS DOUBLE) AS avg_num,\n"
                f"       MIN({expr}) AS min_str,\n"
                f"       MAX({expr}) AS max_str,\n"
                f"       CASE WHEN COUNT({expr}) > 0 THEN "
                f"CAST(SUM(LENGTH({expr})) AS DOUBLE) / COUNT({expr}) END"
                f" AS avg_len\n")
    return head + body + "FROM src"


_PROFILE_EVENTS_SQL = (
    "WITH src AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,\n"
    "                    event_type, value, props FROM events)\n"
    + "\nUNION ALL\n".join([
        _profile_oracle_col("event_id", "event_id", "num"),
        _profile_oracle_col("ts", "ts_us", "ts"),
        _profile_oracle_col("user_id", "user_id", "num"),
        _profile_oracle_col("event_type", "event_type", "str"),
        _profile_oracle_col("value", "value", "num"),
        _profile_oracle_col("props", "props", "str"),
    ]))

_PROFILE_DOCUMENTS_SQL = (
    "WITH src AS (SELECT doc_id, text, lang, source, n_chars\n"
    "             FROM documents)\n"
    + "\nUNION ALL\n".join([
        _profile_oracle_col("doc_id", "doc_id", "num"),
        _profile_oracle_col("text", "text", "str"),
        _profile_oracle_col("lang", "lang", "str"),
        _profile_oracle_col("source", "source", "str"),
        _profile_oracle_col("n_chars", "n_chars", "num"),
    ]))


def entry_queries() -> dict[str, Callable]:
    return {
        "analytics_json_props": q_json_props,
        "analytics_value_histogram": q_value_histogram,
        "analytics_latest_per_key": q_latest_event_per_user,
        "analytics_retention_cohorts": q_retention_cohorts,
        "analytics_new_vs_returning": q_new_vs_returning,
        "analytics_power_user_curve": q_power_user_curve,
        "analytics_pct_change_daily": q_pct_change_daily,
        "analytics_stickiness_daily": q_stickiness_daily,
        "analytics_centroid_similarity": q_centroid_similarity,
        "analytics_embedding_centroids": q_embedding_centroids,
        "analytics_zscore_outliers": q_zscore_outliers,
        "analytics_topn_per_group": q_topn_orders,
        "analytics_running_sum": q_running_sum,
        "analytics_lag_delta": q_lag_delta,
        "analytics_distinct_users": q_distinct_users,
        "analytics_quantiles": q_value_quantiles,
        "analytics_rollup_counts": q_rollup_day_type,
        "analytics_cube_counts": q_cube_day_type,
        "analytics_grouping_sets": q_grouping_sets_day_type,
        "analytics_pivot_day_by_type": q_pivot_day_by_type,
        "analytics_salted_agg": q_salted_agg,
        "dsl_join_salted": q_salted_join,
        "analytics_profile_events": q_profile_events,
        "analytics_profile_documents": q_profile_documents,
        "analytics_profile_approx": q_profile_events_approx,
        "analytics_key_skew": q_key_skew,
        "analytics_corr_pairs": q_corr_pairs,
        "analytics_winsorized": q_winsorized,
        "analytics_mad_outliers": q_mad_outliers,
    }


def entry_oracles() -> dict[str, str]:
    topn = """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER)
                       AS rn
            FROM orders
        ) WHERE rn <= 3
    """
    run_sum = f"""
        SELECT user_id, event_id,
               {_rs('''SUM(value) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)''', 6)} AS running_sum
        FROM events
    """
    lag_d = """
        SELECT user_id, event_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id)) AS delta_us
        FROM events
    """
    distinct = """
        SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
        FROM events GROUP BY event_type
    """
    quantiles = f"""
        SELECT event_type,
               {_rs('quantile_cont(value, 0.5)', 6)} AS p50,
               {_rs('quantile_cont(value, 0.9)', 6)} AS p90,
               {_rs('quantile_cont(value, 0.99)', 6)} AS p99
        FROM events GROUP BY event_type
    """
    rollup = """
        SELECT CASE WHEN g_day = 1 THEN 'ALL'
                    ELSE COALESCE(CAST(day AS VARCHAR), 'NULL') END AS day,
               CASE WHEN g_etype = 1 THEN 'ALL'
                    ELSE COALESCE(event_type, 'NULL') END AS event_type,
               n_rows, sum_value
        FROM (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   GROUPING(CAST(ts AS DATE)) AS g_day,
                   GROUPING(event_type) AS g_etype,
                   COUNT(*) AS n_rows,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 12))), 6)
                        AS DOUBLE) AS sum_value
            FROM events GROUP BY ROLLUP(CAST(ts AS DATE), event_type)
        )
    """
    cube = """
        SELECT CASE WHEN g_day = 1 THEN 'ALL'
                    ELSE COALESCE(CAST(day AS VARCHAR), 'NULL') END AS day,
               CASE WHEN g_etype = 1 THEN 'ALL'
                    ELSE COALESCE(event_type, 'NULL') END AS event_type,
               n_rows, sum_value
        FROM (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   GROUPING(CAST(ts AS DATE)) AS g_day,
                   GROUPING(event_type) AS g_etype,
                   COUNT(*) AS n_rows,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 12))), 6)
                        AS DOUBLE) AS sum_value
            FROM events GROUP BY CUBE(CAST(ts AS DATE), event_type)
        )
    """
    gsets = """
        SELECT CASE WHEN g_day = 1 THEN 'ALL'
                    ELSE COALESCE(CAST(day AS VARCHAR), 'NULL') END AS day,
               CASE WHEN g_etype = 1 THEN 'ALL'
                    ELSE COALESCE(event_type, 'NULL') END AS event_type,
               n_rows, sum_value
        FROM (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   GROUPING(CAST(ts AS DATE)) AS g_day,
                   GROUPING(event_type) AS g_etype,
                   COUNT(*) AS n_rows,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 12))), 6)
                        AS DOUBLE) AS sum_value
            FROM events
            GROUP BY GROUPING SETS ((CAST(ts AS DATE), event_type),
                                    (event_type), ())
        )
    """
    pivot_measures = ", ".join(
        f"CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 12))) "
        f"FILTER (WHERE event_type = '{v}'), 6) AS DOUBLE) AS {v}"
        for v in PIVOT_EVENT_TYPES
    )
    pivot = f"""
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, {pivot_measures}
        FROM events GROUP BY CAST(ts AS DATE)
    """
    zscore = f"""
        WITH stats AS (
            SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               {_rs('(e.value - s.mu) / s.sd', 6)} AS zscore
        FROM events e JOIN stats s ON e.event_type = s.event_type
        WHERE s.sd IS NOT NULL AND s.sd > 0
          AND ABS((e.value - s.mu) / s.sd) > 3.0
    """
    latest = """
        SELECT user_id, epoch_us(ts) AS last_ts_us,
               event_id AS last_event_id, event_type AS last_event_type,
               value AS last_value
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """
    centroids = f"""
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(d.dim AS INTEGER) AS dim,
               {_rs('AVG(embedding[d.dim + 1])', 6)} AS centroid
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
        GROUP BY label, d.dim
    """
    json_props = f"""
        SELECT event_type,
               CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER))
                    AS BIGINT) AS sum_k,
               {_rs("AVG(CAST(json_extract(props, '$.k') AS INTEGER))", 6)}
                   AS avg_k,
               COUNT(*) AS n_rows
        FROM events GROUP BY event_type
    """
    histogram = f"""
        SELECT event_type, CAST(floor(value / 10.0) AS INTEGER) AS bin,
               COUNT(*) AS n_rows,
               {_rs('MIN(value)', 6)} AS bin_min,
               {_rs('MAX(value)', 6)} AS bin_max
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, floor(value / 10.0)
    """
    return {
        "analytics_json_props": json_props,
        "analytics_value_histogram": histogram,
        "analytics_latest_per_key": latest,
        "analytics_centroid_similarity": f"""
            WITH c0 AS (
                SELECT label, d.i AS i,
                       {_rs('AVG(embedding[d.i])', 6)} AS v
                FROM embeddings
                CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d
                GROUP BY label, d.i
            ),
            c AS (
                SELECT label, list(v ORDER BY i) AS cv FROM c0
                GROUP BY label
            )
            SELECT a.label AS label_a, b.label AS label_b,
                   {_rs('''list_dot_product(a.cv, b.cv)
                         / (sqrt(list_dot_product(a.cv, a.cv))
                            * sqrt(list_dot_product(b.cv, b.cv)))''', 6)}
                       AS cos_sim
            FROM c a JOIN c b ON a.label < b.label
        """,
        "analytics_stickiness_daily": f"""
            WITH base AS (
                SELECT user_id AS u,
                       CAST(date_trunc('week', ts) AS DATE) AS week,
                       CAST(ts AS DATE) AS day
                FROM events
            ),
            dau AS (
                SELECT week, day, COUNT(DISTINCT u) AS dau
                FROM base GROUP BY 1, 2
            ),
            wau AS (
                SELECT week, COUNT(DISTINCT u) AS wau FROM base GROUP BY 1
            )
            SELECT dau.week, dau.day, dau.dau, wau.wau,
                   {_rs('CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE)', 6)}
                       AS stickiness
            FROM dau JOIN wau USING (week)
        """,
        "analytics_pct_change_daily": f"""
            WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 12))), 4)
                            AS DOUBLE) AS dv
                FROM events GROUP BY 1, 2
            )
            SELECT event_type, day, dv,
                   CASE WHEN lag(dv) OVER w <> 0 THEN
                        {_rs('(dv - lag(dv) OVER w) / lag(dv) OVER w', 6)}
                   END AS pct_change
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
        """,
        "analytics_power_user_curve": """
            WITH t AS (
                SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
                FROM events
            ),
            p AS (SELECT u, COUNT(*) AS n_active_days FROM t GROUP BY u)
            SELECT n_active_days, COUNT(*) AS n_users
            FROM p GROUP BY n_active_days
        """,
        "analytics_new_vs_returning": """
            WITH t AS (
                SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
                FROM events
            ),
            f AS (
                SELECT u, MIN(day) AS first_day FROM t GROUP BY u
            )
            SELECT t.day,
                   COUNT(CASE WHEN t.day = f.first_day THEN 1 END)
                       AS n_new,
                   COUNT(CASE WHEN t.day <> f.first_day THEN 1 END)
                       AS n_returning
            FROM t JOIN f USING (u)
            GROUP BY t.day
        """,
        "analytics_retention_cohorts": """
            WITH t AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events
            ),
            c AS (
                SELECT user_id, MIN(day) AS cohort_day FROM t
                GROUP BY user_id
            )
            SELECT c.cohort_day,
                   date_diff('day', c.cohort_day, t.day) AS day_offset,
                   COUNT(DISTINCT t.user_id) AS n_users
            FROM t JOIN c USING (user_id)
            GROUP BY 1, 2
        """,
        "analytics_embedding_centroids": centroids,
        "analytics_zscore_outliers": zscore,
        "analytics_topn_per_group": topn,
        "analytics_running_sum": run_sum,
        "analytics_lag_delta": lag_d,
        "analytics_distinct_users": distinct,
        "analytics_quantiles": quantiles,
        "analytics_rollup_counts": rollup,
        "analytics_cube_counts": cube,
        "analytics_grouping_sets": gsets,
        "analytics_pivot_day_by_type": pivot,
        "analytics_salted_agg": """
        SELECT event_type, COUNT(*) AS n_rows,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 12))), 6)
                    AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type
    """,
        # The PLAIN join is the salted join's oracle: equality proves
        # the selective-salting rewrite is semantics-preserving.
        "dsl_join_salted": """
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38, 12))), 2)
                    AS DOUBLE) AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
        "analytics_profile_events": _PROFILE_EVENTS_SQL,
        "analytics_profile_documents": _PROFILE_DOCUMENTS_SQL,
        # approx mode: every exact column is the same profile oracle;
        # the HLL bound flag must come out TRUE for every column
        "analytics_profile_approx": (
            "SELECT p.*, TRUE AS approx_ok FROM (\n"
            + _PROFILE_EVENTS_SQL + "\n) p ORDER BY col_name"
        ),
        "analytics_key_skew": _KEY_SKEW_SQL,
        "analytics_corr_pairs": _CORR_PAIRS_SQL,
        "analytics_winsorized": _WINSORIZED_SQL,
        "analytics_mad_outliers": _MAD_OUTLIERS_SQL,
    }
