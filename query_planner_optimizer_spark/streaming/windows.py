"""Structured Streaming operators over the events stream.

The reference has no streaming surface (SURVEY.md §2.5) — this module is
part of the beyond-reference pipeline layer. Design rule: every
transformation is written against a plain DataFrame so the SAME function
serves batch (testdata parquet) and streaming (``readStream`` +
watermark) — the batch twin is what the DuckDB oracle checks, the
streaming path is exercised with ``trigger(availableNow=True)`` in tests.

- :func:`hourly_rollup` — tumbling event-time window aggregation
  (watermarked in streaming mode for late-data state eviction).
- :func:`sessionize` — per-user session windows with an inactivity gap
  (built-in ``session_window``; state eviction via the same watermark).

Scale: windowed/session aggregation shuffles on (key, window); state
store size is bounded by the watermark horizon. At 100 TB/day you'd
also set ``spark.sql.streaming.statefulOperator.*`` sizing and an RnD
RocksDB state store — noted here, not configurable knobs of this repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from query_planner_optimizer_spark.dsl.compiler import agg_decimal_scale
from query_planner_optimizer_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up as _rs,
)
from query_planner_optimizer_spark.functions.timeexpr import epoch_micros

#: Driver testdata events schema (TESTDATA.md) — needed explicitly for
#: readStream (streaming sources don't infer schemas).
EVENTS_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_events_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source stream over a directory of events parquet files."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(dir_path)
    )


def hourly_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time rollup: (window_start, event_type) →
    count + sum(value). Pass ``watermark`` in streaming mode."""
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(f"decimal(38, {agg_decimal_scale(6)})")), 6)
            .cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding (hopping) event-time rollup: each event contributes to
    window/slide overlapping windows (4 here). Same state story as the
    tumbling rollup — state per (window, key), watermark-evicted — with
    a 4× state multiplier, which is the price of the smoother series."""
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.window(F.col(ts_col), window, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(f"decimal(38, {agg_decimal_scale(6)})")), 6)
            .cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def topk_trending(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    k: int = 3,
    ts_col: str = "ts",
) -> DataFrame:
    """Top-k trending keys per sliding event-time window: hopping
    counts per (window, event_type), ranked within each window
    (count desc, key asc tiebreak), top ``k`` kept. The "what's hot
    right now" standing query.

    Streaming shape: the windowed COUNT is an ordinary watermark-
    evicted streaming aggregate; the per-window rank is NOT
    append-streamable (a later event can reorder a window), so the
    production pattern is rank-in-foreachBatch over the maintained
    counts — which is exactly this batch form, re-run per trigger over
    a grain-bounded frame (windows × keys, independent of event
    volume). Deterministic: integer counts, total tiebreak.
    """
    counts = (
        events.groupBy(
            F.window(F.col(ts_col), window, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events")
    )
    from pyspark.sql import Window

    rw = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(rw).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def q_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return topk_trending(events)


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = None,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-key session windows with an inactivity gap: a session closes
    when no event arrives for ``gap``. Returns one row per session:
    (user_id, session_start, session_end, n_events, sum_value)."""
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL accumulation: same ulp-at-the-ROUND-boundary
            # hazard the sf0.1 sweep caught in gapfill — per-session
            # double sums are usually tiny but not provably safe.
            F.round(F.sum(F.col("value").cast(f"decimal(38, {agg_decimal_scale(6)})")), 6)
            .cast("double").alias("sum_value"),
        )
        .select(
            F.col(key_col),
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop repeated keys, keeping the first
    arrival. In streaming mode uses ``dropDuplicatesWithinWatermark`` —
    state holds one entry per key and is EVICTED once the watermark
    passes it, so the state store is bounded by the duplicate-arrival
    horizon instead of growing with the stream (the property that makes
    streaming dedup viable at all at 100 TB/day). Batch mode (no
    watermark possible without a stream) uses plain dropDuplicates.

    Output rows are whichever arrival won; callers wanting a
    deterministic comparison project the key columns (tests and the
    driver entry do).
    """
    keys = key_cols or ["event_id"]
    if events.isStreaming:
        wm = events.withWatermark(ts_col, watermark or "1 hour")
        return wm.dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "30 minutes",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval (attribution) join: every purchase within
    ``window`` AFTER a same-user click, emitted as
    (click_id, purchase_id, user_id, delay_us, purchase_value).

    In streaming mode both sides carry watermarks and the time-interval
    predicate bounds the join state: Spark evicts click state once the
    purchase-side watermark passes ``click_ts + window`` and vice versa
    — without the interval bound a stream-stream join's state grows
    forever, so the bound is what makes this viable at 100 TB/day. The
    same code IS the batch twin (watermark=None): Catalyst plans the
    equi-key + range residual directly.

    Contrast with :func:`operators.temporal.range_join`: that is the
    bucketized batch formulation (explode to coarse buckets, pure
    equi-join); this is the native interval-condition form Structured
    Streaming requires. Both express the same semantics; tests pin the
    stream result to the batch twin.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if watermark is not None:
        c = c.withWatermark("click_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (c["c_user"] == p["p_user"])
        & (p["purchase_ts"] >= c["click_ts"])
        & (p["purchase_ts"] < c["click_ts"] + F.expr(f"INTERVAL {window}"))
    )
    # user_id coalesces across sides: identical to c_user for inner
    # and left (their click side is always present) and required for
    # the FULL OUTER form, where purchase-only rows carry a NULL click
    # side — one projection, so no drift across the three variants.
    return c.join(p, cond, how).select(
        F.col("click_id"),
        F.col("purchase_id"),
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        (epoch_micros("purchase_ts") - epoch_micros("click_ts")).alias(
            "delay_us"
        ),
        round_half_up(F.col("purchase_value"), 6).alias("purchase_value"),
    )


def interval_join_left(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """LEFT OUTER interval join: every click, attributed to each
    purchase within ``window`` after it — or emitted ONCE with NULL
    purchase columns if none arrives. The outer variant is what an
    attribution pipeline actually ships: unconverted clicks are the
    denominator of any conversion rate, and dropping them (inner join)
    silently biases the metric.

    In streaming mode the unmatched-click emission is watermark-driven:
    a click's NULL row can only be emitted once the purchase-side
    watermark passes ``click_ts + window`` (before that a matching
    purchase could still arrive), so outer results trail the stream by
    the interval + watermark delay — bounded state, bounded lateness,
    same eviction contract as the inner form. Batch mode (the twin the
    oracle checks) is a plain left join with the interval condition.
    Same plan as :func:`interval_join` but for the join type — one
    body, so the condition/projection can never drift between twins.
    """
    return interval_join(clicks, purchases, window=window,
                         watermark=watermark, how="left_outer")


def interval_join_full(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """FULL OUTER interval join (r12): both unmatched directions emit
    once — unconverted clicks with NULL purchase columns (the
    conversion-rate denominator, as in the left form) AND orphan
    purchases with NULL click columns (purchases no click can claim:
    the attribution-coverage gap an ads pipeline audits). ``user_id``
    coalesces across sides so it is never NULL.

    Streaming mode: Structured Streaming supports full outer
    stream-stream joins under the same contract as the outer forms —
    watermarks on both sides + the interval bound; each side's NULL
    emission waits until the OTHER side's watermark passes its
    interval horizon, so state and lateness stay bounded exactly as in
    the inner form. Batch mode (the oracle twin) is a plain FULL JOIN
    with the interval condition. Same body as :func:`interval_join`,
    so condition/projection can never drift between variants."""
    return interval_join(clicks, purchases, window=window,
                         watermark=watermark, how="full_outer")


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: tuple[str, str] = ("user_id", "c_custkey"),
    dim_cols: tuple[str, ...] = ("c_mktsegment", "c_acctbal"),
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to an
    event stream. The static side broadcasts (re-read per micro-batch,
    so slowly-changing dimensions pick up updates between batches) and
    needs NO watermark — stream-static left joins are stateless, the
    canonical way to decorate a 100 TB/day stream with reference data.
    LEFT join so events with no dimension row survive with NULLs
    (monitorable, not silently dropped). Same code is the batch twin.
    """
    lkey, rkey = on
    d = F.broadcast(dim.select(F.col(rkey), *[F.col(c) for c in dim_cols]))
    return events.join(d, events[lkey] == d[rkey], "left").drop(rkey)


def streaming_hourly_rollup(
    spark: SparkSession,
    dir_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """The streaming composition: file stream → watermark → rollup.
    Callers attach ``writeStream`` (tests use a memory sink with
    ``availableNow`` so the run is finite and deterministic)."""
    return hourly_rollup(
        read_events_stream(spark, dir_path), window=window, watermark=watermark
    )


def windowed_distinct(
    events: DataFrame,
    key_col: str = "user_id",
    window: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Exact distinct keys per tumbling event-time window — the DAU/
    hourly-uniques metric. COUNT(DISTINCT) is not supported in
    streaming aggregations, so the op splits into the two streaming-
    legal halves: deduplicate (key, window) — streaming:
    ``dropDuplicatesWithinWatermark``, one state entry per LIVE
    (key, window), watermark-evicted — then a plain windowed COUNT of
    the survivors.

    Exactness condition in streaming mode: the watermark delay must be
    ≥ the window duration — two same-window events are at most one
    window apart in event time, so the dedup state provably still holds
    the first when the second arrives. State is bounded by (distinct
    keys per window) × (windows inside the watermark horizon); at
    100 TB/day the approximate alternative is the HLL sketch rollup
    (operators/analytics.py) merged across micro-batches.
    """
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    # The window struct CARRIES the event-time marker, so ts must be
    # dropped here (two event-time columns per stream is an error) and
    # the downstream aggregate groups on the struct itself.
    keyed = df.select(
        F.col(key_col), F.window(F.col(ts_col), window).alias("__w")
    )
    if keyed.isStreaming and watermark is not None:
        deduped = keyed.dropDuplicatesWithinWatermark([key_col, "__w"])
    else:
        deduped = keyed.dropDuplicates([key_col, "__w"])
    return (
        deduped.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
        .select(F.col("__w.start").alias("window_start"), "n_distinct")
    )


# --------------------------------------------------------------------------
# Driver entries — batch twins with DuckDB oracles. The streaming path
# over the same functions is covered in tests/test_streaming.py (custom
# stateful ops are the documented non-SQL-expressible case; these
# rollups ARE SQL-expressible, so they get full oracles).
# --------------------------------------------------------------------------

def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return hourly_rollup(events)


def q_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return sliding_rollup(events)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return sessionize(events)


def q_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    # Dedup on (user_id, event_type, value): project the keys so the
    # result is deterministic regardless of which duplicate row wins.
    return dedup_stream(
        events, key_cols=["user_id", "event_type", "value"]
    ).select("user_id", "event_type", "value")


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return interval_join(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )


def q_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return interval_join_left(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )


def q_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return interval_join_full(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )


def q_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir, register_views=False)
    out = enrich_stream(cat.table("events"), cat.table("customer"))
    return out.select(
        "event_id", "user_id", "event_type", "c_mktsegment",
        round_half_up(F.col("c_acctbal"), 6).alias("c_acctbal"),
    )


def q_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    return windowed_distinct(events)


def entry_queries():
    return {
        "stream_enrich_dim": q_enrich_stream,
        "stream_hourly_rollup": q_hourly_rollup,
        "stream_sliding_rollup": q_sliding_rollup,
        "stream_topk_trending": q_topk_trending,
        "stream_sessionize": q_sessionize,
        "stream_dedup": q_dedup_events,
        "stream_interval_join": q_interval_join,
        "stream_interval_join_left": q_interval_join_left,
        "stream_interval_join_full": q_interval_join_full,
        "stream_windowed_distinct": q_windowed_distinct,
    }


def entry_oracles() -> dict[str, str]:
    hourly = """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 12))), 6) AS DOUBLE)
                   AS sum_value
        FROM events GROUP BY 1, 2
    """
    # Gaps-and-islands sessionization — identical semantics to
    # session_window(gap=30min): a session breaks when the inter-event
    # gap is strictly greater than the gap duration... Spark closes a
    # session at ts + gap (exclusive), i.e. an event exactly `gap`
    # later still EXTENDS the session, so the break condition is >=.
    sessions = """
        WITH ordered AS (
            SELECT user_id, ts, value,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN prev_ts IS NULL
                             OR ts >= prev_ts + INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_session
            FROM ordered
        ),
        numbered AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 12))), 6) AS DOUBLE)
                   AS sum_value
        FROM numbered GROUP BY user_id, session_id
    """
    dedup = """
        SELECT DISTINCT user_id, event_type, value FROM events
    """
    # Sliding windows: each event belongs to exactly window/slide = 4
    # windows whose starts are the 4 slide-aligned points in
    # (ts - window, ts] — expanded via unnest, mirroring Spark's
    # F.window(ts, '1 hour', '15 minutes') assignment.
    sliding = """
        WITH expanded AS (
            SELECT time_bucket(INTERVAL '15 minutes', ts)
                       - k * INTERVAL '15 minutes' AS window_start,
                   event_type, value
            FROM events, unnest([0, 1, 2, 3]) AS t(k)
        )
        SELECT window_start, event_type, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 12))), 6) AS DOUBLE)
                   AS sum_value
        FROM expanded GROUP BY 1, 2
    """
    ijoin = f"""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               c.user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS delay_us,
               {_rs('p.value', 6)} AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts < c.ts + INTERVAL '30 minutes'
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """
    enrich = f"""
        SELECT e.event_id, e.user_id, e.event_type,
               c.c_mktsegment, {_rs('c.c_acctbal', 6)} AS c_acctbal
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """
    return {
        "stream_enrich_dim": enrich,
        "stream_hourly_rollup": hourly,
        "stream_windowed_distinct": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   COUNT(DISTINCT user_id) AS n_distinct
            FROM events GROUP BY 1
        """,
        "stream_sliding_rollup": sliding,
        "stream_topk_trending": """
        WITH expanded AS (
            SELECT time_bucket(INTERVAL '15 minutes', ts)
                       - k * INTERVAL '15 minutes' AS window_start,
                   event_type
            FROM events, unnest([0, 1, 2, 3]) AS t(k)
        ),
        counts AS (
            SELECT window_start, event_type, COUNT(*) AS n_events
            FROM expanded GROUP BY 1, 2
        )
        SELECT window_start, event_type, n_events, rnk FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY window_start
                       ORDER BY n_events DESC, event_type ASC) AS INTEGER)
                       AS rnk
            FROM counts
        ) WHERE rnk <= 3
    """,
        "stream_sessionize": sessions,
        "stream_dedup": dedup,
        "stream_interval_join": ijoin,
        # LEFT OUTER variant: clicks with no purchase in-window emit
        # once with NULL purchase columns (unconverted clicks are the
        # conversion-rate denominator). delay_us/purchase_value are
        # NULL on unmatched rows — numeric columns, so the hash
        # compare's null handling is engine-portable (no NaT/None
        # stringification divergence).
        "stream_interval_join_left": f"""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               c.user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS delay_us,
               {_rs('p.value', 6)} AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts < c.ts + INTERVAL '30 minutes'
    """,
        # FULL OUTER variant (r12): adds the purchase-only direction —
        # orphan purchases (no click within the preceding window) emit
        # once with NULL click columns; user_id coalesces so it is
        # never NULL. All nullable outputs are numeric, so the hash
        # compare's NULL handling stays engine-portable.
        "stream_interval_join_full": f"""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               COALESCE(c.user_id, p.user_id) AS user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS delay_us,
               {_rs('p.value', 6)} AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts < c.ts + INTERVAL '30 minutes'
    """,
    }
