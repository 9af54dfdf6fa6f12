"""Prepare-phase ETL: raw event CSVs → partitioned parquet + rollups.

One distributed Spark job replacing all three reference prepare scripts
(``prepare.py`` / ``prepare_optimized.py`` / ``prepare_ultra_fast.py``,
~1,280 LoC of multiprocessing-pool + temp-dir + merge machinery,
SURVEY.md §3 entry point 2):

1. read CSVs with the declared schema (``sources.events_csv``);
2. derive ts_dt/day/week/hour/minute (``catalog.augment_time_columns``,
   same definitions as reference ``prepare_optimized.py:58-65``);
3. write hive-partitioned parquet ``type=<t>/day=<d>`` with zstd — the
   exact layout the reference builds by hand (``prepare.py:126-144``),
   which Spark then partition-prunes automatically at query time;
4. build the five summary rollups (reference ``prepare.py:148-244``)
   as plain groupBy jobs — AVG-bearing rollups store **sum+count** so
   re-aggregation stays correct (as reference ``prepare.py:190-195``);
5. write a key/value stats table (reference ``prepare.py:246-269``).

Scale notes: the partitioned write shuffles on (type, day) via
``repartition`` so each partition dir is written by one task (avoids
the tiny-files explosion of per-task hive writes); rollups are
map-side-combined aggregations; at 100 TB you'd additionally bucket the
base table by a join/group key, but the reference workload groups by
low-cardinality keys where hash agg + AQE suffice.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from query_planner_optimizer_spark.catalog import (
    augment_time_columns,
    invalidate_reader_caches,
)
from query_planner_optimizer_spark.functions.histq import (
    HIST_BINS, bin_index_col,
)
from query_planner_optimizer_spark.sources.events_csv import read_events_csv

#: Hive partition columns of the prepared events copy (``type=<t>/day=<d>``).
PARTITION_COLS = ("type", "day")

#: The five summary rollups (reference prepare.py:148-244; README.md:268-274).
#: Grain chosen so every pattern the reference's router serves
#: (query_engine.py:143-232) is answerable by re-aggregation.
ROLLUPS: dict[str, dict] = {
    # pattern 1: daily revenue (impressions)
    "agg_day_type": {
        "keys": ["day", "type"],
        "aggs": {"bid_price": ["sum", "count"], "total_price": ["sum", "count"]},
    },
    # pattern 2: publisher x day x country revenue
    "agg_publisher_day_country": {
        "keys": ["publisher_id", "day", "country", "type"],
        "aggs": {"bid_price": ["sum", "count"]},
    },
    # pattern 3: country purchase stats
    "agg_country_type": {
        "keys": ["country", "type"],
        "aggs": {"bid_price": ["sum", "count"], "total_price": ["sum", "count"]},
    },
    # pattern 4: advertiser x type counts
    "agg_advertiser_type": {
        "keys": ["advertiser_id", "type"],
        "aggs": {},
    },
    # pattern 5: minute revenue
    "agg_minute_day_type": {
        "keys": ["minute", "day", "type"],
        "aggs": {"bid_price": ["sum", "count"]},
    },
}


def rollup_frame(events: DataFrame, keys: list[str], aggs: dict) -> DataFrame:
    """groupBy rollup storing sum+count per measure (+ row count).

    sum/count re-aggregate losslessly; AVG is derived as sum/count at
    query time — never store averages in a partial aggregate
    (reference got this right: prepare.py:190-195).

    Fractional measures accumulate in DECIMAL(38, s) at the SAME scale
    the DSL's rounded aggregates use (``compiler.agg_decimal_scale`` —
    query-independent for every round_to the router serves) — so a
    query served from merged rollup partials is bit-identical to the
    raw scan and to the SQL oracle: decimal addition is associative,
    double addition is not. Integral measures stay integral (Spark SUM
    over longs is exact).
    """
    from pyspark.sql import types as T

    from query_planner_optimizer_spark.dsl.compiler import (
        agg_decimal_scale,
    )

    exprs = [F.count(F.lit(1)).alias("n_rows")]
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    schema = {f.name: f.dataType for f in events.schema.fields}
    for col, funcs in aggs.items():
        if "sum" in funcs:
            src = F.col(col)
            if not isinstance(schema.get(col), integral):
                src = src.cast(T.DecimalType(38, agg_decimal_scale()))
            exprs.append(F.sum(src).alias(f"sum_{col}"))
        if "count" in funcs:
            exprs.append(F.count(col).alias(f"count_{col}"))
        # MIN/MAX partials re-aggregate losslessly (min of mins) and are
        # order-independent exact — no decimal idiom needed. Stored only
        # when a spec asks, so existing rollups keep their schema.
        if "min" in funcs:
            exprs.append(F.min(col).alias(f"min_{col}"))
        if "max" in funcs:
            exprs.append(F.max(col).alias(f"max_{col}"))
        # HLL sketch partial (Apache DataSketches via hll_sketch_agg):
        # a MERGEABLE distinct-count summary — union-of-sketches over
        # any regrouping equals the sketch of the union, and the
        # register state is insertion-order-independent (per-bucket
        # max), so a routed estimate is deterministic and equal to the
        # full-scan sketch estimate. Standard error 1.04/sqrt(2^lgk)
        # ≈ 1.6% at the default lgConfigK=12. This is the scale path
        # for distinct counts: COUNT(DISTINCT) over 10^12 rows is a
        # two-shuffle expand; the sketch is one mergeable pass and the
        # rollup stores kilobytes per group.
        if "hll" in funcs:
            exprs.append(
                F.hll_sketch_agg(F.col(col)).alias(f"hll_{col}"))
        # Fixed-bin histogram partial (functions/histq.py): an
        # array<bigint> of per-bin counts — plain integers, so partials
        # merge by ELEMENTWISE ADDITION (associative, order-free) and
        # the routed quantile estimate is bit-identical to the scan
        # form AND fully replayable in the SQL oracle (unlike the HLL
        # sketch, which is bound-gated). The mergeable percentile path.
        if "hist" in funcs:
            lo, hi, nb = HIST_BINS[col]
            # Materialize the bin index once per row (hidden column):
            # nb conditional sums over an int column stay inside
            # whole-stage codegen; re-evaluating the floor/clamp tree
            # per bin does not (see compiler hist_idx).
            iname = f"__histidx_{col}"
            events = events.withColumn(
                iname, bin_index_col(F.col(col), lo, hi, nb))
            idx = F.col(iname)
            exprs.append(F.array(*[
                F.sum(F.when(idx == i, F.lit(1)).otherwise(F.lit(0)))
                for i in range(nb)
            ]).alias(f"hist_{col}"))
    return events.groupBy(*keys).agg(*exprs)


#: Prepare speed profiles — CLI parity with the reference's three
#: prepare scripts. ``default`` mirrors ``prepare.py``/
#: ``prepare_optimized.py`` (zstd level 3, every rollup); ``fast``
#: mirrors ``prepare_ultra_fast.py:98-106``: zstd level 1 (minimal
#: compression, max write speed), larger row groups, and ONLY the three
#: "essential" rollups (daily revenue → agg_day_type, country purchases
#: → agg_country_type, advertiser-type counts → agg_advertiser_type;
#: the publisher-day and minute grains are skipped and those queries
#: scan partitions — reference ``prepare_ultra_fast.py:115-126``).
#: In Spark both knobs are parquet-mr write options, not worker-pool
#: machinery: the distributed write already replaces all of that.
PREPARE_PROFILES: dict[str, dict] = {
    "default": {"zstd_level": None, "rollup_subset": None,
                "row_group_bytes": None},
    "fast": {"zstd_level": 1,
             "rollup_subset": ["agg_day_type", "agg_country_type",
                               "agg_advertiser_type"],
             "row_group_bytes": 256 * 1024 * 1024},
}


def _profile_writer(writer, prof: dict):
    """Apply a profile's parquet-mr options to a DataFrameWriter (write
    options pass through to the Hadoop conf of the write job)."""
    if prof.get("zstd_level") is not None:
        writer = writer.option("parquet.compression.codec.zstd.level",
                               str(prof["zstd_level"]))
    if prof.get("row_group_bytes") is not None:
        writer = writer.option("parquet.block.size",
                               str(prof["row_group_bytes"]))
    return writer


#: Rollup grains for the driver testdata's events table (ts/event_type/
#: value) — lets bench.py reproduce the reference's post-prepare query
#: timings (BASELINE.md measures queries against pre-built aggregates).
DRIVER_EVENTS_ROLLUPS: dict[str, dict] = {
    "agg_day_etype": {
        "keys": ["day", "event_type"],
        "aggs": {"value": ["sum", "count"]},
    },
    "agg_week_etype": {
        "keys": ["week", "event_type"],
        "aggs": {"value": ["sum", "count"]},
    },
    "agg_minute_day_etype": {
        "keys": ["minute", "day", "event_type"],
        "aggs": {"value": ["sum", "count"]},
    },
    # Pricing-summary grain over lineitem: the shipdate filter column is
    # part of the grain, so date-ranged pricing queries re-aggregate the
    # rollup instead of scanning the fact table (reference pattern-2
    # shape, query_engine.py:243-280, done with subsumption proofs).
    "agg_lineitem_pricing": {
        "table": "lineitem",
        "keys": ["l_returnflag", "l_linestatus", "l_shipdate"],
        "aggs": {
            "l_quantity": ["sum", "count"],
            "l_extendedprice": ["sum", "count"],
            "l_discount": ["sum", "count"],
        },
    },
}


def build_rollups(
    events: DataFrame,
    agg_dir: str,
    rollups: dict[str, dict] | None = None,
    tables: dict[str, DataFrame] | None = None,
    profile: str = "default",
) -> list[str]:
    """Materialize rollup tables for :class:`plans.router.RollupRouter`.

    ``events`` sources specs without a ``table`` field; specs naming
    another table resolve through ``tables`` and are skipped (not
    mis-built) when it isn't provided. ``profile`` selects a
    :data:`PREPARE_PROFILES` entry (codec level / rollup subset)."""
    prof = PREPARE_PROFILES[profile]
    rollups = rollups or ROLLUPS
    subset = prof.get("rollup_subset")
    jobs: list[tuple[str, DataFrame, list[str], dict]] = []
    for name, spec in rollups.items():
        if subset is not None and name not in subset:
            continue
        t = spec.get("table", "events")
        if t == "events":
            src = events
        elif tables and t in tables:
            src = tables[t]
        else:
            continue
        keys = [k for k in spec["keys"] if k in src.columns]
        jobs.append((name, src, keys, spec["aggs"]))

    def _write_one(job: tuple) -> str:
        name, src, keys, aggs = job
        # Job descriptions are thread-local — each concurrent rollup
        # write is labelled correctly in the UI.
        src.sparkSession.sparkContext.setJobDescription(
            f"build_rollups: {name}")
        writer = _profile_writer(
            rollup_frame(src, keys, aggs).write.mode("overwrite"), prof)
        writer.parquet(os.path.join(agg_dir, f"{name}.parquet"))
        return name

    # The rollup writes are INDEPENDENT jobs over distinct output dirs
    # (guide §2.6 "overlap independent jobs"): run them from a small
    # thread pool so one rollup's task tail back-fills the executors
    # the next one needs, instead of paying each job's straggler tail
    # serially. 3 in flight is enough to fill the tail without the
    # jobs starving each other. Results keep spec order (pool.map),
    # so `written` is deterministic.
    from concurrent.futures import ThreadPoolExecutor

    if len(jobs) > 1:
        with ThreadPoolExecutor(max_workers=3) as pool:
            written = list(pool.map(_write_one, jobs))
    else:
        written = [_write_one(j) for j in jobs]
    invalidate_reader_caches(agg_dir)
    return written


def _rollup_last_batch(path: str) -> int:
    """Batch id committed INSIDE the rollup parquet dir (written into
    the swap's tmp dir, so the atomic rename commits data + marker
    together; Spark ignores underscore-prefixed files when reading).
    -1 when absent (pre-r7 rollups, or non-streaming builds)."""
    marker = os.path.join(path, "_last_batch")
    if os.path.isfile(marker):
        with open(marker) as f:
            txt = f.read().strip()
        try:
            return int(txt) if txt else -1
        except ValueError:
            # Refuse-not-wrong: a marker that EXISTS but doesn't parse
            # means the fold history is unknowable — treating it as
            # "never folded" (-1) would silently re-merge an
            # already-applied batch (doubled sums). Raise with the
            # recovery path instead of a bare int() ValueError.
            raise RuntimeError(
                f"corrupted _last_batch marker at {marker!r} "
                f"(content {txt!r}): the rollup's fold history is "
                "unknowable — rebuild the rollup (build_rollups) or "
                "restore the marker before refreshing") from None
    return -1


def _write_rollup_batch_marker(dirpath: str, batch_id: int) -> None:
    with open(os.path.join(dirpath, "_last_batch"), "w") as f:
        f.write(str(batch_id))


def refresh_rollups(
    spark: SparkSession,
    new_slice: DataFrame,
    agg_dir: str,
    rollups: dict[str, dict] | None = None,
    tables: dict[str, DataFrame] | None = None,
    batch_id: int | None = None,
) -> list[str]:
    """Incremental rollup maintenance: fold ONLY newly-appended rows
    into the existing rollup tables instead of re-scanning the fact
    table — at 100 TB the daily append is GBs while the table is TBs,
    so refresh cost must track the DELTA, never the total.

    Every stored measure is sum-mergeable by construction (n_rows,
    count_* are longs; sum_* fractional measures are DECIMAL partials —
    ``rollup_frame``), so the merge is
    ``(existing ∪ delta).groupBy(keys).sum(measures)`` and the merged
    rollup is BIT-identical to a from-scratch rebuild: decimal/integer
    addition is associative, so it cannot matter whether rows arrived in
    one batch or twenty. The shuffle moves |existing grain| + |delta
    grain| rows — grain-bounded, independent of fact-table size.

    The merged table is written to a temp dir then swapped in (Spark
    cannot overwrite a path it is reading). On a real deployment the
    rollup would be hive-partitioned on its leading time key with
    dynamic partition overwrite, shrinking the rewrite to the touched
    partitions; the swap keeps the single-file driver layout simple.

    ``batch_id`` (streaming maintenance, r7): when given, each rollup
    carries the last-folded batch id INSIDE its parquet dir — written
    into the swap's tmp dir so one atomic rename commits the fold and
    the marker TOGETHER. A rollup whose in-dir marker already covers
    ``batch_id`` is skipped: a checkpoint replay after a crash at ANY
    point (even between the fold and any external bookkeeping) can
    never double-fold, per rollup — this closes the torn-crash window
    an agg_dir-level marker alone leaves open, and lets a multi-rollup
    replay re-fold exactly the rollups the crash left behind.
    """
    import shutil

    rollups = rollups or ROLLUPS
    refreshed = []
    skipped: list[str] = []
    for name, spec in rollups.items():
        t = spec.get("table", "events")
        if t == "events":
            src = new_slice
        elif tables and t in tables:
            src = tables[t]
        else:
            # No delta supplied for this rollup's source table: it goes
            # STALE. Loud, not silent — callers diff the return value,
            # and the log line makes the gap visible in driver output.
            skipped.append(name)
            print(f"refresh_rollups: SKIPPED {name!r} (no delta for "
                  f"table {t!r}) — rollup is now stale", file=sys.stderr)
            continue
        keys = [k for k in spec["keys"] if k in src.columns]
        path = os.path.join(agg_dir, f"{name}.parquet")
        recover_rollup_swap(path)
        if batch_id is not None and _rollup_last_batch(path) >= batch_id:
            # Checkpoint replay of a batch this rollup already folded
            # (crash landed after the swap): exactly-once no-op.
            refreshed.append(name)
            continue
        delta = rollup_frame(src, keys, spec["aggs"])
        if not os.path.exists(path):
            if batch_id is None:
                delta.write.mode("overwrite").parquet(path)
            else:
                # First creation commits data + marker via ONE rename,
                # like the merge path: writing data then marker
                # separately would leave a marker-less existing rollup
                # on a crash between them, and the replay's MERGE would
                # then double-fold the same delta.
                tmp = path + ".refresh_tmp"
                delta.write.mode("overwrite").parquet(tmp)
                _write_rollup_batch_marker(tmp, batch_id)
                os.rename(tmp, path)
            refreshed.append(name)
            continue
        existing = spark.read.parquet(path)
        measures = [c for c in existing.columns if c not in keys]
        # Refuse-not-wrong (like the corrupted _last_batch guard): a
        # rollup persisted under a DIFFERENT decimal accumulator scale
        # (e.g. a pre-r8 DECIMAL(38,16) dir) must not be folded into —
        # the union would widen silently and the merged partials would
        # keep the old scale's cast noise against the current scan /
        # oracle contract. The delta alone cannot rebuild it (it is only
        # the appended rows), so raise and ask for a full rebuild.
        from query_planner_optimizer_spark.dsl.compiler import (
            agg_decimal_scale,
        )

        for f in existing.schema.fields:
            if (f.name.startswith("sum_")
                    and isinstance(f.dataType, T.DecimalType)
                    and f.dataType.scale != agg_decimal_scale()):
                raise ValueError(
                    f"rollup {name!r} at {path!r} stores {f.name} as "
                    f"DECIMAL(38, {f.dataType.scale}) but the current "
                    f"accumulator scale is {agg_decimal_scale()} — "
                    "refusing to fold (the merge would silently mix "
                    "scales); rebuild the rollup with build_rollups()")

        def _merge_fn(c: str):
            # Partial-merge operator by measure kind: sums/counts add,
            # MIN/MAX partials take min/max, HLL sketches union (all
            # associative — the merged rollup stays equivalent to a
            # rebuild; for sketches the serialized bytes may differ by
            # storage mode but the register state, and therefore every
            # estimate served from it, is identical).
            if c.startswith("min_"):
                return F.min(c).alias(c)
            if c.startswith("max_"):
                return F.max(c).alias(c)
            if c.startswith("hll_"):
                return F.hll_union_agg(c).alias(c)
            if c.startswith("hist_"):
                # histogram partial: elementwise integer addition
                nb = HIST_BINS[c[len("hist_"):]][2]
                return F.array(*[
                    F.sum(F.col(c)[i]) for i in range(nb)
                ]).alias(c)
            return F.sum(c).alias(c)

        merged = (
            existing.unionByName(delta)
            .groupBy(*keys)
            .agg(*[_merge_fn(c) for c in measures])
        )
        tmp = path + ".refresh_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        # Marker rides the tmp dir: the rename below commits the folded
        # data and the batch id in ONE atomic step. A non-streaming
        # refresh (batch_id=None) carries the EXISTING marker forward —
        # silently dropping it would re-open the replay double-fold
        # window for the streaming maintainer of the same rollup.
        mk = batch_id if batch_id is not None else _rollup_last_batch(path)
        if mk >= 0:
            _write_rollup_batch_marker(tmp, mk)
        # Crash-loss-free swap: move the old rollup ASIDE (rename, atomic
        # on one filesystem), rename the new one into place, then delete
        # the aside copy. The OLD DATA always survives a crash — at
        # ``path`` or at ``aside`` — though a crash between the two
        # renames leaves ``path`` itself briefly absent;
        # ``recover_rollup_swap`` (run here, by RollupRouter.__init__,
        # and available to any startup path) renames a stranded aside
        # back so the rollup is never silently dropped.
        aside = path + ".refresh_old"
        if os.path.lexists(aside):
            # A stale aside may be a dir (normal), or a plain file /
            # symlink (e.g. a partial manual copy) — rmtree silently
            # no-ops on non-dirs, which would make the rename below fail.
            if os.path.isdir(aside) and not os.path.islink(aside):
                shutil.rmtree(aside)
            else:
                os.remove(aside)
        os.rename(path, aside)
        os.rename(tmp, path)
        shutil.rmtree(aside, ignore_errors=True)
        refreshed.append(name)
    invalidate_reader_caches(agg_dir)
    return refreshed


def recover_rollup_swap(path: str) -> bool:
    """Recover from a crash mid-``refresh_rollups`` swap: if the rollup
    at ``path`` is missing but its ``.refresh_old`` aside exists, rename
    the aside back into place (the old data always survives the swap;
    this puts it back where readers look). Returns True if a recovery
    happened. Leftover ``.refresh_tmp`` dirs are torn down — they may be
    partially written and are rebuilt by the next refresh anyway."""
    import shutil

    aside = path + ".refresh_old"
    tmp = path + ".refresh_tmp"
    recovered = False
    if not os.path.exists(path) and os.path.exists(aside):
        os.rename(aside, path)
        recovered = True
    if os.path.lexists(tmp):
        if os.path.isdir(tmp) and not os.path.islink(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            os.remove(tmp)
    return recovered


def bucketize(
    df: DataFrame,
    table_name: str,
    keys: list[str],
    num_buckets: int = 64,
) -> DataFrame:
    """Write a bucketed (and bucket-sorted) copy of a table so joins and
    aggregations on the bucket keys are CO-LOCATED — both sides read
    pre-hashed buckets and the planner emits a SortMergeJoin with no
    Exchange (audited in tests). This is the prepare-time answer to the
    biggest repeated cost at 100 TB: a fact-fact join (orders⋈lineitem)
    re-shuffling terabytes on every query. Size ``num_buckets`` to the
    target parallelism (~2-4x executor cores at full scale).

    Registered through the session catalog (``saveAsTable``): bucketing
    metadata lives in the metastore, which is what lets Catalyst trust
    the layout.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table_name)
    )
    return df.sparkSession.table(table_name)


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ~``target_mb`` files. Streaming sinks, incremental appends and
    over-parallel writes all accumulate small files; at 100 TB the
    resulting per-file open/footer costs dominate scan time, so
    compaction is a standing maintenance job, not a rarity.

    File count = dataset bytes / target (via the Hadoop FS API, so the
    same measurement works on HDFS/S3A); rewrite is one round-robin
    shuffle. Returns the file count written.
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jpath).getLength()
    n = max(1, int(total_bytes // (target_mb * 1024 * 1024)) + 1)

    spark.read.parquet(path).repartition(n).write.mode("overwrite").parquet(
        out_path)
    invalidate_reader_caches(out_path)
    return n


def sort_layout(
    df: DataFrame,
    out_path: str,
    sort_cols: list[str],
    n_files: int = 16,
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` +
    ``sortWithinPartitions`` on ``sort_cols``, so every output file
    covers a disjoint value range and its footer min/max statistics are
    narrow. Range predicates on the sort columns then skip whole files
    (Spark's parquet source prunes on footer stats before reading row
    groups) — the poor man's Z-order, and the single highest-leverage
    layout choice for time-series at 100 TB: a one-day query over a
    year of ts-sorted data opens ~1/365th of the files.

    The range exchange samples the sort keys to build balanced range
    bounds (no skew from hot ranges); write parallelism = ``n_files``.

    Timestamps are forced to TIMESTAMP_MICROS on write: Spark's default
    parquet timestamp encoding is legacy INT96, which carries NO footer
    statistics — a ts-sorted layout under INT96 silently loses the
    entire pruning benefit (found by the disjoint-ranges test).
    """
    df.sparkSession.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(out_path)
    )
    invalidate_reader_caches(out_path)


@dataclass
class PrepareResult:
    partitioned_dir: str
    aggregates_dir: str
    rollups: list[str] = field(default_factory=list)


def prepare(
    spark: SparkSession,
    data: str | DataFrame,
    out_dir: str,
    profile: str = "default",
) -> PrepareResult:
    """Run the full prepare pipeline.

    ``data`` is a CSV glob/path (reference layout) or an existing
    DataFrame with the raw event schema. ``profile``: a
    :data:`PREPARE_PROFILES` key — ``"fast"`` trades compression ratio
    and rollup coverage for prepare speed (reference
    ``prepare_ultra_fast.py`` parity).
    """
    prof = PREPARE_PROFILES[profile]
    if isinstance(data, str):
        raw = read_events_csv(spark, data)
    else:
        raw = data
    events = augment_time_columns(raw)

    part_dir = os.path.join(out_dir, "partitioned")
    agg_dir = os.path.join(out_dir, "aggregates")

    # One shuffle keyed on the partition columns → one file per (type,
    # day) dir instead of numPartitions files per dir.
    _profile_writer(
        events.repartition(*PARTITION_COLS)
        .write.mode("overwrite")
        .partitionBy(*PARTITION_COLS),
        prof,
    ).parquet(part_dir)

    # Re-read the partitioned copy: rollup scans then read zstd
    # parquet (column-pruned), not the raw CSV again.
    prepared = augment_time_columns(spark.read.parquet(part_dir))
    written = build_rollups(prepared, agg_dir, ROLLUPS, profile=profile)

    # stats.parquet: key/value dataset stats (reference prepare.py:246-269)
    stats = events.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct("auction_id").alias("n_auctions"),
        F.min("day").cast("string").alias("min_day"),
        F.max("day").cast("string").alias("max_day"),
    )
    kv = stats.selectExpr(
        "stack(4, 'total_rows', CAST(total_rows AS STRING), "
        "'n_auctions', CAST(n_auctions AS STRING), "
        "'min_day', min_day, 'max_day', max_day) AS (key, value)"
    )
    kv.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(agg_dir, "stats.parquet")
    )

    return PrepareResult(part_dir, agg_dir, written)
