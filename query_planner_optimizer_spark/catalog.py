"""Table catalog: parquet dirs → (augmented) DataFrames + temp views.

The reference hard-codes a single virtual table ``events`` backed by a
hive-partitioned parquet layout (reference ``query_engine.py:385-425``,
``claude.md:105-107``). Here the catalog resolves **any** table name from a
data directory (one ``<name>.parquet`` file/dir each, per TESTDATA.md) and
augments event-like tables with the reference's derived time columns
(reference ``prepare_optimized.py:58-65``):

    day    = to_date(ts)                       (date)
    week   = to_date(date_trunc('week', ts))   (date, Monday start)
    hour   = date_trunc('hour', ts)            (timestamp)
    minute = date_format(ts, 'yyyy-MM-dd HH:mm')  (STRING — lexicographic
             sort == chronological sort for this format; the reference
             stores minute as a string too, ``prepare_optimized.py:64``)

``ts`` may be epoch-milliseconds (the reference's raw schema,
``prepare_optimized.py:424-434``) or a native timestamp (the driver's
testdata): both normalize to a ``ts_dt`` timestamp first.

Scale note: augmentation is pure column projection — no shuffle, no UDFs;
it fuses into the parquet scan under whole-stage codegen, and filters on
derived columns still push down to the scan as expressions on ``ts``.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tables shipped in the driver's testdata dirs (TESTDATA.md).
KNOWN_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Derived time columns added to any table carrying a `ts` column.
DERIVED_TIME_COLUMNS = ("ts_dt", "day", "week", "hour", "minute")


#: Session-lifetime reader caches (r9 fixed-floor audit): re-calling
#: ``spark.read.parquet`` on the same path re-lists files and re-reads
#: footers — ~0.13 s of per-query driver-side cost at ANY data scale —
#: even though the returned frame is an immutable plan template. One
#: frame per (session, path) serves every query. ONLY immutable inputs
#: route through here (driver testdata); mutable dirs (rollup folds,
#: prepare output) keep fresh reads so their swap protocols see new
#: file listings.
#: Values are (frame, fill-time mutation token or None) — see
#: ``cached_parquet``.
_PARQUET_CACHE: dict[tuple[int, str], tuple[DataFrame, tuple | None]] = {}

#: spread() memo: keyed by the input frame's identity AND the resolved
#: partition target (safe — the cached entry holds a strong ref, so the
#: id cannot be recycled); avoids re-running the df.rdd partition probe
#: (a full plan→RDD conversion, ~0.1 s) on every query over the same
#: cached reader. The target is part of the key so a caller passing a
#: custom ``min_partitions`` never sees a memo built for the default.
_SPREAD_CACHE: dict[tuple[int, int], tuple[DataFrame, DataFrame]] = {}

#: Catalog.table cross-instance cache (augmented frames), same
#: immutability contract as _PARQUET_CACHE.
_AUGMENTED_CACHE: dict[tuple[int, str], DataFrame] = {}

#: Every FrameMemo registers itself here so invalidate_reader_caches
#: can clear (and unpersist) all persisted-frame memos repo-wide.
_FRAME_MEMOS: list["FrameMemo"] = []


class FrameMemo:
    """Bounded session memo for PERSISTED derived frames (the fused
    token-budget frame, BM25's tokenize pass, multiply-referenced CTE
    materializations, …).

    Discipline shared by every instance:

    - Entries hold ``(anchor, frame)`` where ``anchor`` is the input
      frame the derivation read (identity-checked on ``get`` so a
      recycled ``id()`` can never serve a stale hit) and ``frame`` is
      the persisted derived frame — the ONLY thing this memo ever
      unpersists (anchors are often the session-cached reader frames,
      which other queries share).
    - LRU-bounded: beyond ``cap`` entries the oldest is evicted AND
      unpersisted, so a long session passing fresh frames per call
      cannot grow executor storage or the driver dict unboundedly.
    - ``invalidate_reader_caches`` clears every registered memo
      wholesale (frame-identity keys cannot be mapped back to paths —
      the same rationale as ``_SPREAD_CACHE``), unpersisting as it
      goes, so a write+invalidate under a previously-read dir can
      never be served a stale persisted derivation.
    """

    def __init__(self, cap: int = 32):
        from collections import OrderedDict

        self._d: "dict[tuple, tuple]" = OrderedDict()
        self._cap = int(cap)
        _FRAME_MEMOS.append(self)

    @staticmethod
    def _unpersist(frame) -> None:
        try:
            frame.unpersist()
        except Exception:  # session torn down / never persisted
            pass

    def get(self, key: tuple, anchor=None):
        hit = self._d.get(key)
        if hit is None:
            return None
        a, frame = hit
        if a is not anchor:
            return None
        self._d.move_to_end(key)
        return frame

    def put(self, key: tuple, anchor, frame):
        old = self._d.pop(key, None)
        if old is not None and old[1] is not frame:
            self._unpersist(old[1])
        self._d[key] = (anchor, frame)
        while len(self._d) > self._cap:
            _, (_, evicted) = self._d.popitem(last=False)
            self._unpersist(evicted)
        return frame

    def clear(self) -> None:
        for _, frame in self._d.values():
            self._unpersist(frame)
        self._d.clear()

    def __len__(self) -> int:
        return len(self._d)


def dir_mutation_token(path: str) -> tuple:
    """Cheap cross-process mutation witness for a dataset directory:
    (mtime_ns, entry-ish size) of the directory inode. Every mutation
    protocol in this repo lands files in the dataset dir by rename /
    create / delete — each of which updates the directory's mtime — so
    a reader that re-checks this token observes writes made by OTHER
    processes, which in-process ``invalidate_reader_caches`` calls can
    never cover (r16, ADVICE: the single-writer-per-index contract
    allows writer and probe readers to be different processes). One
    ``os.stat`` per probe; a missing path returns a sentinel that still
    compares unequal to any real stat.

    Assumes the filesystem's directory mtime resolution is finer than
    the gap between two publishes. On a store with 1-second mtimes
    (some NFS mounts, HFS+), two publishes in the same second that
    leave the directory size unchanged (a rename replacing an entry)
    produce equal tokens, and a reader keeps serving the frame cached
    after the first one."""
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ("missing",)


def cached_parquet(
    spark: SparkSession, path: str, token: tuple | None = None
) -> DataFrame:
    """``spark.read.parquet`` with a session-lifetime frame cache.

    Without ``token``: for immutable inputs only (see
    ``_PARQUET_CACHE``). With ``token`` (normally
    ``dir_mutation_token(path)``): the cached frame is served only
    while the token matches the one recorded at fill time, so
    cross-process mutations of append-able datasets invalidate the
    entry on the next read — the in-process mutation paths still call
    ``invalidate_reader_caches`` eagerly as before."""
    key = (id(spark), os.path.abspath(path))
    hit = _PARQUET_CACHE.get(key)
    if hit is not None:
        df, cached_token = hit
        if token is None or cached_token == token:
            return df
    df = spark.read.parquet(path)
    _PARQUET_CACHE[key] = (df, token)
    return df


def invalidate_reader_caches(path: str | None = None) -> None:
    """Evict session-lifetime reader caches.

    The caches assume their paths are immutable for the session; any
    code path that WRITES under a directory previously served from a
    cache must call this (with the written path, or with ``None`` to
    drop everything) so later reads observe the fresh file listing and
    schema. With ``path``, every cached entry at or below that abspath
    is evicted; ``_SPREAD_CACHE`` and every registered ``FrameMemo``
    (persisted derived frames keyed on frame identity — docpipe's
    fused/lines memos, relevance's tokenize memo, the DSL compiler's
    multiply-referenced-CTE memo) are dropped wholesale either way,
    unpersisting as they go: frame-identity keys cannot be mapped back
    to a path, and rebuilding a memo costs one derivation.
    """
    _SPREAD_CACHE.clear()
    for memo in _FRAME_MEMOS:
        memo.clear()
    if path is None:
        _PARQUET_CACHE.clear()
        _AUGMENTED_CACHE.clear()
        return
    root = os.path.abspath(path)
    for cache in (_PARQUET_CACHE, _AUGMENTED_CACHE):
        stale = [
            k for k in cache
            if k[1] == root or k[1].startswith(root + os.sep)
            or root.startswith(k[1] + os.sep)
        ]
        for k in stale:
            del cache[k]


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a NARROW input ahead of a CPU-heavy map
    stage (tokenization, shingling, vector math).

    Spark sizes scan partitions by bytes (``files.maxPartitionBytes``),
    which is right for I/O-bound plans but leaves a small-but-expensive
    input (one parquet file of long documents) on a single core while 31
    idle. Only widens — an input already at/above the target (the normal
    case on a real cluster, where the table is many files) passes through
    untouched, so this is a local-small-file fix, not a standing shuffle
    at 100 TB.

    The repartitioned frame is also ``.cache()``-ed: without a barrier,
    Catalyst pushes downstream filters (e.g. the corpus-cleaning quality
    gate, with its full tokenization expression tree inlined) below the
    round-robin exchange, back onto the single-partition scan — exactly
    the serialization this helper exists to avoid. An InMemoryRelation
    stops that pushdown, and lets the many document/embedding queries of
    one session share a single materialized read. At cluster scale the
    branch never triggers, so nothing is cached and scan-side pushdown
    (which is then the RIGHT plan) is preserved.
    """
    from query_planner_optimizer_spark.session import default_parallelism

    target = min_partitions or default_parallelism()
    hit = _SPREAD_CACHE.get((id(df), target))
    if hit is not None and hit[0] is df:
        return hit[1]
    out = df if df.rdd.getNumPartitions() >= target \
        else df.repartition(target).cache()
    _SPREAD_CACHE[(id(df), target)] = (df, out)
    return out


def augment_time_columns(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Add ts_dt/day/week/hour/minute derived from ``ts_col`` (UTC)."""
    if ts_col not in df.columns:
        return df
    ts_type = df.schema[ts_col].dataType
    if isinstance(ts_type, (T.LongType, T.IntegerType)):
        ts_dt = F.timestamp_millis(F.col(ts_col))
    elif isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — e.g.
        # pandas/pyarrow-written data — arrives as TIMESTAMP_NTZ in
        # Spark 4. Wall-clock semantics match the UTC-pinned session
        # and the DuckDB oracle (which reads the same file as a naive
        # timestamp), so NTZ augments identically.
        ts_dt = F.col(ts_col)
    else:
        return df
    # Never overwrite a column that already exists — on a prepared
    # (hive-partitioned) table, `day` is a partition column and
    # replacing it with an expression would defeat partition pruning.
    if "ts_dt" not in df.columns:
        df = df.withColumn("ts_dt", ts_dt)
    derived = {
        "day": F.to_date("ts_dt"),
        "week": F.to_date(F.date_trunc("week", F.col("ts_dt"))),
        "hour": F.date_trunc("hour", F.col("ts_dt")),
        "minute": F.date_format("ts_dt", "yyyy-MM-dd HH:mm"),
    }
    for name, expr in derived.items():
        if name not in df.columns:
            df = df.withColumn(name, expr)
    return df


def duckdb_time_cte(table: str, ts_col: str = "ts", ts_is_millis: bool = False) -> str:
    """DuckDB SQL snippet reproducing :func:`augment_time_columns`.

    Used to build oracle SQL over the raw parquet views so the oracle
    sees the same augmented schema the Spark side queries.
    """
    base = f"to_timestamp({ts_col} / 1000.0)" if ts_is_millis else ts_col
    return (
        f"SELECT *, {base} AS ts_dt, CAST({base} AS DATE) AS day, "
        f"CAST(date_trunc('week', {base}) AS DATE) AS week, "
        f"date_trunc('hour', {base}) AS hour, "
        f"strftime({base}, '%Y-%m-%d %H:%M') AS minute "
        f"FROM {table}"
    )


def _nano_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (from the footer).

    Spark has no nanosecond timestamp type; with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` these arrive as
    epoch-nanos longs, which we convert back to timestamps (µs
    precision) — integer division, no float round-trip.
    """
    probe = path
    if os.path.isdir(path):
        inner = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not inner:
            return []
        probe = inner[0]
    try:
        schema = pq.read_schema(probe)
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
    ]


def _restore_nano_timestamps(df: DataFrame, nano_cols: list[str]) -> DataFrame:
    for c in nano_cols:
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


class Catalog:
    """Resolves table names to augmented DataFrames for the DSL compiler.

    Replaces the reference's QueryEngine constructor + partition loader
    (reference ``query_engine.py:21-31,385-425``): Spark's parquet source
    already does partition discovery, partition pruning, column pruning
    and predicate pushdown, so the catalog only maps name → DataFrame.
    """

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        register_views: bool = True,
        overrides: dict[str, str] | None = None,
    ):
        """``overrides``: table name → explicit parquet path (e.g. the
        prepare phase's hive-partitioned ``partitioned/`` dir)."""
        self.spark = spark
        self.data_dir = data_dir
        self._cache: dict[str, DataFrame] = {}
        self.register_views = register_views
        self.overrides = dict(overrides or {})
        # The catalog may be handed a FOREIGN session (the correctness
        # harness builds its own vanilla SparkSession) — never assume the
        # confs of our session factory (session.py). Derived day/week/hour
        # must match the UTC-based DuckDB oracle regardless of host TZ, so
        # pin the session timezone here. (Runtime-settable SQL conf.)
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass  # read-only conf situations: keep going, reads still work
        # A conf-free session keeps Spark's out-of-the-box 200 shuffle
        # partitions; on a small local heap (default 1g driver) that
        # means 200 reducer-side buffers per map task across 32 threads
        # — measured as the Java-heap OOM that killed a full 94-entry
        # correctness sweep mid-run. Right-size ONLY the untouched
        # default to the box's parallelism; any caller-chosen value
        # (including our own session factory's) is respected.
        try:
            if spark.conf.get("spark.sql.shuffle.partitions") == "200":
                from query_planner_optimizer_spark.session import (
                    default_parallelism,
                )

                spark.conf.set(
                    "spark.sql.shuffle.partitions",
                    str(default_parallelism()),
                )
        except Exception:
            pass

    def _ensure_nanos_conf(self) -> None:
        """Allow reading parquet TIMESTAMP(NANOS) columns on ANY session.

        Spark rejects nano-precision parquet timestamps outright
        (``PARQUET_TYPE_ILLEGAL``) unless
        ``spark.sql.legacy.parquet.nanosAsLong=true``, under which they
        arrive as epoch-nanos longs that :func:`_restore_nano_timestamps`
        converts back. The conf is runtime-settable, so set it on the
        caller's session right before the read rather than relying on our
        own session factory having set it (the harness passes a vanilla
        session; see round-1 CORRECTNESS failures).
        """
        try:
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass

    def table_path(self, name: str) -> str:
        if name in self.overrides:
            return self.overrides[name]
        return os.path.join(self.data_dir, f"{name}.parquet")

    def available_tables(self) -> list[str]:
        found = []
        for name in KNOWN_TABLES:
            if os.path.exists(self.table_path(name)):
                found.append(name)
        return found

    def table(self, name: str) -> DataFrame:
        """Load (and cache the plan of) an augmented table."""
        if name in self._cache:
            return self._cache[name]
        path = self.table_path(name)
        if not os.path.exists(path):
            # Fall back to an already-registered view (e.g. prepared tables).
            if self.spark.catalog.tableExists(name):
                df = self.spark.table(name)
                self._cache[name] = df
                return df
            raise KeyError(f"unknown table {name!r}: no {path} and no registered view")
        # Cross-instance cache for IMMUTABLE testdata paths: entry
        # callables build a fresh Catalog per call, so the instance
        # cache alone re-pays footer reads + augment construction on
        # every query (r9 fixed-floor audit). Override paths (prepared
        # dirs, rollups) are mutable and always re-read.
        mkey = (id(self.spark), os.path.abspath(path))
        df = None if name in self.overrides else _AUGMENTED_CACHE.get(mkey)
        if df is None:
            nano_cols = _nano_timestamp_columns(path)
            if nano_cols:
                self._ensure_nanos_conf()
            df = self.spark.read.parquet(path)
            df = _restore_nano_timestamps(df, nano_cols)
            df = augment_time_columns(df)
            if name not in self.overrides:
                _AUGMENTED_CACHE[mkey] = df
        if self.register_views:
            df.createOrReplaceTempView(name)
        self._cache[name] = df
        return df

    def spark_type_map(self, name: str) -> dict[str, T.DataType]:
        return {f.name: f.dataType for f in self.table(name).schema.fields}

    def register_all(self) -> list[str]:
        """Register (or RE-register) every available table as a temp
        view. Idempotent and clobber-safe: unlike the lazy registration
        in :meth:`table` (which only fires on first load), this always
        re-issues ``createOrReplaceTempView`` — so a foreign Catalog
        over a different dataset that registered the same view names in
        a shared session (e.g. the CLI run in the test suite) cannot
        leave this catalog's SQL surface pointing at the wrong data."""
        names = self.available_tables()
        for name in names:
            df = self.table(name)
            if self.register_views:
                df.createOrReplaceTempView(name)
        return names
