"""Materialized-aggregate (rollup) router with strict subsumption.

The reference pattern-matches 5 exact query shapes onto pre-computed
aggregates (reference ``query_engine.py:73-108,143-232``) — and gets it
wrong in two documented ways (SURVEY.md §4 hazards): extra WHERE filters
are silently dropped by patterns 2/5, and pattern 1 ignores ORDER BY.

This router replaces shape-matching with a general **subsumption proof**
against the rollup's grain; a query routes to a rollup iff:

- every referenced plain column (select / where / group_by / order_by on
  non-aggregates) is a grouping key of the rollup, or losslessly
  DERIVABLE from one through the time-grain hierarchy (`_TIME_DERIVE`:
  minute→day, hour→day, day/hour/minute→week) — rollup-hierarchy
  navigation, exact because each finer-grain row belongs to exactly
  one coarser bucket;
- every aggregate is derivable from the rollup's measures:
  SUM(c) → sum(sum_c), COUNT(*) → sum(n_rows), COUNT(c) → sum(count_c),
  AVG(c) → sum(sum_c)/sum(count_c) (sum+count stored, never averages —
  re-aggregating an average is wrong, which is why the reference stores
  both, ``prepare.py:190-195``);
- MIN(c) → min(min_c) / MAX(c) → max(max_c) when the rollup STORES
  those partials (spec ``{"value": ["min", "max"]}``); min-of-mins is
  lossless and order-independent exact. Rollups without them refuse —
  unless c is itself a GROUPING KEY, where MIN/MAX/COUNT(DISTINCT)
  re-derive from the key column directly (it carries every distinct
  value the base group contains).

If several rollups qualify, the SMALLEST wins — by actual row count
read from the parquet footers (cost-based; the fewest-keys proxy
misorders grains whose coarser key set contains a higher-cardinality
key). Otherwise the caller falls back to the base-table scan — a
wrong-rollup route is impossible by construction, not by enumerating
shapes.

Scale: this is a logical-plan-level rewrite (the same altitude as the
reference's router); the rollups are typically 10^3-10^6 rows where the
base table is 10^9-10^12, so a routed query touches megabytes instead
of terabytes. A Catalyst-rule variant would be idiomatic but adds no
pruning beyond this, since routing happens before the plan is built.
A rollup that reads as ONE split (``build_rollups`` writes each small
rollup as one file) is cached as a single partition, so a routed
group/order runs as one job and one task: no Exchange, no AQE re-plan.
A rollup that reads as several splits keeps its hash Exchange — it is
large enough that a parallel re-aggregation beats funnelling every row
through one task.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from query_planner_optimizer_spark.dsl import compiler as C
from query_planner_optimizer_spark.functions import histq as _HQ
from query_planner_optimizer_spark.functions.rounding import round_half_up


#: Lossless time-grain derivations: (rollup key, wanted column) →
#: expression over the key reproducing the catalog's own derivation
#: from ts (catalog.augment_time_columns) — day is a prefix of the
#: 'yyyy-MM-dd HH:mm' minute string, a date-cast of the hour
#: timestamp; week is the Monday truncation of any finer grain
#: (truncations compose). Lets a finer-grain rollup serve
#: coarser-grain queries (classic rollup-hierarchy navigation): a
#: (minute, type) rollup answers day-filtered or week-grouped queries
#: exactly, because every rollup row belongs to exactly one day/week.
#: ``hour`` is never DERIVED (its timestamp-vs-ntz flavor follows the
#: source data; re-deriving could flip the type) — only consumed.
_TIME_DERIVE: dict[tuple[str, str], "object"] = {
    ("minute", "day"): lambda: F.to_date(F.substring("minute", 1, 10)),
    ("hour", "day"): lambda: F.to_date(F.col("hour")),
    ("day", "week"): lambda: F.to_date(F.date_trunc("week", F.col("day"))),
    ("hour", "week"): lambda: F.to_date(F.date_trunc("week", F.col("hour"))),
    ("minute", "week"): lambda: F.to_date(
        F.date_trunc("week", F.to_date(F.substring("minute", 1, 10)))),
}

#: Derivations that are exact ONLY when the caller pins the target
#: dtype (``RollupRouter.time_dtypes``): ``hour``'s timestamp-vs-ntz
#: flavor follows the source parquet, so a router that doesn't know
#: the base frame's flavor must refuse (the r6 refusal) — but a caller
#: that DOES know it (PlanRouter reads its view's schema) can admit
#: the minute→hour truncation: every minute-string row belongs to
#: exactly one hour, the wall-clock text is flavor-independent, and
#: the final cast pins the exact source dtype (UTC session, so ltz and
#: ntz parse identically).
_TIME_DERIVE_TYPED: dict[tuple[str, str], "object"] = {
    ("minute", "hour"): lambda dtype: F.concat(
        F.substring("minute", 1, 13), F.lit(":00:00")).cast(dtype),
}


class RollupRouter:
    def __init__(self, spark: SparkSession, aggregates_dir: str,
                 rollup_keys: dict[str, list[str] | dict] | None = None):
        """``rollup_keys``: name → grouping-key list, or a full spec dict
        ``{"keys": [...], "table": "<source table>"}`` (table defaults to
        ``events``); defaults to ``prepare.ROLLUPS``. Rollup measures are
        discovered from the parquet schema (sum_*/count_*/n_rows)."""
        from query_planner_optimizer_spark.prepare import ROLLUPS

        self.spark = spark
        self.dir = aggregates_dir
        self.keys: dict[str, list[str]] = {}
        self.tables: dict[str, str] = {}
        for name, spec in (rollup_keys or ROLLUPS).items():
            if isinstance(spec, dict):
                self.keys[name] = list(spec["keys"])
                self.tables[name] = spec.get("table", "events")
            else:
                self.keys[name] = list(spec)
                self.tables[name] = "events"
        self._frames: dict[str, DataFrame] = {}
        self._rowcounts: dict[str, int] = {}
        self.routed = 0
        self.fallbacks = 0
        #: name of the rollup chosen by the most recent route() call
        self.last_rollup: str | None = None
        #: target dtypes for flavor-dependent derivations
        #: (_TIME_DERIVE_TYPED): e.g. {"hour": <the base frame's hour
        #: dtype>}. Empty = those derivations stay refused (a wrong
        #: flavor would silently break bit-exactness; PlanRouter fills
        #: this from its view's schema).
        self.time_dtypes: dict[str, object] = {}
        # Heal any crash-interrupted refresh_rollups swap before the
        # first _available() scan, so a stranded ``.refresh_old`` aside
        # is renamed back instead of the rollup silently vanishing.
        from query_planner_optimizer_spark.prepare import recover_rollup_swap

        for name in self.keys:
            recover_rollup_swap(os.path.join(self.dir, f"{name}.parquet"))

    def invalidate(self) -> None:
        """Drop cached rollup frames and memoized footer row counts.

        ``_frame`` caches each rollup DataFrame and ``_rowcount`` its
        footer count for the router's lifetime — correct while the
        rollup files are immutable, which ``refresh_rollups`` breaks (it
        REPLACES the files; a router that outlives a refresh would pin
        stale data, and a partially-materialized cache could hit
        FileNotFound on recompute). Call this (or build a new router)
        after any refresh of the same directory."""
        for df in self._frames.values():
            df.unpersist()
        self._frames.clear()
        self._rowcounts.clear()

    def _frame(self, name: str) -> DataFrame:
        if name not in self._frames:
            df = self.spark.read.parquet(os.path.join(self.dir, f"{name}.parquet"))
            # Rollups are 10^3-10^6 rows where the base table is 10^9+;
            # cache so repeated routed hits re-scan memory, not parquet —
            # mirrors the reference's eager aggregate-table cache
            # (query_engine.py:526-532). Materialization is lazy (first
            # routed query pays it), so constructing a router is free.
            # INVARIANT: cached frames assume the files don't change;
            # after refresh_rollups call invalidate() (or rebuild).
            # One split → coalesce(1) (no shuffle: a 1→1 narrow step) so
            # the cached frame reports SinglePartition and every routed
            # groupBy/orderBy over it plans without an Exchange — one
            # job, one task. Several splits keep unknown partitioning:
            # the re-aggregation then shuffles in parallel, which is
            # what a rollup too big for one split needs.
            if df.rdd.getNumPartitions() == 1:
                df = df.coalesce(1)
            df = df.cache()
            self._frames[name] = df
        return self._frames[name]

    def _available(self) -> list[str]:
        return [
            n for n in self.keys
            if os.path.exists(os.path.join(self.dir, f"{n}.parquet"))
        ]

    def _rowcount(self, name: str) -> int:
        """Rollup size from parquet FOOTER metadata — no Spark job, no
        sidecar stats file to drift after refresh_rollups (footers are
        always current). Cached per router instance."""
        if name in self._rowcounts:
            return self._rowcounts[name]
        import pyarrow.parquet as pq

        path = os.path.join(self.dir, f"{name}.parquet")
        total = 0
        if os.path.isdir(path):
            for f in os.listdir(path):
                if f.endswith(".parquet"):
                    total += pq.read_metadata(
                        os.path.join(path, f)
                    ).num_rows
        else:
            total = pq.read_metadata(path).num_rows
        self._rowcounts[name] = total
        return total

    # -- subsumption ------------------------------------------------------

    def _plain_columns(self, q: dict) -> set[str]:
        def walk(cond) -> set[str]:
            # or/and/not trees reference columns in their leaves — the
            # same recursion the subquery detector uses (a flat
            # cond.get("col") on a tree node would yield None and
            # spuriously refuse every tree-filtered query).
            out: set[str] = set()
            if not isinstance(cond, dict):
                return out
            for kw in ("or", "and"):
                if kw in cond:
                    for b in cond[kw]:
                        out |= walk(b)
                    return out
            if "not" in cond:
                return walk(cond["not"])
            if cond.get("col") is not None:
                out.add(cond["col"])
            if cond.get("col2") is not None:
                out.add(cond["col2"])
            return out

        cols: set[str] = set()
        for term in q.get("select") or []:
            if not isinstance(term, dict):
                cols.add(term)
        for cond in q.get("where") or []:
            cols |= walk(cond)
        cols.update(q.get("group_by") or [])
        return cols

    def _agg_terms(self, q: dict):
        return [C._parse_agg_term(t) for t in (q.get("select") or [])
                if isinstance(t, dict)]

    def _measure(
        self,
        fname: str,
        col,
        schema: dict,
        round_to: int | None,
        keys: frozenset = frozenset(),
        native_round: bool = False,
    ) -> Column | None:
        """Re-derive an aggregate from rollup partials, applying the SAME
        rounding transform as the compiler's scan path: rollup sums over
        fractional measures are stored DECIMAL (prepare.rollup_frame), so
        merging partials is exact and ROUND lands on the identical value
        the raw scan (and the SQL oracle) produces — the routed and
        unrouted answers are bit-equal, not merely close."""
        from pyspark.sql import types as T

        if not isinstance(col, str):
            return None  # expression aggregates aren't in any rollup
        if fname == "COUNT" and col == "*":
            return F.sum("n_rows")
        sum_dt = schema.get(f"sum_{col}")
        is_dec = isinstance(sum_dt, T.DecimalType)
        if (is_dec and round_to is not None
                and sum_dt.scale != C.agg_decimal_scale(round_to)):
            # Accumulator-scale mismatch: the stored partials were built
            # under a DIFFERENT decimal scale than the scan path (and
            # the SQL oracle) accumulate at — e.g. a rollup dir
            # persisted before the r8 scale-16 → scale-12 migration, or
            # a round_to coarser than the stored guard digits cover.
            # Serving it would silently carry the old scale's cast
            # noise against the new contract; refuse and let the raw
            # scan answer (rebuild the rollup to re-admit the route).
            return None
        if fname == "SUM" and f"sum_{col}" in schema:
            if is_dec and round_to is None:
                # Unrounded fractional SUM: the routed value would be the
                # EXACT decimal sum (partials are stored DECIMAL) while
                # the scan path and the SQL oracle both sum doubles in
                # partition order — the two can differ by an ulp with no
                # rounding step to absorb it. Refuse; the scan is the
                # only bit-faithful answer.
                return None
            s = F.sum(f"sum_{col}")
            if round_to is not None:
                # Rounded SUM is always DOUBLE on the scan path (the
                # compiler rounds a DECIMAL accumulator then casts, even
                # for integral measures) — match it exactly.
                return F.round(s, round_to).cast("double")
            return s
        if fname == "COUNT" and f"count_{col}" in schema:
            return F.sum(f"count_{col}")
        if (fname == "AVG" and f"sum_{col}" in schema
                and f"count_{col}" in schema):
            if is_dec and round_to is None:
                # Same ulp hazard as unrounded SUM: exact-decimal
                # numerator vs the scan's order-dependent double avg.
                return None
            # NULL (not error/NaN) when no non-null inputs — AVG semantics
            # under ANSI mode's divide-by-zero checks. Formula mirrors the
            # compiler exactly: double(exact decimal sum) / count, then
            # the explicit FLOOR(x·10^r + 0.5)/10^r half-up (r8: native
            # double ROUND is engine-defined at half-boundaries) —
            # identical IEEE ops → identical bits.
            cnt = F.sum(f"count_{col}")
            avg = F.sum(f"sum_{col}").cast("double") / cnt
            if round_to is not None:
                if native_round:
                    # The query being served spelled native
                    # ROUND(double, k) (the PlanRouter's pre-r8 AVG
                    # idiom, catalyst_router._agg_term) — its unrouted
                    # plan rounds with Spark ROUND, so the routed
                    # measure must too; serving FLOOR half-up here
                    # would break routed == unrouted at the exact
                    # half-boundaries where the two roundings differ.
                    avg = F.round(avg, round_to)
                else:
                    p = float(10 ** round_to)
                    avg = F.floor(avg * F.lit(p) + F.lit(0.5)) / F.lit(p)
            return F.when(cnt > 0, avg)
        # MIN/MAX re-aggregate losslessly from stored partials (min of
        # mins ≡ min, order-independent exact), so the routed value
        # matches the scan bit-for-bit as long as the ROUNDING spelling
        # matches: the DSL scan path rounds through the shared FLOOR
        # half-up (r9), while a PlanRouter-matched raw-SQL plan rounds
        # NATIVELY (catalyst_router flags it) — mirror whichever the
        # query being served actually computes.
        if fname == "MIN" and f"min_{col}" in schema:
            e = F.min(f"min_{col}")
            if round_to is None:
                return e
            return (F.round(e, round_to) if native_round
                    else round_half_up(e, round_to))
        if fname == "MAX" and f"max_{col}" in schema:
            e = F.max(f"max_{col}")
            if round_to is None:
                return e
            return (F.round(e, round_to) if native_round
                    else round_half_up(e, round_to))
        # Aggregates over a GROUPING KEY of the rollup need no stored
        # partial: the rollup's key column carries every distinct value
        # the base group contains, so MIN/MAX/COUNT(DISTINCT) over the
        # (filtered, re-grouped) rollup rows are exact. COUNT(key) is
        # NOT derivable (it weights by base-row multiplicity).
        if col in keys and round_to is None:
            if fname == "MIN":
                return F.min(col)
            if fname == "MAX":
                return F.max(col)
            if fname == "COUNT_DISTINCT":
                return F.countDistinct(col)
        # HLL sketch partial: union-of-sketches over the re-grouped
        # rollup equals the sketch of the union, so the routed estimate
        # is IDENTICAL (not merely close) to the scan path's
        # sketch-then-estimate. Exact COUNT_DISTINCT never routes here
        # — approximation must be asked for by name.
        if (fname == "APPROX_COUNT_DISTINCT" and round_to is None
                and f"hll_{col}" in schema):
            return F.hll_sketch_estimate(F.hll_union_agg(f"hll_{col}"))
        # Histogram partial: per-bin integer counts merge by
        # elementwise addition under any regrouping, so the routed
        # cumulative counts EQUAL the scan form's (count of clamped
        # index <= i) and the shared interpolation over them is
        # bit-identical to scan AND oracle (functions/histq.py).
        # HIST_BINS is part of the rollup format: the stored arrays
        # were built from the same registry the estimator reads.
        if (fname in _HQ.APPROX_QUANTILES and isinstance(col, str)
                and f"hist_{col}" in schema and col in _HQ.HIST_BINS):
            lo, hi, nb = _HQ.HIST_BINS[col]
            # One aggregate per cumulative (sum of per-row slice-folds
            # of the stored array) — nesting cum_i = cum_{i-1} + sum_i
            # builds an O(nbins^2) tree that kills whole-stage codegen.
            # Column objects are cached module-wide: constructing ~50
            # array expressions costs ~1 s of py4j round trips per
            # route otherwise (functions/histq.py).
            e = _HQ.routed_quantile_cached(
                f"hist_{col}", _HQ.APPROX_QUANTILES[fname], lo, hi, nb)
            return (round_half_up(e, round_to)
                    if round_to is not None else e)
        return None

    def route(self, q: dict) -> DataFrame | None:
        """Rewrite ``q`` onto a qualifying rollup, or return None."""
        # Subsumption-or-refuse (the reference's routers silently drop
        # unhandled clauses — SURVEY.md §4 hazards): any query feature a
        # rollup cannot re-derive refuses the route outright.
        if any(kw in q for kw in
               ("join", "distinct", "union", "intersect", "except",
                "with")):
            return None
        if not isinstance(q.get("from", "events"), str):
            return None  # derived-table FROM is never a rollup scan
        if isinstance(q.get("group_by"), dict):
            return None  # rollup/cube/sets emit subtotal rows no
            # single-grain rollup can re-derive

        def _has_subquery(cond: dict) -> bool:
            for kw in ("or", "and"):
                if kw in cond:
                    return any(_has_subquery(b) for b in cond[kw])
            if "not" in cond:
                return _has_subquery(cond["not"])
            return isinstance(cond.get("val"), dict)

        if any(_has_subquery(c) for c in q.get("where") or []):
            return None  # scalar subqueries never route (outer-value dependent)
        if any(isinstance(t, dict)
               and ("expr" in t or "win" in t or "subquery" in t)
               for t in q.get("select") or []):
            return None  # computed/window/scalar-subquery projections
            # aren't rollup-derivable
        select = q.get("select") or []
        post_terms = [t for t in select if C._is_post_term(t)]
        if post_terms:
            # Post-aggregation expressions ARE rollup-derivable: route
            # the inner aggregate, then project the post expressions
            # over the routed frame — same split as the compiler's.
            inner_q = {k: v for k, v in q.items()
                       if k not in ("order_by", "limit", "offset")}
            inner_q["select"] = [t for t in select
                                 if not C._is_post_term(t)]
            base = self.route(inner_q)
            if base is None:
                return None
            avail = list(base.columns)
            proj, out_cols = [], []
            for term in select:
                if C._is_post_term(term):
                    C.validate_post_term(term, avail)
                    proj.append(C._post_column(term))
                    out_cols.append(term["as"])
                elif isinstance(term, dict):
                    n = C._parse_agg_term(term)[2]
                    proj.append(F.col(n))
                    out_cols.append(n)
                else:
                    proj.append(F.col(term))
                    out_cols.append(term)
            return C._apply_order_limit(base.select(*proj), q, out_cols)
        qtable = q.get("from", "events")
        agg_terms = self._agg_terms(q)
        # Raw term dicts, same filter as _agg_terms — carries the
        # PlanRouter's __round_native__ spelling flag into _measure.
        raw_terms = [t for t in (q.get("select") or [])
                     if isinstance(t, dict)]
        if not agg_terms:
            return None  # plain row-level select can't come from a rollup
        if any(t[4] for t in agg_terms):
            return None  # FILTER'd aggregates aren't in any rollup grain
        plain = self._plain_columns(q)
        # HAVING routes when every condition references a derivable
        # aggregate alias or a group key (then it's a plain filter on
        # the re-aggregated, grain-bounded frame). Anything else refuses.
        group_by = q.get("group_by") or []
        having = q.get("having") or []
        if having:
            out_aliases = {t[2] for t in agg_terms}
            resolvable = {a.lower() for a in out_aliases} | {
                k.lower() for k in group_by
            }
            for cond in having:
                if str(cond.get("col", "")).lower() not in resolvable:
                    return None

        candidates = []
        for name in self._available():
            if self.tables.get(name, "events") != qtable:
                continue
            keys = set(self.keys[name])
            # Columns outside the grain may still be DERIVABLE from a
            # key via the lossless time hierarchy (minute→day,
            # day/hour/minute→week): record which derivation serves
            # each missing column, refuse if any has none.
            derive: dict[str, tuple[str, str]] = {}
            ok = True
            for want in plain - keys:
                srcs = [(s, w) for (s, w) in _TIME_DERIVE
                        if w == want and s in keys]
                if want in self.time_dtypes:
                    srcs += [(s, w) for (s, w) in _TIME_DERIVE_TYPED
                             if w == want and s in keys]
                if not srcs:
                    ok = False
                    break
                derive[want] = srcs[0]
            if not ok:
                continue
            eff_keys = frozenset(keys | set(derive))
            frame_schema = {
                f.name: f.dataType for f in self._frame(name).schema.fields
            }
            measures = {}
            count_like = set()
            for (fname, col, out_name, round_to, _filt), raw in zip(
                    agg_terms, raw_terms):
                m = self._measure(fname, col, frame_schema, round_to,
                                  keys=eff_keys,
                                  native_round=bool(
                                      raw.get("__round_native__")))
                if m is None:
                    ok = False
                    break
                measures[out_name] = m
                if fname == "COUNT":
                    count_like.add(out_name)
            if ok:
                # COST-BASED choice: actual rollup row count (from the
                # parquet footer) first — the fewest-grouping-keys proxy
                # is wrong whenever a coarser-keyed grain has a
                # higher-cardinality key (e.g. minute vs (day, type)).
                # Key count and name only break exact-size ties, keeping
                # the choice deterministic.
                candidates.append(
                    (self._rowcount(name), len(self.keys[name]), name,
                     measures, count_like, derive)
                )
        if not candidates:
            self.fallbacks += 1
            return None
        _, _, name, measures, count_like, derive = min(
            candidates, key=lambda c: (c[0], c[1], c[2])
        )
        self.last_rollup = name

        df = self._frame(name)
        # Derived time-grain columns (minute->day, day->week, ...)
        # attach before filters/grouping reference them.
        for want, (src_key, _w) in derive.items():
            if (src_key, want) in _TIME_DERIVE:
                df = df.withColumn(want, _TIME_DERIVE[(src_key, want)]())
            else:
                df = df.withColumn(want, _TIME_DERIVE_TYPED[
                    (src_key, want)](self.time_dtypes[want]))
        # Filters apply on rollup grouping keys (or grain derivations)
        # — legal because every filtered column is part of the rollup
        # grain by subsumption, unlike the reference's silent drop
        # (query_engine.py:166-232). _bool_tree handles or/not trees
        # with the compiler's own leaf semantics.
        conds = q.get("where") or []
        if conds:
            combined = None
            for cond in conds:
                c = C._bool_tree(df, cond)
                combined = c if combined is None else (combined & c)
            df = df.filter(combined)

        agg_exprs = [m.alias(n) for n, m in measures.items()]

        def apply_having(frame: DataFrame, columns: list[str]) -> DataFrame:
            # Twin of the compiler's apply_having: conditions resolve
            # against aggregate aliases + group keys on the re-aggregated
            # (grain-bounded) frame, case-insensitively.
            combined = None
            for cond in having:
                resolved = dict(cond)
                resolved["col"] = C._resolve_order_col(
                    str(cond.get("col")), columns
                )
                c = C._filter_condition(frame, resolved)
                combined = c if combined is None else (combined & c)
            return frame.filter(combined) if combined is not None else frame

        if group_by:
            df = df.groupBy(*group_by).agg(*agg_exprs)
            if having:
                df = apply_having(df, list(group_by) + list(measures.keys()))
            names = []
            agg_iter = iter(measures.keys())
            for term in q.get("select") or []:
                names.append(next(agg_iter) if isinstance(term, dict) else term)
            df = df.select(*names)
            out_columns = names
        else:
            # Ungrouped route: a WHERE that matches zero rollup rows makes
            # SUM(n_rows)/SUM(count_c) return NULL, but COUNT semantics
            # (base path and SQL alike) say 0 — coalesce the COUNT-derived
            # measures. Grouped routes are unaffected: empty groups simply
            # produce no rows on both paths.
            agg_exprs = [
                (F.coalesce(m, F.lit(0)) if n in count_like else m).alias(n)
                for n, m in measures.items()
            ]
            df = df.agg(*agg_exprs)
            out_columns = list(measures.keys())
            if having:
                df = apply_having(df, out_columns)

        order_by = q.get("order_by") or []
        if order_by:
            sort_cols = []
            for spec in order_by:
                if isinstance(spec, str):
                    nm, direction = spec, "asc"
                else:
                    nm, direction = spec.get("col"), (spec.get("dir") or "asc").lower()
                resolved = C._resolve_order_col(nm, out_columns)
                col = F.col(resolved)
                sort_cols.append(col.desc() if direction == "desc" else col)
            df = df.orderBy(*sort_cols)
        if q.get("offset") is not None:
            # Same contract as the compiler twin: OFFSET without a sort
            # skips arbitrary rows — invalid, not merely unroutable.
            if not order_by:
                raise C.QueryError("'offset' requires an order_by")
            df = df.offset(int(q["offset"]))
        if q.get("limit") is not None:
            df = df.limit(int(q["limit"]))
        self.routed += 1
        return df
