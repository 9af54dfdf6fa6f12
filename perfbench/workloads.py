"""The benchmark's workloads, each driven by one closed-loop client
(one request in flight) against ``local[4]`` through the package's
public entry points.

- ``adhoc_dsl``: ``prepare.prepare`` once per set-up, then the
  reference's JSON-DSL shapes through ``runner.QueryRunner.run_one``
  with rollup routing and the result cache on. Small results.
- ``corpus_ingest``: persisted dedup and BM25 indexes built once per
  set-up; each request is one daily round of ``daily_ingest``,
  ``incremental_clusters``, the two index appends and a BM25 probe.

Untraced runs time the requests that start within ``seconds`` (the one
in flight at the deadline completes and counts). Traced runs process a
fixed prefix of the same stream, so their counts repeat exactly for a
seed, with a Spark job group per request and the event log on."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import check
import gen
import tracing
from tracing import median, percentile

SETUP_REPEATS = 3
ADHOC_ROWS, ADHOC_DAYS = 100_000, 14
CORPUS_DOCS, SHARD_NEW, SHARD_NEAR, SHARD_RECRAWL = 2000, 150, 10, 10
BM25_TOPK = 20
#: Requests a traced run processes (whole cycles of each stream).
TRACE_REQUESTS = {"adhoc_dsl": 100, "corpus_ingest": 3}
#: Requests generated per run: far more than a run completes here.
STREAM_REQUESTS = {"adhoc_dsl": 800, "corpus_ingest": 30}

PER_LAYER = (
    "session.start_s",
    "prepare.prepare_s", "prepare.files_written", "prepare.bytes_written",
    "router.route_s", "router.routed_frac",
    "cache.hit_frac",
    "compiler.compile_s",
    "runner.run_s", "runner.rows_fetched", "runner.streamed_frac",
    "runner.self_s",
    "spark.job_wall_s", "spark.jobs", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.input_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.result_bytes",
    "spark.ungrouped_jobs",
    "incremental.build_s", "incremental.ingest_s", "incremental.clusters_s",
    "incremental.clusters_jobs", "incremental.append_s",
    "textindex.build_s", "textindex.append_s", "textindex.probe_s",
    "catalog.reader_s",
    "trace.req_per_s", "trace.requests",
)


class Context:
    """One run: its session, tracer, scratch directory and outcome."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.work = traced, work
        self.tracer = tracing.Tracer(traced)
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0)
        self.failed: dict[str, str] = {}  # timed request id -> why
        self.setup_failures: list[str] = []  # warm-up and whole-run checks
        self.spark = None
        self.session_s = 0.0
        self.event_dir = os.path.join(work, "eventlog")
        # Traced runs process a fixed number of requests instead of a window.
        self.limit = TRACE_REQUESTS[workload] if traced else None
        self.phases: list[tuple[str, float]] = [("start", time.perf_counter())]

    def phase(self, name: str) -> None:
        """Mark the end of a run phase (reported on stderr)."""
        self.phases.append((name, time.perf_counter()))

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def start_session(self) -> None:
        from query_planner_optimizer_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": self.path("spark-local", ""),
            "spark.sql.warehouse.dir": self.path("warehouse", ""),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp', '')}",
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master="local[4]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.session_s = time.perf_counter() - t0
        self.layers["session.start_s"] = self.session_s

    def stop_session(self) -> None:
        """Stop Spark, then end the JVM and wait for it."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    @contextmanager
    def step(self, name: str, group: str | None = None,
             kind: str | None = None):
        """A span around one public call; traced runs also put its
        Spark jobs in job group ``group``."""
        sc = self.spark.sparkContext if self.traced and group else None
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name, kind):
                yield
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev)

    def closed_loop(self, requests: list, do) -> tuple[list[float], float]:
        """Send requests one at a time; return latencies and the
        window length."""
        lat: list[float] = []
        t_start = time.perf_counter()
        deadline = t_start + self.seconds
        for i, req in enumerate(requests):
            if self.limit is not None and i >= self.limit:
                break
            if self.limit is None and time.perf_counter() >= deadline:
                break
            rid = f"t{i:05d}"
            self.tracer.rid = rid
            t0 = time.perf_counter()
            try:
                kind = req.get("kind") if isinstance(req, dict) else None
                with self.step("request", rid, kind):
                    do(i, rid, req)
            except Exception as e:  # noqa: BLE001 - a failed request, not a failed run
                self.failed.setdefault(rid, f"{type(e).__name__}: {e}")
            lat.append(time.perf_counter() - t0)
        else:
            if self.limit is None or len(requests) < self.limit:
                raise RuntimeError("request stream exhausted before the run ended")
        self.tracer.rid = None
        return lat, time.perf_counter() - t_start


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _end_to_end(ctx: Context, setup_s: float, lat: list[float],
                window_s: float, rss_mb: float, stored_ratio: float) -> dict:
    n = len(lat)
    return {
        "setup_s": setup_s,
        "req_per_s": n / window_s,
        "req_p50_s": median(lat),
        "req_p90_s": percentile(lat, 90.0),
        "ok_frac": (n - len(ctx.failed)) / n,
        "peak_rss_mb": rss_mb,
        "stored_bytes_ratio": stored_ratio,
    }


# --------------------------------------------------------------- adhoc_dsl


class DslRunner:
    """Runs DSL requests through one ``QueryRunner`` and keeps what the
    answer check needs."""

    def __init__(self, ctx: Context, qr, results_dir: str):
        self.ctx, self.qr = ctx, qr
        self.results_dir = results_dir
        self.done: list[tuple] = []  # (tag, query, csv path, QueryRun)
        os.makedirs(results_dir, exist_ok=True)
        if ctx.traced:
            self._instrument()

    def _instrument(self) -> None:
        import query_planner_optimizer_spark.runner as runner_mod

        t = self.ctx.tracer
        runner_mod.compile_query = t.wrap("compiler.compile",
                                          runner_mod.compile_query)
        if self.qr.router is not None:
            self.qr.router.route = t.wrap("router.route", self.qr.router.route)

    def run(self, tag: str, q: dict):
        """Run one request; ``tag`` starts with ``t`` for timed ones."""
        path = os.path.join(self.results_dir, f"{tag}.csv")
        with self.ctx.step("runner.run_one"):
            run = self.qr.run_one(q, csv_path=path)
        self.done.append((tag, q, path, run))
        if run.error:
            self.fail(tag, run.error)
        return run

    def fail(self, tag: str, why: str) -> None:
        if tag.startswith("t"):
            self.ctx.failed.setdefault(tag, why)
        else:
            self.ctx.setup_failures.append(f"{tag}: {why}")

    def warm_up(self, reqs: list[dict]) -> float:
        t0 = time.perf_counter()
        for i, r in enumerate(reqs):
            self.run(f"w{i:03d}", r["q"])
        return time.perf_counter() - t0

    def check_answers(self, csv_path: str, catalog) -> None:
        """Compare every result written (warm-up and timed) with DuckDB
        over the same generated CSV."""
        import duckdb
        import pandas as pd

        from query_planner_optimizer_spark.dsl.assembler import assemble_sql

        con = duckdb.connect()
        try:
            con.execute(f"""
                CREATE TABLE events AS
                SELECT CAST(ts AS BIGINT) AS ts, type, auction_id,
                       CAST(advertiser_id AS INT) AS advertiser_id,
                       CAST(publisher_id AS INT) AS publisher_id,
                       CAST(bid_price AS DOUBLE) AS bid_price,
                       CAST(user_id AS BIGINT) AS user_id,
                       CAST(total_price AS DOUBLE) AS total_price, country
                FROM read_csv('{csv_path}', header=true,
                              nullstr=['', 'null'], types={{'ts': 'VARCHAR'}})
            """)
            type_map = catalog.spark_type_map("events")
            oracle: dict[str, object] = {}
            for tag, q, path, run in self.done:
                if run.error:
                    continue  # already counted
                key = gen.query_key(q)
                if key not in oracle:
                    sql = assemble_sql(q, type_map, dialect="duckdb",
                                       ts_is_millis=True)
                    oracle[key] = con.execute(sql).df()
                got = pd.read_csv(path, keep_default_na=False, na_values=[""])
                why = check.compare(got, oracle[key])
                if why is not None:
                    self.fail(tag, why)
        finally:
            con.close()

    def layer_metrics(self, groups: dict) -> None:
        """Router, cache, compiler and runner numbers over the timed
        requests (traced runs only)."""
        t, L = self.ctx.tracer, self.ctx.layers
        timed = [r for tag, _, _, r in self.done if tag.startswith("t")]
        routes = t.durations("router.route")
        L["router.route_s"] = median(routes)
        L["router.routed_frac"] = (sum(r.routed for r in timed) / len(routes)
                                   if routes else 0.0)
        L["cache.hit_frac"] = sum(r.cached for r in timed) / len(timed)
        L["compiler.compile_s"] = median(t.durations("compiler.compile"))
        L["runner.rows_fetched"] = sum(r.total_rows for r in timed)
        L["runner.streamed_frac"] = sum(r.spilled for r in timed) / len(timed)
        # Per request: run_one minus route, compile and Spark job wall.
        per_rid: dict[str, dict[str, float]] = {}
        for s in t.spans:
            if s["rid"] and s["name"] in ("runner.run_one", "router.route",
                                          "compiler.compile"):
                d = per_rid.setdefault(s["rid"], {})
                d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
        L["runner.run_s"] = median([d["runner.run_one"]
                                    for d in per_rid.values()])
        L["runner.self_s"] = median([
            max(0.0, d["runner.run_one"] - d.get("router.route", 0.0)
                - d.get("compiler.compile", 0.0)
                - groups.get(rid, {}).get("job_wall_s", 0.0))
            for rid, d in per_rid.items()])


def adhoc_dsl(ctx: Context) -> dict:
    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.prepare import prepare
    from query_planner_optimizer_spark.runner import QueryRunner

    csv_path = ctx.path("events", "events_part_0.csv")
    csv_bytes = gen.write_events_csv(csv_path, ctx.seed, ADHOC_ROWS, ADHOC_DAYS)
    dom = gen.events_domain(ADHOC_ROWS, ADHOC_DAYS)
    stream = gen.adhoc_stream(ctx.seed, dom, STREAM_REQUESTS["adhoc_dsl"])
    ctx.phase("generate")
    ctx.start_session()
    ctx.phase("session")
    reps = []
    for r in range(SETUP_REPEATS):
        with ctx.step("prepare.prepare"):
            res, s = _timed(lambda: prepare(ctx.spark, csv_path,
                                            ctx.path(f"prepared{r}", "")))
        reps.append(s)
    out_dir = os.path.dirname(res.partitioned_dir)
    stored = tracing.tree_bytes(out_dir)
    ctx.layers.update({"prepare.prepare_s": median(reps),
                       "prepare.files_written": tracing.tree_files(out_dir),
                       "prepare.bytes_written": stored})

    ctx.phase("setup")
    catalog = Catalog(ctx.spark, out_dir, register_views=False,
                      overrides={"events": res.partitioned_dir})
    qr = QueryRunner(ctx.spark, catalog, aggregates_dir=res.aggregates_dir)
    dsl = DslRunner(ctx, qr, ctx.path("results", ""))
    warm_s = dsl.warm_up(stream["warmup"])
    ctx.phase("warm-up")
    lat, window_s = ctx.closed_loop(stream["timed"],
                                    lambda i, rid, req: dsl.run(rid, req["q"]))
    ctx.phase("window")
    rss = tracing.peak_rss_mb()
    dsl.check_answers(csv_path, catalog)
    ctx.phase("check")
    setup_s = ctx.session_s + median(reps) + warm_s
    e2e = _end_to_end(ctx, setup_s, lat, window_s, rss, stored / csv_bytes)
    return {"e2e": e2e, "lat": lat, "dsl": dsl}


# ------------------------------------------------------------------ corpus


def corpus_ingest(ctx: Context) -> dict:
    import query_planner_optimizer_spark.catalog as catalog_mod
    from pyspark.sql import functions as F

    from query_planner_optimizer_spark.operators import incremental as inc
    from query_planner_optimizer_spark.operators import textindex as ti
    from query_planner_optimizer_spark.operators.relevance import bm25_scores
    from query_planner_optimizer_spark.sources.docs_jsonl import (
        read_docs_jsonl,
    )

    base = gen.corpus_docs(ctx.seed, CORPUS_DOCS)
    rounds = gen.corpus_rounds(ctx.seed, base, STREAM_REQUESTS["corpus_ingest"],
                               SHARD_NEW, SHARD_NEAR, SHARD_RECRAWL)
    corpus_path = ctx.path("corpus", "corpus.jsonl")
    gen.write_docs_jsonl(corpus_path, base)
    for r, rnd in enumerate(rounds):
        rnd["path"] = ctx.path("shards", f"shard{r:03d}.jsonl")
        gen.write_docs_jsonl(rnd["path"], rnd["docs"])
    ctx.phase("generate")
    ctx.start_session()
    ctx.phase("session")
    spark = ctx.spark
    if ctx.traced:
        catalog_mod.cached_parquet = ctx.tracer.wrap(
            "catalog.cached_parquet", catalog_mod.cached_parquet)

    def docs(path):
        return read_docs_jsonl(spark, path).select("doc_id", "text")

    corpus = docs(corpus_path)
    dd_s, ti_s = [], []
    for r in range(SETUP_REPEATS):
        dedup_dir, text_dir = ctx.path(f"dedup{r}", ""), ctx.path(f"text{r}", "")
        with ctx.step("incremental.build"):
            _, s = _timed(lambda: inc.build_dedup_index(corpus, dedup_dir))
        dd_s.append(s)
        with ctx.step("textindex.build"):
            _, s = _timed(lambda: ti.build_text_index(corpus, text_dir))
        ti_s.append(s)
    cl_dir = ctx.path("clusters", "c_base")
    corpus.select("doc_id", F.col("doc_id").alias("cluster_id")) \
        .write.parquet(cl_dir)
    state = {"clusters": spark.read.parquet(cl_dir), "top": None,
             "ingested": list(base), "rounds": 0, "last": None}

    def one_round(r: int, rnd: dict, rid: str | None) -> list[str]:
        """One daily round; returns why its answers are wrong, if they are."""
        def grp(name):
            return f"{rid}:{name}" if rid else None

        shard = docs(rnd["path"])
        with ctx.step("incremental.ingest", grp("ingest")):
            status = inc.daily_ingest(spark, shard, dedup_dir).collect()
        with ctx.step("incremental.clusters", grp("clusters")):
            out = ctx.path("clusters", f"c{r:03d}")
            inc.incremental_clusters(spark, shard, dedup_dir,
                                     state["clusters"]) \
                .select("doc_id", "cluster_id").write.parquet(out)
            state["clusters"] = spark.read.parquet(out)
        with ctx.step("incremental.append", grp("append")):
            inc.append_shard_to_index(shard, dedup_dir)
        with ctx.step("textindex.append", grp("text_append")):
            ti.append_to_text_index(spark, shard, text_dir)
        with ctx.step("textindex.probe", grp("probe")):
            top = ti.bm25_index_topk(spark, text_dir, rnd["terms"],
                                     k=BM25_TOPK).collect()
        state["ingested"].extend(rnd["docs"])
        state["top"] = (rnd["terms"], [(t["doc_id"], t["score"]) for t in top])
        state["rounds"] += 1
        state["last"] = rid
        why = []
        exact = sum(1 for s in status if s["status"] == "exact_dup")
        if exact != rnd["recrawl"]:
            why.append(f"round {r}: {exact} exact_dup != {rnd['recrawl']} re-crawls")
        if not set(rnd["marked"]) & {t["doc_id"] for t in top}:
            why.append(f"round {r}: BM25 top-{BM25_TOPK} misses the appended docs")
        return why

    ctx.phase("setup")
    t0 = time.perf_counter()
    ctx.setup_failures.extend(one_round(0, rounds[0], None))
    warm_s = time.perf_counter() - t0
    ctx.phase("warm-up")

    def do(i, rid, rnd):
        why = one_round(i + 1, rnd, rid)
        if why:
            ctx.failed[rid] = "; ".join(why)

    lat, window_s = ctx.closed_loop(rounds[1:], do)
    ctx.phase("window")
    rss = tracing.peak_rss_mb()
    stored = tracing.tree_bytes(dedup_dir) + tracing.tree_bytes(text_dir)
    text_bytes = sum(len(t.encode()) for _, t in state["ingested"])

    # Final checks: the last probe equals BM25 recomputed from scratch
    # over every ingested document, and the cluster assignment holds
    # exactly one two-document cluster per injected duplicate.
    terms, got = state["top"]
    every = ctx.path("check", "all.jsonl")
    gen.write_docs_jsonl(every, state["ingested"])
    want = [(r["doc_id"], r["score"]) for r in
            bm25_scores(docs(every), terms)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(BM25_TOPK).collect()]
    if [d for d, _ in got] != [d for d, _ in want] or any(
            abs(a - b) > check.ABS_TOL for (_, a), (_, b) in zip(got, want)):
        ctx.failed.setdefault(state["last"], f"last BM25 probe {got[:3]}... "
                              f"!= from-scratch {want[:3]}...")
    sizes = [r["n"] for r in state["clusters"].groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("n")).filter("n > 1").collect()]
    injected = state["rounds"] * (SHARD_NEAR + SHARD_RECRAWL)
    if len(sizes) != injected or any(n != 2 for n in sizes):
        ctx.setup_failures.append(
            f"{len(sizes)} duplicate clusters (sizes {sorted(set(sizes))}) "
            f"!= {injected} injected pairs")

    ctx.phase("check")
    L = ctx.layers
    L["incremental.build_s"] = median(dd_s)
    L["textindex.build_s"] = median(ti_s)
    for name in ("incremental.ingest", "incremental.clusters",
                 "incremental.append", "textindex.append", "textindex.probe"):
        L[name + "_s"] = median(ctx.tracer.durations(name))
    per_round: dict[str, float] = {}
    for s in ctx.tracer.spans:
        if s["name"] == "catalog.cached_parquet" and s["rid"]:
            per_round[s["rid"]] = per_round.get(s["rid"], 0.0) + s["end"] - s["start"]
    L["catalog.reader_s"] = median(list(per_round.values()))
    setup_s = ctx.session_s + median([a + b for a, b in zip(dd_s, ti_s)]) + warm_s
    e2e = _end_to_end(ctx, setup_s, lat, window_s, rss, stored / text_bytes)
    return {"e2e": e2e, "lat": lat, "dsl": None}


WORKLOADS = {"adhoc_dsl": adhoc_dsl, "corpus_ingest": corpus_ingest}


def spark_layer_metrics(ctx: Context, out: dict) -> None:
    """Fold the event log's per-group counters into the layer table:
    totals over the timed requests, job wall as a per-request median."""
    logs = [os.path.join(ctx.event_dir, f) for f in os.listdir(ctx.event_dir)]
    groups: dict = {}
    for p in logs:
        groups.update(tracing.parse_event_log(p))
    per_req: dict[str, dict[str, float]] = {}
    for g, c in groups.items():
        if g.startswith("t"):
            rid = g.split(":")[0]
            acc = per_req.setdefault(rid, dict.fromkeys(tracing.SPARK_COUNTERS, 0))
            for k, v in c.items():
                acc[k] += v
    L = ctx.layers
    for k in tracing.SPARK_COUNTERS:
        if k == "job_wall_s":
            L["spark.job_wall_s"] = median([c[k] for c in per_req.values()])
        else:
            L[f"spark.{k}"] = sum(c[k] for c in per_req.values())
    L["spark.ungrouped_jobs"] = groups.get(tracing.UNGROUPED, {}).get("jobs", 0)
    L["incremental.clusters_jobs"] = sum(
        c["jobs"] for g, c in groups.items() if g.endswith(":clusters"))
    if out["dsl"] is not None:
        out["dsl"].layer_metrics(per_req)
    L["trace.req_per_s"] = out["e2e"]["req_per_s"]
    L["trace.requests"] = len(out["lat"])


def run(workload: str, seed: int, seconds: float, traced: bool,
        work: str) -> dict:
    """Run one workload; return the result object the CLI prints."""
    os.makedirs(work, exist_ok=True)
    ctx = Context(workload, seed, seconds, traced, work)
    try:
        out = WORKLOADS[workload](ctx)
    finally:
        ctx.stop_session()
        ctx.phase("stop")
    if traced:
        spark_layer_metrics(ctx, out)
    lat = out["lat"]
    e2e = out["e2e"]
    return {
        "ctx": ctx,
        "lat": lat,
        "end_to_end": e2e,
        "per_layer": ctx.layers,
        "attempted": len(lat),
        "failed": len(ctx.failed),
        "correct": not ctx.failed and not ctx.setup_failures,
    }
