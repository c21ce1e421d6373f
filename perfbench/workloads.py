"""The benchmark's workloads.

Each workload builds its inputs from the seed, runs a timed phase through
the public API of ``webcrawler_spark``, checks the outputs and returns a
``Result``. Why each workload exists, which layers it loads and which
end-to-end metric each layer metric should move are in perfbench/README.md.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from webcrawler_spark.benchlib import _persistent_rdd_ids, _unpersist_new_rdds
from webcrawler_spark.config import CrawlConfig, all_optins_config
from webcrawler_spark.functions import columns as C
from webcrawler_spark.functions.udfs import extract_metadata_udf
from webcrawler_spark.functions.urlnorm_native import is_simple_url
from webcrawler_spark.operators import dedup as D
from webcrawler_spark.operators import links as LK
from webcrawler_spark.operators import postings as PO
from webcrawler_spark.operators import scheduler as S
from webcrawler_spark.operators import search as SE
from webcrawler_spark.plans import epoch as E
from webcrawler_spark.storage.catalog import Catalog

from . import inputs as I
from .trace import PYTHON_NODES, SCAN_NODES, covered_s, job_window_ms

# ---- sizes: every benchmark run together must fit in an hour on a 4-core box
FULL_HOSTS, FULL_PAGES, FULL_EPOCHS = 200, 1500, 2
MIN_QUERIES, WARM_QUERIES, TOP_K, CHECKED_QUERIES = 20, 3, 10, 2
FRONTIER_URLS, MIN_BATCHES = 25_000, 2

LAYERS = ("bench", "epoch", "catalog", "dedup", "scheduler", "links", "postings")

# every per-layer metric and its unit; a workload that does not load a
# layer reports its metrics as 0
PER_LAYER = {
    "epoch.wall_s_p50": "s", "epoch.wall_s_max": "s", "epoch.jobs": "count",
    "epoch.stages": "count", "epoch.tasks": "count", "epoch.driver_idle_frac": "ratio",
    "catalog.stage_s_sum": "s", "catalog.stage_s_max": "s", "catalog.files_written": "count",
    "catalog.bytes_written": "bytes", "catalog.commit_s": "s", "catalog.compact_s": "s",
    "catalog.bytes_rewritten": "bytes", "catalog.bytes_per_page": "bytes",
    "catalog.read_union_s": "s", "catalog.dirs_read_per_query": "count",
    "dedup.candidates": "count", "dedup.new_frac": "ratio", "dedup.bloom_negative_frac": "ratio",
    "urlnorm.native_frac": "ratio", "udf.arrow_bytes_out": "bytes",
    "udf.arrow_bytes_in": "bytes", "udf.python_rows": "count",
    "schedule.pending_rows": "count", "schedule.scheduled": "count",
    "schedule.deferred": "count", "schedule.rejected": "count",
    "schedule.task_skew": "ratio", "schedule.shuffle_bytes": "bytes",
    "parse.pages": "count", "parse.links_extracted": "count", "parse.links_dup_frac": "ratio",
    "search.plan_ms": "ms", "search.exec_ms": "ms", "search.jobs_per_query": "count",
    "search.rows_scanned_per_query": "count", "search.files_opened_per_query": "count",
    "spark.executor_busy_frac": "ratio", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "bench.samples": "count", "process.peak_rss_mb": "MB",
    "trace.wall_s": "s", "trace.layer_frac": "ratio", "trace.untagged_jobs": "count",
    "trace.bookkeeping_s": "s", "trace.throughput_per_s": "1/s", "trace.latency_ms_p50": "ms",
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    cores: int
    workdir: str
    tracer: object | None = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def stop_tracing(self) -> None:
        if self.tracer:
            self.tracer.restore()


@dataclass
class Result:
    setup_s: float = 0.0
    throughput_per_s: float = 0.0
    latencies_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    details: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.details.setdefault("failed_checks", []).append(name)


def patch_layers(tracer) -> None:
    """Wrap every public entry point the workloads reach, so the spans show
    which layer each second and each Spark job belongs to."""
    tracer.patch(E, "run_epoch")
    for m in ("stage", "commit_epoch", "read_delta_union", "read_snapshot", "compact_delta"):
        tracer.patch(Catalog, m)
    for m in ("canonicalize", "dedupe_new_urls", "update_bloom"):
        tracer.patch(D, m)
    tracer.patch(S, "schedule_epoch")
    tracer.patch(LK, "extract_all_links")
    tracer.patch(PO, "postings_bm25")


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


# ---- crawl pieces ----------------------------------------------------------------
def _load_web(ctx: Ctx, n_hosts: int, n_pages: int):
    web = I.generate_web(ctx.seed, n_hosts, n_pages)
    pages, seeds, robots = I.web_frames(ctx.spark, web, os.path.join(ctx.workdir, "web"))
    prepared = E.prepare_pages(pages).persist()
    prepared.count()
    return web, seeds, robots, prepared


def _warm_udfs(prepared) -> None:
    """Start the Python workers and import the parse path before timing."""
    prepared.limit(64).select(
        extract_metadata_udf(F.col("html"), F.col("url_norm")).alias("m")
    ).select("m.*").count()


def _crawl(ctx: Ctx, seeds, robots, prepared, n_epochs: int, cfg):
    cat = Catalog(ctx.spark, os.path.join(ctx.workdir, "catalog"))
    t0 = time.perf_counter()
    counters = E.run_epochs(
        ctx.spark, cat, None, seeds, robots, n_epochs, cfg, pages_prepared=prepared
    )
    return cat, counters, time.perf_counter() - t0


def _check_epochs(res: Result, cat, n_epochs: int) -> None:
    committed = {e["epoch"] for e in cat.read_manifest()["epochs"]}
    for e in range(n_epochs):
        res.check(f"epoch {e} committed", e in committed)


def _crawl_layers(res: Result, trace, cat, counters, n_seeds: int) -> None:
    """plans.epoch, storage.catalog write side, dedup, parse and scheduler
    counts of a crawl."""
    m = res.layer
    epochs = trace.named("run_epoch")
    walls = [s.t1 - s.t0 for s in epochs]
    jobs = [trace.jobs_under(s) for s in epochs]
    stages = [trace.stages_of(j) for j in jobs]
    m["epoch.wall_s_p50"] = statistics.median(walls)
    m["epoch.wall_s_max"] = max(walls)
    m["epoch.jobs"] = statistics.mean(len(j) for j in jobs)
    m["epoch.stages"] = statistics.mean(len(s) for s in stages)
    m["epoch.tasks"] = statistics.mean(sum(st["numCompleteTasks"] for st in s) for s in stages)
    busy = sum(covered_s(job_window_ms(j), s.t0, s.t1) for s, j in zip(epochs, jobs))
    m["epoch.driver_idle_frac"] = 1.0 - busy / sum(walls)

    per_epoch: dict[int, list[float]] = {}
    for s in trace.named("stage"):
        per_epoch.setdefault(s.parent.sid, []).append(s.t1 - s.t0)
    m["catalog.stage_s_sum"] = statistics.mean(sum(v) for v in per_epoch.values())
    m["catalog.stage_s_max"] = max(max(v) for v in per_epoch.values())
    m["catalog.commit_s"] = sum(s.t1 - s.t0 for s in trace.named("commit_epoch"))
    compacts = trace.named("compact_delta")
    m["catalog.compact_s"] = sum(s.t1 - s.t0 for s in compacts)
    m["catalog.bytes_rewritten"] = sum(
        st["outputBytes"] for s in compacts for st in trace.stages_of(trace.jobs_under(s))
    )
    files = size = 0
    for table in os.listdir(cat.root):
        tdir = os.path.join(cat.root, table)
        if os.path.isdir(tdir):
            for part in os.listdir(tdir):
                if part.startswith("epoch="):
                    f, b = _dir_usage(os.path.join(tdir, part))
                    files, size = files + f, size + b
    pages = sum(c["pages_fetched"] for c in counters)
    m["catalog.files_written"] = files / len(counters)
    m["catalog.bytes_written"] = size / len(counters)
    m["catalog.bytes_per_page"] = _dir_usage(cat.root)[1] / pages

    # raw candidates: the seeds, then each epoch's discovered links but the last's
    last = len(counters) - 1
    links = cat.read_delta_union("links", last)
    cands = n_seeds + (
        links.filter(F.col("link_type").isin("internal", "external"))
        .filter(F.col("discovered_epoch") < last)
        .count()
    )
    m["dedup.candidates"] = cands
    m["dedup.new_frac"] = sum(c["urls_new"] for c in counters) / cands
    n_links = links.count()
    m["parse.pages"] = pages
    m["parse.links_extracted"] = n_links
    m["parse.links_dup_frac"] = 1.0 - links.select("target_url").distinct().count() / n_links
    m["urlnorm.native_frac"] = links.select(
        F.avg(is_simple_url(F.col("target_url")).cast("double"))
    ).first()[0]
    m["schedule.scheduled"] = sum(c["urls_scheduled"] for c in counters)
    m["schedule.deferred"] = sum(c["urls_deferred"] for c in counters)
    m["schedule.rejected"] = (
        cat.read_merged("frontier", last).filter(F.col("status") == "rejected").count()
    )
    m["schedule.pending_rows"] = (
        m["schedule.scheduled"] + m["schedule.deferred"] + m["schedule.rejected"]
    )


def _schedule_layer(res: Result, trace, root) -> None:
    """Shuffle bytes of the politeness windows and the task skew of their
    heaviest stage (max over median task time), over the timed phase."""
    skews, shuffle = [], 0
    for s in trace.named("schedule_epoch"):
        if s.t0 < root.t0:
            continue  # a warm-up batch in set-up
        stages = trace.stages_of(trace.jobs_under(s))
        shuffle += sum(st["shuffleWriteBytes"] for st in stages)
        if stages:
            heavy = max(stages, key=lambda st: st["executorRunTime"])
            durs = [t["duration"] for t in trace.tasks(heavy) if t.get("duration")]
            if durs:
                skews.append(max(durs) / max(statistics.median(durs), 1))
    res.layer["schedule.task_skew"] = max(skews, default=1.0)
    res.layer["schedule.shuffle_bytes"] = shuffle


def _engine_layer(res: Result, trace, root, cores: int) -> None:
    """Spark totals over the timed phase, Python UDF traffic and each
    layer's self time."""
    jobs = trace.jobs_under(root)
    stages = trace.stages_of(jobs)
    wall = root.t1 - root.t0
    m = res.layer
    m["spark.executor_busy_frac"] = (
        sum(st["executorRunTime"] for st in stages) / 1000.0 / (wall * cores)
    )
    m["spark.shuffle_write_bytes"] = sum(st["shuffleWriteBytes"] for st in stages)
    m["spark.shuffle_read_bytes"] = sum(st["shuffleReadBytes"] for st in stages)
    m["spark.spill_bytes"] = sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in stages)
    m["spark.gc_s"] = sum(st["jvmGcTime"] for st in stages) / 1000.0
    m["udf.arrow_bytes_out"] = trace.sql_total(jobs, PYTHON_NODES, "data sent to Python workers")
    m["udf.arrow_bytes_in"] = trace.sql_total(jobs, PYTHON_NODES, "data returned from Python workers")
    m["udf.python_rows"] = trace.sql_total(jobs, PYTHON_NODES, "number of output rows")
    selfs = trace.self_times(root)
    by_layer = dict.fromkeys(LAYERS, 0.0)
    for s in trace.spans:
        if s.sid in selfs:
            by_layer[s.layer] += selfs[s.sid]
    for layer, v in by_layer.items():
        m[f"self_s.{layer}"] = v
    m["trace.wall_s"] = wall
    # share of the timed wall spent inside engine-layer spans; the rest is
    # the benchmark's own self time (its actions on lazy results included)
    m["trace.layer_frac"] = 1.0 - by_layer["bench"] / wall
    m["trace.untagged_jobs"] = sum(
        1 for j in trace.untagged if root.t0 * 1000 <= (j.get("submissionTime") or 0) <= root.t1 * 1000
    )
    m["bench.samples"] = len(res.latencies_ms)
    m["trace.bookkeeping_s"] = trace.bookkeeping_s


# ---- crawl_full ------------------------------------------------------------------
def crawl_full(ctx: Ctx) -> Result:
    """All opt-ins over a small web, then a closed loop of BM25 queries from
    one client over the postings index the crawl wrote."""
    res = Result()
    t0 = time.perf_counter()
    web, seeds, robots, prepared = _load_web(ctx, FULL_HOSTS, FULL_PAGES)
    _warm_udfs(prepared)
    res.setup_s = time.perf_counter() - t0
    queries = I.query_stream(ctx.seed)
    cfg = all_optins_config()

    with ctx.span("timed") as root:
        with ctx.span("crawl"):
            cat, counters, crawl_s = _crawl(ctx, seeds, robots, prepared, FULL_EPOCHS, cfg)
        last = len(counters) - 1
        pages = sum(c["pages_fetched"] for c in counters)
        res.throughput_per_s = pages / crawl_s

        # index build for serving (set-up, not timed): doc lengths of the
        # accumulated web_content, then warm-up queries
        t0 = time.perf_counter()
        with ctx.span("index_build"):
            web_docs = cat.read_delta_union("web_content", last).select(
                F.col("url_norm").alias("doc_id"), F.col("content").alias("text")
            )
            doclens = PO.doc_lengths(web_docs, "text", "doc_id").persist()
            doclens.count()
            # a few untimed queries pay the search plan's codegen and JIT warm-up
            for _ in range(WARM_QUERIES):
                postings = cat.read_delta_union("postings", last)
                PO.postings_bm25(postings, doclens, next(queries), k=TOP_K).collect()
        res.setup_s += time.perf_counter() - t0

        answers, n = [], 0
        deadline = time.perf_counter() + ctx.seconds
        while n < MIN_QUERIES or time.perf_counter() < deadline:
            q = next(queries)
            t0 = time.perf_counter()
            with ctx.span("query"):
                postings = cat.read_delta_union("postings", last)
                rows = PO.postings_bm25(postings, doclens, q, k=TOP_K).collect()
            res.latencies_ms.append((time.perf_counter() - t0) * 1000.0)
            if n < CHECKED_QUERIES:
                answers.append((q, [(r["doc_id"], r["score"]) for r in rows]))
            n += 1
    ctx.stop_tracing()
    res.details.update(
        pages=pages, epochs=len(counters), crawl_s=round(crawl_s, 3), queries=n,
        epoch_jobs=[c["_telemetry"].get("jobs") for c in counters],
        epoch_s=[c["_telemetry"].get("wall_seconds") for c in counters],
        search_s=round(sum(res.latencies_ms) / 1000, 3),
        latencies_ms=[round(x) for x in res.latencies_ms],
    )
    t_check = time.perf_counter()

    # ---- checks (untimed) -----------------------------------------------------
    _check_epochs(res, cat, FULL_EPOCHS)
    union = cat.read_delta_union("postings", last).select("word", "doc_id", "tf")
    fresh = PO.build_postings(web_docs, "text", "doc_id").select("word", "doc_id", "tf")
    res.check(
        "postings union == build_postings(web_content)",
        union.exceptAll(fresh).isEmpty() and fresh.exceptAll(union).isEmpty(),
    )
    res.check(
        "web_content url_norm unique",
        web_docs.count() == web_docs.select("doc_id").distinct().count(),
    )
    for q, got in answers:
        want = SE.search_bm25(web_docs, q, "text", "doc_id", k=TOP_K).collect()
        res.check(f"bm25 {q} == text scan", got == [(r["doc_id"], r["score"]) for r in want])
    res.details["check_s"] = round(time.perf_counter() - t_check, 3)

    if ctx.tracer:
        trace = ctx.tracer.collect()
        _crawl_layers(res, trace, cat, counters, len(web["seeds"]))
        _schedule_layer(res, trace, root)
        _engine_layer(res, trace, root, ctx.cores)
        res.layer["dedup.bloom_negative_frac"] = _bloom_negative_frac(cat, last, cfg)
        res.layer["catalog.dirs_read_per_query"] = len(
            {os.path.dirname(f) for f in cat.read_delta_union("postings", last).inputFiles()}
        )
        _search_layer(res, trace)
    doclens.unpersist()
    prepared.unpersist()
    return res


def _bloom_negative_frac(cat, last: int, cfg) -> float:
    """Share of the last epoch's merged candidates that the bloom tier
    answers 'definitely new' without the seen anti-join."""
    links = cat.read_delta_union("links", last - 1).filter(F.col("discovered_epoch") == last - 1)
    cands = D.merge_candidates(D.canonicalize(LK.discovered_candidates(links, cfg)))
    probed = D.bloom_might_contain(cands, cat.read_snapshot("seen_bloom", last - 1))
    row = probed.agg(
        F.count(F.lit(1)).alias("n"), F.sum((~F.col("might_contain")).cast("int")).alias("neg")
    ).first()
    return row["neg"] / row["n"]


def _search_layer(res: Result, trace) -> None:
    plan_ms, exec_ms, njobs, rows, files, union_s = [], [], [], [], [], []
    for q in trace.named("query"):
        jobs = trace.jobs_under(q)
        wall_ms = (q.t1 - q.t0) * 1000.0
        first = min((j["submissionTime"] for j in jobs if j.get("submissionTime")), default=None)
        plan = min(max(first - q.t0 * 1000.0, 0.0), wall_ms) if first else wall_ms
        plan_ms.append(plan)
        exec_ms.append(wall_ms - plan)
        njobs.append(len(jobs))
        rows.append(trace.sql_total(jobs, SCAN_NODES, "number of output rows"))
        files.append(trace.sql_total(jobs, SCAN_NODES, "number of files read"))
        union_s.append(
            sum(c.t1 - c.t0 for c in trace.children.get(q.sid, []) if c.name == "read_delta_union")
        )
    m = res.layer
    m["search.plan_ms"] = statistics.median(plan_ms)
    m["search.exec_ms"] = statistics.median(exec_ms)
    m["search.jobs_per_query"] = statistics.mean(njobs)
    m["search.rows_scanned_per_query"] = statistics.mean(rows)
    m["search.files_opened_per_query"] = statistics.mean(files)
    m["catalog.read_union_s"] = statistics.median(union_s)


# ---- frontier --------------------------------------------------------------------
def _frontier_robots(spark, seed: int, n_hosts: int = 1000):
    """Robots dim for the frontier batch: one host in seventeen is closed
    (Disallow: /), crawl delays of 0.5, 1 and 2 s. Seeded like the URLs."""
    rng = random.Random(seed * 31 + 5)
    rows = []
    for h in range(n_hosts):
        dis = ["/"] if h % 17 == 5 else []
        rows.append((f"site{h}.com", [], dis, rng.choice((0.5, 1.0, 1.0, 2.0))))
    return spark.createDataFrame(
        rows,
        "host string, allow_prefixes array<string>, disallow_prefixes array<string>, "
        "crawl_delay double",
    )


def _frontier_batch(candidates, seen, robots, cfg):
    """canonicalize -> merge -> anti-join -> priority -> schedule_epoch with
    the ranked frame materialized, as the epoch driver runs it."""
    new = D.dedupe_new_urls(D.merge_candidates(D.canonicalize(candidates)), seen)
    pending = (
        new.withColumn(
            "priority", C.url_priority(F.col("url_norm"), F.col("depth"), F.col("source_priority"))
        )
        .withColumn("discovered_epoch", F.lit(0))
        .withColumn("attempts", F.lit(0))
        .drop("source_priority")
        .persist()
    )
    schedule, deferred, rejected = S.schedule_epoch(
        pending, robots, None, 0, cfg, materialize=lambda df: df.localCheckpoint(eager=True)
    )
    counts = {
        r["st"]: r["n"]
        for r in schedule.select(F.lit("s").alias("st"))
        .unionAll(deferred.select(F.lit("d").alias("st")))
        .unionAll(rejected.select(F.lit("r").alias("st")))
        .groupBy("st")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return pending, schedule, deferred, rejected, counts


def _drop_batch(spark, out, before: set) -> None:
    """Free a batch's cached rows. ``pending`` leaves the cache manager too:
    the next batch builds the same plan, and a cache entry left behind would
    hand it the rows without running canonicalize and the dedup join."""
    out[0].unpersist()
    _unpersist_new_rdds(spark, before)


def _schedule_digest(schedule) -> str:
    """Order-free digest of a schedule: row count and a sum of row hashes."""
    row = schedule.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("url_norm", "rank_in_host") % F.lit(1 << 40)).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"


def _check_frontier_batch(res: Result, robots, pending, schedule, deferred, rejected, counts,
                          cfg) -> None:
    """The schedule, deferred and rejected rows partition the pending pool,
    and no host is scheduled past its politeness cap."""
    n_pending = pending.count()
    parts = (
        schedule.select("url_fp")
        .unionAll(deferred.select("url_fp"))
        .unionAll(rejected.select("url_fp"))
    )
    res.check(
        "schedule/deferred/rejected partition pending",
        sum(counts.values()) == n_pending and parts.distinct().count() == n_pending,
    )
    # the per-host cap re-derived from the politeness rule: min(epoch /
    # crawl delay, the per-minute rate over the epoch)
    rate_cap = cfg.max_requests_per_minute * cfg.epoch_seconds // 60
    delay = F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_crawl_delay))
    cap = F.least(F.floor(F.lit(float(cfg.epoch_seconds)) / delay), F.lit(rate_cap))
    over = (
        schedule.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(robots.select("host", "crawl_delay"), "host", "left")
        .filter(F.col("n") > cap)
        .count()
    )
    res.check("no host over its politeness cap", over == 0)


def frontier(ctx: Ctx) -> Result:
    """One skewed URL batch against a seen set of half its id space, run
    repeatedly for the measuring time."""
    spark = ctx.spark
    res = Result()
    cfg = CrawlConfig(epoch_seconds=60, hot_host_salt=8)

    t0 = time.perf_counter()
    robots = _frontier_robots(spark, ctx.seed)
    seen = (
        D.canonicalize(I.frontier_urls(spark, ctx.seed, FRONTIER_URLS // 2))
        .select("url_fp")
        .persist()
    )
    seen.count()
    candidates = I.frontier_urls(spark, ctx.seed, FRONTIER_URLS)
    # one untimed batch pays the JIT, codegen and Python-worker warm-up
    before = _persistent_rdd_ids(spark)
    warm = _frontier_batch(candidates, seen, robots, cfg)
    digests = [_schedule_digest(warm[1])]
    _drop_batch(spark, warm, before)
    res.setup_s = time.perf_counter() - t0

    with ctx.span("timed") as root:
        deadline = time.perf_counter() + ctx.seconds
        while True:
            before = _persistent_rdd_ids(spark)
            t0 = time.perf_counter()
            with ctx.span("batch"):
                out = _frontier_batch(candidates, seen, robots, cfg)
            res.latencies_ms.append((time.perf_counter() - t0) * 1000.0)
            with ctx.span("digest"):
                digests.append(_schedule_digest(out[1]))
            if len(res.latencies_ms) >= MIN_BATCHES and time.perf_counter() >= deadline:
                break  # the last batch stays cached for the checks
            _drop_batch(spark, out, before)
    ctx.stop_tracing()
    # input URLs over the summed batch walls; latency_ms_p50 is the median batch
    res.throughput_per_s = FRONTIER_URLS * len(res.latencies_ms) / (sum(res.latencies_ms) / 1000.0)
    pending, counts = out[0], out[-1]
    _check_frontier_batch(res, robots, *out, cfg)
    res.check("schedule digest identical across batches", len(set(digests)) == 1)
    res.details.update(batches=len(res.latencies_ms), digest=digests[0], counts=counts,
                       latencies_ms=[round(x) for x in res.latencies_ms])

    if ctx.tracer:
        trace = ctx.tracer.collect()
        _schedule_layer(res, trace, root)
        _engine_layer(res, trace, root, ctx.cores)
        m = res.layer
        n_pending = pending.count()
        m["dedup.candidates"] = FRONTIER_URLS
        m["dedup.new_frac"] = n_pending / FRONTIER_URLS
        m["schedule.pending_rows"] = n_pending
        m["schedule.scheduled"] = counts.get("s", 0)
        m["schedule.deferred"] = counts.get("d", 0)
        m["schedule.rejected"] = counts.get("r", 0)
        m["urlnorm.native_frac"] = candidates.select(
            F.avg(is_simple_url(F.col("url")).cast("double"))
        ).first()[0]
    seen.unpersist()
    pending.unpersist()
    return res


WORKLOADS = {"crawl_full": crawl_full, "frontier": frontier}
