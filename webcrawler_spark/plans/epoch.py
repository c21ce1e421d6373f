"""The batch-epoch crawl driver.

Each epoch is one Spark job implementing the reference's full pipeline
(SURVEY §3): ingest -> canonicalize -> dedup -> score -> schedule ->
fetch(join) -> parse -> link-discover -> index -> checkpoint. Kafka topics
become DataFrames; the crawl loop becomes ``for epoch in range(E)``; Redis
state becomes catalog tables committed per epoch.

Determinism: no wall clock, no uuids — timestamps are the epoch number,
orderings are total (url_norm tiebreak), so the crawl order and the final
seen set are exact functions of (seeds, pages, robots, budget). The pure
Python oracle (webcrawler_spark/oracle.py) replays the same semantics and
the tests diff them epoch by epoch.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..config import CrawlConfig, DEFAULT_CONFIG
from ..functions import columns as C
from ..functions.udfs import extract_metadata_udf
from ..operators import dedup as D
from ..operators import links as L
from ..operators import scheduler as S
from ..storage.catalog import Catalog

_CAND_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("source_url", StringType(), True),
        StructField("depth", IntegerType(), True),
        StructField("source_priority", IntegerType(), True),
    ]
)


def _canonical_norm(url):
    """Normalize a declared canonical href with the native fast path when it
    is provably byte-identical to the full normalizer (urlnorm_native.
    is_simple_url); otherwise keep the raw resolved href — the candidate
    ingest runs every discovered URL through the full normalizer anyway, so
    this column only has to be right where it is compared against url_norm
    (the self-canonical index gate) and where it seeds link discovery.
    Pure codegen, no UDF."""
    from ..functions.urlnorm_native import canonicalize_native, is_simple_url

    return F.coalesce(
        F.when(is_simple_url(url), canonicalize_native(url)["url_norm"]),
        url,
    )


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Canonicalize the page table once (url_norm is the fetch-join key) and
    keep only the columns the epoch loop touches. On a cluster this is a
    one-time materialization bucketed by host."""
    return D.canonicalize(pages).select(
        "url_norm",
        F.col("host").alias("page_host"),
        "html",
        "text",
        "lang",
        "warc_ts",
    )


def ingest_candidates(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame | None,
    epoch: int,
    cfg: CrawlConfig,
    bloom: DataFrame | None = None,
    dust_rules: DataFrame | None = None,
) -> DataFrame:
    """Entry point A (SURVEY §3.1): normalize -> batch-dedup -> seen anti-join
    -> priority. Returns new frontier rows."""
    canon = D.canonicalize(candidates)
    if cfg.target_langs:
        # focused-language gate (cfg.target_langs): a URL structurally
        # declaring a non-target language (path /fr/, fr. subdomain,
        # unambiguous ccTLD) is dropped pre-frontier; hint-less URLs pass
        # and the post-fetch lang-id owns them. Pure codegen — rides the
        # canonicalize projection.
        hint = C.url_lang_hint(F.col("url_norm"))
        canon = canon.filter(hint.isNull() | hint.isin(*cfg.target_langs))
    if cfg.strip_tracking:
        # campaign-tag dedup: strip utm_*/click-ids from the normalized URL
        # and re-fingerprint so variants collapse in the within-batch merge
        # and the seen anti-join (pure codegen, rides the same projection)
        canon = canon.withColumn(
            "url_norm", C.strip_tracking_params(F.col("url_norm"))
        ).withColumn("url_fp", C.url_fp(F.col("url_norm")))
    if dust_rules is not None:
        # learned alias params (cfg.mine_dust): broadcast the mined per-host
        # (host, dust_params) dim, strip matching params from url_norm and
        # re-fingerprint — a learned alias collapses onto its canonical row
        # in the within-batch merge / seen anti-join and is never fetched.
        # Hosts without rules join NULL and pass through byte-identical.
        canon = (
            canon.join(F.broadcast(dust_rules), "host", "left")
            .withColumn(
                "url_norm",
                C.strip_params_by_rules(F.col("url_norm"), F.col("dust_params")),
            )
            .drop("dust_params")
            .withColumn("url_fp", C.url_fp(F.col("url_norm")))
        )
    merged = D.merge_candidates(canon)
    return (
        D.dedupe_new_urls(merged, seen, bloom=bloom)
        .withColumn(
            "priority",
            C.url_priority(F.col("url_norm"), F.col("depth"), F.col("source_priority")),
        )
        .withColumn("status", F.lit("pending"))
        .withColumn("discovered_epoch", F.lit(epoch))
        .drop("source_priority")
    )


def apply_global_budget(
    schedule: DataFrame,
    links_so_far: DataFrame | None,
    epoch: int,
    cfg: CrawlConfig,
    deferred_cols: list[str],
) -> tuple[DataFrame, DataFrame]:
    """Cap the politeness schedule at ``cfg.global_budget`` rows (fleet
    capacity), keeping the exact top-k by (score desc, url_norm asc) via the
    quantile-threshold top-k (no full sort — the 10^10-row drain shape).

    Score = priority, plus — when ``links_so_far`` is given — a
    PageRank-ordered-crawling boost: ``host_rank_weight`` x the row's host
    PageRank normalized by the max rank (host graph from the links
    discovered so far; the rank dim is host-scale, broadcast). Returns
    (kept_schedule, bumped) where bumped rows carry the deferred shape with
    reason='global_budget' and ready_epoch=epoch+1.
    """
    from ..operators import topk as T

    score = F.col("priority").cast("double")
    sched = schedule
    if links_so_far is not None:
        from ..operators import graph as G

        host_edges = links_so_far.select(
            C.surt_host(F.col("source_url")).alias("src_host"),
            C.surt_host(F.col("target_url")).alias("dst_host"),
        )
        if cfg.host_rank_algo == "opic":
            # OPIC over the self-loop-free host graph: same normalization
            # downstream, so the two algos are drop-in alternatives
            hr = G.opic(
                host_edges.filter(F.col("src_host") != F.col("dst_host"))
                .withColumnRenamed("src_host", "src")
                .withColumnRenamed("dst_host", "dst"),
                n_iter=cfg.host_rank_iters,
            ).select(F.col("node").alias("host"), F.col("opic").alias("rank"))
        else:
            hr = G.host_rank(host_edges, n_iter=cfg.host_rank_iters)
        mx = hr.agg(F.max("rank").alias("_mx"))
        boost = hr.crossJoin(F.broadcast(mx)).select(
            F.col("host").alias("_rh"),
            (F.col("rank") / F.col("_mx") * cfg.host_rank_weight).alias("_boost"),
        )
        # join key derived from url_norm with the SAME host function on both
        # sides, so the boost lands regardless of how `host` was spelled
        sched = (
            sched.withColumn("_rh", C.surt_host(F.col("url_norm")))
            .join(F.broadcast(boost), "_rh", "left")
            .drop("_rh")
        )
        score = score + F.coalesce(F.col("_boost"), F.lit(0.0))

    # no persist: upstream `pending` is already cached in run_epoch, so the
    # extra passes (count, band filter, anti-join) re-run only the bounded
    # scheduling windows; a persist here would outlive the epoch
    sched = sched.withColumn("_gscore", score)
    kept = T.threshold_topk(sched, "_gscore", cfg.global_budget, "url_norm")
    bumped = (
        sched.join(kept.select("url_norm"), "url_norm", "left_anti")
        .withColumn("ready_epoch", F.lit(epoch + 1))
        .withColumn("reason", F.lit("global_budget"))
        .withColumn("attempts", F.col("attempts") + 1)
        .select(*deferred_cols)
    )
    drop = [c for c in ("_gscore", "_boost") if c in kept.columns]
    return kept.drop(*drop), bumped


class _Telemetry:
    """Always-on epoch telemetry: the wall plus the Spark jobs and stages
    submitted in each named section. ``mark(name)`` closes the section
    running since the previous mark; a name marked twice accumulates.

    Jobs and stages are the difference of the DAG scheduler's
    ``nextJobId``/``nextStageId`` counters between marks, so recording
    submits no Spark job. With the eager localCheckpoint materialization
    below, each section's wall includes its own execution. The record is
    non-semantic (wall clock, scheduler ids): the epoch driver adds it to
    the counters under ``_telemetry`` only after the manifest commit."""

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        self.sections: dict[str, dict] = {}
        self._t0 = self._t = time.perf_counter()
        self._ids0 = self._ids = self._sched_ids()

    def _sched_ids(self) -> tuple[int, int] | None:
        try:
            dag = self._sc._jsc.sc().dagScheduler()
            return int(dag.nextJobId()), int(dag.nextStageId())
        except Exception:
            return None

    def mark(self, name: str) -> dict:
        t, ids = time.perf_counter(), self._sched_ids()
        sec = self.sections.setdefault(name, {"wall_seconds": 0.0})
        sec["wall_seconds"] += t - self._t
        if ids is not None and self._ids is not None:
            sec["jobs"] = sec.get("jobs", 0) + ids[0] - self._ids[0]
            sec["stages"] = sec.get("stages", 0) + ids[1] - self._ids[1]
        self._t, self._ids = t, ids
        return sec

    def adopt(self, sections: dict) -> None:
        """Take over the sections an inner recorder marked since this one's
        last mark (run_epoch's, inside run_epochs)."""
        self.sections.update(sections)
        self._t, self._ids = time.perf_counter(), self._sched_ids()

    def record(self) -> dict:
        """Wall, jobs and stages since the recorder started, plus the
        per-section breakdown."""
        tele = {"wall_seconds": time.perf_counter() - self._t0}
        ids = self._sched_ids()
        if ids is not None and self._ids0 is not None:
            tele["jobs"] = ids[0] - self._ids0[0]
            tele["stages"] = ids[1] - self._ids0[1]
        tele["sections"] = self.sections
        return tele


def _materialize(df: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint a shared epoch frame.

    This replaces plain persist() for the frames with multiple consumers
    (pending/schedule/deferred/fetched/web_delta): persist caches the DATA
    but keeps the full analyzed lineage, so every downstream transformation
    re-analyzes a growing tree and every consumer job re-plans (and
    re-builds broadcast dims on) the un-cached plan arms — profiled at
    ~45% of the all-opt-ins epoch wall as driver-side gaps with no SQL
    execution running, plus ~200 broadcast-build jobs per epoch.
    localCheckpoint truncates the plan to a LogicalRDD over the cached
    blocks: downstream plans become O(1)-deep, and the concurrent table
    writes stop re-running politeness windows / broadcast builds per
    consumer. Same non-reliable-storage caveat as the graph operators'
    iterative localCheckpoints (documented there); the epoch driver
    unpersists the epoch's checkpoint blocks after commit."""
    return df.localCheckpoint(eager=True)


def _persistent_rdd_entries(spark: SparkSession):
    try:
        return list(
            spark.sparkContext._jsc.getPersistentRDDs().entrySet().toArray()
        )
    except Exception:
        return []


def _persistent_rdd_ids(spark: SparkSession) -> set:
    return {e.getKey() for e in _persistent_rdd_entries(spark)}


def _unpersist_ids(spark: SparkSession, ids: set) -> None:
    if not ids:
        return
    for entry in _persistent_rdd_entries(spark):
        try:
            if entry.getKey() in ids:
                entry.getValue().unpersist(False)
        except Exception:
            pass


def _checkpoint_dim(spark: SparkSession, df: DataFrame, prev_ids: set):
    """Eagerly checkpoint a freshly mined cross-epoch dim (dust rules,
    mirror losers) and free the PREVIOUS epoch's dim blocks. Without the
    checkpoint the mining query executes twice per epoch — once for the
    telemetry count and again when the next epoch's gate materializes the
    same lazy frame; without the id bookkeeping each re-mine would leak
    one (small) checkpointed dim per epoch for the life of the crawl.
    Returns (checkpointed_df, its_rdd_ids)."""
    pre = _persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=True)
    new_ids = _persistent_rdd_ids(spark) - pre
    _unpersist_ids(spark, prev_ids)
    return out, new_ids


def _free_epoch_blocks(spark: SparkSession, pre_ids: set) -> None:
    """Unpersist every RDD cached since the epoch started (the eager
    localCheckpoints above + the graph operators' iteration checkpoints),
    leaving pre-existing caches (pages_prepared) untouched — the epoch
    loop's block-manager footprint stays O(one epoch)."""
    for entry in _persistent_rdd_entries(spark):
        try:
            if entry.getKey() not in pre_ids:
                entry.getValue().unpersist(False)
        except Exception:
            pass


def run_epoch(
    spark: SparkSession,
    cat: Catalog,
    pages_prepared: DataFrame,
    robots: DataFrame | None,
    epoch: int,
    cfg: CrawlConfig = DEFAULT_CONFIG,
    seeds: DataFrame | None = None,
    verify_extraction: bool = False,
    sitemap_hints: DataFrame | None = None,
    dust_rules: DataFrame | None = None,
    mirror_loser_hosts: DataFrame | None = None,
) -> dict:
    """Run one crawl epoch and commit its snapshot. Returns the counters.

    ``pages_prepared`` must already be persisted AND materialized (the
    `prepare_pages` output after an action such as ``count()``): the
    end-of-epoch block cleanup frees every cache registered during the
    epoch, so a lazily-persisted page table would lose its cache after
    this call and be re-canonicalized by the next. run_epochs does this.

    ``mirror_loser_hosts``: optional one-column (host) dim from
    `operators/mirrors.mirror_losers` — with cfg.collapse_mirrors on,
    pending rows on these hosts are rejected before politeness spends
    budget on them (run_epochs re-mines the dim per epoch from the
    accumulated fetch_digests evidence). None = exact prior behavior.

    ``dust_rules``: optional (host, dust_params) dim from
    `operators/dust.dust_rules_dim` — learned content-irrelevant query
    params stripped from this epoch's candidates at ingest (see
    CrawlConfig.mine_dust; run_epochs re-mines it per epoch). None = exact
    prior behavior.

    ``sitemap_hints``: optional (url_norm, interval_hours) dim from
    `sources/sitemap.recrawl_hints` — with cfg.recrawl on, a URL's FIRST
    revisit uses the declared changefreq interval (converted to epochs by
    cfg.epoch_seconds) instead of the optimistic fastest band; measured
    change rates take over from the second fetch. No-op without
    cfg.recrawl; None = exact prior behavior."""
    tele = _Telemetry(spark)
    _pre_rdd_ids = _persistent_rdd_ids(spark)
    prev = epoch - 1
    seen_prev = cat.read_delta_union("seen", prev)
    deferred_prev = cat.read_snapshot("deferred", prev)
    host_stats_prev = cat.read_snapshot("host_stats", prev)
    bloom_prev = cat.read_snapshot("seen_bloom", prev) if cfg.use_bloom else None
    if bloom_prev is not None and "nb" not in bloom_prev.columns:
        # pre-bucket-versioning snapshot: bucketed with a different function,
        # so probing it would silently miss every old fingerprint. Treat it
        # as absent — the bootstrap guard below rebuilds from the FULL seen
        # set this epoch, restoring a compatible filter.
        bloom_prev = None

    # ---- 1. candidates: seeds at epoch 0, else links discovered last epoch (U1)
    if seeds is not None:
        candidates = seeds.select(
            "url",
            F.lit(None).cast("string").alias("source_url"),
            F.col("depth").cast("int"),
            F.col("priority").cast("int").alias("source_priority"),
        )
    else:
        links_prev = cat.read_delta_union("links", prev)
        if links_prev is not None:
            links_prev = links_prev.filter(F.col("discovered_epoch") == prev)
            candidates = L.discovered_candidates(links_prev, cfg)
        else:
            candidates = spark.createDataFrame([], _CAND_SCHEMA)
    tele.mark("read_state")

    # materialized once: consumed by the pending pool, the frontier snapshot
    # AND the seen delta — without the materialization each consumer re-runs
    # the full ingest (canonicalize UDF + anti-join); exchanges are not
    # reused across plan branches
    new_frontier_rows = _materialize(
        ingest_candidates(
            spark, candidates, seen_prev, epoch, cfg, bloom=bloom_prev,
            dust_rules=dust_rules,
        )
    )
    tele.mark("ingest")

    # ---- 2. pending = new rows ∪ ready deferred
    #
    # Invariant (shared with the oracle): every row entering the pending pool
    # receives a TERMINAL outcome within its epoch — schedule_epoch splits the
    # pool exhaustively into schedule ∪ deferred ∪ rejected, and scheduled
    # rows become fetched/failed. No committed frontier row is ever
    # status='pending', so the pending pool never needs to read the frontier
    # table at all. That is what lets the frontier be a pure merge-on-read
    # delta (catalog MERGE_TABLES): epoch cost is O(epoch activity), never
    # O(total frontier).
    cols = [
        "url", "url_norm", "url_fp", "host", "path", "priority", "depth",
        "source_url", "discovered_epoch",
    ]
    pending = new_frontier_rows.select(*cols).withColumn("attempts", F.lit(0))
    if deferred_prev is not None:
        ready = (
            deferred_prev.filter(F.col("ready_epoch") <= epoch)
            .withColumn("path", F.expr("parse_url(url_norm, 'PATH')"))
            .select(*cols, "attempts")
        )
        not_ready = deferred_prev.filter(F.col("ready_epoch") > epoch)
        pending = pending.unionByName(ready)
    else:
        not_ready = None

    # ---- 3. schedule under politeness budget (flagship, W1)
    # pending feeds three outputs (schedule/deferred/rejected); materialize
    # so the scheduling windows re-read cached rows instead of re-ingesting
    pending = _materialize(pending)
    tele.mark("pending")

    # ---- 2b/2c. host-level budget gates (opt-in): crawl-trap suspects AND
    # mirror-loser hosts leave the pool before politeness spends budget on
    # them. Both dims key on the SURT registrable host, so they share ONE
    # keying pass over pending and ONE broadcast semi/anti gate (the set
    # subtraction is order-free, so gating on the union is value-identical
    # to two sequential gates).
    gate_rejected = None
    gate_dims = []
    if cfg.detect_traps:
        from ..operators.traps import trap_signals

        # materialize the (tiny) suspect-host dim: every downstream job
        # whose lineage crosses the gate otherwise re-runs the trap-signal
        # window + broadcast build (r4 leave-one-out profiling:
        # detect_traps+detect_soft404 accounted for ~147s of the 197s
        # all-opt-ins two-epoch wall, almost all of it this recompute)
        gate_dims.append(
            _materialize(
                trap_signals(pending, url_col="url_norm", min_urls=cfg.trap_min_urls)
                .filter(F.col("is_trap_suspect"))
                .select(F.col("host").alias("_gh"))
            )
        )
    if mirror_loser_hosts is not None:
        # mirror losers: hosts proven to mirror a canonical partner's
        # content (cross-host fingerprint roll-up over the fetch_digests
        # evidence) — the canonical partner keeps crawling, the mirror
        # stops costing fetch budget. run_epochs hands the dim in already
        # checkpointed; the cheap re-materialization also covers direct
        # run_epoch callers passing a lazy frame.
        gate_dims.append(
            _materialize(
                mirror_loser_hosts.select(F.col("host").alias("_gh")).distinct()
            )
        )
    if gate_dims:
        gate_hosts = gate_dims[0]
        for d in gate_dims[1:]:
            gate_hosts = gate_hosts.unionByName(d).distinct()
        # the signals' host key is surt-derived; join on the same derivation
        keyed = pending.withColumn("_gh", C.surt_host(F.col("url_norm")))
        gate_rejected = keyed.join(
            F.broadcast(gate_hosts), "_gh", "left_semi"
        ).drop("_gh")
        pending = keyed.join(F.broadcast(gate_hosts), "_gh", "left_anti").drop("_gh")
    tele.mark("traps")

    schedule, deferred_new, rejected = S.schedule_epoch(
        pending, robots, host_stats_prev, epoch, cfg, materialize=_materialize
    )
    if gate_rejected is not None:
        rejected = rejected.unionByName(gate_rejected, allowMissingColumns=True)

    # ---- 3b. global fetch budget (fleet capacity) over the politeness
    # schedule, optionally PageRank-steered (CrawlConfig.global_budget)
    if cfg.global_budget > 0:
        links_so_far = (
            cat.read_delta_union("links", epoch - 1)
            if cfg.use_host_rank and epoch > 0
            else None
        )
        schedule, bumped = apply_global_budget(
            schedule, links_so_far, epoch, cfg, deferred_new.columns
        )
        deferred_new = deferred_new.unionByName(bumped)
    schedule = _materialize(schedule)
    # deferred_new feeds THREE consumers (the deferred snapshot, the
    # frontier delta's 'deferred' arm, and — via unions — their counts);
    # without the materialization each consumer re-runs the politeness
    # windows from the cached pending pool (profiled: the deferred+frontier
    # writes were ~50% of the all-opt-ins epoch wall). rejected rides the
    # same frontier arm but is a cheap filter over materialized pending.
    deferred_new = _materialize(deferred_new)
    tele.mark("schedule")

    # ---- 4. "fetch" = equi join against the page table (J5 replaces S10 HTTP)
    fetched = _materialize(schedule.join(pages_prepared, "url_norm", "left"))
    tele.mark("fetch")
    ok = fetched.filter(F.col("html").isNotNull())

    if verify_extraction:
        from ..functions.udfs import extract_text_udf

        mismatches = ok.withColumn("_ext", extract_text_udf(F.col("html"))).filter(
            F.col("_ext") != F.col("text")
        )
        n_bad = mismatches.count()
        if n_bad:
            raise AssertionError(f"extract_text != text for {n_bad} rows (byte-identity broken)")

    # ---- 4b. soft-404 template defense (opt-in): a host answering many
    # distinct paths with ONE short body is serving an HTTP-200 "not found"
    # template (traps.soft404_signals). Those fetches are real (they spent
    # budget and enter seen/host_stats) but must not index and must not
    # expand links — the error body's nav links would re-seed the frontier
    # with the host's template page forever.
    s4_drop = None
    soft404_dropped = 0
    if cfg.detect_soft404:
        from ..operators.traps import soft404_signals

        sig = ok.select(
            "host",
            F.col("url_norm").alias("url"),
            C.content_hash(F.col("text")).alias("s4_hash"),
            F.length("text").alias("n_chars"),
        )
        tmpl = soft404_signals(
            sig,
            url_col="url",
            hash_col="s4_hash",
            min_count=cfg.soft404_min_count,
            max_chars=cfg.soft404_max_chars,
        ).select("host", "template_hash")
        s4_drop = _materialize(
            sig.join(F.broadcast(tmpl), "host")
            .filter(F.col("s4_hash") == F.col("template_hash"))
            .select(F.col("url").alias("url_norm"))
        )
        soft404_dropped = s4_drop.count()
        ok = ok.join(s4_drop, "url_norm", "left_anti")
    tele.mark("soft404")

    # ---- 5. parse: links (F16/P2-P4/U2) + docs (F7/F11/F14/F15)
    pages_for_links = ok
    if cfg.respect_meta_robots:
        # page-level REP: a nofollow page is indexed (unless also noindex)
        # but its outlinks never enter discovery — native regexp gate, no
        # extra shuffle (rides the parse projection)
        pages_for_links = ok.filter(
            ~C.meta_robots_nofollow(F.col("html").cast("string"))
        )
    links_df = L.extract_all_links(
        pages_for_links.select("url_norm", "html", "depth"), epoch
    ).dropDuplicates(["source_url", "target_url"])

    meta = ok.withColumn("_meta", extract_metadata_udf(F.col("html"), F.col("url_norm")))
    docs = (
        meta.withColumn("content_hash", C.content_hash(F.col("text")))
        .withColumn("title", F.col("_meta.title"))
        .withColumn("description", F.col("_meta.description"))
        .withColumn(
            "quality_score",
            C.quality_score(F.col("text"), F.col("title"), F.col("description")),
        )
        .withColumn("content_type", C.classify_content_type(F.col("text"), F.col("title")))
        .withColumn("word_count", C.word_count(F.col("text")).cast("int"))
    )

    # content-hash dedup across everything indexed so far (J4)
    web_prev = cat.read_delta_union("web_content", prev)
    fresh_docs = D.content_dedup(docs, "content_hash", "url_norm")
    if web_prev is not None:
        fresh_docs = fresh_docs.join(
            web_prev.select(F.col("content_hash").alias("_ch")).distinct(),
            fresh_docs["content_hash"] == F.col("_ch"),
            "left_anti",
        )
    indexed = fresh_docs.filter(F.col("action") == "indexed")
    if cfg.respect_meta_robots:
        # noindex pages are fetched and their links followed (unless also
        # nofollow) but they never reach the index append
        indexed = indexed.filter(
            ~C.meta_robots_noindex(F.col("html").cast("string"))
        )
    if cfg.respect_canonical:
        # a page that declares a canonical target other than itself is a
        # site-declared duplicate: fetched, links followed, never indexed.
        # The declared href is normalized before the self-compare so a page
        # declaring its own pre-normalization URL (http://, www., tracking
        # params) is still recognized as self-canonical.
        from ..operators import canonical as CN

        _decl = CN.declared_canonical(
            F.col("url_norm"), F.col("html").cast("string")
        )
        indexed = indexed.filter(
            _decl.isNull() | (_canonical_norm(_decl) == F.col("url_norm"))
        )
    # per-doc top-20 keywords (F16; parser/app.py:426-442 feeding
    # indexer/app.py:268-298, reference truncation [:20]). groupBy
    # (url_norm, word) partial-aggregates map-side, so the extra shuffle is
    # the distinct (doc, word) pairs of THIS epoch's newly indexed docs —
    # bounded by epoch parse volume, never by the accumulated index.
    from ..operators import textstats as TS

    kw = TS.keywords_per_doc(
        indexed.select("url_norm", "text"), "url_norm", "text", k=20
    )
    kw_arrays = kw.groupBy("url_norm").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rank", "word"))),
            lambda s: s["word"],
        ).alias("keywords")
    )
    # optional PII scrub of the indexed content (training-data extension);
    # content_hash above is already computed on the unmasked text, so dedup
    # is unaffected by the flag
    content_col = TS.mask_pii(F.col("text")) if cfg.scrub_pii else F.col("text")
    web_delta = (
        indexed.join(kw_arrays, "url_norm", "left")
        .withColumn(
            "keywords",
            F.coalesce(F.col("keywords"), F.array().cast("array<string>")),
        )
        .select(
            F.col("url").alias("url"),
            "url_norm",
            "host",
            "title",
            "description",
            content_col.alias("content"),
            "content_hash",
            F.col("lang").alias("language"),
            "content_type",
            "quality_score",
            "word_count",
            "keywords",
            F.lit(epoch).alias("crawled_epoch"),
        )
    )

    # ---- 6. adaptive host stats (A3/A4); synthetic deterministic response time
    fetch_results = fetched.select(
        "host",
        F.col("html").isNotNull().alias("success"),
        # deterministic stand-in for response_time: content size in MB
        (F.coalesce(F.length("html"), F.lit(0)) / F.lit(1e6)).alias("response_time"),
    )
    host_stats_new = S.adaptive_host_stats(fetch_results, host_stats_prev, epoch, cfg)

    # ---- 7. frontier delta: ONLY the rows this epoch touched (MERGE shape).
    # Every pending-pool row has exactly one outcome, so the delta is the
    # outcome projection of schedule/deferred/rejected — O(epoch activity)
    # rows, one parquet append, no join against and no rewrite of the
    # accumulated frontier. Current state = cat.read_merged("frontier", E)
    # (latest status_epoch wins per url_fp — Iceberg merge-on-read).
    fr_base = [
        "url", "url_norm", "url_fp", "host", "priority", "depth",
        "source_url", "discovered_epoch",
    ]
    frontier_delta = (
        fetched.select(
            *fr_base,
            F.when(F.col("html").isNotNull(), F.lit("fetched"))
            .otherwise(F.lit("failed"))
            .alias("status"),
        )
        # deferred rows leave the pending pool; they re-enter via the
        # deferred table when their ready_epoch arrives (W3)
        .unionByName(deferred_new.select(*fr_base, F.lit("deferred").alias("status")))
        # robots/attempt rejections are terminal (P5/P10)
        .unionByName(rejected.select(*fr_base, F.lit("rejected").alias("status")))
        .withColumn("status_epoch", F.lit(epoch))
    )

    # ---- 8. seen delta = the new URLs admitted this epoch (U3)
    seen_delta = new_frontier_rows.select(
        "url_fp", "url_norm", "host", F.lit(epoch).alias("epoch")
    )

    # deferred snapshot = not-ready leftovers ∪ new deferrals (U4)
    deferred_cols = [
        "url", "url_norm", "url_fp", "host", "priority", "depth", "source_url",
        "discovered_epoch", "ready_epoch", "reason", "attempts",
    ]
    deferred_out = deferred_new.select(*deferred_cols)
    if not_ready is not None:
        deferred_out = deferred_out.unionByName(not_ready.select(*deferred_cols))

    # ---- 8b. adaptive recrawl (opt-in): fold this epoch's fetches into the
    # per-URL change-tracking state (snapshot-merge, the host_stats shape)
    # and re-enqueue every fetched URL as a deferred row at its banded
    # revisit epoch — fast-changing pages come back next epoch, static ones
    # stretch to recrawl_max_interval. Unchanged re-fetches are naturally
    # kept out of the index by the content-hash dedup above, so the
    # recrawl tier costs fetch budget but never bloats web_content.
    recrawl_state = None
    if cfg.recrawl:
        from ..operators import recrawl as RC

        # digest projection comes from `ok` (cached via fetched), NOT from
        # `docs`: content_hash needs only `text`, and routing through docs
        # would re-run the extract_metadata python UDF for this consumer
        # (r4 profiling: the docs lineage re-evaluated once per extra
        # consumer was the dominant superlinear term in the all-opt-ins
        # crawl — 409s vs ~30s default at sf0.04, no single flag over +15s)
        recrawl_state = RC.update_recrawl_state(
            ok.select("url_norm", C.content_hash(F.col("text")).alias("content_hash")),
            cat.read_snapshot("recrawl_state", prev),
        )
        hints_dim = None
        if sitemap_hints is not None:
            # declared changefreq hours -> whole epochs (ceil: "hourly" on a
            # 30-min epoch still means revisit next hour, not next epoch)
            hints_dim = sitemap_hints.filter(
                F.col("interval_hours").isNotNull()
            ).select(
                "url_norm",
                F.ceil(
                    F.col("interval_hours") * 3600.0 / float(cfg.epoch_seconds)
                ).cast("int").alias("hint_epochs"),
            )
        revisits = (
            ok.select(
                "url", "url_norm", "url_fp", "host", "priority", "depth",
                "source_url", "discovered_epoch",
            )
            .join(
                RC.intervals_from_state(
                    recrawl_state,
                    max_interval=cfg.recrawl_max_interval,
                    hints=hints_dim,
                ),
                "url_norm",
            )
            .withColumn(
                "ready_epoch", (F.lit(epoch) + F.col("interval_epochs")).cast("int")
            )
            .withColumn("reason", F.lit("recrawl"))
            .withColumn("attempts", F.lit(0))
        )
        deferred_out = deferred_out.unionByName(revisits.select(*deferred_cols))

    # ---- 9. commit: stage tables, then atomically publish the manifest (S14)
    counts = {}
    to_stage: dict[str, DataFrame] = {}
    if cfg.use_bloom:
        # persistent prefilter: fold this epoch's new fingerprints into the
        # per-bucket blobs (incremental — SURVEY §7 hard-part 3).
        #
        # Bootstrap guard: if there is no prior filter snapshot but the seen
        # set has prior epochs (use_bloom enabled mid-run, or a catalog
        # written without a seen_bloom snapshot), the filter must be built
        # from the FULL seen set — a delta-only filter would hand later
        # epochs false negatives that bypass the exact anti-join.
        filter_fps = seen_delta.select("url_fp")
        if bloom_prev is None and seen_prev is not None:
            filter_fps = seen_prev.select("url_fp").unionByName(filter_fps)
        to_stage["seen_bloom"] = D.update_bloom(
            bloom_prev,
            filter_fps,
            cfg.bloom_buckets,
            cfg.bloom_capacity,
            cfg.bloom_fp_rate,
        )
    # Iceberg-SORT-ORDER emulation (opt-in): cluster the frontier/seen
    # deltas by the SURT key so a host/domain-subtree scan prunes on
    # parquet min/max stats instead of reading every file. Additive column
    # + per-file sort only — no extra shuffle, readers ignore the column.
    sort_within: dict[str, str] = {}
    if cfg.cluster_by_surt:
        frontier_delta = frontier_delta.withColumn("surt", C.surt_key(F.col("url_norm")))
        seen_delta = seen_delta.withColumn("surt", C.surt_key(F.col("url_norm")))
        sort_within = {"frontier": "surt", "seen": "surt"}

    to_stage["schedule"] = schedule.drop("path")
    to_stage["seen"] = seen_delta
    to_stage["frontier"] = frontier_delta
    to_stage["deferred"] = deferred_out
    to_stage["links"] = links_df
    to_stage["web_content"] = web_delta
    to_stage["host_stats"] = host_stats_new
    if cfg.mine_dust or cfg.collapse_mirrors:
        # DUST + mirror evidence: EVERY fetched (url_norm, content_hash) —
        # including the duplicate-content aliases the web_content dedup
        # drops, which are exactly the rows both miners learn from. Derived
        # from `ok` (cached fetched rows): content_hash needs only `text`,
        # and the docs lineage would re-run the extract_metadata python UDF
        # for this extra consumer (see recrawl note above). The epoch
        # lineage column makes it a first-class delta table: the miners
        # re-read ALL accumulated evidence every epoch, so without the
        # compaction cadence the mining jobs pay one directory per epoch
        # for the life of the crawl.
        to_stage["fetch_digests"] = ok.select(
            "url_norm", C.content_hash(F.col("text")).alias("content_hash")
        ).withColumn("epoch", F.lit(epoch))
    if recrawl_state is not None:
        to_stage["recrawl_state"] = recrawl_state
    tele.mark("plan_outputs")
    web_delta_persisted = False
    if cfg.build_index:
        # the ES bulk-index analog (S12): this epoch's indexed docs become a
        # postings delta — deltas are disjoint by doc (the seen set fetches
        # each url once), so the accumulated index is the plain delta union;
        # re-index/compaction semantics live in postings.merge_postings
        from ..operators import postings as PO

        # two consumers now read web_delta (the web_content append AND the
        # postings build) — without the materialization each re-runs the doc
        # pipeline's python metadata UDF + keyword windows (the r4
        # all-opt-ins superlinearity; see the recrawl note above). Epoch-
        # bounded rows, freed before return.
        web_delta = _materialize(web_delta)
        web_delta_persisted = True
        to_stage["web_content"] = web_delta  # re-point at the persisted frame
        # crawled_epoch = the postings delta's lineage column (same role as
        # web_content's): makes postings a first-class delta table so the
        # compaction cadence can fold its one-directory-per-epoch layout
        # and time travel below the compaction point stays a filter
        to_stage["postings"] = PO.build_postings(
            web_delta.select(
                F.col("url_norm").alias("doc_id"), F.col("content").alias("text")
            ),
            "text",
            "doc_id",
        ).withColumn("crawled_epoch", F.lit(epoch))

    # The 7-11 table writes are independent jobs over a handful of shared
    # materialized inputs; writing them from one thread serializes their
    # per-job scheduling dead time, so write concurrently — Spark's
    # scheduler interleaves the jobs across the executor slots. The shared
    # frames were already eagerly materialized (localCheckpoint) at their
    # creation points above, so no racing writer ever computes a shared
    # segment twice and no cache-priming probe job is needed.
    from concurrent.futures import ThreadPoolExecutor

    # manifest column stats (Iceberg manifest min/max) for the tables whose
    # key range bounds later pruned reads; they ride each write's existing
    # Observation, so this costs no extra job
    stats_for = {"frontier": ("url_fp",), "seen": ("url_fp",)}
    write_secs: dict[str, float] = {}

    def _timed_stage(t: str, df: DataFrame) -> int:
        t0 = time.perf_counter()
        n = cat.stage(
            t, epoch, df, sort_within.get(t),
            tuple(c for c in stats_for.get(t, ()) if c in df.columns),
        )
        write_secs[t] = time.perf_counter() - t0
        return n

    with ThreadPoolExecutor(max_workers=len(to_stage)) as pool:
        futures = {
            t: pool.submit(_timed_stage, t, df) for t, df in to_stage.items()
        }
        for t, fut in futures.items():
            counts[t] = fut.result()

    counters = {
        "epoch": epoch,
        "urls_new": counts["seen"],
        "urls_scheduled": counts["schedule"],
        "urls_deferred": counts["deferred"],
        "pages_fetched": counts["web_content"],
        "links_discovered": counts["links"],
    }
    # per-table write walls (concurrent — they overlap; the max is the
    # stage_writes critical path, the sum is the scheduler pressure)
    tele.mark("stage_writes")["table_wall_seconds"] = write_secs
    if cfg.detect_soft404:
        counters["soft404_dropped"] = soft404_dropped
    cat.commit_epoch(epoch, counts, counters)
    _free_epoch_blocks(spark, _pre_rdd_ids)
    tele.mark("commit")
    # after the commit: the manifest persists only the semantic counters
    counters["_telemetry"] = tele.record()
    return counters


def _mine_dust_rules(cat: Catalog, through_epoch: int, cfg: CrawlConfig):
    """(host, dust_params) dim from the fetch_digests evidence committed
    through ``through_epoch``; None when no fetches exist yet.  The evidence
    table (staged by run_epoch when cfg.mine_dust) holds EVERY fetched
    (url_norm, content_hash) — web_content would not do: its content-hash
    dedup drops the duplicate-body alias rows the miner needs."""
    from ..operators.dust import dust_rules_dim

    digests = cat.read_delta_union("fetch_digests", through_epoch)
    if digests is None:
        return None
    return dust_rules_dim(
        digests,
        url_col="url_norm",
        min_groups=cfg.dust_min_groups,
    )


def _mine_mirror_losers(cat: Catalog, through_epoch: int, cfg: CrawlConfig):
    """(host) loser dim from the fetch_digests evidence committed through
    ``through_epoch``; None when no fetches exist yet. Same evidence table
    as DUST mining (and staged whenever either flag is on) — the mirror
    roll-up needs the duplicate-content rows web_content's dedup drops."""
    from ..operators.mirrors import mirror_losers

    digests = cat.read_delta_union("fetch_digests", through_epoch)
    if digests is None:
        return None
    return mirror_losers(
        digests,
        url_col="url_norm",
        hash_col="content_hash",
        min_shared=cfg.mirror_min_shared,
        overlap=cfg.mirror_overlap,
        max_hosts_per_fp=cfg.mirror_max_hosts_per_fp,
    )


def run_epochs(
    spark: SparkSession,
    cat: Catalog,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame | None,
    n_epochs: int,
    cfg: CrawlConfig = DEFAULT_CONFIG,
    start_epoch: int | None = None,
    verify_extraction: bool = False,
    sitemap_hints: DataFrame | None = None,
    pages_prepared: DataFrame | None = None,
) -> list[dict]:
    """Run epochs [start..start+n). ``start_epoch=None`` resumes after the
    last committed epoch (S14: the manifest IS the offset).

    ``pages_prepared``: optional pre-canonicalized page table (the
    `prepare_pages` output, already persisted+materialized by the caller) —
    lets the bench keep page prep as untimed setup while still driving THIS
    loop, maintenance included, instead of a hand-rolled copy of it.

    Each returned counters dict additionally carries the epoch's
    telemetry under ``_telemetry`` (post-commit, never in the manifest):
    ``wall_seconds`` and — where the scheduler's id counters are reachable
    — ``jobs``/``stages`` submitted during the epoch, maintenance included,
    and ``sections``, the same three figures per section: run_epoch's
    sections, then ``mine_mirrors``, ``mine_dust`` and ``compact``."""
    owns_pages = pages_prepared is None
    if owns_pages:
        pages_prepared = prepare_pages(pages).persist()
        # materialize BEFORE the first epoch: the per-epoch block cleanup
        # frees caches registered during an epoch, so a lazily-registered
        # cross-epoch cache would be evicted after epoch 0 and
        # re-canonicalize every epoch
        pages_prepared.count()
    last = cat.last_committed_epoch()
    start = start_epoch if start_epoch is not None else (0 if last is None else last + 1)
    out = []
    dust_rules = None
    dust_ids: set = set()
    if cfg.mine_dust and start > 0:
        # resume path: re-derive the rules the previous run would have held
        mined = _mine_dust_rules(cat, start - 1, cfg)
        if mined is not None:
            dust_rules, dust_ids = _checkpoint_dim(spark, mined, dust_ids)
    mirror_dim = None
    mirror_ids: set = set()
    if cfg.collapse_mirrors and start > 0:
        mined = _mine_mirror_losers(cat, start - 1, cfg)
        if mined is not None:
            mirror_dim, mirror_ids = _checkpoint_dim(spark, mined, mirror_ids)

    for epoch in range(start, start + n_epochs):
        tele = _Telemetry(spark)
        counters = run_epoch(
            spark,
            cat,
            pages_prepared,
            robots,
            epoch,
            cfg,
            seeds=seeds if epoch == 0 else None,
            verify_extraction=verify_extraction,
            sitemap_hints=sitemap_hints,
            dust_rules=dust_rules,
            mirror_loser_hosts=mirror_dim,
        )
        tele.adopt(counters.pop("_telemetry")["sections"])
        out.append(counters)
        if cfg.collapse_mirrors:
            # re-mine from ALL accumulated evidence; the dim engages next
            # epoch (same cadence discipline as DUST below). Checkpointed
            # once — the count below AND next epoch's gate read the cached
            # blocks instead of re-running the pair-generation join.
            mined = _mine_mirror_losers(cat, epoch, cfg)
            if mined is not None:
                mirror_dim, mirror_ids = _checkpoint_dim(spark, mined, mirror_ids)
                counters["mirror_loser_hosts"] = mirror_dim.count()
            tele.mark("mine_mirrors")
        if cfg.mine_dust:
            # re-mine from ALL accumulated evidence (fetch_digests deltas);
            # at 10^10 this job is two hash-aggs over (url_norm, content_
            # hash) projections — run it on the same cadence as compaction
            # if per-epoch is too hot. Rules engage next epoch; checkpointed
            # once so the count and next epoch's ingest share the blocks.
            mined = _mine_dust_rules(cat, epoch, cfg)
            if mined is not None:
                dust_rules, dust_ids = _checkpoint_dim(spark, mined, dust_ids)
                counters["dust_rule_hosts"] = dust_rules.count()
            tele.mark("mine_dust")
        # periodic delta compaction (Iceberg rewrite_data_files cadence):
        # the seen/links unions otherwise read one directory per prior epoch;
        # the frontier (merge table) additionally re-resolves superseded
        # status rows on every read until compacted. The postings deltas are
        # on the same cadence: with build_index on, a year of hourly epochs
        # is otherwise ~9k directories under every BM25 query.
        if cfg.compact_every and (epoch + 1) % cfg.compact_every == 0:
            tables = ["seen", "links", "frontier"]
            if cfg.build_index:
                tables.append("postings")
            if cfg.mine_dust or cfg.collapse_mirrors:
                tables.append("fetch_digests")
            for table in tables:
                counters.setdefault("maintenance", {})[f"compact_{table}"] = (
                    cat.compact_delta(table, epoch)
                )
            tele.mark("compact")
        # non-semantic telemetry under ONE underscore key: the crawl's
        # counters are a deterministic function of the inputs (pinned by the
        # two-run compose test); wall clock and scheduler ids are not
        counters["_telemetry"] = tele.record()
    if owns_pages:
        pages_prepared.unpersist()
    _unpersist_ids(spark, dust_ids | mirror_ids)
    return out
