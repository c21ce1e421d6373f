"""Priority + politeness scheduler — the engine's flagship operator (W1).

Replaces the reference's Kafka/Redis scheduling loop
(services/url-scheduler/app.py:242-348 + politeness_manager.py:45-74) with a
single declarative plan per epoch:

    pending ∪ deferred-ready
      → broadcast-join robots          (P5 gate; J6)
      → join host_stats → crawl_delay  (A4 adaptive state)
      → per-host budget = floor(epoch_seconds / crawl_delay), rate-capped (P6/P8)
      → rank = row_number over (host | priority desc, discovered asc, url_norm asc)
      → rank <= budget  ⇒ scheduled (+ shard)     (W1 + F5)
      → rank >  budget  ⇒ deferred (attempts+1)   (P8/P10, delay buckets W3)

The ordering is *total* (url_norm final tiebreak) so the crawl order is a
pure function of (seeds, pages, budget) — the determinism the reference
lacks (its order depends on Kafka interleaving) and the property the parity
oracle checks.

Scale: exactly one shuffle (hash by host) for the politeness+priority stage.
Hot-host skew is handled with two-phase top-k — rank within (host, salt)
first, keep <= budget per salt, then the final per-host window runs over at
most hot_host_salt x budget rows per host (bounded sort), mirroring the
reference's shard-rebalancing intent (domain_sharding.py:213-276) without a
coordinator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig, DEFAULT_CONFIG
from ..functions import columns as C
from .recrawl import _banded_interval

_ORDER = lambda: [  # noqa: E731 - shared total ordering (W1)
    F.desc("priority"),
    F.asc("discovered_epoch"),
    F.asc("url_norm"),
]


def schedule_epoch(
    pending: DataFrame,
    robots: DataFrame | None,
    host_stats: DataFrame | None,
    epoch: int,
    cfg: CrawlConfig = DEFAULT_CONFIG,
    materialize=None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (schedule, deferred_next, rejected).

    ``pending`` columns: url, url_norm, url_fp, host, path, priority, depth,
    source_url, discovered_epoch, attempts (0 for fresh frontier rows).

    ``materialize``: optional callable applied to the shared ``ranked``
    frame (post-window, pre-split). schedule and deferred_next are both
    filters of ranked, so without it each output's first consumer re-runs
    the politeness windows; the epoch driver passes its eager
    localCheckpoint so the windows execute exactly once per epoch.
    Pure pass-through — output values are identical either way.
    """
    # ---- P10: attempt cap (url-scheduler/app.py:419-425)
    overdrawn = pending.filter(F.col("attempts") > cfg.max_attempts).withColumn(
        "reject_reason", F.lit("max_attempts")
    )
    pending = pending.filter(F.col("attempts") <= cfg.max_attempts)

    # ---- P5: robots gate via broadcast join (politeness_manager.py:76-149)
    if robots is not None:
        # Allow carve-outs (urllib can_fetch parity) ride an optional
        # allow_prefixes column; disallow-only dimension tables keep working.
        has_allow = "allow_prefixes" in robots.columns
        rb_cols = ["host", "disallow_prefixes", "crawl_delay"] + (
            ["allow_prefixes"] if has_allow else []
        )
        rb = F.broadcast(robots.select(*rb_cols))
        pending = pending.join(rb, "host", "left")
        allowed = C.robots_allows(
            F.col("disallow_prefixes"),
            F.col("path"),
            F.col("allow_prefixes") if has_allow else None,
        )
        robots_rejected = pending.filter(~allowed).withColumn(
            "reject_reason", F.lit("robots_disallowed")
        )
        pending = pending.filter(allowed).drop("disallow_prefixes", "allow_prefixes")
        pending = pending.withColumnRenamed("crawl_delay", "robots_delay")
    else:
        robots_rejected = None
        pending = pending.withColumn("robots_delay", F.lit(None).cast("double"))

    # ---- P6/A4: effective crawl delay = adaptive host_stats > robots > default
    if host_stats is not None:
        hs = F.broadcast(host_stats.select("host", F.col("crawl_delay").alias("adaptive_delay")))
        pending = pending.join(hs, "host", "left")
    else:
        pending = pending.withColumn("adaptive_delay", F.lit(None).cast("double"))
    pending = pending.withColumn(
        "effective_delay",
        F.coalesce("adaptive_delay", "robots_delay", F.lit(cfg.default_crawl_delay)),
    ).drop("adaptive_delay", "robots_delay")

    # ---- per-host epoch budget (P6 delay + P8 rate limit, batch form)
    rate_cap = cfg.max_requests_per_minute * cfg.epoch_seconds // 60
    pending = pending.withColumn(
        "host_budget",
        F.least(
            F.floor(F.lit(float(cfg.epoch_seconds)) / F.col("effective_delay")).cast("int"),
            F.lit(int(rate_cap)),
        ),
    ).drop("effective_delay")

    # ---- opt-in: politeness keyed on the registrable domain (the SITE) —
    # *.blogspot.com-style subdomain families share one budget (the most
    # conservative member host's) instead of each subdomain claiming its
    # own. Key = the same registered-domain rule the reference's tldextract
    # internal-link check uses (parser/app.py:168-175), as pure codegen.
    # The group-min runs BEFORE the salted pre-filter so a host whose rows
    # all pre-defer still contributes its (possibly binding) budget.
    pol_key = "host"
    if cfg.politeness_by_registrable:
        pol_key = "_pol_key"
        pending = pending.withColumn(
            pol_key, C.registered_domain_col(F.col("host"))
        ).withColumn(
            "host_budget", F.min("host_budget").over(Window.partitionBy(pol_key))
        )

    # ---- W1: per-host top-k under total ordering, optionally salted (skew)
    salt = cfg.hot_host_salt
    pre_overflow = None
    if salt and salt > 1:
        pre_w = Window.partitionBy(pol_key, "salt").orderBy(*_ORDER())
        salted = pending.withColumn(
            "salt", F.pmod(F.xxhash64("url_norm"), F.lit(salt)).cast("int")
        ).withColumn("_pre_rank", F.row_number().over(pre_w))
        # a row ranked > budget within its salt has >= budget rows ahead of it
        # in the full host ordering too => its true host rank > budget, so it
        # is provably deferred and can skip the final (bounded) window; the
        # sentinel rank keeps it on the shared ranked frame (see above)
        pre_overflow = salted.filter(F.col("_pre_rank") > F.col("host_budget")).withColumn(
            "rank_in_host", F.col("host_budget") + F.col("_pre_rank")
        ).drop("salt", "_pre_rank")
        # survivors: at most salt*budget rows per host enter the final sort
        pending = salted.filter(F.col("_pre_rank") <= F.col("host_budget")).drop(
            "salt", "_pre_rank"
        )
    w = Window.partitionBy(pol_key).orderBy(*_ORDER())
    ranked = pending.withColumn("rank_in_host", F.row_number().over(w))
    if pre_overflow is not None:
        ranked = ranked.unionByName(pre_overflow)
    if materialize is not None:
        ranked = materialize(ranked)

    schedule = (
        ranked.filter(F.col("rank_in_host") <= F.col("host_budget"))
        .withColumn("shard_id", C.shard_id(F.col("host"), cfg.n_shards))
        .withColumn("epoch", F.lit(epoch))
        .drop("host_budget", "_pol_key")
    )

    overflow = ranked.filter(F.col("rank_in_host") > F.col("host_budget")).drop(
        "rank_in_host"
    )
    deferred_next = (
        overflow.withColumn("ready_epoch", F.lit(epoch + 1))
        .withColumn("reason", F.lit("politeness_budget"))
        .withColumn("attempts", F.col("attempts") + 1)
        .drop("host_budget", "_pol_key")
    )

    rejected = overdrawn
    if robots_rejected is not None:
        rejected = overdrawn.unionByName(
            robots_rejected.drop("disallow_prefixes", "allow_prefixes", "crawl_delay"),
            allowMissingColumns=True,
        )
    return schedule, deferred_next, rejected


def adaptive_host_stats(
    fetch_results: DataFrame,
    prev_stats: DataFrame | None,
    epoch: int,
    cfg: CrawlConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """A3/A4: per-host stats recompute + adaptive crawl-delay ladder
    (politeness_manager.py:272-315).

    ``fetch_results`` columns: host, success (boolean), response_time (double).
    Batch recompute replaces the reference's incremental Redis means."""
    agg = fetch_results.groupBy("host").agg(
        F.count(F.lit(1)).alias("d_total"),
        F.sum(F.when(F.col("success"), 1).otherwise(0)).alias("d_success"),
        F.sum(F.when(~F.col("success"), 1).otherwise(0)).alias("d_failed"),
        F.avg(F.when(F.col("response_time") > 0, F.col("response_time"))).alias("d_avg_rt"),
    )
    if prev_stats is not None:
        merged = agg.join(prev_stats, "host", "full")
    else:
        merged = (
            agg.withColumn("total_requests", F.lit(None).cast("long"))
            .withColumn("successful_requests", F.lit(None).cast("long"))
            .withColumn("failed_requests", F.lit(None).cast("long"))
            .withColumn("avg_response_time", F.lit(None).cast("double"))
            .withColumn("crawl_delay", F.lit(None).cast("double"))
            .withColumn("last_epoch", F.lit(None).cast("int"))
        )
    z = F.lit(0)
    total0 = F.coalesce("total_requests", z.cast("long"))
    merged = (
        merged.withColumn("_dt", F.coalesce("d_total", z.cast("long")))
        .withColumn("total_requests_n", total0 + F.col("_dt"))
        .withColumn(
            "successful_requests_n",
            F.coalesce("successful_requests", z.cast("long")) + F.coalesce("d_success", z.cast("long")),
        )
        .withColumn(
            "failed_requests_n",
            F.coalesce("failed_requests", z.cast("long")) + F.coalesce("d_failed", z.cast("long")),
        )
        # weighted mean of old mean and epoch mean ≙ the reference's running mean
        .withColumn(
            "avg_response_time_n",
            F.when(F.col("total_requests_n") > 0,
                (F.coalesce("avg_response_time", F.lit(0.0)) * total0
                 + F.coalesce("d_avg_rt", F.lit(0.0)) * F.col("_dt"))
                / F.col("total_requests_n"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("crawl_delay_0", F.coalesce("crawl_delay", F.lit(cfg.default_crawl_delay)))
    )
    # adaptive ladder (politeness_manager.py:306-315): only after >=10 requests
    success_rate = F.col("successful_requests_n") / F.col("total_requests_n")
    merged = merged.withColumn(
        "crawl_delay_n",
        F.when(
            F.col("total_requests_n") >= 10,
            F.when(
                (success_rate < 0.8) | (F.col("avg_response_time_n") > 5.0),
                F.least(F.col("crawl_delay_0") * 1.5, F.lit(10.0)),
            )
            .when(
                (success_rate > 0.95) & (F.col("avg_response_time_n") < 1.0),
                F.greatest(F.col("crawl_delay_0") * 0.8, F.lit(0.5)),
            )
            .otherwise(F.col("crawl_delay_0")),
        ).otherwise(F.col("crawl_delay_0")),
    )
    return merged.select(
        "host",
        F.col("total_requests_n").alias("total_requests"),
        F.col("successful_requests_n").alias("successful_requests"),
        F.col("failed_requests_n").alias("failed_requests"),
        F.col("avg_response_time_n").alias("avg_response_time"),
        F.col("crawl_delay_n").alias("crawl_delay"),
        F.when(F.col("_dt") > 0, F.lit(epoch)).otherwise(F.coalesce("last_epoch", F.lit(epoch))).alias("last_epoch"),
    )


def recrawl_schedule(
    history: DataFrame,
    id_col: str,
    order_col: str,
    fingerprint_col: str,
    tiebreak_col: str | None = None,
    rate_bands: tuple[tuple[float, int], ...] = ((0.5, 1), (0.25, 2), (0.1, 4)),
    max_interval: int = 8,
) -> DataFrame:
    """Adaptive revisit policy (Cho & Garcia-Molina 2003's insight, in its
    simplest deterministic form): estimate each URL's change rate from its
    fetch history and band it into a revisit interval.

    For each id, order its fetches by (order_col, tiebreak) and count
    ADJACENT fetch pairs whose content fingerprint differs — the empirical
    change frequency. change_rate = changes / (fetches - 1); single-fetch
    ids have unknown rate (NULL) and get the fastest band (optimistic
    revisit, matching a crawler's bias toward fresh discoveries).
    interval_epochs walks rate_bands (rate >= threshold -> interval),
    falling through to max_interval for cold pages.

    One window over (id, order) — a single hash-partition shuffle on the
    id; no global sort. Returns (id, n_fetches, n_changes, change_rate,
    interval_epochs).

    The reference has no revisit logic (every URL is fetched once per
    lifetime unless re-seeded); this extends the scheduler the way a
    production crawler's freshness loop does, and joins back onto the
    frontier as a ready_epoch offset.
    """
    order = [F.asc(order_col)] + ([F.asc(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(id_col).orderBy(*order)
    # when() not cast(): a NULL fingerprint makes the != NULL, and CASE
    # semantics (0, not NULL) must match the SQL oracle's
    changed = F.when(
        F.lag(fingerprint_col).over(w).isNotNull()
        & (F.col(fingerprint_col) != F.lag(fingerprint_col).over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    per = (
        history.select(
            F.col(id_col), changed.alias("_chg")
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.sum("_chg").alias("n_changes"),
        )
    )
    rate, interval = _banded_interval(rate_bands, max_interval)
    return per.select(
        id_col,
        F.col("n_fetches").cast("int"),
        F.col("n_changes").cast("int"),
        F.round(rate, 6).alias("change_rate"),
        interval.cast("int").alias("interval_epochs"),
    )


def shard_rebalance_plan(
    host_loads: DataFrame,
    n_shards: int,
    tolerance: float = 0.2,
    host_col: str = "host",
    load_col: str = "load",
) -> DataFrame:
    """Shard overload repair (P9 beyond salting): which hosts to MOVE.

    Hash-sharding plus hot hosts leaves some shards persistently over
    capacity; salting fixes the within-job skew but not the standing
    assignment. This emits a deterministic minimal-move plan:

    - shard capacity = ceil(mean load * (1 + tolerance));
    - in each overloaded shard, hosts ranked by (load desc, host asc) are
      moved until the remainder fits — largest-first covers the excess
      with the fewest moved hosts;
    - moved hosts go round-robin (by global move rank) onto the shards
      ranked least-loaded — deterministic, no iteration.

    Pure windows + one tiny shard-level aggregate (n_shards rows,
    broadcast); the host table shuffles once on shard. Returns
    (host, load, from_shard, to_shard). The sticky-assignment override
    table (host -> to_shard) is dimension-scale, broadcast at join time —
    the same shape the reference's Redis shard map would occupy.
    """
    from ..functions import columns as C

    cols = [
        F.col(host_col).alias("host"),
        F.col(load_col).cast("double").alias("load"),
    ]
    if "shard" in host_loads.columns:
        # caller-provided current assignment (e.g. a sticky override table)
        h = host_loads.select(*cols, F.col("shard").cast("int").alias("shard"))
    else:
        h = host_loads.select(*cols).withColumn(
            "shard", C.shard_id(F.col("host"), n_shards)
        )

    shard_tot = h.groupBy("shard").agg(F.sum("load").alias("shard_load"))
    totals = shard_tot.agg(
        F.sum("shard_load").alias("total"), F.count(F.lit(1)).alias("n_used")
    )
    cap_df = totals.select(
        F.ceil(F.col("total") / n_shards * (1.0 + tolerance)).alias("cap")
    )
    shard_tot = shard_tot.crossJoin(F.broadcast(cap_df))

    over = shard_tot.filter(F.col("shard_load") > F.col("cap")).select(
        "shard", (F.col("shard_load") - F.col("cap")).alias("excess")
    )
    w_host = Window.partitionBy("shard").orderBy(F.desc("load"), F.asc("host"))
    in_over = h.join(F.broadcast(over), "shard")
    moved = (
        in_over.withColumn(
            "cum_before",
            F.coalesce(
                F.sum("load").over(w_host.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0.0),
            ),
        )
        .filter(F.col("cum_before") < F.col("excess"))
        .select("host", "load", F.col("shard").alias("from_shard"))
    )

    under = (
        shard_tot.filter(F.col("shard_load") <= F.col("cap"))
        .withColumn(
            "slot",
            F.row_number().over(Window.orderBy(F.asc("shard_load"), F.asc("shard"))),
        )
        .select("shard", "slot")
    )
    n_under = under.count()
    if n_under == 0:
        return moved.select(
            "host", "load", "from_shard", F.col("from_shard").alias("to_shard")
        ).limit(0)
    w_move = Window.orderBy(F.desc("load"), F.asc("host"))
    return (
        moved.withColumn("move_rank", F.row_number().over(w_move))
        .withColumn("slot", (F.col("move_rank") - 1) % n_under + 1)
        .join(F.broadcast(under), "slot")
        .select("host", "load", "from_shard", F.col("shard").alias("to_shard"))
    )


def politeness_makespan(
    frontier: DataFrame,
    slots: int,
    host_col: str = "host",
    delay_col: str = "delay_s",
) -> DataFrame:
    """Epoch capacity forecast under per-host politeness.

    Politeness serializes each host's fetches (one request per delay_s), so
    an epoch's wall-clock has two lower bounds: the longest single-host
    serial chain (n_urls × delay — parallelism cannot help), and the total
    fetch-seconds divided by the executor slots.  makespan_lb_s = max of the
    two; a host is a `straggler` when its serial chain exceeds the balanced
    share (total/slots) — the hosts the scheduler should either defer part
    of (budget split across epochs) or accept as the critical path.

    This is the planning query a 1000-executor crawl runs BEFORE launching
    an epoch: if one host carries 10^7 URLs at 1 s delay, no cluster size
    fixes the 115-day chain — the budget drain must cap it.  One hash-agg
    to per-host rows + a broadcast 1-row stats join; never touches a URL
    twice.

    `frontier` must carry host_col and delay_col (constant per host).
    """
    per_host = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.max(delay_col).alias("delay_s"),
    )
    per_host = per_host.withColumn(
        "serial_s", (F.col("n_urls") * F.col("delay_s")).cast("double")
    )
    stats = per_host.agg(
        F.sum("serial_s").alias("total_s"), F.max("serial_s").alias("max_serial_s")
    )
    return (
        per_host.crossJoin(F.broadcast(stats))
        .withColumn(
            "makespan_lb_s",
            F.round(F.greatest(F.col("max_serial_s"), F.col("total_s") / slots), 6),
        )
        .withColumn("straggler", F.col("serial_s") > F.col("total_s") / slots)
        .select("host", "n_urls", "delay_s", "serial_s", "makespan_lb_s", "straggler")
    )


def politeness_audit(
    fetch_log: DataFrame,
    host_col: str = "host",
    ts_col: str = "ts_us",
    delay_col: str = "delay_us",
) -> DataFrame:
    """Post-hoc politeness compliance over an executed fetch log.

    The scheduler PLANS politeness (delay buckets, per-host serialization);
    this audits what actually ran — the query an operator fires when a
    webmaster complains or after a scheduler change.  Per host: fetch
    count, the minimum inter-fetch gap, how many gaps violated the host's
    delay, and the compliant verdict.  Integer-microsecond arithmetic (no
    float time math).  One window over the log's own (host) partitioning +
    one hash-agg; the log is already host-partitioned on disk in any sane
    layout, so the window is shuffle-free there.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(ts_col)
    g = fetch_log.withColumn("prev_ts", F.lag(ts_col).over(w)).withColumn(
        "gap_us", F.col(ts_col) - F.col("prev_ts")
    )
    return (
        g.groupBy(F.col(host_col).alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.max(delay_col).alias("delay_us"),
            F.min("gap_us").alias("min_gap_us"),
            F.sum(
                F.when(F.col("gap_us") < F.col(delay_col), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("violations"),
        )
        .withColumn("compliant", F.col("violations") == 0)
    )


def regex_url_filter(
    urls: DataFrame,
    rules: list[tuple[int, str, str]],
    url_col: str = "url",
    default_allow: bool = False,
) -> DataFrame:
    """Nutch-style ordered regex URL filter (the `regex-urlfilter.txt`
    contract, first-match-wins): `rules` is an ordered list of
    (rule_order, action, pattern) with action '+' (include) or '-'
    (exclude); a URL is decided by the LOWEST-order rule whose pattern
    matches anywhere in it; URLs matching no rule fall to `default_allow`
    (Nutch default: exclude). The reference hardcodes its extension/scheme/
    domain gates (url-scheduler/app.py:... P1-P4); this is the
    operator-configurable generalization crawl ops actually deploy.

    Returns (url_col, rule_order, action, kept). Shape: the rule list is a
    tiny BROADCAST dim crossed against the URLs — per row, `len(rules)`
    native rlike probes and a min-order aggregation, all whole-stage
    codegen; no shuffle beyond the partial-agg on the URL itself (and none
    at all when url_col is unique: groupBy(url) after an explode of
    matches partial-aggregates map-side). Patterns must stay in the
    Java/RE2 common subset (no backrefs/lookaheads) — that keeps the gate
    portable across engines, which is also what the DuckDB oracle checks.
    """
    spark = urls.sparkSession
    dim = spark.createDataFrame(
        [(int(o), a, p) for o, a, p in rules],
        "rule_order int, action string, pattern string",
    )
    matched = (
        urls.select(F.col(url_col))
        .join(F.broadcast(dim), F.expr(f"rlike({url_col}, pattern)"), "left")
        .groupBy(url_col)
        .agg(F.min_by(F.struct("rule_order", "action"), "rule_order").alias("m"))
    )
    return matched.select(
        url_col,
        F.col("m.rule_order").alias("rule_order"),
        F.col("m.action").alias("action"),
        F.coalesce(F.col("m.action") == "+", F.lit(default_allow)).alias("kept"),
    )


def budget_fairness(
    frontier: DataFrame, host_col: str, cap: int
) -> DataFrame:
    """Jain's fairness index over per-host fetch allocation, before and
    after the politeness cap: J = (Σx)² / (n·Σx²) ∈ (1/n, 1], 1 = every
    host gets an equal share. The one-row gauge that politeness capping
    actually flattens a skewed frontier (raw demand J ≪ capped J) — the
    scheduler-health metric next to `shard_imbalance`.

    100 TB shape: one map-side-combined hash-agg to the host axis, then
    a single global sum over host rows; exact integer moments, one final
    double division per index."""
    per = frontier.groupBy(F.col(host_col)).agg(
        F.count(F.lit(1)).cast("long").alias("demand")
    ).select(
        "demand",
        F.least(F.col("demand"), F.lit(int(cap))).cast("long").alias("granted"),
    )
    jain = lambda s, ss: F.round(  # noqa: E731
        (s.cast("double") * s.cast("double"))
        / (F.count(F.lit(1)).cast("double") * ss.cast("double")),
        6,
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum("demand").alias("total_demand"),
        F.sum("granted").alias("total_granted"),
        jain(F.sum("demand"), F.sum(F.col("demand") * F.col("demand"))).alias(
            "jain_raw"
        ),
        jain(
            F.sum("granted"), F.sum(F.col("granted") * F.col("granted"))
        ).alias("jain_capped"),
    )


def schedule_order_correlation(
    frontier: DataFrame,
    host_col: str,
    discovery_col: str,
    priority_col: str,
    id_col: str,
    min_rows: int = 2,
) -> DataFrame:
    """Per-host Spearman rank correlation between DISCOVERY order (BFS:
    `discovery_col` asc) and DRAIN order (priority: `priority_col` desc)
    — how far priority scheduling deviates from the reference's
    FIFO-per-host semantics on each host (ρ=1 identical order, ρ=-1 full
    reversal). Both rankings tie-break on `id_col`, making them exact
    permutations, so ρ = 1 − 6·Σd²/(n(n²−1)) is exact integer arithmetic
    until one final division.

    100 TB shape: the two row_number windows share ONE hash exchange on
    the host key (same partitioning, different orderBy), then a map-side
    combined per-host agg; no joins."""
    w_disc = Window.partitionBy(host_col).orderBy(
        F.asc(discovery_col), F.asc(id_col)
    )
    w_prio = Window.partitionBy(host_col).orderBy(
        F.desc(priority_col), F.asc(id_col)
    )
    ranked = frontier.select(
        F.col(host_col),
        F.row_number().over(w_disc).cast("long").alias("r_disc"),
        F.row_number().over(w_prio).cast("long").alias("r_prio"),
    )
    d2 = (F.col("r_disc") - F.col("r_prio")) * (F.col("r_disc") - F.col("r_prio"))
    agg = ranked.groupBy(F.col(host_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d2).cast("long").alias("sd2"),
    )
    n = F.col("n").cast("double")
    return (
        agg.filter(F.col("n") >= int(min_rows))
        .select(
            F.col(host_col),
            "n",
            F.round(
                F.lit(1.0) - (F.lit(6.0) * F.col("sd2").cast("double"))
                / (n * (n * n - F.lit(1.0))),
                6,
            ).alias("spearman_rho"),
        )
    )


def frontier_drain_forecast(
    frontier: DataFrame,
    host_col: str,
    per_epoch_capacity: int,
    slots: int | None = None,
) -> DataFrame:
    """Across-epoch drain forecast (the companion to the within-epoch
    `politeness_makespan`): per host, pending count and the epochs needed
    to drain it at `per_epoch_capacity` fetches/host/epoch — plus one
    fleet row (host NULL) with the binding constraint: the slowest host's
    epochs vs total work over fleet slots. The capacity-planning query
    "when does this crawl finish, and which hosts pin the tail?".

    100 TB shape: one map-side-combined hash-agg to the host axis + a
    one-row global agg unioned on — no data-sized joins or sorts."""
    per = frontier.groupBy(
        F.col(host_col).cast("string").alias("host")
    ).agg(F.count(F.lit(1)).cast("long").alias("pending"))
    epochs = F.ceil(
        per["pending"].cast("double") / float(per_epoch_capacity)
    ).cast("long")
    hosts = per.select("host", "pending", epochs.alias("epochs_to_drain"))
    fleet_rows = per.agg(
        F.sum("pending").cast("long").alias("pending"),
        F.max(
            F.ceil(F.col("pending").cast("double") / float(per_epoch_capacity))
        ).cast("long").alias("host_bound"),
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
    )
    if slots:
        fleet_bound = F.greatest(
            fleet_rows["host_bound"],
            F.ceil(
                fleet_rows["pending"].cast("double")
                / (float(per_epoch_capacity) * float(slots))
            ).cast("long"),
        )
    else:
        fleet_bound = fleet_rows["host_bound"]
    fleet = fleet_rows.select(
        F.lit(None).cast("string").alias("host"),
        "pending",
        fleet_bound.alias("epochs_to_drain"),
    )
    return hosts.unionByName(fleet)
