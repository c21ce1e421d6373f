"""Recrawl scheduling: per-URL change-rate estimation and revisit planning.

The reference crawls each URL once (frontier/app.py keeps a URL out of the
queue forever after its first fetch — the seen set has no expiry besides
the Redis TTL, services/frontier/app.py:214-230). A production crawler
re-visits: it estimates how often each page changes from its own fetch
history and schedules the next fetch accordingly. This module adds that
tier Spark-first.

Estimator: Cho & Garcia-Molina, "Estimating Frequency of Change" (ACM TOIT
2003). Pages change by a Poisson process with rate λ; a crawler that
fetched a page k+1 times (k intervals) and observed the content fingerprint
differ in n of those intervals sees each interval "changed" with
probability 1 - e^(-λI). Their bias-reduced estimator for regular accesses:

    λ̂ = -log((k - n + 0.5) / (k + 0.5)) / I,   I = mean interval length.

The +0.5 terms keep the estimate finite when every interval changed
(n = k); when none did (n = 0) the ratio is exactly 1 and λ̂ = 0.

Revisit policy: for freshness under a Poisson change model the optimal
uniform revisit interval is proportional to 1/λ (Cho & Garcia-Molina,
"Synchronizing a database to improve freshness", SIGMOD 2000 — uniform
allocation; we expose Δ = 1/λ̂ clamped to [min_days, max_days], the policy
knob production crawlers actually ship).

Scale shape: one hash exchange on url — the lag() window and the per-url
aggregate share the partitioning, so Catalyst plans a single shuffle; the
output is one row per URL (frontier-dim sized, 10^10 rows max) and joins
back to the frontier by url with no extra exchange when the frontier is
already url-partitioned. Everything is whole-stage-codegen arithmetic —
no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "change_rates",
    "revisit_schedule",
    "update_recrawl_state",
    "intervals_from_state",
]


def change_rates(
    history: DataFrame,
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    sig_col: str = "content_sig",
    tiebreak_col: str | None = None,
    min_intervals: int = 1,
) -> DataFrame:
    """Per-URL Poisson change-rate estimate from a fetch log.

    ``history`` has one row per fetch: (url, fetch_ts, content fingerprint).
    Returns one row per url with at least ``min_intervals`` observed
    intervals:

    - ``k_intervals``  — fetches - 1 (number of observed intervals)
    - ``n_changes``    — intervals whose fingerprint differed from the
      previous fetch (null-safe compare: a missing fingerprint never
      counts as a change against another missing one)
    - ``span_days``    — first→last fetch span in days (double)
    - ``lambda_day``   — λ̂ in changes/day (Cho & Garcia-Molina 2003,
      bias-reduced; 0.0 when the span is empty)

    One shuffle: the lag window and the groupBy share the url hash
    partitioning. Ties in ``ts_col`` are broken by ``tiebreak_col`` when
    given (determinism for same-timestamp fetches).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    h = history.select(
        F.col(url_col).alias("url"),
        us.alias("_us"),
        F.col(sig_col).alias("_sig"),
        *( [F.col(tiebreak_col).alias("_tb")] if tiebreak_col else [] ),
    )
    worder = [F.col("_us").asc()] + ([F.col("_tb").asc()] if tiebreak_col else [])
    wlag = Window.partitionBy("url").orderBy(*worder)
    # _rn distinguishes the first fetch (no interval) from a genuine NULL
    # previous fingerprint — lag() returns NULL for both. Same window spec,
    # so _rn rides the one url exchange.
    h = h.withColumn("_prev", F.lag("_sig").over(wlag)).withColumn(
        "_rn", F.row_number().over(wlag)
    )
    per_url = h.groupBy("url").agg(
        (F.count(F.lit(1)) - F.lit(1)).alias("k_intervals"),
        F.sum(
            F.when(
                (F.col("_rn") > 1) & ~F.col("_prev").eqNullSafe(F.col("_sig")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("n_changes"),
        ((F.max("_us") - F.min("_us")) / F.lit(86400.0 * 1e6)).alias("span_days"),
    ).filter(F.col("k_intervals") >= min_intervals)
    mean_interval = F.col("span_days") / F.col("k_intervals")
    lam = -F.log(
        (F.col("k_intervals") - F.col("n_changes") + F.lit(0.5))
        / (F.col("k_intervals") + F.lit(0.5))
    ) / mean_interval
    return per_url.select(
        "url",
        "k_intervals",
        "n_changes",
        F.round("span_days", 6).alias("span_days"),
        F.round(
            F.when(F.col("span_days") > 0, lam).otherwise(F.lit(0.0)), 6
        ).alias("lambda_day"),
    )


def update_recrawl_state(
    fetches: DataFrame,
    prev_state: DataFrame | None,
) -> DataFrame:
    """Incremental change-tracking state for the epoch loop's recrawl tier.

    ``fetches`` has one row per successfully fetched URL this epoch:
    (url_norm, content_hash). State rows are
    (url_norm, n_fetches, n_changes, last_hash); a change is counted when
    this fetch's hash differs from ``last_hash``. Folding epochs one at a
    time through this merge yields exactly the adjacent-pair counts the
    batch estimator (scheduler.recrawl_schedule) computes over the full
    fetch log — parity is pinned by test — without storing or rescanning
    that log: the epoch cost is one full-outer join of O(epoch) fetches
    against the O(distinct URLs) state dim, the same snapshot-merge shape
    as adaptive host_stats. At 10^10 URLs the state table is stored
    bucketed by url_norm so the join co-locates without shuffling state.
    """
    f = fetches.select(
        F.col("url_norm"), F.col("content_hash").alias("_new_hash")
    ).dropDuplicates(["url_norm"])
    if prev_state is None:
        return f.select(
            "url_norm",
            F.lit(1).cast("bigint").alias("n_fetches"),
            F.lit(0).cast("bigint").alias("n_changes"),
            F.col("_new_hash").alias("last_hash"),
        )
    merged = prev_state.join(f, "url_norm", "full")
    fetched_now = F.col("_new_hash").isNotNull()
    changed = (
        fetched_now
        & F.col("last_hash").isNotNull()
        & (F.col("last_hash") != F.col("_new_hash"))
    )
    return merged.select(
        "url_norm",
        (
            F.coalesce(F.col("n_fetches"), F.lit(0))
            + F.when(fetched_now, F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint").alias("n_fetches"),
        (
            F.coalesce(F.col("n_changes"), F.lit(0))
            + F.when(changed, F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint").alias("n_changes"),
        F.coalesce(F.col("_new_hash"), F.col("last_hash")).alias("last_hash"),
    )


def _banded_interval(
    rate_bands: tuple[tuple[float, int], ...],
    max_interval: int,
    first_visit: Column | None = None,
) -> tuple[Column, Column]:
    """(change_rate, interval_epochs) over ``n_fetches``/``n_changes``
    columns: change_rate = changes / (fetches - 1), NULL for a single
    fetch; the interval walks ``rate_bands`` (rate >= threshold ->
    interval), falls through to ``max_interval`` for cold pages, and a
    single-fetch URL takes ``first_visit`` when it is non-null, else the
    fastest band (optimistic first revisit). The one banding rule of
    scheduler.recrawl_schedule and :func:`intervals_from_state`."""
    rate = F.when(
        F.col("n_fetches") > 1,
        F.col("n_changes").cast("double") / (F.col("n_fetches") - 1).cast("double"),
    )
    interval = F.lit(max_interval)
    for threshold, band in reversed(rate_bands):
        interval = F.when(rate >= threshold, F.lit(band)).otherwise(interval)
    fastest = F.lit(rate_bands[0][1])
    if first_visit is not None:
        fastest = F.coalesce(first_visit, fastest)
    return rate, F.when(rate.isNull(), fastest).otherwise(interval)


def intervals_from_state(
    state: DataFrame,
    rate_bands: tuple[tuple[float, int], ...] = ((0.5, 1), (0.25, 2), (0.1, 4)),
    max_interval: int = 8,
    hints: DataFrame | None = None,
) -> DataFrame:
    """(url_norm, interval_epochs) from recrawl state — the change-rate
    banding of :func:`_banded_interval`, as a pure projection over the
    state dim. No shuffle.

    ``hints`` (optional): (url_norm, hint_epochs) — the site's DECLARED
    revisit prior, e.g. sitemap changefreq mapped through
    `sources/sitemap.recrawl_hints` and the epoch length. Prior-vs-posterior
    fusion: a hint replaces the optimistic fastest band only while the URL
    has a single fetch (no observed change data); once n_fetches > 1 the
    MEASURED banding wins unconditionally — sites misdeclare changefreq,
    observations don't. Hints are clamped to [1, max_interval]; one
    left join on url_norm (broadcast when the hint dim is small)."""
    first_visit = None
    if hints is not None:
        # one row per URL even when several sitemaps declare it (the same
        # loc in two files is legal): keep the FASTEST declared interval —
        # a duplicate-keyed dim would fan out the state join and duplicate
        # every downstream revisit row
        h = (
            hints.select(
                "url_norm",
                F.least(
                    F.greatest(F.col("hint_epochs").cast("int"), F.lit(1)),
                    F.lit(max_interval),
                ).alias("_hint"),
            )
            .groupBy("url_norm")
            .agg(F.min("_hint").alias("_hint"))
        )
        state = state.join(h, "url_norm", "left")
        first_visit = F.col("_hint")
    _, interval = _banded_interval(rate_bands, max_interval, first_visit)
    return state.select("url_norm", interval.cast("int").alias("interval_epochs"))


def revisit_schedule(
    rates: DataFrame,
    min_days: float = 0.25,
    max_days: float = 30.0,
) -> DataFrame:
    """Freshness revisit plan from :func:`change_rates` output: clamp
    Δ = 1/λ̂ to [min_days, max_days] and bucket URLs into crawl tiers.

    - ``revisit_days`` — clamped 1/λ̂ (URLs that never changed get
      ``max_days``)
    - ``tier`` — 'hot' (≤1d), 'daily' (≤7d), 'weekly' (≤max), the shape a
      scheduler partitions its recrawl queues by.

    Pure projection — no shuffle; at 10^10 URLs this tags the frontier dim
    in place.
    """
    delta = F.when(F.col("lambda_day") > 0, F.lit(1.0) / F.col("lambda_day")).otherwise(
        F.lit(float(max_days))
    )
    clamped = F.least(F.greatest(delta, F.lit(float(min_days))), F.lit(float(max_days)))
    return rates.select(
        "url",
        "k_intervals",
        "n_changes",
        "lambda_day",
        F.round(clamped, 6).alias("revisit_days"),
        F.when(clamped <= 1.0, F.lit("hot"))
        .when(clamped <= 7.0, F.lit("daily"))
        .otherwise(F.lit("weekly"))
        .alias("tier"),
    )


def revisit_savings(
    prev: DataFrame,
    cur: DataFrame,
    id_col: str = "url",
    hash_col: str = "content_hash",
    size_col: str = "n_bytes",
) -> DataFrame:
    """WARC revisit-record accounting across two crawl epochs.

    Common Crawl / IA WARCs store a `revisit` record (a digest pointer, no
    body) when a refetched page's payload digest is unchanged — the storage
    half of the recrawl tier (`change_rates` decides WHEN to refetch; this
    measures what the refetch was worth).  Classify the current epoch's
    pages against the previous epoch by digest: `new` (never seen),
    `unchanged` (digest equal → revisit record, body bytes saved),
    `changed` (digest differs → full record).  One equi join on the id +
    one tiny agg; at 10^10 ids both sides hash-partition on the id, the
    natural storage layout of the epoch tables.

    Output: (status, n_pages, bytes_full, bytes_stored, bytes_saved) where
    bytes_stored counts a revisit record as 0 body bytes.
    """
    p = prev.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("prev_hash")
    )
    c = cur.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("cur_hash"),
        F.col(size_col).cast("bigint").alias("n_bytes"),
    )
    j = c.join(p, "id", "left").withColumn(
        "status",
        F.when(F.col("prev_hash").isNull(), "new")
        .when(F.col("prev_hash") == F.col("cur_hash"), "unchanged")
        .otherwise("changed"),
    )
    return (
        j.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_bytes").cast("bigint").alias("bytes_full"),
            F.sum(F.when(F.col("status") == "unchanged", 0).otherwise(F.col("n_bytes")))
            .cast("bigint")
            .alias("bytes_stored"),
        )
        .withColumn("bytes_saved", (F.col("bytes_full") - F.col("bytes_stored")).cast("bigint"))
    )
