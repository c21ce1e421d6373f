"""End-to-end multi-epoch crawl: oracle parity + resume round-trip.

The north rule: crawl ordering and the final URL-seen set must match the
deterministic reference oracle under the same seed list + politeness budget;
any epoch must be resumable from its checkpoint.
"""

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.oracle import run_oracle
from webcrawler_spark.plans import epoch as E
from webcrawler_spark.storage.catalog import Catalog

# small budget so deferral paths are exercised
CFG = CrawlConfig(epoch_seconds=6, hot_host_salt=2)
N_EPOCHS = 3


def _spark_schedules(cat, n_epochs):
    out = []
    for e in range(n_epochs):
        df = cat.read_delta_union("schedule", e)
        rows = df.filter(F.col("epoch") == e).orderBy("host", "rank_in_host").collect()
        out.append([(r["host"], r["rank_in_host"], r["url_norm"]) for r in rows])
    return out


@pytest.fixture(scope="module")
def crawl_run(spark, pages_df, seeds_df, robots_df, tmp_path_factory):
    root = tmp_path_factory.mktemp("crawl")
    cat = Catalog(spark, str(root))
    counters = E.run_epochs(
        spark, cat, pages_df, seeds_df, robots_df, N_EPOCHS, CFG, verify_extraction=True
    )
    return cat, counters


@pytest.fixture(scope="module")
def oracle_run(web):
    return run_oracle(web["pages"], web["seeds"], web["robots"], N_EPOCHS, CFG)


def test_crawl_order_parity(crawl_run, oracle_run):
    cat, _ = crawl_run
    spark_scheds = _spark_schedules(cat, N_EPOCHS)
    for e in range(N_EPOCHS):
        assert spark_scheds[e] == oracle_run.schedules[e], f"epoch {e} order mismatch"


def test_seen_set_parity(spark, crawl_run, oracle_run):
    cat, _ = crawl_run
    seen = cat.read_delta_union("seen", N_EPOCHS - 1)
    spark_seen = {r["url_norm"] for r in seen.collect()}
    assert spark_seen == oracle_run.seen


def test_counters_parity(crawl_run, oracle_run):
    _, counters = crawl_run
    for e in range(N_EPOCHS):
        got = counters[e]
        want = oracle_run.counters[e]
        assert got["urls_new"] == want["urls_new"], f"epoch {e} urls_new"
        assert got["urls_scheduled"] == want["urls_scheduled"], f"epoch {e} scheduled"
        assert got["urls_deferred"] == want["urls_deferred"], f"epoch {e} deferred"
        assert got["links_discovered"] == want["links_discovered"], f"epoch {e} links"


def test_deferred_rows_eventually_scheduled(crawl_run, oracle_run):
    """Deferral actually happened (budget small enough) and deferred rows
    re-entered later epochs."""
    _, counters = crawl_run
    assert any(c["urls_deferred"] > 0 for c in counters)
    # something got scheduled after epoch 0 (discovered or deferred re-entry)
    assert counters[1]["urls_scheduled"] > 0


def test_frontier_state_parity(crawl_run, oracle_run):
    """Resolved merge-on-read frontier (latest status_epoch per url_fp)
    matches the oracle's final per-URL statuses."""
    cat, _ = crawl_run
    got = {
        (r["url_norm"], r["status"])
        for r in cat.read_merged("frontier", N_EPOCHS - 1).collect()
    }
    want = {(n, row["status"]) for n, row in oracle_run.frontier.items()}
    assert got == want


def test_frontier_delta_is_touched_rows_only(spark, crawl_run):
    """The scale contract of the MERGE-shaped frontier: epoch E's partition
    holds exactly the rows E touched (one status_epoch==E outcome per url_fp,
    never status='pending'), NOT a rewrite of the accumulated table."""
    cat, counters = crawl_run
    for e in range(N_EPOCHS):
        delta = spark.read.parquet(cat._epoch_dir("frontier", e))
        rows = delta.collect()
        assert all(r["status_epoch"] == e for r in rows)
        assert all(r["status"] != "pending" for r in rows)
        fps = [r["url_fp"] for r in rows]
        assert len(fps) == len(set(fps))  # one outcome per url per epoch
        # bounded by epoch activity: scheduled + deferred snapshot + rejections
        n_sched = counters[e]["urls_scheduled"]
        assert len(rows) >= n_sched


def _check_telemetry(tele, must_have):
    """Sections partition the epoch's jobs and stages, and their walls fit
    inside the epoch's wall."""
    secs = tele["sections"]
    assert set(must_have) <= secs.keys(), sorted(secs)
    assert sum(s["jobs"] for s in secs.values()) == tele["jobs"]
    assert sum(s["stages"] for s in secs.values()) == tele["stages"]
    assert sum(s["wall_seconds"] for s in secs.values()) <= tele["wall_seconds"] + 1e-6


def test_epoch_telemetry_sections(crawl_run):
    """A plain run_epochs call (no env var, no benchmark) records per-section
    wall, jobs and stages; none of it reaches the manifest."""
    cat, counters = crawl_run
    for c in counters:
        tele = c["_telemetry"]
        assert tele["jobs"] > 0 and tele["stages"] >= tele["jobs"]
        _check_telemetry(tele, ("read_state", "ingest", "schedule", "stage_writes", "commit"))
        walls = tele["sections"]["stage_writes"]["table_wall_seconds"]
        assert {"seen", "frontier", "schedule"} <= walls.keys()
    for e in cat.read_manifest()["epochs"]:
        assert not {"_telemetry", "sections"} & e["counters"].keys()


def test_resume_round_trip(spark, pages_df, seeds_df, robots_df, tmp_path_factory, crawl_run):
    """Run 0..2 in one go vs run 0..1, reopen catalog, run 2 — identical."""
    cat_full, _ = crawl_run

    root2 = tmp_path_factory.mktemp("crawl_resume")
    cat2 = Catalog(spark, str(root2))
    E.run_epochs(spark, cat2, pages_df, seeds_df, robots_df, 2, CFG)
    # simulate a restart: new Catalog object over the same root
    cat2b = Catalog(spark, str(root2))
    assert cat2b.last_committed_epoch() == 1
    E.run_epochs(spark, cat2b, pages_df, seeds_df, robots_df, 1, CFG)

    assert _spark_schedules(cat2b, N_EPOCHS) == _spark_schedules(cat_full, N_EPOCHS)
    seen_a = {r["url_norm"] for r in cat_full.read_delta_union("seen", 2).collect()}
    seen_b = {r["url_norm"] for r in cat2b.read_delta_union("seen", 2).collect()}
    assert seen_a == seen_b
    # resolved frontier states identical
    fa = {(r["url_norm"], r["status"]) for r in cat_full.read_merged("frontier", 2).collect()}
    fb = {(r["url_norm"], r["status"]) for r in cat2b.read_merged("frontier", 2).collect()}
    assert fa == fb


def test_uncommitted_epoch_invisible(spark, pages_df, seeds_df, robots_df, tmp_path_factory):
    """Snapshot isolation: data staged without a manifest commit is unread."""
    root = tmp_path_factory.mktemp("crawl_iso")
    cat = Catalog(spark, str(root))
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 1, CFG)
    # stage epoch-1 data but do NOT commit
    df = spark.range(5).select(
        F.lit(99).cast("long").alias("url_fp"),
        F.lit("x").alias("url_norm"),
        F.lit("h").alias("host"),
        F.lit(1).alias("epoch"),
    )
    cat.stage("seen", 1, df)
    assert cat.last_committed_epoch() == 0
    seen = cat.read_delta_union("seen", 1)
    assert seen.filter(F.col("url_norm") == "x").count() == 0


def test_web_content_and_links_written(spark, crawl_run):
    cat, _ = crawl_run
    web_content = cat.read_delta_union("web_content", N_EPOCHS - 1)
    assert web_content.count() > 0
    assert web_content.filter(F.col("content_hash").isNull()).count() == 0
    links = cat.read_delta_union("links", N_EPOCHS - 1)
    assert links.count() > 0
    types = {r["link_type"] for r in links.select("link_type").distinct().collect()}
    assert "internal" in types and "external" in types


def test_web_content_keywords_match_reference_rule(spark, crawl_run, web):
    """web_content.keywords carries the per-doc top-20 keyword list
    (parser/app.py:426-442 -> indexer truncation [:20]): tokens len>3,
    de-stopworded, ordered by (freq desc, word asc). Recomputed per doc in
    plain Python from the page text."""
    import re
    from collections import Counter

    from webcrawler_spark.operators.textstats import STOPWORDS

    cat, _ = crawl_run
    rows = (
        cat.read_delta_union("web_content", N_EPOCHS - 1)
        .select("content", "keywords")
        .collect()
    )
    assert rows and all(r["keywords"] is not None for r in rows)

    def expected(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        counts = Counter(t for t in toks if len(t) > 3 and t not in STOPWORDS)
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return [w for w, _ in ranked[:20]]

    for r in rows[:50]:
        assert r["keywords"] == expected(r["content"])


def test_bloom_epoch_equivalence(spark, pages_df, seeds_df, robots_df, tmp_path_factory, crawl_run, oracle_run):
    """The persistent bloom prefilter is a pure optimization: with
    use_bloom=True the crawl order, seen set, and counters are identical
    (the anti-join stays authoritative; bloom FPs only skip work that the
    anti-join would skip anyway)."""
    from dataclasses import replace

    cfg_bloom = replace(CFG, use_bloom=True, bloom_buckets=8)
    root = tmp_path_factory.mktemp("crawl_bloom")
    cat = Catalog(spark, str(root))
    counters = E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, N_EPOCHS, cfg_bloom)

    assert _spark_schedules(cat, N_EPOCHS) == oracle_run.schedules
    seen = {r["url_norm"] for r in cat.read_delta_union("seen", N_EPOCHS - 1).collect()}
    assert seen == oracle_run.seen
    # the bloom snapshot exists and covers every bucket with data
    bloom = cat.read_snapshot("seen_bloom", N_EPOCHS - 1)
    assert bloom is not None and bloom.count() > 0
    # every committed fingerprint must probe positive (no false negatives)
    from webcrawler_spark.operators import dedup as D

    seen_df = cat.read_delta_union("seen", N_EPOCHS - 1)
    probed = D.bloom_might_contain(seen_df, bloom)
    assert probed.filter(~F.col("might_contain")).count() == 0


def test_cuckoo_epoch_equivalence(spark, pages_df, seeds_df, robots_df, tmp_path_factory, crawl_run, oracle_run):
    """The cuckoo prefilter variant (seen_filter='cuckoo') is, like the bloom,
    a pure optimization: identical crawl order, seen set, and counters (the
    anti-join stays authoritative). Additionally its snapshot probes every
    committed fingerprint positive (no false negatives)."""
    from dataclasses import replace

    cfg_ck = replace(CFG, use_bloom=True, seen_filter="cuckoo", bloom_buckets=8)
    root = tmp_path_factory.mktemp("crawl_cuckoo")
    cat = Catalog(spark, str(root))
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, N_EPOCHS, cfg_ck)

    assert _spark_schedules(cat, N_EPOCHS) == oracle_run.schedules
    seen = {r["url_norm"] for r in cat.read_delta_union("seen", N_EPOCHS - 1).collect()}
    assert seen == oracle_run.seen
    ck = cat.read_snapshot("seen_cuckoo", N_EPOCHS - 1)
    assert ck is not None and ck.count() > 0
    from webcrawler_spark.operators import cuckoo as CK

    seen_df = cat.read_delta_union("seen", N_EPOCHS - 1)
    probed = CK.cuckoo_might_contain(seen_df, ck)
    assert probed.filter(~F.col("might_contain")).count() == 0


def test_filter_enabled_mid_run_bootstraps_full_seen(spark, pages_df, seeds_df, robots_df, tmp_path_factory, oracle_run):
    """Enabling the tier-1 prefilter (or switching its kind) after epochs have
    run must build it from the FULL seen set, not just the current delta —
    otherwise later epochs bypass the exact anti-join on its false negatives."""
    from dataclasses import replace

    root = tmp_path_factory.mktemp("crawl_midrun_filter")
    cat = Catalog(spark, str(root))
    # epochs 0-1 with no prefilter at all
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 2, CFG)
    # epoch 2 with the cuckoo prefilter enabled mid-run
    cfg_ck = replace(CFG, use_bloom=True, seen_filter="cuckoo", bloom_buckets=8)
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 1, cfg_ck)

    from webcrawler_spark.operators import cuckoo as CK

    ck = cat.read_snapshot("seen_cuckoo", 2)
    assert ck is not None
    # EVERY committed fingerprint (incl. epochs 0-1) must probe positive
    seen_df = cat.read_delta_union("seen", 2)
    assert CK.cuckoo_might_contain(seen_df, ck).filter(~F.col("might_contain")).count() == 0
    # and the crawl itself still matches the oracle
    assert _spark_schedules(cat, N_EPOCHS) == oracle_run.schedules


def test_scrub_pii_masks_indexed_content(spark, tmp_path_factory):
    """cfg.scrub_pii masks emails/phones/IPs in web_content.content while
    content_hash stays computed on the unmasked text (dedup-invariant)."""
    body = (
        "contact me at alice@example.com or 12-345-678-9012 from host 10.0.0.7 "
        + "filler words " * 30
    )
    html = f"<html><head><title>t</title></head><body><p>{body}</p></body></html>"
    from webcrawler_spark.functions.htmllib import extract_text

    pages = spark.createDataFrame(
        [("http://pii.test/page", None, html.encode(), extract_text(html), "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = spark.createDataFrame(
        [("http://pii.test/page", 10, 0)], "url string, priority int, depth int"
    )
    robots = spark.createDataFrame(
        [("pii.test", [], [], 1.0)],
        "host string, allow_prefixes array<string>, "
        "disallow_prefixes array<string>, crawl_delay double",
    )

    outs = {}
    for flag in (False, True):
        root = tmp_path_factory.mktemp(f"pii_{flag}")
        cat = Catalog(spark, str(root))
        E.run_epochs(
            spark, cat, pages, seeds, robots, 1,
            CrawlConfig(epoch_seconds=60, scrub_pii=flag),
        )
        rows = cat.read_delta_union("web_content", 0).collect()
        assert len(rows) == 1
        outs[flag] = rows[0]

    raw, masked = outs[False], outs[True]
    assert "alice@example.com" in raw["content"]
    assert "alice@example.com" not in masked["content"]
    assert "<EMAIL>" in masked["content"]
    assert "<PHONE>" in masked["content"]
    assert "<IP>" in masked["content"]
    # dedup identity: same content_hash with scrubbing on or off
    assert raw["content_hash"] == masked["content_hash"]


def test_surt_clustered_writes_parity_and_file_order(
    spark, pages_df, seeds_df, robots_df, tmp_path_factory, crawl_run
):
    """cluster_by_surt=True (Iceberg SORT ORDER emulation) must not change
    crawl semantics — statuses/counters identical to the default run — and
    every written frontier/seen parquet file must be internally sorted by
    the surt key (what gives min/max-stat pruning its power)."""
    import glob

    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("crawl_surt")
    cat = Catalog(spark, str(root))
    cfg = CrawlConfig(epoch_seconds=6, hot_host_salt=2, cluster_by_surt=True)
    counters = E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, N_EPOCHS, cfg)

    base_cat, base_counters = crawl_run

    def _sem(cs):  # drop the non-semantic wall-clock/scheduler telemetry
        return [{k: v for k, v in c.items() if k != "_telemetry"} for c in cs]

    assert _sem(counters) == _sem(base_counters)

    # frontier state parity, ignoring the additive surt column
    def state(c):
        df = c.read_merged("frontier", N_EPOCHS - 1)
        return {
            (r["url_fp"], r["status"], r["status_epoch"])
            for r in df.select("url_fp", "status", "status_epoch").collect()
        }

    assert state(cat) == state(base_cat)

    # every written file is internally surt-sorted, and the column exists
    checked = 0
    for table in ("frontier", "seen"):
        for f in glob.glob(f"{root}/{table}/epoch=*/**/*.parquet", recursive=True):
            col = pq.read_table(f, columns=["surt"]).column("surt").to_pylist()
            assert col == sorted(col), f
            checked += 1 if col else 0
    assert checked > 0


def test_recrawl_revisit_loop(spark, pages_df, seeds_df, robots_df, tmp_path_factory):
    # opt-in adaptive recrawl: every fetched URL re-enters the deferred
    # queue at its banded revisit epoch; static pages stretch to the max
    # interval after their second (unchanged) fetch, and unchanged
    # re-fetches never re-index.
    cfg = CrawlConfig(epoch_seconds=60, hot_host_salt=2, recrawl=True)
    root = tmp_path_factory.mktemp("recrawl_loop")
    cat = Catalog(spark, str(root))
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 2, cfg)

    fetched0 = {
        r["url_norm"]
        for r in cat.read_delta_union("frontier", 0)
        .filter((F.col("status") == "fetched") & (F.col("status_epoch") == 0))
        .collect()
    }
    assert fetched0
    # epoch 0: single fetch -> optimistic band, revisit next epoch
    d0 = {
        r["url_norm"]: r["ready_epoch"]
        for r in cat.read_snapshot("deferred", 0)
        .filter(F.col("reason") == "recrawl")
        .collect()
    }
    assert set(d0) == fetched0 and set(d0.values()) == {1}

    # epoch 1: the revisits re-enter the pool and are re-fetched (budget is
    # ample); the synthetic web is static, so their second fetch observes
    # no change -> the next revisit stretches to the max interval
    sched1 = {
        r["url_norm"]
        for r in cat.read_delta_union("schedule", 1)
        .filter(F.col("epoch") == 1)
        .collect()
    }
    assert fetched0 <= sched1
    d1 = {
        r["url_norm"]: r["ready_epoch"]
        for r in cat.read_snapshot("deferred", 1)
        .filter(F.col("reason") == "recrawl")
        .collect()
    }
    refetched = fetched0 & set(d1)
    assert refetched
    assert all(d1[u] == 1 + cfg.recrawl_max_interval for u in refetched)

    state = {
        r["url_norm"]: (r["n_fetches"], r["n_changes"])
        for r in cat.read_snapshot("recrawl_state", 1).collect()
    }
    assert all(state[u] == (2, 0) for u in refetched)

    # unchanged re-fetches never re-index: one web_content row per URL
    dup_indexed = (
        cat.read_delta_union("web_content", 1)
        .groupBy("url_norm")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_indexed == 0


def test_global_budget_caps_schedule(
    spark, pages_df, seeds_df, robots_df, tmp_path_factory, crawl_run
):
    """cfg.global_budget keeps the EXACT top-k of the politeness schedule by
    (priority desc, url_norm asc) and defers the rest with
    reason='global_budget'."""
    base_cat, _ = crawl_run
    base_sched = base_cat.read_delta_union("schedule", 0).filter(F.col("epoch") == 0)
    n_base = base_sched.count()
    assert n_base >= 3
    k = n_base - 2

    root = tmp_path_factory.mktemp("crawl_gb")
    cat = Catalog(spark, str(root))
    cfg = CrawlConfig(epoch_seconds=6, hot_host_salt=2, global_budget=k)
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 1, cfg)

    sched = cat.read_delta_union("schedule", 0)
    assert sched.count() == k
    expected = {
        r["url_norm"]
        for r in base_sched.orderBy(F.desc("priority"), F.asc("url_norm"))
        .limit(k)
        .collect()
    }
    assert {r["url_norm"] for r in sched.collect()} == expected

    deferred = cat.read_delta_union("deferred", 0)
    bumped = deferred.filter(F.col("reason") == "global_budget")
    assert bumped.count() == n_base - k
    # bumped rows re-enter next epoch
    assert bumped.filter(F.col("ready_epoch") == 1).count() == n_base - k


def test_global_budget_host_rank_steering(spark):
    """With a host-rank boost, the better-linked host wins the capacity
    fight between equal-priority hosts (PageRank-ordered crawling)."""
    cols = [
        "url", "url_norm", "url_fp", "host", "path", "priority", "depth",
        "source_url", "discovered_epoch", "attempts",
    ]
    rows = []
    for h in ("aaa.com", "bbb.com"):
        for i in range(2):
            u = f"https://{h}/p{i}"
            rows.append((u, u, hash(u), h, f"/p{i}", 5, 1, None, 0, 0))
    sched = spark.createDataFrame(
        rows,
        "url string, url_norm string, url_fp long, host string, path string,"
        " priority int, depth int, source_url string, discovered_epoch int,"
        " attempts int",
    )
    links = spark.createDataFrame(
        [(f"https://ccc{i}.com/x", "https://bbb.com/y") for i in range(5)]
        + [("https://ccc0.com/x", "https://aaa.com/y")],
        "source_url string, target_url string",
    )
    cfg = CrawlConfig(global_budget=2, host_rank_weight=100.0)
    kept, bumped = E.apply_global_budget(
        sched, links, 1, cfg, cols + ["ready_epoch", "reason"]
    )
    assert {r["host"] for r in kept.collect()} == {"bbb.com"}
    assert {r["host"] for r in bumped.collect()} == {"aaa.com"}
    assert {r["reason"] for r in bumped.collect()} == {"global_budget"}
    # the OPIC ranker is a drop-in alternative: the better-linked host
    # still wins the same capacity fight
    cfg_o = CrawlConfig(
        global_budget=2, host_rank_weight=100.0, host_rank_algo="opic"
    )
    kept_o, bumped_o = E.apply_global_budget(
        sched, links, 1, cfg_o, cols + ["ready_epoch", "reason"]
    )
    assert {r["host"] for r in kept_o.collect()} == {"bbb.com"}
    assert {r["host"] for r in bumped_o.collect()} == {"aaa.com"}


def test_trap_defense_rejects_suspect_hosts(spark, pages_df, seeds_df, robots_df, tmp_path_factory):
    """cfg.detect_traps drops whole trap-shaped hosts from the pending pool
    before scheduling; clean hosts are untouched; off by default."""
    from webcrawler_spark.operators import dedup as D

    # seeds: a trap host (one dominant digit template, > min_urls URLs) and
    # the normal synthetic-web seeds
    trap_urls = [
        (f"https://trap.example.com/cal/{2000 + i}/{i % 12}/{i % 28}", 5, 0)
        for i in range(30)
    ]
    seeds_plus = seeds_df.unionByName(
        spark.createDataFrame(trap_urls, "url string, priority int, depth int")
    )
    root = tmp_path_factory.mktemp("crawl_trap")
    cat = Catalog(spark, str(root))
    cfg = CrawlConfig(epoch_seconds=6, hot_host_salt=2, detect_traps=True)
    E.run_epochs(spark, cat, pages_df, seeds_plus, robots_df, 1, cfg)

    sched = cat.read_delta_union("schedule", 0)
    hosts = {r["host"] for r in sched.select("host").distinct().collect()}
    assert not any("trap.example.com" in h for h in hosts)
    assert len(hosts) > 0  # normal hosts still scheduled
    fr = cat.read_merged("frontier", 0)
    trap_rows = fr.filter(F.col("url_norm").contains("trap.example.com"))
    assert {r["status"] for r in trap_rows.collect()} == {"rejected"}
    assert trap_rows.count() == 30


def test_strip_tracking_collapses_campaign_variants(
    spark, pages_df, seeds_df, robots_df, tmp_path_factory
):
    """cfg.strip_tracking: seeds differing only in utm/click-id params
    collapse to one frontier row (one url_fp, one schedule slot)."""
    extra = [
        ("https://camp.example.com/landing?utm_source=a&utm_campaign=x", 5, 0),
        ("https://camp.example.com/landing?utm_source=b", 5, 0),
        ("https://camp.example.com/landing?fbclid=zzz", 5, 0),
        ("https://camp.example.com/landing", 5, 0),
        ("https://camp.example.com/other?gclid=1&page=2", 5, 0),
    ]
    seeds_plus = seeds_df.unionByName(
        spark.createDataFrame(extra, "url string, priority int, depth int")
    )
    root = tmp_path_factory.mktemp("crawl_striptrk")
    cat = Catalog(spark, str(root))
    cfg = CrawlConfig(epoch_seconds=6, hot_host_salt=2, strip_tracking=True)
    E.run_epochs(spark, cat, pages_df, seeds_plus, robots_df, 1, cfg)
    seen = cat.read_delta_union("seen", 0)
    camp = [r["url_norm"] for r in seen.collect() if "camp.example.com" in r["url_norm"]]
    # 4 landing variants -> 1 row; the ?page=2 survivor keeps its real param
    assert sorted(camp) == [
        "https://camp.example.com/landing",
        "https://camp.example.com/other?page=2",
    ]


def test_all_optin_features_compose(spark, pages_df, seeds_df, robots_df, tmp_path_factory):
    """Every beyond-reference CrawlConfig flag enabled at once: the epoch
    loop runs, counters are sane, and the whole crawl is deterministic
    (two runs → identical counters and frontier state)."""
    cfg = CrawlConfig(
        epoch_seconds=6,
        hot_host_salt=2,
        use_bloom=True,
        cluster_by_surt=True,
        strip_tracking=True,
        detect_traps=True,
        global_budget=50,
        use_host_rank=True,
        scrub_pii=True,
        compact_every=2,
        respect_meta_robots=True,
        respect_canonical=True,
        politeness_by_registrable=True,
        build_index=True,
        recrawl=True,
        adaptive_salt=True,
        mine_dust=True,
        detect_soft404=True,
        collapse_mirrors=True,
        # synth URLs carry no structural language hints, so this gate is a
        # proven no-op here — included to pin composition
        target_langs=("en", "de", "fr", "es"),
    )

    def run(tag):
        root = tmp_path_factory.mktemp(tag)
        cat = Catalog(spark, str(root))
        counters = E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 3, cfg)
        # maintenance is telemetry sections too (compact_every=2: epoch 1)
        for c in counters:
            _check_telemetry(c["_telemetry"], ("ingest", "mine_mirrors", "mine_dust"))
        assert "compact" in counters[1]["_telemetry"]["sections"]
        # _telemetry (wall clock, scheduler ids) is explicitly non-semantic;
        # everything else must be a deterministic function of the inputs
        counters = [
            {k: v for k, v in c.items() if k != "_telemetry"} for c in counters
        ]
        state = {
            (r["url_fp"], r["status"])
            for r in cat.read_merged("frontier", 2).select("url_fp", "status").collect()
        }
        return counters, state

    c1, s1 = run("optin_a")
    c2, s2 = run("optin_b")
    assert c1 == c2 and s1 == s2
    assert sum(c["urls_scheduled"] for c in c1) > 0
    assert all(c["urls_scheduled"] <= 50 for c in c1)  # global budget binds
    assert sum(c["pages_fetched"] for c in c1) > 0


def test_respect_meta_robots_gates_index_and_links(spark, tmp_path_factory):
    """cfg.respect_meta_robots: noindex pages fetch but never reach
    web_content; nofollow pages index but contribute no discovered links;
    content="none" does both. Off (default) = reference parity: every page
    indexes and every link discovers."""
    from webcrawler_spark.functions.htmllib import extract_text

    def page(path, meta, link):
        body = f'<a href="http://mr.test/{link}">next</a><p>{f"unique words for page {path} " * 40}</p>'
        html = f'<html><head><title>{path}</title>{meta}</head><body>{body}</body></html>'
        return (f"http://mr.test/{path}", None, html.encode(), extract_text(html), "en")

    pages = spark.createDataFrame(
        [
            page("a", "", "from-a"),
            page("b", '<meta name="robots" content="nofollow">', "from-b"),
            page("c", '<meta name="robots" content="noindex">', "from-c"),
            page("d", '<meta name="robots" content="none">', "from-d"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = spark.createDataFrame(
        [(f"http://mr.test/{p}", 10, 0) for p in "abcd"],
        "url string, priority int, depth int",
    )
    robots = spark.createDataFrame(
        [("mr.test", [], [], 1.0)],
        "host string, allow_prefixes array<string>, "
        "disallow_prefixes array<string>, crawl_delay double",
    )

    out = {}
    for flag in (False, True):
        root = tmp_path_factory.mktemp(f"mr_{flag}")
        cat = Catalog(spark, str(root))
        E.run_epochs(
            spark, cat, pages, seeds, robots, 1,
            CrawlConfig(epoch_seconds=60, respect_meta_robots=flag),
        )
        indexed = {
            r["url_norm"] for r in cat.read_delta_union("web_content", 0).collect()
        }
        links = cat.read_delta_union("links", 0)
        targets = {r["target_url"] for r in links.collect()} if links is not None else set()
        out[flag] = (indexed, targets)

    def paths(urls):
        return {u.rsplit("/", 1)[-1] for u in urls}

    idx_off, tgt_off = out[False]
    idx_on, tgt_on = out[True]
    assert paths(idx_off) == set("abcd")
    assert {f"from-{p}" for p in "abcd"} <= paths(tgt_off)
    # flag on: noindex (c) and none (d) drop from the index; nofollow (b)
    # and none (d) contribute no links
    assert paths(idx_on) == {"a", "b"}
    assert {"from-a", "from-c"} <= paths(tgt_on)
    assert "from-b" not in paths(tgt_on)
    assert "from-d" not in paths(tgt_on)


def test_respect_canonical_gates_index_and_discovers_target(spark, tmp_path_factory):
    """cfg.respect_canonical: a page declaring a canonical target other than
    itself fetches and its links are followed, but it never reaches
    web_content, and the declared target enters link discovery even when no
    <a> points at it. Self-canonical pages stay indexed even when the
    declared href is the pre-normalization form (http://, www., tracking
    params). Off (default) = reference parity: every page indexes and
    canonical targets are not discovered."""
    from webcrawler_spark.functions.htmllib import extract_text

    def page(path, canon, link):
        head = f'<title>{path}</title>'
        if canon:
            head += f'<link rel="canonical" href="{canon}">'
        body = (
            f'<a href="http://cn.test/{link}">next</a>'
            f'<p>{f"unique words for page {path} " * 40}</p>'
        )
        html = f"<html><head>{head}</head><body>{body}</body></html>"
        return (f"http://cn.test/{path}", None, html.encode(), extract_text(html), "en")

    pages = spark.createDataFrame(
        [
            page("a", None, "from-a"),
            # alias of a: absolute already-normalized form
            page("b", "https://cn.test/a", "from-b"),
            # self-canonical declared in pre-normalization form
            page("c", "http://www.cn.test/c?utm_source=x", "from-c"),
            # alias via root-relative href; target has no <a> pointing at it
            page("d", "/canon-d", "from-d"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = spark.createDataFrame(
        [(f"http://cn.test/{p}", 10, 0) for p in "abcd"],
        "url string, priority int, depth int",
    )
    robots = spark.createDataFrame(
        [("cn.test", [], [], 1.0)],
        "host string, allow_prefixes array<string>, "
        "disallow_prefixes array<string>, crawl_delay double",
    )

    def paths(urls):
        return {u.rsplit("/", 1)[-1] for u in urls}

    out = {}
    for flag in (False, True):
        root = tmp_path_factory.mktemp(f"cn_{flag}")
        cat = Catalog(spark, str(root))
        E.run_epochs(
            spark, cat, pages, seeds, robots, 2,
            CrawlConfig(epoch_seconds=60, respect_canonical=flag),
        )
        indexed = {
            r["url_norm"] for r in cat.read_delta_union("web_content", 1).collect()
        }
        links = cat.read_delta_union("links", 1)
        rows = links.collect() if links is not None else []
        out[flag] = (indexed, rows, cat)

    idx_off, rows_off, cat_off = out[False]
    idx_on, rows_on, cat_on = out[True]
    # flag off = reference parity: all four pages index; the canonical link
    # rows sit in the links table (link_type='canonical') but never reach
    # the frontier
    assert paths(idx_off) == set("abcd")
    assert "canonical" in {r["link_type"] for r in rows_off}
    f_off = cat_off.read_merged("frontier", 1)
    assert f_off.filter(F.col("url_norm").contains("canon-d")).count() == 0
    # flag on: aliases b and d drop from the index; a and c (self) stay —
    # c declared its pre-normalization form (http://www., utm param)
    assert paths(idx_on) == {"a", "c"}
    tgt_on = {r["target_url"] for r in rows_on}
    # alias pages still contribute their <a> links...
    assert {f"from-{p}" for p in "abcd"} <= paths(tgt_on)
    # ...and their declared canonical targets were extracted for discovery
    canon_on = {
        r["target_url"] for r in rows_on if r["link_type"] == "canonical"
    }
    assert any("canon-d" in t for t in canon_on)
    # the declared target entered the next epoch's frontier as a candidate
    f_on = cat_on.read_merged("frontier", 1)
    assert f_on.filter(F.col("url_norm").contains("canon-d")).count() == 1


def test_build_index_maintains_postings(spark, pages_df, seeds_df, robots_df, tmp_path_factory):
    """cfg.build_index: the union of per-epoch postings deltas equals a
    fresh index built over the accumulated web_content — per-epoch index
    maintenance is exact, never a rebuild."""
    from webcrawler_spark.operators import postings as PO

    root = tmp_path_factory.mktemp("crawl_index")
    cat = Catalog(spark, str(root))
    E.run_epochs(
        spark, cat, pages_df, seeds_df, robots_df, 3,
        CrawlConfig(epoch_seconds=6, hot_host_salt=2, build_index=True),
    )
    acc = cat.read_delta_union("postings", 2)
    assert acc is not None
    web = cat.read_delta_union("web_content", 2).select(
        F.col("url_norm").alias("doc_id"), F.col("content").alias("text")
    )
    fresh = PO.build_postings(web, "text", "doc_id")
    a = {(r["word"], r["doc_id"], r["tf"]) for r in acc.collect()}
    b = {(r["word"], r["doc_id"], r["tf"]) for r in fresh.collect()}
    assert a == b and len(a) > 0
    # and the index answers BM25 without touching web_content text
    dl = PO.doc_lengths(web, "text", "doc_id")
    hits = PO.postings_bm25(acc, dl, ["analysis", "engine"], k=5).collect()
    assert len(hits) > 0


def test_recrawl_sitemap_hints_first_revisit(
    spark, pages_df, seeds_df, robots_df, tmp_path_factory
):
    """sitemap_hints wiring: a URL whose sitemap declares a slow changefreq
    gets its FIRST revisit at the declared interval (hours -> epochs via
    cfg.epoch_seconds) instead of the optimistic next-epoch band; un-hinted
    URLs keep the optimistic band."""
    cfg = CrawlConfig(epoch_seconds=3600, hot_host_salt=2, recrawl=True)
    root = tmp_path_factory.mktemp("recrawl_hints")
    cat = Catalog(spark, str(root))

    # hint every URL of one synthetic host as weekly (168h); with 1h epochs
    # that is ceil(168) = 168, clamped to recrawl_max_interval = 8
    from webcrawler_spark.operators.dedup import canonicalize

    all_urls = canonicalize(
        pages_df.select(F.col("url"), F.lit(None).cast("string").alias("source_url"),
                        F.lit(0).alias("depth"), F.lit(5).alias("source_priority"))
    ).select("url_norm", "host")
    hinted_host = all_urls.select("host").orderBy("host").first()["host"]
    hints = (
        all_urls.filter(F.col("host") == hinted_host)
        .select("url_norm", F.lit(168.0).alias("interval_hours"))
    )
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 1, cfg,
                 sitemap_hints=hints)

    d0 = {
        (r["url_norm"], r["host"]): r["ready_epoch"]
        for r in cat.read_snapshot("deferred", 0)
        .filter(F.col("reason") == "recrawl")
        .collect()
    }
    assert d0
    hinted = {k: v for k, v in d0.items() if k[1] == hinted_host}
    plain = {k: v for k, v in d0.items() if k[1] != hinted_host}
    assert hinted and set(hinted.values()) == {cfg.recrawl_max_interval}
    assert plain and set(plain.values()) == {1}


def test_detect_soft404_gates_index_and_links(spark, tmp_path_factory):
    """Soft-404 defense (CrawlConfig.detect_soft404): a host answering many
    paths with one short body — those fetches must not enter web_content and
    must not expand links; everything else is untouched."""
    from datetime import datetime, timezone

    from webcrawler_spark.functions.htmllib import extract_text

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def page(url, title, para, links):
        anchors = "\n".join(f'<a href="{t}">go</a>' for t in links)
        html = (
            f"<html><head><title>{title}</title></head><body>"
            f"<p>{para}</p>{anchors}</body></html>"
        )
        return (url, ts, html.encode(), extract_text(html), "en")

    rows = []
    real_para = "real page body with plenty of distinct words %d " + "pad " * 40
    for i in range(12):
        rows.append(
            page(
                f"https://err.com/real-{i}",
                f"Real {i}",
                real_para % i,
                [f"https://err.com/real-link-{i}"],
            )
        )
    for i in range(8):
        # identical TEXT (the hash input) but a distinct href each — the
        # error template's nav link must never be discovered with the gate on
        rows.append(
            page(
                f"https://err.com/missing-{i}",
                "Not Found",
                "sorry this page does not exist on err dot com",
                [f"https://err.com/from-error-{i}"],
            )
        )
    pages_df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    seeds_df = spark.createDataFrame(
        [(r[0], 5, 0) for r in rows], "url string, priority int, depth int"
    )

    def run(tag, on):
        cfg = CrawlConfig(epoch_seconds=60, detect_soft404=on, soft404_min_count=5)
        cat = Catalog(spark, str(tmp_path_factory.mktemp(tag)))
        counters = E.run_epochs(spark, cat, pages_df, seeds_df, None, 1, cfg)
        web = cat.read_delta_union("web_content", 0)
        texts = {r["content"][:9] for r in web.select("content").collect()}
        links = cat.read_delta_union("links", 0)
        targets = {r["target_url"] for r in links.select("target_url").collect()}
        return counters, texts, targets, web.count()

    c_on, t_on, g_on, n_on = run("s404_on", True)
    c_off, t_off, g_off, n_off = run("s404_off", False)

    assert c_on[0]["soft404_dropped"] == 8
    assert n_on == 12 and not any(s.startswith("Not Found") for s in t_on)
    assert not any("from-error" in t for t in g_on)
    assert all(any(f"real-link-{i}" in t for t in g_on) for i in range(12))
    # gate off: the (deduped) template body indexes once, its link leaks in
    assert "soft404_dropped" not in c_off[0]
    assert n_off == 13
    assert any("from-error" in t for t in g_off)


def test_target_langs_gate(spark, tmp_path):
    """Focused-language crawl: URLs structurally declaring a non-target
    language never enter the frontier; hint-less URLs crawl normally."""
    from datetime import datetime, timezone

    from webcrawler_spark.functions.htmllib import extract_text
    from webcrawler_spark.storage.catalog import Catalog

    host = "site.test"
    de_url, fr_url = f"https://{host}/de/a", f"https://{host}/fr/b"
    root_html = (
        f'<html lang="en"><body><a href="{de_url}">A</a>'
        f'<a href="{fr_url}">B</a> root body text here</body></html>'
    )
    def leaf(tag):
        return ('<html lang="en"><body>' + (f"{tag} page body words ") * 12
                + "</body></html>")

    de_html, fr_html = leaf("de unique"), leaf("fr autre")
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        [
            (f"https://{host}/", ts, root_html.encode(), extract_text(root_html), "en"),
            (de_url, ts, de_html.encode(), extract_text(de_html), "de"),
            (fr_url, ts, fr_html.encode(), extract_text(fr_html), "fr"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = spark.createDataFrame(
        [(f"https://{host}/", 10, 0)], "url string, priority int, depth int"
    )
    robots = spark.createDataFrame(
        [(host, [], [], 0.1, 0)],
        "host string, allow_prefixes array<string>, "
        "disallow_prefixes array<string>, crawl_delay double, fetched_epoch int",
    )
    cfg = CrawlConfig(epoch_seconds=60, hot_host_salt=2,
                      target_langs=("de", "en"))
    cat = Catalog(spark, str(tmp_path / "langcat"))
    E.run_epochs(spark, cat, pages, seeds, robots, 2, cfg)
    frontier = cat.read_merged("frontier", 1)
    urls = {r["url_norm"]: r["status"] for r in frontier.collect()}
    assert any(u.endswith("/de/a") for u in urls)            # target fetched
    assert not any("/fr/" in u for u in urls)                # gated pre-frontier
    content = cat.read_delta_union("web_content", 1)
    fetched = {r["url_norm"] for r in content.select("url_norm").collect()}
    assert any(u.endswith("/de/a") for u in fetched)
    assert not any("/fr/" in u for u in fetched)

    # gate off -> the fr page crawls (parity: the gate is opt-in)
    cat2 = Catalog(spark, str(tmp_path / "langcat2"))
    E.run_epochs(spark, cat2, pages, seeds, robots, 2,
                 CrawlConfig(epoch_seconds=60, hot_host_salt=2))
    fetched2 = {r["url_norm"] for r in
                cat2.read_delta_union("web_content", 1).select("url_norm").collect()}
    assert any("/fr/" in u for u in fetched2)
