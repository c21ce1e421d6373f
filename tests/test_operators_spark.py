"""Spark-side operator tests: canonicalize UDF parity, bloom + anti-join
dedup, scheduler budget/robots/ordering, content dedup, fuzzy dedup."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.functions import columns as C
from webcrawler_spark.functions import urlnorm
from webcrawler_spark.operators import dedup as D
from webcrawler_spark.operators import scheduler as S


# ---- canonicalize UDF == pure-python core -------------------------------------


def test_canonicalize_udf_parity(spark, web):
    urls = [p["url"] for p in web["pages"]][:50] + [
        "http://EXAMPLE.COM/Path/",
        "https://www.example.com:443/page?b=2&a=1&utm_source=x",
        "https://example.com/img.png",
        "bad",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {r["url"]: (r["url_norm"], r["host"]) for r in D.canonicalize(df).collect()}
    for u in urls:
        expected = urlnorm.normalize_url(u)
        if expected is None:
            assert u not in got
        else:
            assert got[u][0] == expected
            assert got[u][1] == urlnorm.extract_host(expected)


def test_priority_column_parity(spark):
    urls = [
        "https://example.com/",
        "https://example.com/news",
        "https://example.com/archive/x",
        "https://example.com/deep/a/b/c",
        "https://example.com/blog/post-7",
        "https://example.com/tag/topic-3",
        "https://example.com/x?page=2",
    ]
    rows = [(u, d, sp) for u in urls for d in (0, 2, 20) for sp in (0, 10)]
    df = spark.createDataFrame(rows, ["url", "depth", "source_priority"])
    out = df.withColumn(
        "p", C.url_priority(F.col("url"), F.col("depth"), F.col("source_priority"))
    ).collect()
    for r in out:
        assert r["p"] == urlnorm.url_priority(r["url"], r["depth"], r["source_priority"]), r


# ---- dedup -----------------------------------------------------------------------


def _cand_df(spark, fps):
    return spark.createDataFrame([Row(url_fp=f, url_norm=f"u{f}", host="h") for f in fps])


def test_anti_join_dedup(spark):
    seen = _cand_df(spark, [1, 2, 3])
    cands = _cand_df(spark, [2, 3, 4, 5])
    out = D.dedupe_new_urls(cands, seen)
    assert sorted(r["url_fp"] for r in out.collect()) == [4, 5]


def test_bloom_no_false_negatives_and_fp_rate(spark):
    import random

    rng = random.Random(7)
    seen_fps = [rng.getrandbits(63) for _ in range(5000)]
    seen = spark.createDataFrame([Row(url_fp=f) for f in seen_fps])
    bloom = D.build_bloom(seen, n_buckets=8, capacity=10000, fp_rate=0.001).cache()

    # every seen fp must hit (no false negatives)
    probe_seen = D.bloom_might_contain(
        spark.createDataFrame([Row(url_fp=f) for f in seen_fps[:1000]]), bloom
    )
    assert probe_seen.filter(~F.col("might_contain")).count() == 0

    # unseen fps should mostly miss (FP rate well under 1%)
    unseen = [rng.getrandbits(62) + (1 << 62) for _ in range(5000)]
    probe_unseen = D.bloom_might_contain(
        spark.createDataFrame([Row(url_fp=f) for f in unseen]), bloom
    )
    fp = probe_unseen.filter(F.col("might_contain")).count()
    assert fp / 5000 < 0.01, f"bloom FP rate too high: {fp}/5000"


def test_bloom_nonbroadcast_cogroup_path(spark):
    import random

    rng = random.Random(19)
    seen_fps = [rng.getrandbits(63) for _ in range(5000)]
    seen = spark.createDataFrame([Row(url_fp=f) for f in seen_fps])
    bloom = D.build_bloom(seen, n_buckets=8, capacity=10000, fp_rate=0.001).cache()

    probe_seen = D.bloom_might_contain(
        spark.createDataFrame([Row(url_fp=f) for f in seen_fps[:1000]]),
        bloom,
        broadcast_blobs=False,
    )
    assert probe_seen.filter(~F.col("might_contain")).count() == 0

    unseen = [rng.getrandbits(62) + (1 << 62) for _ in range(5000)]
    probe_unseen = D.bloom_might_contain(
        spark.createDataFrame([Row(url_fp=f) for f in unseen]),
        bloom,
        broadcast_blobs=False,
    )
    fp = probe_unseen.filter(F.col("might_contain")).count()
    assert fp / 5000 < 0.01, f"bloom FP rate too high: {fp}/5000"


def test_bucket_remix_spreads_skewed_fps(spark):
    # all-even fps: raw pmod would land them in the even half of the
    # buckets only; the xxhash64 remix must spread them across all of them
    seen = spark.createDataFrame([Row(url_fp=2 * i) for i in range(8000)])
    bloom = D.build_bloom(seen, n_buckets=8, capacity=16000, fp_rate=0.001)
    per_bucket = {r["bucket"]: 1 for r in bloom.select("bucket").collect()}
    assert len(per_bucket) == 8, f"skewed fps occupied only {sorted(per_bucket)}"
    probe = D.bloom_might_contain(seen, bloom)
    assert probe.filter(~F.col("might_contain")).count() == 0


def test_two_tier_equals_exact(spark):
    import random

    rng = random.Random(11)
    seen_fps = [rng.getrandbits(63) for _ in range(2000)]
    cand_fps = seen_fps[:500] + [rng.getrandbits(63) for _ in range(1500)]
    seen = spark.createDataFrame([Row(url_fp=f, url_norm=f"u{f}", host="h") for f in seen_fps])
    cands = spark.createDataFrame([Row(url_fp=f, url_norm=f"u{f}", host="h") for f in cand_fps])
    bloom = D.build_bloom(seen, n_buckets=4, capacity=4000, fp_rate=0.001)
    with_bloom = sorted(r["url_fp"] for r in D.dedupe_new_urls(cands, seen, bloom=bloom).collect())
    without = sorted(r["url_fp"] for r in D.dedupe_new_urls(cands, seen).collect())
    assert with_bloom == without


def test_content_dedup(spark):
    docs = spark.createDataFrame(
        [
            Row(url="https://a.com/1", content_hash="h1"),
            Row(url="https://a.com/2", content_hash="h1"),
            Row(url="https://b.com/3", content_hash="h2"),
        ]
    )
    out = {r["url"]: (r["action"], r["original_url"]) for r in D.content_dedup(docs).collect()}
    assert out["https://a.com/1"] == ("indexed", None)
    assert out["https://a.com/2"] == ("deduplicated", "https://a.com/1")
    assert out["https://b.com/3"] == ("indexed", None)


def test_fuzzy_dedupe(spark):
    seen = spark.createDataFrame(
        [Row(url_fp=1, url_norm="https://example.com/page1", host="example.com", epoch=0)]
    )
    cands = spark.createDataFrame(
        [
            Row(url_fp=2, url_norm="https://example.com/page-1", host="example.com"),
            Row(url_fp=3, url_norm="https://example.com/totally/different/zzz", host="example.com"),
            Row(url_fp=4, url_norm="https://other.com/page-1", host="other.com"),
        ]
    )
    out = sorted(r["url_fp"] for r in D.fuzzy_dedupe(cands, seen).collect())
    # page-1 is a fuzzy dup (>=85); different path and different host survive
    assert out == [3, 4]


# ---- scheduler --------------------------------------------------------------------


_PENDING_SCHEMA = (
    "url string, url_norm string, url_fp long, host string, path string, "
    "priority int, depth int, source_url string, discovered_epoch int, attempts int"
)


def _pending_df(spark, rows):
    return spark.createDataFrame(
        [
            (
                u,
                u,
                hash(u),
                h,
                "/" + u.split("/", 3)[-1] if u.count("/") > 2 else "/",
                p,
                0,
                None,
                e,
                a,
            )
            for (u, h, p, e, a) in rows
        ],
        _PENDING_SCHEMA,
    )


def test_scheduler_budget_and_order(spark):
    cfg = CrawlConfig(epoch_seconds=3, hot_host_salt=1)  # budget 3/host @ delay 1.0
    rows = [(f"https://h1.com/p{i}", "h1.com", 50 + i, 0, 0) for i in range(5)]
    rows += [(f"https://h2.com/p{i}", "h2.com", 10, 0, 0) for i in range(2)]
    pending = _pending_df(spark, rows)
    schedule, deferred, rejected = S.schedule_epoch(pending, None, None, epoch=0, cfg=cfg)
    sched = schedule.orderBy("host", "rank_in_host").collect()
    h1 = [r for r in sched if r["host"] == "h1.com"]
    assert [r["url"] for r in h1] == [
        "https://h1.com/p4",
        "https://h1.com/p3",
        "https://h1.com/p2",
    ]  # priority desc
    assert [r["rank_in_host"] for r in h1] == [1, 2, 3]
    assert deferred.count() == 2  # p0,p1 overflow
    d = deferred.collect()[0]
    assert d["ready_epoch"] == 1 and d["attempts"] == 1 and d["reason"] == "politeness_budget"
    assert rejected.count() == 0


def test_scheduler_salted_equals_unsalted(spark):
    cfg_plain = CrawlConfig(epoch_seconds=4, hot_host_salt=1)
    cfg_salted = CrawlConfig(epoch_seconds=4, hot_host_salt=4)
    rows = [(f"https://hot.com/p{i:03d}", "hot.com", i % 7, 0, 0) for i in range(60)]
    pending = _pending_df(spark, rows)
    a, _, _ = S.schedule_epoch(pending, None, None, 0, cfg_plain)
    b, _, _ = S.schedule_epoch(pending, None, None, 0, cfg_salted)
    ka = [(r["host"], r["rank_in_host"], r["url_norm"]) for r in a.orderBy("host", "rank_in_host").collect()]
    kb = [(r["host"], r["rank_in_host"], r["url_norm"]) for r in b.orderBy("host", "rank_in_host").collect()]
    assert ka == kb


def test_scheduler_salted_equals_unsalted_hot_and_cold(spark):
    # one hot host (60 rows) + many cold hosts (6 rows each, budget 4): the
    # two-phase salted plan must produce the identical schedule AND
    # deferred sets as the single-window unsalted plan, with overflow from
    # both the hot and the cold hosts.
    rows = [(f"https://hot.com/p{i:03d}", "hot.com", i % 7, 0, 0) for i in range(60)]
    for h in range(12):
        rows += [
            (f"https://cold{h}.com/p{i}", f"cold{h}.com", 9 - i, 0, 0)
            for i in range(6)  # 6 rows, budget 4 -> 2 defer per cold host
        ]
    pending = _pending_df(spark, rows)
    outs = []
    for salt in (1, 4):
        cfg = CrawlConfig(epoch_seconds=4, hot_host_salt=salt)
        sch, dfr, _ = S.schedule_epoch(pending, None, None, 0, cfg)
        outs.append((
            [(r["host"], r["rank_in_host"], r["url_norm"])
             for r in sch.orderBy("host", "rank_in_host").collect()],
            sorted(r["url_norm"] for r in dfr.collect()),
        ))
    assert outs[0] == outs[1]
    # and the salted plan deferred someone from both tiers
    assert any(u.startswith("https://hot.com") for u in outs[1][1])
    assert any(u.startswith("https://cold") for u in outs[1][1])


def test_scheduler_robots_gate(spark):
    cfg = CrawlConfig(hot_host_salt=1)
    pending = _pending_df(
        spark,
        [
            ("https://open.com/a", "open.com", 10, 0, 0),
            ("https://closed.com/a", "closed.com", 10, 0, 0),
            ("https://partial.com/private/x", "partial.com", 10, 0, 0),
            ("https://partial.com/public/x", "partial.com", 10, 0, 0),
        ],
    )
    robots = spark.createDataFrame(
        [
            Row(host="closed.com", disallow_prefixes=["/"], crawl_delay=1.0),
            Row(host="partial.com", disallow_prefixes=["/private"], crawl_delay=1.0),
        ]
    )
    schedule, _, rejected = S.schedule_epoch(pending, robots, None, 0, cfg)
    scheduled_urls = {r["url"] for r in schedule.collect()}
    assert scheduled_urls == {"https://open.com/a", "https://partial.com/public/x"}
    rej = {r["url"]: r["reject_reason"] for r in rejected.collect()}
    assert rej == {
        "https://closed.com/a": "robots_disallowed",
        "https://partial.com/private/x": "robots_disallowed",
    }


def test_scheduler_attempt_cap(spark):
    cfg = CrawlConfig(hot_host_salt=1)
    pending = _pending_df(spark, [("https://h.com/a", "h.com", 10, 0, 6)])
    schedule, deferred, rejected = S.schedule_epoch(pending, None, None, 0, cfg)
    assert schedule.count() == 0
    assert rejected.collect()[0]["reject_reason"] == "max_attempts"


def test_scheduler_crawl_delay_budget(spark):
    cfg = CrawlConfig(epoch_seconds=10, hot_host_salt=1)
    pending = _pending_df(
        spark, [(f"https://slow.com/p{i}", "slow.com", 10, 0, 0) for i in range(8)]
    )
    robots = spark.createDataFrame(
        [("slow.com", [], 5.0)],
        "host string, disallow_prefixes array<string>, crawl_delay double",
    )
    schedule, deferred, _ = S.schedule_epoch(pending, robots, None, 0, cfg)
    assert schedule.count() == 2  # floor(10/5)
    assert deferred.count() == 6


def test_shard_assignment_deterministic(spark):
    df = spark.createDataFrame([Row(host=f"h{i}.com") for i in range(100)])
    out = df.withColumn("s", C.shard_id(F.col("host"), 4))
    a = {r["host"]: r["s"] for r in out.collect()}
    b = {r["host"]: r["s"] for r in out.collect()}
    assert a == b
    assert set(a.values()) <= {0, 1, 2, 3}
    # reasonably balanced (hash-based)
    from collections import Counter

    counts = Counter(a.values())
    assert max(counts.values()) < 2.5 * min(counts.values())


# ---- fuzzy search (Q1 fuzziness AUTO, search-api/app.py:215) --------------------


def test_search_fuzzy_auto_bands():
    from webcrawler_spark.operators.search import fuzzy_auto_max_edits

    assert fuzzy_auto_max_edits("ab") == 0
    assert fuzzy_auto_max_edits("cat") == 1
    assert fuzzy_auto_max_edits("batch") == 1
    assert fuzzy_auto_max_edits("window") == 2


def test_search_fuzzy_matches_typos_and_respects_and(spark):
    from webcrawler_spark.operators.search import search_fuzzy

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the customer opened a window"),  # both, via typo
            Row(doc_id=2, text="customer only text here"),       # missing window
            Row(doc_id=3, text="a window with no buyer"),        # missing customer
            Row(doc_id=4, text="customer window customer"),      # both, exact-ish
        ]
    )
    # "custmer" is 1 edit from "customer" (len 7 -> budget 2);
    # "window" is 1 edit from "window" (len 6 -> budget 2).
    out = search_fuzzy(docs, ["custmer", "window"], "text", "doc_id", k=10)
    rows = {r["doc_id"]: r["score"] for r in out.collect()}
    assert set(rows) == {1, 4}  # operator AND drops 2 and 3
    # each term matched at distance 1 -> sim < 1 but > 0
    assert all(0 < s < 2.0 for s in rows.values())

    # short terms (len <= 2) get edit budget 0: "xy" must match exactly
    out2 = search_fuzzy(docs, ["xy"], "text", "doc_id", k=10)
    assert out2.count() == 0


def test_search_fuzzy_transpositions_es_auto(spark):
    """ES ``fuzziness: AUTO`` defaults ``transpositions: true`` (Damerau:
    an adjacent swap is ONE edit — search-api/app.py:210). 'teh' -> 'the'
    is distance 2 under classic Levenshtein (misses at budget 1, the
    default/oracle path) but distance 1 under OSA (hits)."""
    from webcrawler_spark.operators.search import search_fuzzy

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the quick fox"), Row(doc_id=2, text="den of foxes")]
    )
    # len("teh") = 3 -> AUTO budget 1
    assert search_fuzzy(docs, ["teh"], "text", "doc_id", k=5).count() == 0
    hits = search_fuzzy(
        docs, ["teh"], "text", "doc_id", k=5, transpositions=True
    ).collect()
    assert [r["doc_id"] for r in hits] == [1]
    # plain substitution typos behave identically under either distance:
    # "den" is 1 substitution from "ten" on both paths
    for t in (False, True):
        got = search_fuzzy(
            docs, ["ten"], "text", "doc_id", k=5, transpositions=t
        ).collect()
        assert {r["doc_id"] for r in got} == {2}


def test_search_fuzzy_exact_term_scores_one(spark):
    from webcrawler_spark.operators.search import search_fuzzy

    docs = spark.createDataFrame([Row(doc_id=1, text="batch batch stream")])
    out = search_fuzzy(docs, ["batch"], "text", "doc_id", k=5).collect()
    assert len(out) == 1 and abs(out[0]["score"] - 1.0) < 1e-9


# ---- PII scrubbing + repetition signals (training-data extensions) -------------


def test_pii_scrub_masks_and_counts(spark):
    from webcrawler_spark.operators import textstats as TS

    rows = [
        ("a@b.com and c.d+x@e.org meet", 2, 0, 0),
        ("call 12-345-678-9012 or 99-888-777-6666 now", 0, 2, 0),
        ("host 10.0.0.1 peer 255.255.255.255", 0, 0, 2),
        ("mixed a@b.co 12-345-678-9012 1.2.3.4", 1, 1, 1),
        ("no pii here", 0, 0, 0),
        # phone \b guard: 9 leading digits is not a phone
        ("123-456-789-0123", 0, 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t, *_ in rows], "text string")
    out = {r["text"]: r for r in TS.pii_scrub(df, "text").collect()}
    for text, ne, np_, ni in rows:
        r = out[text]
        assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (ne, np_, ni), text
        if ne:
            assert "<EMAIL>" in r["masked"] and "@" not in r["masked"]
        if np_:
            assert "<PHONE>" in r["masked"]
        if ni:
            assert "<IP>" in r["masked"]
    assert out["no pii here"]["masked"] == "no pii here"


def test_repetition_signals_integers(spark):
    from webcrawler_spark.operators import textstats as TS

    df = spark.createDataFrame(
        [("the the the cat cat extraordinarily",), ("",)], "text string"
    )
    got = (
        df.select(F.col("text"), *TS.repetition_signals(F.col("text")))
        .orderBy(F.desc("text"))
        .collect()
    )
    full = got[0]
    assert full["n_tokens"] == 6
    assert full["n_distinct"] == 3
    assert full["max_token_len"] == len("extraordinarily")
    assert full["n_stopwords"] == 3  # 'the' x3 (cat not a stopword)
    empty = got[1]
    assert (empty["n_tokens"], empty["n_distinct"], empty["max_token_len"]) == (0, 0, 0)


# ---- SURT key + mirror hosts ---------------------------------------------------


def _surt_py(url: str) -> str:
    """Independent Python reference for columns.surt_key (test oracle)."""
    import re

    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", url)
    host = (m.group(1) if m else "").lower()
    host = re.sub(r"^www\.", "", host)
    if re.fullmatch(r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", host):
        rev = host  # IPv4: not reversed (SURT convention)
    else:
        rev = ",".join(reversed(host.split(".")))
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", url)
    path = m.group(1) if m else ""
    return rev + ")" + (path or "/")


def test_surt_key_matches_python_reference(spark):
    from webcrawler_spark.functions import columns as C

    urls = [
        "https://www.Example.COM/Path/To?q=1#frag",
        "http://sub.a.b.example.org/",
        "https://example.com",
        "https://example.com:8080/p",
        "ftp://user:pw@Files.Example.net/pub/x.txt",
        "https://www.example.co.uk/A/B/C",
        "https://wwwx.example.com/keep-www-like-label",
        "http://single/",
        "https://deep.very.sub.example.io/MiXeD/Case?x=y",
        "http://192.168.10.1:8080/admin",
        "https://10.0.0.7/",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["surt"] for r in df.select("url", C.surt_key(F.col("url")).alias("surt")).collect()}
    for u in urls:
        assert got[u] == _surt_py(u), u
    # host + all subdomains share a single key prefix; unrelated hosts don't
    assert got["https://www.Example.COM/Path/To?q=1#frag"].startswith("com,example)")
    assert got["https://example.com"].startswith("com,example)")
    assert got["https://wwwx.example.com/keep-www-like-label"].startswith("com,example,wwwx)")
    # path case preserved, query dropped
    assert got["https://deep.very.sub.example.io/MiXeD/Case?x=y"] == "io,example,sub,very,deep)/MiXeD/Case"
    # IPv4 hosts keep octet order
    assert got["http://192.168.10.1:8080/admin"] == "192.168.10.1)/admin"


def test_surt_prefix_orders_host_subtree_contiguously(spark):
    from webcrawler_spark.functions import columns as C

    urls = [
        "https://a.example.com/1",
        "https://b.example.com/1",
        "https://example.com/1",
        "https://www.example.com/2",
        "https://example.net/1",
        "https://aexample.com/1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = sorted(r["surt"] for r in df.select(C.surt_key(F.col("url")).alias("surt")).collect())
    in_tree = [s for s in rows if s.startswith("com,example")]
    # the example.com subtree is one contiguous run in sorted key order
    lo = rows.index(in_tree[0])
    assert rows[lo:lo + len(in_tree)] == in_tree
    assert len(in_tree) == 4


def test_mirror_hosts_cap_and_jaccard(spark):
    from webcrawler_spark.operators.mirrors import mirror_hosts

    rows = []
    # boilerplate fp on 5 hosts -> excluded by cap=4
    for h in ["h1", "h2", "h3", "h4", "h5"]:
        rows.append((h, "boiler"))
    # h1/h2 mirror: share f1, f2; h1 also has f3 (and a duplicate row)
    rows += [("h1", "f1"), ("h1", "f1"), ("h2", "f1"), ("h1", "f2"),
             ("h2", "f2"), ("h1", "f3"), ("h3", "f9")]
    df = spark.createDataFrame(rows, "host string, content_fp string")
    out = {(r["host_a"], r["host_b"]): r for r in
           mirror_hosts(df, min_shared=2, max_hosts_per_fp=4).collect()}
    assert set(out) == {("h1", "h2")}
    r = out[("h1", "h2")]
    # sizes include the capped boilerplate fp (set sizes are per-host truth)
    assert r["shared"] == 2 and r["n_a"] == 4 and r["n_b"] == 3
    assert abs(r["jaccard"] - 2 / 5) < 1e-9


def test_anchor_text_index_topk_and_ties(spark):
    from webcrawler_spark.operators.links import anchor_text_index

    links = spark.createDataFrame(
        [
            ("t1", "Great Widgets"),
            ("t1", "great DEALS"),
            ("t1", "widgets!! deals"),
            ("t2", "only-one"),
            ("t3", ""),
        ],
        "target_url string, anchor_text string",
    )
    rows = {(r["target"], r["term"]): (r["freq"], r["rank"])
            for r in anchor_text_index(links, k=2).collect()}
    # t1: great=2, widgets=2, deals=2 -> top-2 by (freq desc, term asc)
    assert rows[("t1", "deals")] == (2, 1)
    assert rows[("t1", "great")] == (2, 2)
    assert ("t1", "widgets") not in rows
    assert rows[("t2", "one")] == (1, 1) and rows[("t2", "only")] == (1, 2)
    assert not any(t == "t3" for t, _ in rows)


def test_mirror_hosts_random_parity(spark):
    """Seeded random (host, fp) relation — pair/overlap/jaccard parity with
    a brute-force Python reference, cap applied on both sides."""
    import itertools
    import random

    rng = random.Random(99)
    rows = [
        (f"h{rng.randint(0, 11)}", f"f{rng.randint(0, 39)}") for _ in range(400)
    ]
    cap, min_shared = 6, 2
    sets = {}
    for h, fp in rows:
        sets.setdefault(h, set()).add(fp)
    fp_hosts = {}
    for h, fps in sets.items():
        for fp in fps:
            fp_hosts.setdefault(fp, set()).add(h)
    eligible = {fp for fp, hs in fp_hosts.items() if 2 <= len(hs) <= cap}
    expect = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        shared = len(sets[a] & sets[b] & eligible)
        if shared >= min_shared:
            ja = shared / (len(sets[a]) + len(sets[b]) - shared)
            expect[(a, b)] = (shared, len(sets[a]), len(sets[b]), round(ja, 6))

    from webcrawler_spark.operators.mirrors import mirror_hosts

    df = spark.createDataFrame(rows, "host string, content_fp string")
    got = {
        (r["host_a"], r["host_b"]): (r["shared"], r["n_a"], r["n_b"], r["jaccard"])
        for r in mirror_hosts(df, min_shared=min_shared, max_hosts_per_fp=cap).collect()
    }
    assert got == expect and len(expect) > 3


def test_trap_signals_flags(spark):
    from webcrawler_spark.operators.traps import trap_signals

    urls = []
    # good.com: 25 distinct authored-looking pages, varied templates
    for i in range(25):
        urls.append(f"https://good.com/{'abcde'[i % 5]}{i % 7}/page{i}x{i * 3}y")
    # loopy.com: 25 pages with repeated segments
    for i in range(25):
        urls.append(f"https://loopy.com/a/b/a/b/a/{i}")
    # gen.com: 25 pages, one digit template dominates
    for i in range(25):
        urls.append(f"https://gen.com/cal/{2000 + i}/{i % 12}/{i % 28}")
    # tiny.com: trap-shaped but below min_urls
    for i in range(5):
        urls.append(f"https://tiny.com/x/x/x/x/{i}")
    df = spark.createDataFrame([(u,) for u in urls], "url_norm string")
    out = {r["host"]: r for r in trap_signals(df, min_urls=20).collect()}
    assert not out["good.com"]["is_trap_suspect"]
    assert out["loopy.com"]["is_trap_suspect"] and out["loopy.com"]["n_repeat"] == 25
    assert out["gen.com"]["is_trap_suspect"]
    assert out["gen.com"]["top_template"] == "/cal/{n}/{n}/{n}"
    assert out["gen.com"]["top_template_share"] == 1.0
    assert not out["tiny.com"]["is_trap_suspect"]


def test_strip_tracking_params(spark):
    from webcrawler_spark.functions import columns as C

    cases = {
        "https://e.com/p?utm_source=x&utm_medium=y": "https://e.com/p",
        "https://e.com/p?utm_source=x&page=2": "https://e.com/p?page=2",
        "https://e.com/p?page=2&FBCLID=z&sort=asc": "https://e.com/p?page=2&sort=asc",
        "https://e.com/p?gclid=1": "https://e.com/p",
        "https://e.com/p?a=1&b=2": "https://e.com/p?a=1&b=2",
        "https://e.com/p": "https://e.com/p",
        "https://e.com/p?utmx=1": "https://e.com/p?utmx=1",  # not utm_ prefix
        "https://e.com/p?mc_cid=7&mc_eid=8&q=k": "https://e.com/p?q=k",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["clean"]
        for r in df.select(
            "url", C.strip_tracking_params(F.col("url")).alias("clean")
        ).collect()
    }
    assert got == cases


def test_phrase_count_positional_semantics(spark):
    from webcrawler_spark.operators.search import phrase_count, search_phrase

    rows = [
        (1, "new york is big; I love New York!"),      # 2 occurrences
        (2, "newark york road"),                        # adjacency, not substring
        (3, "new and york"),                            # not adjacent
        (4, "york new"),                                # wrong order
        (5, "new new york"),                            # 1 occurrence
        (6, ""),                                        # empty
        (7, "new"),                                     # shorter than phrase
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", phrase_count(F.col("text"), ["new", "york"]).alias("c")
        ).collect()
    }
    assert got == {1: 2, 2: 0, 3: 0, 4: 0, 5: 1, 6: 0, 7: 0}
    hits = search_phrase(df, "New-York", k=10).collect()
    assert [(r["doc_id"], r["phrase_freq"]) for r in hits] == [(1, 2), (5, 1)]


def test_significant_terms_jlh(spark):
    from webcrawler_spark.operators.search import significant_terms

    rows = (
        [(i, "spark", "apple banana unique" + str(i)) for i in range(5)]
        + [(i + 5, "other", "apple cherry filler" + str(i)) for i in range(15)]
    )
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    out = {r["term"]: r for r in significant_terms(
        df, F.col("source") == "spark", k=5, min_doc_count=3).collect()}
    # banana: fg 5/5 vs bg 5/20 -> strongly significant; apple: uniform -> score 0 (excluded)
    assert "banana" in out and "apple" not in out
    b = out["banana"]
    assert (b["fg_count"], b["bg_count"]) == (5, 5)
    fgp, bgp = 5 / 5, 5 / 20
    assert b["score"] == round((fgp - bgp) * (fgp / bgp), 6)


def test_more_like_this_and_collapse(spark):
    from webcrawler_spark.operators.search import more_like_this, search_collapse

    rows = [
        (1, "s1", "zebra quantum flux common common filler"),
        (2, "s1", "zebra quantum other words here common filler"),
        (3, "s2", "quantum flux deep content common filler"),
        (4, "s2", "totally unrelated text body common filler"),
        (5, "s3", "zebra flux quantum trio match common filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    mlt = [(r["doc_id"], r["mlt_score"]) for r in
           more_like_this(df, like_id=1, max_query_terms=3, k=5).collect()]
    # doc 1's rare terms (zebra/quantum/flux beat 'common' on idf): doc5
    # shares 3, doc2/doc3 share 2, doc4 none
    assert mlt[0] == (5, 3)
    assert set(mlt[1:]) == {(2, 2), (3, 2)}
    col = search_collapse(df, ["zebra", "quantum", "flux"], k=5).collect()
    # one hit per source, best first: doc1 (s1, 3), doc5 (s3, 3), doc3 (s2, 2)
    assert [(r["doc_id"], r["source"], r["score"]) for r in col] == [
        (1, "s1", 3), (5, "s3", 3), (3, "s2", 2)]


def test_sequence_plan_covers_stream_exactly(spark):
    """The packing plan tiles each source's token stream exactly: doc spans
    are contiguous, the reconstructed per-sequence token counts are seq_len
    except the tail, and boundaries match a Python replay."""
    from webcrawler_spark.operators.corpus import sequence_plan

    rows = [
        (0, "s", "a b c"),            # 3 tokens
        (1, "s", "d e f g h"),        # 5
        (2, "s", ""),                 # dropped
        (3, "s", "i j"),              # 2
        (4, "t", "k l m n o p q"),    # 7, separate stream
    ]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    L = 4
    out = {r["doc_id"]: r for r in sequence_plan(df, seq_len=L).collect()}
    assert 2 not in out
    # source s stream: doc0 [0,3) -> seq 0; doc1 [3,8) -> seqs 0..1;
    # doc3 [8,10) -> seq 2
    assert (out[0]["cum_before"], out[0]["seq_first"], out[0]["seq_last"]) == (0, 0, 0)
    assert (out[1]["cum_before"], out[1]["seq_first"], out[1]["seq_last"],
            out[1]["first_offset"]) == (3, 0, 1, 3)
    assert (out[3]["cum_before"], out[3]["seq_first"], out[3]["seq_last"]) == (8, 2, 2)
    # source t independent: doc4 [0,7) -> seqs 0..1
    assert (out[4]["cum_before"], out[4]["seq_first"], out[4]["seq_last"]) == (0, 0, 1)
    # coverage: every token position of stream s maps to exactly one doc
    spans = sorted((out[d]["cum_before"], out[d]["cum_before"] + out[d]["n_tokens"])
                   for d in (0, 1, 3))
    assert spans[0][0] == 0 and all(
        spans[i][1] == spans[i + 1][0] for i in range(len(spans) - 1))


def test_stratified_split_exact_proportions(spark):
    """Per-source split sizes are exact (floor(n*frac) for every split but
    the last), the splits partition each source, and the assignment is
    deterministic — independent of physical partitioning."""
    from webcrawler_spark.operators.corpus import stratified_split

    rows = [(i, "s%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_split(df, {"train": 0.8, "val": 0.1, "test": 0.1}, salt=1)
    sizes = {
        (r["source"], r["split"]): r["n"]
        for r in out.groupBy("source", "split").count().withColumnRenamed("count", "n").collect()
    }
    for s in ("s0", "s1", "s2"):  # 100 docs each
        assert sizes[(s, "train")] == 80
        assert sizes[(s, "val")] == 10
        assert sizes[(s, "test")] == 10
    # determinism under repartition: same doc -> same split
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in stratified_split(
            df.repartition(17), {"train": 0.8, "val": 0.1, "test": 0.1}, salt=1
        ).collect()
    }
    assert a == b
    # a different salt reshuffles membership but keeps the sizes
    c = {r["doc_id"]: r["split"] for r in stratified_split(
        df, {"train": 0.8, "val": 0.1, "test": 0.1}, salt=2).collect()}
    assert a != c


def test_temperature_rates_upsample_rare(spark):
    """Temperature-2 mixing upsamples rare sources: the rare source's rate
    exceeds the common source's by ~sqrt(n_common/n_rare) relative to
    proportional sampling, and every rate stays in (0, 1]."""
    from webcrawler_spark.operators.corpus import temperature_mix, temperature_rates

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {r["source"]: r for r in temperature_rates(df, total=400).collect()}
    assert rates["big"]["n"] == 900 and rates["small"]["n"] == 100
    assert 0 < rates["big"]["rate"] <= 1.0 and 0 < rates["small"]["rate"] <= 1.0
    # proportional sampling would keep rates equal; temperature-2 gives the
    # small source sqrt(9) = 3x the relative rate
    ratio = rates["small"]["rate"] / rates["big"]["rate"]
    assert abs(ratio - 3.0) < 0.01
    # the mix keeps roughly rate*n of each source
    mixed = temperature_mix(df, total=400)
    got = {r["source"]: r["n"] for r in
           mixed.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    for s in ("big", "small"):
        assert abs(got[s] - rates[s]["rate"] * rates[s]["n"]) < 0.15 * rates[s]["n"] + 10


def test_dsir_importance_prefers_target_like(spark):
    """Docs sharing the target set's vocabulary must score higher logw than
    off-domain docs; empty docs drop out."""
    from webcrawler_spark.operators.corpus import dsir_importance

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over lazy dogs") for i in range(5)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "quick brown fox jumps high"),        # target-like
            (2, "stock market futures index slump"),  # off-domain
            (3, ""),                                  # no features
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["logw"] for r in dsir_importance(docs, target).collect()}
    assert set(out) == {1, 2}  # empty doc has no row
    assert out[1] > out[2]


def test_nb_classifier_separates_classes(spark):
    """The NB quality classifier trained on a labeled set must give
    positive-vocabulary docs keep=True and negative-vocabulary docs
    keep=False; empty docs drop out; a bucket unseen in the labeled set
    still scores via smoothing (no silent inner-join drop)."""
    from webcrawler_spark.operators.corpus import nb_classifier_score

    labeled = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over lazy dogs", True) for i in range(4)]
        + [(200 + i, "stock market futures index slump crash", False) for i in range(4)],
        "doc_id long, text string, label boolean",
    )
    docs = spark.createDataFrame(
        [
            (1, "quick brown fox jumps high"),          # positive-like
            (2, "stock market futures slump badly"),    # negative-like
            (3, ""),                                    # no features
            (4, "zzzz qqqq wwww xxyy unseen tokens"),   # all-unseen vocab
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in nb_classifier_score(docs, labeled).collect()}
    assert set(out) == {1, 2, 4}  # empty doc has no row
    assert out[1]["keep"] and out[1]["score"] > 0
    assert not out[2]["keep"] and out[2]["score"] < 0
    # unseen vocab lands between the clear classes (hash collisions into 64
    # buckets can tilt it either way, but never past a 4-gram-overlap doc)
    assert out[1]["score"] > out[4]["score"] > out[2]["score"]
    assert out[4]["keep"] == (out[4]["score"] > 0)


def test_sample_gate_negative_keys(spark):
    """The hash gate must bucket negative 64-bit fingerprint keys into
    [0, MOD) like positive ones (pmod, not sign-preserving %) — a negative
    key must NOT be kept unconditionally, and rate extremes stay exact."""
    from webcrawler_spark.operators.corpus import deterministic_sample

    rows = [(i,) for i in range(-20_000, 0)]
    df = spark.createDataFrame(rows, "doc_id long")
    kept = deterministic_sample(df, 0.25).count()
    assert 0.20 < kept / 20_000 < 0.30  # ~rate, NOT 1.0
    assert deterministic_sample(df, 0.0).count() == 0
    assert deterministic_sample(df, 1.0).count() == 20_000


def test_shard_rebalance_plan(spark):
    from webcrawler_spark.operators.scheduler import shard_rebalance_plan

    # shard 0 massively hot (3 hosts), shards 1..3 light
    rows = [
        ("a", 100.0, 0), ("b", 60.0, 0), ("c", 10.0, 0),
        ("d", 10.0, 1), ("e", 10.0, 2), ("f", 10.0, 3),
    ]
    df = spark.createDataFrame(rows, "host string, load double, shard int")
    plan = {r["host"]: r for r in shard_rebalance_plan(df, n_shards=4, tolerance=0.2).collect()}
    # total 200, cap = ceil(200/4*1.2) = 60; shard0 load 170, excess 110:
    # largest-first -> move a (cum_before 0 < 110) and b (100 < 110), not c
    assert set(plan) == {"a", "b"}
    # destinations round-robin over the 3 underloaded shards ranked by load
    # (ties by shard id: 1, 2, 3): a -> 1, b -> 2
    assert plan["a"]["from_shard"] == 0 and plan["a"]["to_shard"] == 1
    assert plan["b"]["to_shard"] == 2
    # balanced input -> empty plan
    even = spark.createDataFrame(
        [("w", 10.0, 0), ("x", 10.0, 1), ("y", 10.0, 2), ("z", 10.0, 3)],
        "host string, load double, shard int",
    )
    assert shard_rebalance_plan(even, n_shards=4).count() == 0


def test_date_histogram_terms_es_ordering(spark):
    from datetime import datetime as DT

    from webcrawler_spark.operators import search as SE

    rows = [
        # day 1: 3 click, 3 view (tie -> 'click' first by key asc), 1 error
        (DT(2024, 1, 1, 1), "click", 1.10),
        (DT(2024, 1, 1, 2), "click", 2.20),
        (DT(2024, 1, 1, 3), "click", 0.30),
        (DT(2024, 1, 1, 4), "view", 1.00),
        (DT(2024, 1, 1, 5), "view", 1.00),
        (DT(2024, 1, 1, 6), "view", 1.00),
        (DT(2024, 1, 1, 7), "error", 9.99),
        # day 2: single type
        (DT(2024, 1, 2, 1), "view", 0.01),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = SE.date_histogram_terms(
        df, "ts", "event_type", "value", interval="day", top_terms=2
    )
    got = sorted(
        (r["bucket_start"], r["term"], r["doc_count"], r["sub_count"], r["value_sum"])
        for r in out.collect()
    )
    assert got == [
        (DT(2024, 1, 1), "click", 7, 3, 3.60),   # count tie vs view -> key asc
        (DT(2024, 1, 1), "view", 7, 3, 3.00),
        (DT(2024, 1, 2), "view", 1, 1, 0.01),
    ]


# ---- search_after keyset pagination (W5 deep-paging scale path) -----------------


def test_search_after_equals_from_size_page(spark):
    """search_after with page 1's last hit as cursor must yield exactly the
    from/size page 2 — and with the LAST page's cursor, nothing."""
    import random

    from webcrawler_spark.operators.search import paginate, search_after

    rnd = random.Random(7)
    rows = [Row(doc_id=i, n_chars=rnd.randrange(50)) for i in range(97)]
    df = spark.createDataFrame(rows)

    order = [F.desc("n_chars"), F.asc("doc_id")]
    page2 = {
        (r["doc_id"], r["n_chars"])
        for r in paginate(df, order, page=1, size=20).collect()
    }
    page1 = df.orderBy(*order).limit(20).collect()
    cur = sorted(page1, key=lambda r: (-r["n_chars"], r["doc_id"]))[-1]
    after = {
        (r["doc_id"], r["n_chars"])
        for r in search_after(df, "n_chars", "doc_id", cur["n_chars"], cur["doc_id"], 20).collect()
    }
    assert after == page2 and len(after) == 20

    last = df.orderBy(F.asc("n_chars"), F.desc("doc_id")).first()
    assert search_after(df, "n_chars", "doc_id", last["n_chars"], last["doc_id"], 20).count() == 0


def test_search_after_plan_has_no_window(spark):
    """The scale claim: keyset paging must plan as filter + top-k (no
    single-partition row_number window, no global sort exchange)."""
    from webcrawler_spark.operators.search import search_after

    df = spark.createDataFrame([Row(doc_id=i, n_chars=i % 13) for i in range(100)])
    plan = search_after(df, "n_chars", "doc_id", 7, 50, 20)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_search_min_should_match_threshold(spark):
    """minimum_should_match=2: docs matching only one query term are
    excluded; 2-of-3 and 3-of-3 matches kept and ranked by match count."""
    from webcrawler_spark.operators.search import search

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="customer window batch all three"),
            Row(doc_id=2, text="customer window two of them"),
            Row(doc_id=3, text="customer only one term"),
            Row(doc_id=4, text="nothing relevant here"),
        ]
    )
    toks = ["customer", "window", "batch"]
    got = {r["doc_id"]: r["score"] for r in search(docs, toks, "text", "doc_id", k=10, min_should_match=2).collect()}
    assert got == {1: 3, 2: 2}
    # threshold above the query length clamps to all-terms, not the empty set
    got3 = {r["doc_id"] for r in search(docs, toks, "text", "doc_id", k=10, min_should_match=7).collect()}
    assert got3 == {1}


def test_meta_robots_flags_variants(spark):
    """<meta name=robots> parsing: quote styles, attribute order, case,
    whitespace, multi-tag restrictive combining, and non-robots decoys."""
    from webcrawler_spark.functions import columns as C

    cases = [
        ('<meta name="robots" content="noindex">', True, False),
        ("<meta name='robots' content='nofollow'>", False, True),
        ('<meta name=robots content="NONE">', True, True),
        ('<meta content=" NOINDEX , NOFOLLOW " name="robots">', True, True),
        ('<meta name="robots" content="index, follow">', False, False),
        ('<meta name="robots" content="noindex"><meta name="robots" content="nofollow">', True, True),
        ('<meta name="description" content="noindex nofollow">', False, False),
        ("no meta at all", False, False),
        # unquoted content attribute (valid HTML) — must match
        ("<meta name=robots content=noindex>", True, False),
        ('<meta name="robots" content=none>', True, True),
        ("<meta content=nofollow name=robots>", False, True),
        # robots-PREFIXED name values are NOT robots directives
        ('<meta name="robots-nocontent" content="noindex">', False, False),
        ("<meta name=robotsx content=noindex>", False, False),
        ('<meta content="noindex" name="robots-nocontent">', False, False),
    ]
    df = spark.createDataFrame(
        [(f"<html><head>{h}</head></html>",) for h, _, _ in cases], "html string"
    )
    rows = df.select(
        C.meta_robots_noindex(F.col("html")).alias("ni"),
        C.meta_robots_nofollow(F.col("html")).alias("nf"),
    ).collect()
    for (h, ni, nf), r in zip(cases, rows):
        assert (r["ni"], r["nf"]) == (ni, nf), h


def test_registered_domain_col_parity(spark):
    """Codegen registered_domain_col byte-matches the Python stand-in
    (urlnorm.registered_domain) across label counts, SLDs, ports, case."""
    from webcrawler_spark.functions import columns as C
    from webcrawler_spark.functions.urlnorm import registered_domain

    hosts = [
        "example.com", "www.example.com", "a.b.c.example.com", "example",
        "shop.example.co.uk", "x.co.uk", "co.uk", "a.gov.br", "a.b.com.au",
        "EXAMPLE.ORG", "Sub.Example.Net:8080", "host7.example.com",
        "deep.sub.blogspot.com", "localhost", "a.ac.jp", "b.edu.cn",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r["host"]: r["rd"]
        for r in df.select("host", C.registered_domain_col(F.col("host")).alias("rd")).collect()
    }
    for h in hosts:
        assert got[h] == registered_domain(h), h


def test_scheduler_politeness_by_registrable(spark):
    """politeness_by_registrable=True: subdomains of one site share a single
    budget (the most conservative member's); off = per-host budgets."""
    cfg_off = CrawlConfig(epoch_seconds=3, hot_host_salt=1)
    cfg_on = CrawlConfig(epoch_seconds=3, hot_host_salt=1, politeness_by_registrable=True)
    rows = [(f"https://a.site.com/p{i}", "a.site.com", 90 - i, 0, 0) for i in range(5)]
    rows += [(f"https://b.site.com/p{i}", "b.site.com", 50 - i, 0, 0) for i in range(5)]
    rows += [(f"https://other.com/p{i}", "other.com", 10, 0, 0) for i in range(2)]
    pending = _pending_df(spark, rows)

    off, off_def, _ = S.schedule_epoch(pending, None, None, 0, cfg_off)
    on, on_def, _ = S.schedule_epoch(pending, None, None, 0, cfg_on)
    # off: 3 per host -> 3+3+2
    assert off.count() == 8 and off_def.count() == 4
    # on: site.com shares ONE budget of 3; other.com keeps its own
    assert on.count() == 5 and on_def.count() == 7
    site = on.filter(F.col("host").like("%site.com")).orderBy("rank_in_host").collect()
    # the site's 3 slots go to the top-priority rows ACROSS its subdomains
    assert [r["url"] for r in site] == [
        "https://a.site.com/p0", "https://a.site.com/p1", "https://a.site.com/p2",
    ]
    assert [r["rank_in_host"] for r in site] == [1, 2, 3]
    # schedule carries no internal key column
    assert "_pol_key" not in on.columns and "_pol_key" not in on_def.columns


def test_scheduler_politeness_by_registrable_salted_equals_unsalted(spark):
    cfg_p = CrawlConfig(epoch_seconds=4, hot_host_salt=1, politeness_by_registrable=True)
    cfg_s = CrawlConfig(epoch_seconds=4, hot_host_salt=4, politeness_by_registrable=True)
    rows = [
        (f"https://s{i % 3}.fam.com/p{i:03d}", f"s{i % 3}.fam.com", i % 7, 0, 0)
        for i in range(60)
    ]
    pending = _pending_df(spark, rows)
    a, ad, _ = S.schedule_epoch(pending, None, None, 0, cfg_p)
    b, bd, _ = S.schedule_epoch(pending, None, None, 0, cfg_s)
    ka = sorted((r["rank_in_host"], r["url_norm"]) for r in a.collect())
    kb = sorted((r["rank_in_host"], r["url_norm"]) for r in b.collect())
    assert ka == kb and ad.count() == bd.count()


def test_cms_one_sided_and_mergeable(spark):
    """Count-Min: estimate >= true for every key; exact on a collision-free
    population; and sketches MERGE (cell-wise add of two halves == sketch of
    the union — the distributed-combine property)."""
    from webcrawler_spark.operators import sketches as SK

    rows = [(k,) for k in range(40) for _ in range(k + 1)]  # key k appears k+1 times
    df = spark.createDataFrame(rows, "host_id long")
    cms = SK.build_cms(df, "host_id", width=512).cache()
    truth = df.groupBy("host_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = SK.estimate_cms(cms, truth, "host_id", width=512).collect()
    assert all(r["est_cnt"] >= r["true_cnt"] for r in est)
    # 40 keys in 4x512 cells: overestimate should be zero here
    assert all(r["est_cnt"] == r["true_cnt"] for r in est)

    # mergeability: sketch(first half) + sketch(second half) == sketch(all)
    h1 = SK.build_cms(df.filter(F.col("host_id") < 20), "host_id", width=512)
    h2 = SK.build_cms(df.filter(F.col("host_id") >= 20), "host_id", width=512)
    merged = (
        h1.unionByName(h2)
        .groupBy("r", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = {(r["r"], r["col"]): r["cnt"] for r in merged.collect()}
    b = {(r["r"], r["col"]): r["cnt"] for r in cms.collect()}
    assert a == b


def test_cms_overestimates_under_collisions(spark):
    """A width far below the key cardinality forces collisions: estimates
    stay >= truth (never under), and at least one key overestimates."""
    from webcrawler_spark.operators import sketches as SK

    df = spark.createDataFrame([(k,) for k in range(2000)], "host_id long")
    cms = SK.build_cms(df, "host_id", width=16)
    truth = df.groupBy("host_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = SK.estimate_cms(cms, truth, "host_id", width=16).collect()
    assert all(r["est_cnt"] >= r["true_cnt"] for r in est)
    assert any(r["est_cnt"] > r["true_cnt"] for r in est)


def test_hll_accuracy_and_merge(spark):
    """HLL: estimate within the published ~1.04/sqrt(m) band (generous 3x
    margin), register-wise max of two halves == registers of the union,
    and the small-range linear-counting branch engages for tiny sets."""
    from webcrawler_spark.operators import sketches as SK

    df = spark.createDataFrame([(k,) for k in range(10000)], "key long")
    est = SK.hll_estimate(SK.hll_registers(df, "key")).first()
    rel = abs(est["estimate"] - 10000) / 10000
    assert rel < 3 * 1.04 / (64 ** 0.5), f"rel err {rel}"

    h1 = SK.hll_registers(df.filter(F.col("key") < 5000), "key")
    h2 = SK.hll_registers(df.filter(F.col("key") >= 5000), "key")
    merged = h1.unionByName(h2).groupBy("j").agg(F.max("rho").alias("rho"))
    a = {(r["j"], r["rho"]) for r in merged.collect()}
    b = {(r["j"], r["rho"]) for r in SK.hll_registers(df, "key").collect()}
    assert a == b

    small = spark.createDataFrame([(k,) for k in range(20)], "key long")
    est_s = SK.hll_estimate(SK.hll_registers(small, "key")).first()
    # 20 distinct keys, 64 registers: linear counting, usually dead-on
    assert abs(est_s["estimate"] - 20) <= 4


def test_weighted_sample_aes_parity_and_bias(spark):
    """weighted_sample (Efraimidis-Spirakis A-ES, deterministic u): exact
    parity with a pure-Python replica; non-positive weights never selected;
    a dominant weight always wins a slot."""
    import math

    from webcrawler_spark.operators import corpus as CP
    from webcrawler_spark.operators.sketches import _P

    rows = [(i, float((i * 13) % 29 + 1) / 7.0) for i in range(200)]
    rows += [(500, 0.0), (501, -2.0)]      # must never be selected
    rows += [(600, 10_000.0)]              # dominant weight: key ~ 0 (max)
    df = spark.createDataFrame(rows, "doc_id long, wt double")
    got = [
        (r["doc_id"], r["sample_key"])
        for r in CP.weighted_sample(df, "wt", n=30).collect()
    ]

    def key(i, w):
        h = (48611 * (i % _P) + 7) % _P
        u = (h + 1.0) / (_P + 1.0)
        return round(math.log(u) / w, 9)

    want = sorted(
        ((i, key(i, w)) for i, w in rows if w > 0),
        key=lambda t: (-t[1], t[0]),
    )[:30]
    assert got == want
    ids = {i for i, _ in got}
    assert 600 in ids and 500 not in ids and 501 not in ids


def test_exact_heavy_hitters_equals_exact_groupby(spark):
    """Two-pass CMS heavy hitters == plain groupBy-threshold, even with a
    collision-heavy tiny width (one-sided error can only ADD candidates,
    never drop a true heavy hitter; the exact pass removes the flukes)."""
    from webcrawler_spark.operators import sketches as SK

    rows = [(k % 50,) for k in range(3000)] + [(7,)] * 500 + [(13,)] * 200
    df = spark.createDataFrame(rows, "host_id long")
    for width in (8, 256):
        got = [
            (r["host_id"], r["cnt"])
            for r in SK.exact_heavy_hitters(df, "host_id", min_count=100, width=width).collect()
        ]
        want = [
            (r["host_id"], r["cnt"])
            for r in df.groupBy("host_id").agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= 100)
            .orderBy(F.desc("cnt"), F.asc("host_id"))
            .collect()
        ]
        assert got == want, width


def test_estimate_cms_empty_sketch_returns_zero(spark):
    """estimate_cms on an EMPTY sketch (a merged CMS before any committed
    batch) estimates every probe key at 0 instead of crashing on the
    null max-depth row."""
    from webcrawler_spark.operators import sketches as SK

    keyed = spark.createDataFrame([(i,) for i in range(20)], "host_id long")
    empty = SK.build_cms(keyed, "host_id").filter(F.lit(False))
    est = SK.estimate_cms(empty, keyed.limit(5), "host_id")
    rows = est.collect()
    assert len(rows) == 5 and all(r["est_cnt"] == 0 for r in rows)


def test_weighted_sample_string_ids(spark):
    """weighted_sample over a STRING id column (the crawl corpus keys docs
    by url_norm): ids hash through the portable rolling fingerprint to a
    non-negative int64 — exact parity with a pure-Python replica, and two
    distinct ids never share a u by construction of the fp domain."""
    import math

    from webcrawler_spark.operators import corpus as CP
    from webcrawler_spark.operators.sketches import _P
    from webcrawler_spark.operators.textstats import _rolling_fp

    rows = [(f"https://site{i}.com/p", float((i * 13) % 29 + 1) / 7.0) for i in range(200)]
    rows += [("https://zero.com/", 0.0)]  # must never be selected
    df = spark.createDataFrame(rows, "doc_id string, wt double")
    got = [
        (r["doc_id"], r["sample_key"])
        for r in CP.weighted_sample(df, "wt", n=30).collect()
    ]

    def key(i, w):
        h = (48611 * (_rolling_fp(i) % _P) + 7) % _P
        u = (h + 1.0) / (_P + 1.0)
        return round(math.log(u) / w, 9)

    want = sorted(
        ((i, key(i, w)) for i, w in rows if w > 0),
        key=lambda t: (-t[1], t[0]),
    )[:30]
    assert got == want


def test_domain_cap_salted_matches_naive(spark):
    """domain_cap (salted two-phase per-domain top-k): kept set equals the
    naive single-window row_number result, rk is the true within-domain
    rank, and no domain exceeds the cap — including a hot domain holding
    half the rows (the skew case the salting exists for)."""
    from pyspark.sql import Window, functions as F

    from webcrawler_spark.operators.corpus import domain_cap

    rows = [(i, "hot" if i % 2 == 0 else f"d{i % 7}", (i * 37) % 101)
            for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, domain string, q int")
    order = [F.desc("q"), F.asc("doc_id")]
    got = {
        (r["doc_id"], r["rk"])
        for r in domain_cap(docs, "domain", order, cap=6).collect()
    }
    w = Window.partitionBy("domain").orderBy(*order)
    want = {
        (r["doc_id"], r["rk"])
        for r in docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 6)
        .collect()
    }
    assert got == want
    per_dom = {}
    for (_, rk) in got:
        assert 1 <= rk <= 6
    out = domain_cap(docs, "domain", order, cap=6)
    sizes = {r["domain"]: r["n"] for r in out.groupBy("domain").count()
             .withColumnRenamed("count", "n").collect()}
    assert sizes["hot"] == 6 and all(v <= 6 for v in sizes.values())


def test_focused_frontier_matches_python_nb(spark):
    """focused_frontier (Chakrabarti-style anchor-steered frontier): the
    per-target NB log-odds over the union-bag of inbound anchor grams must
    match an exact pure-Python replay of the same hashed-gram NB math
    (poly-roll bucket hash, add-one smoothing, doc prior)."""
    import math
    import re

    from webcrawler_spark.operators.links import focused_frontier

    pos = ["spark shuffle broadcast join plan", "catalyst codegen spark plan",
           "broadcast join shuffle partition"]
    neg = ["casino poker lottery jackpot spins", "jackpot casino bonus spins",
           "lottery spins poker bonus"]
    labeled = spark.createDataFrame(
        [(t, True) for t in pos] + [(t, False) for t in neg],
        "text string, label boolean",
    )
    links = spark.createDataFrame(
        [
            (1, "spark broadcast join"),
            (1, "catalyst plan shuffle"),
            (2, "casino jackpot spins"),
            (2, "poker lottery bonus"),
            (3, "spark casino"),
        ],
        "target_url long, anchor_text string",
    )
    got = {
        r["target"]: (r["score"], r["keep"])
        for r in focused_frontier(links, labeled, n_buckets=64).collect()
    }

    def grams(text):
        t = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        return t + [" ".join(t[i:i + 2]) for i in range(len(t) - 1)]

    def bucket(g):
        h = 0
        for ch in g:
            h = (h * 131 + ord(ch)) % 1000000007
        return h % 64

    pos_n, neg_n = [0] * 64, [0] * 64
    for t in pos:
        for g in grams(t):
            pos_n[bucket(g)] += 1
    for t in neg:
        for g in grams(t):
            neg_n[bucket(g)] += 1
    pt, nt = sum(pos_n), sum(neg_n)
    w = [
        math.log((pos_n[b] + 1) / (pt + 64)) - math.log((neg_n[b] + 1) / (nt + 64))
        for b in range(64)
    ]
    prior = math.log((len(pos) + 1) / (len(neg) + 1))
    anchors = {1: ["spark broadcast join", "catalyst plan shuffle"],
               2: ["casino jackpot spins", "poker lottery bonus"],
               3: ["spark casino"]}
    want = {}
    for tgt, texts in anchors.items():
        s = sum(w[bucket(g)] for t in texts for g in grams(t)) + prior
        want[tgt] = (round(s, 6), s > 0)
    assert set(got) == set(want)
    for tgt in want:
        assert got[tgt][0] == pytest.approx(want[tgt][0], abs=1e-9), tgt
        assert got[tgt][1] == want[tgt][1], tgt
    # the steering property: on-topic target kept, spam target rejected
    assert got[1][1] is True and got[2][1] is False


def test_script_mix_counts_and_dominance(spark):
    from webcrawler_spark.operators.textstats import script_mix

    docs = spark.createDataFrame(
        [
            (1, "hello world"),  # pure latin
            (2, "привет мир это тест и ещё слова plus ok"),  # cyrillic-heavy
            (3, "你好世界汉字漢字中文 ab"),  # cjk-heavy
            (4, "12345 67890 13"),  # digits only
            (5, "abc где"),  # 3 latin vs 3 cyrillic -> precedence: latin
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in script_mix(docs).collect()}
    assert out[1]["n_latin"] == 10 and out[1]["main_script"] == "latin"
    assert out[2]["main_script"] == "cyrillic" and out[2]["n_latin"] == 6
    assert out[3]["main_script"] == "cjk" and out[3]["n_cjk"] == 10
    assert out[4]["main_script"] == "digit" and out[4]["n_digit"] == 12
    assert out[5]["n_latin"] == out[5]["n_cyrillic"] == 3
    assert out[5]["main_script"] == "latin"  # tie -> earlier in precedence

    plan = script_mix(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_soft404_template_detection(spark):
    from webcrawler_spark.operators.traps import soft404_signals

    rows = []
    for i in range(20):
        rows.append(("a.com", f"https://a.com/miss/{i}", "ERR-A", 30))
    for i in range(10):
        rows.append(("a.com", f"https://a.com/page/{i}", f"real-{i}", 900))
    # b.com: repeated body but TOO LONG to be an error template
    for i in range(20):
        rows.append(("b.com", f"https://b.com/x/{i}", "LONGTMPL", 5000))
    pages = spark.createDataFrame(
        rows, "host string, url string, content_hash string, n_chars long"
    )
    out = {r["host"]: r for r in soft404_signals(pages, min_count=5).collect()}
    assert out["a.com"]["template_hash"] == "ERR-A"
    assert out["a.com"]["n_soft404"] == 20
    assert out["a.com"]["n_pages"] == 30
    assert abs(out["a.com"]["soft404_rate"] - 20 / 30) < 1e-6
    assert "b.com" not in out  # avg_chars gate


def test_politeness_makespan_bounds_and_stragglers(spark):
    from webcrawler_spark.operators.scheduler import politeness_makespan

    rows = [("hot", 2)] * 100 + [("cold1", 1)] * 10 + [("cold2", 1)] * 10
    f = spark.createDataFrame(rows, "host string, delay_s long")
    out = {r["host"]: r for r in politeness_makespan(f, slots=4).collect()}
    # hot: 100 urls x 2s = 200s serial; total = 220s; 220/4 = 55 < 200
    assert out["hot"]["serial_s"] == 200.0
    assert out["hot"]["makespan_lb_s"] == 200.0  # serial chain dominates slots
    assert out["hot"]["straggler"] is True
    assert out["cold1"]["straggler"] is False
    # with plenty of slots removed, balance bound takes over
    out2 = {r["host"]: r for r in politeness_makespan(f, slots=1).collect()}
    assert out2["hot"]["makespan_lb_s"] == 220.0  # total/1 > any serial chain


def test_revisit_savings_classes(spark):
    from webcrawler_spark.operators.recrawl import revisit_savings

    prev = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2")], "url string, content_hash string"
    )
    cur = spark.createDataFrame(
        [("u1", "h1", 100), ("u2", "CHANGED", 200), ("u3", "h3", 50)],
        "url string, content_hash string, n_bytes long",
    )
    out = {r["status"]: r for r in revisit_savings(prev, cur).collect()}
    assert out["unchanged"]["bytes_stored"] == 0
    assert out["unchanged"]["bytes_saved"] == 100
    assert out["changed"]["bytes_stored"] == 200 and out["changed"]["bytes_saved"] == 0
    assert out["new"]["n_pages"] == 1 and out["new"]["bytes_stored"] == 50


def test_anchor_diversity_flags_farm_only(spark):
    from webcrawler_spark.operators.links import anchor_diversity

    rows = [("farm", f"s{i % 5}", "buy now") for i in range(30)]
    rows += [("organic", f"s{i % 5}", f"phrase {i}") for i in range(30)]
    rows += [("tiny", "s0", "x")] * 3  # below min_inlinks
    e = spark.createDataFrame(rows, "dst string, src_host string, anchor string")
    out = {r["dst"]: r for r in anchor_diversity(e, min_inlinks=20).collect()}
    assert out["farm"]["farm_suspect"] is True and out["farm"]["n_anchors"] == 1
    assert out["organic"]["farm_suspect"] is False
    assert out["organic"]["diversity"] == 1.0
    assert out["tiny"]["farm_suspect"] is False


def test_politeness_audit_gap_math(spark):
    from webcrawler_spark.operators.scheduler import politeness_audit

    rows = [
        ("a", 0, 2_000_000), ("a", 2_000_000, 2_000_000), ("a", 3_500_000, 2_000_000),
        ("b", 0, 1_000_000), ("b", 5_000_000, 1_000_000),
        ("c", 42, 1_000_000),  # single fetch: no gap, compliant
    ]
    log = spark.createDataFrame(rows, "host string, ts_us long, delay_us long")
    out = {r["host"]: r for r in politeness_audit(log).collect()}
    assert out["a"]["violations"] == 1 and out["a"]["min_gap_us"] == 1_500_000
    assert out["a"]["compliant"] is False
    assert out["b"]["violations"] == 0 and out["b"]["compliant"] is True
    assert out["c"]["min_gap_us"] is None and out["c"]["compliant"] is True


def test_reciprocity_counts(spark):
    from webcrawler_spark.operators.graph import reciprocity

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "c"), ("a", "b")],
        "src string, dst string",
    )
    (row,) = reciprocity(edges).collect()
    # distinct non-loop edges: ab, ba, ac -> reciprocal: ab, ba
    assert row["n_edges"] == 3 and row["n_reciprocal"] == 2
    assert row["reciprocity"] == round(2 / 3, 6)


def test_host_lang_entropy_extremes(spark):
    import math

    from webcrawler_spark.operators.textstats import host_lang_entropy

    docs = spark.createDataFrame(
        [("h1", "en")] * 8 + [("h2", "en")] * 4 + [("h2", "de")] * 4,
        "source string, lang string",
    )
    out = {r["host"]: r for r in host_lang_entropy(docs).collect()}
    assert out["h1"]["lang_entropy"] == 0.0 and out["h1"]["n_langs"] == 1
    assert out["h2"]["lang_entropy"] == round(math.log(2), 6)


def test_term_pmi_prefers_exclusive_pairs(spark):
    from webcrawler_spark.operators.textstats import term_pmi

    # "san francisco" always co-occur exclusively; "the cat"/"the dog" share
    # "the" -> lower PMI despite equal pair counts
    rows = [("san francisco",)] * 6 + [("the cat",)] * 6 + [("the dog",)] * 6
    docs = spark.createDataFrame(rows, "text string")
    out = term_pmi(docs, min_count=5, k=10).collect()
    assert out[0]["bigram"] == "san francisco"
    assert out[0]["pmi"] > out[1]["pmi"]
    got = {r["bigram"]: r for r in out}
    assert got["the cat"]["n_ab"] == 6
    # plan: no Python, no cartesian
    plan = term_pmi(docs, min_count=5)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_percolate_and_or_and_no_match(spark):
    from webcrawler_spark.operators.search import percolate

    docs = spark.createDataFrame(
        [
            ("d1", "spark streams windows of data"),
            ("d2", "hash join beats sort merge join"),
            ("d3", "nothing relevant here"),
        ],
        ["doc_id", "text"],
    )
    stored = spark.createDataFrame(
        [
            ("q_and", ["hash", "join"], 2),  # AND: both terms
            ("q_or", ["spark", "hash"], 1),  # OR: either term
            ("q_none", ["xylophone"], 1),
        ],
        "query_id string, terms array<string>, min_match int",
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["n_matched"], r["n_terms"])
        for r in percolate(docs, stored).collect()
    }
    assert got == {
        ("q_and", "d2"): (2, 2),
        ("q_or", "d1"): (1, 2),
        ("q_or", "d2"): (1, 2),
    }


def test_percolate_duplicate_terms_count_once(spark):
    from webcrawler_spark.operators.search import percolate

    docs = spark.createDataFrame([("d1", "join join join")], ["doc_id", "text"])
    stored = spark.createDataFrame(
        [("q", ["join", "join", "merge"], 2)],
        "query_id string, terms array<string>, min_match int",
    )
    # list_distinct on both sides: tf 3 is still ONE matched term, and the
    # duplicated stored term doesn't double n_terms — so min_match 2 misses
    assert percolate(docs, stored).count() == 0


def test_spell_correct_picks_distance_then_frequency(spark):
    from webcrawler_spark.operators.search import spell_correct

    # 'cat' appears 3x, 'car' 1x: for query 'caz' both are distance 1 ->
    # frequency breaks the tie toward 'cat'; 'cat' itself corrects to itself
    docs = spark.createDataFrame(
        [("d1", "cat cat cat car dog")], ["doc_id", "text"]
    )
    got = {
        r["term"]: (r["correction"], r["distance"], r["freq"])
        for r in spell_correct(docs, ["caz", "cat", "zzzzzzzzzz"]).collect()
    }
    assert got["caz"] == ("cat", 1, 3)
    assert got["cat"] == ("cat", 0, 3)
    assert "zzzzzzzzzz" not in got  # no candidate within the edit budget


def test_maxscore_skippable_never_includes_topk(spark):
    from webcrawler_spark.operators.search import maxscore_prune, search_bm25

    rows = [
        (f"d{i}", ("alpha " * (i % 3 + 1)) + ("beta " if i % 2 == 0 else "") + "filler words here")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = maxscore_prune(docs, ["alpha", "beta"], k=5).collect()
    assert {r["term"] for r in out} == {"alpha", "beta"}
    r0 = out[0]
    # soundness: every candidate is either skippable or must-score; the
    # skippable count can never reach the candidate count when k docs exist
    assert 0 <= r0["n_skippable"] <= r0["n_candidates"]
    topk = search_bm25(docs, ["alpha", "beta"], k=5)
    assert topk.count() == 5
    # theta equals the 5th-best exact BM25 score (rounded alike)
    fifth = min(r["score"] for r in topk.collect())
    assert abs(r0["theta"] - fifth) < 1e-3


def test_regex_url_filter_first_match_wins_and_default(spark):
    from webcrawler_spark.operators.scheduler import regex_url_filter

    rules = [
        (0, "-", r"\.jpg$"),
        (1, "+", r"^https://ok\.com/"),
        (2, "-", r"."),
    ]
    urls = spark.createDataFrame(
        [
            ("https://ok.com/a",),          # rule 1 +
            ("https://ok.com/pic.jpg",),    # rules 0,1 match; 0 wins -> -
            ("https://other.com/x",),       # catch-all 2 -> -
            ("mailto:x@y",),                # catch-all 2 -> -
        ],
        ["url"],
    )
    got = {r["url"]: (r["rule_order"], r["kept"]) for r in
           regex_url_filter(urls, rules).collect()}
    assert got["https://ok.com/a"] == (1, True)
    assert got["https://ok.com/pic.jpg"] == (0, False)
    assert got["https://other.com/x"] == (2, False)
    # no catch-all: unmatched URL falls to default_allow
    got2 = {r["url"]: (r["rule_order"], r["kept"]) for r in
            regex_url_filter(urls, rules[:2], default_allow=True).collect()}
    assert got2["mailto:x@y"] == (None, True)
    got3 = {r["url"]: r["kept"] for r in
            regex_url_filter(urls, rules[:2]).collect()}
    assert got3["mailto:x@y"] is False  # Nutch default: exclude


def test_rare_terms_shingles_and_short_docs(spark):
    from webcrawler_spark.operators.search import rare_terms

    docs = spark.createDataFrame(
        [
            ("d1", "alpha beta gamma"),
            ("d2", "alpha beta delta"),
            ("d3", "alpha"),        # shorter than the shingle -> no terms
            ("d4", ""),             # empty doc
        ],
        ["doc_id", "text"],
    )
    uni = {r["term"]: r["doc_count"] for r in rare_terms(docs, max_doc_count=1).collect()}
    assert uni == {"gamma": 1, "delta": 1}
    bi = {r["term"]: r["doc_count"] for r in
          rare_terms(docs, max_doc_count=2, shingles=2).collect()}
    # 'alpha beta' appears in 2 docs; trailing bigrams once each
    assert bi == {"alpha beta": 2, "beta gamma": 1, "beta delta": 1}
    # repeated shingle inside one doc counts that doc once
    docs2 = spark.createDataFrame([("d1", "x y x y")], ["doc_id", "text"])
    bi2 = {r["term"]: r["doc_count"] for r in
           rare_terms(docs2, max_doc_count=5, shingles=2).collect()}
    assert bi2 == {"x y": 1, "y x": 1}


def test_composite_after_pagination_walks_all_buckets(spark):
    from webcrawler_spark.operators.search import composite_after

    rows = [(f"s{i % 4}", f"l{i % 3}", float(i)) for i in range(60)]
    df = spark.createDataFrame(rows, ["source", "lang", "n_chars"])
    # walk pages of 5 until exhausted; union must equal the full bucket set
    pages, after = [], None
    while True:
        page = composite_after(df, ["source", "lang"], "n_chars",
                               after=after, size=5).collect()
        if not page:
            break
        pages.extend(page)
        after = (page[-1]["source"], page[-1]["lang"])
    full = composite_after(df, ["source", "lang"], "n_chars", size=1000).collect()
    assert [(r["source"], r["lang"]) for r in pages] == \
           [(r["source"], r["lang"]) for r in full]
    assert len(full) == 12 and len(pages) == 12
    assert all(abs(p["value_sum"] - f["value_sum"]) < 1e-9
               for p, f in zip(pages, full))


def test_pipeline_aggs_first_bucket_nulls(spark):
    from webcrawler_spark.operators.search import pipeline_aggs

    df = spark.createDataFrame(
        [("2024-01-0%d 10:00:00" % d, 1.0 + d) for d in range(1, 5)],
        ["ts", "value"],
    ).select(F.col("ts").cast("timestamp").alias("ts"), "value")
    out = pipeline_aggs(df, "ts", "value", window=2)
    rows = sorted(out.collect(), key=lambda r: r["bucket_start"])
    assert rows[0]["derivative"] is None and rows[0]["moving_avg"] is None
    assert rows[1]["derivative"] == 1.0
    # ES moving_fn default window excludes the current bucket
    assert rows[2]["moving_avg"] == pytest.approx((200 + 300) / 2 / 100)
    assert rows[3]["cumulative_sum"] == pytest.approx(2.0 + 3.0 + 4.0 + 5.0)


def test_extended_stats_matches_population_moments(spark):
    import statistics

    from webcrawler_spark.operators.search import extended_stats

    vals = [1.25, 2.50, 2.50, 10.00, 7.75]
    df = spark.createDataFrame([(v,) for v in vals], ["value"])
    r = extended_stats(df, "value").collect()[0]
    assert r["count"] == 5 and r["min"] == 1.25 and r["max"] == 10.0
    assert r["sum"] == pytest.approx(sum(vals))
    assert r["avg"] == pytest.approx(statistics.mean(vals), abs=1e-6)
    assert r["variance"] == pytest.approx(statistics.pvariance(vals), abs=1e-6)
    assert r["std_deviation"] == pytest.approx(statistics.pstdev(vals), abs=1e-6)
    assert r["std_upper"] == pytest.approx(r["avg"] + 2 * r["std_deviation"], abs=1e-5)
    assert r["sum_of_squares"] == pytest.approx(sum(v * v for v in vals), abs=1e-4)


def test_adjacency_matrix_cells_and_empty_omission(spark):
    from webcrawler_spark.operators.search import adjacency_matrix

    df = spark.createDataFrame(
        [("en", 10), ("en", 500), ("fr", 500), ("fr", 5)], ["lang", "n"]
    )
    out = {r["key"]: r["doc_count"] for r in adjacency_matrix(
        df,
        [
            ("en", F.col("lang") == "en"),
            ("big", F.col("n") >= 100),
            ("none", F.col("n") < 0),
        ],
    ).collect()}
    # ES omits empty buckets: 'none' and all its intersections are absent
    assert out == {"en": 2, "big": 2, "en&big": 1}


def test_function_score_gauss_and_fvf(spark):
    import math

    from webcrawler_spark.operators.search import search_function_score

    df = spark.createDataFrame(
        [
            (1, "alpha beta", 100),   # 2 matches, at origin -> decay 1.0
            (2, "alpha", 100),        # 1 match, at origin
            (3, "alpha beta", 150),   # 2 matches, at distance scale -> 0.5
            (4, "gamma", 100),        # 0 matches -> filtered out
        ],
        ["doc_id", "text", "n"],
    )
    out = {r["doc_id"]: r["fscore"] for r in search_function_score(
        df, ["alpha", "beta"], "text", "doc_id",
        factor_col="n", decay_col="n",
        origin=100.0, scale=50.0, offset=0.0, decay=0.5, k=10,
    ).collect()}
    assert 4 not in out
    fvf100, fvf150 = math.log1p(100.0), math.log1p(150.0)
    assert out[1] == pytest.approx(2 * fvf100, abs=1e-6)
    assert out[2] == pytest.approx(1 * fvf100, abs=1e-6)
    # exactly `decay` at distance `scale` (the published ES gauss contract)
    assert out[3] == pytest.approx(2 * fvf150 * 0.5, abs=1e-6)


def test_top_hits_rank_count_single_shuffle(spark):
    from webcrawler_spark.operators.search import top_hits

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 30), ("a", 4, 5), ("b", 5, 7)],
        ["grp", "doc_id", "n"],
    )
    rows = top_hits(df, "grp", "n", "doc_id", size=2).collect()
    got = [(r["grp"], r["doc_id"], r["hit_rank"], r["doc_count"]) for r in rows]
    # doc_id ASC tiebreak between the two n=30 docs; doc_count is the FULL
    # bucket size (4), not the truncated hit list
    assert got == [("a", 2, 1, 4), ("a", 3, 2, 4), ("b", 5, 1, 1)]
    # single exchange: rank and count ride the same hash partitioning
    plan = top_hits(df, "grp", "n", "doc_id", size=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(grp") == 1


def test_histogram_dense_fills_empty_buckets(spark):
    from webcrawler_spark.operators.search import histogram_dense

    df = spark.createDataFrame(
        [(0.5,), (1.2,), (1.7,), (4.9,)], ["value"]
    )
    rows = histogram_dense(df, "value", 1.0).collect()
    got = [(r["key"], r["doc_count"]) for r in rows]
    # keys 2.0 and 3.0 are empty but PRESENT (min_doc_count=0 semantics)
    assert got == [(0.0, 1), (1.0, 2), (2.0, 0), (3.0, 0), (4.0, 1)]
    # min_doc_count>0 path: filter, no densify
    got2 = [(r["key"], r["doc_count"])
            for r in histogram_dense(df, "value", 1.0, min_doc_count=2).collect()]
    assert got2 == [(1.0, 2)]


def test_multi_terms_composite_ordering(spark):
    from webcrawler_spark.operators.search import multi_terms

    df = spark.createDataFrame(
        [("a", "x", 1.0)] * 3 + [("a", "y", 2.0)] * 3 + [("b", "x", 4.0)],
        ["s", "l", "v"],
    )
    rows = multi_terms(df, ["s", "l"], value_col="v", size=2).collect()
    got = [(r["s"], r["l"], r["doc_count"], r["value_sum"]) for r in rows]
    # count ties broken by keys ASC; size truncates the 1-doc bucket away
    assert got == [("a", "x", 3, 3.0), ("a", "y", 3, 6.0)]


def test_weighted_avg_skips_nulls(spark):
    from webcrawler_spark.operators.search import weighted_avg

    df = spark.createDataFrame(
        [("g", 10.0, 1.0), ("g", 20.0, 3.0), ("g", None, 99.0), ("g", 5.0, None)],
        "grp string, v double, w double",
    )
    r = weighted_avg(df, "v", "w", "grp").collect()[0]
    # (10*1 + 20*3) / (1+3) = 17.5; null value/weight rows don't count
    assert r["doc_count"] == 2 and r["weighted_avg"] == pytest.approx(17.5)


def test_mad_exact_small_set(spark):
    from webcrawler_spark.operators.search import median_absolute_deviation

    df = spark.createDataFrame(
        [("g", float(v)) for v in [1, 1, 2, 2, 4, 6, 9]], ["grp", "v"]
    )
    r = median_absolute_deviation(df, "v", "grp").collect()[0]
    # median 2; |x-2| = [1,1,0,0,2,4,7] -> median 1
    assert r["median"] == 2.0 and r["mad"] == 1.0 and r["doc_count"] == 7


def test_serial_diff_lag2_nulls(spark):
    from webcrawler_spark.operators.search import serial_diff

    df = spark.createDataFrame(
        [("2024-01-0%d 10:00:00" % d, float(d * d)) for d in range(1, 5)],
        ["ts", "v"],
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v")
    rows = sorted(serial_diff(df, "ts", "v", lag=2).collect(),
                  key=lambda r: r["bucket_start"])
    assert rows[0]["serial_diff"] is None and rows[1]["serial_diff"] is None
    assert rows[2]["serial_diff"] == 9.0 - 1.0   # d=3 minus d=1
    assert rows[3]["serial_diff"] == 16.0 - 4.0


def test_bucket_selector_and_sort_paging(spark):
    from webcrawler_spark.operators.search import bucket_selector, bucket_sort

    rows = [(g, float(v)) for g, n, v in
            [("a", 0, 10), ("b", 0, 20), ("c", 0, 30), ("d", 0, 40)]
            for _ in range(1)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    kept = {r["grp"] for r in bucket_selector(
        df, "grp", "v", F.col("value_sum") >= 20.0).collect()}
    assert kept == {"b", "c", "d"}
    page = [r["grp"] for r in bucket_sort(
        df, "grp", "v", size=2, skip=1).collect()]
    assert page == ["c", "b"]   # desc by sum: d,c,b,a -> skip 1, take 2


def test_string_stats_entropy_bits(spark):
    from webcrawler_spark.operators.search import string_stats

    df = spark.createDataFrame([("g", "aabb"), ("g", "ab")], ["grp", "t"])
    r = string_stats(df, "t", "grp").collect()[0]
    # 3 a's + 3 b's -> uniform 2-symbol distribution = exactly 1 bit
    assert r["entropy"] == pytest.approx(1.0)
    assert (r["min_length"], r["max_length"], r["avg_length"]) == (2, 4, 3.0)


def test_boxplot_whiskers_clip_outlier(spark):
    from webcrawler_spark.operators.search import boxplot

    vals = [1.0, 2.0, 3.0, 4.0, 100.0]  # 100 is far outside the upper fence
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "v"])
    r = boxplot(df, "v", "grp").collect()[0]
    assert r["min"] == 1.0 and r["max"] == 100.0
    assert r["q2"] == 3.0
    # upper whisker = largest datum inside q3 + 1.5*IQR, NOT the outlier
    assert r["upper_whisker"] == 4.0
    assert r["lower_whisker"] == 1.0


def test_t_test_welch_matches_closed_form(spark):
    import math
    import statistics

    from webcrawler_spark.operators.search import t_test_stats

    a = [1.0, 2.0, 3.0, 4.0]
    b = [2.0, 4.0, 6.0, 8.0, 10.0]
    df = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in b], ["grp", "v"]
    )
    r = t_test_stats(df, "v", F.col("grp") == "a", F.col("grp") == "b").collect()[0]
    va, vb = statistics.variance(a), statistics.variance(b)
    sea, seb = va / len(a), vb / len(b)
    t = (statistics.mean(a) - statistics.mean(b)) / math.sqrt(sea + seb)
    dof = (sea + seb) ** 2 / (sea**2 / (len(a) - 1) + seb**2 / (len(b) - 1))
    assert r["na"] == 4 and r["nb"] == 5
    assert r["t_stat"] == pytest.approx(t, abs=1e-6)
    assert r["welch_df"] == pytest.approx(dof, abs=1e-4)


def test_auto_date_histogram_picks_smallest_fitting(spark):
    from webcrawler_spark.operators.search import auto_date_histogram

    narrow = spark.createDataFrame(
        [("2024-01-01 10:%02d:30" % m,) for m in range(5)], ["ts"]
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    rows = auto_date_histogram(narrow, "ts", target_buckets=10).collect()
    assert all(r["interval"] == "minute" for r in rows) and len(rows) == 5
    wide = spark.createDataFrame(
        [("2024-0%d-01 00:00:00" % m,) for m in range(1, 7)], ["ts"]
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    rows = auto_date_histogram(wide, "ts", target_buckets=10).collect()
    # ~150-day span: day would need 151 buckets, month fits in 10
    assert all(r["interval"] == "month" for r in rows) and len(rows) == 6


def test_diversified_sampler_caps_per_value(spark):
    from webcrawler_spark.operators.search import diversified_sampler

    df = spark.createDataFrame(
        [(i, "h%d" % (i % 3)) for i in range(30)], ["doc_id", "host"]
    )
    out = diversified_sampler(df, "host", "doc_id",
                              shard_size=5, max_docs_per_value=2).collect()
    assert len(out) == 5
    from collections import Counter

    assert max(Counter(r["host"] for r in out).values()) <= 2
    # deterministic: same call, same sample
    again = diversified_sampler(df, "host", "doc_id",
                                shard_size=5, max_docs_per_value=2).collect()
    assert [r["doc_id"] for r in out] == [r["doc_id"] for r in again]


def test_search_rescore_reranks_window_only(spark):
    from webcrawler_spark.operators.search import search_rescore

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),        # score 3
            (2, "alpha beta"),              # score 2, phrase "beta alpha" absent
            (3, "beta alpha"),              # score 2, phrase present
            (4, "beta alpha beta alpha"),   # score 2, phrase twice
            (5, "delta"),                   # score 0 -> never in window
        ],
        ["doc_id", "text"],
    )
    out = search_rescore(
        df, ["alpha", "beta", "gamma"], ["beta", "alpha"],
        window_size=10, query_weight=1.0, rescore_weight=2.0, k=10,
    ).collect()
    got = [(r["doc_id"], r["rescore"]) for r in out]
    # doc4: 2 + 2*2 = 6; doc3: 2 + 2 = 4; doc1: 3 + 0 = 3; doc2: 2
    assert got == [(4, 6.0), (3, 4.0), (1, 3.0), (2, 2.0)]
    # outside the window the secondary scorer never runs: with window 1,
    # only the best main-query hit survives regardless of phrase boost
    top1 = search_rescore(
        df, ["alpha", "beta", "gamma"], ["beta", "alpha"],
        window_size=1, k=10,
    ).collect()
    assert [(r["doc_id"], r["rescore"]) for r in top1] == [(1, 3.0)]


def test_data_epochs_plan_caps_and_normalizes(spark):
    from webcrawler_spark.operators.corpus import data_epochs_plan

    docs = spark.createDataFrame(
        [("a", "w " * 10), ("a", "w " * 10), ("b", "w " * 80), ("c", "ignored " * 5)],
        ["source", "text"],
    )
    out = {r["source"]: r for r in data_epochs_plan(
        docs, {"a": 0.5, "b": 0.5}, token_budget=200, max_epochs=4.0
    ).collect()}
    assert set(out) == {"a", "b"}          # unweighted source c excluded
    # a: 20 tokens available, wants 100 -> 5 epochs, over cap, granted 80
    assert out["a"]["n_tokens"] == 20 and out["a"]["epochs"] == 5.0
    assert out["a"]["over_cap"] and out["a"]["granted_tokens"] == 80.0
    # b: 80 available, wants 100 -> 1.25 epochs, under cap, granted 100
    assert out["b"]["epochs"] == 1.25 and not out["b"]["over_cap"]
    assert out["b"]["granted_tokens"] == 100.0


def test_budget_fairness_cap_flattens(spark):
    from webcrawler_spark.operators.scheduler import budget_fairness

    # one hot host with 8 URLs, four hosts with 1 each
    rows = [("hot",)] * 8 + [("h%d" % i,) for i in range(4)]
    df = spark.createDataFrame(rows, ["host"])
    r = budget_fairness(df, "host", cap=2).collect()[0]
    assert r["n_hosts"] == 5 and r["total_demand"] == 12
    assert r["total_granted"] == 2 + 4
    # raw: (12^2)/(5*(64+4)) = 144/340; capped: (6^2)/(5*(4+4)) = 36/40
    assert r["jain_raw"] == pytest.approx(144 / 340, abs=1e-6)
    assert r["jain_capped"] == pytest.approx(0.9, abs=1e-6)
    assert r["jain_capped"] > r["jain_raw"]


def test_schedule_order_correlation_extremes(spark):
    from webcrawler_spark.operators.scheduler import schedule_order_correlation

    rows = []
    # host A: priority strictly increases with discovery -> drain reverses it
    for i in range(5):
        rows.append(("A", i, float(i), 100 + i))
    # host B: priority strictly decreases with discovery -> same order
    for i in range(5):
        rows.append(("B", i, float(10 - i), 200 + i))
    df = spark.createDataFrame(rows, ["host", "disc", "prio", "uid"])
    out = {r["host"]: r["spearman_rho"] for r in schedule_order_correlation(
        df, "host", "disc", "prio", "uid").collect()}
    assert out["A"] == pytest.approx(-1.0)
    assert out["B"] == pytest.approx(1.0)
    # single exchange: both windows ride one hash partitioning on host
    plan = schedule_order_correlation(df, "host", "disc", "prio", "uid") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(host") == 1


def test_variable_width_histogram_separated_clusters(spark):
    from webcrawler_spark.operators.search import variable_width_histogram

    vals = [1.0, 1.1, 1.2, 10.0, 10.1, 10.2, 50.0, 50.5, 99.0]
    df = spark.createDataFrame([(v,) for v in vals], ["value"])
    rows = variable_width_histogram(df, "value", buckets=4, rounds=2).collect()
    got = [(r["min"], r["max"], r["doc_count"]) for r in rows]
    # quantile init seeds two centroids inside the dense 10.x group (three
    # of eight inter-quantile positions fall there), so Lloyd keeps the
    # split and the sparse right tail merges — standard k-means behavior,
    # pinned here deterministically
    assert got == [(1.0, 1.2, 3), (10.0, 10.1, 2), (10.2, 10.2, 1),
                   (50.0, 99.0, 3)]
    assert rows[0]["centroid"] == pytest.approx(1.1, abs=1e-6)
    assert rows[3]["centroid"] == pytest.approx((50.0 + 50.5 + 99.0) / 3, abs=1e-6)
    # deterministic across reruns (ES's own streaming agg is not)
    again = variable_width_histogram(df, "value", buckets=4, rounds=2).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_vocab_growth_first_occurrence_attribution(spark):
    from webcrawler_spark.operators.textstats import vocab_growth

    df = spark.createDataFrame(
        [
            ("a", "cat dog"),
            ("a", "dog bird"),       # dog counted once per group
            ("b", "dog fish"),       # only fish is new in b
            ("c", "cat dog bird"),   # nothing new in c
        ],
        ["source", "text"],
    )
    rows = vocab_growth(df, by="source").collect()
    got = [(r["source"], r["n_terms"], r["n_new_terms"], r["cum_vocab"])
           for r in rows]
    assert got == [("a", 3, 3, 3), ("b", 2, 1, 4), ("c", 3, 0, 4)]


def test_search_synonyms_concept_collapse(spark):
    from webcrawler_spark.operators.search import search_synonyms

    syn = {"car": "car", "automobile": "car", "auto": "car"}
    df = spark.createDataFrame(
        [
            (1, "the automobile is red"),       # synonym hit
            (2, "car and automobile and auto"), # whole group counts ONCE
            (3, "car plus a boat"),             # literal hit + second concept
            (4, "nothing relevant"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["score"] for r in
           search_synonyms(df, ["car", "boat"], syn).collect()}
    assert out[1] == 1 and out[2] == 1       # no double-counting
    assert out[3] == 2 and 4 not in out


def test_span_near_order_and_slop(spark):
    from webcrawler_spark.operators.search import search_span_near

    df = spark.createDataFrame(
        [
            (1, "alpha x beta"),          # gap 1 <= slop
            (2, "alpha x y z beta"),      # gap 3 > slop 2
            (3, "beta alpha"),            # wrong order
            (4, "alpha beta alpha beta"), # pairs: (1,2),(1,4),(3,4) = 3 spans
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["n_spans"] for r in search_span_near(
        df, "alpha", "beta", slop=2, in_order=True).collect()}
    assert out == {4: 3, 1: 1}
    un = {r["doc_id"]: r["n_spans"] for r in search_span_near(
        df, "alpha", "beta", slop=2, in_order=False).collect()}
    assert un[3] == 1 and un[1] == 1   # reversed order matches unordered


def test_magic_sniff_signatures_and_no_udf(spark):
    from webcrawler_spark.operators.multimodal import sniff_media_type

    cases = [
        (b"%PDF-1.4", "application/pdf"),
        (b"\x89PNG\r\n\x1a\n....", "image/png"),
        (b"GIF87a..", "image/gif"),
        (b"\xff\xd8\xff\xdb", "image/jpeg"),
        (b"PK\x03\x04zip", "application/zip"),
        (b"\x1f\x8b\x08gz", "application/gzip"),
        (b"RIFF1234WAVEfmt", "audio/wav"),
        (b"RIFF1234AVI LIST", "application/octet-stream"),
        (b"\xef\xbb\xbf <!DOCTYPE HTML>", "text/html"),
        (b"  <html>", "text/html"),
        (b"\x00\x01\x02junk", "application/octet-stream"),
    ]
    df = spark.createDataFrame(
        [(i, d) for i, (d, _) in enumerate(cases)], "i long, data binary"
    )
    out = {r["i"]: r["mt"] for r in df.select(
        "i", sniff_media_type(F.col("data")).alias("mt")).collect()}
    for i, (_, want) in enumerate(cases):
        assert out[i] == want, (i, out[i], want)
    # pure codegen: no Python UDF in the plan
    plan = df.select(sniff_media_type(F.col("data")))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_lang_hint_precedence(spark):
    from webcrawler_spark.functions.columns import url_lang_hint

    cases = [
        ("https://example.com/de/page", "de"),        # path segment
        ("https://example.com/pt-br/page", "pt"),     # path with region
        ("https://fr.example.com/page", "fr"),        # subdomain
        ("https://example.de/page", "de"),            # ccTLD
        ("https://example.co.jp/page", "ja"),         # ccTLD mapped
        ("https://de.example.com/fr/page", "fr"),     # path beats subdomain
        ("https://example.com/delta/page", None),     # 'delta' is not /de/
        ("https://example.com/page", None),           # no evidence
        ("https://example.ch/page", None),            # ambiguous ccTLD omitted
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    out = dict(
        df.select("url", url_lang_hint(F.col("url")).alias("h")).collect()
    )
    for u, want in cases:
        assert out[u] == want, (u, out[u], want)


def test_percentile_ranks_exact(spark):
    from webcrawler_spark.operators.search import percentile_ranks

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 11)], ["grp", "v"]
    )
    r = percentile_ranks(df, "v", [3.0, 10.0, 0.5], by="grp").collect()[0]
    assert r["rank_3_0"] == pytest.approx(30.0)
    assert r["rank_10_0"] == pytest.approx(100.0)
    assert r["rank_0_5"] == pytest.approx(0.0)


def test_search_explain_parts_sum_to_score(spark):
    from webcrawler_spark.operators.search import search_bm25, search_explain

    df = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma"),
            (2, "alpha delta"),
            (3, "beta beta beta"),
            (4, "nothing here"),
        ],
        ["doc_id", "text"],
    )
    exp = search_explain(df, ["alpha", "beta"], k=3).collect()
    # contributions regroup to the ranked score (4dp vs 6dp rounding slack)
    from collections import defaultdict

    sums = defaultdict(float)
    scores = {}
    for r in exp:
        sums[r["doc_id"]] += r["term_score"]
        scores[r["doc_id"]] = r["score"]
    for d, s in scores.items():
        assert abs(sums[d] - s) < 1e-3, (d, sums[d], s)
    # same ranking as the opaque scorer
    ranked = [r["doc_id"] for r in search_bm25(df, ["alpha", "beta"], k=3).collect()]
    order = []
    for r in exp:
        if r["doc_id"] not in order:
            order.append(r["doc_id"])
    assert order == ranked
    # per-term facts: doc 1 has tf(alpha)=2, dl=4
    facts = {(r["doc_id"], r["word"]): r for r in exp}
    assert facts[(1, "alpha")]["tf"] == 2 and facts[(1, "alpha")]["dl"] == 4
    assert facts[(3, "beta")]["tf"] == 3


def test_frontier_drain_forecast_bounds(spark):
    from webcrawler_spark.operators.scheduler import frontier_drain_forecast

    rows = [("hot",)] * 10 + [("h%d" % i,) for i in range(3)]
    df = spark.createDataFrame(rows, ["host"])
    out = {r["host"]: r for r in frontier_drain_forecast(
        df, "host", per_epoch_capacity=2, slots=2).collect()}
    assert out["hot"]["epochs_to_drain"] == 5    # 10 pending / 2 per epoch
    assert out["h0"]["epochs_to_drain"] == 1
    fleet = out[None]
    assert fleet["pending"] == 13
    # host bound 5 > fleet-work bound ceil(13/(2*2)) = 4 -> host pins tail
    assert fleet["epochs_to_drain"] == 5
    # with ample slots the answer is the host bound; with ONE slot the
    # fleet-work bound takes over: ceil(13/2) = 7
    one = {r["host"]: r for r in frontier_drain_forecast(
        df, "host", per_epoch_capacity=2, slots=1).collect()}[None]
    assert one["epochs_to_drain"] == 7


def test_length_drift_psi_zero_and_shift(spark):
    from webcrawler_spark.operators.textstats import length_drift_psi

    base = spark.createDataFrame([(v,) for v in [50, 150, 250, 350]], ["n"])
    # identical distribution -> PSI ~ 0
    same = length_drift_psi(base, base, "n", [100.0, 200.0, 300.0]).collect()
    assert abs(same[0]["psi_total"]) < 1e-9
    # mass shifted entirely into the top bin -> large PSI
    shifted = spark.createDataFrame([(v,) for v in [350, 360, 370, 380]], ["n"])
    out = length_drift_psi(base, shifted, "n", [100.0, 200.0, 300.0]).collect()
    assert out[0]["psi_total"] > 0.25
    # per-bin terms sum to the total
    assert abs(sum(r["psi_term"] for r in out) - out[0]["psi_total"]) < 1e-4
