"""Canonical link element, hreflang clusters, feed autodiscovery
(operators/canonical.py). The reference parses links/metadata only
(services/parser/app.py:79-120) — this layer is beyond-reference crawl
semantics, tested like the meta-robots gate (attribute order, quote
styles, decoys, chains/loops)."""

from pyspark.sql import functions as F

from webcrawler_spark.operators import canonical as CN


def _one(spark, html, url="https://h.ex.com/a/p"):
    df = spark.createDataFrame([(url, html)], "url string, html string")
    return df.select(
        CN.declared_canonical(F.col("url"), F.col("html")).alias("c")
    ).first()["c"]


# ---- extraction -------------------------------------------------------------


def test_extract_basic_and_attr_order(spark):
    assert (
        _one(spark, '<link rel="canonical" href="https://x.com/a">')
        == "https://x.com/a"
    )
    assert (
        _one(spark, '<link href="https://x.com/b" rel="canonical">')
        == "https://x.com/b"
    )


def test_extract_quote_styles(spark):
    assert _one(spark, "<link rel='canonical' href='https://x.com/s'>") == (
        "https://x.com/s"
    )
    assert _one(spark, "<link rel=canonical href=https://x.com/u>") == (
        "https://x.com/u"
    )


def test_rel_token_list_and_decoys(spark):
    # rel is a space-separated token list
    assert _one(
        spark, '<link rel="alternate canonical" href="https://x.com/t">'
    ) == "https://x.com/t"
    # prefix decoy must NOT register (the meta-robots lesson, ADVICE r3)
    assert _one(spark, '<link rel="canonicalx" href="https://x.com/no">') is None
    assert _one(spark, '<link rel=canonicalx href=https://x.com/no>') is None
    # canonical token in OTHER attributes is not a rel declaration
    assert _one(spark, '<link class="canonical" href="https://x.com/no">') is None


def test_first_tag_wins_and_missing_href(spark):
    html = (
        '<link rel="canonical" href="https://x.com/first">'
        '<link rel="canonical" href="https://x.com/second">'
    )
    assert _one(spark, html) == "https://x.com/first"
    assert _one(spark, '<link rel="canonical">') is None
    assert _one(spark, "<p>no links at all</p>") is None


def test_case_insensitive(spark):
    assert (
        _one(spark, '<LINK REL="Canonical" HREF="https://x.com/cc">')
        == "https://x.com/cc"
    )


# ---- relative resolution ------------------------------------------------------


def test_resolution_forms(spark):
    base = "https://h.ex.com/a/p"
    assert _one(spark, '<link rel="canonical" href="//cdn.ex.com/z">', base) == (
        "https://cdn.ex.com/z"
    )
    assert _one(spark, '<link rel="canonical" href="/root/z">', base) == (
        "https://h.ex.com/root/z"
    )
    assert _one(spark, '<link rel="canonical" href="sib">', base) == (
        "https://h.ex.com/a/sib"
    )


def test_resolution_base_without_path(spark):
    assert _one(spark, '<link rel="canonical" href="p2">', "https://h.ex.com") == (
        "https://h.ex.com/p2"
    )


# ---- epoch index gate ----------------------------------------------------------


def test_bound_decl_gate_equals_inline(spark):
    """run_epoch binds declared_canonical as a `_decl` column of the
    materialized fetch frame and gates the index on that column. The gate
    must keep exactly the rows the inline expression (regex over html inside
    the filter) keeps, for every href form and for pages without a tag."""
    from webcrawler_spark.plans.epoch import _canonical_norm

    rows = [
        # (url_norm, html); the label is the last path segment
        ("https://cn.test/a", _tag("https://cn.test/a")),  # absolute self
        ("https://cn.test/b", _tag("https://cn.test/a")),  # absolute alias
        ("https://cn.test/d", _tag("/canon-d")),  # root-relative alias
        ("https://cn.test/e", _tag("/e")),  # root-relative self
        ("https://cn.test/f", _tag("//cn.test/f")),  # scheme-relative self
        ("https://cn.test/g", _tag("//other.test/g")),  # scheme-relative alias
        ("https://cn.test/dir/p", _tag("p")),  # path-relative self
        ("https://cn.test/dir/q", _tag("r")),  # path-relative alias
        # self-canonical in pre-normalization form (http, www., utm param)
        ("https://cn.test/c", _tag("http://www.cn.test/c?utm_source=x")),
        # non-simple href (percent-escape): compared raw, not normalized
        ("https://cn.test/%7Ep", _tag("https://cn.test/%7Ep")),
        ("https://cn.test/n", "<p>no tag</p>"),
        ("https://cn.test/z", None),
    ]
    df = spark.createDataFrame(rows, "url_norm string, html string")
    decl = CN.declared_canonical(F.col("url_norm"), F.col("html"))

    def gate(d):
        return d.isNull() | (_canonical_norm(d) == F.col("url_norm"))

    def kept(frame, d):
        return {
            r["url_norm"].rsplit("/", 1)[-1]
            for r in frame.filter(gate(d)).collect()
        }

    inline = kept(df, decl)
    bound = kept(
        df.withColumn("_decl", decl).localCheckpoint(eager=True), F.col("_decl")
    )
    assert bound == inline == {"a", "e", "f", "p", "c", "%7Ep", "n", "z"}


# ---- chain / loop collapse ---------------------------------------------------


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, html string")


def _tag(href):
    return f'<link rel="canonical" href="{href}">'


def test_canonical_map_chain_and_loop(spark):
    rows = [
        ("https://s.ex/a", _tag("https://s.ex/b")),   # a -> b -> c
        ("https://s.ex/b", _tag("https://s.ex/c")),
        ("https://s.ex/c", _tag("https://s.ex/c")),   # self
        ("https://s.ex/d", "<p>none</p>"),            # none
        ("https://s.ex/x", _tag("https://s.ex/y")),   # 2-cycle -> loop
        ("https://s.ex/y", _tag("https://s.ex/x")),
    ]
    out = {r["url"]: r for r in CN.canonical_map(_pages(spark, rows)).collect()}
    assert out["https://s.ex/a"]["kind"] == "moved"
    assert out["https://s.ex/a"]["canonical_final"] == "https://s.ex/c"
    assert out["https://s.ex/a"]["hops"] == 2
    assert out["https://s.ex/b"]["canonical_final"] == "https://s.ex/c"
    assert out["https://s.ex/c"]["kind"] == "self"
    assert out["https://s.ex/d"]["kind"] == "none"
    for u in ("https://s.ex/x", "https://s.ex/y"):
        assert out[u]["kind"] == "loop"
        assert out[u]["canonical_final"] == u  # signal ignored


def test_canonical_map_overdeep_chain_ignored(spark):
    # chain of 7 hops > max_hops=5 -> untrusted, kind=loop, self-final
    rows = [
        (f"https://c.ex/{i}", _tag(f"https://c.ex/{i + 1}")) for i in range(7)
    ] + [("https://c.ex/7", "<p>terminal</p>")]
    out = {
        r["url"]: r
        for r in CN.canonical_map(_pages(spark, rows), max_hops=5).collect()
    }
    assert out["https://c.ex/0"]["kind"] == "loop"
    assert out["https://c.ex/0"]["canonical_final"] == "https://c.ex/0"
    # 2 hops from the tail still resolves
    assert out["https://c.ex/5"]["kind"] == "moved"
    assert out["https://c.ex/5"]["canonical_final"] == "https://c.ex/7"


def test_collapse_alternates(spark):
    rows = [
        ("https://s.ex/a", _tag("https://s.ex/c")),
        ("https://s.ex/b", _tag("https://s.ex/c")),
        ("https://s.ex/c", _tag("https://s.ex/c")),
        ("https://s.ex/d", "<p></p>"),
    ]
    got = {
        r["canonical_url"]: r
        for r in CN.collapse_alternates(
            CN.canonical_map(_pages(spark, rows))
        ).collect()
    }
    assert got["https://s.ex/c"]["n_pages"] == 3
    assert got["https://s.ex/c"]["n_alternates"] == 2
    assert got["https://s.ex/d"]["n_pages"] == 1
    assert got["https://s.ex/d"]["n_alternates"] == 0


# ---- hreflang ---------------------------------------------------------------


def _alts(*pairs):
    return "".join(
        f'<link rel="alternate" hreflang="{lang}" href="{href}">'
        for lang, href in pairs
    )


def test_hreflang_clusters_xdefault_key(spark):
    seta = [("x-default", "https://s.ex/"), ("en", "https://s.ex/en"),
            ("de", "https://s.ex/de")]
    rows = [
        ("https://s.ex/en", _alts(*seta)),
        ("https://s.ex/de", _alts(*seta)),
        ("https://other.ex/p", "<p>no alternates</p>"),
    ]
    out = CN.hreflang_clusters(_pages(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["cluster_key"] == "https://s.ex/"  # x-default wins over min()
    assert r["n_pages"] == 2
    assert r["n_langs"] == 3
    assert r["langs"] == "de,en,x-default"


def test_hreflang_min_href_fallback_and_case(spark):
    rows = [
        (
            "https://s.ex/fr",
            _alts(("FR", "https://s.ex/fr"), ("es", "https://s.ex/es")),
        )
    ]
    r = CN.hreflang_clusters(_pages(spark, rows)).first()
    assert r["cluster_key"] == "https://s.ex/es"  # lexicographic min href
    assert r["langs"] == "es,fr"  # lang lowercased


# ---- feeds ------------------------------------------------------------------


def test_feed_links(spark):
    html = (
        '<link rel="alternate" type="application/rss+xml" href="/feed.xml">'
        '<link href="atom.xml" type="application/atom+xml" rel="alternate">'
        '<link rel="alternate" type="text/html" href="/notafeed">'
    )
    rows = [("https://s.ex/blog/post", html)]
    got = {
        r["feed_url"]: r["feed_kind"]
        for r in CN.feed_links(_pages(spark, rows)).collect()
    }
    assert got == {
        "https://s.ex/feed.xml": "rss",
        "https://s.ex/blog/atom.xml": "atom",
    }


def test_feed_links_dedup(spark):
    html = '<link rel="alternate" type="application/rss+xml" href="/f">' * 2
    rows = [("https://s.ex/p", html)]
    assert CN.feed_links(_pages(spark, rows)).count() == 1
