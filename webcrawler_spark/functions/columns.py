"""Native Column expressions — JVM-side, whole-stage-codegen friendly.

Everything here compiles to built-in Catalyst expressions (no Python), so it
stays inside WholeStageCodegen spans at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---- fingerprints & hashes (SURVEY §2.2 F3, F5, F7) --------------------------


def url_fp(url_norm: Column) -> Column:
    """64-bit URL fingerprint — the engine's join/dedup key (north star).

    The reference uses sha256 hex strings (deduplicator.py:76-78); a 64-bit
    xxhash is 4x smaller shuffle payload and Catalyst-native."""
    return F.xxhash64(url_norm)


def content_hash(text: Column) -> Column:
    """sha256 of extracted clean text (parser/app.py:550)."""
    return F.sha2(F.encode(text, "UTF-8"), 256)


def shard_id(host: Column, n_shards: int) -> Column:
    """Deterministic host shard; hash-based like domain_sharding.py:112-122
    but xxhash64 instead of md5 (idiomatic / codegen-friendly)."""
    return F.pmod(F.xxhash64(host), F.lit(n_shards)).cast("int")


def shard_id_md5_parity(host: Column, n_shards: int) -> Column:
    """Exact-parity variant: int(md5(domain),16) % n via the top 15 hex chars
    (domain_sharding.py:112-122)."""
    return F.pmod(F.conv(F.substring(F.md5(host), 1, 15), 16, 10).cast("long"), F.lit(n_shards)).cast(
        "int"
    )


# ---- priority scoring (W2, url_normalizer.py:167-200) -------------------------


def url_priority(url: Column, depth: Column, source_priority: Column) -> Column:
    u = F.lower(url)
    slash_count = F.length(u) - F.length(F.regexp_replace(u, "/", ""))
    bonus = (
        F.when(u.endswith("/") | (slash_count <= 3), F.lit(20)).otherwise(F.lit(0))
        + F.when(u.rlike("news|blog|article|post"), F.lit(10)).otherwise(F.lit(0))
        + F.when(u.rlike("archive|tag|category|page="), F.lit(-15)).otherwise(F.lit(0))
    )
    return F.greatest(
        F.lit(1), F.lit(100) + source_priority + bonus - depth * F.lit(10)
    ).cast("int")


# ---- quality scoring (F14, parser/app.py:353-397) -----------------------------

_WORD_SPLIT = "\\s+"


def word_count(text: Column) -> Column:
    """len(content.split()) equivalent: split on whitespace runs, drop empties."""
    return F.size(F.filter(F.split(text, _WORD_SPLIT), lambda w: w != ""))


def sentence_count(text: Column) -> Column:
    """Sentence count approximation: terminal-punctuation runs."""
    trimmed = F.trim(text)
    n = F.size(F.filter(F.split(trimmed, "[.!?]+"), lambda s: F.trim(s) != ""))
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(n)


def paragraph_count(text: Column) -> Column:
    """len([p for p in content.split('\\n\\n') if p.strip()])
    (parser/app.py:300)."""
    return F.size(F.filter(F.split(text, "\n\n"), lambda p: F.trim(p) != ""))


def uniqueness_ratio(text: Column) -> Column:
    words = F.filter(F.split(F.lower(text), _WORD_SPLIT), lambda w: w != "")
    total = F.size(words)
    return F.when(total > 0, F.size(F.array_distinct(words)) / total).otherwise(F.lit(0.0))


def quality_score(
    text: Column,
    title: Column,
    description: Column,
    flesch: Column | None = None,
) -> Column:
    """0-100 quality ladder (parser/app.py:353-397). ``flesch`` defaults to 0
    (reference scores 0 readability points when textstat fails,
    parser/app.py:308-314)."""
    wc = word_count(text)
    length_score = (
        F.when(wc >= 300, F.lit(25.0))
        .when(wc >= 150, F.lit(15.0))
        .when(wc >= 50, F.lit(10.0))
        .otherwise(F.lit(0.0))
    )
    structure_score = F.when(paragraph_count(text) >= 3, F.lit(10.0)).otherwise(
        F.lit(0.0)
    ) + F.when(sentence_count(text) >= 5, F.lit(10.0)).otherwise(F.lit(0.0))
    fl = flesch if flesch is not None else F.lit(0.0)
    readability_score = (
        F.when((fl >= 60) & (fl <= 80), F.lit(20.0))
        .when((fl >= 40) & (fl <= 90), F.lit(15.0))
        .when(fl > 0, F.lit(10.0))
        .otherwise(F.lit(0.0))
    )
    meta_score = F.when(
        title.isNotNull() & (F.length(title) > 10), F.lit(8.0)
    ).otherwise(F.lit(0.0)) + F.when(
        description.isNotNull() & (F.length(description) > 20), F.lit(7.0)
    ).otherwise(F.lit(0.0))
    uniq_score = F.least(F.lit(20.0), uniqueness_ratio(text) * 25)
    return F.least(
        F.lit(100.0),
        length_score + structure_score + readability_score + meta_score + uniq_score,
    )


def classify_content_type(text: Column, title: Column) -> Column:
    """Keyword-indicator content classifier (parser/app.py:399-424).
    Order matters: news > blog > product > documentation > article."""
    c = F.lower(F.coalesce(text, F.lit("")))
    t = F.lower(F.coalesce(title, F.lit("")))
    news = "published|reporter|breaking|news|update"
    blog = "posted by|author:|blog|opinion|thoughts"
    product = "price|buy now|add to cart|product|review"
    doc = "documentation|api|tutorial|guide|how to"
    return (
        F.when(c.rlike(news) | t.rlike(news), F.lit("news"))
        .when(c.rlike(blog) | t.rlike(blog), F.lit("blog"))
        .when(c.rlike(product), F.lit("product"))
        .when(c.rlike(doc) | t.rlike(doc), F.lit("documentation"))
        .otherwise(F.lit("article"))
    )


# ---- robots gate (P5, politeness_manager.py:76-149) ---------------------------


def robots_allows(
    disallow_prefixes: Column, path: Column, allow_prefixes: Column | None = None
) -> Column:
    """urllib.robotparser.can_fetch parity gate as a native higher-order
    expression: longest-match-wins over the parse-time-pruned Allow/Disallow
    prefix sets (functions/robots.py prunes shadowed rules so urllib's
    first-match-in-file-order collapses to longest-match). A path is allowed
    unless its longest matching prefix is a Disallow; null rules => allowed
    (fetch-failure => allowed, politeness_manager.py:140-149). The
    ``allow_prefixes=None`` form keeps disallow-only dimension tables
    working (no carve-outs => NOT exists semantics, unchanged)."""

    def _longest(prefixes: Column) -> Column:
        # length of the longest matching prefix, -1 if none match
        return F.when(prefixes.isNull(), F.lit(-1)).otherwise(
            F.aggregate(
                F.filter(prefixes, lambda p: path.startswith(p)),
                F.lit(-1),
                lambda acc, p: F.greatest(acc, F.length(p)),
            )
        )

    best_dis = _longest(disallow_prefixes)
    if allow_prefixes is None:
        return best_dis < 0
    return best_dis <= _longest(allow_prefixes)


# ---- misc ---------------------------------------------------------------------


_SCHEME_AUTH = "^[a-zA-Z][a-zA-Z0-9+.-]*://"

# the public tracking-parameter blocklist (utm family by prefix, the rest
# exact); lowercase comparison
TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "yclid", "igshid", "mc_cid", "mc_eid")


def strip_tracking_params(url: Column) -> Column:
    """Remove tracking query parameters (``utm_*`` + TRACKING_PARAMS).

    Opt-in canonicalization EXTRA — not part of the byte-parity normalize
    path (the reference keeps queries verbatim, url_normalizer semantics);
    real crawls enable it because the same page arrives once per marketing
    campaign otherwise. Pure codegen: split the query on ``&``, drop pairs
    whose lowercased name matches the blocklist, rejoin; a query emptied by
    the filter drops its ``?`` entirely. Fragmentless input assumed (the
    normalizer has already removed fragments).
    """
    base = F.substring_index(url, "?", 1)
    query = F.regexp_extract(url, r"\?(.*)$", 1)
    name = lambda p: F.lower(F.substring_index(p, "=", 1))  # noqa: E731
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~(
            name(p).startswith("utm_") | name(p).isin(*TRACKING_PARAMS)
        ),
    )
    return (
        F.when(F.instr(url, "?") == 0, url)
        .when(F.size(kept) == 0, base)
        .otherwise(F.concat(base, F.lit("?"), F.array_join(kept, "&")))
    )


def strip_params_by_rules(url: Column, rule_params: Column) -> Column:
    """Remove query params whose NAME is in ``rule_params`` (array<string>).

    The acting half of DUST mining (operators/dust.py): the mined per-host
    irrelevant-param sets are broadcast-joined onto candidates and stripped
    here, so learned aliases collapse to one url_norm BEFORE the seen
    anti-join — the fetch never happens.  NULL/empty rules (host with no
    learned rules) return the url byte-identical; matching is exact on the
    param name (the miner's groups are case-sensitive, unlike the
    lowercased tracking blocklist).  Pure codegen, same shape as
    :func:`strip_tracking_params`.
    """
    base = F.substring_index(url, "?", 1)
    query = F.regexp_extract(url, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~F.array_contains(rule_params, F.substring_index(p, "=", 1)),
    )
    stripped = (
        F.when(F.instr(url, "?") == 0, url)
        .when(F.size(kept) == 0, base)
        .otherwise(F.concat(base, F.lit("?"), F.array_join(kept, "&")))
    )
    return F.when(
        rule_params.isNull() | (F.size(rule_params) == 0), url
    ).otherwise(stripped)


def surt_host(url: Column) -> Column:
    """Lowercased registrable host of an absolute URL, `www.` stripped, no port.

    Helper for :func:`surt_key`; regex is RE2-safe (shared with the DuckDB
    oracle verbatim).
    """
    host = F.regexp_extract(url, _SCHEME_AUTH + r"(?:[^/?#@]*@)?([^/?#:]+)", 1)
    return F.regexp_replace(F.lower(host), r"^www\.", "")


def surt_key(url: Column) -> Column:
    """SURT-style canonical sort key: ``tld,domain,...,sub)/path``.

    The CDX-index ordering convention (public: Internet Archive / Common
    Crawl SURT — Sort-friendly URI Reordering Transform): reverse the
    dot-separated host labels, join with commas, append ``)`` and the raw
    path (query/fragment dropped, empty path -> ``/``). All URLs of a host
    AND of its subdomains share one key prefix, so a frontier/seen-set table
    sorted (or Iceberg-clustered) by this key answers host- and
    domain-prefix scans with a contiguous range read instead of a full scan
    — the scale replacement for the reference's per-domain Redis queue
    lookups (url_frontier/frontier/app.py domain keying). Entirely native
    (whole-stage codegen); host is lowercased, path case is preserved.
    """
    host = surt_host(url)
    # SURT convention: IPv4 hosts are NOT label-reversed (octet reversal
    # would scatter a subnet's hosts across the keyspace)
    rev = F.when(
        host.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"), host
    ).otherwise(F.array_join(F.reverse(F.split(host, r"\.")), ","))
    path = F.regexp_extract(url, _SCHEME_AUTH + r"[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.concat(rev, F.lit(")"), path)


# RefinedWeb-style URL quality filtering (Penedo et al. 2023 §3.1.2, after
# the public UT1 blocklists): a hard host blocklist plus fractional "soft
# word" scores summed over blocklist words appearing anywhere in the URL.
# The reference only hard-blocks social domains (parser substring list,
# services/parser/app.py); the soft-score tier is the LLM-pipeline
# extension that catches spam/adult URLs on unlisted hosts.

DEFAULT_URL_SOFT_WORDS: dict[str, float] = {
    "casino": 1.0,
    "poker": 0.8,
    "adult": 1.0,
    "free-money": 0.5,
    "webcam": 0.6,
    "lottery": 0.5,
}


def url_block_score(
    url: Column, soft_words: dict[str, float] | None = None
) -> Column:
    """Sum of soft-word weights for blocklist words contained in the URL.

    The word/weight table is a literal struct array folded with
    ``aggregate`` — pure codegen, no join, no UDF; word order is pinned
    (sorted) so the float sum is identical in the DuckDB oracle's
    addition chain.
    """
    words = sorted((soft_words or DEFAULT_URL_SOFT_WORDS).items())
    arr = F.array(
        *[
            F.struct(F.lit(w).alias("w"), F.lit(float(wt)).alias("wt"))
            for w, wt in words
        ]
    )
    return F.aggregate(
        arr,
        F.lit(0.0),
        lambda acc, x: acc
        + F.when(F.contains(url, x["w"]), x["wt"]).otherwise(F.lit(0.0)),
    )


def url_quality_gate(
    url: Column,
    hard_hosts: tuple[str, ...] = (),
    soft_words: dict[str, float] | None = None,
    threshold: float = 1.0,
) -> Column:
    """True iff the URL passes: host not hard-blocked AND soft score <
    threshold (RefinedWeb blocks at cumulative score >= 1.0)."""
    host = surt_host(url)
    hard = host.isin(*hard_hosts) if hard_hosts else F.lit(False)
    return ~hard & (url_block_score(url, soft_words) < F.lit(float(threshold)))


# --- robots META tag (REP page-level layer; robotstxt.org/meta) -------------
# The reference parses robots.txt only; the <meta name="robots"> layer is the
# per-page half of the Robots Exclusion Protocol: noindex = do not index the
# page, nofollow = do not follow its links, none = both. Multiple tags (and
# attribute order variants) combine restrictively per Google/REP docs.

# name="robots" must match EXACTLY (quoted with optional inner whitespace,
# or unquoted followed by a terminator consumed from the char class — NOT a
# lookahead, so the DuckDB oracle's RE2 engine can run the identical
# pattern): `name="robots-nocontent"` and any other robots-prefixed
# attribute value must NOT register as a robots directive. The name-first
# fragment excludes `>` from the terminator so the match can never escape
# the tag; the name-last fragment allows `>` (nothing follows the name).
_MR_NAME_FIRST_FRAG = r"""\bname\s*=\s*(?:["']\s*robots\s*["']|robots[\s/])"""
_MR_NAME_LAST_FRAG = r"""\bname\s*=\s*(?:["']\s*robots\s*["']|robots[\s/>])"""

# content value: quoted (may contain commas/whitespace) or unquoted (a
# single HTML token, valid per the spec: <meta name=robots content=noindex>)
_MR_PATTERNS = (
    rf"""(?is)<meta\b[^>]*{_MR_NAME_FIRST_FRAG}[^>]*\bcontent\s*=\s*["']([^"'>]*)""",
    rf"""(?is)<meta\b[^>]*{_MR_NAME_FIRST_FRAG}[^>]*\bcontent\s*=\s*([^\s"'>]+)""",
    rf"""(?is)<meta\b[^>]*\bcontent\s*=\s*["']([^"'>]*)["'][^>]*{_MR_NAME_LAST_FRAG}""",
    rf"""(?is)<meta\b[^>]*\bcontent\s*=\s*([^\s"'>]+)[^>]*{_MR_NAME_LAST_FRAG}""",
)


def _meta_robots_tokens(html: Column) -> Column:
    """Lowercased, whitespace-stripped directive tokens from EVERY robots
    meta tag in the document (both attribute orders, quoted or unquoted
    attribute values)."""
    contents = F.concat(
        *[F.regexp_extract_all(html, F.lit(p), F.lit(1)) for p in _MR_PATTERNS]
    )
    return F.flatten(
        F.transform(
            contents,
            lambda c: F.split(F.regexp_replace(F.lower(c), r"\s+", ""), ","),
        )
    )


def meta_robots_noindex(html: Column) -> Column:
    """True when any robots meta tag carries noindex (or none)."""
    return F.arrays_overlap(
        _meta_robots_tokens(html), F.array(F.lit("noindex"), F.lit("none"))
    )


def meta_robots_nofollow(html: Column) -> Column:
    """True when any robots meta tag carries nofollow (or none)."""
    return F.arrays_overlap(
        _meta_robots_tokens(html), F.array(F.lit("nofollow"), F.lit("none"))
    )


def registered_domain_col(host: Column) -> Column:
    """Codegen mirror of `urlnorm.registered_domain` (the tldextract
    stand-in, parser/app.py:168-175): last two labels, or three when the
    second-level label is a common SLD (co.uk-style). Byte parity with the
    Python function is pinned in tests. For full publicsuffix.org
    semantics use `operators/psl.py` (broadcast rule dim)."""
    h = F.lower(F.split(host, ":").getItem(0))
    labels = F.split(h, "\\.")
    n = F.size(labels)
    sld = F.element_at(labels, -2)
    tld = F.element_at(labels, -1)
    three = sld.isin("co", "com", "org", "net", "ac", "gov", "edu") & (
        F.length(tld) == 2
    )
    return F.when(n <= 2, h).otherwise(
        F.when(three, F.concat_ws(".", F.element_at(labels, -3), sld, tld)).otherwise(
            F.concat_ws(".", sld, tld)
        )
    )


# ccTLD -> language default for the URL language hint (deliberately small,
# unambiguous subset; multilingual ccTLDs like .ch/.be are omitted rather
# than guessed)
CCTLD_LANG = {
    "de": "de", "fr": "fr", "es": "es", "it": "it", "nl": "nl",
    "pt": "pt", "ru": "ru", "jp": "ja", "cn": "zh", "kr": "ko",
}

_PATH_LANGS = ("de", "en", "es", "fr", "it", "ja", "ko", "nl", "pt", "ru", "zh")


def url_lang_hint(url: Column) -> Column:
    """Pre-fetch language hint from URL structure alone — the routing
    signal a language-targeted crawl applies BEFORE spending fetch budget
    (the reference detects language only after parsing). Precedence:

    1. leading path segment `/xx/` or `/xx-yy/` with a known primary
       subtag (`/de/`, `/pt-br/docs` -> pt);
    2. language-code subdomain (`de.example.com`);
    3. unambiguous ccTLD (`.de` -> de, `.jp` -> ja);
    4. NULL (no structural evidence — fetch-side lang-id decides).

    Pure codegen regexp_extract over the URL — fuses into the frontier
    scan; no UDF, no shuffle."""
    alts = "|".join(_PATH_LANGS)
    path_seg = F.regexp_extract(
        url, rf"^[a-z]+://[^/]+/({alts})(?:-[a-z]{{2}})?(?:[/?#]|$)", 1
    )
    sub = F.regexp_extract(url, rf"^[a-z]+://({alts})\.", 1)
    tld_code = F.regexp_extract(url, r"^[a-z]+://[^/]*\.([a-z]{2})(?::\d+)?(?:[/?#]|$)", 1)
    tld = F.element_at(
        F.create_map(
            *[x for c, l in sorted(CCTLD_LANG.items()) for x in (F.lit(c), F.lit(l))]
        ),
        tld_code,
    )
    nn = lambda c: F.when(c != "", c)  # noqa: E731
    return F.coalesce(nn(path_seg), nn(sub), tld)
