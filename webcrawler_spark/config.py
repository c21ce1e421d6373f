"""Engine configuration.

Defaults mirror the reference's constants:
- default_crawl_delay = 1.0 s      (politeness_manager.py:30)
- max_concurrent_per_domain = 2    (politeness_manager.py:31)
- max_requests_per_minute = 60     (politeness_manager.py:43)
- rate-limit defer delay = 10 s    (politeness_manager.py:72)
- fuzzy threshold = 85             (deduplicator.py:33)
- bloom: 10M capacity @ 0.1% FP    (deduplicator.py:42-43)
- max scheduling attempts = 5      (url-scheduler/app.py:419-425)
- delay bucket = 30 s              (url-scheduler/app.py:45-53)
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    # politeness (batch-epoch formulation)
    epoch_seconds: int = 60           # wall-clock each epoch "represents"
    default_crawl_delay: float = 1.0
    max_requests_per_minute: int = 60
    max_concurrent_per_domain: int = 2
    max_attempts: int = 5
    delay_bucket_seconds: int = 30

    # dedup
    fuzzy_threshold: int = 85
    fuzzy_recent_per_host: int = 100  # deduplicator.py:144-150
    bloom_capacity: int = 10_000_000
    bloom_fp_rate: float = 0.001
    bloom_buckets: int = 32           # per-host-hash bloom partitions; 2048 at 10^10 scale
    use_bloom: bool = False           # persistent cross-epoch bloom prefilter in front of the seen anti-join
    compact_every: int = 0            # compact delta tables every N epochs (0 = off); keeps the
                                      # per-epoch read from unioning one dir per prior epoch

    # scale knobs
    shuffle_partitions: int = 32
    n_shards: int = 4                 # docker-compose has 4 fetcher shards
    hot_host_salt: int = 8            # (host, salt) sub-partitions of the two-phase top-k window;
                                      # <= 1 runs the single per-host window

    # training-data extension: mask PII (email/phone/IPv4) in the indexed
    # content column. content_hash stays computed on the UNMASKED text so
    # dedup decisions are identical with scrubbing on or off.
    scrub_pii: bool = False

    # per-epoch inverted-index maintenance (the ES bulk-index analog, S12):
    # each epoch stages a postings delta (word, doc_id, tf, bucket) for its
    # newly indexed docs; the accumulated index is the delta union
    # (operators/postings.py). Off = no extra write job.
    build_index: bool = False

    # politeness keyed on the registrable domain (site) instead of the raw
    # host: every subdomain of a *.blogspot.com-style family shares ONE
    # per-epoch budget — the most conservative member host's. Off =
    # reference parity (per-domain queues keyed on raw host,
    # url-frontier/app.py).
    politeness_by_registrable: bool = False

    # page-level Robots Exclusion Protocol (<meta name="robots">): noindex
    # pages are fetched but not indexed into web_content, nofollow pages
    # contribute no discovered links (none = both). Off = reference parity
    # (the reference honors robots.txt only; its parser keeps rel metadata
    # but never gates on it, services/parser/app.py:142).
    respect_meta_robots: bool = False

    # canonical link element (<link rel="canonical">, operators/canonical.py):
    # a page declaring a canonical target other than itself is fetched and
    # its links followed, but it is NOT indexed into web_content (the site
    # says this body is a duplicate; the declared href is normalized before
    # the self-compare so declaring the pre-normalization URL still counts
    # as self). The parser-extracted link_type='canonical' rows
    # (htmllib.extract_links) become frontier candidates, so the declared
    # target is crawled even when no <a> points at it; chains collapse
    # across epochs as targets are fetched and declare in turn. Off =
    # reference parity (the reference stores canonical link rows but never
    # gates indexing on them nor feeds them to the frontier,
    # services/parser/app.py:122-166, :628-647).
    respect_canonical: bool = False

    # global per-epoch fetch budget (fleet capacity) applied AFTER the
    # per-host politeness schedule: the top `global_budget` schedule rows by
    # (priority [+ host-rank boost] desc, url_norm asc) are kept — exact
    # large-k selection via topk.threshold_topk, no full sort — and the rest
    # are deferred with reason="global_budget". 0 = off (reference parity:
    # the reference has no global cap, capacity is implicit in its fetcher
    # shard count).
    global_budget: int = 0

    # PageRank-ordered crawling (the classic Cho/Page crawl-ordering
    # policy): when on, the global-budget cut scores each schedule row with
    # priority + host_rank_weight * normalized-host-PageRank computed from
    # the links discovered so far — well-linked hosts win the capacity
    # fight. Only meaningful with global_budget > 0 (the per-host politeness
    # window is invariant to a host-constant boost).
    use_host_rank: bool = False
    host_rank_weight: float = 100.0
    host_rank_iters: int = 3
    # which structural score ranks hosts for the boost: "pagerank"
    # (default, damped + dangling-redistributed) or "opic" (Abiteboul et
    # al. 2003 cash/history — the score designed to be maintained online
    # while crawling; same per-round join+agg cost, no damping parameter).
    host_rank_algo: str = "pagerank"

    # strip tracking query params (columns.strip_tracking_params: utm_*,
    # fbclid, gclid, ...) from url_norm at ingest, re-fingerprinting — URLs
    # differing only in campaign tags collapse to ONE frontier row. Off by
    # default (byte-parity with the reference normalizer, which keeps
    # queries verbatim).
    strip_tracking: bool = False

    # DUST rule mining (operators/dust.py, Bar-Yossef et al. WWW'07): after
    # each epoch, mine content-irrelevant query params per host from the
    # accumulated web_content (url_norm, content_hash) evidence and strip
    # them from the NEXT epochs' candidate URLs (columns.strip_params_by_
    # rules) — learned aliases (session ids, affiliate tags) collapse to one
    # url_norm before the seen anti-join, so the fetch never happens. Off by
    # default (byte-parity: no url_norm rewrite).
    mine_dust: bool = False

    # language-targeted crawling: candidates whose URL STRUCTURE declares a
    # language outside the target set (path segment /fr/, language
    # subdomain, unambiguous ccTLD — columns.url_lang_hint) never enter the
    # frontier, so the fetch budget is spent before language is even
    # detectable. URLs with no structural evidence (hint NULL) pass — the
    # post-fetch lang-id decides for them. None = off (reference parity).
    target_langs: tuple[str, ...] | None = None
    dust_min_groups: int = 3

    # soft-404 template defense (operators/traps.soft404_signals): a host
    # answering >= soft404_min_count distinct paths with one short body
    # (avg <= soft404_max_chars) is serving an HTTP-200 error template;
    # matching fetches are excluded from web_content AND from link
    # discovery within their epoch (the fetch itself still happened and
    # counts against budget/host stats). Off by default (reference parity:
    # the reference trusts the status code only).
    detect_soft404: bool = False
    soft404_min_count: int = 5
    soft404_max_chars: int = 512

    # crawl-trap defense (operators/traps.trap_signals) applied to the
    # pending pool each epoch: URLs of hosts whose URL-space shape trips
    # the trap heuristics (deep paths / repeated segments / one dominant
    # digit-template) are rejected with reason="trap_suspect" BEFORE the
    # politeness stage spends budget on them. Off by default (reference
    # parity — the reference has no trap defense).
    detect_traps: bool = False
    trap_min_urls: int = 20

    # cluster frontier/seen delta writes by the SURT sort key
    # (columns.surt_key): adds a `surt` column and sorts rows within each
    # written file by it — the parquet emulation of an Iceberg table SORT
    # ORDER, giving host/domain-subtree scans file-level min/max pruning
    # and contiguous range reads. Off by default (snapshot schema parity
    # with pre-existing catalogs); purely additive when on — readers that
    # don't know the column ignore it.
    cluster_by_surt: bool = False

    # adaptive recrawl (operators/recrawl.update_recrawl_state +
    # intervals_from_state): every successfully fetched URL re-enters the
    # deferred queue with ready_epoch = epoch + interval, where the
    # interval bands the URL's observed change rate (Cho & Garcia-Molina
    # 2003 — fast-changing pages revisit every epoch, static ones stretch
    # to recrawl_max_interval). Off = reference parity: the reference
    # fetches each URL once forever (frontier/app.py seen set, no expiry).
    recrawl: bool = False
    recrawl_max_interval: int = 8

    # mirror-host collapse (operators/mirrors.py wired into the epoch loop):
    # a host whose fetched-content fingerprints are >= mirror_overlap
    # CONTAINED in a canonical partner's set (pair evidence mined per epoch
    # from the fetch_digests table, the same evidence stream DUST mining
    # reads) is dropped from the pending pool before politeness spends
    # budget on it — the cross-host roll-up the per-URL/per-document dedup
    # tiers cannot see. Containment of the (frozen) loser side, not
    # Jaccard: the gate stops the mirror while the canonical host keeps
    # crawling, and Jaccard would dilute below threshold as the canonical
    # side grows. The lexicographically smaller host of each qualifying
    # pair is the canonical representative; the larger is the collapsed
    # mirror. Off = reference parity (no cross-host roll-up).
    collapse_mirrors: bool = False
    mirror_min_shared: int = 2
    mirror_overlap: float = 0.5
    mirror_max_hosts_per_fp: int = 64

    # parser gates (parser/app.py:453,515,534; url_normalizer.py:51)
    min_content_length: int = 100
    min_url_length: int = 10

    # frontier priority defaults
    discovered_priority: int = 5      # parser/app.py:636


DEFAULT_CONFIG = CrawlConfig()

# Every beyond-reference opt-in at once — the configuration a 100-TB deploy
# would actually run, and the one the benchmark's `crawl_full` workload
# crawls with (via all_optins_config).
ALL_OPTINS: dict = dict(
    use_bloom=True,
    cluster_by_surt=True,
    strip_tracking=True,
    detect_traps=True,
    global_budget=100_000,
    use_host_rank=True,
    scrub_pii=True,
    compact_every=2,
    respect_meta_robots=True,
    respect_canonical=True,
    politeness_by_registrable=True,
    build_index=True,
    recrawl=True,
    mine_dust=True,
    detect_soft404=True,
    collapse_mirrors=True,
    target_langs=("en", "de", "fr", "es"),
)


def all_optins_config(**overrides) -> CrawlConfig:
    """CrawlConfig with every opt-in enabled (benchmark defaults:
    epoch_seconds=600, hot_host_salt=4) plus any overrides."""
    base = dict(epoch_seconds=600, hot_host_salt=4, **ALL_OPTINS)
    base.update(overrides)
    return CrawlConfig(**base)
