"""Mirror-host collapse wired into the epoch loop
(CrawlConfig.collapse_mirrors; operators/mirrors.mirror_losers feeding
run_epoch's pending gate the way DUST rules feed canonicalization).

Web under test: canon.com and mirror.com serve byte-identical TEXT at the
same paths (each host's html links to its OWN pages — the realistic mirror
shape: same content, self-referential nav); unique.com serves distinct
content. Depth-2 structure (root -> mids -> leaves) so mirror evidence
mined after epoch 0 can gate candidates that are still undiscovered.
"""

from __future__ import annotations

import datetime

import pytest

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.plans import epoch as E
from webcrawler_spark.storage.catalog import Catalog

TS = datetime.datetime(2024, 1, 1)

HOSTS = ["canon.com", "mirror.com", "unique.com"]


def _page(host: str, path: str, text: str, hrefs: list[str]) -> tuple:
    links = "\n".join(f'<a href="{h}">link</a>' for h in hrefs)
    html = (
        f"<html><head><title>{host}{path}</title></head>"
        f"<body><p>{text}</p>{links}</body></html>"
    )
    return (f"https://{host}{path}", TS, html.encode(), text, "en")


def _web(spark):
    rows = []
    for host in HOSTS:
        # unique.com's bodies differ per host; canon/mirror share text
        tag = "shared" if host in ("canon.com", "mirror.com") else host
        texts = {
            "/": f"Root body for {tag} site. " * 12,
            "/mid1": f"Mid one body for {tag} site. " * 12,
            "/mid2": f"Mid two body for {tag} site. " * 12,
            "/leaf1": f"Leaf one body for {tag} site. " * 12,
            "/leaf2": f"Leaf two body for {tag} site. " * 12,
        }
        rows.append(
            _page(host, "/", texts["/"],
                  [f"https://{host}/mid1", f"https://{host}/mid2"])
        )
        rows.append(_page(host, "/mid1", texts["/mid1"], [f"https://{host}/leaf1"]))
        rows.append(_page(host, "/mid2", texts["/mid2"], [f"https://{host}/leaf2"]))
        rows.append(_page(host, "/leaf1", texts["/leaf1"], []))
        rows.append(_page(host, "/leaf2", texts["/leaf2"], []))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    seeds = spark.createDataFrame(
        [(f"https://{h}/", 1, 0) for h in HOSTS],
        "url string, priority int, depth int",
    )
    return pages, seeds


def _crawl(spark, tmp_path, collapse: bool):
    cfg = CrawlConfig(
        epoch_seconds=6,
        hot_host_salt=2,
        collapse_mirrors=collapse,
        # root-only evidence after epoch 0: one shared fingerprint
        mirror_min_shared=1,
        mirror_overlap=0.5,
    )
    cat = Catalog(spark, str(tmp_path))
    pages, seeds = _web(spark)
    counters = E.run_epochs(spark, cat, pages, seeds, None, 3, cfg)
    frontier = {
        r["url_norm"]: r["status"]
        for r in cat.read_merged("frontier", 2)
        .select("url_norm", "status")
        .collect()
    }
    return counters, frontier


def test_mirror_host_collapsed_from_budget(spark, tmp_path_factory):
    counters, frontier = _crawl(
        spark, tmp_path_factory.mktemp("mirror_on"), collapse=True
    )
    # epoch 0 fetches all three roots (no evidence yet)
    assert frontier["https://canon.com/"] == "fetched"
    assert frontier["https://mirror.com/"] == "fetched"
    assert frontier["https://unique.com/"] == "fetched"
    # evidence mined after epoch 0 marks mirror.com the loser (canon.com is
    # the lexicographically smaller canonical representative): its epoch-1
    # mid candidates are rejected before politeness spends budget on them
    assert frontier["https://mirror.com/mid1"] == "rejected"
    assert frontier["https://mirror.com/mid2"] == "rejected"
    # the canonical host and the unique host keep crawling to the leaves
    for host in ("canon.com", "unique.com"):
        for path in ("/mid1", "/mid2", "/leaf1", "/leaf2"):
            assert frontier[f"https://{host}{path}"] == "fetched", (host, path)
    # mirror leaves are never even discovered (their parents were dropped)
    assert "https://mirror.com/leaf1" not in frontier
    assert "https://mirror.com/leaf2" not in frontier
    # loser-dim counter: the dim each epoch applied, mined from the evidence
    # committed before it (none exists at epoch 0)
    assert "mirror_loser_hosts" not in counters[0]
    assert counters[1]["mirror_loser_hosts"] == counters[2]["mirror_loser_hosts"] == 1


def test_mirror_flag_off_is_parity(spark, tmp_path_factory):
    _, frontier = _crawl(
        spark, tmp_path_factory.mktemp("mirror_off"), collapse=False
    )
    # without the flag the mirror host spends fetch budget all the way down
    for path in ("/mid1", "/mid2", "/leaf1", "/leaf2"):
        assert frontier[f"https://mirror.com{path}"] == "fetched"


def test_mirror_collapse_deterministic(spark, tmp_path_factory):
    c1, f1 = _crawl(spark, tmp_path_factory.mktemp("mirror_d1"), collapse=True)
    c2, f2 = _crawl(spark, tmp_path_factory.mktemp("mirror_d2"), collapse=True)
    strip = lambda cs: [
        {k: v for k, v in c.items() if k != "_telemetry"} for c in cs
    ]
    assert strip(c1) == strip(c2)
    assert f1 == f2


def test_epoch_checkpoint_blocks_freed(spark, tmp_path_factory):
    """The eager localCheckpoint materialization must not leak: every RDD
    cached during an epoch (checkpointed frames + graph-iteration
    checkpoints) is unpersisted after commit, so a long crawl's
    block-manager footprint stays O(one epoch), not O(epochs)."""
    from webcrawler_spark.plans.epoch import _persistent_rdd_entries

    cat = Catalog(spark, str(tmp_path_factory.mktemp("blocks")))
    pages, seeds = _web(spark)
    cfg = CrawlConfig(epoch_seconds=6, hot_host_salt=2)
    before = {e.getKey() for e in _persistent_rdd_entries(spark)}
    E.run_epochs(spark, cat, pages, seeds, None, 3, cfg)
    after = {e.getKey() for e in _persistent_rdd_entries(spark)}
    # run_epochs' own pages_prepared persist is unpersisted on exit too;
    # nothing cached during the crawl may survive it
    assert len(after - before) == 0, sorted(after - before)
