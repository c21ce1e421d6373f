"""Catalog maintenance (storage/catalog.py): delta compaction — the Iceberg
rewrite_data_files analog that keeps a thousands-of-epochs seen set from
becoming a small-files problem — and rollback.

Invariants:
- read_delta_union is value-identical before and after compaction (epoch
  lineage column included), also when time-travelling below the
  compaction point;
- the crawl continues correctly on a compacted catalog (new epochs stack
  on the compacted base) with crawl-order parity preserved;
- rollback_to truncates the manifest and reclaims what it orphans.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.oracle import run_oracle
from webcrawler_spark.plans import epoch as E
from webcrawler_spark.storage.catalog import DELTA_TABLES, MERGE_TABLES, Catalog

CFG = CrawlConfig(epoch_seconds=6, hot_host_salt=2)


def _seen_rows(cat, epoch):
    df = cat.read_delta_union("seen", epoch)
    return sorted((r["url_norm"], r["epoch"]) for r in df.collect())


@pytest.fixture(scope="module")
def compact_cat(spark, pages_df, seeds_df, robots_df, tmp_path_factory):
    """2 epochs -> compact 'seen' -> 2 more epochs on the compacted base;
    also returns the pre-compaction seen rows as of epochs 0 and 1."""
    root = tmp_path_factory.mktemp("crawl_compact")
    cat = Catalog(spark, str(root))
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 2, CFG)
    before = {e: _seen_rows(cat, e) for e in (0, 1)}
    n = cat.compact_delta("seen", 1)
    assert n == len(before[1])
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 2, CFG)  # resumes at 2
    return cat, before


def test_compaction_value_identity(compact_cat):
    cat, before = compact_cat
    assert _seen_rows(cat, 1) == before[1]  # as-of the compaction point
    # below the compaction point the read filters the base on its lineage
    # column
    assert _seen_rows(cat, 0) == before[0]
    # post-compaction epochs stack on the base
    all_rows = _seen_rows(cat, 3)
    assert set(before[1]) <= set(all_rows)
    assert {e for _, e in all_rows} == {0, 1, 2, 3}


def test_compacted_crawl_matches_oracle(spark, web, compact_cat):
    cat, _ = compact_cat
    oracle = run_oracle(web["pages"], web["seeds"], web["robots"], 4, CFG)
    seen = {r["url_norm"] for r in cat.read_delta_union("seen", 3).collect()}
    assert seen == oracle.seen
    for e in range(4):
        df = cat.read_delta_union("schedule", e)
        rows = df.filter(F.col("epoch") == e).orderBy("host", "rank_in_host").collect()
        got = [(r["host"], r["rank_in_host"], r["url_norm"]) for r in rows]
        assert got == oracle.schedules[e], f"epoch {e} order mismatch after compaction"


def test_frontier_merge_compaction_identity(spark, pages_df, seeds_df, robots_df, tmp_path_factory):
    """Compacting the merge-on-read frontier (base = resolved latest-per-key
    state) leaves read_merged value-identical, and later epochs stack on the
    compacted base."""
    root = tmp_path_factory.mktemp("crawl_frontier_compact")
    cat = Catalog(spark, str(root))
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 2, CFG)

    def merged(epoch):
        return sorted(
            (r["url_norm"], r["status"], r["status_epoch"])
            for r in cat.read_merged("frontier", epoch).collect()
        )

    before0, before = merged(0), merged(1)
    n = cat.compact_delta("frontier", 1)
    assert n == len(before)  # base holds exactly the resolved rows
    assert merged(1) == before
    # below the compaction point the resolved base lacks superseded rows, so
    # the read resolves the raw per-epoch dirs instead
    assert merged(0) == before0
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 2, CFG)
    fps = [r["url_fp"] for r in cat.read_merged("frontier", 3).collect()]
    assert len(fps) == len(set(fps))  # still one row per key after stacking


def test_auto_compaction_in_epoch_loop(spark, pages_df, seeds_df, robots_df, tmp_path_factory, web):
    """cfg.compact_every wires compaction into run_epochs; results identical
    to the uncompacted oracle run."""
    from dataclasses import replace

    cfg = replace(CFG, compact_every=2)
    root = tmp_path_factory.mktemp("crawl_autocompact")
    cat = Catalog(spark, str(root))
    counters = E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 4, cfg)
    assert "maintenance" in counters[1] and "maintenance" in counters[3]
    oracle = run_oracle(web["pages"], web["seeds"], web["robots"], 4, CFG)
    seen = {r["url_norm"] for r in cat.read_delta_union("seen", 3).collect()}
    assert seen == oracle.seen
    comp = cat.read_manifest()["compactions"]
    assert comp["seen"]["as_of"] == 3 and comp["links"]["as_of"] == 3


def test_rollback_to(spark, tmp_path_factory):
    """rollback_to truncates the manifest atomically, reclaims orphaned
    epoch dirs and stale compactions, and the next commit resumes cleanly."""
    import os

    root = tmp_path_factory.mktemp("rollback")
    cat = Catalog(spark, str(root))
    for e in range(4):
        df = spark.createDataFrame([(e * 10, e)], "x int, epoch int")
        cat.commit_epoch(e, {"seen": cat.stage("seen", e, df)}, {"n": e})
    cat.compact_delta("seen", 3)
    assert cat.rollback_to(1) == 2
    assert cat.last_committed_epoch() == 1
    assert sorted(r["x"] for r in cat.read_delta_union("seen", 9).collect()) == [0, 10]
    assert not os.path.exists(root / "seen" / "epoch=3")  # orphans reclaimed
    assert not os.path.exists(root / "seen" / "compact=3")  # stale base dropped
    # resume: a fresh epoch 2 commits on the rolled-back state
    df = spark.createDataFrame([(99, 2)], "x int, epoch int")
    cat.commit_epoch(2, {"seen": cat.stage("seen", 2, df)}, {})
    assert sorted(r["x"] for r in cat.read_delta_union("seen", 9).collect()) == [0, 10, 99]


def test_manifest_with_expired_deltas_refused(spark, tmp_path):
    """A manifest recording expired deltas (a layout whose time travel the
    catalog cannot serve) is refused on read, not misread."""
    root = tmp_path / "expired"
    root.mkdir()
    manifest = {"epochs": [{"epoch": 0, "tables": {"seen": 1}, "counters": {}}],
                "compactions": {"seen": {"as_of": 0}}, "expired": {"seen": 0}}
    (root / "manifest.json").write_text(json.dumps(manifest))
    cat = Catalog(spark, str(root))
    with pytest.raises(ValueError, match="expired deltas"):
        cat.last_committed_epoch()


def test_recompaction_reclaims_old_base(spark, tmp_path_factory):
    import os

    root = tmp_path_factory.mktemp("recompact")
    cat = Catalog(spark, str(root))
    for e in range(3):
        df = spark.createDataFrame([(e * 10, e)], "x int, epoch int")
        cat.commit_epoch(e, {"seen": cat.stage("seen", e, df)}, {})
    cat.compact_delta("seen", 0)
    assert os.path.exists(root / "seen" / "compact=0")
    cat.compact_delta("seen", 2)
    assert os.path.exists(root / "seen" / "compact=2")
    assert not os.path.exists(root / "seen" / "compact=0")  # superseded base reclaimed
    assert sorted(r["x"] for r in cat.read_delta_union("seen", 2).collect()) == [0, 10, 20]
    with pytest.raises(ValueError, match="not a delta table"):
        cat.compact_delta("host_stats", 0)


def test_postings_compaction_identity(spark, pages_df, seeds_df, robots_df, tmp_path_factory):
    """Postings are a first-class delta table (lineage column crawled_epoch)
    on the same compaction cadence as seen/links/frontier: with build_index
    + compact_every, run_epochs folds the one-directory-per-epoch postings
    layout and the accumulated index is value-identical to an uncompacted
    run — with build_index on, a year of hourly epochs is otherwise ~9k
    directories under every BM25 query."""
    cfg_c = CrawlConfig(
        epoch_seconds=6, hot_host_salt=2, build_index=True, compact_every=2
    )
    cfg_u = CrawlConfig(epoch_seconds=6, hot_host_salt=2, build_index=True)

    def postings(tag, cfg):
        root = tmp_path_factory.mktemp(tag)
        cat = Catalog(spark, str(root))
        E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 4, cfg)
        df = cat.read_delta_union("postings", 3)
        rows = sorted(
            (r["word"], r["doc_id"], r["tf"], r["crawled_epoch"])
            for r in df.select("word", "doc_id", "tf", "crawled_epoch").collect()
        )
        comp = cat.read_manifest().get("compactions", {}).get("postings")
        return rows, comp, cat

    rows_c, comp_c, cat_c = postings("postings_compact", cfg_c)
    rows_u, comp_u, _ = postings("postings_plain", cfg_u)
    assert comp_c is not None and comp_c["as_of"] == 3  # cadence fired
    assert comp_u is None
    assert rows_c == rows_u  # value identity, lineage column included
    # time travel below the compaction point still filters on the lineage col
    early = cat_c.read_delta_union("postings", 1)
    assert {r["crawled_epoch"] for r in early.select("crawled_epoch").distinct().collect()} <= {0, 1}


def _jobs_submitted(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_catalog_reads_submit_no_job(spark, compact_cat):
    """The manifest holds every table's schema, so building a read opens no
    parquet footer: no Spark job runs until the caller's own action — on
    a compacted table, a time-travel read and a merge table alike."""
    cat, _ = compact_cat
    last = cat.last_committed_epoch()
    assert set(cat.read_manifest()["schemas"]) >= {"seen", "frontier", "deferred"}
    j0 = _jobs_submitted(spark)
    reads = [
        cat.read_delta_union("seen", last),
        cat.read_delta_union("seen", 1),
        cat.read_snapshot("deferred", last),
        cat.read_merged("frontier", last),
    ]
    assert _jobs_submitted(spark) == j0
    assert all(r is not None for r in reads)


def _assert_pinned_reads_match_inference(spark, cat):
    """Every committed table's catalog read equals a footer-inferred
    ``spark.read.parquet`` of the same files, in schema and in rows."""
    manifest = cat.read_manifest()
    last = manifest["epochs"][-1]["epoch"]
    tables = {t for e in manifest["epochs"] for t in e["tables"]}
    assert {"seen", "links", "frontier", "web_content", "deferred"} <= tables
    for t in sorted(tables):
        if t in DELTA_TABLES | MERGE_TABLES:
            pinned = cat.read_delta_union(t, last)
        else:
            pinned = cat.read_snapshot(t, last)
        inferred = spark.read.parquet(*pinned.inputFiles())
        assert pinned.schema == inferred.schema, t
        assert pinned.exceptAll(inferred).isEmpty(), t
        assert inferred.exceptAll(pinned).isEmpty(), t


def test_pinned_reads_equal_footer_inference(spark, compact_cat, tmp_path):
    """The schema recorded at stage/compaction time reads back exactly what
    footer inference reads: after compaction, after rollback_to, and for a
    manifest without ``schemas`` (a catalog written before schemas were
    recorded), which keeps footer inference until its next commit."""
    src, _ = compact_cat
    root = tmp_path / "cat"
    shutil.copytree(src.root, root)
    cat = Catalog(spark, str(root))
    last = cat.last_committed_epoch()
    _assert_pinned_reads_match_inference(spark, cat)

    for t in ("links", "frontier", "web_content"):
        cat.compact_delta(t, last)
    _assert_pinned_reads_match_inference(spark, cat)

    assert cat.rollback_to(last - 1) == 1
    _assert_pinned_reads_match_inference(spark, cat)

    manifest = cat.read_manifest()
    del manifest["schemas"]
    with open(os.path.join(cat.root, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    j0 = _jobs_submitted(spark)
    cat.read_snapshot("deferred", last - 1)
    assert _jobs_submitted(spark) > j0  # footer inference, as before schemas
    _assert_pinned_reads_match_inference(spark, cat)

    # the next commit that stages a table records its schema again
    deferred = cat.read_snapshot("deferred", last - 1)
    cat.commit_epoch(last, {"deferred": cat.stage("deferred", last, deferred)}, {})
    assert set(cat.read_manifest()["schemas"]) == {"deferred"}
    _assert_pinned_reads_match_inference(spark, cat)
