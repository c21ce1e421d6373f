"""Catalog maintenance (storage/catalog.py): delta compaction + expiry —
the Iceberg rewrite_data_files / expire_snapshots analogs that keep a
thousands-of-epochs seen set from becoming a small-files problem.

Invariants:
- read_delta_union is value-identical before and after compaction (epoch
  lineage column included);
- the crawl continues correctly on a compacted catalog (new epochs stack
  on the compacted base) with crawl-order parity preserved;
- expiry below the compaction point keeps current-state reads intact and
  refuses time travel below the boundary;
- expiry without a covering compaction is refused.
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
    """2 epochs -> compact 'seen' -> 2 more epochs on the compacted base."""
    root = tmp_path_factory.mktemp("crawl_compact")
    cat = Catalog(spark, str(root))
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 2, CFG)
    before = _seen_rows(cat, 1)
    n = cat.compact_delta("seen", 1)
    assert n == len(before)
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 2, CFG)  # resumes at 2
    return cat, before


def test_compaction_value_identity(compact_cat):
    cat, before = compact_cat
    assert _seen_rows(cat, 1) == before  # as-of the compaction point
    # post-compaction epochs stack on the base
    all_rows = _seen_rows(cat, 3)
    assert set(before) <= set(all_rows)
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
    before = sorted(
        (r["url_norm"], r["status"], r["status_epoch"])
        for r in cat.read_merged("frontier", 1).collect()
    )
    n = cat.compact_delta("frontier", 1)
    assert n == len(before)  # base holds exactly the resolved rows
    assert before == sorted(
        (r["url_norm"], r["status"], r["status_epoch"])
        for r in cat.read_merged("frontier", 1).collect()
    )
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 2, CFG)
    merged = cat.read_merged("frontier", 3)
    fps = [r["url_fp"] for r in merged.collect()]
    assert len(fps) == len(set(fps))  # still one row per key after stacking
    # expiry below the compaction point: current state intact, time travel
    # below the boundary (raw dirs gone) refuses
    state = sorted((r["url_norm"], r["status"]) for r in merged.collect())
    cat.expire_deltas_before("frontier", 1)
    assert state == sorted(
        (r["url_norm"], r["status"]) for r in cat.read_merged("frontier", 3).collect()
    )
    with pytest.raises(ValueError, match="expired"):
        cat.read_merged("frontier", 0)


def test_expiry_semantics(compact_cat):
    cat, _ = compact_cat
    state_before = _seen_rows(cat, 3)
    epoch0_rows = _seen_rows(cat, 0)
    removed = cat.expire_deltas_before("seen", 1)
    assert removed == 2  # epoch=0 and epoch=1 dirs
    # current state unchanged (served from compact base + live deltas)
    assert _seen_rows(cat, 3) == state_before
    assert _seen_rows(cat, 1) is not None  # exactly the compaction point: OK
    # time travel BELOW the boundary still works: the base keeps each row's
    # lineage epoch, so the read filters the compacted base
    assert _seen_rows(cat, 0) == epoch0_rows
    # ...but a new compaction below the boundary (built from the raw
    # partitions) refuses
    with pytest.raises(ValueError, match="expired"):
        cat.compact_delta("seen", 0)


def test_expire_without_compaction_refused(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("noncompact")
    cat = Catalog(spark, str(root))
    df = spark.createDataFrame([(1, 0)], "x int, epoch int")
    c = cat.stage("links", 0, df)
    cat.commit_epoch(0, {"links": c}, {})
    with pytest.raises(ValueError, match="not covered"):
        cat.expire_deltas_before("links", 0)
    with pytest.raises(ValueError, match="not a delta table"):
        cat.compact_delta("host_stats", 0)


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


def test_incremental_read_delta_and_merge(spark, tmp_path_factory):
    """read_incremental returns exactly the rows committed in (from, to]:
    raw appends for delta tables, net-change-per-key for merge tables; None
    outside the range; refuses an expired range."""
    root = tmp_path_factory.mktemp("incr")
    cat = Catalog(spark, str(root))
    for e in range(4):
        seen = spark.createDataFrame([(e * 10, e), (e * 10 + 1, e)], "x int, epoch int")
        # frontier touches key 7 every epoch (status flips) + one new key
        fr = spark.createDataFrame(
            [(7, f"s{e}", e), (100 + e, "pending", e)],
            "url_fp long, status string, status_epoch int",
        )
        cat.commit_epoch(
            e,
            {"seen": cat.stage("seen", e, seen),
             "frontier": cat.stage("frontier", e, fr)},
            {},
        )
    inc = cat.read_incremental("seen", 0, 2)  # epochs 1 and 2 only
    assert sorted(r["x"] for r in inc.collect()) == [10, 11, 20, 21]
    assert cat.read_incremental("seen", 3, 9) is None
    # merge table: net change per key across (0, 2] — key 7 resolves to its
    # LATEST touch in the range (epoch 2), not one row per touch
    chg = {r["url_fp"]: r for r in cat.read_incremental("frontier", 0, 2).collect()}
    assert set(chg) == {7, 101, 102}
    assert chg[7]["status"] == "s2" and chg[7]["status_epoch"] == 2
    # expired range refuses
    cat.compact_delta("seen", 1)
    cat.expire_deltas_before("seen", 1)
    with pytest.raises(ValueError, match="expired"):
        cat.read_incremental("seen", 0, 2)
    # a range fully above the expiry boundary still works
    assert sorted(r["x"] for r in cat.read_incremental("seen", 1, 3).collect()) == [
        20, 21, 30, 31,
    ]


def test_rollback_to(spark, tmp_path_factory):
    """rollback_to truncates the manifest atomically, reclaims orphaned
    epoch dirs and stale compactions, and the next commit resumes cleanly;
    refused when a compaction above the target is the only copy of expired
    deltas."""
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
    # refusal: expired deltas live only in a compaction above the target
    root2 = tmp_path_factory.mktemp("rollback_refuse")
    cat2 = Catalog(spark, str(root2))
    for e in range(3):
        df = spark.createDataFrame([(e, e)], "x int, epoch int")
        cat2.commit_epoch(e, {"seen": cat2.stage("seen", e, df)}, {})
    cat2.compact_delta("seen", 2)
    cat2.expire_deltas_before("seen", 2)
    with pytest.raises(ValueError, match="roll back"):
        cat2.rollback_to(1)


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


def test_snapshot_diff_changelog(spark, pages_df, seeds_df, robots_df, tmp_path):
    cat = Catalog(spark, str(tmp_path / "diffcat"))
    E.run_epochs(spark, cat, pages_df, seeds_df, robots_df, 3, CFG)

    d = cat.snapshot_diff("frontier", 1, 2)
    rows = d.collect()
    kinds = {r["change_type"] for r in rows}
    # epoch 2 both resolves earlier deferred keys (update) and discovers
    # new ones (insert)
    assert kinds == {"insert", "update"}
    for r in rows:
        if r["change_type"] == "insert":
            assert r["before"] is None
        else:
            # the payload moved — seq-only touches are filtered out
            assert (r["before"]["status"], r["before"]["priority"],
                    r["before"]["depth"]) !=                    (r["after"]["status"], r["after"]["priority"],
                    r["after"]["depth"])
    # every changed key's after-state matches the resolved to_epoch state
    resolved = {r["url_fp"]: r for r in cat.read_merged("frontier", 2).collect()}
    for r in rows:
        assert r["after"]["status"] == resolved[r["url_fp"]]["status"]
    # touched-but-payload-identical keys are omitted (net changelog): the
    # changed set is strictly smaller than the touched set
    touched = cat.read_incremental("frontier", 1, 2).count()
    assert len(rows) < touched
    # append-only tables have no merge changelog — their changelog IS
    # read_incremental
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cat.snapshot_diff("seen", 1, 2)
    # empty range -> None
    assert cat.snapshot_diff("frontier", 2, 2) is None


def test_file_stats_tracks_compaction(compact_cat, spark):
    cat, _before = compact_cat
    stats = {(r["kind"], r["epoch"]): (r["n_files"], r["total_bytes"])
             for r in cat.file_stats("seen").collect()}
    # compacted base for epochs <= 1 plus the two post-compaction deltas
    assert ("base", 1) in stats
    assert any(k == "delta" and e >= 2 for k, e in stats)
    assert all(n >= 1 and b > 0 for n, b in stats.values())
    # the base absorbed epochs 0-1: no delta rows remain at or below it
    # unless their dirs still exist pre-expiry (they may); after expiry
    # they must be gone
    cat.expire_deltas_before("seen", 1)
    after = {(r["kind"], r["epoch"]) for r in cat.file_stats("seen").collect()}
    assert not any(k == "delta" and e <= 1 for k, e in after)


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
        cat.read_incremental("frontier", 1, last),
        cat.read_delta_pruned("frontier", last, "url_fp", 0, 2**62),
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
