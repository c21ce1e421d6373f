"""Physical-plan audits: the properties that make these plans survive a
100x scale-up, asserted on the actual explain output.

- filters and column projection reach the parquet scan (PushedFilters /
  ReadSchema) — a scan that reads every column for a 2-column projection is
  wrong at 100 TB
- small dimension joins broadcast (no shuffle of the big side)
- no row-at-a-time Python (BatchEvalPython) anywhere in the registry;
  Python appears only as Arrow-batched ArrowEvalPython (pandas UDFs)
- the frontier schedule plan contains exactly the expected shuffles
"""

import io
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def test_filter_pushdown_reaches_scan(spark):
    q = entry_mod.queries()["search_filter_range"]
    plan = plan_str(q(spark, SF_DIR))
    assert "PushedFilters" in plan
    # the lang equality and n_chars range must be pushed, not post-filtered
    assert "EqualTo(lang,en)" in plan.replace(" ", "")
    assert "GreaterThanOrEqual(n_chars,60)" in plan.replace(" ", "")


def test_column_pruning_reaches_scan(spark):
    q = entry_mod.queries()["priority_drain"]
    plan = plan_str(q(spark, SF_DIR))
    # only the 3 needed columns are read, not the full orders schema
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    schema_line = read[0]
    assert "o_orderkey" in schema_line and "o_totalprice" in schema_line
    assert "o_comment" not in schema_line and "o_clerk" not in schema_line


def test_region_revenue_broadcasts_dims(spark):
    q = entry_mod.queries()["region_revenue"]
    plan = plan_str(q(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_robots_join_broadcasts(spark, seeds_df, robots_df):
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.operators import dedup as D
    from webcrawler_spark.operators import scheduler as S

    cand = seeds_df.select(
        "url",
        F.lit(None).cast("string").alias("source_url"),
        F.col("depth"),
        F.col("priority").alias("source_priority"),
    )
    pending = (
        D.canonicalize(cand)
        .withColumn("priority", F.lit(50))
        .withColumn("discovered_epoch", F.lit(0))
        .withColumn("attempts", F.lit(0))
        .drop("source_priority")
    )
    schedule, _, _ = S.schedule_epoch(pending, robots_df, None, 0, CrawlConfig())
    plan = plan_str(schedule)
    assert "BroadcastHashJoin" in plan, "robots dim join must broadcast"


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_no_row_at_a_time_python(spark, name):
    """input_hint bans per-row Python: any Python in a plan must be
    Arrow-batched (ArrowEvalPython), never BatchEvalPython. Same sweep
    also bans unbroadcast Cartesian products repo-wide (broadcast
    nested-loop joins against tiny dims are fine; a shuffled
    CartesianProduct at web scale never is)."""
    df = entry_mod.queries()[name](spark, SF_DIR)
    plan = plan_str(df, "extended")
    assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"
    assert "CartesianProduct" not in plan, f"{name} has a shuffled cartesian"


def _seed_pending(seeds_df):
    from webcrawler_spark.operators import dedup as D

    cand = seeds_df.select(
        "url",
        F.lit(None).cast("string").alias("source_url"),
        F.col("depth"),
        F.col("priority").alias("source_priority"),
    )
    return (
        D.canonicalize(cand)
        .withColumn("priority", F.lit(50))
        .withColumn("discovered_epoch", F.lit(0))
        .withColumn("attempts", F.lit(0))
        .drop("source_priority")
    )


def test_frontier_schedule_single_politeness_shuffle(spark, seeds_df, robots_df):
    """SURVEY §3.2: the politeness+priority stage is one shuffle on host
    (plus the salted pre-rank exchange when salting is on). With salting off,
    exactly one hashpartitioning(host) exchange feeds the window."""
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.operators import scheduler as S

    schedule, _, _ = S.schedule_epoch(
        _seed_pending(seeds_df), robots_df, None, 0, CrawlConfig(), salt_factor=1
    )
    plan = plan_str(schedule, "simple")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 host shuffle, saw {n_exchanges}:\n{plan}"


def test_frontier_schedule_salted_two_phase_shuffles(spark, seeds_df, robots_df):
    """Salting on runs the one two-phase plan: a (host, salt) pre-rank
    exchange, then the per-host window exchange — and nothing that counts
    rows per host first (no second, data-driven salting plan). The pre-rank
    exchange is printed under both arms of the ranked union (survivors and
    pre-deferred overflow), so the check is on the distinct exchange keys."""
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.operators import scheduler as S

    schedule, _, _ = S.schedule_epoch(
        _seed_pending(seeds_df), robots_df, None, 0, CrawlConfig(), salt_factor=4
    )
    plan = plan_str(schedule, "simple")
    keys = {
        re.sub(r"#\d+", "", k).rsplit(",", 1)[0]
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys == {"host, salt", "host"}, f"politeness shuffles {keys}:\n{plan}"
    assert "HashAggregate" not in plan, plan


def test_search_fuzzy_broadcasts_expansions(spark):
    """The fuzzy term-expansion table must reach the token stream as a
    broadcast (it is bounded by |query| x expansion width); a shuffle join
    there would re-partition the full corpus token stream at 100 TB."""
    q = entry_mod.queries()["search_fuzzy"]
    plan = plan_str(q(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_lang_id_multi_all_native(spark):
    """Multi-language ID is a single JVM Project over the scan: no Python
    evaluation of any kind and no shuffle (the stopword intersections and
    the CJK regexp are Column expressions; the higher-order token filter
    keeps the Project out of whole-stage codegen, which is fine — the scale
    property is one pass, zero exchanges)."""
    q = entry_mod.queries()["lang_id_multi"]
    plan = plan_str(q(spark, SF_DIR))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_global_budget_drain_no_full_sort(spark):
    """The band-bounded top-k must never globally sort the input: the final
    ordering is a TakeOrderedAndProject over the filtered band, with no
    Sort + Exchange(rangepartitioning) of the full table."""
    q = entry_mod.queries()["global_budget_drain"]
    plan = plan_str(q(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def _blob_filter(kind, seen):
    """(blob table, probe) for either bucketed seen-set filter; both probes
    run the one shared two-arm blob probe in operators/dedup.py."""
    from webcrawler_spark.operators import cuckoo as CK
    from webcrawler_spark.operators import dedup as D

    if kind == "bloom":
        blobs = D.build_bloom(seen, n_buckets=8, capacity=4000, fp_rate=0.001)
        return blobs, D.bloom_might_contain
    return CK.build_cuckoo(seen, n_buckets=8, capacity=4000), CK.cuckoo_might_contain


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_bloom_probe_broadcast_path_has_no_join(spark, kind):
    """The broadcast blob probe must be a zero-join plan: the blob dict
    rides an sc.broadcast inside the pandas UDF, so the candidate stream is
    scan -> ArrowEvalPython -> project. Any Join/Exchange here means the
    multi-MB blobs are being copied onto candidate rows — the exact plan
    shape the probe rework removed."""
    seen = spark.range(2000).select(F.col("id").alias("url_fp"))
    blobs, probe = _blob_filter(kind, seen)
    probed = probe(spark.range(500).select(F.col("id").alias("url_fp")), blobs)
    plan = plan_str(probed, mode="simple")
    assert plan.count("ArrowEvalPython") == 1
    assert "Join" not in plan and "Exchange" not in plan


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_bloom_probe_cogroup_path_single_bucket_shuffle(spark, kind):
    """The 10^10-fp probe path shuffles BOTH sides once on bucket into a
    cogrouped FlatMapCoGroupsInPandas — no join, no broadcast of blobs, and
    exactly two exchanges (candidates + blob table), each hashpartitioned
    on bucket."""
    seen = spark.range(2000).select(F.col("id").alias("url_fp"))
    blobs, probe = _blob_filter(kind, seen)
    blobs = blobs.persist()
    blobs.count()  # materialize so the build's own shuffle is not in the probe plan
    probed = probe(
        spark.range(500).select(F.col("id").alias("url_fp")),
        blobs,
        broadcast_blobs=False,
    )
    plan = plan_str(probed, mode="simple")
    blobs.unpersist()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Join" not in plan
    # the cached relation echoes its own build plan below InMemoryRelation;
    # the live probe plan above it must hold exactly two bucket shuffles
    live = plan.split("InMemoryRelation")[0]
    assert live.count("Exchange hashpartitioning") == 2


def test_corpus_ops_fully_native(spark):
    """Corpus assembly (sample/mix/pack/decontaminate) and line cleaning
    must stay in whole-stage codegen: no Python of any kind in the plan."""
    for name in (
        "corpus_sample", "corpus_mix", "corpus_pack_shards",
        "corpus_decontaminate", "line_dup_stats", "line_dedup_rebuild",
        "boilerplate_char_frac", "c4_line_filter",
    ):
        plan = plan_str(entry_mod.queries()[name](spark, SF_DIR))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_corpus_mix_broadcasts_rate_dim(spark):
    plan = plan_str(entry_mod.queries()["corpus_mix"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval-set gram dim must broadcast (it's the small side by
    construction); the corpus side must not shuffle for the probe join."""
    plan = plan_str(entry_mod.queries()["benchmark_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_c4_line_filter_no_shuffle(spark):
    """Per-doc higher-order-function filtering needs zero exchanges."""
    plan = plan_str(entry_mod.queries()["c4_line_filter"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_surt_prefix_scan_pure_codegen(spark):
    """SURT key + prefix filter is a map over the scan: zero exchanges,
    no Python — the key must be cheap enough to cluster the whole frontier
    table by it."""
    plan = plan_str(entry_mod.queries()["surt_prefix_scan"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_mirror_hosts_all_native(spark):
    """Mirror detection is joins+aggs only (no Python); the frequency cap
    keeps the fp self-join bounded, asserted functionally in
    test_operators_spark.test_mirror_hosts_cap_and_jaccard."""
    plan = plan_str(entry_mod.queries()["mirror_hosts"](spark, SF_DIR), "extended")
    assert "EvalPython" not in plan


def test_bucketed_seen_anti_join_shuffles_probe_side_only(spark):
    """SCALE.md §2's storage-partitioned-join claim, demonstrated: with the
    seen table stored bucketed on url_fp (Iceberg bucket(url_fp) analog),
    the anti-join shuffles ONLY the candidate side — the accumulated seen
    table is read bucket-aligned (Bucketed: true scan, no Exchange above
    it). At 10^10 rows that is the difference between shuffling 10 GB of
    candidates and shuffling a 900 GB table every epoch."""
    spark.sql("DROP TABLE IF EXISTS seen_bucketed_audit")
    seen = spark.range(100_000).select(F.xxhash64("id").alias("url_fp"))
    (seen.write.bucketBy(8, "url_fp").sortBy("url_fp")
         .mode("overwrite").saveAsTable("seen_bucketed_audit"))
    try:
        # half the candidates are genuinely new
        cand = spark.range(4000).select(
            F.xxhash64(F.col("id") + 98_000).alias("url_fp")
        )
        new = cand.join(spark.table("seen_bucketed_audit").hint("merge"),
                        "url_fp", "left_anti")
        plan = plan_str(new, "simple")
        assert plan.count("Exchange") == 1, plan
        assert "Bucketed: true" in plan
        # exchange sits above the candidate range, not the bucketed scan
        scan_idx = plan.index("Bucketed: true")
        assert "Exchange" not in plan[scan_idx:]
        # and the join is correct: ids 100000..101999 are unseen
        assert new.count() == 2000
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_bucketed_audit")
