#!/usr/bin/env python
"""spark-submit entrypoint for the crawl engine.

Cluster run (the north-rule deployment shape):

    spark-submit --py-files webcrawler_spark.zip \
        scripts/run_crawl.py \
        --pages s3://bucket/pages/ --seeds s3://bucket/seeds.parquet \
        --robots s3://bucket/robots.parquet \
        --catalog s3://bucket/crawl_state --epochs 10

Local smoke (synthetic web, no inputs needed):

    spark-submit scripts/run_crawl.py --synthetic 2000 --epochs 3 \
        --catalog /tmp/crawl_state

Resumes automatically from the catalog's last committed epoch; exits 0 with
a one-line JSON summary of the counters per epoch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path: (url, warc_ts, html, text, lang)")
    ap.add_argument("--seeds", help="parquet path: (url, priority, depth)")
    ap.add_argument("--robots", help="parquet path: (host, disallow_prefixes, crawl_delay)")
    ap.add_argument("--catalog", required=True, help="crawl-state root (resumable)")
    ap.add_argument("--epochs", type=int, default=1)
    ap.add_argument("--epoch-seconds", type=int, default=600)
    ap.add_argument("--salt", type=int, default=8, help="hot-host salt factor")
    ap.add_argument("--use-bloom", action="store_true")
    ap.add_argument("--recrawl", action="store_true",
                    help="adaptive revisit: fetched URLs re-enter at their "
                         "change-rate-banded interval")
    ap.add_argument("--detect-soft404", action="store_true",
                    help="drop per-host HTTP-200 error-template pages from "
                         "indexing and link discovery")
    ap.add_argument("--mine-dust", action="store_true",
                    help="learn content-irrelevant URL params from fetch "
                         "evidence and strip them from later candidates")
    ap.add_argument("--collapse-mirrors", action="store_true",
                    help="drop hosts proven to mirror a canonical partner's "
                         "content (cross-host fingerprint roll-up) from the "
                         "crawl budget")
    ap.add_argument("--respect-canonical", action="store_true",
                    help="honor <link rel=canonical>: suppress non-self-"
                         "canonical pages from the index and crawl the "
                         "declared targets")
    ap.add_argument("--verify-extraction", action="store_true",
                    help="assert extract_text(html) == text per fetched row")
    ap.add_argument("--synthetic", type=int, metavar="N_PAGES",
                    help="run on a generated N_PAGES synthetic web (smoke mode)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.plans import epoch as E
    from webcrawler_spark.storage.catalog import Catalog

    # spark-submit provides the session config (master, executors, memory);
    # only fall back to a local builder when run directly
    spark = SparkSession.builder.appName("webcrawler-spark-crawl").getOrCreate()

    if args.synthetic:
        from webcrawler_spark import synth

        web = synth.generate_web(seed=42, n_hosts=max(args.synthetic // 100, 4),
                                 n_pages=args.synthetic)
        pages = spark.createDataFrame(
            [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"]) for p in web["pages"]],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        seeds = spark.createDataFrame(
            [(s["url"], s["priority"], s["depth"]) for s in web["seeds"]],
            "url string, priority int, depth int",
        )
        robots = spark.createDataFrame(
            [
                (r["host"], r["allow_prefixes"], r["disallow_prefixes"], r["crawl_delay"])
                for r in web["robots"]
            ],
            "host string, allow_prefixes array<string>, "
            "disallow_prefixes array<string>, crawl_delay double",
        )
    else:
        if not (args.pages and args.seeds):
            ap.error("--pages and --seeds are required without --synthetic")
        pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds)
        robots = spark.read.parquet(args.robots) if args.robots else None

    cfg = CrawlConfig(
        epoch_seconds=args.epoch_seconds,
        hot_host_salt=args.salt,
        use_bloom=args.use_bloom,
        recrawl=args.recrawl,
        mine_dust=args.mine_dust,
        collapse_mirrors=args.collapse_mirrors,
        detect_soft404=args.detect_soft404,
        respect_canonical=args.respect_canonical,
    )
    cat = Catalog(spark, args.catalog)
    counters = E.run_epochs(
        spark, cat, pages, seeds, robots, args.epochs, cfg,
        verify_extraction=args.verify_extraction,
    )
    print(json.dumps({"catalog": args.catalog, "epochs": counters}))
    spark.stop()


if __name__ == "__main__":
    main()
