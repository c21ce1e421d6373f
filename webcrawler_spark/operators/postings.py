"""Materialized inverted index: the Elasticsearch-analog postings table.

The reference indexes every parsed page into Elasticsearch
(services/parser/app.py bulk-index -> services/search-api/app.py queries);
ES's internal structure is an inverted index (term dictionary + postings
lists). The search operators in `operators/search.py` re-tokenize the
corpus per query — correct, and fine when each query is a one-off batch
job, but at 100 TB the scan dominates: every search pays the full
explode + agg over the text column.

This module is the materialize-once scale path: build the postings table
`(word, doc_id, tf)` and the doc-length table once per ingest epoch
(exactly when ES would bulk-index) and answer queries with a term-slice
join — the plan never touches the raw text.

100 TB shape: one explode + map-side partial hash-agg builds the postings
(same shape as keywords_global, the plan the epoch job already runs); the
dictionary is a second hash-agg over the postings, tiny relative to the
corpus. Query time (`postings_bm25`, `champion_topk`): ONE scan of the
postings with the query's word set pushed to parquet, whose output — the
query terms' slice — is hash-partitioned by doc_id once. Per-term `df` is
a map-side partial count over that same exchange (then |query| rows per
partition cross the network), broadcast back; the scored branch re-reads
the exchange (Spark reuses it) and joins the doc lengths and the
broadcast `n_docs`/`avgdl` row, and the per-doc score sum needs no second
shuffle. Every step is partition-parallel — no per-term single reducer.
The pushed word predicate skips only row groups whose min/max exclude the
query terms; on the crawl's unsorted postings that is none, so the scan
reads the whole index once. A table partitioned by `bucket` and queried
with `n_buckets` prunes to the terms' buckets instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens


def build_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """(word, doc_id, tf, bucket): one postings row per distinct (term, doc).

    `bucket` = pmod(xxhash64(word), n_buckets) is the partition key for the
    persisted table — queries prune to their terms' buckets. Mirrors ES's
    shard-internal term partitioning (SURVEY S12-S13)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("word"),
    )
    return (
        toks.groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", F.pmod(F.xxhash64("word"), F.lit(n_buckets)).cast("int"))
    )


def doc_lengths(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, dl): token count per doc — BM25's length normalizer.
    Persisted alongside the postings at index-build time."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("dl"),
    )


def term_dictionary(postings: DataFrame) -> DataFrame:
    """ES term dictionary: per-term document frequency (df), collection
    frequency (cf = total occurrences), and the hottest single-doc tf.
    One hash-agg over the postings; at 100 TB this is the small table the
    query planner broadcasts for idf."""
    return postings.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.max("tf").alias("max_tf"),
    )


def _term_slice(
    postings: DataFrame, query_tokens: list[str], n_buckets: int | None = None
) -> DataFrame:
    """(word, doc_id, tf): the query terms' postings, hash-partitioned by
    doc_id once. Every branch of a query plan built on it (df, champion
    lists, scoring) reads this one exchange, so the postings are scanned
    once. The explicit NOT NULL filters keep the branches' copies of the
    exchange identical: the optimizer would otherwise infer them only on
    the branches that join on word or doc_id. Postings rows always carry
    both, so no row is dropped."""
    qpost = postings
    if n_buckets is not None:
        cond = None
        for t in query_tokens:
            eq = F.col("bucket") == F.pmod(F.xxhash64(F.lit(t)), F.lit(n_buckets)).cast("int")
            cond = eq if cond is None else (cond | eq)
        qpost = qpost.filter(cond)
    return (
        qpost.filter(
            F.col("word").isin(*query_tokens)
            & F.col("word").isNotNull()
            & F.col("doc_id").isNotNull()
        )
        .select("word", "doc_id", "tf")
        .repartition("doc_id")
    )


def _bm25_topk(
    qslice: DataFrame,
    doclens: DataFrame,
    k: int,
    k1: float,
    b: float,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 top-k over a `_term_slice`, scoring only the doc_ids in
    ``docs`` (distinct) when given. df is `count(tf)`, not `count(1)`:
    column pruning would otherwise drop tf from the df branch's copy of
    the slice's exchange, and Spark could no longer reuse it (postings tf
    is never null)."""
    stats = doclens.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    dfreq = qslice.groupBy("word").agg(F.count("tf").alias("df"))
    scored = qslice.join(F.broadcast(dfreq), "word")
    if docs is not None:
        # an inner join with the distinct doc set, not a left_semi: the
        # optimizer pushes a semi join below the exchange, which would give
        # this branch its own scan
        scored = scored.join(F.broadcast(docs), "doc_id")
    scored = (
        scored.join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def postings_bm25(
    postings: DataFrame,
    doclens: DataFrame,
    query_tokens: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
) -> DataFrame:
    """Okapi BM25 top-k answered FROM the materialized index — byte-identical
    scores to `search.search_bm25` on the same corpus (pinned by
    tests/test_postings.py parity), but the plan never touches the text
    column. One scan of `postings` (word set pushed to parquet) feeds one
    doc_id hash exchange; per-term df is a partial count over that
    exchange, broadcast back to it; doc lengths and the broadcast
    n_docs/avgdl row join on, and the per-doc sum runs on the exchange's
    partitioning (no second shuffle of the slice).

    Pass `n_buckets` (the value used at build_postings time) when `postings`
    is a table partitioned by `bucket`: the query then also filters on the
    terms' bucket ids — xxhash64 of literals constant-folds, so the
    predicate lands on the partition column and the scan prunes to |query|
    of n_buckets partitions. The catalog's postings table is not
    partitioned, so the crawl's serving path reads it whole, once."""
    return _bm25_topk(_term_slice(postings, query_tokens, n_buckets), doclens, k, k1, b)


def champion_lists(postings: DataFrame, r: int = 8) -> DataFrame:
    """Tiered index (champion lists, IIR §7.1.3): per term, keep only the r
    highest-impact postings (tf DESC, doc_id ASC tie-break).

    The scale rationale: exact BM25 on a common term scans that term's FULL
    postings list — at 10^10 docs, "the" is billions of rows per query.  The
    champion table is ≤ r rows per term, materialized once at index-build
    time next to the postings (same bucketing), so the candidate-generation
    read is r×|query| rows regardless of corpus size.  One window over the
    postings' own (word) partitioning — no extra shuffle beyond the build."""
    from pyspark.sql import Window

    w = Window.partitionBy("word").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        postings.withColumn("champ_rank", F.row_number().over(w))
        .filter(F.col("champ_rank") <= r)
        .drop("champ_rank")
    )


def champion_topk(
    postings: DataFrame,
    doclens: DataFrame,
    query_tokens: list[str],
    r: int = 8,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k answered from champion lists: candidates are the union of
    the query terms' champion lists (≤ r×|query| docs, broadcast); scoring
    is EXACT BM25 (global df, true tf/dl) restricted to those candidates.
    Deterministic contract — same champions in, same top-k out — so the
    DuckDB oracle replays it exactly; recall vs exact BM25 is a quality
    knob (r), not a correctness one. Same single-scan slice as
    `postings_bm25`; the champion window and the scored branch both read
    its one doc_id exchange."""
    qslice = _term_slice(postings, query_tokens)
    cand = champion_lists(qslice, r).select("doc_id").distinct()
    return _bm25_topk(qslice, doclens, k, k1, b, cand)


def postings_varbyte_stats(postings: DataFrame, top_n: int = 50) -> DataFrame:
    """Index-size accounting: per-term delta-gap + varbyte cost of the
    postings list vs raw 8-byte ids — the compaction/storage planner's
    input (decides which segments are worth re-sorting by doc_id before
    flush; gap-encoded sorted runs are ~5-8× smaller on clustered ids).

    Varbyte: 7 payload bits per byte → 1 byte for gap<2^7, 2 for <2^14,
    3 for <2^21, else 4 (integer-exact CASE, no float log — portable across
    engines).  First posting stores the id itself (+1: ids are 0-based).
    Requires an integral doc-id column (map string urls to a dense id
    first, as the catalog's crawl_id does).  One window over the postings'
    (word) partitioning + one hash-agg."""
    from pyspark.sql import Window

    w = Window.partitionBy("word").orderBy("did")
    g = (
        postings.select("word", F.col("doc_id").cast("bigint").alias("did"))
        .withColumn("prev", F.lag("did").over(w))
        .withColumn(
            "gap",
            F.when(F.col("prev").isNull(), F.col("did") + 1).otherwise(
                F.col("did") - F.col("prev")
            ),
        )
    )
    vb = (
        F.when(F.col("gap") < 128, 1)
        .when(F.col("gap") < 16384, 2)
        .when(F.col("gap") < 2097152, 3)
        .otherwise(4)
    )
    out = (
        g.withColumn("vb", vb)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("vb").cast("bigint").alias("varbyte_bytes"),
        )
        .withColumn("raw_bytes", (F.col("df") * 8).cast("bigint"))
        .withColumn("ratio", F.round(F.col("raw_bytes") / F.col("varbyte_bytes"), 4))
    )
    return out.orderBy(F.desc("df"), F.asc("word")).limit(top_n)


def postings_phrase_slop(
    positional: DataFrame,
    term_a: str,
    term_b: str,
    slop: int = 2,
    k: int = 20,
) -> DataFrame:
    """Two-term sloppy phrase from the positional index — ES
    `match_phrase` with `slop` (Q1 family).  A position pair matches when
    |pos_b − pos_a − 1| ≤ slop, which for two terms is exactly Lucene's
    move-count semantics: adjacent in order = 0 moves, one word between
    = 1, adjacent reversed = 2.  Returns (doc_id, slop_freq, min_moves)
    ranked by slop_freq DESC, doc_id ASC.

    Plan shape: each term's postings slice is a pruned read (term + bucket
    predicate on the persisted table); the pair join is per-doc on doc_id
    with the position band as the join residual — fan-out bounded by
    tf_a × tf_b inside one doc, never cross-doc.  Exact phrase (slop=0)
    stays on `postings_phrase`, which generalizes to n terms."""
    pa = positional.filter(F.col("word") == term_a).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    pb = positional.filter(F.col("word") == term_b).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    moves = F.abs(F.col("pos_b") - F.col("pos_a") - 1)
    pairs = pa.join(pb, "doc_id").withColumn("moves", moves).filter(
        F.col("moves") <= slop
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("slop_freq"),
            F.min("moves").cast("bigint").alias("min_moves"),
        )
        .orderBy(F.desc("slop_freq"), F.asc("doc_id"))
        .limit(k)
    )


def merge_postings(base: DataFrame, delta: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Index maintenance across crawl epochs (the ES segment-merge /
    re-index analog): the delta's documents REPLACE their base postings
    (a re-crawled page's old terms must vanish), unseen documents append.
    One left-anti join on the delta's (small, per-epoch) doc-id set + a
    union — the accumulated base never rewrites, matching the catalog's
    merge-on-read discipline; compaction folds deltas on the same cadence
    as `Catalog.compact_delta`."""
    delta_docs = delta.select(id_col).distinct()
    kept = base.join(delta_docs, id_col, "left_anti")
    return kept.unionByName(delta)


def build_positional_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """(word, doc_id, pos, bucket): the POSITIONAL index — what ES actually
    stores to answer match_phrase without re-reading source text. One
    posexplode; positions are 1-based over the analyzed token stream (the
    same stream `phrase_count` scans), bucketed by term hash like
    `build_postings` for query-time partition pruning."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos0", "word"),
    )
    return toks.select(
        "word",
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.pmod(F.xxhash64("word"), F.lit(n_buckets)).cast("int").alias("bucket"),
    )


def postings_phrase(
    positional: DataFrame,
    phrase_tokens: list[str],
    k: int = 20,
) -> DataFrame:
    """match_phrase answered FROM the positional index — identical results
    to `search.search_phrase` (pinned in tests): the first term's postings
    anchor candidate starts, each subsequent term joins on
    (doc_id, pos = start + offset), adjacency falls out of the equi-join
    keys. Per-term slices are scan-pruned exactly like postings_bm25; the
    joins key on (doc, position) — co-partitioned after the first
    shuffle, and survivor cardinality shrinks at every step."""
    n = len(phrase_tokens)
    cur = (
        positional.filter(F.col("word") == phrase_tokens[0])
        .select("doc_id", F.col("pos").alias("start"))
    )
    for j in range(1, n):
        nxt = positional.filter(F.col("word") == phrase_tokens[j]).select(
            "doc_id", (F.col("pos") - j).alias("start")
        )
        cur = cur.join(nxt, ["doc_id", "start"])
    return (
        cur.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("phrase_freq"))
        .orderBy(F.desc("phrase_freq"), F.asc("doc_id"))
        .limit(k)
    )
