"""Search-style analytics: the ES query DSL re-expressed relationally
(SURVEY §2.9 Q1-Q6 + §2.5 A9-A11).

All native Column expressions — facets in one pass, token-overlap scoring
with field boosts, range filters, prefix suggestions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import tokens


def facet_counts(df: DataFrame, col: str, limit: int) -> DataFrame:
    """ES terms aggregation (search-api/app.py:264-287): top-N values by
    count, deterministic tiebreak on the value."""
    return (
        df.groupBy(F.col(col))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc(col))
        .limit(limit)
    )


def analytics_overview(df: DataFrame, group_col: str, stat_col: str) -> DataFrame:
    """ES analytics (search-api/app.py:393-459): doc count, cardinality,
    stats agg. Exact countDistinct here so the DuckDB oracle agrees;
    approx_count_distinct is the 100 TB knob (ES cardinality is itself HLL)."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(group_col).alias("n_groups"),
        F.round(F.avg(stat_col), 4).alias("avg_stat"),
        F.min(stat_col).alias("min_stat"),
        F.max(stat_col).alias("max_stat"),
    )


def match_score(text: Column, query_tokens: list[str]) -> Column:
    """multi_match-style scoring (search-api/app.py:205-217): number of
    distinct query tokens present in the field's token set."""
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens(text)),
            F.array(*[F.lit(t) for t in query_tokens]),
        )
    )


def search(
    df: DataFrame,
    query_tokens: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    require_all: bool = False,
    min_should_match: int | None = None,
) -> DataFrame:
    """Filter-then-score (bool must+filter semantics, Q4): non-scoring
    filters first, match count as score, deterministic top-k.

    ``min_should_match`` is ES's minimum_should_match for the OR case —
    at least that many distinct query terms must match (operator:or with
    a threshold between any-term and all-terms). require_all (operator:
    and) wins if both are given."""
    scored = df.select(
        F.col(id_col), match_score(F.col(text_col), query_tokens).alias("score")
    )
    if require_all:
        min_score = len(query_tokens)
    elif min_should_match is not None:
        min_score = min(min_should_match, len(query_tokens))
    else:
        min_score = 1
    return (
        scored.filter(F.col("score") >= min_score)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def search_best_fields(
    df: DataFrame,
    fields_boosts: list[tuple[str, float]],
    query_tokens: list[str],
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """ES multi_match best_fields with boosts (search-api/app.py:205-217:
    title^3, description^2, content^1): score each field as
    boost * |query_tokens ∩ field_tokens|, take the best field's score.
    One scan, all-native expressions."""
    per_field = [
        F.lit(float(boost)) * match_score(F.col(field), query_tokens)
        for field, boost in fields_boosts
    ]
    score = per_field[0] if len(per_field) == 1 else F.greatest(*per_field)
    return (
        df.select(F.col(id_col), F.round(score, 6).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def paginate(
    df: DataFrame,
    order_cols: list,
    page: int,
    size: int,
) -> DataFrame:
    """W5 (search-api/app.py:193-194): stable from/size paging via a global
    row_number window. The empty partitionBy is intentional and fine for
    result pages (the input is already filtered/ranked top-N sized); for
    unbounded inputs use orderBy().limit() + offset instead."""
    from pyspark.sql import Window

    w = Window.orderBy(*order_cols)
    lo, hi = page * size, (page + 1) * size
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > lo) & (F.col("rn") <= hi))
    )


def search_after(
    df: DataFrame,
    order_col: str,
    id_col: str,
    after_key,
    after_id,
    size: int,
) -> DataFrame:
    """ES ``search_after`` keyset pagination — the deep-paging scale path.

    from+size paging (``paginate`` above, search-api/app.py:193-194) ranks
    the FULL result set with a single-partition row_number window and
    discards ``from`` rows per page: O(from + size) work per page, and at
    100 TB the empty-partitionBy window funnels everything through one
    task. search_after instead filters strictly past the cursor (the sort
    key of the previous page's last hit) and takes a top-k: a pushed-down
    predicate + TakeOrderedAndProject, O(size) result state at ANY depth,
    no global window. Sort contract matches ES: (order_col DESC, id_col
    ASC) with the cursor compared lexicographically."""
    return (
        df.filter(
            (F.col(order_col) < F.lit(after_key))
            | (
                (F.col(order_col) == F.lit(after_key))
                & (F.col(id_col) > F.lit(after_id))
            )
        )
        .orderBy(F.desc(order_col), F.asc(id_col))
        .limit(size)
    )


def search_bm25(
    df: DataFrame,
    query_tokens: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 — what Elasticsearch actually scores multi_match with
    (search-api/app.py:205-217's _score). Pure relational formulation:

        idf(t)    = ln(1 + (N - df + 0.5)/(df + 0.5))
        score(d)  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    One explode + three aggregates; df/N/avgdl are tiny broadcast sides.
    Deterministic tiebreak on id."""
    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("word"))
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtf = (
        toks.filter(F.col("word").isin(*query_tokens))
        .groupBy("id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = qtf.groupBy("word").agg(F.countDistinct("id").alias("df"))
    scored = (
        qtf.join(F.broadcast(dfreq), "word")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf", F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("id")
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
        .select(F.col("id").alias(id_col), "score")
    )


def fuzzy_auto_max_edits(term: str) -> int:
    """ES ``fuzziness: AUTO`` edit budget (search-api/app.py:215): terms of
    length 0-2 must match exactly, 3-5 allow 1 edit, >= 6 allow 2."""
    n = len(term)
    return 0 if n <= 2 else (1 if n <= 5 else 2)


def _osa_distance():
    """Arrow-batched optimal-string-alignment (Damerau-Levenshtein with
    adjacent transposition = 1 edit) — the distance Lucene's FuzzyQuery
    uses when ``transpositions: true`` (the ES default for fuzziness AUTO,
    search-api/app.py:210). Runs ONLY on the vocab x query expansion pairs
    already pruned by the AUTO length band, never on the token stream —
    with Heaps'-law vocab and <=3 query terms that's thousands of short
    string pairs per corpus, not a hot path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def osa(word: pd.Series, qt: pd.Series) -> pd.Series:
        def dist(a: str, b: str) -> int:
            la, lb = len(a), len(b)
            prev2: list[int] = []
            prev = list(range(lb + 1))
            for i in range(1, la + 1):
                cur = [i] + [0] * lb
                for j in range(1, lb + 1):
                    cost = 0 if a[i - 1] == b[j - 1] else 1
                    cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
                    if (
                        i > 1
                        and j > 1
                        and a[i - 1] == b[j - 2]
                        and a[i - 2] == b[j - 1]
                    ):
                        cur[j] = min(cur[j], prev2[j - 2] + 1)
                prev2, prev = prev, cur
            return prev[lb]

        return pd.Series(
            [dist(w or "", q or "") for w, q in zip(word, qt)], dtype="int32"
        )

    return osa


def search_fuzzy(
    df: DataFrame,
    query_tokens: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    require_all: bool = True,
    transpositions: bool = False,
) -> DataFrame:
    """Q1's ``fuzziness: AUTO`` + ``operator: and`` (search-api/app.py:205-217)
    as relational term-dictionary expansion — the same shape Lucene uses
    (FuzzyQuery walks the term dictionary with a Levenshtein automaton,
    then scores the expanded terms):

      1. vocab = distinct tokens over the corpus (Heaps' law: the term
         dictionary is tiny relative to the token stream — at 100 TB of text
         the vocab is millions of rows, broadcast-join territory).
      2. expansions = vocab x query terms, pruned by the AUTO length band
         (|len(w) - len(q)| <= max_edits short-circuits before the O(n*m)
         distance) then JVM-native ``levenshtein() <= max_edits``.
         Per-expansion similarity = 1 - dist/max(len) (Lucene's fuzzy boost).
      3. docs join the (tiny, broadcast) expansion table on the token; a doc
         scores sum over query terms of its best expansion similarity, and
         ``operator: and`` keeps docs matching every query term.

    ``transpositions=False`` (default): classic Levenshtein (Spark/DuckDB
    built-in, the oracle-checked path) — a transposition counts 2 edits.
    ``transpositions=True``: optimal-string-alignment Damerau distance
    (adjacent transposition = 1 edit), matching ES/Lucene's
    ``fuzziness: AUTO`` default (search-api/app.py:210) so ``teh -> the``
    style typos hit at distance 1; computed by an Arrow-batched UDF on the
    (bounded) expansion pairs only."""
    # a repeated query token is one term (ES operator:and semantics) — and a
    # duplicate qdf row would both double-count the score sum and make the
    # require_all count (#distinct matched terms) unreachable
    query_tokens = list(dict.fromkeys(query_tokens))
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("word"),
    )
    qdf = df.sparkSession.createDataFrame(
        [(t, fuzzy_auto_max_edits(t)) for t in query_tokens], "qt string, maxe int"
    )
    vocab = toks.select("word").distinct()
    if transpositions:
        dist = _osa_distance()(F.col("word"), F.col("qt"))
    else:
        dist = F.levenshtein("word", "qt")
    expansions = (
        vocab.crossJoin(F.broadcast(qdf))
        .filter(F.abs(F.length("word") - F.length("qt")) <= F.col("maxe"))
        .withColumn("dist", dist)
        .filter(F.col("dist") <= F.col("maxe"))
        .withColumn(
            "sim",
            F.lit(1.0)
            - F.col("dist") / F.greatest(F.length("word"), F.length("qt")),
        )
        .select("word", "qt", "sim")
    )
    per_term = (
        toks.join(F.broadcast(expansions), "word")
        .groupBy("id", "qt")
        .agg(F.max("sim").alias("best"))
    )
    scored = per_term.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_terms"), F.round(F.sum("best"), 4).alias("score")
    )
    if require_all:
        scored = scored.filter(F.col("n_terms") == len(query_tokens))
    return (
        scored.orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
        .select(F.col("id").alias(id_col), "score")
    )


def suggest_prefix(
    df: DataFrame, field: str, prefix: str, rank_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Completion suggester (search-api/app.py:357-391): prefix match, top-k
    by rank column."""
    return (
        df.filter(F.lower(F.col(field)).startswith(prefix.lower()))
        .orderBy(F.desc(rank_col), F.asc(id_col))
        .limit(k)
    )


def phrase_count(text: Column, phrase_tokens: list[str]) -> Column:
    """Occurrences of the exact token sequence (ES ``match_phrase``
    semantics: positional adjacency over the analyzed token stream, NOT a
    substring test — "new york" does not match "newark, york road").
    Native: one pass over candidate start positions with a higher-order
    filter; no explode, no shuffle. The token array is bound once as a
    lambda variable: an interpreted lambda re-evaluates every outer
    expression it references, so indexing ``tokens(text)`` directly would
    re-tokenize the text per start position (quadratic in its length)."""
    n = len(phrase_tokens)

    def _count(toks: Column) -> Column:
        def _match(i: Column) -> Column:
            cond = F.lit(True)
            for j, t in enumerate(phrase_tokens):
                cond = cond & (F.element_at(toks, i + j) == t)
            return cond

        starts = F.sequence(F.lit(1), F.size(toks) - n + 1)
        return F.when(F.size(toks) < n, F.lit(0)).otherwise(
            F.size(F.filter(starts, _match))
        )

    return F.transform(F.array(tokens(text)), _count)[0]


def search_phrase(
    df: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """match_phrase query: docs containing the token sequence, scored by
    occurrence count, deterministic top-k."""
    phrase_tokens = [t for t in __import__("re").split("[^a-z0-9]+", phrase.lower()) if t]
    scored = df.select(
        F.col(id_col), phrase_count(F.col(text_col), phrase_tokens).alias("phrase_freq")
    )
    return (
        scored.filter(F.col("phrase_freq") > 0)
        .orderBy(F.desc("phrase_freq"), F.asc(id_col))
        .limit(k)
    )


def significant_terms(
    df: DataFrame,
    subset: Column,
    text_col: str = "text",
    k: int = 10,
    min_doc_count: int = 3,
) -> DataFrame:
    """ES ``significant_terms`` aggregation: terms overrepresented in the
    ``subset`` docs vs the whole corpus, JLH-scored
    (``(fgP - bgP) * (fgP / bgP)`` over document frequencies).

    One pass, no join: explode each doc's DISTINCT tokens, then a single
    hash-agg per term with a conditional foreground count (map-side
    partial). Background totals are two scalars. Deterministic top-k by
    (score desc, term asc)."""
    toks = F.array_distinct(tokens(F.col(text_col)))
    exploded = df.select(subset.alias("_fg"), F.explode(toks).alias("term"))
    totals = df.agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.sum(subset.cast("long")).alias("n_fg"),
    ).first()
    n_bg, n_fg = totals["n_bg"], totals["n_fg"] or 0
    per_term = exploded.groupBy("term").agg(
        F.count(F.lit(1)).alias("bg_count"),
        F.sum(F.col("_fg").cast("long")).alias("fg_count"),
    )
    fg_p = F.col("fg_count") / F.lit(float(n_fg or 1))
    bg_p = F.col("bg_count") / F.lit(float(n_bg))
    return (
        per_term.filter(F.col("fg_count") >= min_doc_count)
        .withColumn("score", F.round((fg_p - bg_p) * (fg_p / bg_p), 6))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(k)
        .select("term", "fg_count", "bg_count", "score")
    )


def more_like_this(
    df: DataFrame,
    like_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_query_terms: int = 10,
    k: int = 10,
) -> DataFrame:
    """ES ``more_like_this``: select the source doc's most characteristic
    terms by tf-idf (tf * ln(N/df), ES's interestingness ranking,
    ``max_query_terms`` cap), then score every other doc by how many of
    those terms it contains.

    The query-term set is driver-side but bounded (``max_query_terms``
    rows — the same bounded-metadata class as an ANN query vector); doc
    frequencies come from one distinct-token explode + hash-agg."""
    import math

    n_docs = df.count()
    toks = tokens(F.col(text_col))
    term_tf = (
        df.filter(F.col(id_col) == like_id)
        .select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        df.select(F.explode(F.array_distinct(toks)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ranked = (
        term_tf.join(dfreq, "term")
        .withColumn(
            "tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
        )
        .orderBy(F.desc("tfidf"), F.asc("term"))
        .limit(max_query_terms)
    )
    query_terms = [r["term"] for r in ranked.collect()]
    scored = df.filter(F.col(id_col) != like_id).select(
        F.col(id_col), match_score(F.col(text_col), query_terms).alias("mlt_score")
    )
    return (
        scored.filter(F.col("mlt_score") > 0)
        .orderBy(F.desc("mlt_score"), F.asc(id_col))
        .limit(k)
    )


def search_collapse(
    df: DataFrame,
    query_tokens: list[str],
    collapse_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """ES field collapsing: score docs, keep only the best hit per
    ``collapse_col`` group (one result per host/source), then the global
    top-k. One window per group over the scored, filtered set."""
    from pyspark.sql import Window

    scored = df.select(
        F.col(id_col),
        F.col(collapse_col),
        match_score(F.col(text_col), query_tokens).alias("score"),
    ).filter(F.col("score") > 0)
    w = Window.partitionBy(collapse_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def date_histogram_terms(
    df: DataFrame,
    ts_col: str,
    term_col: str,
    value_col: str,
    interval: str = "day",
    top_terms: int = 3,
) -> DataFrame:
    """ES `date_histogram` with a nested `terms` sub-aggregation
    (calendar_interval buckets -> top-k terms per bucket, ES ordering:
    sub-count desc, key asc). Per (bucket, term): doc count, exact
    distinct-user-style cardinality of the value column's CENTS sum —
    the metric sums round(value*100) as an integer so the result is
    order-independent (float summation order varies across partitions;
    an exact integer makes the aggregation deterministic at any scale).

    Shape: one partial-aggregated shuffle on (bucket, term), a broadcast-
    size bucket-totals join, and a per-bucket window top-k — no global sort.
    """
    bucket = F.date_trunc(interval, F.col(ts_col)).alias("bucket_start")
    cents = F.round(F.col(value_col) * 100).cast("long")
    per_term = (
        df.select(bucket, F.col(term_col).alias("term"), cents.alias("cents"))
        .groupBy("bucket_start", "term")
        .agg(F.count(F.lit(1)).alias("sub_count"), F.sum("cents").alias("sum_cents"))
    )
    totals = per_term.groupBy("bucket_start").agg(
        F.sum("sub_count").alias("doc_count")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("bucket_start").orderBy(
        F.desc("sub_count"), F.asc("term")
    )
    topk = (
        per_term.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_terms)
        .drop("rn")
    )
    return topk.join(F.broadcast(totals), "bucket_start").select(
        "bucket_start",
        "doc_count",
        "term",
        "sub_count",
        (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("value_sum"),
    )


def search_post_filter(
    df: DataFrame,
    query_tokens: list[str],
    post_filter: Column,
    facet_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``post_filter`` semantics (the faceted-navigation contract the
    search-api's filtered queries imply): aggregations are computed on the
    QUERY result BEFORE the post filter, hits AFTER it — so a UI can show
    "source: web (123)" while the user has web selected. One matched scan
    feeds both sides; per facet bucket: n_matches (pre-filter) and n_hits
    (post-filter)."""
    matched = df.filter(
        match_score(F.col(text_col), query_tokens) >= 1
    ).select(F.col(id_col), F.col(facet_col), post_filter.alias("_pf"))
    return (
        matched.groupBy(facet_col)
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum(F.when(F.col("_pf"), 1).otherwise(0)).alias("n_hits"),
        )
        .orderBy(F.desc("n_matches"), F.asc(facet_col))
    )


def percolate(
    docs: DataFrame,
    stored_queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    min_match_col: str | None = "min_match",
) -> DataFrame:
    """ES percolator (the reverse of search: match STORED queries against
    incoming documents — alerts/saved-search notification, the percolate
    API the reference's ES backend ships with). Each stored query is a
    term list plus a minimum_should_match count (min_match = len(terms)
    gives AND semantics, 1 gives OR).

    Relational shape: explode the stored-query terms into a (query_id,
    term) dim — stored queries are small (thousands of alerts), so the dim
    BROADCASTS and each incoming doc batch needs one explode + one
    broadcast join + one (doc, query) count-distinct. At 100 TB the doc
    side streams through in parallel; nothing shuffles on the doc axis
    except the per-(doc, query) partial-aggregated count, bounded by
    matches, not corpus size.

    Returns (query_id, doc_id, n_matched, n_terms) for every (stored
    query, doc) pair meeting the query's min_match.
    """
    qterms = stored_queries.select(
        F.col(query_id_col).alias("_qid"),
        F.explode(F.array_distinct(F.col(terms_col))).alias("word"),
    )
    qmeta = stored_queries.select(
        F.col(query_id_col).alias("_qid"),
        F.size(F.array_distinct(F.col(terms_col))).alias("n_terms"),
        (
            F.col(min_match_col)
            if min_match_col is not None
            else F.size(F.array_distinct(F.col(terms_col)))
        ).alias("_mm"),
    )
    dtoks = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("word"),
    )
    hits = (
        dtoks.join(F.broadcast(qterms), "word")
        .groupBy("_qid", "_doc")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        hits.join(F.broadcast(qmeta), "_qid")
        .filter(F.col("n_matched") >= F.col("_mm"))
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_doc").alias(id_col),
            "n_matched",
            "n_terms",
        )
    )


def spell_correct(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_edits: int = 2,
) -> DataFrame:
    """Noisy-channel spelling correction over the corpus vocabulary
    (Kernighan, Church & Gale 1990; the "did you mean" layer ES builds on
    its term dictionary as the ``suggest`` API). Channel model simplified
    to edit distance (fewer edits = likelier typo), language model = corpus
    term frequency; the correction for a query term is

        argmin (distance)  then  argmax (corpus frequency)  then  lexical

    over vocabulary words within ``max_edits``. A term found in the
    vocabulary corrects to itself at distance 0 (the argmin picks it).

    Same 100 TB shape as :func:`search_fuzzy`: vocab is Heaps-law small
    (broadcast), candidates = vocab × query terms pruned by the length
    band before the JVM-native levenshtein; one window over the bounded
    candidate set picks the winner. Returns (term, correction, distance,
    freq) — terms with NO candidate within budget are absent (caller
    treats missing as "no suggestion").
    """
    from pyspark.sql import Window

    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    q = df.sparkSession.createDataFrame(
        [(t,) for t in query_terms], "term string"
    )
    cand = (
        vocab.crossJoin(F.broadcast(q))
        .filter(
            (F.abs(F.length("word") - F.length("term")) <= max_edits)
            & (F.levenshtein(F.col("word"), F.col("term")) <= max_edits)
        )
        .withColumn("distance", F.levenshtein(F.col("word"), F.col("term")))
    )
    w = Window.partitionBy("term").orderBy(
        F.asc("distance"), F.desc("freq"), F.asc("word")
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "term",
            F.col("word").alias("correction"),
            F.col("distance").cast("int").alias("distance"),
            "freq",
        )
    )


def maxscore_prune(
    df: DataFrame,
    query_tokens: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """MaxScore / WAND-style upper-bound pruning audit (Turtle & Flood
    1995; Broder et al. CIKM 2003): per query term, the maximum BM25
    contribution any single document gets from that term is the term's
    upper bound; a candidate whose matched terms' upper bounds sum below
    the current top-k threshold θ can be skipped without scoring. This
    operator computes the audit a query planner needs: exact θ (the k-th
    best full BM25 score), each term's upper bound, and how many matching
    candidates are provably skippable vs must-score under Σ-UB pruning.

    Output: one row per query term — (term, ub, df_term, theta,
    n_candidates, n_skippable); theta/n_candidates/n_skippable repeat per
    row (grain = term, audit fields are query-level). At 100 TB the
    term UBs come from the same partial-aggregated (doc, term) tf pass
    BM25 already does; θ is the existing top-k; the skippable count is
    one more aggregate over the candidate set — no new shuffle axes.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("word")
    )
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    qtf = (
        toks.filter(F.col("word").isin(*query_tokens))
        .groupBy("id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = qtf.groupBy("word").agg(F.countDistinct("id").alias("df_term"))
    term_scores = (
        qtf.join(F.broadcast(dfreq), "word")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_term") + 0.5) / (F.col("df_term") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    ubs = term_scores.groupBy("word").agg(
        F.max("term_score").alias("ub"), F.min("df_term").alias("df_term")
    )
    doc_scores = term_scores.groupBy("id").agg(F.sum("term_score").alias("score"))
    theta = (
        doc_scores.orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
        .agg(F.min("score").alias("theta"))
    )
    # Σ-UB per candidate: sum of the upper bounds of the terms the doc
    # actually contains; skippable ⟺ that sum < θ (it cannot make top-k)
    cand_ub = (
        qtf.join(F.broadcast(ubs.select("word", "ub")), "word")
        .groupBy("id")
        .agg(F.sum("ub").alias("ub_sum"))
    )
    audit = cand_ub.crossJoin(F.broadcast(theta)).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("ub_sum") < F.col("theta"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_skippable"),
        F.first("theta").alias("_theta"),
    )
    return (
        ubs.crossJoin(F.broadcast(audit))
        .select(
            F.col("word").alias("term"),
            F.round(F.col("ub"), 4).alias("ub"),
            "df_term",
            F.round(F.col("_theta"), 4).alias("theta"),
            "n_candidates",
            "n_skippable",
        )
        .orderBy(F.asc("term"))
    )


def pipeline_aggs(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    interval: str = "day",
    window: int = 7,
) -> DataFrame:
    """ES pipeline aggregations over a `date_histogram` parent: per calendar
    bucket — doc_count, value sum, `cumulative_sum`, `derivative` (delta vs
    the previous bucket; NULL on the first, ES semantics), and `moving_fn`
    unweighted average over the previous `window` buckets EXCLUDING the
    current one (the ES default window `(i-window, i-1]` with shift=0;
    NULL when no prior bucket exists).

    The value metric sums round(value*100) as an integer so every derived
    series is order-independent and exact; sums convert back to double at
    the end. Shape: one partial-aggregated shuffle to the calendar buckets,
    then window functions over the BUCKET rows only — bucket cardinality is
    bounded by the calendar (days in the corpus), so the unpartitioned
    ordered window is a few-thousand-row frame at any data scale.
    """
    from pyspark.sql import Window

    buckets = (
        df.select(
            F.date_trunc(interval, F.col(ts_col)).alias("bucket_start"),
            F.round(F.col(value_col) * 100).cast("long").alias("cents"),
        )
        .groupBy("bucket_start")
        .agg(F.count(F.lit(1)).alias("doc_count"), F.sum("cents").alias("c"))
    )
    w = Window.orderBy("bucket_start")
    mv = w.rowsBetween(-window, -1)
    to_d = lambda c: (c.cast("double") / F.lit(100.0))  # noqa: E731
    return buckets.select(
        "bucket_start",
        "doc_count",
        F.round(to_d(F.col("c")), 2).alias("value_sum"),
        F.round(to_d(F.sum("c").over(w)), 2).alias("cumulative_sum"),
        F.round(to_d(F.col("c") - F.lag("c", 1).over(w)), 2).alias("derivative"),
        F.round(to_d(F.avg(F.col("c").cast("double")).over(mv)), 6).alias(
            "moving_avg"
        ),
    )


def composite_after(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    after: tuple | None = None,
    size: int = 10,
) -> DataFrame:
    """ES `composite` aggregation with `after`-key pagination: buckets keyed
    by the `keys` tuple in ascending key order, page of `size` buckets
    strictly after the `after` key (None = first page). Per bucket:
    doc_count and an exact integer-cents value sum.

    Shape: one grouped shuffle on the key tuple, a tuple-compare filter
    (struct comparison, whole-stage codegen), and orderBy+limit — Spark
    plans that as TakeOrderedAndProject (per-partition top-k, no global
    sort), which is exactly the cursor-pagination shape that lets a client
    walk 10^9 buckets in bounded pages.
    """
    buckets = (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("c"),
        )
    )
    if after is not None:
        cur = F.struct(*[F.col(k) for k in keys])
        aft = F.struct(*[F.lit(v) for v in after])
        buckets = buckets.filter(cur > aft)
    return (
        buckets.select(
            *keys,
            "doc_count",
            (F.col("c").cast("double") / F.lit(100.0)).alias("value_sum"),
        )
        .orderBy(*[F.asc(k) for k in keys])
        .limit(size)
    )


def rare_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_count: int = 2,
    shingles: int = 1,
) -> DataFrame:
    """ES `rare_terms` aggregation: terms appearing in at most
    `max_doc_count` documents, i.e. the long tail the `terms` agg's
    size-limited most-common ordering can never return. Ordered doc_count
    asc, term asc (the ES ordering). `shingles` > 1 runs it over
    word-n-gram terms (the ES shingle-analyzer pairing, where rare_terms
    is typically deployed — unigram vocabularies saturate, shingle
    vocabularies keep a tail).

    Shape: explode distinct per-doc terms -> one partial-aggregated
    count shuffle -> filter. ES approximates this with a CuckooFilter to
    bound memory on one node; on Spark the exact computation is just a
    hash aggregation that scales horizontally, so no sketch is needed
    (the false-positive semantics of the ES implementation are a
    single-node memory workaround, not part of the contract).
    """
    toks = tokens(F.col(text_col))
    if shingles > 1:
        n = F.size(toks) - (shingles - 1)
        parts = [F.slice(toks, 1 + i, n) for i in range(shingles)]
        terms = F.when(n >= 1, _zip_concat(parts)).otherwise(
            F.array().cast("array<string>")
        )
    else:
        terms = toks
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(terms)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .filter(F.col("doc_count") <= max_doc_count)
        .orderBy(F.asc("doc_count"), F.asc("term"))
    )


def _zip_concat(parts: list[Column]) -> Column:
    """Element-wise space-join of equal-length string arrays (codegen)."""
    out = parts[0]
    for p in parts[1:]:
        out = F.zip_with(out, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def extended_stats(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
) -> DataFrame:
    """ES `extended_stats` aggregation: count, min, max, sum, avg,
    sum_of_squares, population variance, std_deviation, and the ±2σ
    std bounds — optionally per `by` bucket (the nested-under-terms form).

    Every moment is computed from exact integer-cents sums (Σc and Σc² as
    BIGINTs — c ≤ ~10^7 keeps Σc² < 2^63 at 10^9 rows), then converted to
    double ONCE at the end, so the result is independent of partition
    summation order — the property that makes the aggregation
    deterministic at any scale and lets a value-hash oracle compare it.
    One map-side-combined hash-agg; no shuffle beyond the bucket key.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    keys = [by] if by else []
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("count"),
        F.min(cents).alias("_mn"),
        F.max(cents).alias("_mx"),
        F.sum(cents).alias("_s"),
        F.sum(cents * cents).alias("_ss"),
    )
    n = F.col("count").cast("double")
    s = F.col("_s").cast("double") / 100.0
    ss = F.col("_ss").cast("double") / 10000.0
    avg = s / n
    var = ss / n - avg * avg
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    return agg.select(
        *keys,
        "count",
        (F.col("_mn").cast("double") / 100.0).alias("min"),
        (F.col("_mx").cast("double") / 100.0).alias("max"),
        F.round(s, 2).alias("sum"),
        F.round(avg, 6).alias("avg"),
        F.round(ss, 4).alias("sum_of_squares"),
        F.round(var, 6).alias("variance"),
        F.round(std, 6).alias("std_deviation"),
        F.round(avg + 2 * std, 6).alias("std_upper"),
        F.round(avg - 2 * std, 6).alias("std_lower"),
    )


def adjacency_matrix(
    df: DataFrame, filters: list[tuple[str, Column]]
) -> DataFrame:
    """ES `adjacency_matrix` aggregation: named boolean filters -> one
    bucket per filter (`A`) and per unordered pair (`A&B`, ES key order:
    name1 < name2) counting documents matching BOTH; empty buckets are
    omitted (ES behavior). All cells evaluate in ONE pass as conditional
    sums inside a single hash-agg row — no self-join, no explode — then
    unpivot to (key, doc_count); the cell count is len(filters)·
    (len(filters)+1)/2, a constant, so the agg state is O(filters²) bytes
    regardless of corpus size.
    """
    names = [n for n, _ in filters]
    conds = dict(filters)
    cells = []
    for i, a in enumerate(names):
        for b in names[i:]:
            key = a if a == b else f"{a}&{b}"
            both = conds[a] & conds[b]
            cells.append(
                F.sum(both.cast("long")).alias(key.replace(".", "_"))
            )
    row = df.agg(*cells)
    stacked = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("key"),
                        F.col(f"`{c.replace('.', '_')}`").alias("doc_count"),
                    )
                    for c in [
                        (a if a == b else f"{a}&{b}")
                        for i, a in enumerate(names)
                        for b in names[i:]
                    ]
                ]
            )
        ).alias("cell")
    )
    return (
        stacked.select("cell.key", "cell.doc_count")
        .filter(F.col("doc_count") > 0)
        .orderBy("key")
    )


def gauss_decay(x: Column, origin: float, scale: float,
                offset: float = 0.0, decay: float = 0.5) -> Column:
    """ES `gauss` decay function on a numeric field: exp(-max(0, |x-origin|
    - offset)^2 / (2 sigma^2)) with sigma^2 = -scale^2 / (2 ln(decay)), so
    the score is exactly `decay` at distance `scale` beyond the offset
    (the published function_score formula). Pure per-row codegen math —
    no state, no shuffle."""
    sigma2 = -(scale * scale) / (2.0 * __import__("math").log(decay))
    dist = F.greatest(F.abs(x - F.lit(float(origin))) - F.lit(float(offset)),
                      F.lit(0.0))
    return F.exp(-(dist * dist) / F.lit(2.0 * sigma2))


def field_value_factor(x: Column, factor: float = 1.0,
                       modifier: str = "log1p", missing: float = 1.0) -> Column:
    """ES `field_value_factor`: modifier(factor * field), null -> missing.
    Supported modifiers: none | log1p | sqrt (the common trio)."""
    v = F.coalesce(x.cast("double"), F.lit(float(missing))) * F.lit(float(factor))
    if modifier == "log1p":
        v = F.log(F.lit(1.0) + v)
    elif modifier == "sqrt":
        v = F.sqrt(v)
    elif modifier != "none":
        raise ValueError(f"unsupported modifier: {modifier}")
    return v


def search_function_score(
    df: DataFrame,
    query_tokens: list[str],
    text_col: str,
    id_col: str,
    *,
    factor_col: str,
    decay_col: str,
    origin: float,
    scale: float,
    offset: float = 0.0,
    decay: float = 0.5,
    factor: float = 1.0,
    modifier: str = "log1p",
    k: int = 20,
) -> DataFrame:
    """ES `function_score` query (score_mode=boost_mode=multiply): the
    match `_score` (token overlap, Q1 semantics) rescored by a
    field_value_factor on `factor_col` and a gauss decay on `decay_col`,
    top-k by the combined score.

    100 TB shape: one projection pass (all three factors are per-row
    codegen math over already-read columns), then `orderBy().limit(k)` —
    Spark executes that as per-partition partial top-k + an n-row driver
    merge (TakeOrderedAndProject), never a global sort. Rounded to 6 dp so
    the score is engine-portable for the value-hash oracle."""
    base = match_score(F.col(text_col), query_tokens)
    score = (
        base.cast("double")
        * field_value_factor(F.col(factor_col), factor=factor, modifier=modifier)
        * gauss_decay(F.col(decay_col), origin, scale, offset=offset, decay=decay)
    )
    return (
        df.select(F.col(id_col), F.round(score, 6).alias("fscore"), base.alias("_b"))
        .filter(F.col("_b") >= 1)
        .drop("_b")
        .orderBy(F.desc("fscore"), F.asc(id_col))
        .limit(k)
    )


def top_hits(
    df: DataFrame,
    by: str,
    sort_col: str,
    id_col: str,
    size: int = 3,
) -> DataFrame:
    """ES `terms` aggregation with a `top_hits` sub-aggregation: per
    bucket, the bucket's doc_count plus its top `size` documents by
    `sort_col` DESC (id ASC tiebreak) with their hit rank.

    100 TB shape: ONE shuffle — the rank and the bucket count are both
    windows over the same partition key, so they ride a single exchange;
    no join, no second agg. Skewed buckets bound the window task at the
    bucket size, same mitigation ladder as W1 (salt the count, never the
    rank, if a bucket outgrows a task)."""
    from pyspark.sql import Window

    w_rank = Window.partitionBy(by).orderBy(F.desc(sort_col), F.asc(id_col))
    w_all = Window.partitionBy(by)
    return (
        df.select(
            F.col(by),
            F.col(id_col),
            F.col(sort_col),
            F.row_number().over(w_rank).alias("hit_rank"),
            F.count(F.lit(1)).over(w_all).alias("doc_count"),
        )
        .filter(F.col("hit_rank") <= size)
        .orderBy(by, "hit_rank")
    )


def histogram_dense(
    df: DataFrame,
    value_col: str,
    interval: float,
    min_doc_count: int = 0,
) -> DataFrame:
    """ES `histogram` aggregation with min_doc_count=0 semantics: fixed-
    interval buckets keyed at floor(value/interval)*interval, DENSIFIED so
    every bucket between the observed min and max key appears even when
    empty (the ES default that trips up naive GROUP BY ports, which drop
    empty buckets). min_doc_count>0 filters instead (no densify needed).

    100 TB shape: the only data-sized pass is the map-side-combined
    hash-agg onto bucket keys; everything after operates on the bucket
    axis (bounded by value range / interval, thousands not billions) —
    the dense spine comes from sequence() over a one-row global min/max
    agg cross-joined in (1 row x 1 row), and the counts join onto the
    spine is broadcast-sized by construction."""
    step = float(interval)
    key = (F.floor(F.col(value_col) / step) * step).cast("double")
    counts = df.select(key.alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("doc_count")
    )
    if min_doc_count > 0:
        return counts.filter(F.col("doc_count") >= min_doc_count).orderBy("key")
    # dense spine: every multiple of `interval` in [min_key, max_key]
    bounds = counts.agg(
        (F.min("key") / step).cast("long").alias("lo"),
        (F.max("key") / step).cast("long").alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("i")
    ).select((F.col("i") * step).cast("double").alias("key"))
    return (
        spine.join(F.broadcast(counts), "key", "left")
        .select("key", F.coalesce("doc_count", F.lit(0)).alias("doc_count"))
        .orderBy("key")
    )


def multi_terms(
    df: DataFrame,
    terms: list[str],
    value_col: str | None = None,
    size: int = 10,
) -> DataFrame:
    """ES `multi_terms` aggregation: buckets keyed by the COMPOSITE of
    several fields (the thing a plain `terms` agg on one field can't
    express without client-side joins), ES ordering doc_count DESC then
    keys ASC, truncated to `size`. Optional sum metric integerized to
    cents so the value is partition-order independent.

    100 TB shape: one map-side-combined hash-agg onto the composite key,
    then `orderBy().limit(size)` = per-partition partial top-k + an
    n-row driver merge (TakeOrderedAndProject) — never a global sort."""
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    if value_col is not None:
        aggs.append(
            (F.sum(F.round(F.col(value_col) * 100).cast("long"))
             .cast("double") / 100.0).alias("value_sum")
        )
    out = df.groupBy(*[F.col(t) for t in terms]).agg(*aggs)
    order = [F.desc("doc_count")] + [F.asc(t) for t in terms]
    return out.orderBy(*order).limit(size)


def weighted_avg(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    by: str,
) -> DataFrame:
    """ES `weighted_avg` aggregation per bucket: sum(value*weight) /
    sum(weight), docs with a NULL value or weight skipped (ES
    value_count semantics). Both factors are integerized to cents so the
    two sums are exact integers in any engine and at any partition
    order; the single final division is the only float op (rounded 6dp).

    100 TB shape: one map-side-combined hash-agg — same cost as a plain
    avg."""
    vc = F.round(F.col(value_col) * 100).cast("long")
    wc = F.round(F.col(weight_col) * 100).cast("long")
    ok = F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
    return (
        df.filter(ok)
        .groupBy(F.col(by))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(vc * wc).alias("_swv"),
            F.sum(wc).alias("_sw"),
        )
        .select(
            F.col(by),
            "doc_count",
            F.round(
                F.col("_swv").cast("double")
                / (F.lit(100.0) * F.col("_sw").cast("double")),
                6,
            ).alias("weighted_avg"),
        )
    )


def median_absolute_deviation(
    df: DataFrame, value_col: str, by: str
) -> DataFrame:
    """ES `median_absolute_deviation` aggregation, EXACT: per bucket,
    median(|x - median(x)|) with linear-interpolation medians (Spark
    `percentile` == DuckDB `quantile_cont`; ES itself uses TDigest — the
    approximate drop-in at 10^10 rows per bucket is
    `percentile_approx`, documented not defaulted).

    100 TB shape: two shuffles on the bucket key (the medians can't
    fuse — the second pass needs the first's result per row), with the
    per-bucket median dim broadcast back; bucket axis is bounded, data
    rows stream through both passes."""
    med = df.groupBy(F.col(by)).agg(
        F.percentile(F.col(value_col), F.lit(0.5)).alias("_med"),
        F.count(F.lit(1)).alias("doc_count"),
    )
    return (
        df.join(F.broadcast(med), on=by)
        .groupBy(F.col(by))
        .agg(
            F.max("doc_count").alias("doc_count"),
            F.round(F.max("_med"), 6).alias("median"),
            F.round(
                F.percentile(F.abs(F.col(value_col) - F.col("_med")), F.lit(0.5)),
                6,
            ).alias("mad"),
        )
    )


def serial_diff(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    interval: str = "day",
    lag: int = 1,
) -> DataFrame:
    """ES `serial_diff` pipeline aggregation over a `date_histogram`
    parent: per calendar bucket, value_sum minus the value_sum `lag`
    buckets earlier (NULL for the first `lag` buckets — ES emits no
    value there). Cents-integerized sums; the lag runs over BUCKET rows
    only (calendar-bounded axis), so the unpartitioned ordered window is
    a few-thousand-row frame at any data scale."""
    from pyspark.sql import Window

    buckets = (
        df.select(
            F.date_trunc(interval, F.col(ts_col)).alias("bucket_start"),
            F.round(F.col(value_col) * 100).cast("long").alias("c"),
        )
        .groupBy("bucket_start")
        .agg(F.count(F.lit(1)).alias("doc_count"), F.sum("c").alias("c"))
    )
    w = Window.orderBy("bucket_start")
    to_d = lambda c: c.cast("double") / F.lit(100.0)  # noqa: E731
    return buckets.select(
        "bucket_start",
        "doc_count",
        F.round(to_d(F.col("c")), 2).alias("value_sum"),
        F.round(to_d(F.col("c") - F.lag("c", lag).over(w)), 2).alias("serial_diff"),
    )


def bucket_selector(
    df: DataFrame,
    by: str,
    value_col: str,
    predicate,
) -> DataFrame:
    """ES `bucket_selector` pipeline aggregation: aggregate buckets
    (doc_count + cents-exact value_sum), then keep only buckets where
    `predicate` — a Column over [by, doc_count, value_sum] — holds (the
    script-driven HAVING of the ES DSL).

    100 TB shape: the filter runs on the already-collapsed bucket axis;
    one hash-agg shuffle total."""
    buckets = (
        df.groupBy(F.col(by))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            (F.sum(F.round(F.col(value_col) * 100).cast("long"))
             .cast("double") / 100.0).alias("value_sum"),
        )
    )
    return buckets.filter(predicate)


def bucket_sort(
    df: DataFrame,
    by: str,
    value_col: str,
    sort_col: str = "value_sum",
    ascending: bool = False,
    size: int = 10,
    skip: int = 0,
) -> DataFrame:
    """ES `bucket_sort` pipeline aggregation: order the parent's buckets
    by an aggregated metric and truncate (`from` + `size` paging).

    100 TB shape: one hash-agg; the sort+page runs on the bucket axis.
    With skip=0 Spark plans orderBy().limit() as TakeOrderedAndProject;
    a non-zero skip pages through a row_number window over the (bounded)
    bucket rows instead — still never a data-sized sort."""
    from pyspark.sql import Window

    buckets = (
        df.groupBy(F.col(by))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            (F.sum(F.round(F.col(value_col) * 100).cast("long"))
             .cast("double") / 100.0).alias("value_sum"),
        )
    )
    key = F.asc(sort_col) if ascending else F.desc(sort_col)
    if skip == 0:
        return buckets.orderBy(key, F.asc(by)).limit(size)
    w = Window.orderBy(key, F.asc(by))
    return (
        buckets.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > skip) & (F.col("_rn") <= skip + size))
        .drop("_rn")
    )


def string_stats(
    df: DataFrame, str_col: str, by: str, with_entropy: bool = True
) -> DataFrame:
    """ES `string_stats` aggregation per bucket: count, min/max/avg
    length, and (show_distribution analog) the Shannon entropy IN BITS of
    the bucket's character distribution.

    100 TB shape: lengths ride one hash-agg on the bucket key; entropy
    explodes to one row per CHARACTER but immediately partial-aggregates
    onto (bucket, char) — the shuffle carries |alphabet| rows per bucket,
    not the corpus. The two aggs join on the bounded bucket axis
    (broadcast)."""
    lengths = df.groupBy(F.col(by)).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.min(F.length(str_col)).alias("min_length"),
        F.max(F.length(str_col)).alias("max_length"),
        F.round(
            F.sum(F.length(str_col)).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_length"),
    )
    if not with_entropy:
        return lengths
    # (?s). so newlines count as characters too
    chars = df.select(
        F.col(by),
        F.explode(
            F.regexp_extract_all(F.col(str_col), F.lit(r"(?s)."), F.lit(0))
        ).alias("ch"),
    )
    per = chars.groupBy(F.col(by), "ch").agg(F.count(F.lit(1)).alias("n"))
    tot = per.groupBy(F.col(by)).agg(F.sum("n").alias("n_chars"))
    ent = (
        per.join(F.broadcast(tot), on=by)
        .withColumn("p", F.col("n").cast("double") / F.col("n_chars"))
        .groupBy(F.col(by))
        .agg(
            F.round(
                -F.sum(F.col("p") * F.log2(F.col("p"))), 6
            ).alias("entropy")
        )
    )
    return lengths.join(F.broadcast(ent), on=by)


def boxplot(df: DataFrame, value_col: str, by: str) -> DataFrame:
    """ES `boxplot` aggregation, EXACT: per bucket min, max, q1, q2, q3
    (linear interpolation — DuckDB quantile_cont parity) plus the Tukey
    whiskers ES draws: lower = smallest datum >= q1 - 1.5*IQR, upper =
    largest datum <= q3 + 1.5*IQR.

    100 TB shape: two shuffles on the bucket key (quartiles, then the
    fence-conditional min/max needs them per row) with the quartile dim
    broadcast back — same shape as median_absolute_deviation."""
    q = df.groupBy(F.col(by)).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
        F.percentile(F.col(value_col), F.lit(0.25)).alias("q1"),
        F.percentile(F.col(value_col), F.lit(0.5)).alias("q2"),
        F.percentile(F.col(value_col), F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo_fence = F.col("q1") - 1.5 * iqr
    hi_fence = F.col("q3") + 1.5 * iqr
    v = F.col(value_col)
    return (
        df.join(F.broadcast(q), on=by)
        .groupBy(F.col(by))
        .agg(
            F.max("doc_count").alias("doc_count"),
            F.round(F.max("vmin"), 6).alias("min"),
            F.round(F.max("vmax"), 6).alias("max"),
            F.round(F.max("q1"), 6).alias("q1"),
            F.round(F.max("q2"), 6).alias("q2"),
            F.round(F.max("q3"), 6).alias("q3"),
            F.round(F.min(F.when(v >= lo_fence, v)), 6).alias("lower_whisker"),
            F.round(F.max(F.when(v <= hi_fence, v)), 6).alias("upper_whisker"),
        )
    )


def t_test_stats(
    df: DataFrame,
    value_col: str,
    filter_a,
    filter_b,
    by: str | None = None,
) -> DataFrame:
    """ES `t_test` aggregation (heteroscedastic / Welch's form), reduced
    to its sufficient statistics: the t statistic and the
    Welch-Satterthwaite degrees of freedom between the rows matching
    `filter_a` and those matching `filter_b`. ES reports the p-value —
    Student's CDF (incomplete beta) is out of codegen reach, so this
    emits (t, df); the caller maps to p with scipy offline. Moments are
    cents-exact integers; one conditional-sum pass, no join, no second
    scan.

    100 TB shape: a single map-side-combined hash-agg (or one global agg
    row when by=None)."""
    c = F.round(F.col(value_col) * 100).cast("long")
    grp = [F.col(by)] if by else []
    agg = (
        df.groupBy(*grp).agg(
            F.sum(F.when(filter_a, 1).otherwise(0)).cast("long").alias("na"),
            F.sum(F.when(filter_a, c).otherwise(0)).cast("long").alias("sa"),
            F.sum(F.when(filter_a, c * c).otherwise(0)).cast("long").alias("ssa"),
            F.sum(F.when(filter_b, 1).otherwise(0)).cast("long").alias("nb"),
            F.sum(F.when(filter_b, c).otherwise(0)).cast("long").alias("sb"),
            F.sum(F.when(filter_b, c * c).otherwise(0)).cast("long").alias("ssb"),
        )
    )
    def _mean(s, n):
        return s.cast("double") / 100.0 / n.cast("double")

    def _var(s, ss, n):  # unbiased sample variance from integer moments
        sd, ssd, nd = s.cast("double") / 100.0, ss.cast("double") / 10000.0, n.cast("double")
        return (ssd - sd * sd / nd) / (nd - 1.0)

    ma, mb = _mean(F.col("sa"), F.col("na")), _mean(F.col("sb"), F.col("nb"))
    va = _var(F.col("sa"), F.col("ssa"), F.col("na"))
    vb = _var(F.col("sb"), F.col("ssb"), F.col("nb"))
    sea, seb = va / F.col("na").cast("double"), vb / F.col("nb").cast("double")
    t = (ma - mb) / F.sqrt(sea + seb)
    dof = (
        (sea + seb) * (sea + seb)
        / (sea * sea / (F.col("na").cast("double") - 1.0)
           + seb * seb / (F.col("nb").cast("double") - 1.0))
    )
    keep = grp + [
        F.col("na"), F.col("nb"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 4).alias("welch_df"),
    ]
    return agg.filter((F.col("na") >= 2) & (F.col("nb") >= 2)).select(*keep)


_AUTO_INTERVALS = ["minute", "hour", "day", "month", "year"]
_INTERVAL_SECONDS = {
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "month": 86400.0 * 30,
    "year": 86400.0 * 365,
}


def auto_date_histogram(
    df: DataFrame, ts_col: str, target_buckets: int = 10
) -> DataFrame:
    """ES `auto_date_histogram`: pick the smallest calendar interval from
    the ladder (minute..year) whose ESTIMATED bucket count (span /
    interval seconds, the ES rounding heuristic) fits `target_buckets`,
    then bucket on it. The choice is data-driven but fully declarative:
    the 1-row min/max bounds aggregate cross-joins (broadcast) onto the
    scan, and the bucket key is a CASE over the ladder — no collect, no
    second job submission.

    100 TB shape: one extra 1-row agg over the (prunable, single-column)
    ts scan, then the usual map-side-combined hash-agg onto calendar
    buckets."""
    # NTZ timestamps don't cast to double directly; the ltz hop shifts
    # min and max by the same session-tz offset, so the SPAN (all the
    # interval choice uses) is unchanged
    ts = F.col(ts_col).cast("timestamp_ltz").cast("double")
    bounds = df.agg(
        F.min(ts).alias("_t0"), F.max(ts).alias("_t1")
    )
    span = F.col("_t1") - F.col("_t0")
    choice = F.lit("year")
    for iv in reversed(_AUTO_INTERVALS):  # smallest fitting interval wins
        fits = span / F.lit(_INTERVAL_SECONDS[iv]) <= F.lit(float(target_buckets))
        choice = F.when(fits, F.lit(iv)).otherwise(choice)
    with_iv = df.crossJoin(F.broadcast(bounds.select(choice.alias("interval"))))
    bucket = F.coalesce(
        *[
            F.when(F.col("interval") == iv, F.date_trunc(iv, F.col(ts_col)))
            for iv in _AUTO_INTERVALS
        ]
    )
    return (
        with_iv.groupBy(F.col("interval"), bucket.alias("bucket_start"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("bucket_start")
    )


def diversified_sampler(
    df: DataFrame,
    dedup_col: str,
    id_col: str,
    shard_size: int = 100,
    max_docs_per_value: int = 1,
    salt: int = 7,
) -> DataFrame:
    """ES `diversified_sampler` aggregation, made deterministic: sample
    `shard_size` docs with at most `max_docs_per_value` per `dedup_col`
    value, "first seen" replaced by a portable Carter-Wegman hash order
    on the integral id (reruns and the DuckDB oracle reproduce the
    sample bit-for-bit — ES's own shard-order sample is irreproducible
    by construction).

    100 TB shape: per-value cap = one window over the dedup key
    (salting ladder as W1 if a value is hot), then the global cut rides
    orderBy().limit() = partial top-k + driver merge, never a full
    sort."""
    from pyspark.sql import Window

    from .sketches import _P

    h = ((F.lit(48611) * (F.col(id_col) % F.lit(_P)) + F.lit(salt)) % F.lit(_P))
    w = Window.partitionBy(dedup_col).orderBy(F.asc("_h"), F.asc(id_col))
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_docs_per_value)
        .orderBy(F.asc("_h"), F.asc(id_col))
        .limit(shard_size)
        .drop("_rn")
        .withColumnRenamed("_h", "sample_order")
    )


def search_rescore(
    df: DataFrame,
    query_tokens: list[str],
    phrase_tokens: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    window_size: int = 100,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    k: int = 20,
) -> DataFrame:
    """ES `rescore` API: run the cheap main query, take its top
    `window_size` hits, and re-rank only that window with an expensive
    secondary scorer (here: match_phrase occurrence count) combined as
    query_weight*original + rescore_query_weight*secondary (ES
    score_mode=total, the default).

    100 TB shape: the main pass is the usual codegen projection +
    TakeOrderedAndProject partial top-k; the phrase scorer — the
    expensive part — runs on `window_size` ROWS ONLY (a driver-merged
    head, re-parallelized), never on the corpus. That asymmetry is the
    entire point of the ES API and survives any scale-up unchanged."""
    base = match_score(F.col(text_col), query_tokens)
    window = (
        df.select(F.col(id_col), F.col(text_col), base.alias("score"))
        .filter(F.col("score") >= 1)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(window_size)
    )
    combined = (
        F.lit(float(query_weight)) * F.col("score").cast("double")
        + F.lit(float(rescore_weight))
        * phrase_count(F.col(text_col), phrase_tokens).cast("double")
    )
    return (
        window.select(F.col(id_col), F.round(combined, 2).alias("rescore"))
        .orderBy(F.desc("rescore"), F.asc(id_col))
        .limit(k)
    )


def variable_width_histogram(
    df: DataFrame,
    value_col: str,
    buckets: int = 4,
    rounds: int = 2,
) -> DataFrame:
    """ES `variable_width_histogram`, made deterministic: 1-D k-means
    where ES uses a one-pass streaming approximation (shard-order
    dependent, irreproducible by construction). Init = exact
    linear-interpolation quantiles at (i+0.5)/k, then `rounds` Lloyd
    iterations (assign to nearest centroid, ties to the lower-indexed
    one; recompute centroid as the cents-exact mean). Emits per
    non-empty bucket: min, max, centroid, doc_count, ordered by
    centroid (ES bucket order).

    100 TB shape: per round, one data scan with a k-literal argmin
    projection + a map-side-combined k-row agg; ONLY the k centroid
    scalars visit the driver between rounds (the IVF-centroid bounded-
    collect precedent, `similarity.py`). Empty clusters drop (ES merges
    them away)."""
    v = F.col(value_col).cast("double")
    qs = df.agg(
        F.percentile(v, F.array(*[F.lit((i + 0.5) / buckets) for i in range(buckets)])).alias("q")
    ).first()["q"]
    centroids = [float(c) for c in qs]
    out = None
    for _ in range(rounds):
        dists = F.array(
            *[
                F.struct(
                    F.abs(v - F.lit(c)).alias("d"), F.lit(i).alias("i")
                )
                for i, c in enumerate(centroids)
            ]
        )
        assigned = df.select(
            v.alias("v"), F.array_min(dists)["i"].alias("cl")
        )
        agg = (
            assigned.groupBy("cl")
            .agg(
                F.count(F.lit(1)).cast("long").alias("doc_count"),
                F.min("v").alias("min"),
                F.max("v").alias("max"),
                (
                    F.sum(F.round(F.col("v") * 100).cast("long")).cast("double")
                    / (100.0 * F.count(F.lit(1)).cast("double"))
                ).alias("centroid"),
            )
        )
        rows = agg.collect()  # k rows — bounded driver reduce per round
        centroids = [r["centroid"] for r in sorted(rows, key=lambda r: r["cl"])]
        out = agg
    return out.select(
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"),
        F.round("centroid", 6).alias("centroid"),
        "doc_count",
    ).orderBy("centroid")


def search_synonyms(
    df: DataFrame,
    query_tokens: list[str],
    synonyms: dict[str, str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """ES synonym-filter analyzer semantics: terms mapping to the same
    synonym GROUP count as one concept, on both the document and the
    query side — "car" matches a doc saying "automobile" with the same
    weight as a literal hit, and a doc containing both "car" and
    "automobile" scores the concept ONCE (the analyzer's
    position-collapsing behavior, which naive OR-expansion gets wrong by
    double-counting). Score = distinct query CONCEPTS present.

    100 TB shape: the synonym table folds into a literal map expression
    (codegen element_at per token — no join at all; a >10^5-entry
    production synonym set becomes a broadcast dim join on the exploded
    token, same shape as percolate); scoring stays one projection +
    TakeOrderedAndProject."""
    m = F.create_map(
        *[x for t, g in sorted(synonyms.items()) for x in (F.lit(t), F.lit(g))]
    )
    to_groups = lambda arr: F.array_distinct(  # noqa: E731
        F.transform(arr, lambda t: F.coalesce(m[t], t))
    )
    qgroups = sorted({synonyms.get(t, t) for t in query_tokens})
    score = F.size(
        F.array_intersect(
            to_groups(tokens(F.col(text_col))),
            F.array(*[F.lit(g) for g in qgroups]),
        )
    )
    return (
        df.select(F.col(id_col), score.alias("score"))
        .filter(F.col("score") >= 1)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def span_near_count(
    text: Column,
    first: str,
    second: str,
    slop: int = 2,
    in_order: bool = True,
) -> Column:
    """ES `span_near` (two-clause form): count of position pairs where
    `second` occurs within `slop` intervening tokens of `first`
    (in_order: first strictly before second; unordered: either side).
    Pure higher-order array math over the token stream — per-row cost
    bounded by tf(first)×tf(second), no explode, no shuffle."""
    toks = tokens(text)
    idx = F.sequence(F.lit(1), F.size(toks))
    pa = F.filter(idx, lambda i: F.element_at(toks, i) == first)
    pb = F.filter(idx, lambda i: F.element_at(toks, i) == second)
    if in_order:
        ok = lambda i, j: (j > i) & (j - i - 1 <= slop)  # noqa: E731
    else:
        ok = lambda i, j: (j != i) & (F.abs(j - i) - 1 <= slop)  # noqa: E731
    pairs = F.transform(pa, lambda i: F.size(F.filter(pb, lambda j: ok(i, j))))
    return F.when(F.size(toks) < 1, F.lit(0)).otherwise(
        F.aggregate(pairs, F.lit(0), lambda acc, x: acc + x)
    )


def search_span_near(
    df: DataFrame,
    first: str,
    second: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    slop: int = 2,
    in_order: bool = True,
    k: int = 20,
) -> DataFrame:
    """ES `span_near` query: docs where the two clauses co-occur within
    `slop`, scored by span count, deterministic top-k (the proximity
    tier between match_phrase slop — which requires ALL terms — and
    plain bool OR)."""
    n = span_near_count(F.col(text_col), first, second, slop, in_order)
    return (
        df.select(F.col(id_col), n.cast("int").alias("n_spans"))
        .filter(F.col("n_spans") >= 1)
        .orderBy(F.desc("n_spans"), F.asc(id_col))
        .limit(k)
    )


def percentile_ranks(
    df: DataFrame,
    value_col: str,
    values: list[float],
    by: str | None = None,
) -> DataFrame:
    """ES `percentile_ranks` aggregation (the inverse of `percentiles`):
    for each probe value, the percentage of documents with value <= probe.
    EXACT — one conditional-count pass per probe folded into a single
    hash-agg (ES uses TDigest interpolation; the documented trade is the
    same as the percentiles entry). Output: one row per (bucket,) with
    rank_<i> columns, 6dp percentages.

    100 TB shape: one map-side-combined hash-agg, probes are literals —
    no second scan, no join."""
    grp = [F.col(by)] if by else []
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    for i, v in enumerate(values):
        aggs.append(
            F.sum(F.when(F.col(value_col) <= float(v), 1).otherwise(0))
            .cast("long")
            .alias(f"_le{i}")
        )
    agg = df.groupBy(*grp).agg(*aggs)
    keep = grp + [F.col("doc_count")] + [
        F.round(
            F.lit(100.0) * F.col(f"_le{i}").cast("double")
            / F.col("doc_count").cast("double"),
            6,
        ).alias(f"rank_{str(v).replace('.', '_')}")
        for i, v in enumerate(values)
    ]
    return agg.select(*keep)


def search_explain(
    df: DataFrame,
    query_tokens: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES `_explain` API for the BM25 scorer: for each of the query's
    top-`k` hits, one row PER MATCHED TERM with every number the score is
    built from — tf, df, dl, idf, and the term's contribution — so a
    relevance engineer can see WHY a doc ranked (the reference exposes
    only the final `_score`). Rides the identical pipeline as
    `search_bm25`; the explain fan-out is bounded at k x |query|."""
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("word")
    )
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    qtf = (
        toks.filter(F.col("word").isin(*query_tokens))
        .groupBy("id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = qtf.groupBy("word").agg(F.countDistinct("id").alias("df"))
    parts = (
        qtf.join(F.broadcast(dfreq), "word")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    top = (
        parts.groupBy("id")
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )
    return (
        parts.join(top.select("id", "score"), "id")
        .select(
            F.col("id").alias(id_col),
            "score",
            "word",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("dl").cast("long").alias("dl"),
            F.round("idf", 6).alias("idf"),
            F.round("term_score", 6).alias("term_score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col), F.asc("word"))
    )
