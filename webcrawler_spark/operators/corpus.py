"""Training-corpus assembly operators — the last mile of an LLM data
pipeline: turn a cleaned, deduplicated document pool into training shards.

Beyond-the-reference extension (the reference crawler stops at the search
index; these are the ops a 100 TB corpus consumer needs next):

- deterministic_sample: reproducible hash-gate sampling, no RNG state
- mix_corpus: per-source target proportions -> per-source sampling rates
- pack_shards: token-budget shard assignment via per-source cumulative sums
- ngram_overlap / decontaminate: benchmark-contamination flagging by
  word-n-gram overlap against an eval set

Everything is pure pyspark.sql.functions (codegen, no Python), and every
arithmetic form is chosen to be expressible identically in ANSI SQL so each
operator carries a DuckDB oracle in the driver contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# Knuth's multiplicative-hash constant (2^32 / phi). doc ids are < 2^40 in
# any realistic corpus, so id * K < 2^72 would overflow — mod first, then
# multiply: ((id % M) * (K % M)) % M stays within int64 for M = 10^4.
_KNUTH = 2654435761
_MOD = 10_000


def sample_gate(key: Column, rate: float, salt: int = 0) -> Column:
    """Deterministic keep/drop gate: keeps ~rate of rows, decided purely by
    the integer key (reproducible across runs/partitionings, unlike
    df.sample whose outcome depends on partition iteration order)."""
    # pmod, not %: Spark % preserves sign, so a negative 64-bit fingerprint
    # key would yield a negative bucket that passes every rate threshold.
    bucket = F.pmod(F.pmod(key + F.lit(salt), _MOD) * (_KNUTH % _MOD), _MOD)
    return bucket < F.lit(int(round(rate * _MOD)))


def deterministic_sample(
    docs: DataFrame, rate: float, id_col: str = "doc_id", salt: int = 0
) -> DataFrame:
    """~rate fraction of docs, selected by hash gate on the id column."""
    return docs.filter(sample_gate(F.col(id_col), rate, salt))


def mix_corpus(
    docs: DataFrame,
    weights: dict[str, float],
    total: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Down-sample each source to hit target proportions.

    weights maps source -> target fraction of the output mix; each source is
    hash-gate sampled at rate min(1, total*weight / count(source)). The
    per-source counts are a broadcast-joined aggregate (tiny dim: one row
    per source), so the only corpus-scale work is one scan + filter.
    Sources absent from `weights` are dropped.
    """
    counts = docs.groupBy(source_col).agg(F.count("*").alias("_n"))
    wmap = F.create_map(
        *[x for s, w in sorted(weights.items()) for x in (F.lit(s), F.lit(float(w)))]
    )
    w = wmap[F.col(source_col)]
    # least() SKIPS nulls (both Spark and ANSI SQL), so an unlisted source
    # would silently get rate 1.0 — gate the null before least
    rates = counts.select(
        source_col,
        F.when(
            w.isNotNull(),
            F.least(F.lit(1.0), F.lit(float(total)) * w / F.col("_n")),
        ).alias("_rate"),
    )
    gate = (
        F.pmod(F.pmod(F.col(id_col), _MOD) * (_KNUTH % _MOD), _MOD).cast("double")
        < F.round(F.col("_rate") * _MOD, 0)
    )
    return (
        docs.join(F.broadcast(rates), source_col)
        .filter(F.col("_rate").isNotNull() & gate)
        .drop("_rate")
    )


def whitespace_tokens(text: Column) -> Column:
    """Whitespace token count — the packing currency."""
    return F.size(F.filter(F.split(text, "\\s+"), lambda t: t != ""))


def stratified_split(
    docs: DataFrame,
    fractions: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic stratified train/val/test assignment: within each
    source, docs are ranked by the hash-gate bucket (a reproducible shuffle
    — no RNG state, partitioning-independent) and the first
    floor(n*frac) go to each split in ``fractions`` order, remainder to the
    last split. Exact per-source proportions, unlike a plain hash gate
    whose per-source counts are only correct in expectation.

    100 TB shape: one window partitioned by source (bounded partitions);
    no global order anywhere.
    """
    names = list(fractions)
    if len(names) < 2:
        raise ValueError("need at least two splits")
    h = F.pmod(F.pmod(F.col(id_col) + F.lit(salt), _MOD) * (_KNUTH % _MOD), _MOD)
    w = Window.partitionBy(source_col).orderBy(h, F.col(id_col))
    rn = F.row_number().over(w)
    n = F.count("*").over(Window.partitionBy(source_col))
    split = None
    acc = 0.0
    for nm in names[:-1]:
        acc += fractions[nm]
        cond = rn <= F.floor(n * F.lit(float(acc)))
        split = F.when(cond, nm) if split is None else split.when(cond, nm)
    split = split.otherwise(names[-1])
    return docs.select(id_col, source_col, split.alias("split"))


def temperature_rates(
    docs: DataFrame, total: int, source_col: str = "source"
) -> DataFrame:
    """Per-source sampling rates for temperature-2 mixture sampling (the
    multilingual-LM standard, e.g. mT5's alpha=0.5 exponent): the target
    mixture weight q_s is proportional to sqrt(p_s) where p_s is the
    source's corpus share, so rare sources are up-weighted relative to
    their natural frequency. Returns (source, n, rate) with
    rate = min(1, total*q_s/n_s).

    tau is FIXED at 2 (exponent 0.5) so the power is sqrt — correctly
    rounded in IEEE 754 on every platform, unlike pow, whose last-ulp
    varies by libm and would break cross-engine parity. q is pinned at
    9 dp before the rate computation so the (tiny) cross-source float
    sum's association order cannot move a downstream gate.

    Scale: the whole frame is one row per source — an aggregate dim. The
    unpartitioned windows below run over that dim only, never the corpus.
    """
    counts = docs.groupBy(source_col).agg(F.count("*").alias("n"))
    wall = Window.partitionBy()
    p = F.col("n").cast("double") / F.sum("n").over(wall)
    qn = F.sqrt(p)
    q = F.round(qn / F.sum(qn).over(wall), 9)
    rate = F.round(
        F.least(F.lit(1.0), F.lit(float(total)) * q / F.col("n")), 6
    )
    return counts.select(source_col, "n", rate.alias("rate"))


def temperature_mix(
    docs: DataFrame,
    total: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Down-sample the corpus to a temperature-2 source mixture: hash-gate
    each source at the temperature_rates rate. Broadcast the (tiny) rate
    dim; the only corpus-scale work is one scan + filter."""
    rates = temperature_rates(docs, total, source_col)
    gate = (
        F.pmod(F.pmod(F.col(id_col), _MOD) * (_KNUTH % _MOD), _MOD).cast("double")
        < F.round(F.col("rate") * _MOD, 0)
    )
    return docs.join(F.broadcast(rates.drop("n")), source_col).filter(gate).drop("rate")


# ---- DSIR importance scoring (Xie et al. 2023, arXiv:2302.03169) --------------

_DSIR_P = 1_000_000_007  # polynomial-hash modulus: acc*131+127 < 2^62, no overflow
_DSIR_BASE = 131


def _poly_bucket(gram: Column, n_buckets: int) -> Column:
    """Hash a gram string into [0, n_buckets) with a polynomial roll mod a
    prime — every intermediate stays far inside int64, so the fold is
    ANSI-safe in Spark and replays exactly in DuckDB BIGINT (the FNV fold
    used for fingerprints needs mod-2^64 wraparound, which ANSI mode
    forbids natively)."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(gram)),
        lambda i: F.ascii(F.substring(gram, i, F.lit(1))).cast("long"),
    )
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(_DSIR_BASE) + c) % F.lit(_DSIR_P),
    )
    return h % F.lit(n_buckets)


def _word_grams_multi(text: Column, n: int) -> Column:
    """Word n-grams WITH multiplicity (bag, not set — DSIR features are
    bag-of-hashed-ngrams counts)."""
    toks = F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != "")
    sz = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # sequence(1, k) for k < 1 DESCENDS instead of being empty — guard
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


def _dsir_buckets(docs: DataFrame, n_buckets: int, id_col: str, text_col: str) -> DataFrame:
    """(id, bucket) — one row per unigram+bigram occurrence, hashed."""
    grams = F.concat(
        _word_grams_multi(F.col(text_col), 1), _word_grams_multi(F.col(text_col), 2)
    )
    return docs.select(
        F.col(id_col), F.explode(grams).alias("gram")
    ).select(id_col, _poly_bucket(F.col("gram"), n_buckets).alias("bucket"))


def dsir_importance(
    docs: DataFrame,
    target_docs: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance log-weights: log q(x)/p(x) per doc under
    bag-of-hashed-ngram (unigram+bigram) features, where p is the raw
    corpus's bucket distribution and q the target set's, both add-one
    smoothed over n_buckets. High logw = looks like the target domain;
    feed to a top-k or a Gumbel resample to select pretraining data
    (Xie et al. 2023; the feature family is FineWeb/DoReMi-adjacent).

    Shape at 100 TB: two explode+hash-agg passes produce <= n_buckets-row
    count dims; the log-ratio dim broadcasts back onto the exploded corpus
    grams (map-side partial agg to one row per doc). No self-joins, no
    collects, no global sorts. Docs with zero tokens drop out (no
    features -> no row).
    """
    raw = _dsir_buckets(docs, n_buckets, id_col, text_col)
    tgt = _dsir_buckets(target_docs, n_buckets, id_col, text_col)
    raw_counts = raw.groupBy("bucket").agg(F.count("*").alias("raw_n"))
    tgt_counts = tgt.groupBy("bucket").agg(F.count("*").alias("tgt_n"))
    wall = Window.partitionBy()  # dims are <= n_buckets rows
    # full outer: a bucket seen only in the target still counts toward q's
    # denominator (the scoring join below touches raw-present buckets only,
    # so the extra rows ride along in the broadcast dim unused)
    dim = (
        raw_counts.join(tgt_counts, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("raw_n", F.lit(0)).alias("raw_n"),
            F.coalesce("tgt_n", F.lit(0)).alias("tgt_n"),
        )
        .select(
            "bucket",
            (
                F.log(
                    (F.col("tgt_n") + 1).cast("double")
                    / (F.sum("tgt_n").over(wall) + F.lit(n_buckets))
                )
                - F.log(
                    (F.col("raw_n") + 1).cast("double")
                    / (F.sum("raw_n").over(wall) + F.lit(n_buckets))
                )
            ).alias("logratio"),
        )
    )
    return (
        raw.join(F.broadcast(dim), "bucket")
        .groupBy(id_col)
        .agg(F.round(F.sum("logratio"), 6).alias("logw"))
    )


def nb_classifier_score(
    docs: DataFrame,
    labeled: DataFrame,
    label_col: str = "label",
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based quality filter: train a Naive-Bayes log-odds classifier
    on a labeled doc set in ONE aggregation pass, score the corpus with a
    broadcast weight dim. This is the SQL-expressible analog of the
    fastText linear classifiers used for quality filtering in CCNet
    (Wenzek et al. 2020) and FineWeb-edu — same feature family as
    :func:`dsir_importance` (bag of hashed word uni+bigrams), but
    supervised: per-bucket weight = log P(bucket|pos) - log P(bucket|neg)
    (add-one smoothed over n_buckets), doc prior = log((n_pos+1)/(n_neg+1)).

    Returns (id, score, keep): score = prior + sum of gram-occurrence
    weights (6 dp), keep = score > 0. Docs with zero tokens drop out
    (no features — callers decide their fate, as with dsir_importance).

    Shape at 100 TB: the labeled set aggregates to a <= n_buckets-row
    weight dim plus a 1-row prior — both broadcast; the corpus side is one
    explode + map-side-partial hash-agg per doc. No self-joins, no
    collects, no global sorts.
    """
    lab = labeled.select(F.col(label_col).alias("_y"), F.col(text_col))
    lab_grams = lab.select(
        "_y", F.explode(F.concat(
            _word_grams_multi(F.col(text_col), 1),
            _word_grams_multi(F.col(text_col), 2),
        )).alias("gram")
    ).select("_y", _poly_bucket(F.col("gram"), n_buckets).alias("bucket"))
    counts = lab_grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("pos_n"),
        F.sum(F.when(F.col("_y"), 0).otherwise(1)).alias("neg_n"),
    )
    # densify over all n_buckets: a corpus bucket the labeled set never hit
    # still carries its add-one-smoothed weight (it must not silently drop
    # from a doc's score via an inner join)
    all_buckets = docs.sparkSession.range(n_buckets).select(
        F.col("id").alias("bucket")
    )
    counts = all_buckets.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce("pos_n", F.lit(0)).alias("pos_n"),
        F.coalesce("neg_n", F.lit(0)).alias("neg_n"),
    )
    wall = Window.partitionBy()  # dim is exactly n_buckets rows
    dim = counts.select(
        "bucket",
        (
            F.log((F.col("pos_n") + 1).cast("double")
                  / (F.sum("pos_n").over(wall) + F.lit(n_buckets)))
            - F.log((F.col("neg_n") + 1).cast("double")
                    / (F.sum("neg_n").over(wall) + F.lit(n_buckets)))
        ).alias("weight"),
    )
    prior = lab.agg(
        F.log(
            (F.sum(F.when(F.col("_y"), 1).otherwise(0)) + 1).cast("double")
            / (F.sum(F.when(F.col("_y"), 0).otherwise(1)) + 1)
        ).alias("prior")
    )
    feats = _dsir_buckets(docs, n_buckets, id_col, text_col)
    return (
        feats.join(F.broadcast(dim), "bucket")
        .groupBy(id_col)
        .agg(F.sum("weight").alias("_w"))
        .crossJoin(F.broadcast(prior))
        .select(
            id_col,
            F.round(F.col("_w") + F.col("prior"), 6).alias("score"),
            (F.col("_w") + F.col("prior") > 0).alias("keep"),
        )
    )


def pack_shards(
    docs: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign each doc a training-shard id so shards hold ~budget_tokens.

    shard_id = (source, floor((cumulative_tokens - tokens)/budget)) — the
    doc starts a new shard when the running total crosses the budget.
    Cumulative sums run PER SOURCE (window partitioned by source, ordered by
    doc id): a global cumsum would be a single-partition window — the
    classic local-test-passes/cluster-dies shape. At 100 TB, substitute any
    bounded partition key (source, date, shard-of-id) — packing quality only
    needs locality, not a global order.
    """
    w = Window.partitionBy(source_col).orderBy(id_col)
    toks = whitespace_tokens(F.col(text_col))
    return docs.select(
        id_col,
        source_col,
        toks.alias("n_tokens"),
        F.floor(
            (F.sum(toks).over(w) - toks).cast("double") / F.lit(float(budget_tokens))
        ).cast("int").alias("shard_in_source"),
    )


def word_ngram_set(text: Column, n: int) -> Column:
    """Distinct word n-grams for arbitrary n, fully native: slice windows of
    the token array indexed by a generated sequence (no Python)."""
    toks = F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != "")
    sz = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # sequence(1, k) for k < 1 DESCENDS instead of being empty — guard short
    # texts explicitly
    return F.when(sz >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_overlap(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, overlap_grams) for every doc sharing at least one word
    n-gram with the eval set — the benchmark-decontamination probe.

    Shape: explode doc grams -> join against the DISTINCT eval gram set.
    The eval side (a benchmark suite, thousands of docs) collapses to a
    small distinct gram dim — broadcast; the corpus side is one explode +
    one partial-aggregated count. No corpus self-join.
    """
    eval_grams = (
        eval_docs.select(
            F.explode(word_ngram_set(F.col(text_col), n)).alias("gram")
        ).distinct()
    )
    doc_grams = docs.select(
        F.col(id_col), F.explode(word_ngram_set(F.col(text_col), n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("overlap_grams"))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs with >= min_overlap shared n-grams removed (left-anti join on
    the flagged id set)."""
    flagged = (
        ngram_overlap(docs, eval_docs, n, id_col, text_col)
        .filter(F.col("overlap_grams") >= min_overlap)
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")


def sequence_plan(
    docs: DataFrame,
    seq_len: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Training-sequence packing plan: map each doc onto the fixed-length
    token sequences it feeds (the final LLM-data step — documents
    concatenated per source stream in deterministic (source, id) order,
    chunked into ``seq_len``-token training sequences that CROSS doc
    boundaries). Computed without materializing a single token: one
    per-source cumulative-sum window gives every doc its global token
    offset, and the sequence indices fall out arithmetically —

        seq_first    = floor(cum_before / L)
        seq_last     = floor((cum_before + n - 1) / L)
        first_offset = cum_before % L   (doc's first token within seq_first)

    Per-source streams keep the window partitioned (pack_shards' rule: a
    GLOBAL order cumsum would be a single-partition window); training
    mixtures are assembled per source anyway. Empty docs are dropped.

    ``n_tokens_col`` swaps the whitespace token count for a precomputed
    per-doc count column (e.g. BPE subword lengths from
    ``bpe.encode_docs`` — see ``bpe_sequence_plan``) so token budgets
    reflect the real tokenizer the training run will use."""
    w = Window.partitionBy(source_col).orderBy(id_col)
    n = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else whitespace_tokens(F.col(text_col))
    )
    d = docs.select(
        F.col(source_col).alias("source"), F.col(id_col).alias("doc_id"), n.alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    cum = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_before")
    return d.select("source", "doc_id", "n_tokens", cum).select(
        "source",
        "doc_id",
        "n_tokens",
        "cum_before",
        F.floor(F.col("cum_before") / seq_len).cast("long").alias("seq_first"),
        F.floor((F.col("cum_before") + F.col("n_tokens") - 1) / seq_len)
        .cast("long")
        .alias("seq_last"),
        (F.col("cum_before") % seq_len).cast("long").alias("first_offset"),
    )


def bpe_sequence_plan(
    docs: DataFrame,
    merges: list[dict],
    seq_len: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``sequence_plan`` with REAL tokenizer lengths: per-doc token counts
    come from the learned BPE merges (``bpe.encode_docs`` — vocab-side
    rewrite + broadcast join, so merges touch each distinct word once)
    instead of whitespace tokens. The packing arithmetic is unchanged;
    only the n_tokens feeding the cumulative-sum window differs, so
    sequence budgets match what the training run's tokenizer will
    actually emit."""
    from . import bpe as B

    counts = B.encode_docs(docs, merges, id_col=id_col, text_col=text_col)
    d = docs.select(F.col(source_col), F.col(id_col)).join(counts, id_col)
    return sequence_plan(
        d, seq_len, source_col, id_col, text_col, n_tokens_col="n_subwords"
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: int = 7,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    the A-ES one-pass scheme): each row draws key = u^(1/w) with u ~ U(0,1]
    and the n largest keys are the sample — inclusion probabilities follow
    the weights exactly, in one distributed pass with no sequential state.
    This closes the DSIR loop: `dsir_importance` log-weights → exp →
    weighted selection of the target-distribution-matched subset.

    Determinism rule: u is not random — it derives from the same portable
    Carter-Wegman hash family as `operators/sketches.py` (exact int64 in
    any engine), u = (h + 1) / (P + 1) ∈ (0, 1], so reruns and the DuckDB
    oracle reproduce the sample bit-for-bit. log-space keys (ln u / w)
    avoid u^(1/w) underflow for tiny weights; ordering is identical.
    Non-positive weights are excluded (zero-weight rows must never win).

    Non-integral id columns (the crawl corpus keys docs by url_norm, a
    string) are first hashed to a non-negative int64 with the same
    portable polynomial fingerprint as `operators/sketches.py` keys —
    `key % _P` on a raw string would null out and every row would draw
    the same u. Integral ids are used directly (oracle-replayable as
    plain arithmetic).

    100 TB shape: a projection + global top-n — and top-n here rides
    `orderBy().limit(n)`, which Spark executes as per-partition partial
    top-n + a driver-side merge of n-row heads (TakeOrderedAndProject),
    never a full sort."""
    from .sketches import _P

    _INTEGRAL = ("tinyint", "smallint", "int", "bigint")
    if dict(docs.dtypes).get(id_col) in _INTEGRAL:
        key = F.col(id_col)
    else:
        from .textstats import doc_fingerprint_udf

        key = F.pmod(doc_fingerprint_udf(F.col(id_col).cast("string")), F.lit(_P))
    h = (F.lit(48611) * (key % F.lit(_P)) + F.lit(salt)) % F.lit(_P)
    u = (h.cast("double") + 1.0) / float(_P + 1)
    log_key = F.log(u) / F.col(weight_col)
    return (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("sample_key", F.round(log_key, 9))
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(n)
    )


def domain_cap(
    docs: DataFrame,
    key_col: str,
    order_cols: list[Column],
    cap: int,
    tiebreak_col: str = "doc_id",
    salt_factor: int = 8,
) -> DataFrame:
    """Per-domain document cap — the FineWeb/Dolma curation step that stops
    one prolific host from dominating a training mix: keep at most ``cap``
    documents per ``key_col`` group under the total order ``order_cols``
    (callers pass e.g. [quality desc, doc_id asc]; the order MUST be total
    or the kept set is nondeterministic). Adds ``rk`` (1-based rank within
    the domain) to the surviving rows.

    Scale shape (10^10 docs, hot domains with 10^8 pages): the same salted
    two-phase top-k as the frontier scheduler (scheduler.schedule_epoch W1)
    — phase 1 ranks within (domain, salt) so no single task ever sorts a
    whole hot domain, phase 2 ranks at most salt_factor x cap survivors per
    domain. Two hash shuffles, both on the domain key; no global sort.
    The reference has no corpus tier; this extends its dedup/politeness
    per-domain discipline (services/url-scheduler/domain_sharding.py) to
    training-data assembly.
    """
    salt = F.pmod(F.xxhash64(F.col(tiebreak_col).cast("string")), F.lit(salt_factor))
    pre = Window.partitionBy(key_col, "_salt").orderBy(*order_cols)
    fin = Window.partitionBy(key_col).orderBy(*order_cols)
    return (
        docs.withColumn("_salt", salt)
        .withColumn("_pre_rk", F.row_number().over(pre))
        .filter(F.col("_pre_rk") <= cap)
        .withColumn("rk", F.row_number().over(fin))
        .filter(F.col("rk") <= cap)
        .drop("_salt", "_pre_rk")
    )


def data_epochs_plan(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    max_epochs: float = 4.0,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Repeated-data audit for a training mix (Muennighoff et al. 2023:
    repeating past ~4 epochs stops buying loss): given target mixture
    `weights` and a total `token_budget`, compute per source the tokens
    available, the tokens the mixture wants, the implied EPOCH COUNT
    (desired/available), whether it breaches `max_epochs`, and the
    capped grant min(desired, max_epochs*available) — the number the mix
    must renormalize around when a small source can't cover its weight.

    100 TB shape: one map-side-combined hash-agg to the source axis,
    then pure arithmetic against the broadcast (literal) weight dim —
    the audit costs one pass regardless of corpus size."""
    ws = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    per = docs.groupBy(F.col(source_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(ws)).cast("long").alias("n_tokens"),
    )
    total_w = float(sum(weights.values()))
    wmap = F.create_map(
        *[x for s, w in sorted(weights.items())
          for x in (F.lit(s), F.lit(float(w) / total_w))]
    )
    desired = wmap[F.col(source_col)] * F.lit(float(token_budget))
    epochs = desired / F.col("n_tokens").cast("double")
    capped = F.least(
        desired, F.lit(float(max_epochs)) * F.col("n_tokens").cast("double")
    )
    return (
        per.filter(wmap[F.col(source_col)].isNotNull())
        .select(
            F.col(source_col),
            "n_docs",
            "n_tokens",
            F.round(desired, 2).alias("desired_tokens"),
            F.round(epochs, 4).alias("epochs"),
            (epochs > F.lit(float(max_epochs))).alias("over_cap"),
            F.round(capped, 2).alias("granted_tokens"),
        )
    )
