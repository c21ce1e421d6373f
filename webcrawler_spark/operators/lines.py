"""Line-level corpus cleaning — C4/RefinedWeb/CCNet-style operators.

Web-corpus pipelines clean at THREE granularities: document (dedup.py,
similarity.py), line/paragraph (this module), and span (textstats.
repetition_signals). The line tier removes boilerplate that is duplicated
ACROSS documents — nav bars, cookie banners, footers — which survives
document-level dedup because every page's full text differs.

Public recipes implemented (semantics from the published descriptions, not
any code): C4 (Raffel et al. 2020, §2.1) keeps lines with enough words and
drops short/navigational ones; CCNet / RefinedWeb drop lines duplicated in
many documents; Gopher (Rae et al. 2021, A1.1) measures the fraction of
text inside duplicated lines as a quality signal.

Scale shape (100 TB): one explode of the corpus into (doc, pos, line), one
partial-aggregated count per line hash, one hash-join of the exploded table
against the flagged-line set (NOT broadcast — the boilerplate set of a web
corpus is itself large), one groupBy-doc rebuild. Two shuffles total, both
on 8-byte hashes. No window over the whole corpus, no driver-side state.

Line segmentation is pluggable: ``mode="lines"`` splits on newlines (real
WET-style text); ``mode="chunks"`` derives fixed-width token windows from
flat text — deterministic and expressible identically in ANSI SQL, so the
driver's DuckDB oracle can verify the operators on the flat synthetic
``documents`` table (which contains no newlines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

CHUNK_WIDTH = 8


def _tokens(text: Column) -> Column:
    return F.filter(F.split(text, "\\s+"), lambda t: t != "")


def segment(text: Column, mode: str = "lines", width: int = CHUNK_WIDTH) -> Column:
    """text -> array<string> of lines.

    mode="lines": split on newline, drop whitespace-only lines.
    mode="chunks": consecutive `width`-token windows of the whitespace
    token stream (the oracle-expressible segmenter for newline-free text).
    """
    if mode == "lines":
        return F.filter(F.split(text, "\n"), lambda l: F.trim(l) != "")
    if mode != "chunks":
        raise ValueError(f"unknown segment mode: {mode}")
    # one fold over the token stream carrying (done chunks, open chunk,
    # its token count): a lambda that indexed ``toks`` would re-split the
    # text once per chunk, since the interpreted lambda re-evaluates every
    # outer expression it references
    zero = F.struct(
        F.array().cast("array<string>").alias("done"),
        F.lit("").alias("cur"),
        F.lit(0).alias("cnt"),
    )

    def step(acc: Column, t: Column) -> Column:
        full = acc["cnt"] == width
        return F.struct(
            F.when(full, F.concat(acc["done"], F.array(acc["cur"])))
            .otherwise(acc["done"])
            .alias("done"),
            F.when(full | (acc["cnt"] == 0), t)
            .otherwise(F.concat_ws(" ", acc["cur"], t))
            .alias("cur"),
            F.when(full, F.lit(1)).otherwise(acc["cnt"] + 1).alias("cnt"),
        )

    chunks = F.aggregate(
        _tokens(text),
        zero,
        step,
        lambda acc: F.when(
            acc["cnt"] > 0, F.concat(acc["done"], F.array(acc["cur"]))
        ).otherwise(acc["done"]),
    )
    # null text segments to no chunks, like empty text
    return F.coalesce(chunks, F.array().cast("array<string>"))


def line_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "lines",
    width: int = CHUNK_WIDTH,
) -> DataFrame:
    """(id, pos, line) — one row per line, pos 0-based within the doc."""
    return docs.select(
        F.col(id_col),
        F.posexplode(segment(F.col(text_col), mode, width)).alias("pos", "line"),
    )


def line_doc_freq(lines: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(line, n_docs): number of DISTINCT docs containing each line.

    Two-phase distinct-then-count (dropDuplicates gets map-side partial
    aggregation) instead of count_distinct, so no single big distinct agg.
    """
    return (
        lines.select("line", id_col)
        .dropDuplicates(["line", id_col])
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _flagged(lines: DataFrame, max_doc_freq: int, id_col: str) -> DataFrame:
    return (
        line_doc_freq(lines, id_col)
        .filter(F.col("n_docs") > max_doc_freq)
        .select("line")
    )


def dedup_lines(
    docs: DataFrame,
    max_doc_freq: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "lines",
    width: int = CHUNK_WIDTH,
) -> DataFrame:
    """Remove every line occurring in more than `max_doc_freq` distinct
    docs (CCNet/RefinedWeb boilerplate removal), rebuild the text.

    Returns (id, text_clean, n_lines_kept, n_lines_total); docs whose every
    line was boilerplate survive with text_clean = '' (the caller decides
    whether to drop empties — C4 does, CCNet keeps for stats).
    """
    lines = line_table(docs, id_col, text_col, mode, width)
    kept = lines.join(_flagged(lines, max_doc_freq, id_col), "line", "left_anti")
    sep = "\n" if mode == "lines" else " "
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines_total"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_lines_kept", F.lit(0)).cast("int").alias("n_lines_kept"),
            F.col("n_lines_total").cast("int"),
        )
    )


def boilerplate_char_fraction(
    docs: DataFrame,
    max_doc_freq: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "lines",
    width: int = CHUNK_WIDTH,
) -> DataFrame:
    """Gopher-style cross-doc signal: per doc, the fraction of line
    characters that sit in lines duplicated across > max_doc_freq docs.
    Returns (id, dup_line_char_frac)."""
    lines = line_table(docs, id_col, text_col, mode, width)
    flagged = _flagged(lines, max_doc_freq, id_col).withColumn("dup", F.lit(1))
    marked = lines.join(flagged, "line", "left")
    return marked.groupBy(id_col).agg(
        (
            F.sum(
                F.when(F.col("dup") == 1, F.length("line")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum(F.length("line")).cast("double")
        ).alias("dup_line_char_frac")
    )


def c4_line_filter(
    docs: DataFrame,
    min_words: int = 3,
    min_lines: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "lines",
    width: int = CHUNK_WIDTH,
    require_terminal_punct: bool = False,
) -> DataFrame:
    """C4 §2.1 line rules, per-doc and fully native (no shuffle at all —
    higher-order functions over the segmented array):

    - keep lines with >= min_words words (C4 drops shorter);
    - optionally require terminal punctuation . ! ? " (C4's rule; off by
      default for punctuation-free corpora);
    - drop lines containing 'javascript' (case-insensitive);
    - drop the whole doc if < min_lines lines survive or if the raw text
      contains 'lorem ipsum' or '{'.

    Returns (id, text_clean, n_lines_kept) for surviving docs only.
    """
    segs = segment(F.col(text_col), mode, width)

    def _keep(l: Column) -> Column:
        ok = F.size(F.filter(F.split(l, " "), lambda t: t != "")) >= min_words
        ok = ok & ~F.lower(l).contains("javascript")
        if require_terminal_punct:
            ok = ok & F.substring(l, -1, 1).isin(".", "!", "?", '"')
        return ok

    kept = F.filter(segs, _keep)
    sep = "\n" if mode == "lines" else " "
    out = docs.select(
        F.col(id_col),
        F.array_join(kept, sep).alias("text_clean"),
        F.size(kept).alias("n_lines_kept"),
        F.col(text_col).alias("_raw"),
    )
    return (
        out.filter(
            (F.col("n_lines_kept") >= min_lines)
            & ~F.lower("_raw").contains("lorem ipsum")
            & ~F.col("_raw").contains("{")
        ).drop("_raw")
    )


def _ngrams(toks: Column, n: int) -> Column:
    """Overlapping word n-grams of a token array, space-joined: the i-th
    gram zips the i-th elements of ``toks`` shifted by 0..n-1, so the token
    array is evaluated n times per row, never once per gram."""
    m = F.size(toks) - n + 1
    grams = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        grams = F.zip_with(grams, F.slice(toks, j, m), lambda a, b: F.concat_ws(" ", a, b))
    # slice() refuses a negative length — guard short docs
    return F.when(m >= 1, grams).otherwise(F.array().cast("array<string>"))


def _dup_beyond_first(sorted_arr: Column) -> tuple[Column, Column]:
    """(count, chars) of occurrences beyond the first of each distinct
    element — one fold over the pre-sorted array (an element is a repeat
    iff it equals the previous one), never a quadratic distinct×all scan.
    The fold carries the previous element instead of indexing the array,
    so the array (and the sort behind it) is evaluated once per row."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("n"),
        F.lit(0).cast("long").alias("chars"),
    )

    def step(acc: Column, g: Column) -> Column:
        rep = g == acc["prev"]  # null (never a repeat) for the first element
        return F.struct(
            g.alias("prev"),
            (acc["n"] + F.when(rep, 1).otherwise(0)).alias("n"),
            (acc["chars"] + F.when(rep, F.length(g)).otherwise(0)).alias("chars"),
        )

    out = F.aggregate(sorted_arr, zero, step)
    return out["n"], out["chars"]


def _dup_any_occurrence_chars(sorted_arr: Column) -> Column:
    """Chars of EVERY occurrence of any element occurring >= 2 times — the
    sum over runs of equal neighbours of length >= 2 of run x chars. One
    fold carrying (prev, run, total) that closes a run when the element
    changes, as above."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).cast("long").alias("total"),
    )

    def closed(acc: Column) -> Column:
        return acc["total"] + F.when(
            acc["run"] >= 2, acc["run"] * F.length(acc["prev"])
        ).otherwise(0)

    def step(acc: Column, g: Column) -> Column:
        same = g == acc["prev"]
        return F.struct(
            g.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(same, acc["total"]).otherwise(closed(acc)).alias("total"),
        )

    return F.aggregate(sorted_arr, zero, step, closed)


def _top_run(sorted_arr: Column) -> Column:
    """struct(best_c, best_g): the most frequent element of the pre-sorted
    array and its count, ties broken toward the lexicographically greatest
    element — a single linear fold carrying (prev, run, best) state."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best_c"),
        F.lit("").alias("best_g"),
    )

    def step(acc: Column, g: Column) -> Column:
        run2 = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = (run2 > acc["best_c"]) | (
            (run2 == acc["best_c"]) & (g >= acc["best_g"])
        )
        return F.struct(
            g.alias("prev"),
            run2.alias("run"),
            F.when(better, run2).otherwise(acc["best_c"]).alias("best_c"),
            F.when(better, g).otherwise(acc["best_g"]).alias("best_g"),
        )

    return F.aggregate(sorted_arr, zero, step)


def gopher_repetition(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "lines",
    width: int = CHUNK_WIDTH,
    top_n: int = 2,
    dup_n: int = 3,
) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021, A1.1) per document,
    fully native and shuffle-free (higher-order functions only):

    - ``dup_seg_frac`` / ``dup_seg_char_frac``: fraction of segments
      (lines, or fixed-width token chunks for newline-free corpora) that
      are repeats of an earlier identical segment, and the char fraction
      those repeats cover (Gopher's duplicate line / paragraph fractions);
    - ``top_ngram_char_frac``: chars of the most frequent word ``top_n``-gram
      times its count, over total chars (ties to the lexicographically
      greatest gram, deterministically);
    - ``dup_ngram_char_frac``: chars of every occurrence of any
      ``dup_n``-gram occurring >= 2 times, over total chars (overlap-naive:
      occurrences counted independently, spans not merged).

    Every pass is linear in document length (sorted array + neighbor
    equality / run fold), so a pathological 10^5-line page costs
    O(L log L), not the O(distinct x L) of the naive counting shape.
    """
    text = F.col(text_col)
    chars = F.length(text)
    segs_sorted = F.array_sort(segment(text, mode, width))
    n_seg = F.size(segs_sorted)
    n_dup, dup_chars = _dup_beyond_first(segs_sorted)

    toks = _tokens(text)
    top = _top_run(F.array_sort(_ngrams(toks, top_n)))
    dupg_chars = _dup_any_occurrence_chars(F.array_sort(_ngrams(toks, dup_n)))

    def frac(num: Column, den: Column) -> Column:
        return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
            F.lit(0.0)
        )

    return docs.select(
        F.col(id_col),
        n_seg.alias("n_segments"),
        frac(n_dup, n_seg).alias("dup_seg_frac"),
        frac(dup_chars, chars).alias("dup_seg_char_frac"),
        frac(top["best_c"] * F.length(top["best_g"]), chars).alias(
            "top_ngram_char_frac"
        ),
        frac(dupg_chars, chars).alias("dup_ngram_char_frac"),
    )


def host_templates(
    docs: DataFrame,
    host_col: str = "host",
    min_frac: float = 0.5,
    min_pages: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "lines",
    width: int = CHUNK_WIDTH,
) -> DataFrame:
    """Per-SITE template discovery: lines appearing in >= ``min_frac`` of a
    single host's pages (hosts with >= ``min_pages`` pages). The site-scoped
    complement of :func:`dedup_lines`'s global doc-frequency gate — nav
    bars, footers, and cookie banners repeat within one site but can be
    globally rare, so a global threshold misses them while a host-local
    fraction nails them (the CCNet/RefinedWeb per-domain boilerplate
    observation; the reference extracts text per page, parser/app.py, and
    never sees cross-page structure at all).

    Returns (host, line, n_docs, n_pages, frac) for flagged lines; join
    back with a left-anti on (host, line) to strip them.

    Shape at 100 TB: one explode + two hash aggs keyed on (host, line) and
    host — within a giant host the (host, line) key still spreads across
    reducers by line, and the per-host page-count dim is one row per host
    (broadcastable). No global state, no windows, no collects.
    """
    lines = docs.select(
        F.col(host_col).alias("host"),
        F.col(id_col),
        F.explode(segment(F.col(text_col), mode, width)).alias("line"),
    ).dropDuplicates(["host", "line", id_col])
    per_line = lines.groupBy("host", "line").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    pages = (
        docs.select(F.col(host_col).alias("host"), F.col(id_col))
        .dropDuplicates()
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    return (
        per_line.join(pages, "host")
        .filter(
            (F.col("n_pages") >= min_pages)
            & (
                F.col("n_docs").cast("double") / F.col("n_pages").cast("double")
                >= F.lit(min_frac)
            )
        )
        .select(
            "host",
            "line",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_pages").cast("bigint").alias("n_pages"),
            F.round(
                F.col("n_docs").cast("double") / F.col("n_pages").cast("double"), 6
            ).alias("frac"),
        )
    )


def strip_host_templates(
    docs: DataFrame,
    host_col: str = "host",
    min_frac: float = 0.5,
    min_pages: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "lines",
    width: int = CHUNK_WIDTH,
) -> DataFrame:
    """The acting half of :func:`host_templates`: remove every flagged
    template line from its host's docs and rebuild the text (same rebuild
    contract as :func:`dedup_lines` — (id, text_clean, n_lines_kept,
    n_lines_total), all-template docs survive with text_clean = '').
    The strip is host-scoped: the same line on another host, where it is
    NOT a template, stays.

    Shape: host_templates' two hash aggs + one left-anti join keyed on
    (host, line) + the per-doc rebuild agg. Nothing global.
    """
    flagged = host_templates(
        docs, host_col, min_frac, min_pages, id_col, text_col, mode, width
    ).select("host", "line")
    lines = docs.select(
        F.col(host_col).alias("host"),
        F.col(id_col),
        F.posexplode(segment(F.col(text_col), mode, width)).alias("pos", "line"),
    )
    kept = lines.join(flagged, ["host", "line"], "left_anti")
    sep = "\n" if mode == "lines" else " "
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines_total"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_lines_kept", F.lit(0)).cast("int").alias("n_lines_kept"),
            F.col("n_lines_total").cast("int"),
        )
    )


def fineweb_filters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_punct_line_frac: float = 0.12,
    max_short_line_frac: float = 0.67,
    short_line_chars: int = 30,
    max_dup_line_char_frac: float = 0.10,
) -> DataFrame:
    """The three doc-level filters FineWeb (Penedo et al. 2024 §3.4) added
    on TOP of the C4 + Gopher stacks (both implemented elsewhere in this
    package): remove a doc when (a) the fraction of lines ending in
    punctuation is below 0.12, (b) >= 0.67 of lines are shorter than 30
    chars, or (c) > 0.10 of line characters sit in within-doc duplicate
    lines. Emits each signal (6dp) plus per-rule fails and the combined
    `fineweb_pass`.

    Fully native higher-order array ops over the line split — per-row
    linear passes (the dup fraction uses the sorted-array neighbor-
    equality trick, O(L log L) worst case), NO explode, NO shuffle: the
    whole filter fuses into whatever scan already reads text."""
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != "")
    n = F.size(lines)
    punct = F.size(
        F.filter(lines, lambda x: x.rlike('[.!?"’”]\\s*$'))
    )
    short = F.size(
        F.filter(lines, lambda x: F.length(x) < short_line_chars)
    )
    tot_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    srt = F.array_sort(lines)
    _, dup_chars = _dup_beyond_first(srt)
    frac = lambda a, b: F.round(  # noqa: E731
        a.cast("double") / F.greatest(b.cast("double"), F.lit(1.0)), 6
    )
    out = docs.select(
        F.col(id_col),
        n.alias("n_lines"),
        frac(punct, n).alias("punct_line_frac"),
        frac(short, n).alias("short_line_frac"),
        F.when(n < 2, F.lit(0.0))
        .otherwise(frac(dup_chars, tot_chars))
        .alias("dup_line_char_frac"),
    )
    return out.select(
        "*",
        (F.col("punct_line_frac") < min_punct_line_frac).alias("fail_punct"),
        (F.col("short_line_frac") >= max_short_line_frac).alias("fail_short"),
        (F.col("dup_line_char_frac") > max_dup_line_char_frac).alias("fail_dup"),
    ).select(
        "*",
        (
            ~F.col("fail_punct") & ~F.col("fail_short") & ~F.col("fail_dup")
        ).alias("fineweb_pass"),
    )
