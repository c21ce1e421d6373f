"""Exact-substring duplicate-span detection (ExactSubstr-style dedup).

The published exact-substring tier of LLM-corpus dedup (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better") removes every
sufficiently-long substring that appears more than once in the corpus —
catching templated boilerplate and cross-site syndication that document- and
line-level dedup both miss (the duplicated run can sit mid-paragraph). The
paper builds a corpus-wide suffix array; the Spark-shaped equivalent is
token-n-gram fingerprinting:

  tokens -> sliding n-gram windows (stride 1 = the paper's granularity,
  stride s trades recall for an s-fold row cut)
  -> explode to (doc, pos, gram_hash)        # THE row blow-up: one row per
                                             # token; payload after project
                                             # is (8B id, 4B pos, 16B hash)
  -> grams seen >1 time corpus-wide          # count-window on gram_hash:
                                             # one shuffle, one pass (an
                                             # agg + back-join would
                                             # recompute the explode)
  -> per-doc interval merge of [pos, pos+n)  # one window per doc
                                             # (gaps-and-islands cummax)

Output is merged token spans per doc. All JVM-native — windows come from
`F.sequence` + `F.transform` (no Python), the gram hash is md5 of the
joined window (md5 so the DuckDB oracle computes the identical key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def duplicate_ngram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    stride: int = 1,
) -> DataFrame:
    """Merged per-doc token spans `[span_start, span_end)` covered by some
    n-gram that occurs more than once corpus-wide (across OR within docs).

    Positions are 0-based token offsets; a span's grams all start at
    positions ``span_start .. span_end - n``. ``stride`` subsamples window
    start positions (detection granularity; 1 = exact).
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    grams = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda i: i % stride == 0,
                )
            ).alias("pos"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.array_join(F.slice("toks", F.col("pos") + 1, n), " ")).alias("gh"),
        )
    )

    # corpus-wide gram count as a window over gh: ONE pass over the exploded
    # grams (a groupBy+semi-join shape would recompute the explode+md5 for
    # the rejoin — 2x the dominant cost). (doc_id, pos) is unique by
    # construction, so no dedup is needed after the filter.
    w_gh = Window.partitionBy("gh")
    hits = (
        grams.withColumn("cnt", F.count(F.lit(1)).over(w_gh))
        .filter(F.col("cnt") > 1)
        .select("doc_id", "pos", (F.col("pos") + n).alias("end"))
    )

    # gaps-and-islands interval merge: a new island starts when this gram
    # begins after every earlier gram in the doc has ended
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = hits.withColumn(
        "new_island",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w))
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"), F.max("end").alias("span_end")
    ).select("doc_id", "span_start", "span_end")
