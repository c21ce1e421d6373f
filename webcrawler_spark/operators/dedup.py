"""URL + content deduplication operators.

- canonicalize: F1/F2 projection (vectorized UDF) + 64-bit fingerprint.
- dedupe_new_urls: the two-tier seen-set check (deduplicator.py:88-121)
  re-expressed as [optional bloom prefilter] -> left-anti join. The anti-join
  is the authoritative tier (the reference's Postgres UNIQUE url_hash); the
  partitioned bloom is the cross-epoch persistent prefilter (the reference's
  Redis set, deduplicator.py:97-103). At 10^10 URLs the bloom table is ~17 GB
  of bits split across buckets (SURVEY §7 hard-part 3); each bucket blob stays
  well under the 2 GB Arrow limit. Blob filters (this bloom and cuckoo.py)
  share one maintenance shell, ``_fold_blobs`` (build: grouped-map;
  update/delete: one cogroup of blobs and fps by bucket), and one probe,
  ``_probe_blobs``; each filter supplies only its per-bucket fold and
  decoder. A table's recorded nb, m and k are authoritative; sizing
  arguments size only buckets with no blob yet.
- fuzzy_dedupe: same-domain last-100 fuzzy match (deduplicator.py:123-186),
  off the hot path: the epoch loop never calls it, callers opt in by calling.
- content_dedup: content-hash window dedup (indexer/app.py:216-253) — first
  writer by (first_seen, url) wins, losers are marked duplicates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig, DEFAULT_CONFIG
from ..functions import columns as C
from ..functions.udfs import canonicalize_udf, fuzz_max_score_udf

# ---- canonicalize + fingerprint ------------------------------------------------


def canonicalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds url_norm/host/path/url_fp; drops rows the normalizer rejects
    (url_normalizer.py:35-88 reject rules).

    Routing: rows passing ``is_simple_url`` take the all-native Catalyst
    expression (whole-stage codegen, no Arrow crossing); the rest take the
    pandas UDF. The filter-union keeps the UDF off the fast-path rows
    entirely (a when() would evaluate the vectorized UDF on every row). At
    web scale ~99% of URLs are simple, so the Python lane is cold."""
    from ..functions.urlnorm_native import canonicalize_native, is_simple_url

    simple = is_simple_url(F.col(url_col))
    fast = df.filter(simple).withColumn("_canon", canonicalize_native(F.col(url_col)))
    slow = df.filter(~F.coalesce(simple, F.lit(False))).withColumn(
        "_canon", canonicalize_udf(F.col(url_col))
    )
    return (
        fast.unionByName(slow)
        .withColumn("url_norm", F.col("_canon.url_norm"))
        .withColumn("host", F.col("_canon.host"))
        .withColumn("path", F.col("_canon.path"))
        .drop("_canon")
        .filter(F.col("url_norm").isNotNull())
        .withColumn("url_fp", C.url_fp(F.col("url_norm")))
    )


def merge_candidates(canon: DataFrame) -> DataFrame:
    """Within-batch merge of canonicalized candidates: one row per
    fingerprint, deterministic merge of payloads (min depth, max source
    priority, lexicographically-first url/source).

    Grouping on the 8-byte url_fp instead of the (url_norm, host, path)
    string tuple keeps the hash-agg key fixed-width — the string columns are
    functionally determined by the fingerprint and ride along as min()
    aggregates (min = the value itself in every non-colliding group; a
    2^-64 collision conflates two URLs, which is already the engine's
    seen-set semantics since the anti-join keys on the fingerprint too)."""
    return canon.groupBy("url_fp").agg(
        F.min("url_norm").alias("url_norm"),
        F.min("host").alias("host"),
        F.min("path").alias("path"),
        F.min("url").alias("url"),
        F.min("depth").alias("depth"),
        F.max("source_priority").alias("source_priority"),
        F.min("source_url").alias("source_url"),
    )


# ---- partitioned persistent bloom filter ---------------------------------------


def bucket_of(fp: "F.Column", n_buckets: int) -> "F.Column":
    """Blob-bucket assignment: pmod over a REMIXED hash of the fingerprint,
    not the raw fp — raw pmod leaks the fp distribution into bucket choice
    (e.g. even-only fps land in half the buckets, doubling their load and
    overflowing fixed-size cuckoo blobs). xxhash64 re-mix makes the spread
    uniform regardless of how the fps were produced."""
    return F.pmod(F.xxhash64(fp), F.lit(n_buckets)).cast("int")


def _table_n_buckets(blobs: DataFrame) -> int | None:
    """Bucket modulus recorded in a blob table's nb column.

    A table without nb predates the xxhash64 remix in bucket_of: its blobs
    were bucketed with a DIFFERENT function, so inferring a modulus and
    probing it would look up the wrong blob for every old fingerprint —
    silent tier-1 false negatives that route previously-seen URLs around the
    authoritative anti-join. Refuse loudly instead; the epoch loop treats
    such snapshots as absent and rebuilds the filter from the full seen set
    (bootstrap guard in plans/epoch.py)."""
    if "nb" not in blobs.columns:
        raise ValueError(
            "blob table has no 'nb' column: incompatible snapshot written "
            "with a different bucket function — rebuild the filter from the "
            "full seen set instead of probing it"
        )
    v = blobs.agg(F.max("nb")).first()[0]
    return int(v) if v else None

_BLOOM_SALT1 = -7046029254386353131  # golden-ratio odd constant (public Kirsch-Mitzenmacher double hashing)
_BLOOM_SALT2 = -4417276706812531889


def _bloom_params(capacity_per_bucket: int, fp_rate: float) -> tuple[int, int]:
    """Classic bloom sizing: m = -n ln p / ln2^2 bits, k = m/n ln2."""
    import math

    n = max(capacity_per_bucket, 1)
    m = int(-n * math.log(fp_rate) / (math.log(2) ** 2))
    m = max(64, (m + 63) // 64 * 64)  # round to whole words
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_indices(fps, m: int, k: int):
    """Vectorized double-hashing index set for an array of int64 fps."""
    import numpy as np

    x = fps.astype(np.uint64)
    h1 = x * np.uint64(_BLOOM_SALT1 & 0xFFFFFFFFFFFFFFFF)
    h1 ^= h1 >> np.uint64(33)
    h2 = x * np.uint64(_BLOOM_SALT2 & 0xFFFFFFFFFFFFFFFF)
    h2 ^= h2 >> np.uint64(29)
    h2 |= np.uint64(1)
    idx = np.empty((k, len(x)), dtype=np.uint64)
    for i in range(k):
        idx[i] = (h1 + np.uint64(i) * h2) % np.uint64(m)
    return idx


def _fold_blobs(
    blobs: DataFrame | None, fps: DataFrame, n_buckets: int, schema: str, fold
) -> DataFrame:
    """Shared build/update of a bucketed blob filter (bloom or cuckoo), each
    blob crossing Arrow once. ``fold(old_row, fps, nb)`` returns a bucket's
    new row (its non-bucket schema columns) or None for no row; ``old_row``
    is the bucket's blob row (None when it has none), ``fps`` its int64
    fingerprints (possibly empty), ``nb`` the bucket modulus.

    With no table the fps group by bucket (grouped-map); with one, blobs and
    fps cogroup by bucket. A table's recorded nb is authoritative over
    ``n_buckets``: fps bucketed with another modulus would touch blobs the
    probe never consults (false negatives). The stamped nb makes the table
    self-describing even when the data fills only some buckets
    (max(bucket)+1 inference is wrong for e.g. all-even fps)."""
    if blobs is not None:
        n_buckets = _table_n_buckets(blobs) or n_buckets
    names = [c.split()[0] for c in schema.split(",")]

    def _emit(key, old: pd.DataFrame | None, delta: pd.DataFrame) -> pd.DataFrame:
        row = fold(
            old.iloc[0] if old is not None and len(old) else None,
            delta["url_fp"].to_numpy(dtype="int64"),
            n_buckets,
        )
        return pd.DataFrame([] if row is None else [{"bucket": int(key[0]), **row}], columns=names)

    bucketed = fps.select("url_fp").withColumn("bucket", bucket_of(F.col("url_fp"), n_buckets))
    if blobs is None:
        out = bucketed.groupBy("bucket").applyInPandas(
            lambda key, delta: _emit(key, None, delta), schema=schema
        )
    else:
        out = (
            blobs.drop("nb")
            .groupBy("bucket")
            .cogroup(bucketed.groupBy("bucket"))
            .applyInPandas(_emit, schema=schema)
        )
    return out.withColumn("nb", F.lit(n_buckets))


_BLOOM_SCHEMA = "bucket int, blob binary, m int, k int"


def _bloom_fold(capacity: int, fp_rate: float):
    """Per-bucket bloom fold: OR the fps' bits into the bucket's blob. An
    existing blob keeps its own m/k; ``capacity``/``fp_rate`` size only a
    bucket with no blob yet."""

    def fold(old, fps, nb: int) -> dict:
        import numpy as np

        if old is None:
            m, k = _bloom_params(max(capacity // nb, 1), fp_rate)
            bits = np.zeros(m // 64, dtype=np.uint64)
        else:
            m, k = int(old["m"]), int(old["k"])
            bits = np.frombuffer(old["blob"], dtype=np.uint64).copy()
        flat = _bloom_indices(fps, m, k).reshape(-1)
        np.bitwise_or.at(bits, (flat // 64).astype(np.int64), np.uint64(1) << (flat % np.uint64(64)))
        return {"blob": bits.tobytes(), "m": m, "k": k}

    return fold


def build_bloom(
    seen: DataFrame, n_buckets: int, capacity: int, fp_rate: float
) -> DataFrame:
    """Build per-bucket bloom blobs from the seen set's fingerprints.

    Grouped-map pandas UDF: one blob per bucket_of(url_fp, n_buckets).
    Returns DataFrame(bucket INT, blob BINARY, m INT, k INT, nb INT)."""
    return _fold_blobs(None, seen, n_buckets, _BLOOM_SCHEMA, _bloom_fold(capacity, fp_rate))


def update_bloom(
    bloom: DataFrame | None,
    new_fps: DataFrame,
    n_buckets: int,
    capacity: int,
    fp_rate: float,
) -> DataFrame:
    """Incremental bloom maintenance: OR the delta's bits into the existing
    per-bucket blobs (the seen set only grows — deduplicator.py:230-242) in
    one cogroup of (blobs, delta fps) by bucket.

    Epoch cost is O(|delta| + blobs), never a rebuild of the full
    10^10-fp set, and each blob crosses Arrow once. The table's recorded
    nb, m and k are authoritative; ``n_buckets``, ``capacity`` and
    ``fp_rate`` size only buckets with no blob yet (and the whole table
    when ``bloom`` is None), so a resume with changed sizing settings keeps
    probing the blobs it already has."""
    return _fold_blobs(bloom, new_fps, n_buckets, _BLOOM_SCHEMA, _bloom_fold(capacity, fp_rate))


def _probe_blobs(
    candidates: DataFrame, blobs: DataFrame, contains, broadcast_blobs: bool
) -> DataFrame:
    """Shared probe of a bucketed blob filter (bloom or cuckoo): adds boolean
    ``might_contain`` (false => definitely new). ``contains(blob_row, fps)``
    answers one bucket's fps (int64 ndarray) against that bucket's blob row
    (a mapping with the table's blob, m, ... columns) as a bool ndarray.

    Each blob ships ONCE per task, never once per row — a blob-join would
    duplicate the multi-MB blob onto every candidate row and push gigabytes
    through the Arrow boundary:

    - ``broadcast_blobs=True``: the blob table is collected into a real
      ``sc.broadcast`` dict keyed by bucket; the probe is one scalar pandas
      UDF over (fp, bucket) with zero joins. Right up to blob tables of a
      few GB (~10^9 fps).
    - ``False``: candidates shuffle by bucket into a cogrouped-map with the
      blob side — each task sees one bucket's blob plus its candidates.
      The 10^10-fp path (SCALE.md §3)."""
    n_buckets = _table_n_buckets(blobs) or 1
    blobs = blobs.drop("nb")

    if broadcast_blobs:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BooleanType

        blob_map = {int(r["bucket"]): r.asDict() for r in blobs.collect()}
        bmap = candidates.sparkSession.sparkContext.broadcast(blob_map)

        @pandas_udf(BooleanType())
        def _probe(fp: pd.Series, bucket: pd.Series) -> pd.Series:
            import numpy as np

            out = np.zeros(len(fp), dtype=bool)
            fps = fp.to_numpy()
            bks = bucket.to_numpy()
            for b in np.unique(bks):
                row = bmap.value.get(int(b))
                if row is not None:
                    mask = bks == b
                    out[mask] = contains(row, fps[mask])
            return pd.Series(out)

        return candidates.withColumn(
            "might_contain",
            _probe(F.col("url_fp"), bucket_of(F.col("url_fp"), n_buckets)),
        )

    out_fields = candidates.schema.fields
    out_schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
    out_schema += ", might_contain boolean"

    def _probe_group(cands: pd.DataFrame, group: pd.DataFrame) -> pd.DataFrame:
        cands = cands.drop(columns=["bucket"])
        if len(group) == 0 or len(cands) == 0:
            cands["might_contain"] = False
        else:
            cands["might_contain"] = contains(group.iloc[0], cands["url_fp"].to_numpy())
        return cands

    bucketed = candidates.withColumn("bucket", bucket_of(F.col("url_fp"), n_buckets))
    return (
        bucketed.groupBy("bucket")
        .cogroup(blobs.groupBy("bucket"))
        .applyInPandas(_probe_group, schema=out_schema)
    )


def _bloom_contains(row, fps):
    import numpy as np

    m, k = int(row["m"]), int(row["k"])
    bits = np.frombuffer(row["blob"], dtype=np.uint64)
    idx = _bloom_indices(fps.astype("int64"), m, k)
    hit = np.ones(len(fps), dtype=bool)
    for i in range(k):
        word = (idx[i] // 64).astype(np.int64)
        bit = np.uint64(1) << (idx[i] % np.uint64(64))
        hit &= (bits[word] & bit) != 0
    return hit


def bloom_might_contain(
    candidates: DataFrame, bloom: DataFrame, broadcast_blobs: bool = True
) -> DataFrame:
    """Probe the bloom: adds boolean ``might_contain`` (false => definitely
    new) through the shared two-arm blob probe (:func:`_probe_blobs`)."""
    return _probe_blobs(candidates, bloom, _bloom_contains, broadcast_blobs)


def dedupe_new_urls(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: DataFrame | None = None,
) -> DataFrame:
    """Two-tier exact dedup (deduplicator.py:88-121 as joins).

    Tier 1 (optional): bloom prefilter — rows whose bucket blob says
    "definitely not seen" skip the shuffle entirely.
    Tier 2 (authoritative): left-anti join on url_fp against the seen table.
    """
    if seen is None:
        return candidates
    if bloom is not None:
        probed = bloom_might_contain(candidates, bloom)
        definite_new = probed.filter(~F.col("might_contain")).drop("might_contain")
        maybe = probed.filter(F.col("might_contain")).drop("might_contain")
        checked = maybe.join(seen.select("url_fp"), "url_fp", "left_anti")
        return definite_new.unionByName(checked)
    return candidates.join(seen.select("url_fp"), "url_fp", "left_anti")


# ---- fuzzy dedup (J3) ------------------------------------------------------------


def fuzzy_dedupe(
    candidates: DataFrame,
    seen: DataFrame,
    cfg: CrawlConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Drop candidates fuzzy-similar (>= threshold) to one of the most recent
    ``fuzzy_recent_per_host`` seen URLs of the same host
    (deduplicator.py:123-186: fuzz max(ratio, token_sort, partial) >= 85).

    Implementation: window top-100 per host on the seen side, host-equi join,
    vectorized difflib scores, anti-filter on max score. The host join is
    bounded: |candidates_h| x min(|seen_h|, 100)."""
    w = Window.partitionBy("host").orderBy(F.desc("epoch"), F.desc("url_fp"))
    recent = (
        seen.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cfg.fuzzy_recent_per_host)
        .select(F.col("host").alias("_h"), F.col("url_norm").alias("_seen_norm"))
    )
    pairs = candidates.join(recent, candidates["host"] == recent["_h"], "left")
    scored = pairs.withColumn(
        "_score",
        F.when(F.col("_seen_norm").isNull(), F.lit(0)).otherwise(
            fuzz_max_score_udf(F.col("url_norm"), F.col("_seen_norm"))
        ),
    )
    # aggregate on the 8-byte fingerprint, not the full wide-string candidate
    # row (a multi-hundred-byte hash-agg key): candidates are unique per
    # url_fp (merge_candidates), so every payload column is fp-determined
    # and rides along as a min() aggregate, exactly as in merge_candidates
    payload = [F.min(c).alias(c) for c in candidates.columns if c != "url_fp"]
    best = scored.groupBy("url_fp").agg(F.max("_score").alias("_best"), *payload)
    return best.filter(F.col("_best") < cfg.fuzzy_threshold).drop("_best").select(
        *candidates.columns
    )


# ---- content dedup (J4) ----------------------------------------------------------


def content_dedup(docs: DataFrame, hash_col: str = "content_hash", order_col: str = "url") -> DataFrame:
    """Window dedup on content hash (indexer/app.py:216-253): first URL wins;
    losers carry action='deduplicated' + original_url (README flow)."""
    w = Window.partitionBy(hash_col).orderBy(F.asc(order_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .withColumn("_first", F.first(order_col).over(w))
        .withColumn(
            "action",
            F.when(F.col("_rn") == 1, F.lit("indexed")).otherwise(F.lit("deduplicated")),
        )
        .withColumn(
            "original_url",
            F.when(F.col("_rn") == 1, F.lit(None).cast("string")).otherwise(F.col("_first")),
        )
        .drop("_rn", "_first")
    )
