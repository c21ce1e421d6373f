"""Partitioned cuckoo-filter fingerprint set with deletion — the TTL
operator behind the driver contract's ``cuckoo_ttl_stats`` entry. The crawl
loop's seen-set prefilter is the bloom in dedup.py; this module is not an
epoch-loop alternative to it.

Why a deletable filter: the reference's content-dedup cache expires entries
after 30 days (indexer/app.py:213 ``content_hash_ttl = 86400 * 30``) and
recrawl policies likewise *remove* URLs from the "don't fetch again" set. A
bloom filter cannot delete — supporting TTL eviction there means periodic
full rebuilds over the 10^10-fp seen set. A cuckoo filter (Fan et al.,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014) deletes in O(1)
per fingerprint, so TTL expiry becomes a small delta job against only the
touched buckets (build_cuckoo / update_cuckoo / cuckoo_might_contain /
delete_cuckoo).

Layout mirrors the bloom: the fp space is split into ``n_buckets`` blobs by
``dedup.bucket_of`` (xxhash64-remixed pmod); each blob is an independent cuckoo table of
``m`` (power of two) buckets x 4 slots x 16-bit tags (tag 0 = empty slot),
~1.05 bytes/key less overhead than a 0.1%-FP bloom while adding deletion.
At 10^10 fps the whole filter is ~25 GB split across 2048 blobs of ~12 MB —
each blob far under the 2 GB Arrow limit, probe-able either broadcast or as
a shuffle join on the bucket key (same two paths as bloom_might_contain).

All per-blob work is numpy-vectorized inside Arrow-batched pandas UDFs
(grouped-map / cogrouped-map); the only per-row Python is the cuckoo kick
loop over the <1% of inserts both of whose buckets are already full.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import bucket_of

_SLOTS = 4
_LOAD_FACTOR = 0.84  # 4-slot tables fill reliably to ~95%; 0.84 leaves kick headroom
_MAX_KICKS = 500

_MIX1 = 0xFF51AFD7ED558CCD  # splitmix64 finalizer constants (public domain)
_MIX2 = 0xC4CEB9FE1A85EC53
_TAG_MIX = 0x5BD1E995  # MurmurHash2 multiplier (public domain)


def _hash_fps(fps, m: int):
    """fps (int64 array) -> (tag uint16 in [1, 65535], i1, i2) for an
    m-bucket table. i2 = i1 XOR h(tag) so either index recovers the other
    (the partial-key cuckoo hashing invariant)."""
    import numpy as np

    x = fps.astype(np.uint64)
    x ^= x >> np.uint64(33)
    x *= np.uint64(_MIX1)
    x ^= x >> np.uint64(33)
    x *= np.uint64(_MIX2)
    x ^= x >> np.uint64(33)
    tag = ((x >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    tag[tag == 0] = 1  # 0 marks an empty slot
    i1 = (x & np.uint64(m - 1)).astype(np.int64)
    i2 = _alt_index(i1, tag, m)
    return tag, i1, i2


def _alt_index(i, tag, m: int):
    import numpy as np

    h = (tag.astype(np.uint64) * np.uint64(_TAG_MIX)) & np.uint64(m - 1)
    return (i.astype(np.uint64) ^ h).astype(np.int64)


def _table_size(capacity_per_bucket: int) -> int:
    """Smallest power-of-two bucket count holding the capacity at the target
    load factor."""
    need = max(int(capacity_per_bucket / (_SLOTS * _LOAD_FACTOR)), 1)
    m = 1
    while m < need:
        m *= 2
    return m


def _place_round(table, tag, target, pending):
    """Vectorized placement pass: for each still-pending item, try to claim a
    free slot in its target bucket. Multiple pending items may share a
    bucket, so each sub-pass places only the first pending item per bucket
    (first-occurrence mask after a stable sort), up to _SLOTS sub-passes.
    Returns the indices that still found no room."""
    import numpy as np

    pending = np.asarray(pending)
    for _ in range(_SLOTS):
        if len(pending) == 0:
            break
        b = target[pending]
        order = np.argsort(b, kind="stable")
        sp = pending[order]
        sb = b[order]
        first = np.ones(len(sb), dtype=bool)
        first[1:] = sb[1:] != sb[:-1]
        heads = sp[first]
        hb = target[heads]
        free = table[hb] == 0
        has_free = free.any(axis=1)
        slot = free.argmax(axis=1)
        placed_heads = heads[has_free]
        table[hb[has_free], slot[has_free]] = tag[placed_heads]
        if len(placed_heads) == 0:
            break  # no progress: every remaining target bucket is full
        keep = ~np.isin(pending, placed_heads)
        pending = pending[keep]
    return pending


def _kick_insert(table, tag: int, i: int, m: int) -> None:
    """Classic cuckoo relocation for an item whose both buckets are full.
    Deterministic victim rotation (no RNG — epoch jobs must be replayable)."""
    for n in range(_MAX_KICKS):
        row = table[i]
        for s in range(_SLOTS):
            if row[s] == 0:
                row[s] = tag
                return
        s = n % _SLOTS
        victim = int(row[s])
        row[s] = tag
        tag = victim
        import numpy as np

        i = int(
            _alt_index(np.array([i], dtype=np.int64), np.array([victim], dtype=np.uint16), m)[0]
        )
    raise ValueError(
        f"cuckoo blob over capacity after {_MAX_KICKS} kicks — the seen set "
        "outgrew the configured capacity. Rebuild the filter from the full "
        "seen set (build_cuckoo sizes blobs adaptively) or raise "
        "CrawlConfig.bloom_capacity/bloom_buckets."
    )


def _insert_fps(table, fps) -> None:
    """Insert distinct fps into a blob: two vectorized rounds (i1 then i2),
    then the kick loop for the residue.

    Duplicate-tag inserts are NOT skipped: two distinct fps that collide on
    (bucket, tag) each occupy a physical slot, so a later TTL delete of one
    removes one copy and the other still probes positive — skipping would
    turn every such collision into a false negative after eviction (the
    standard cuckoo-filter deletion-safety rule, Fan et al. §3.2). Within
    one call fps are np.unique'd, and the epoch loop offers each fp exactly
    once across epochs (deltas are pre-deduped by the anti-join), so
    duplicate copies arise only from genuine tag collisions."""
    import numpy as np

    m = table.shape[0]
    fps = np.unique(fps.astype(np.int64))
    tag, i1, i2 = _hash_fps(fps, m)
    pending = np.arange(len(fps))
    pending = _place_round(table, tag, i1, pending)
    pending = _place_round(table, tag, i2, pending)
    for j in pending:
        _kick_insert(table, int(tag[j]), int(i1[j]), m)


def _contains_fps(table, fps):
    import numpy as np

    m = table.shape[0]
    tag, i1, i2 = _hash_fps(fps.astype(np.int64), m)
    return (table[i1] == tag[:, None]).any(axis=1) | (table[i2] == tag[:, None]).any(axis=1)


def _delete_fps(table, fps) -> None:
    """Clear one matching slot per distinct fp (standard cuckoo-filter delete:
    only valid for fps that were inserted; a no-op otherwise). The per-row
    loop is fine — deletes are the small TTL-expiry delta, not the hot path."""
    import numpy as np

    m = table.shape[0]
    fps = np.unique(fps.astype(np.int64))
    tag, i1, i2 = _hash_fps(fps, m)
    for j in range(len(fps)):
        for i in (i1[j], i2[j]):
            row = table[i]
            hit = np.nonzero(row == tag[j])[0]
            if hit.size:
                row[hit[0]] = 0
                break


def _blob_to_table(blob: bytes, m: int):
    import numpy as np

    return np.frombuffer(blob, dtype=np.uint16).reshape(m, _SLOTS).copy()


def _new_table(m: int):
    import numpy as np

    return np.zeros((m, _SLOTS), dtype=np.uint16)


_CUCKOO_SCHEMA = "bucket int, blob binary, m int"


def build_cuckoo(seen: DataFrame, n_buckets: int, capacity: int) -> DataFrame:
    """Build per-bucket cuckoo blobs from the seen set's fingerprints.
    Returns DataFrame(bucket INT, blob BINARY, m INT) — same contract shape
    as dedup.build_bloom minus k.

    Each blob's table size is adaptive: at least the configured capacity
    share, grown (power of two, per-blob ``m`` rides the row) when the
    bucket's actual row count exceeds it — a build never fails on a
    hot-bucket overflow, it just allocates that blob bigger."""
    m_default = _table_size(max(capacity // n_buckets, 1))

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(np.unique(pdf["url_fp"].to_numpy()))
        m = max(m_default, _table_size(n))
        table = _new_table(m)
        _insert_fps(table, pdf["url_fp"].to_numpy())
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "blob": [table.tobytes()], "m": [m]}
        )

    bucketed = seen.withColumn("bucket", bucket_of(F.col("url_fp"), n_buckets))
    # nb makes the table self-describing: the probe must re-bucket with the
    # build's modulus even when the data populates only a subset of buckets
    # (max(bucket)+1 inference is wrong for e.g. all-even fps)
    return (
        bucketed.groupBy("bucket")
        .applyInPandas(_build, schema=_CUCKOO_SCHEMA)
        .withColumn("nb", F.lit(n_buckets))
    )


def _apply_delta(
    cuckoo: DataFrame, fps: DataFrame, n_buckets: int, capacity: int, op: str
) -> DataFrame:
    """Cogrouped-map over (existing blobs) x (fp delta) keyed by bucket:
    each task sees one bucket's blob plus that bucket's delta rows and
    rewrites only that blob. Untouched buckets pass through with an empty
    delta side; epoch cost is O(|delta| + touched blobs), never a rebuild."""
    m_default = _table_size(max(capacity // n_buckets, 1))

    def _merge(blobs: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(blobs):
            bucket = int(blobs["bucket"].iloc[0])
            m = int(blobs["m"].iloc[0])
            table = _blob_to_table(blobs["blob"].iloc[0], m)
        else:
            if op == "delete" or not len(delta):
                return pd.DataFrame({"bucket": [], "blob": [], "m": []}).astype(
                    {"bucket": "int32", "m": "int32"}
                )
            bucket = int(delta["bucket"].iloc[0])
            # fresh bucket: size adaptively like build_cuckoo — never
            # under-allocate a hot bucket's first blob
            m = max(m_default, _table_size(len(np.unique(delta["url_fp"].to_numpy()))))
            table = _new_table(m)
        if len(delta):
            fp_arr = delta["url_fp"].to_numpy()
            if op == "insert":
                # Capacity pre-check BEFORE mutating: partial-key tags are
                # lossy, so an existing blob cannot be rehashed into a
                # bigger table in place — fail fast with an actionable
                # plan-level error instead of dying mid-kick-loop with the
                # blob half-written (a long crawl outgrowing
                # cfg.bloom_capacity hits this; the bloom merely degrades
                # its FP rate, the cuckoo must say so explicitly).
                # The projection is EXACT, not an estimate: _insert_fps
                # places one slot per unique delta fp even when the tag is
                # already present (deletion-safety duplicate copies, see its
                # docstring), so occupied + |unique(delta)| is the true
                # post-insert count. Only a projection that cannot possibly
                # fit fails fast here; between the 95% advisory load factor
                # and 100% the kick loop is the arbiter — it raises its own
                # actionable error only if placement genuinely fails (a
                # 4-slot table routinely fills to ~95-98%).
                projected = int(np.count_nonzero(table)) + len(np.unique(fp_arr))
                if projected > int(m * _SLOTS):
                    raise ValueError(
                        f"cuckoo bucket {bucket} over capacity: {projected} "
                        f"projected tags for {m}x{_SLOTS} slots. The seen "
                        "set outgrew the configured capacity — rebuild the "
                        "filter from the full seen set (build_cuckoo sizes "
                        "blobs adaptively) or raise "
                        "CrawlConfig.bloom_capacity/bloom_buckets."
                    )
                _insert_fps(table, fp_arr)
            else:
                _delete_fps(table, fp_arr)
        return pd.DataFrame({"bucket": [bucket], "blob": [table.tobytes()], "m": [m]})

    delta = fps.withColumn("bucket", bucket_of(F.col("url_fp"), n_buckets))
    return (
        cuckoo.drop("nb")
        .groupBy("bucket")
        .cogroup(delta.groupBy("bucket"))
        .applyInPandas(_merge, schema=_CUCKOO_SCHEMA)
        .withColumn("nb", F.lit(n_buckets))
    )


def update_cuckoo(
    cuckoo: DataFrame | None, new_fps: DataFrame, n_buckets: int, capacity: int
) -> DataFrame:
    """Incremental insert of an epoch's seen-delta (the growing-set path,
    mirror of dedup.update_bloom)."""
    if cuckoo is None:
        return build_cuckoo(new_fps, n_buckets, capacity)
    # the existing table's bucket modulus is authoritative: bucketing the
    # delta with a different n_buckets would scatter fps into blobs the
    # probe never consults (false negatives)
    from .dedup import _table_n_buckets

    existing_nb = _table_n_buckets(cuckoo)
    if existing_nb:
        n_buckets = existing_nb
    return _apply_delta(cuckoo, new_fps, n_buckets, capacity, "insert")


def delete_cuckoo(
    cuckoo: DataFrame, expired_fps: DataFrame, n_buckets: int, capacity: int
) -> DataFrame:
    """TTL eviction (indexer/app.py:213 30-day expiry): remove expired
    fingerprints in place — the operation a bloom cannot do."""
    from .dedup import _table_n_buckets

    existing_nb = _table_n_buckets(cuckoo)
    if existing_nb:
        n_buckets = existing_nb
    return _apply_delta(cuckoo, expired_fps, n_buckets, capacity, "delete")


def cuckoo_might_contain(
    candidates: DataFrame, cuckoo: DataFrame, broadcast_blobs: bool = True
) -> DataFrame:
    """Probe: adds boolean ``might_contain`` (false => definitely new).

    Two paths, both shipping each blob ONCE per task (never once per row —
    a blob-join would duplicate the multi-MB blob onto every candidate row
    and push gigabytes through the Arrow boundary):

    - ``broadcast_blobs=True`` (default): the blob table is collected into a
      real ``sc.broadcast`` dict keyed by bucket; the probe is a scalar
      pandas UDF over (fp, bucket) with zero joins. Right up to blob tables
      of a few GB (~10^9 fps).
    - ``False``: candidates shuffle by bucket into a cogrouped-map with the
      blob side — each task sees one bucket's blob plus its candidates.
      The 10^10-fp path."""
    from .dedup import _table_n_buckets

    n_buckets = _table_n_buckets(cuckoo) or 1
    cuckoo = cuckoo.drop("nb")  # no-op on pre-nb snapshots

    if broadcast_blobs:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BooleanType

        blob_map = {
            int(r["bucket"]): (r["blob"], int(r["m"])) for r in cuckoo.collect()
        }
        bmap = candidates.sparkSession.sparkContext.broadcast(blob_map)

        @pandas_udf(BooleanType())
        def _probe(fp: pd.Series, bucket: pd.Series) -> pd.Series:
            import numpy as np

            out = np.zeros(len(fp), dtype=bool)
            if len(fp):
                fps = fp.to_numpy()
                bks = bucket.to_numpy()
                for b in np.unique(bks):
                    entry = bmap.value.get(int(b))
                    if entry is None:
                        continue
                    blob, m = entry
                    table = np.frombuffer(blob, dtype=np.uint16).reshape(m, _SLOTS)
                    mask = bks == b
                    out[mask] = _contains_fps(table, fps[mask])
            return pd.Series(out)

        return candidates.withColumn(
            "might_contain",
            _probe(F.col("url_fp"), bucket_of(F.col("url_fp"), n_buckets)),
        )

    out_fields = candidates.schema.fields
    out_schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
    out_schema += ", might_contain boolean"

    def _probe_group(cands: pd.DataFrame, blobs: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        cands = cands.drop(columns=["bucket"])
        if len(blobs) == 0 or len(cands) == 0:
            cands["might_contain"] = False
            return cands
        table = np.frombuffer(blobs["blob"].iloc[0], dtype=np.uint16).reshape(
            int(blobs["m"].iloc[0]), _SLOTS
        )
        cands["might_contain"] = _contains_fps(table, cands["url_fp"].to_numpy())
        return cands

    bucketed = candidates.withColumn("bucket", bucket_of(F.col("url_fp"), n_buckets))
    return (
        bucketed.groupBy("bucket")
        .cogroup(cuckoo.groupBy("bucket"))
        .applyInPandas(_probe_group, schema=out_schema)
    )

