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
touched buckets (build_cuckoo / cuckoo_might_contain / delete_cuckoo).

Layout mirrors the bloom: the fp space is split into ``n_buckets`` blobs by
``dedup.bucket_of`` (xxhash64-remixed pmod); each blob is an independent cuckoo table of
``m`` (power of two) buckets x 4 slots x 16-bit tags (tag 0 = empty slot),
~1.05 bytes/key less overhead than a 0.1%-FP bloom while adding deletion.
At 10^10 fps the whole filter is ~25 GB split across 2048 blobs of ~12 MB —
each blob far under the 2 GB Arrow limit, probe-able either broadcast or as
a shuffle join on the bucket key (the probe is the bloom's own two-arm
``dedup._probe_blobs`` with a cuckoo decoder).

Build and delete are the bloom's own blob-maintenance shell
(``dedup._fold_blobs``: a grouped-map build, a cogrouped-map delete) with a
cuckoo per-bucket fold; the table's recorded ``nb`` and each blob's ``m``
are authoritative, ``capacity`` sizes only a build. All per-blob work is
numpy-vectorized; the only per-row Python is the cuckoo kick loop over the
<1% of inserts both of whose buckets are already full.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .dedup import _fold_blobs, _probe_blobs

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
        f"cuckoo blob over capacity after {_MAX_KICKS} kicks — the table is "
        "too small for its fps. Build the filter with build_cuckoo, which "
        "sizes each blob to its bucket's row count."
    )


def _insert_fps(table, fps) -> None:
    """Insert distinct fps into a blob: two vectorized rounds (i1 then i2),
    then the kick loop for the residue.

    Duplicate-tag inserts are NOT skipped: two distinct fps that collide on
    (bucket, tag) each occupy a physical slot, so a later TTL delete of one
    removes one copy and the other still probes positive — skipping would
    turn every such collision into a false negative after eviction (the
    standard cuckoo-filter deletion-safety rule, Fan et al. §3.2). fps are
    np.unique'd first, so duplicate copies arise only from genuine tag
    collisions."""
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
    Returns DataFrame(bucket INT, blob BINARY, m INT, nb INT) — same contract
    shape as dedup.build_bloom minus k.

    Each blob's table size is adaptive: at least the configured capacity
    share, grown (power of two, per-blob ``m`` rides the row) when the
    bucket's actual row count exceeds it — a build never fails on a
    hot-bucket overflow, it just allocates that blob bigger."""

    def fold(old, fps, nb: int) -> dict:
        import numpy as np

        m = max(_table_size(max(capacity // nb, 1)), _table_size(len(np.unique(fps))))
        table = _new_table(m)
        _insert_fps(table, fps)
        return {"blob": table.tobytes(), "m": m}

    return _fold_blobs(None, seen, n_buckets, _CUCKOO_SCHEMA, fold)


def delete_cuckoo(cuckoo: DataFrame, expired_fps: DataFrame, n_buckets: int) -> DataFrame:
    """TTL eviction (indexer/app.py:213 30-day expiry): remove expired
    fingerprints in place — the operation a bloom cannot do.

    One cogroup of (existing blobs) x (expired fps) by bucket
    (``dedup._fold_blobs``): each task rewrites only its bucket's blob, an
    untouched blob passes through unchanged and an expired fp whose bucket
    has no blob emits nothing. Cost is O(|expired| + blobs), never a
    rebuild. The table's own nb is authoritative over ``n_buckets``:
    bucketing the delta with a different modulus would miss the blobs that
    hold the fps."""

    def fold(old, fps, nb: int) -> dict | None:
        if old is None:
            return None
        m = int(old["m"])
        table = _blob_to_table(old["blob"], m)
        _delete_fps(table, fps)
        return {"blob": table.tobytes(), "m": m}

    return _fold_blobs(cuckoo, expired_fps, n_buckets, _CUCKOO_SCHEMA, fold)


def _cuckoo_contains(row, fps):
    import numpy as np

    table = np.frombuffer(row["blob"], dtype=np.uint16).reshape(int(row["m"]), _SLOTS)
    return _contains_fps(table, fps)


def cuckoo_might_contain(
    candidates: DataFrame, cuckoo: DataFrame, broadcast_blobs: bool = True
) -> DataFrame:
    """Probe the cuckoo filter: adds boolean ``might_contain`` (false =>
    definitely new) through the same two-arm blob probe as the bloom
    (``dedup._probe_blobs``)."""
    return _probe_blobs(candidates, cuckoo, _cuckoo_contains, broadcast_blobs)
