"""Partitioned cuckoo-filter fingerprint set (operators/cuckoo.py): the
deletable filter behind the TTL-eviction contract entry. Invariants tested:

- no false negatives (every inserted fp probes True);
- bounded false-positive rate on disjoint fps (16-bit tags, 2x4 slots:
  theory ~0.04%, asserted < 0.5%);
- delete removes exactly the expired fps while preserving no-false-negatives
  for everything else (the TTL-eviction path a bloom cannot express);
- the broadcast and cogroup probe arms agree row by row, for the cuckoo
  and the bloom alike (both run the one shared probe);
- numpy kernels survive saturation pressure (kick loop) deterministically.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webcrawler_spark.operators import cuckoo as CK


def _fps(n, seed, lo=0, hi=2**62):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(lo, hi, size=n, dtype=np.int64))


# ---- pure numpy kernel tests (no Spark) -----------------------------------------


def test_kernel_no_false_negatives_and_fp_rate():
    fps = _fps(20_000, seed=1)
    table = CK._new_table(CK._table_size(len(fps)))
    CK._insert_fps(table, fps)
    assert CK._contains_fps(table, fps).all()

    other = _fps(50_000, seed=2)
    other = np.setdiff1d(other, fps)
    fp_rate = CK._contains_fps(table, other).mean()
    assert fp_rate < 0.005, fp_rate


def test_kernel_delete_then_absent():
    fps = _fps(5_000, seed=3)
    table = CK._new_table(CK._table_size(len(fps)))
    CK._insert_fps(table, fps)
    gone, kept = fps[:2_000], fps[2_000:]
    CK._delete_fps(table, gone)
    # kept fps must still all probe True (delete touches only its own slots)
    assert CK._contains_fps(table, kept).all()
    # deleted fps probe mostly False (a residual hit is a genuine tag
    # collision with a kept fp — bounded by the FP rate)
    assert CK._contains_fps(table, gone).mean() < 0.005


def test_kernel_duplicate_copies_make_delete_safe():
    """Deletion-safety rule (Fan et al. §3.2): colliding inserts each hold a
    physical slot, so deleting one leaves the other visible. Re-offering the
    same batch stands in for distinct fps colliding on (bucket, tag)."""
    fps = _fps(500, seed=4)
    table = CK._new_table(CK._table_size(4_000))
    CK._insert_fps(table, fps)
    occupied = int((table != 0).sum())
    CK._insert_fps(table, fps)
    assert int((table != 0).sum()) == 2 * occupied  # copies stored, not skipped
    CK._delete_fps(table, fps)  # removes one copy each
    assert CK._contains_fps(table, fps).all()  # still no false negatives
    CK._delete_fps(table, fps)
    assert CK._contains_fps(table, fps).mean() < 0.01


def test_kernel_kick_loop_under_pressure():
    # fill to ~load factor limit: forces relocations through _kick_insert
    m = CK._table_size(1)  # smallest table: 1 bucket x 4 slots... scale up
    m = 256
    cap = int(m * CK._SLOTS * CK._LOAD_FACTOR)
    fps = _fps(cap, seed=5)[:cap]
    table = np.zeros((m, CK._SLOTS), dtype=np.uint16)
    CK._insert_fps(table, fps)
    assert CK._contains_fps(table, fps).all()
    # determinism: same input -> identical table bytes
    table2 = np.zeros((m, CK._SLOTS), dtype=np.uint16)
    CK._insert_fps(table2, fps)
    assert table.tobytes() == table2.tobytes()


def test_kernel_overflow_raises():
    m = 8
    fps = _fps(m * CK._SLOTS * 4, seed=6)
    table = np.zeros((m, CK._SLOTS), dtype=np.uint16)
    with pytest.raises(ValueError, match="over capacity"):
        CK._insert_fps(table, fps)


# ---- Spark-level tests -----------------------------------------------------------


def _seen_df(spark, fps):
    return spark.createDataFrame([(int(x),) for x in fps], "url_fp long")


def test_build_and_probe_no_false_negatives(spark):
    fps = _fps(30_000, seed=7)
    seen = _seen_df(spark, fps)
    ck = CK.build_cuckoo(seen, n_buckets=8, capacity=60_000)
    probed = CK.cuckoo_might_contain(seen, ck)
    assert probed.filter(~F.col("might_contain")).count() == 0


def test_probe_fp_rate_and_nonbroadcast_path(spark):
    """Both probe arms, for the cuckoo and the bloom alike: bounded FP rate
    on novel fps, no false negatives on members, and the broadcast and
    cogroup arms' ``might_contain`` equal row by row."""
    from webcrawler_spark.operators import dedup as D

    fps = _fps(30_000, seed=8)
    seen = _seen_df(spark, fps)
    novel = np.setdiff1d(_fps(30_000, seed=9), fps)
    members = fps[:5_000]
    cand = _seen_df(spark, np.concatenate([novel, members]))
    filters = {
        "cuckoo": (
            CK.build_cuckoo(seen, n_buckets=8, capacity=60_000),
            CK.cuckoo_might_contain,
        ),
        "bloom": (
            D.build_bloom(seen, n_buckets=8, capacity=60_000, fp_rate=0.001),
            D.bloom_might_contain,
        ),
    }
    for kind, (blobs, probe) in filters.items():
        blobs = blobs.persist()
        arms = {}
        for bc in (True, False):
            got = {
                r["url_fp"]: r["might_contain"]
                for r in probe(cand, blobs, broadcast_blobs=bc).collect()
            }
            assert len(got) == len(novel) + len(members)
            assert sum(got[int(f)] for f in novel) / len(novel) < 0.005, (kind, bc)
            assert all(got[int(f)] for f in members), (kind, bc)
            arms[bc] = got
        assert arms[True] == arms[False], kind
        blobs.unpersist()


def test_build_adaptive_blob_sizing_never_overflows(spark):
    """A build whose configured capacity is far too small must not fail:
    hot buckets get bigger blobs (per-blob m rides the row)."""
    fps = _fps(30_000, seed=20)
    seen = _seen_df(spark, fps)
    ck = CK.build_cuckoo(seen, n_buckets=4, capacity=100)  # 25 fps/bucket cfg
    assert CK.cuckoo_might_contain(seen, ck).filter(~F.col("might_contain")).count() == 0
    # and the blobs really did grow beyond the configured share
    assert all(r["m"] > CK._table_size(100 // 4) for r in ck.select("m").collect())


def test_delete_ttl_eviction(spark):
    fps = _fps(10_000, seed=12)
    expired, live = fps[:4_000], fps[4_000:]
    ck = CK.build_cuckoo(_seen_df(spark, fps), n_buckets=4, capacity=20_000)
    ck2 = CK.delete_cuckoo(ck, _seen_df(spark, expired), n_buckets=4)
    live_df = _seen_df(spark, live)
    assert (
        CK.cuckoo_might_contain(live_df, ck2).filter(~F.col("might_contain")).count()
        == 0
    )
    exp_hits = (
        CK.cuckoo_might_contain(_seen_df(spark, expired), ck2)
        .filter(F.col("might_contain"))
        .count()
    )
    assert exp_hits / len(expired) < 0.005


def test_sparse_bucket_population_no_false_negatives(spark):
    """Regression: fps that populate only a subset of buckets (all-even keys
    mod 8 -> buckets {0,2,4,6}) must still probe with the BUILD's bucket
    modulus. Inferring n_buckets as max(bucket)+1 rehashed with 7 and
    produced mass false negatives — both filters now carry an nb column."""
    from webcrawler_spark.operators import dedup as D

    evens = np.arange(0, 30_000, 2, dtype=np.int64)
    seen = _seen_df(spark, evens)
    ck = CK.build_cuckoo(seen, n_buckets=8, capacity=30_000)
    assert (
        CK.cuckoo_might_contain(seen, ck).filter(~F.col("might_contain")).count() == 0
    )
    bl = D.build_bloom(seen, n_buckets=8, capacity=30_000, fp_rate=0.001)
    assert (
        D.bloom_might_contain(seen, bl).filter(~F.col("might_contain")).count() == 0
    )


def test_update_with_mismatched_n_buckets_stays_correct(spark):
    """Regression: the bloom's incremental update and the cuckoo's TTL
    delete must bucket the delta with the EXISTING table's modulus, not the
    caller's — a mismatched n_buckets would scatter fps into blobs the probe
    never consults. Likewise the bloom update keeps each blob's own m/k when
    the caller's capacity/fp_rate differ (a resume with changed bloom
    settings), instead of OR-ing blobs of two different sizes."""
    from webcrawler_spark.operators import dedup as D

    a, b = _fps(5_000, seed=20), _fps(5_000, seed=21)
    both = _seen_df(spark, np.union1d(a, b))
    ck = CK.build_cuckoo(both, n_buckets=8, capacity=20_000)
    ck2 = CK.delete_cuckoo(ck, _seen_df(spark, b), n_buckets=5)
    assert CK.cuckoo_might_contain(_seen_df(spark, a), ck2).filter(~F.col("might_contain")).count() == 0

    bl0 = D.build_bloom(_seen_df(spark, a), n_buckets=8, capacity=20_000, fp_rate=0.001)
    bl1 = D.update_bloom(bl0, _seen_df(spark, b), n_buckets=3, capacity=40_000, fp_rate=0.01)
    assert D.bloom_might_contain(both, bl1).filter(~F.col("might_contain")).count() == 0


def test_bloom_update_equals_build_over_union(spark):
    """update_bloom(build_bloom(A), B) is byte-equal, bucket by bucket, to
    build_bloom(A ∪ B): OR-ing B's bits into A's blobs is the same fold the
    build runs over both sets."""
    from webcrawler_spark.operators import dedup as D

    a, b = _fps(4_000, seed=22), _fps(3_000, seed=23)
    cols = ["bucket", "blob", "m", "k", "nb"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    built = D.build_bloom(_seen_df(spark, a), n_buckets=8, capacity=20_000, fp_rate=0.001)
    updated = D.update_bloom(built, _seen_df(spark, b), n_buckets=8, capacity=20_000, fp_rate=0.001)
    union = D.build_bloom(_seen_df(spark, np.union1d(a, b)), n_buckets=8, capacity=20_000, fp_rate=0.001)
    assert rows(updated) == rows(union)
    assert len(rows(union)) == 8
