"""Near-dup + similarity operator tests: MinHash finds planted near-dups,
SimHash hamming locality, LSH ANN agrees with brute force, multimodal
plumbing shapes."""

from pyspark.sql import functions as F

from webcrawler_spark.operators import multimodal as MM
from webcrawler_spark.operators import similarity as SIM
from webcrawler_spark.operators import textstats as TS

BASE = (
    "the quick brown fox jumps over the lazy dog while the crawler "
    "schedules polite fetches across many shards and partitions of the web "
    "frontier with bloom filters and priority windows for every host bucket"
)


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),          # near-dup of 0
        (2, BASE),                                     # exact dup of 0
        (3, "completely different text about cooking recipes and baking bread with yeast flour water salt sugar butter"),
        (4, "another unrelated document discussing astronomy telescopes galaxies nebulae and planetary orbits in detail"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_dups(spark):
    docs = _docs(spark)
    pairs = SIM.minhash_near_dups(docs, "doc_id", "text", n_hashes=64, bands=16,
                                  jaccard_threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 2) in found  # exact dup
    assert (0, 1) in found and (1, 2) in found  # near dup
    assert not any(3 in p or 4 in p for p in found)  # unrelated docs excluded


def test_minhash_estimate_close_to_exact(spark):
    docs = _docs(spark)
    pairs = SIM.minhash_near_dups(docs, "doc_id", "text", n_hashes=64, bands=16,
                                  jaccard_threshold=0.5)
    verified = SIM.verify_jaccard(pairs, docs, "doc_id", "text").collect()
    for r in verified:
        if (r["id_a"], r["id_b"]) == (0, 2):
            assert r["est_jaccard"] == 1.0 and r["jaccard"] == 1.0


def test_incremental_probe_equals_batch_cross_pairs(spark):
    # probing a corpus band index with a new batch must find EXACTLY the
    # cross-split pairs the one-shot batch job finds on the union — the
    # index stores enough (bucket slices + full signature) that corpus
    # text is never touched.
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") != 1)
    batch = docs.filter(F.col("doc_id") == 1)  # near-dup of 0 and 2 arrives
    index = SIM.minhash_band_index(corpus, "doc_id", "text", n_hashes=64, bands=16)
    inc = SIM.incremental_near_dups(
        batch, index, "doc_id", "text", n_hashes=64, bands=16,
        jaccard_threshold=0.5,
    ).collect()
    got = {(r["new_id"], r["corpus_id"], r["est_jaccard"]) for r in inc}

    full = SIM.minhash_near_dups(docs, "doc_id", "text", n_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
    want = {
        (1, r["id_a"] if r["id_b"] == 1 else r["id_b"], r["est_jaccard"])
        for r in full.collect()
        if (r["id_a"] == 1) != (r["id_b"] == 1)
    }
    assert got == want and len(got) == 2  # doc 1 matches 0 and 2, nothing else


def test_incremental_index_append_roundtrip(spark):
    # appending the accepted batch's own banded rows keeps the index
    # current: a later identical doc must then hit the appended entry.
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") <= 0)
    index = SIM.minhash_band_index(corpus, "doc_id", "text")
    batch1 = docs.filter(F.col("doc_id") == 3)  # unrelated: no hits
    assert SIM.incremental_near_dups(batch1, index, "doc_id", "text").count() == 0
    index2 = index.unionByName(SIM.minhash_band_index(batch1, "doc_id", "text"))
    batch2 = spark.createDataFrame([(9, _docs(spark).filter(
        F.col("doc_id") == 3).first()["text"])], "doc_id long, text string")
    hits = SIM.incremental_near_dups(batch2, index2, "doc_id", "text").collect()
    assert [(r["new_id"], r["corpus_id"], r["est_jaccard"]) for r in hits] == [(9, 3, 1.0)]


def test_simhash_locality(spark):
    docs = _docs(spark)
    fps = {r["doc_id"]: r["sh"] for r in docs.select(
        "doc_id", TS.simhash_udf(F.col("text")).alias("sh")).collect()}
    assert fps[0] == fps[2]  # identical text -> identical fingerprint

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(fps[0], fps[1]) < ham(fps[0], fps[3])
    assert ham(fps[0], fps[1]) <= 8  # near-dup stays close


def test_hamming_column(spark):
    df = spark.createDataFrame([(0b1011, 0b0011)], "a long, b long")
    assert df.select(TS.hamming64(F.col("a"), F.col("b")).alias("h")).first()["h"] == 1


def test_lsh_ann_agrees_with_brute_force(spark, web_dir):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    brute = [r["vec_id"] for r in SIM.brute_force_topk(emb, list(q), k=5).collect()]
    assert brute[0] == 0  # self-match first
    lsh = [r["vec_id"] for r in SIM.lsh_topk(emb, list(q), n_planes=6, dim=len(q), k=5).collect()]
    # query's own bucket must contain the query itself
    assert 0 in lsh
    # top-1 brute-force neighbor typically shares the bucket; require overlap
    assert len(set(brute) & set(lsh)) >= 1


def test_doc_fingerprint_deterministic(spark):
    docs = _docs(spark)
    a = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", TS.doc_fingerprint_udf(F.col("text")).alias("fp")).collect()}
    b = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", TS.doc_fingerprint_udf(F.col("text")).alias("fp")).collect()}
    assert a == b
    assert a[0] == a[2] and a[0] != a[3]


def test_media_features_shape(spark):
    media = spark.createDataFrame(
        [(1, "image", b"\x00\x01\x02" * 50, 64, 64, 0),
         (2, "video", b"\xff" * 100, 64, 64, 2500)],
        MM.MEDIA_SCHEMA,
    )
    feats = MM.extract_media_features(media, dim=16).collect()
    assert {r["media_id"] for r in feats} == {1, 2}
    for r in feats:
        assert len(r["feature"]) == 16
        assert abs(sum(r["feature"]) - 1.0) < 1e-5  # L1-normalized
        assert r["n_bytes"] > 0


def test_ivf_topk_recall(spark):
    """IVF with nprobe=4/16 must recover most of the brute-force top-10 on
    the clustered synthetic embeddings (deterministic: fixed init + data)."""
    from pyspark.sql import functions as F

    from webcrawler_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    exact = {r["vec_id"] for r in SIM.brute_force_topk(emb, qvec, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in SIM.ivf_topk(emb, qvec, n_centroids=16, nprobe=4, k=10).collect()
    }
    assert len(approx) == 10
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"IVF recall {recall} too low"


# ---- multi-language ID (F17 multi; textstats.lang_id_multi) ---------------------


def test_lang_id_multi_real_sentences(spark):
    from pyspark.sql import Row
    from webcrawler_spark.operators import textstats as TS

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat on the mat and it was not happy with this"),
            Row(doc_id=2, text="der hund ist nicht mit der katze und das ist auch gut"),
            Row(doc_id=3, text="le chat est dans la maison et les oiseaux sont pour vous"),
            Row(doc_id=4, text="el perro y los gatos con su comida pero muy lejos del parque"),
            Row(doc_id=5, text="我们今天去公园散步然后回家吃饭休息一下"),
            Row(doc_id=6, text="xyzzy qwerty plugh foobar"),  # no profile hits
        ]
    )
    out = {
        r["doc_id"]: r["pred"]
        for r in docs.select(
            "doc_id", TS.lang_id_multi(F.col("text")).alias("pred")
        ).collect()
    }
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh", 6: "und"}


def test_lang_id_multi_tiebreak_deterministic(spark):
    from pyspark.sql import Row
    from webcrawler_spark.operators import textstats as TS

    # "que" + "una" hit both es and fr profiles? "una" is es-only, "que" both;
    # craft an exact tie: two es-only + two fr-only words -> tie broken
    # alphabetically (es < fr)
    docs = spark.createDataFrame([Row(doc_id=1, text="los del dans pour")])
    out = docs.select(TS.lang_id_multi(F.col("text")).alias("p")).first()["p"]
    assert out == "es"


def test_semantic_dedup_drops_planted_duplicates(spark):
    import math

    from webcrawler_spark.operators import similarity as SIM

    dim = 8

    def unit(axis, eps=0.0, eps_axis=1):
        v = [0.0] * dim
        v[axis] = 1.0
        v[eps_axis] += eps
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    # four well-separated base directions, each with one near-duplicate
    # (cosine ~0.9997) and one distant vector on another axis
    for i, axis in enumerate([0, 2, 4, 6]):
        rows.append((10 * i, unit(axis), i))
        rows.append((10 * i + 1, unit(axis, eps=0.025, eps_axis=axis + 1), i))
        rows.append((10 * i + 2, unit(axis + 1), i))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    kept = SIM.semantic_dedup(
        emb, n_centroids=4, n_iters=2, threshold=0.95, id_col="vec_id"
    )
    kept_ids = sorted(r["vec_id"] for r in kept.collect())
    # the near-duplicate (id 10i+1) collapses into its representative 10i;
    # the orthogonal companion survives
    assert kept_ids == [0, 2, 10, 12, 20, 22, 30, 32]
    # schema passes through unchanged
    assert kept.columns == ["vec_id", "embedding", "label"]


def test_semantic_dedup_deterministic(spark):
    from webcrawler_spark.operators import similarity as SIM
    from webcrawler_spark.queries import QUERIES

    a = sorted(r["vec_id"] for r in QUERIES["semantic_dedup"](spark, "/root/testdata/sf0.001").collect())
    b = sorted(r["vec_id"] for r in QUERIES["semantic_dedup"](spark, "/root/testdata/sf0.001").collect())
    assert a == b and len(a) > 0


def test_lang_margin_confidence(spark):
    from pyspark.sql import functions as F

    from webcrawler_spark.operators import textstats as TS

    rows = [
        (1, "the quick brown fox and the lazy dog with their friends"),  # clear en
        (2, "le la les et un une des dans the and of to"),               # fr/en mix
        (3, "xyzzy plugh blorp"),                                        # no profile hits
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: (r["lang"], r["m"]) for r in df.select(
        "doc_id",
        TS.lang_id_multi(F.col("text")).alias("lang"),
        TS.lang_margin(F.col("text")).alias("m"),
    ).collect()}
    assert out[1][0] == "en" and out[1][1] >= 2   # confident English
    assert out[2][1] < max(out[1][1], 2) or out[2][0] != "en"  # mixed -> low margin
    assert out[3] == ("und", 0)


def test_media_real_decode_with_pil(spark):
    """When PIL is importable the decode_stub=False path is REAL: image
    features are a luminance histogram over actual pixels. Skipped where
    PIL is absent (the stub path above is then the tested default)."""
    import io

    import pytest as _pytest

    Image = _pytest.importorskip("PIL.Image")
    from webcrawler_spark.operators.multimodal import extract_media_features

    def png(w, h, color):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), color).save(buf, format="PNG")
        return buf.getvalue()

    df = spark.createDataFrame(
        [(1, "image", 1280, 960, png(1280, 960, (255, 255, 255))),
         (2, "image", 100, 100, png(100, 100, (0, 0, 0)))],
        "media_id long, kind string, width int, height int, payload binary",
    )
    feats = {r["media_id"]: r["feature"] for r in
             extract_media_features(df, dim=16, decode_stub=False).collect()}
    # all-white image -> all luminance mass in the top bin; black -> bottom
    assert abs(feats[1][15] - 1.0) < 1e-6 and abs(feats[2][0] - 1.0) < 1e-6


def test_wav_audio_decodes_for_real(spark):
    """PCM WAV audio takes the REAL decode path (stdlib wave) under
    decode_stub=False: the amplitude histogram matches a numpy
    re-derivation, and silence lands entirely in the midpoint bin."""
    import io
    import math
    import struct
    import wave

    import numpy as np

    def make_wav(samples):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return buf.getvalue()

    sine = [int(20000 * math.sin(2 * math.pi * 440 * t / 8000)) for t in range(800)]
    silence = [0] * 400
    media = spark.createDataFrame(
        [(1, "audio", bytearray(make_wav(sine))), (2, "audio", bytearray(make_wav(silence)))],
        "media_id long, kind string, payload binary",
    )
    feats = {
        r["media_id"]: r["feature"]
        for r in MM.extract_media_features(media, dim=16, decode_stub=False).collect()
    }
    x = np.array(sine, dtype=np.int32) + 32768
    hist = np.bincount(x * 16 // 65536, minlength=16).astype(np.float64)
    expect = (hist / hist.sum()).astype(np.float32)
    assert np.allclose(feats[1], expect, atol=1e-7)
    assert feats[2][8] == 1.0 and sum(feats[2]) == 1.0  # silence -> midpoint bin

    # compressed audio still refuses loudly
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    bad = spark.createDataFrame(
        [(3, "audio", bytearray(b"ID3\x04fake-mp3-bytes"))],
        "media_id long, kind string, payload binary",
    )
    with _pytest.raises(Exception):
        MM.extract_media_features(bad, dim=16, decode_stub=False).collect()


def test_pq_topk_matches_numpy_reference(spark):
    """pq_index/pq_topk (Jégou et al. 2011) against a from-scratch numpy PQ
    with the same deterministic init, one Lloyd round, and ADC ranking."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = sorted(
        ((r["vec_id"], np.asarray(r["embedding"], dtype=np.float64)) for r in emb.collect()),
        key=lambda t: t[0],
    )
    ids = np.array([t[0] for t in rows])
    X = np.stack([t[1] for t in rows])
    q = X[ids.tolist().index(0)]
    m, k_sub = 4, 16
    dsub = X.shape[1] // m

    codes = np.zeros((len(ids), m), dtype=int)
    luts = []
    for mi in range(m):
        S = X[:, mi * dsub:(mi + 1) * dsub]
        cb = S[:k_sub].copy()  # init: k_sub lowest-id subvectors (ids sorted)
        # one Lloyd round: argmin assign (same -2xc+c2 form as _assign_udf),
        # per-dim mean, empty cluster keeps init centroid
        d = -2.0 * (S @ cb.T) + (cb * cb).sum(axis=1)[None, :]
        a = np.argmin(d, axis=1)
        nb = cb.copy()
        for c in range(k_sub):
            if (a == c).any():
                nb[c] = S[a == c].mean(axis=0)
        d = -2.0 * (S @ nb.T) + (nb * nb).sum(axis=1)[None, :]
        codes[:, mi] = np.argmin(d, axis=1)
        luts.append(((nb - q[mi * dsub:(mi + 1) * dsub][None, :]) ** 2).sum(axis=1))

    adc = sum(luts[mi][codes[:, mi]] for mi in range(m))
    order = sorted(range(len(ids)), key=lambda i: (round(adc[i], 6), ids[i]))
    want = [(int(ids[i]), round(float(adc[i]), 6)) for i in order[:10]]

    from webcrawler_spark.operators import similarity as SIM

    got = [
        (r["vec_id"], r["approx_dist"])
        for r in SIM.pq_topk(emb, list(q), m=m, k_sub=k_sub, k=10).collect()
    ]
    assert got == want
    # compression sanity: codes live in [0, k_sub)
    cdf, _ = SIM.pq_index(emb, m=m, k_sub=k_sub)
    import pyspark.sql.functions as F
    for mi in range(m):
        bad = cdf.filter((F.col(f"code{mi}") < 0) | (F.col(f"code{mi}") >= k_sub)).count()
        assert bad == 0


def test_ivfpq_is_cell_filtered_pq(spark):
    """ivfpq == pq ADC ranking restricted to the IVF probe cells: every
    result id must come from a probed cell, and the ADC values must agree
    with pq_topk's for the same ids (same global codebooks)."""
    import numpy as np
    import pyspark.sql.functions as F
    from webcrawler_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    got = SIM.ivfpq_topk(emb, q, n_centroids=8, nprobe=3, m=4, k_sub=8, k=10).collect()
    assert len(got) == 10

    indexed, centroids = SIM.ivf_index(emb, 8)
    cmat = np.asarray(centroids)
    qa = np.asarray(q)
    probe = set(np.argsort(((cmat - qa[None, :]) ** 2).sum(axis=1))[:3].tolist())
    clusters = {r["vec_id"]: r["cluster"] for r in indexed.select("vec_id", "cluster").collect()}
    assert all(clusters[r["vec_id"]] in probe for r in got)

    # ADC parity with the unpruned PQ ranking for the same ids
    full = {
        r["vec_id"]: r["approx_dist"]
        for r in SIM.pq_topk(emb, q, m=4, k_sub=8, k=10**6).collect()
    }
    for r in got:
        assert r["approx_dist"] == full[r["vec_id"]]


# ---- batch ANN + recall eval (similarity.brute_topk_batch / ivf_topk_batch /
# ann_recall) ----------------------------------------------------------------


def _emb_and_queries(spark, n_q=3):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = (
        emb.orderBy(F.asc("vec_id"))
        .limit(n_q)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    return emb, qs


def test_brute_topk_batch_matches_per_query(spark):
    """The batched exact top-k must equal brute_force_topk run per query."""
    emb, qs = _emb_and_queries(spark)
    batch = SIM.brute_topk_batch(emb, qs, k=5)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos_sim"]))
    for q in qs.collect():
        single = SIM.brute_force_topk(emb, list(q["qv"]), k=5).collect()
        want = [(i + 1, r["vec_id"], r["cos_sim"]) for i, r in enumerate(single)]
        assert sorted(got[q["query_id"]]) == want, q["query_id"]


def test_ivf_topk_batch_matches_per_query(spark):
    """The no-driver-loop IVF batch path must equal ivf_topk per query
    (same deterministic index: identical init + Lloyd rounds)."""
    emb, qs = _emb_and_queries(spark)
    batch = SIM.ivf_topk_batch(emb, qs, n_centroids=16, nprobe=4, k=5)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q in qs.collect():
        single = {
            r["vec_id"]
            for r in SIM.ivf_topk(
                emb, list(q["qv"]), n_centroids=16, nprobe=4, k=5
            ).collect()
        }
        assert got[q["query_id"]] == single, q["query_id"]


def test_ann_recall_full_probe_is_exact(spark):
    """Probing every cell makes IVF brute force: recall@k must be 1.0 for
    all queries; with nprobe<n_centroids recall stays in [0, 1]."""
    emb, qs = _emb_and_queries(spark)
    full = SIM.ann_recall(emb, qs, n_centroids=8, nprobe=8, k=10).collect()
    assert len(full) == 3
    assert all(r["recall"] == 1.0 and r["n_hits"] == 10 for r in full)
    part = SIM.ann_recall(emb, qs, n_centroids=16, nprobe=2, k=10).collect()
    assert all(0.0 <= r["recall"] <= 1.0 for r in part)


def test_ngram_containment_catches_one_sided_copy(spark):
    """A short doc fully quoted inside a long one: Jaccard stays low but
    containment hits 1.0, and the drop hint names the contained side."""
    from webcrawler_spark.operators.similarity import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"filler{i} pad{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quote, "s"), (2, filler + " " + quote + " " + filler, "s")],
        "doc_id long, text string, source string",
    )
    (row,) = ngram_containment_pairs(docs, threshold=0.9).collect()
    assert row["id_a"] == 1 and row["id_b"] == 2
    assert row["cont_a_in_b"] == 1.0  # every quote bigram appears in doc 2
    assert row["cont_b_in_a"] < 0.1
    assert row["drop_id"] == 1  # drop the contained quote, keep the container
    # resemblance alone would have missed it
    assert ngram_jaccard_pairs(docs, threshold=0.5).count() == 0


def test_ngram_containment_tie_drops_larger_id(spark):
    from webcrawler_spark.operators.similarity import ngram_containment_pairs

    docs = spark.createDataFrame(
        [(7, "alpha beta gamma", "s"), (9, "alpha beta gamma", "s")],
        "doc_id long, text string, source string",
    )
    (row,) = ngram_containment_pairs(docs, threshold=0.9).collect()
    assert row["cont_a_in_b"] == row["cont_b_in_a"] == 1.0
    assert row["drop_id"] == 9


def test_semantic_decontaminate_flags_and_tiebreak(spark):
    from webcrawler_spark.operators.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [0.7, 0.7])],
        ["vec_id", "embedding"],
    )
    bench = spark.createDataFrame(
        # bench 1 and 2 are IDENTICAL -> tie on cos_sim; smallest id wins
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in
           semantic_decontaminate(corpus, bench, threshold=0.99).collect()}
    assert out[10]["contaminated"] and out[10]["closest_bench_id"] == 1
    assert out[10]["max_cos"] == 1.0
    assert out[11]["contaminated"] and out[11]["closest_bench_id"] == 3
    assert not out[12]["contaminated"]  # cos ~= 0.707 < 0.99
    # benchmark dim must broadcast: the 10^10-vector corpus never shuffles
    plan = semantic_decontaminate(corpus, bench)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
