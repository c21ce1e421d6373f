"""ExactSubstr-style duplicate-span detection vs a pure-Python reference."""

import re

import pytest

from webcrawler_spark.operators import substr as SU


def _spans_py(docs, n=8, stride=1):
    """Independent reference: duplicated-n-gram positions, merged intervals."""
    toks = {d: re.split(r"\s+", t.lower()) for d, t in docs}
    counts = {}
    for d, ts in toks.items():
        for i in range(0, len(ts) - n + 1, stride):
            g = " ".join(ts[i : i + n])
            counts[g] = counts.get(g, 0) + 1
    out = set()
    for d, ts in toks.items():
        hits = sorted(
            i
            for i in range(0, len(ts) - n + 1, stride)
            if counts[" ".join(ts[i : i + n])] > 1
        )
        cur = None
        for i in hits:
            if cur and i <= cur[1]:
                cur[1] = max(cur[1], i + n)
            else:
                if cur:
                    out.add((d, cur[0], cur[1]))
                cur = [i, i + n]
        if cur:
            out.add((d, cur[0], cur[1]))
    return out


WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _corpus():
    """Deterministic corpus with a planted 12-token run shared by docs 1/3,
    an in-doc repeat in doc 2, and unique docs 0/4."""
    run = " ".join(WORDS + WORDS[:2])  # 12 tokens
    docs = []
    for d in range(5):
        uniq = " ".join(f"w{d}x{i}" for i in range(20))
        if d in (1, 3):
            text = f"{uniq} {run} tail{d}a tail{d}b"
        elif d == 2:
            text = f"{uniq} {run[:0]}{' '.join(WORDS[:9])} mid{d} {' '.join(WORDS[:9])} {uniq}"
        else:
            text = uniq
        docs.append((d, text))
    return docs


@pytest.mark.parametrize("n,stride", [(8, 1), (8, 2), (5, 1)])
def test_spans_match_python_reference(spark, n, stride):
    docs = _corpus()
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in SU.duplicate_ngram_spans(df, n=n, stride=stride).collect()
    }
    assert got == _spans_py(docs, n=n, stride=stride)
    if stride == 1 and n == 8:
        # the planted cross-doc run is found in both docs
        assert any(d == 1 for d, _, _ in got) and any(d == 3 for d, _, _ in got)


def test_spans_random_corpus_parity(spark):
    """Seeded random corpus (repeated templates + noise, varied lengths,
    sub-n docs) — full span-set parity with the Python reference."""
    import random

    rng = random.Random(1234)
    vocab = [f"v{i}" for i in range(30)]
    templates = [
        " ".join(rng.choices(vocab, k=rng.randint(8, 14))) for _ in range(6)
    ]
    docs = []
    for d in range(120):
        parts = []
        for _ in range(rng.randint(0, 4)):
            if rng.random() < 0.4:
                parts.append(rng.choice(templates))
            else:
                parts.append(" ".join(rng.choices(vocab, k=rng.randint(1, 20))))
        docs.append((d, " ".join(parts) or "solo"))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in SU.duplicate_ngram_spans(df, n=6).collect()
    }
    assert got == _spans_py(docs, n=6)
    assert len(got) > 20  # templates actually collided
