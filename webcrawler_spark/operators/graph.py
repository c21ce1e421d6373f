"""Link-graph analytics: PageRank over DataFrames.

Real crawlers rank hosts/pages by link structure (OPIC, PageRank-ordered
frontiers — Cho et al. 1998; the reference's priority is depth+host-score
only, `url-scheduler`'s priority queue). This module adds the structural
signal as a standalone analytics operator: it does NOT feed the epoch
priority by default (crawl ordering stays byte-parity with the reference
oracle), but `host_rank` output joins cleanly onto the frontier as an extra
priority term.

Algorithm: standard damped PageRank with dangling-mass redistribution,
fixed iteration count (deterministic; convergence-threshold variants are a
caller loop).

    r0(v)   = 1/N
    r_k(v)  = (1-d)/N + d * (Σ_{u->v} r_{k-1}(u)/outdeg(u) + D_{k-1}/N)

where D = Σ ranks of dangling nodes (outdeg 0). Every iteration is one
join edges⋈ranks (shuffle on the 8-byte node key) + one partial-aggregated
groupBy + one scalar dangling sum; the plan is cut with localCheckpoint
per iteration so lineage stays O(1) deep — same pattern as
operators/components.connected_components.

100 TB shape: the edge list shuffles once per iteration on src/dst; the
rank vector is |V| rows of 16 bytes. For a 10^10-page web graph, ranks
~160 GB — partitioned like any fact table, never collected; the only
driver-side values are the two scalars (N, dangling mass) per iteration.
A fixed small iteration count (10-20) is the published practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def out_degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    return edges.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank) after `n_iter` damped iterations with dangling-mass
    redistribution. Node set = src ∪ dst of the (deduplicated) edge list;
    parallel edges are collapsed (a link appearing twice is one edge, the
    reference parser's link-dedup semantics)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        # Empty edge list (e.g. epoch 0 discovered no cross-host links, or
        # every fetch was robots-rejected) — an empty rank frame, not a
        # ZeroDivisionError that kills the whole crawl epoch.
        return nodes.withColumn("rank", F.lit(0.0)).select("node", "rank")
    deg = out_degrees(e)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        with_deg = ranks.join(deg, ranks["node"] == deg["src"], "left").select(
            "node", "rank", "outdeg"
        )
        dangling = (
            with_deg.filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            e.join(with_deg.filter(F.col("outdeg").isNotNull()),
                   e["src"] == F.col("node"))
            .select(F.col("dst").alias("node"),
                    (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0))
                       + F.lit(dangling / n))
                ).alias("rank"),
            )
        )
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank
    with the teleport vector restricted to a trusted seed set — trust flows
    out from vetted hosts along links, spam neighborhoods (reachable only
    through untrusted paths) score ~0. The crawl-frontier use: demote or
    drop hosts below a trust floor from the politeness budget, the
    link-graph complement to `operators/traps.py`'s URL-shape signals.

    `seeds` is a (node) DataFrame; seeds outside the graph are ignored.
    r0 = t, and each round r = (1-d)·t + d·(inflow + dangling_mass·t)
    where t(node) = 1/|seeds ∩ graph| on seeds, 0 elsewhere — dangling
    mass teleports by t, so total trust mass stays 1. Same 1000-executor
    shape as :func:`pagerank`: per-round one edges⋈ranks shuffle on the
    node key + map-side-partial agg; the dangling mass is the only driver
    scalar; localCheckpoint keeps lineage O(1)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct().join(
        nodes, "node"
    )
    e = e.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    seed_nodes = seed_nodes.localCheckpoint(eager=True)
    s = seed_nodes.count()
    if s == 0:
        # no trusted seed survives in the graph — nothing to propagate
        return nodes.withColumn("rank", F.lit(0.0)).select("node", "rank")
    nodes_t = nodes.join(
        F.broadcast(seed_nodes.withColumn("_seed", F.lit(True))), "node", "left"
    ).select(
        "node",
        F.when(F.col("_seed"), F.lit(1.0 / s)).otherwise(F.lit(0.0)).alias("t"),
    )
    nodes_t = nodes_t.localCheckpoint(eager=True)
    deg = out_degrees(e)
    ranks = nodes_t.select("node", "t", F.col("t").alias("rank"))
    for _ in range(n_iter):
        with_deg = ranks.join(deg, ranks["node"] == deg["src"], "left").select(
            "node", "rank", "outdeg"
        )
        dangling = (
            with_deg.filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            e.join(with_deg.filter(F.col("outdeg").isNotNull()),
                   e["src"] == F.col("node"))
            .select(F.col("dst").alias("node"),
                    (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes_t.join(contribs, "node", "left")
            .select(
                "node",
                "t",
                (
                    F.lit(1.0 - damping) * F.col("t")
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0))
                       + F.lit(dangling) * F.col("t"))
                ).alias("rank"),
            )
        )
        ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "rank")


def opic(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """OPIC — Adaptive On-line Page Importance Computation (Abiteboul,
    Preda & Cobéna, WWW 2003), the crawl-ordering importance score designed
    to be computed *while* crawling (no convergence wait, unlike PageRank).
    This is the synchronous batch formulation: every node starts with cash
    C0 = 1/N and empty history H0 = 0; each round every node banks its cash
    into history and forwards it in equal shares along its out-edges,
    dangling nodes forward through the paper's virtual page (uniform
    redistribution):

        H_k(v) = H_{k-1}(v) + C_{k-1}(v)
        C_k(v) = Σ_{u→v} C_{k-1}(u)/outdeg(u) + D_{k-1}/N

    where D = Σ cash of out-degree-0 nodes. Total cash stays exactly 1, so
    after k rounds ΣH = k and the importance estimate is the paper's
    X(v) = (H_k(v)+C_k(v)) / (ΣH_k + ΣC_k) = (H+C)/(k+1). Returns
    (node, opic) with Σ opic = 1.

    The reference's scheduler priority is depth+host-score only
    (services/url-scheduler); OPIC is the published structural upgrade a
    frontier can maintain incrementally. 100 TB shape: identical to
    :func:`pagerank` — per round one edges⋈cash join (shuffle on the 8-byte
    node key) + one map-side-partial groupBy; the dangling sum is the only
    driver scalar; localCheckpoint keeps lineage O(1). The cash/history
    vector is 24 bytes × |V|, never collected.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("opic", F.lit(0.0)).select("node", "opic")
    deg = out_degrees(e)

    state = nodes.select(
        "node", F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("hist")
    )
    for _ in range(n_iter):
        with_deg = state.join(deg, state["node"] == deg["src"], "left").select(
            "node", "cash", "hist", "outdeg"
        )
        dangling = (
            with_deg.filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("cash"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            e.join(with_deg.filter(F.col("outdeg").isNotNull()),
                   e["src"] == F.col("node"))
            .select(F.col("dst").alias("node"),
                    (F.col("cash") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        state = (
            state.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.coalesce(F.col("inflow"), F.lit(0.0))
                    + F.lit(dangling / n)
                ).alias("cash"),
                (F.col("hist") + F.col("cash")).alias("hist"),
            )
        )
        state = state.localCheckpoint(eager=True)
    return state.select(
        "node",
        ((F.col("hist") + F.col("cash")) / F.lit(float(n_iter + 1))).alias("opic"),
    )


def host_rank(
    links: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src_host: str = "src_host",
    dst_host: str = "dst_host",
) -> DataFrame:
    """PageRank over the HOST graph (pages collapse to their hosts,
    self-loops dropped) — the frontier-priority signal a PageRank-ordered
    crawler feeds back into scheduling. Returns (host, rank)."""
    edges = (
        links.select(F.col(src_host).alias("src"), F.col(dst_host).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return pagerank(edges, n_iter, damping).withColumnRenamed("node", "host")


def hits(
    edges: DataFrame,
    n_iter: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) after ``n_iter`` rounds.

    The complementary structural signal to PageRank for a crawler: hub
    scores find index/listing pages whose outlinks are worth expanding
    (frontier steering), authority scores find the pages those hubs agree
    on (index boosting). Same execution shape as :func:`pagerank`: per
    half-iteration one edges⋈scores join (shuffle on the 8-byte node key)
    + one partial-aggregated groupBy; the L2 norm is the only driver
    scalar; localCheckpoint keeps lineage O(1). Returns
    (node, hub, authority) — nodes with no out-edges have hub 0, no
    in-edges authority 0.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)

    def _normalize(df: DataFrame, col: str) -> DataFrame:
        norm = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col)))).first()[0] or 1.0
        return df.withColumn(col, F.col(col) / F.lit(norm))

    auth = nodes.withColumn("authority", F.lit(1.0))
    hubs = None
    for _ in range(n_iter):
        h = (
            e.join(auth, e["dst"] == auth["node"])
            .select(F.col("src").alias("node"), F.col("authority").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("hub"))
        )
        hubs = _normalize(
            nodes.join(h, "node", "left").select(
                "node", F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub")
            ),
            "hub",
        )
        hubs = hubs.localCheckpoint(eager=True)
        a = (
            e.join(hubs, e["src"] == hubs["node"])
            .select(F.col("dst").alias("node"), F.col("hub").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("authority"))
        )
        auth = _normalize(
            nodes.join(a, "node", "left").select(
                "node", F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority")
            ),
            "authority",
        )
        auth = auth.localCheckpoint(eager=True)
    return hubs.join(auth, "node").select("node", "hub", "authority")


def spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Spam-mass estimation (Gyöngyi, Berkhin, Garcia-Molina & Pedersen,
    "Link Spam Detection Based on Mass Estimation", VLDB 2006): the part of
    a node's PageRank that does NOT flow from a trusted good core is its
    spam mass. With p = PageRank (uniform teleport) and p' = PageRank whose
    teleport is restricted to the good core at the SAME per-node strength
    1/N (so p' ≤ p component-wise in expectation), absolute mass M = p − p'
    and relative mass m = M/p ∈ (−∞, 1]; hosts with m near 1 get most of
    their rank through untrusted paths — the link-spam demotion signal the
    frontier can consume next to `operators/traps.py`'s URL-shape signals.

    p' is derived from :func:`trustrank` by linearity: trustrank normalizes
    its teleport to sum 1 over s seed nodes, while the paper's core teleport
    sums to s/N — the recursion is linear in the teleport vector, so
    p' = (s/N) · trustrank. One extra broadcast-joined projection; no new
    shuffles beyond the two rank computations (each per-iteration one
    edges⋈ranks shuffle on the node key, scalars only on the driver).

    Returns (node, rank_pagerank, rank_core, spam_mass, rel_mass); rel_mass
    is NULL where p = 0 (unreachable isolated nodes never occur here since
    the node set comes from the edge list).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    pr = pagerank(e, n_iter=n_iter, damping=damping)
    tr = trustrank(e, seeds, n_iter=n_iter, damping=damping)
    # scale factors: s = |seeds ∩ graph|, n = |nodes| — two tiny counts
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    s = (
        seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        .join(nodes, "node").count()
    )
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0.0).alias("rank_pagerank"),
            F.lit(0.0).alias("rank_core"),
            F.lit(0.0).alias("spam_mass"),
            F.lit(None).cast("double").alias("rel_mass"),
        )
    scale = float(s) / float(n)
    return (
        pr.withColumnRenamed("rank", "rank_pagerank")
        .join(tr.withColumnRenamed("rank", "_tr"), "node")
        .select(
            "node",
            "rank_pagerank",
            (F.col("_tr") * F.lit(scale)).alias("rank_core"),
            (F.col("rank_pagerank") - F.col("_tr") * F.lit(scale)).alias("spam_mass"),
            F.when(
                F.col("rank_pagerank") > 0,
                (F.col("rank_pagerank") - F.col("_tr") * F.lit(scale))
                / F.col("rank_pagerank"),
            ).alias("rel_mass"),
        )
    )


def salsa(
    edges: DataFrame,
    n_iter: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """SALSA (Lempel & Moran, WWW 2000): the Stochastic Approach for
    Link-Structure Analysis — HITS's mutual reinforcement replaced by a
    random walk that alternates a backward and a forward step on the
    bipartite hub/authority graph. Each transition divides by the degree,
    so both score vectors are probability distributions and NO driver-side
    normalization scalar is needed (unlike HITS's L2 norm):

        h_k(u) = Σ_{u→v} a_{k-1}(v) / indeg(v)
        a_k(v) = Σ_{u→v} h_k(u)   / outdeg(u)

    from the uniform authority start a_0(v) = 1/|{v: indeg(v)>0}|. SALSA is
    the production web-search variant (it resists the tightly-knit-community
    effect that inflates HITS hubs), and Σh = Σa = 1 after every round by
    construction — the test invariant.

    100 TB shape: per half-round one edges⋈scores shuffle on the 8-byte
    node key + one map-side-partial groupBy; degree dims computed once;
    localCheckpoint keeps lineage O(1). Returns (node, hub, authority)
    with hub 0 for pure authorities and authority 0 for pure hubs.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    indeg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("indeg")
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    )
    n_auth = indeg.count()
    if n_auth == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    auth = indeg.select("node", F.lit(1.0 / n_auth).alias("authority"), "indeg")
    hubs = None
    for _ in range(n_iter):
        # backward step: hubs gather authority mass split by in-degree
        h = (
            e.join(auth, e["dst"] == auth["node"])
            .select(F.col("src"), (F.col("authority") / F.col("indeg")).alias("c"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("c").alias("hub"))
        )
        hubs = h.join(outdeg, "node").select("node", "hub", "outdeg")
        hubs = hubs.localCheckpoint(eager=True)
        # forward step: authorities gather hub mass split by out-degree
        a = (
            e.join(hubs, e["src"] == hubs["node"])
            .select(F.col("dst"), (F.col("hub") / F.col("outdeg")).alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("authority"))
        )
        auth = a.join(indeg, "node").select("node", "authority", "indeg")
        auth = auth.localCheckpoint(eager=True)
    return (
        nodes.join(hubs.select("node", "hub"), "node", "left")
        .join(auth.select("node", "authority"), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
        )
    )


def degree_powerlaw(
    edges: DataFrame,
    d_min: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """In-degree power-law fit: the continuous maximum-likelihood exponent
    (Clauset, Shalizi & Newman, SIAM Review 2009, eq. 3.1 with the discrete
    −1/2 offset)

        α = 1 + n_tail / Σ_{d ≥ d_min} ln( d / (d_min − 1/2) )

    over the distinct-edge in-degree distribution. Web-graph in-degrees are
    the canonical power law (α ≈ 2.1, Broder et al. 2000); a crawl whose
    frontier in-degree exponent drifts far from that is over-sampling link
    farms or stuck in a mesh-shaped trap — a one-row drift gauge next to
    `trap_signals`. Returns one row: (n_nodes_in, n_tail, max_indeg, alpha);
    alpha is NULL when the tail is empty or degenerate (all tail degrees
    = d_min would give Σln = 0 only if d_min/(d_min-0.5) = 1, impossible,
    so the only NULL case is n_tail = 0).

    100 TB shape: one distinct-edge shuffle + one groupBy(dst) map-side
    partial agg, then a single global aggregate row — no driver data.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    return indeg.agg(
        F.count(F.lit(1)).alias("n_nodes_in"),
        F.sum(F.when(F.col("d") >= d_min, 1).otherwise(0)).alias("n_tail"),
        F.max("d").alias("max_indeg"),
        F.round(
            F.lit(1.0)
            + F.sum(F.when(F.col("d") >= d_min, 1).otherwise(0))
            / F.sum(
                F.when(
                    F.col("d") >= d_min,
                    F.log(F.col("d") / F.lit(d_min - 0.5)),
                )
            ),
            6,
        ).alias("alpha"),
    )


def reciprocity(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Host-graph reciprocity: fraction of directed edges whose reverse
    also exists — the link-exchange signal (organic host graphs are ~10-30%
    reciprocal; paid link rings approach 100%).  Distinct-edge self-join on
    the reversed key, both sides partitioned by the same (src, dst) hash —
    one shuffle each, no fan-out (distinct edges join at most once).
    Returns one row: (n_edges, n_reciprocal, reciprocity)."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    rec = e.join(rev, ["src", "dst"], "left_semi")
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(rec.agg(F.count(F.lit(1)).alias("n_reciprocal")))
        .withColumn(
            "reciprocity", F.round(F.col("n_reciprocal") / F.col("n_edges"), 6)
        )
    )
