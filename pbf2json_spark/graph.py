"""Link-graph operators over (src, dst) edge tables — the web-graph side
of a crawl corpus (host graphs, citation graphs, anchor graphs).

Determinism discipline: PageRank is normally a double-sum fixpoint —
floating-point addition is order-dependent, so a conventional
implementation is not reproducible across partitionings, let alone across
engines. Here every rank is an int64 in 1e-9 units ("nano-rank") and every
step is integer arithmetic (div / mul / sum) — order-independent and
bit-identical in any engine, which is what makes the DuckDB oracle exact.

Scale shapes: one iteration of pagerank_int is one hash join
(ranks ⋈ edges on src) + one map-side-combinable sum by dst + one left
join back to the node set — all equi-joins on the node id. Edges are the
big side and never change: repartition them by src ONCE and pin them with
a lazy localCheckpoint, and every iteration's join reuses that layout.
localCheckpoint per round cuts the lineage (the same discipline as
connected_components / relations' fixpoint). Frames an operator reads more
than once are pinned the same way, never with persist(): a persisted
frame's CacheManager entry outlives the call unless someone unpersists it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000  # nano-ranks
DAMPING_PCT = 85  # PageRank damping d, in percent
MAX_ROUNDS = 40  # cap on Borůvka merge, pointer-jumping and bow-tie BFS rounds


def _nodes(e: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """The node set of an (a, b) edge frame: distinct a ∪ b as `node`."""
    return (
        e.select(F.col(a).alias("node"))
        .unionByName(e.select(F.col(b).alias("node")))
        .distinct()
    )


def _seed_flags(nodes: DataFrame, seeds: DataFrame) -> DataFrame:
    """(node, _s) over `nodes`: _s = 1 for a node in the one-column
    `seeds` frame (column `node`), else 0. Seeds outside the node set drop."""
    flag = F.broadcast(seeds.distinct().withColumn("_s", F.lit(1)))
    return nodes.join(flag, "node", "left").select(
        "node", F.coalesce("_s", F.lit(0)).alias("_s")
    )


def _propagate_int(
    e: DataFrame,
    teleport: DataFrame,
    n_iter: int,
    rank_col: str,
) -> DataFrame:
    """The integer PageRank recurrence over edges `e` (src, dst) and the
    teleport flags `teleport` (node, _s ∈ {0, 1}) — one node row each:

        rank⁰(v)   = _s(v)·SCALE
        rankᵏ⁺¹(v) = _s(v)·(100−d)·SCALE div 100
                     + d · Σ_{u→v} (rankᵏ(u) div out(u)) div 100

    The degree-joined edges are repartitioned by src once and, like the
    flags, pinned with a lazy localCheckpoint: every round reuses that
    layout, and no CacheManager entry outlives the call. Each round is one
    hash join + one combinable sum + one left join back to the flags;
    ranks are checkpointed every 3 rounds; d = DAMPING_PCT.

    Output: (node, <rank_col>:long).
    """
    teleport = teleport.localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    ed = e.join(deg, "src").repartition("src").localCheckpoint(eager=False)
    base = (100 - DAMPING_PCT) * SCALE // 100
    ranks = teleport.select(
        "node", (F.col("_s") * SCALE).cast("long").alias(rank_col)
    )
    for i in range(n_iter):
        contrib = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr(f"{rank_col} div _deg").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            teleport.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.col("_s") * F.lit(base)
                    + F.expr(f"{DAMPING_PCT} * coalesce(_in, 0L) div 100")
                ).cast("long").alias(rank_col),
            )
        )
        if (i + 1) % 3 == 0 and i + 1 < n_iter:
            ranks = ranks.localCheckpoint()
    return ranks


def pagerank_int(edges: DataFrame, n_iter: int) -> DataFrame:
    """Integer-scaled PageRank, `n_iter` synchronous iterations.

    rank⁰ = SCALE for every node (nodes = distinct src ∪ dst);
    rankᵏ⁺¹(v) = (100-d)·SCALE div 100  +  d · Σ_{u→v} (rankᵏ(u) div out(u)) div 100.

    All ops are int64 div/mul/sum → exact, order-independent,
    engine-portable. Dangling nodes (no out-links) leak their mass — the
    standard "no dangling redistribution" variant; ranks are a relative
    centrality score, not a probability simplex. Overflow budget: the
    in-sum is bounded by total mass n_nodes·SCALE, so int64 holds through
    ~9·10⁹ nodes at SCALE=1e9; for a 10¹²-node web graph drop SCALE to 1e6
    (the parameter is a module constant only for the oracle's sake).

    Output: (node, rank_e9:long).
    """
    e = edges.select(F.col("src"), F.col("dst"))
    teleport = _nodes(e).select("node", F.lit(1).alias("_s"))
    return _propagate_int(e, teleport, n_iter, "rank_e9")


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node in/out degree and reciprocal-link count — the crawl-graph
    health profile. Three map-side-combinable aggregates + one semi-join
    (reciprocity = edge whose reverse exists), all on the node id."""
    e = edges.select(F.col("src"), F.col("dst")).distinct()
    out_d = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    recip = (
        e.join(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            ["src", "dst"],
            "left_semi",
        )
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("recip_deg"))
    )
    nodes = out_d.select("node").unionByName(in_d.select("node")).distinct()
    return (
        nodes.join(out_d, "node", "left")
        .join(in_d, "node", "left")
        .join(recip, "node", "left")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("recip_deg", F.lit(0)).alias("recip_deg"),
        )
    )


def connected_components(edges: DataFrame, max_iters: int = 40) -> DataFrame:
    """Connected components with POINTER DOUBLING: each round propagates
    the min label one hop AND then shortcuts rep → rep's rep, so a
    diameter-d component converges in O(log d) rounds instead of the O(d)
    of plain min-label propagation (ruinous for a continent-wide cell
    blob or a long chain of near-duplicates). Returns
    (id, rep), rep = component minimum; localCheckpoint per round bounds
    lineage; stops early when a round changes nothing.
    """
    e = (
        edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(edges.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        # e is probed EVERY round — pin it so the upstream pipeline
        # (often a full scan + join chain) runs once, not once per round
        .localCheckpoint(eager=False)
    )
    labels = e.select("x").distinct().withColumn("rep", F.col("x"))
    for _ in range(max_iters):
        prop = (
            e.join(labels.withColumnRenamed("x", "y"), "y")
            .groupBy("x")
            .agg(F.min("rep").alias("_p"))
        )
        stepped = labels.join(prop, "x", "left").select(
            "x", F.least("rep", F.coalesce("_p", "rep")).alias("rep")
        )
        # shortcut: rep <- rep(rep). rep is always an existing node id, so
        # the self-join hit is guaranteed; coalesce only guards planner
        # nulls on the left join.
        jumped = (
            stepped.join(
                stepped.select(
                    F.col("x").alias("rep"), F.col("rep").alias("_r2")
                ),
                "rep",
                "left",
            )
            .select("x", F.coalesce("_r2", "rep").alias("rep"))
        )
        # checkpoint FIRST, then probe the change flag against the pinned
        # result — probing the un-checkpointed frame would recompute the
        # whole round's join chain a second time
        new_labels = jumped.localCheckpoint(eager=True)
        changed = not (
            new_labels.join(labels.withColumnRenamed("rep", "_old"), "x")
            .filter(F.col("rep") != F.col("_old"))
            .isEmpty()
        )
        labels = new_labels
        if not changed:
            break
    return labels.select(F.col("x").alias("id"), "rep")


def triangles(edges: DataFrame) -> DataFrame:
    """Enumerate every triangle of the UNDIRECTED graph underlying
    (src, dst) — the primitive under clustering coefficients, community
    seeding, and link-spam detection (farms are triangle-dense).

    Algorithm — degree-ordered orientation ("compact-forward"): each
    undirected edge is oriented from its (degree, id)-smaller endpoint to
    the larger; every triangle then has EXACTLY ONE node with two
    out-edges inside it (the (degree, id)-minimum corner), so counting
    closed wedges at that node counts each triangle once — no /6, no /3,
    no distinct pass. The payoff at scale: an oriented out-degree is
    O(sqrt(m)) even for a 10^8-degree hub (a hub ranks above almost all
    neighbors, so almost all its edges point IN), so the wedge self-join's
    per-key fan-out — the only quadratic-looking step — is bounded by
    sqrt(m), not by the max degree. Three shuffles total: degree groupBy,
    wedge equi-join on the pivot node, and the closing-edge left_semi on
    the canonical pair.

    Output: one row per triangle, corners (a, b, c) with a < b < c by
    node id — a pure function of the edge multiset (self-loops dropped,
    parallel/reverse duplicates collapse).
    """
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    und = e.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    w = und.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = w.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    wedges = (
        oriented.select("lo", F.col("hi").alias("p"))
        .join(oriented.select("lo", F.col("hi").alias("q")), "lo")
        .filter(F.col("p") < F.col("q"))
    )
    closed = wedges.join(
        und.select(F.col("u").alias("p"), F.col("v").alias("q")),
        ["p", "q"],
        "left_semi",
    )
    corners = F.array_sort(F.array("lo", "p", "q"))
    return closed.select(
        corners.getItem(0).alias("a"),
        corners.getItem(1).alias("b"),
        corners.getItem(2).alias("c"),
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over the
    undirected graph of (src, dst).

    cc is emitted INTEGER-scaled (the module's portability discipline):
        cc_e6 = (2 · n_tri · 1e6) div (deg · (deg−1)),  0 when deg < 2
    — one multiply + one truncating div, bit-identical in any engine.

    Shape: triangles() + one explode(corners) groupBy + a left join back
    onto the degree table so zero-triangle nodes keep a row. Nothing here
    adds a shuffle beyond triangles()' three.

    Output: (node, deg, n_tri, cc_e6), one row per node of the graph.
    """
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    und = e.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangles(edges)
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        "deg",
        F.coalesce("n_tri", F.lit(0).cast("long")).alias("n_tri"),
    )
    return out.withColumn(
        "cc_e6",
        F.when(
            F.col("deg") >= 2,
            F.expr("(2 * n_tri * 1000000) div (deg * (deg - 1))"),
        ).otherwise(F.lit(0).cast("long")),
    )


def hits_int(edges: DataFrame, n_iter: int) -> DataFrame:
    """Integer-scaled HITS (Kleinberg hubs & authorities), `n_iter`
    synchronous rounds — the complement of PageRank for link analysis:
    hubs are pages that POINT AT good content (directories, link lists),
    authorities are pages good hubs point at. On a crawl graph the pair
    separates navigational boilerplate from substantive targets in a way
    a single centrality can't.

    Recurrence (parallel edges = weight, like pagerank_int):

        rawAᵏ(v)  = Σ_{u→v} hubᵏ⁻¹(u)        authᵏ = normalize(rawA)
        rawHᵏ(u)  = Σ_{u→v} authᵏ(v)          hubᵏ  = normalize(rawH)

    where normalize(x) = (x · n_nodes · SCALE) div Σx — the integer
    stand-in for the textbook L2 normalization: it fixes the MEAN at
    SCALE so scores neither explode nor vanish, stays exact (the product
    runs in DECIMAL(38,0); a raw·SCALE product passes 2^63 at realistic
    degrees), and is order-independent. Σx > 0 whenever the graph has any
    edge, since raw scores are non-negative and every edge contributes.

    Shape at 10^12 edges: each round is two (edge ⋈ score) hash equi-joins
    + combinable sums + one 1-row broadcast for the normalizer — ids and
    int64 scores only in every shuffle; localCheckpoint bounds lineage.

    Output: (node, auth_e9, hub_e9) over nodes = distinct src ∪ dst.
    """
    e = edges.select(F.col("src"), F.col("dst"))
    e = e.localCheckpoint(eager=False)
    nodes = _nodes(e).localCheckpoint(eager=False)

    def norm(raw: DataFrame, col: str) -> DataFrame:
        scores = nodes.join(raw, "node", "left").select(
            "node", F.coalesce(col, F.lit(0)).cast("long").alias(col)
        )
        tot = scores.agg(
            F.count(F.lit(1)).alias("_n"), F.sum(col).alias("_t")
        )
        return scores.crossJoin(F.broadcast(tot)).select(
            "node",
            F.expr(
                f"CAST((CAST({col} AS DECIMAL(38,0)) * _n * {SCALE}) "
                f"div greatest(_t, 1) AS BIGINT)"
            ).alias(col),
        )

    hub = nodes.select("node", F.lit(SCALE).cast("long").alias("hub_e9"))
    auth = None
    for i in range(n_iter):
        raw_a = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub_e9").alias("auth_e9"))
            .withColumnRenamed("dst", "node")
        )
        auth = norm(raw_a, "auth_e9")
        raw_h = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("auth_e9").alias("hub_e9"))
            .withColumnRenamed("src", "node")
        )
        hub = norm(raw_h, "hub_e9")
        if (i + 1) % 2 == 0 and i + 1 < n_iter:
            auth = auth.localCheckpoint()
            hub = hub.localCheckpoint()
    return nodes.join(auth, "node", "left").join(hub, "node", "left").select(
        "node",
        F.coalesce("auth_e9", F.lit(0)).cast("long").alias("auth_e9"),
        F.coalesce("hub_e9", F.lit(0)).cast("long").alias("hub_e9"),
    )


def resource_allocation(edges: DataFrame, max_deg: int = 64) -> DataFrame:
    """Link prediction by common neighbors + the Resource-Allocation
    index (Zhou, Lü & Zhang 2009) over the UNDIRECTED simple graph under
    `edges`: for every non-adjacent pair (a, c) with at least one common
    neighbor, count the common neighbors and sum each bridge node's
    1/degree — RA down-weights promiscuous bridges (a directory page
    linking everything predicts nothing). Integer-exact:
    ra_e6 = Σ_b (1_000_000 div deg(b)).

    The quadratic truth and the hub guard (same discipline as
    trajectory.co_location): wedge fan-out is deg(b)² at the bridge.
    Bridges with deg > `max_deg` are dropped from the CENTER role by a
    combinable-count semi-join before pairing — standard for RA, whose
    per-bridge contribution 1/deg is already negligible there.

    Shape at 10^12 edges: dedup to simple undirected edges (ONE
    distinct), degree = one combinable count, wedges = one self-equi-join
    on the center bounded by max_deg, prediction = one combinable
    groupBy, minus known edges via left_anti. Ids only everywhere.

    Output: (node_a, node_b, n_common, ra_e6) with node_a < node_b,
    (node_a, node_b) not an edge.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.filter(F.col("deg") <= max_deg)
    spokes = (
        sym.join(
            centers.select(F.col("a").alias("b"), "deg"), "b"
        )  # b = wedge center, bounded
        .select(F.col("b").alias("ctr"), F.col("a").alias("leaf"), "deg")
    )
    wedges = (
        spokes.alias("l")
        .join(spokes.alias("r"), "ctr")
        .filter(F.col("l.leaf") < F.col("r.leaf"))
        .select(
            F.col("l.leaf").alias("node_a"),
            F.col("r.leaf").alias("node_b"),
            F.expr("1000000 div l.deg").alias("_ra"),
        )
    )
    pred = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_common"), F.sum("_ra").alias("ra_e6")
    )
    return pred.join(
        und.select(F.col("a").alias("node_a"), F.col("b").alias("node_b")),
        ["node_a", "node_b"],
        "left_anti",
    )


def kcore(edges: DataFrame, k: int) -> DataFrame:
    """k-core decomposition membership: iteratively peel every node whose
    degree in the REMAINING undirected simple graph is < k until a
    fixpoint — the surviving subgraph is the k-core (Seidman 1983), the
    standard web-graph filter for "densely embedded" pages (link farms
    and isolated leaves peel away; genuinely cross-linked cores stay).

    Deterministic by construction: each round removes ALL sub-k nodes
    simultaneously, so the result is the unique maximal subgraph with
    min-degree >= k — no ordering sensitivity, which is what makes the
    unrolled-CTE DuckDB oracle exact.

    Shape at 10^12 edges: dedup to simple undirected edges once (ONE
    distinct), then each round is one combinable degree count + two
    left_semi joins on the node id (ids only cross the shuffle — the
    edge payload is 16 bytes). localCheckpoint per round bounds lineage;
    the loop exits as soon as a round deletes nothing. Rounds are
    O(peel depth); real web graphs peel in a few dozen rounds, but a
    path graph peels end-inward in O(n/2) — a 60-round cap is the guard,
    and the fixpoint test (count unchanged) makes early exit exact.

    Output: (node, core_deg) for k-core members, core_deg = degree
    counted within the k-core subgraph (>= k by definition).
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    n_prev = sym.count()
    for _ in range(60):
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        nxt = (
            sym.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_cur = nxt.count()
        sym = nxt
        if n_cur == n_prev:
            break
        n_prev = n_cur
    return (
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .filter(F.col("core_deg") >= k)
        .select(F.col("a").alias("node"), "core_deg")
    )


def cocitation(edges: DataFrame, max_out_deg: int = 64) -> DataFrame:
    """Co-citation similarity (Small 1973): two pages are similar when
    the same sources link to both. For every pair (a, b) cited by ≥1
    common source, the common-citer count and the Jaccard of their
    citer sets:

        cocite_e6 = common · 1e6 div (in_a + in_b − common)

    The hub guard mirrors resource_allocation: a directory page citing
    everything generates deg² pairs and asserts nothing — sources with
    out-degree > `max_out_deg` are excluded from BOTH the pairing and
    the in-degree denominators, keeping the index self-consistent
    (documented approximation; exact on the guarded citation graph,
    which is the graph you want).

    Shape at 10^12 edges: ONE distinct on directed edges, a combinable
    out-degree count, the pair fan-out bounded by max_out_deg at the
    citing side (hash equi-join on the source), combinable pair counts,
    and an in-degree equi-join — ids only everywhere.

    Output: (node_a, node_b, common, in_a, in_b, cocite_e6) with
    node_a < node_b.
    """
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d")).filter(
        F.col("s") != F.col("d")
    ).distinct()
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    guarded = e.join(
        outdeg.filter(F.col("od") <= max_out_deg).select("s"), "s", "left_semi"
    ).localCheckpoint(eager=False)
    pairs = (
        guarded.alias("l")
        .join(guarded.alias("r"), "s")
        .filter(F.col("l.d") < F.col("r.d"))
        .groupBy(
            F.col("l.d").alias("node_a"), F.col("r.d").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    indeg = guarded.groupBy("d").agg(F.count(F.lit(1)).alias("ind"))
    return (
        pairs.join(indeg.select(F.col("d").alias("node_a"),
                                F.col("ind").alias("in_a")), "node_a")
        .join(indeg.select(F.col("d").alias("node_b"),
                           F.col("ind").alias("in_b")), "node_b")
        .select(
            "node_a", "node_b", "common", "in_a", "in_b",
            F.expr("common * 1000000 div (in_a + in_b - common)")
            .alias("cocite_e6"),
        )
    )


def trustrank_int(edges: DataFrame, seeds: DataFrame, n_iter: int) -> DataFrame:
    """Integer-scaled TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004):
    PageRank with the teleport mass restricted to a curated SEED set —
    trust flows out from known-good pages, so link-farm islands that
    self-inflate under uniform teleport score ~0 here. The standard
    web-spam demotion signal next to k-core and co-citation.

    pagerank_int's kernel with the teleport flag set on the seeds only
    (seeds are a broadcast-sized flag join):

        trust⁰(v)   = SCALE · [v ∈ seeds]
        trustᵏ⁺¹(v) = [v ∈ seeds]·(100−d)·SCALE div 100
                      + d · Σ_{u→v} (trustᵏ(u) div out(u)) div 100

    Output: (node, trust_e9:long) — 0 for pages unreachable from seeds.
    """
    e = edges.select(F.col("src"), F.col("dst"))
    teleport = _seed_flags(_nodes(e), seeds.select(F.col("node")))
    return _propagate_int(e, teleport, n_iter, "trust_e9")


def host_graph(edges: DataFrame, node_host: DataFrame) -> DataFrame:
    """Host-graph coarsening: collapse the page-level link graph to the
    host level — every web-graph pipeline's first aggregation (host
    PageRank, spam neighborhoods, crawl politeness all run on it).
    Self-host edges (intra-site navigation, the vast majority) drop.

    Shape at 10^12 edges: two equi-joins mapping the endpoints to hosts
    (the mapping table is host-keyed data-scale — joined, not broadcast,
    and both joins hash on the node id), then ONE combinable groupBy on
    (from_host, to_host) — the host matrix is quadratically smaller than
    the edge list. n_src_pages counts distinct linking pages per host
    pair (template-link inflation guard), combinable via a pre-distinct.

    Output: (from_host, to_host, n_links, n_src_pages), from ≠ to.
    """
    m = node_host.select(F.col("node").alias("_n"), F.col("host"))
    j = (
        edges.select("src", "dst")
        .join(m.select(F.col("_n").alias("src"),
                       F.col("host").alias("from_host")), "src")
        .join(m.select(F.col("_n").alias("dst"),
                       F.col("host").alias("to_host")), "dst")
        .filter(F.col("from_host") != F.col("to_host"))
    )
    links = j.groupBy("from_host", "to_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )
    srcs = (
        j.select("from_host", "to_host", F.col("src").alias("_s"))
        .distinct()
        .groupBy("from_host", "to_host")
        .agg(F.count(F.lit(1)).alias("n_src_pages"))
    )
    return links.join(srcs, ["from_host", "to_host"])


def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Synchronous label-propagation communities (LPA) over the
    UNDIRECTED graph underlying (src, dst) — the cheap community pass a
    web corpus runs between connected components (too coarse: one giant
    blob) and modularity methods (too expensive at 10^12 edges): mirror
    domains, template rings, and topic clusters settle into shared
    labels within 2-5 rounds.

    Deterministic by construction, unlike textbook LPA: every round is
    SYNCHRONOUS (all nodes update from the same previous labeling — no
    update-order dependence), and the adopted label is the most frequent
    neighbor label with ties broken by the SMALLEST label. Labels start
    as the node id, so round results are stable node-id sets on any
    engine / partitioning — the DuckDB oracle unrolls the same rounds.

    Shape at 10^12 edges: per round, one equi-join of the (deduped,
    symmetrized) edge list against the |V|-sized label frame, ONE
    combinable groupBy to (node, label) counts, and ONE argmax groupBy
    to pick the winner — both map-side combinable; only (id, label,
    count) int64 triples cross the shuffles. The argmax is
    max(struct(count, -label)) — no window over the neighbor lists.
    localCheckpoint per round bounds lineage.

    Returns (id, label) after `rounds` rounds.
    """
    e = (
        edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .unionByName(
            edges.select(F.col("dst").alias("x"), F.col("src").alias("y"))
            .filter(F.col("x") != F.col("y"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = e.select(F.col("x").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for _ in range(rounds):
        counts = (
            e.join(labels.withColumnRenamed("id", "y"), "y")
            .groupBy("x", "label")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        labels = (
            counts.groupBy("x")
            .agg(
                F.max(
                    F.struct(
                        F.col("_n").alias("n"),
                        (-F.col("label")).alias("nl"),
                    )
                ).alias("_b")
            )
            .select(F.col("x").alias("id"), (-F.col("_b.nl")).alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a community labeling — the quality score
    that turns label_propagation from "some labels" into a measurable
    clustering (compare labelings, stop iterating when Q plateaus, flag
    spam rings whose Q is implausibly high):

        Q = Σ_c [ m_c/m − (d_c/(2m))² ] = Σ_c (4m·m_c − d_c²) / (4m²)

    over the UNDIRECTED simple graph underlying (src, dst) — self-loops
    and duplicate/reverse edges dropped, the same normalization as
    label_propagation. Emitted per community as exact integers:

        q_e9 = (4m·m_c − d_c²) · 1e9 div (4m²)

    (negative for communities sparser than chance; Σ q_e9 ≈ Q·1e9 with
    per-community truncation toward zero — DuckDB `//`-identical).

    Shape at 10^12 edges: the symmetrize+distinct exchange, two
    label-map equi-joins on the endpoints, and THREE combinable
    groupBys (degree per node already folded into the label join; m_c
    and d_c per label). Only (id, label) pairs and int64 counters cross
    any shuffle. Unlabeled endpoints (nodes absent from `labels`) fail
    the inner join loudly by dropping their edges — pass a complete
    labeling (label_propagation emits one).

    Output: (label, n_nodes, m_in, d_tot, q_e9), one row per community.
    """
    e = (
        edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = labels.select(F.col("id").alias("_id"), F.col("label"))
    la = lab.select(F.col("_id").alias("a"), F.col("label").alias("_la"))
    lb = lab.select(F.col("_id").alias("b"), F.col("label").alias("_lb"))
    tagged = e.join(la, "a").join(lb, "b")
    m = tagged.count()
    if m == 0:
        raise ValueError("no labeled edges")
    m_in = (
        tagged.filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count(F.lit(1)).alias("m_in"))
    )
    deg = (
        tagged.select(F.col("a").alias("_id"), F.col("_la").alias("label"))
        .unionByName(
            tagged.select(F.col("b").alias("_id"), F.col("_lb").alias("label"))
        )
        .groupBy("_id", "label")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    per_label = deg.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("_d").alias("d_tot")
    )
    return (
        per_label.join(m_in, "label", "left")
        .select(
            "label",
            "n_nodes",
            F.coalesce("m_in", F.lit(0)).cast("long").alias("m_in"),
            "d_tot",
            # DECIMAL(38,0): 4m·m_c·1e9 passes 2^63 once m > ~10^5
            F.expr(
                f"CAST((CAST(4 AS DECIMAL(38,0)) * {m} * coalesce(m_in, 0) "
                f"- CAST(d_tot AS DECIMAL(38,0)) * d_tot) * 1000000000 "
                f"div (CAST(4 AS DECIMAL(38,0)) * {m} * {m}) AS BIGINT)"
            ).alias("q_e9"),
        )
    )


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of the undirected simple graph — the one-row
    mixing statistic behind "do popular pages link to popular pages"
    (assortative, r > 0: social/citation shape) vs "hubs link to leaves"
    (disassortative, r < 0: the classic web/spam-farm shape). Newman's r
    is the Pearson correlation of endpoint degrees over DIRECTED edge
    ends (each undirected edge contributes both orientations, which makes
    the two marginals identical):

        r = (M·Σjk − Σj·Σk) / sqrt((M·Σj² − (Σj)²)·(M·Σk² − (Σk)²))

    Both-orientation symmetry makes the two marginals IDENTICAL, so the
    sqrt collapses: varx = vary = var and r = cov/var exactly —

        r_e6 = (M·Σjk − (Σj)²) · 1e6 div (M·Σj² − (Σj)²)

    exact integers end to end, −1e6 ≤ r_e6 ≤ 1e6, truncation toward
    zero = DuckDB `//`. Accumulation in DECIMAL(38,0): cov·1e6 passes
    2^63 at ~10^6 edges; nothing is ever squared, so the 38-digit
    ceiling holds past 10^12 edges.

    Scale shape at 10^12 edges: the symmetrize+distinct exchange shared
    with every graph op here, ONE combinable degree count, two (id →
    degree) equi-joins to tag endpoints, ONE global agg of five moments.
    Only (id, degree) pairs cross any shuffle; no window, no collect.

    Output: one row (m_edges, sum_deg, sum_deg_sq, sum_jk2, r_e6) —
    the raw moments ride along so downstream can re-derive r at any
    precision.
    """
    e = (
        edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tagged = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("_ja")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("_jb")), "b")
    )
    d38 = "DECIMAL(38,0)"
    m = tagged.agg(
        F.count(F.lit(1)).alias("m_edges"),
        F.sum(F.col("_ja") + F.col("_jb")).alias("sum_deg"),
        F.sum(
            F.expr(f"CAST(_ja AS {d38}) * _ja + CAST(_jb AS {d38}) * _jb")
        ).alias("_sjj"),
        F.sum(F.expr(f"CAST(_ja AS {d38}) * _jb * 2")).alias("_sjk"),
    )
    return m.select(
        "m_edges",
        "sum_deg",
        F.expr("CAST(_sjj AS BIGINT)").alias("sum_deg_sq"),
        F.expr("CAST(_sjk AS BIGINT)").alias("sum_jk2"),
        F.expr(
            f"CAST(CASE WHEN CAST(2 AS {d38}) * m_edges * _sjj "
            f"- CAST(sum_deg AS {d38}) * sum_deg = 0 THEN 0 ELSE "
            f"(CAST(2 AS {d38}) * m_edges * _sjk "
            f"- CAST(sum_deg AS {d38}) * sum_deg) * 1000000 "
            f"div (CAST(2 AS {d38}) * m_edges * _sjj "
            f"- CAST(sum_deg AS {d38}) * sum_deg) END AS BIGINT)"
        ).alias("r_e6"),
    )


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY seed node to every
    node reachable within `max_hops` — the crawl-frontier / seed-distance
    primitive (how far is each page from the trusted seed set; which
    hosts are within k clicks of a spam hub).

    Frontier expansion, the textbook distributed BFS: visited starts as
    the seeds at hop 0; each round joins the CURRENT frontier to the edge
    table (one equi-join on the node id), anti-joins out already-visited
    nodes, and unions the remainder in at hop r. A node's first discovery
    round IS its minimum hop, so no min-aggregation over paths is ever
    needed — unlike the oracle's recursive CTE, which enumerates
    (node, hop) states and takes min(hop) at the end; both yield the same
    labels, which the gate compares value-exact.

    Scale shape at a 10^12-edge web graph: per round ONE shuffle join
    frontier ⋈ edges (repartition edges by src once upstream and every
    round reuses the layout), one distinct over the candidate ids, one
    anti-join against visited — ids only, never payloads. localCheckpoint
    per round keeps lineage O(1) per round (the connected_components /
    pagerank discipline). Rounds are bounded by max_hops; the per-round count()
    early-exit is one metadata-scale action on an already-computed frame.

    Output: (node, hop) — BIGINT node id, BIGINT min-hop ≤ max_hops.
    Unreachable nodes are absent (matching the oracle's semantics).
    """
    visited = seeds.select(
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("long").alias("hop"),
    ).distinct().localCheckpoint(eager=True)
    frontier = visited.select("node")
    e = edges.select(
        F.col("src").cast("long").alias("_s"), F.col("dst").cast("long").alias("_d")
    )
    for r in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"], "inner")
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(r).cast("long").alias("hop"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def personalized_pagerank_int(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int,
) -> DataFrame:
    """Integer-scaled PERSONALIZED PageRank: the teleport mass returns to
    the seed set instead of spreading uniformly — the topic-/trust-
    conditioned centrality behind "rank pages by proximity to these
    vetted hubs" (TrustRank's propagation core, with an arbitrary seed
    frame instead of a trust oracle):

        rank⁰(v)   = SCALE if v ∈ seeds else 0
        rankᵏ⁺¹(v) = [v ∈ seeds]·(100−d)·SCALE div 100
                     + d · Σ_{u→v} (rankᵏ(u) div out(u)) div 100

    All int64 div/mul/sum — order-independent and engine-portable, so
    the DuckDB oracle (one CTE per iteration) is exact. Same dangling
    and overflow conventions as pagerank_int (total mass here is
    n_seeds·SCALE, so the headroom is even larger).

    Runs pagerank_int's kernel with the teleport flag set on the seeds
    only. Nodes unreachable from the seeds hold rank 0 but stay in the
    output (the node set is the graph's, not the frontier's).

    Output: (node, rank_e9:long).
    """
    e = edges.select(F.col("src"), F.col("dst"))
    teleport = _seed_flags(
        _nodes(e), seeds.select(F.col("node").cast("long").alias("node"))
    )
    return _propagate_int(e, teleport, n_iter, "rank_e9")


def ktruss(edges: DataFrame, k: int) -> DataFrame:
    """k-truss decomposition membership: iteratively delete every edge
    whose triangle SUPPORT (number of triangles containing it) in the
    remaining simple undirected graph is < k-2, until a fixpoint — the
    edge-analog of `kcore` and a strictly stronger cohesion filter (the
    k-truss is contained in the (k-1)-core): an edge survives only when
    its endpoints share >= k-2 common neighbors that themselves survive.
    The web-graph reading: mutual-link cliques (real communities) stay,
    star-shaped link farms — which pass a degree filter — peel away.

    Deterministic: each round removes ALL under-supported edges
    simultaneously, so the result is the unique maximal subgraph where
    every edge closes >= k-2 triangles (Cohen 2008) — order-free, which
    is what makes the unrolled-CTE oracle exact.

    Shape at 10^12 edges: per round, triangles are enumerated ONCE in
    the canonical a<b<c orientation (edge ⋈ edge on the shared middle
    node + ONE closing-edge semi-check — the triangle_stats plan: ids
    only, the heavy wedge side is the join's build input under AQE),
    each triangle charges its 3 edges via ONE explode + combinable
    groupBy, and the filter is an inner join back on the edge key.
    localCheckpoint per round; exits when a round deletes nothing.
    Round count is bounded by the peel depth (small for web graphs);
    a 30-round cap guards the adversarial case.

    Output: (a, b, support) for surviving edges, a < b, support >= k-2
    counted within the k-truss subgraph.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = e.count()
    out = None
    for _ in range(30):
        e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = e1.join(e2, "y").join(e3, ["x", "z"])
        charged = tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                    F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                    F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
                )
            ).alias("_e")
        ).select("_e.a", "_e.b")
        sup = charged.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
        # left join + coalesce(0): edges in zero triangles must still be
        # PRESENT with support 0 — an inner join silently peeled them, so
        # k<=2 (where every edge survives k-2<=0) returned the 3-truss
        # instead of the whole graph (ADVICE r3)
        nxt = (
            e.join(sup, ["a", "b"], "left")
            .withColumn(
                "support", F.coalesce("support", F.lit(0).cast("long"))
            )
            .filter(F.col("support") >= k - 2)
            .localCheckpoint(eager=True)
        )
        n_cur = nxt.count()
        out = nxt
        e = nxt.select("a", "b")
        if n_cur == n_prev:
            break
        n_prev = n_cur
    if out is None:  # max_iters == 0 degenerate guard
        return e.withColumn("support", F.lit(0).cast("long")).limit(0)
    return out.select("a", "b", "support")


def boruvka_mst(edges: DataFrame) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka — the O(log n)-
    round MST algorithm that parallelizes (Kruskal's union-find is
    inherently sequential): every round, EVERY component picks its
    cheapest outgoing edge simultaneously, picked edges merge components
    by pointer-jumping, and the component count at least halves. The
    downstream payoff is single-linkage clustering: cut MST edges above
    a threshold and the surviving forest's components ARE the
    single-linkage clusters (compose with `connected_components`) —
    the dendrogram backbone for spatial hotspot delineation over
    geo-binned documents.

    Determinism without an edge-id column: edges order by the total key
    (w, a, b) — unique per edge — so ties in w break identically on any
    partitioning/engine and the forest is THE unique minimum forest
    under that order (equivalent to perturbing weights lexicographically).

    Round shape at 10^10 edges: two broadcast-ish hash joins stamp
    current component labels onto endpoints (the label table is
    node-sized); min-edge election is ONE map-side-combinable
    struct-min groupBy per direction; merging is the classic
    pseudo-forest contraction — each component points at the component
    it picked, 2-cycles break toward the smaller id (roots), then
    pointer-jumping doubles to the root in O(log) tiny self-joins on
    the COMPONENT table (component-sized, halving every round — never
    edge-sized work). localCheckpoint pins each round.

    Output: forest edges (a, b, w) — n_nodes − n_components rows.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("w").cast("long").alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    comp = (
        _nodes(e, "a", "b")
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    mst = None
    for _ in range(MAX_ROUNDS):
        ca = comp.select(F.col("node").alias("a"), F.col("comp").alias("_ca"))
        cb = comp.select(F.col("node").alias("b"), F.col("comp").alias("_cb"))
        live = (
            e.join(ca, "a").join(cb, "b").filter(F.col("_ca") != F.col("_cb"))
        )
        if live.limit(1).count() == 0:
            break
        pick = F.struct("w", "a", "b")
        chosen = (
            live.select(F.col("_ca").alias("c"), pick.alias("p"),
                        F.col("_cb").alias("oc"))
            .unionByName(
                live.select(F.col("_cb").alias("c"), pick.alias("p"),
                            F.col("_ca").alias("oc"))
            )
            .groupBy("c")
            .agg(F.min(F.struct(F.col("p"), F.col("oc"))).alias("_m"))
            .select(
                "c",
                F.col("_m.p.a").alias("a"),
                F.col("_m.p.b").alias("b"),
                F.col("_m.p.w").alias("w"),
                F.col("_m.oc").alias("oc"),
            )
            .localCheckpoint(eager=True)
        )
        new_edges = chosen.select("a", "b", "w").distinct()
        mst = new_edges if mst is None else mst.unionByName(new_edges)
        mst = mst.localCheckpoint(eager=True)
        # pseudo-forest contraction: c -> oc; a 2-cycle (mutual pick —
        # the only cycle shape under the unique (w,a,b) order) roots at
        # the smaller id. tgt is keyed on par's UNIQUE c, so the join
        # stays one row per component: _ocp = pointer of c's target.
        par = chosen.select("c", "oc")
        tgt = par.select(F.col("c").alias("oc"), F.col("oc").alias("_ocp"))
        par = (
            par.join(tgt, "oc", "left")
            .select(
                "c",
                F.when(
                    (F.col("_ocp") == F.col("c")) & (F.col("c") < F.col("oc")),
                    F.col("c"),
                )
                .otherwise(F.col("oc"))
                .alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer jumping to roots
        for _ in range(MAX_ROUNDS):
            g = par.select(F.col("c").alias("_pc"), F.col("p").alias("_pp"))
            nxt = (
                par.join(g, par["p"] == g["_pc"], "left")
                .select("c", F.coalesce("_pp", "p").alias("p"))
                .localCheckpoint(eager=True)
            )
            moved = (
                nxt.join(par.withColumnRenamed("p", "_old"), "c")
                .filter(F.col("p") != F.col("_old"))
                .limit(1)
                .count()
            )
            par = nxt
            if moved == 0:
                break
        comp = (
            comp.join(par.withColumnRenamed("c", "comp"), "comp", "left")
            .select("node", F.coalesce("p", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    if mst is None:
        return e.limit(0)
    return mst.select("a", "b", "w")


def hyperanf(
    edges: DataFrame,
    rounds: int = 3,
    p: int = 4,
    sample_mod: int = 1,
) -> DataFrame:
    """HyperANF (Boldi–Vigna 2011): the neighborhood function N(u, r) —
    how many nodes are within r hops of u — for EVERY node at once, via
    one HLL counter per node merged along edges each round. The exact
    ball computation is O(n²) at web scale; HyperANF is how effective
    diameter / average distance are actually measured on web graphs
    (each round is one edge-sized join + a register max-merge, and the
    counters are 2^p registers per node — metadata next to the graph).

    Fully deterministic here: the HLL is the portable md5-register
    sketch (sketch.hll_build — no RNG), and register max-merge is
    associative/commutative/idempotent, so duplicate edges, self-loops,
    any partitioning, and any engine produce the SAME registers —
    which is what makes an unrolled SQL oracle exact. Balls follow
    OUT-edges (u→v merges v's ball into u's).

    Per round the gate surface is integer-exact per node: (n_regs,
    n_zero, z_scaled) with est_raw the one-division fixed tree; `est`'s
    linear-counting branch uses ln → advisory (the hll_estimate
    contract).

    Output: (round, node, n_regs, n_zero, z_scaled, est_raw, est) for
    nodes with node % sample_mod == 0, rounds 0..rounds.
    """
    from pbf2json_spark.sketch import hll_build, hll_estimate

    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
    nodes = _nodes(e, "_s", "_d")
    cur = hll_build(
        nodes.withColumn("_k", F.col("node")), "_k", ["node"], p=p
    ).localCheckpoint(eager=True)

    def snapshot(c: DataFrame, r: int) -> DataFrame:
        est = hll_estimate(c, p, ["node"])
        if sample_mod > 1:
            est = est.filter(F.col("node") % sample_mod == 0)
        return est.select(
            F.lit(r).cast("long").alias("round"), "node",
            "n_regs", "n_zero", "z_scaled", "est_raw", "est",
        )

    out = snapshot(cur, 0)
    for r in range(1, rounds + 1):
        pulled = e.join(cur, cur["node"] == e["_d"]).select(
            F.col("_s").alias("node"), "reg_idx", "r"
        )
        cur = (
            cur.unionByName(pulled)
            .groupBy("node", "reg_idx")
            .agg(F.max("r").alias("r"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(snapshot(cur, r))
    return out


def dyad_census(edges: DataFrame) -> DataFrame:
    """Holland–Leinhardt dyad census of a directed graph: every node
    pair is Mutual (both directions), Asymmetric (one), or Null — the
    base rates behind reciprocity ("do pages link back?"), the first
    structural statistic of any directed web/social graph and the null
    model that triad-level statistics are read against.

    One combinable groupBy on the unordered pair key counts directions
    (post-distinct: 1 or 2 — self-loops dropped); nulls come from
    C(n,2) arithmetic, never enumeration. reciprocity_e6 = 2M·10⁶ div
    (2M + A), exact floor (= reciprocated fraction of directed edges).

    Output: one row (n_nodes, mutual, asym, nulls, n_edges,
    reciprocity_e6).
    """
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    pair = e.groupBy(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    ).agg(F.count(F.lit(1)).alias("_dirs"))
    nodes = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .distinct()
        .count()
    )
    agg = pair.agg(
        F.sum((F.col("_dirs") == 2).cast("long")).alias("mutual"),
        F.sum((F.col("_dirs") == 1).cast("long")).alias("asym"),
        F.count(F.lit(1)).alias("_pairs"),
    )
    n = F.lit(nodes).cast("long")
    return agg.select(
        n.alias("n_nodes"),
        F.coalesce("mutual", F.lit(0)).alias("mutual"),
        F.coalesce("asym", F.lit(0)).alias("asym"),
        # nodes is a driver-side Python int: big-int // keeps the count
        # exact past 2^53 (~1e8 nodes), where Spark float `/` would not
        (F.lit(nodes * (nodes - 1) // 2).cast("long") - F.col("_pairs"))
        .alias("nulls"),
        (2 * F.coalesce(F.col("mutual"), F.lit(0))
         + F.coalesce(F.col("asym"), F.lit(0))).alias("n_edges"),
        F.when(
            (2 * F.col("mutual") + F.col("asym")) > 0,
            F.expr("(2 * mutual * 1000000) div (2 * mutual + asym)"),
        ).otherwise(F.lit(0)).cast("long").alias("reciprocity_e6"),
    )


def scan_clusters(edges: DataFrame, eps_e3: int = 600, mu: int = 3) -> DataFrame:
    """SCAN structural graph clustering (Xu et al. 2007): communities
    from STRUCTURAL similarity σ(u,v) = |N[u] ∩ N[v]| / √(|N[u]|·|N[v]|)
    over closed neighborhoods — unlike modularity methods it also
    labels HUBS (bridge nodes touching several communities) and
    OUTLIERS explicitly, which is exactly the link-farm / bridge-page
    taxonomy a web graph wants.

    Integer discipline: the ε-test σ ≥ ε is evaluated as
    |∩|²·10⁶ ≥ ε_e3²·|N[u]|·|N[v]| — all BIGINT, no sqrt anywhere.
    |N[u] ∩ N[v]| on an existing edge = common open neighbors + 2, and
    common neighbors come from the canonical triangle enumeration (the
    ktruss plan: ids only, one wedge join + closing check, each
    triangle charges its 3 edges).

    Roles: a CORE has ≥ mu−1 similar edges (its ε-neighborhood counts
    itself); clusters = connected components (pointer doubling) of
    similar edges BETWEEN CORES; a non-core adjacent to a core through
    a similar edge is a BORDER of that core's cluster (ties → min
    cluster id — deterministic); remaining nodes are NOISE (the
    hub/outlier distinction needs two adjacent clusters — left to the
    caller via the similar-edge frame, kept simple here).

    Output: (node, role ∈ {core, border, noise}, cluster_id nullable —
    min member node id of the core component, NULL for noise).
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    # triangle supports (common open neighbors per edge)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    sup = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                    F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                    F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_cn"))
    )
    scored = (
        e.join(sup, ["a", "b"], "left")
        .withColumn("_cn", F.coalesce("_cn", F.lit(0)))
        .join(deg.select(F.col("n").alias("a"), F.col("_deg").alias("_da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("_deg").alias("_db")), "b")
    )
    inter = (F.col("_cn") + 2).cast("decimal(38,0)")
    na = (F.col("_da") + 1).cast("decimal(38,0)")
    nb = (F.col("_db") + 1).cast("decimal(38,0)")
    # DECIMAL(38,0) accumulation (the linear_trend discipline): in int64,
    # inter²·1e6 overflows once an edge has ~3e6 shared neighbors (and
    # eps²·na·nb at degrees ~5e6) — plausible on the web-scale graphs
    # this targets; decimal keeps the ε² cross-multiplication exact to
    # 10^38 (degrees ~10^16)
    similar = scored.filter(
        inter * inter * F.lit(1_000_000).cast("decimal(38,0)")
        >= F.lit(eps_e3 * eps_e3).cast("decimal(38,0)") * na * nb
    ).select("a", "b").localCheckpoint(eager=True)

    sim_deg = (
        similar.select(F.col("a").alias("n"))
        .unionByName(similar.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("_sd"))
    )
    cores = sim_deg.filter(F.col("_sd") >= mu - 1).select("n")
    core_edges = (
        similar.join(cores.select(F.col("n").alias("a")), "a", "left_semi")
        .join(cores.select(F.col("n").alias("b")), "b", "left_semi")
    )
    cc = connected_components(core_edges)  # (id, rep)
    core_lab = cores.join(
        cc.withColumnRenamed("id", "n"), "n", "left"
    ).select("n", F.coalesce("rep", F.col("n")).alias("cluster_id"))

    # borders: non-core endpoint of a similar edge whose other end is core
    half = similar.unionByName(
        similar.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    border = (
        half.join(core_lab.select(F.col("n").alias("b"), "cluster_id"), "b")
        .join(cores.select(F.col("n").alias("a")), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select(F.col("a").alias("n"), "cluster_id")
    )
    nodes = deg.select("n")
    out = (
        nodes.join(core_lab.withColumnRenamed("cluster_id", "_cc"), "n", "left")
        .join(border.withColumnRenamed("cluster_id", "_bc"), "n", "left")
        .select(
            F.col("n").alias("node"),
            F.when(F.col("_cc").isNotNull(), F.lit("core"))
            .when(F.col("_bc").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("_cc", "_bc").alias("cluster_id"),
        )
    )
    return out


def bowtie(edges: DataFrame) -> DataFrame:
    """Broder bow-tie decomposition of a directed graph (the classic
    "Graph structure in the Web"): a strongly-connected CORE, the IN
    set that reaches it, the OUT set it reaches, and the weakly-
    connected remainder (tendrils/tubes) vs fully DISCONNECTED pieces —
    the first macro-structural question asked of any crawl graph, and
    the frontier-health readout of a crawler (a bloated IN means seeds
    never reach the core).

    Deterministic pivot: the node with maximum total degree, ties to
    the smallest id — a pure function of the input. The CORE is the SCC
    containing that pivot, computed as FW(pivot) ∩ BW(pivot) — two
    frontier-BFS fixpoints (each round ONE semi-join-shaped expansion +
    anti-join against the visited set, frontier-sized work, the
    distance_transform discipline); weak connectivity for the remainder
    comes from `connected_components` (pointer doubling). The pivot
    almost always lands in the giant SCC on web graphs (max degree);
    callers needing THE largest SCC regardless of degree should iterate
    pivots over unassigned nodes — the macro structure rarely changes.

    Output: (node, role ∈ {core, in, out, tendril, disconnected}).
    """
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d")).filter(
        F.col("s") != F.col("d")
    ).distinct().localCheckpoint(eager=True)
    deg = (
        e.select(F.col("s").alias("n"))
        .unionByName(e.select(F.col("d").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    pivot_row = deg.orderBy(F.desc("_deg"), F.col("n")).limit(1).collect()
    if not pivot_row:
        return e.select(F.col("s").alias("node")).limit(0).withColumn(
            "role", F.lit("disconnected")
        )
    pivot = pivot_row[0]["n"]

    def reach(adj: DataFrame) -> DataFrame:
        """BFS fixpoint from the pivot over (frm, to) adjacency."""
        # seed derived FROM the degree frame so the id dtype is inherited
        # — a hardcoded "n long" schema broke string node ids (URLs/
        # hosts), unlike the rest of the id-type-agnostic graph API
        visited = (
            deg.filter(F.col("n") == F.lit(pivot)).select("n")
            .localCheckpoint(eager=True)
        )
        frontier = visited
        for _ in range(MAX_ROUNDS):
            nxt = (
                adj.join(frontier.withColumnRenamed("n", "frm"), "frm")
                .select(F.col("to").alias("n"))
                .distinct()
                .join(visited, "n", "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.limit(1).count() == 0:
                break
            visited = visited.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
        return visited

    fw = reach(e.select(F.col("s").alias("frm"), F.col("d").alias("to")))
    bw = reach(e.select(F.col("d").alias("frm"), F.col("s").alias("to")))
    core = fw.join(bw, "n")
    cc = connected_components(e.select(F.col("s").alias("a"),
                                       F.col("d").alias("b")))
    core_rep = (
        cc.join(core.withColumnRenamed("n", "id"), "id")
        .select("rep")
        .distinct()
    )
    nodes = deg.select("n")
    out = (
        nodes.join(core.withColumn("_core", F.lit(1)), "n", "left")
        .join(fw.withColumn("_fw", F.lit(1)), "n", "left")
        .join(bw.withColumn("_bw", F.lit(1)), "n", "left")
        .join(
            cc.withColumnRenamed("id", "n").join(
                core_rep.withColumn("_wk", F.lit(1)), "rep", "left"
            ).select("n", "_wk"),
            "n",
            "left",
        )
        .select(
            F.col("n").alias("node"),
            F.when(F.col("_core").isNotNull(), F.lit("core"))
            .when(F.col("_bw").isNotNull(), F.lit("in"))
            .when(F.col("_fw").isNotNull(), F.lit("out"))
            .when(F.col("_wk").isNotNull(), F.lit("tendril"))
            .otherwise(F.lit("disconnected"))
            .alias("role"),
        )
    )
    return out


# --- triad census -----------------------------------------------------------------

# igraph's documented exemplars for the 16 MAN triad types (public,
# unambiguous): each is an edge set over nodes (0, 1, 2) = (A, B, C).
_TRIAD_EXEMPLARS = {
    "003": [],
    "012": [(0, 1)],
    "102": [(0, 1), (1, 0)],
    "021D": [(1, 0), (1, 2)],            # A<-B->C
    "021U": [(0, 1), (2, 1)],            # A->B<-C
    "021C": [(0, 1), (1, 2)],            # A->B->C
    "111D": [(0, 1), (1, 0), (2, 1)],    # A<->B<-C
    "111U": [(0, 1), (1, 0), (1, 2)],    # A<->B->C
    "030T": [(0, 1), (2, 1), (0, 2)],    # A->B<-C, A->C
    "030C": [(1, 0), (2, 1), (0, 2)],    # A<-B<-C, A->C
    "201": [(0, 1), (1, 0), (1, 2), (2, 1)],
    "120D": [(1, 0), (1, 2), (0, 2), (2, 0)],
    "120U": [(0, 1), (2, 1), (0, 2), (2, 0)],
    "120C": [(0, 1), (1, 2), (0, 2), (2, 0)],
    "210": [(0, 1), (1, 2), (2, 1), (0, 2), (2, 0)],
    "300": [(0, 1), (1, 0), (0, 2), (2, 0), (1, 2), (2, 1)],
}


def _triad_code(states: tuple[int, int, int]) -> int:
    """Pack the 3 dyad states (ab, ac, bc), each 0..3, into one int."""
    return states[0] * 16 + states[1] * 4 + states[2]


def triad_type_map() -> dict[int, str]:
    """code → MAN type name for all 64 dyad-state combinations, built by
    canonicalizing each combination over the 6 node permutations and
    matching the canonicalized igraph exemplars — convention-correct by
    construction, not by hand-enumerated cases."""
    import itertools

    def canon(edges):
        best = None
        for p in itertools.permutations(range(3)):
            m = tuple(sorted((p[a], p[b]) for a, b in edges))
            if best is None or m < best:
                best = m
        return best

    by_canon = {canon(es): name for name, es in _TRIAD_EXEMPLARS.items()}
    out = {}
    for ab in range(4):
        for ac in range(4):
            for bc in range(4):
                edges = []
                if ab & 1:
                    edges.append((0, 1))
                if ab & 2:
                    edges.append((1, 0))
                if ac & 1:
                    edges.append((0, 2))
                if ac & 2:
                    edges.append((2, 0))
                if bc & 1:
                    edges.append((1, 2))
                if bc & 2:
                    edges.append((2, 1))
                out[_triad_code((ab, ac, bc))] = by_canon[canon(edges)]
    return out


def triad_census(edges: DataFrame) -> DataFrame:
    """Full 16-type directed triad census (Holland-Leinhardt MAN
    classification, igraph's exemplar conventions) — the structural
    signature of a directed web/social graph: hierarchy shows as 030T
    dominance, reciprocity-driven cohesion as 201/300 mass, and the
    census is the standard input to triad-significance profiles.

    Scale shape (Batagelj-Mrvar): only CONNECTED triples are ever
    touched — they are enumerated from undirected wedges (center ×
    neighbor-pair via ONE self-join of the neighbor list), deduped on
    the sorted triple (a wedge triple appears once, a triangle three
    times → ONE distinct), and classified by packing the 3 dyad states
    into a 6-bit code mapped through a 64-entry literal CASE (built by
    permutation canonicalization, not hand enumeration). The
    DISCONNECTED types never materialize: per enumerated triple the
    mutual/asym dyad tallies are aggregated, and

        012 = A·(n−2) − Σ_connected asym_dyads_in_triple
        102 = M·(n−2) − Σ_connected mutual_dyads_in_triple
        003 = C(n,3) − |connected| − 012 − 102

    — pure integer arithmetic from the dyad census. Output: one row per
    triad type with its exact count (16 rows, zeros included).
    """
    spark = edges.sparkSession
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d")).filter(
        F.col("s") != F.col("d")
    ).distinct().localCheckpoint(eager=True)
    # dyad state per unordered pair: bit1 = min->max, bit2 = max->min
    dy = (
        e.select(
            F.least("s", "d").alias("a"),
            F.greatest("s", "d").alias("b"),
            F.when(F.col("s") < F.col("d"), F.lit(1)).otherwise(F.lit(2)).alias("_bit"),
        )
        .groupBy("a", "b")
        .agg(F.sum(F.col("_bit")).cast("int").alias("st"))
        .localCheckpoint(eager=True)
    )
    n = (
        e.select(F.col("s").alias("x"))
        .unionByName(e.select(F.col("d").alias("x")))
        .distinct()
        .count()
    )
    und = dy.select("a", "b")
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # wedges centered at c: neighbors u < w
    nb = sym.select(F.col("a").alias("c"), F.col("b").alias("nbr"))
    wedge = (
        nb.alias("l")
        .join(nb.alias("r"), "c")
        .filter(F.col("l.nbr") < F.col("r.nbr"))
        .select(
            F.col("l.nbr").alias("u"), F.col("c"), F.col("r.nbr").alias("w")
        )
    )
    triples = wedge.select(
        F.least(F.least("u", "c"), "w").alias("a"),
        F.expr("u + c + w - least(u, least(c, w)) - greatest(u, greatest(c, w))")
        .alias("b"),
        F.greatest(F.greatest("u", "c"), "w").alias("cc"),
    ).distinct()
    # gather the 3 dyad states (0 when the pair has no edges)
    t = (
        triples.join(
            dy.select(F.col("a"), F.col("b"), F.col("st").alias("_ab")),
            ["a", "b"], "left",
        )
        .join(
            dy.select(F.col("a"), F.col("b").alias("cc"), F.col("st").alias("_ac")),
            ["a", "cc"], "left",
        )
        .join(
            dy.select(F.col("a").alias("b"), F.col("b").alias("cc"),
                      F.col("st").alias("_bc")),
            ["b", "cc"], "left",
        )
        .select(
            (F.coalesce("_ab", F.lit(0)) * 16
             + F.coalesce("_ac", F.lit(0)) * 4
             + F.coalesce("_bc", F.lit(0))).alias("code"),
            *[
                (F.coalesce(c, F.lit(0)) == 3).cast("long").alias(f"_m{i}")
                for i, c in enumerate(["_ab", "_ac", "_bc"])
            ],
            *[
                F.coalesce(c, F.lit(0)).isin(1, 2).cast("long").alias(f"_a{i}")
                for i, c in enumerate(["_ab", "_ac", "_bc"])
            ],
        )
    )
    tmap = triad_type_map()
    type_expr = F.lit("003")
    # build a literal CASE over the 64 codes (connected codes only matter)
    mapping = None
    for code, name in sorted(tmap.items()):
        cond = F.col("code") == code
        mapping = F.when(cond, F.lit(name)) if mapping is None else mapping.when(cond, F.lit(name))
    counted = (
        t.withColumn("_type", mapping)
        .groupBy("_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("_m0") + F.col("_m1") + F.col("_m2")).alias("_muts"),
            F.sum(F.col("_a0") + F.col("_a1") + F.col("_a2")).alias("_asyms"),
        )
        .localCheckpoint(eager=True)
    )
    sums = counted.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_conn"),
        F.coalesce(F.sum("_muts"), F.lit(0)).alias("sm"),
        F.coalesce(F.sum("_asyms"), F.lit(0)).alias("sa"),
    ).collect()[0]
    dyr = dy.agg(
        F.coalesce(F.sum((F.col("st") == 3).cast("long")), F.lit(0)).alias("m"),
        F.coalesce(F.sum(F.col("st").isin(1, 2).cast("long")), F.lit(0)).alias("a"),
    ).collect()[0]
    c3 = n * (n - 1) * (n - 2) // 6
    n_012 = dyr["a"] * (n - 2) - sums["sa"]
    n_102 = dyr["m"] * (n - 2) - sums["sm"]
    n_003 = c3 - sums["n_conn"] - n_012 - n_102
    base = spark.createDataFrame(
        [(name,) for name in _TRIAD_EXEMPLARS], "triad string"
    )
    out = base.join(
        counted.select(F.col("_type").alias("triad"), "cnt"), "triad", "left"
    ).select(
        "triad",
        F.coalesce("cnt", F.lit(0)).cast("long").alias("count"),
    )
    fixes = {"003": n_003, "012": n_012, "102": n_102}
    fix_expr = F.col("count")
    for name, v in fixes.items():
        fix_expr = F.when(F.col("triad") == name, F.lit(int(v))).otherwise(fix_expr)
    return out.select("triad", fix_expr.cast("long").alias("count"))


def attribute_assortativity(edges: DataFrame, attrs: DataFrame) -> DataFrame:
    """Newman's attribute (categorical) assortativity — homophily of a
    directed edge set over a node attribute (language links to itself?
    TLDs interlink?): r = (Σe_ii − Σa_i·b_i) / (1 − Σa_i·b_i) over the
    normalized mixing matrix; r = 1 perfect homophily, 0 random, < 0
    disassortative. The attribute companion of the degree
    `assortativity` operator.

    EXACT RATIONAL surface: with integer edge counts E (total), e_ii
    (same-attr edges), and per-category out/in marginals oa_i, ib_i,

        r_num = E·Σe_ii − Σ_i oa_i·ib_i
        r_den = E·E − Σ_i oa_i·ib_i

    — both BIGINT (multiply the textbook's probabilities through by
    E²); r itself is ONE division. Degenerate (r_den = 0: every edge in
    one category on both margins) → NULL. Edges whose endpoint misses
    an attribute are dropped (inner joins — the conservative policy).

    Shape: two label joins (attrs is node-sized — broadcastable for
    dimension-like attributes), one combinable mixing-matrix groupBy,
    one marginal product join.

    Output: one row (n_edges, same_attr, r_num, r_den, r).
    """
    a = attrs.select(F.col("node").alias("_n"), F.col("attr").alias("_at"))
    e2 = (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .join(a.withColumnRenamed("_n", "s").withColumnRenamed("_at", "_as"), "s")
        .join(a.withColumnRenamed("_n", "d").withColumnRenamed("_at", "_ad"), "d")
    )
    mix = e2.groupBy("_as", "_ad").agg(F.count(F.lit(1)).alias("c"))
    oa = mix.groupBy("_as").agg(F.sum("c").alias("oa"))
    ib = mix.groupBy("_ad").agg(F.sum("c").alias("ib"))
    cross = oa.join(ib, oa["_as"] == ib["_ad"]).agg(
        F.coalesce(F.sum(F.col("oa") * F.col("ib")), F.lit(0)).alias("ab")
    )
    tot = mix.agg(
        F.sum("c").alias("E"),
        F.sum(F.when(F.col("_as") == F.col("_ad"), F.col("c")).otherwise(0))
        .alias("eii"),
    )
    j = tot.crossJoin(cross)
    r_num = F.col("E") * F.col("eii") - F.col("ab")
    r_den = F.col("E") * F.col("E") - F.col("ab")
    return j.select(
        F.col("E").cast("long").alias("n_edges"),
        F.col("eii").cast("long").alias("same_attr"),
        r_num.cast("long").alias("r_num"),
        r_den.cast("long").alias("r_den"),
        F.when(r_den != 0, r_num.cast("double") / r_den.cast("double"))
        .alias("r"),
    )
