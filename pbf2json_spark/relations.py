"""Relation→member resolution (J2) — the reference's recursive join as a
level-stratified iterative DataFrame plan.

Reference: formatRelation (pbf2json.go:855-977) resolves each member in
order: node → coordinate lookup, way → formatted-way lookup, relation →
recursion with memo + cycle guard. Missing node/way member drops the WHOLE
relation (908-909, 931-932); missing/failed sub-relation merely skips that
member (938-940) — the asymmetry is preserved here.

Spark shape: the relation→relation topology is metadata-scale (a tiny
fraction of rows even at 100 TB), so it is collected to the driver, SCCs are
condensed and a topological level is assigned to every relation. Resolution
then runs one distributed join round per level: level-k relations join their
node/way members against the (big, distributed) node and formatted-way
tables and their relation members against the union of earlier levels'
results. The heavy data never leaves the executors; the driver only ever
sees (id, sub_id) pairs.

Documented divergence (SURVEY.md §7): the reference's cycle guard is
order-dependent (Go map iteration decides which cycle edge gets skipped).
We skip ALL intra-SCC edges symmetrically, which is deterministic.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pbf2json_spark.denorm import _address_match, centroid_udf


def _strata(rel_ids: set[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    """Topological level per relation id that HAS relation members.

    Edges to ids outside rel_ids resolve to 'skip' and carry no ordering
    constraint; intra-SCC edges are dropped (symmetric cycle skip).
    Returns {} level map; ids absent from the map are level 0.
    """
    out = defaultdict(list)
    for a, b in edges:
        if a in rel_ids and b in rel_ids:
            out[a].append(b)
    if not out:
        return {}

    # iterative Tarjan SCC
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    scc_of: dict[int, int] = {}
    counter = [0]
    scc_counter = [0]

    for root in list(out):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            advanced = False
            children = out.get(v, ())
            while pi < len(children):
                w = children[pi]
                pi += 1
                work[-1] = (v, pi)
                if w not in index:
                    work.append((w, 0))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            if low[v] == index[v]:
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    scc_of[w] = scc_counter[0]
                    if w == v:
                        break
                scc_counter[0] += 1
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])

    # longest-path level over the condensed DAG: iterative post-order DFS
    # (like the Tarjan pass, so chain depth is bounded by memory, not by
    # Python's recursion limit — resolve_relations' max_levels guard decides)
    down = {
        v: [w for w in ws if w in rel_ids and scc_of.get(w) != scc_of.get(v)]
        for v, ws in out.items()
    }
    level: dict[int, int] = {}
    for root in out:
        if root in level:
            continue
        level[root] = 0  # placeholder guards residual cycles defensively
        work = [(root, iter(down[root]))]
        while work:
            v, children = work[-1]
            w = next((w for w in children if w not in level), None)
            if w is not None:
                level[w] = 0
                work.append((w, iter(down.get(w, ()))))
                continue
            work.pop()
            level[v] = max((level[w] + 1 for w in down.get(v, ())), default=0)
    return level


def _entrance_etype(tags: Column) -> Column:
    e = F.element_at(tags, F.lit("entrance"))
    return (
        F.when(e == "main", F.lit("mainEntrance"))
        .when(e.isin("yes", "staircase", "home"), F.lit("entrance"))
        .otherwise(F.lit(None).cast("string"))
    )


def resolve_relations(
    relations: DataFrame,
    fmt_ways: DataFrame,
    nodes: DataFrame,
) -> DataFrame:
    """Resolve ALL relations. Inputs: prepared (trimmed) relations, the
    output of denorm.format_ways, prepared nodes. Output rows mirror
    jsonWayRel: id, type='relation', tags (with _centroidType), centroid,
    bbox_min, bbox_max."""
    spark = relations.sparkSession

    rel_edges_df = relations.select(
        "id",
        F.explode(
            F.filter("members", lambda m: m["mtype"] == F.lit("relation"))
        ).alias("m"),
    ).select("id", F.col("m.ref").alias("sub"))
    # ONE collect, bounded by the relation→relation edge count, never the
    # relation table: each distinct edge carries a flag saying whether its
    # endpoint exists as a relation (a sub ref to a missing relation
    # resolves to 'skip' and carries no constraint). Both sides are
    # de-duplicated, so repeated relation ids cannot repeat an edge.
    # Source ids are relation ids by construction. The earlier full
    # relations.select("id").collect() was a needless driver-OOM risk at
    # planet scale (~12M relations); membership only matters for endpoints.
    sub_is_rel = relations.select(
        F.col("id").alias("sub"), F.lit(True).alias("sub_is_rel")
    ).distinct()
    rows = rel_edges_df.distinct().join(sub_is_rel, "sub", "left").collect()
    edges = [(r["id"], r["sub"]) for r in rows]
    rel_ids = {a for a, _ in edges} | {r["sub"] for r in rows if r["sub_is_rel"]}
    levels = _strata(rel_ids, edges)
    n_levels = (max(levels.values()) + 1) if levels else 1
    if n_levels > 64:
        raise ValueError(f"relation nesting depth {n_levels} exceeds 64")

    if levels:
        levels_df = F.broadcast(
            spark.createDataFrame(list(levels.items()), "id long, _level int")
        )
        rels = relations.join(levels_df, "id", "left").withColumn(
            "_level", F.coalesce("_level", F.lit(0))
        )
    else:
        rels = relations.withColumn("_level", F.lit(0))

    node_side = nodes.select(
        F.col("id").alias("ref"),
        F.col("lat").alias("_nlat"),
        F.col("lon").alias("_nlon"),
        _entrance_etype(F.col("tags")).alias("_netype"),
        F.element_at("tags", F.lit("addr:street")).alias("_nstreet"),
        F.element_at("tags", F.lit("addr:housenumber")).alias("_nhnum"),
    )
    way_side = fmt_ways.select(
        F.col("id").alias("ref"),
        F.col("centroid").alias("_wc"),
        F.col("bbox_min").alias("_wbmin"),
        F.col("bbox_max").alias("_wbmax"),
        F.element_at("tags", F.lit("_centroidType")).alias("_wctype"),
        F.element_at("tags", F.lit("addr:street")).alias("_wstreet"),
        F.element_at("tags", F.lit("addr:housenumber")).alias("_whnum"),
    )

    resolved: DataFrame | None = None
    for k in range(n_levels):
        rels_k = rels.filter(F.col("_level") == k)
        out_k = _resolve_level(rels_k, node_side, way_side, resolved)
        if n_levels > 1:
            # each level is referenced twice (final union + next level's
            # member join): a LAZY localCheckpoint materializes the level on
            # first use, cuts the lineage (the plan otherwise grows
            # multiplicatively with depth), and — unlike persist(), whose
            # CacheManager entry lives until an explicit unpersist — is
            # freed by the ContextCleaner when the returned frame is
            # released, so repeated Engine.query calls in a long-lived
            # session don't leak executor storage.
            out_k = out_k.localCheckpoint(eager=False)
        resolved = out_k if resolved is None else resolved.unionByName(out_k)
    return resolved


def _resolve_level(
    rels: DataFrame,
    node_side: DataFrame,
    way_side: DataFrame,
    resolved_prev: DataFrame | None,
) -> DataFrame:
    m = rels.select(
        F.col("id").alias("rel_id"),
        "tags",
        F.posexplode("members").alias("pos", "mem"),
    ).select(
        "rel_id",
        "tags",
        "pos",
        F.col("mem.mtype").alias("mtype"),
        F.col("mem.ref").alias("ref"),
    )

    contrib_cols = [
        "rel_id", "pos", "fatal", "skip", "clat", "clon",
        "bmin_lat", "bmin_lon", "bmax_lat", "bmax_lon",
        "etype", "m_street", "m_hnum",
    ]

    nm = (
        m.filter(F.col("mtype") == "node")
        .join(node_side, "ref", "left")
        .select(
            "rel_id",
            "pos",
            F.col("_nlat").isNull().alias("fatal"),
            F.lit(False).alias("skip"),
            F.col("_nlat").alias("clat"),
            F.col("_nlon").alias("clon"),
            F.col("_nlat").alias("bmin_lat"),
            F.col("_nlon").alias("bmin_lon"),
            F.col("_nlat").alias("bmax_lat"),
            F.col("_nlon").alias("bmax_lon"),
            F.col("_netype").alias("etype"),
            F.col("_nstreet").alias("m_street"),
            F.col("_nhnum").alias("m_hnum"),
        )
    )
    wm = (
        m.filter(F.col("mtype") == "way")
        .join(way_side, "ref", "left")
        .select(
            "rel_id",
            "pos",
            F.col("_wc").isNull().alias("fatal"),
            F.lit(False).alias("skip"),
            F.col("_wc.lat").alias("clat"),
            F.col("_wc.lon").alias("clon"),
            F.col("_wbmin.lat").alias("bmin_lat"),
            F.col("_wbmin.lon").alias("bmin_lon"),
            F.col("_wbmax.lat").alias("bmax_lat"),
            F.col("_wbmax.lon").alias("bmax_lon"),
            F.when(F.col("_wctype") != "average", F.col("_wctype")).alias("etype"),
            F.col("_wstreet").alias("m_street"),
            F.col("_whnum").alias("m_hnum"),
        )
    )
    rm_src = m.filter(F.col("mtype") == "relation")
    if resolved_prev is not None:
        rel_side = resolved_prev.select(
            F.col("id").alias("ref"),
            F.col("centroid").alias("_rc"),
            F.col("bbox_min").alias("_rbmin"),
            F.col("bbox_max").alias("_rbmax"),
            F.element_at("tags", F.lit("_centroidType")).alias("_rctype"),
            F.element_at("tags", F.lit("addr:street")).alias("_rstreet"),
            F.element_at("tags", F.lit("addr:housenumber")).alias("_rhnum"),
        )
        rm = (
            rm_src.join(rel_side, "ref", "left")
            .select(
                "rel_id",
                "pos",
                F.lit(False).alias("fatal"),
                F.col("_rc").isNull().alias("skip"),  # failed/cyclic sub → skip
                F.col("_rc.lat").alias("clat"),
                F.col("_rc.lon").alias("clon"),
                F.col("_rbmin.lat").alias("bmin_lat"),
                F.col("_rbmin.lon").alias("bmin_lon"),
                F.col("_rbmax.lat").alias("bmax_lat"),
                F.col("_rbmax.lon").alias("bmax_lon"),
                F.when(F.col("_rctype") != "average", F.col("_rctype")).alias("etype"),
                F.col("_rstreet").alias("m_street"),
                F.col("_rhnum").alias("m_hnum"),
            )
        )
    else:
        rm = rm_src.select(
            "rel_id",
            "pos",
            F.lit(False).alias("fatal"),
            F.lit(True).alias("skip"),
            *[F.lit(None).cast("double").alias(c) for c in
              ("clat", "clon", "bmin_lat", "bmin_lon", "bmax_lat", "bmax_lon")],
            F.lit(None).cast("string").alias("etype"),
            F.lit(None).cast("string").alias("m_street"),
            F.lit(None).cast("string").alias("m_hnum"),
        )

    contribs = nm.select(contrib_cols).unionByName(wm.select(contrib_cols)).unionByName(
        rm.select(contrib_cols)
    )

    agg = contribs.groupBy("rel_id").agg(
        F.max(F.col("fatal").cast("int")).alias("_fatal"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    "pos", "skip", "clat", "clon", "etype", "m_street", "m_hnum"
                )
            )
        ).alias("ms"),
        F.min("bmin_lat").alias("_bmin_lat"),
        F.min("bmin_lon").alias("_bmin_lon"),
        F.max("bmax_lat").alias("_bmax_lat"),
        F.max("bmax_lon").alias("_bmax_lon"),
    )

    joined = rels.join(agg, rels["id"] == agg["rel_id"]).filter(F.col("_fatal") == 0)

    street = F.element_at("tags", F.lit("addr:street"))
    hnum = F.element_at("tags", F.lit("addr:housenumber"))
    has_address = street.isNotNull() & hnum.isNotNull()
    r_street = F.when(has_address, street).otherwise(F.lit(""))
    r_hnum = F.when(has_address, hnum).otherwise(F.lit(""))

    live = F.filter("ms", lambda p: ~p["skip"])
    cand = F.filter(
        live,
        lambda p: p["etype"].isNotNull()
        & _address_match(r_street, r_hnum, p["m_street"], p["m_hnum"]),
    )
    mains = F.filter(cand, lambda p: p["etype"] == F.lit("mainEntrance"))
    minors = F.filter(cand, lambda p: p["etype"] == F.lit("entrance"))
    # last accepted main wins; else FIRST minor (pbf2json.go:920,
    # `centroidType == "" || cType == "mainEntrance"`)
    pick = F.when(F.size(mains) > 0, F.element_at(mains, -1)).otherwise(
        F.when(F.size(minors) > 0, F.element_at(minors, 1))
    )

    joined = (
        joined.withColumn("_live", live)
        .withColumn("_pick", pick)
        .filter((F.col("_pick").isNotNull()) | (F.size("_live") > 0))
    )

    computed = centroid_udf(
        F.transform("_live", lambda p: p["clat"]),
        F.transform("_live", lambda p: p["clon"]),
    )
    centroid = F.when(
        F.col("_pick").isNotNull(),
        F.struct(
            F.col("_pick.clat").alias("lat"), F.col("_pick.clon").alias("lon")
        ),
    ).otherwise(computed)
    ctype = F.coalesce(F.col("_pick.etype"), F.lit("average"))

    return joined.select(
        "id",
        F.lit("relation").alias("type"),
        F.map_concat(
            "tags", F.create_map(F.lit("_centroidType"), ctype)
        ).alias("tags"),
        centroid.alias("centroid"),
        F.struct(
            F.col("_bmin_lat").alias("lat"), F.col("_bmin_lon").alias("lon")
        ).alias("bbox_min"),
        F.struct(
            F.col("_bmax_lat").alias("lat"), F.col("_bmax_lon").alias("lon")
        ).alias("bbox_max"),
    )
