"""Physical-plan audit: capture .explain('formatted') for the engine's key
operators and assert the plan properties the 100 TB design depends on:

  * parquet scans carry PushedFilters / pruned ReadSchema;
  * small dimension sides become BroadcastHashJoin (no shuffle);
  * JVM-only expression pipelines sit inside WholeStageCodegen spans;
  * Python crossings appear ONLY as ArrowEvalPython (vectorized), never
    BatchEvalPython (row-at-a-time).

Writes PLANS.md with each plan + a PASS/FAIL property table.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from pbf2json_spark import pages as pages_mod
from pbf2json_spark import spatial
from pbf2json_spark.session import JIT_HUGE_METHOD_BYTES, codegen_method_bytes, get_spark


def plan_text(df, execute: bool = True) -> str:
    # under AQE the codegen annotations only exist on the FINAL plan, which
    # materializes after executing THIS df (the QueryExecution is cached on
    # it) — run it (cheap at sf0.01) before explaining
    if execute:
        df.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def python_only_on_build_side(plan: str) -> bool:
    """True iff every ArrowEvalPython sits on a join BUILD side (no ':'
    tree-prefix before the node name — probe/streaming subtrees print with
    ':' continuation markers in formatted explain). Structural, so it's
    robust to AQE printing Initial+Final plan copies, unlike counting nodes
    against a separately-planned fragment."""
    lines = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    return bool(lines) and all(
        ":" not in ln.split("ArrowEvalPython")[0] for ln in lines
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    sections: list[tuple[str, str, list[tuple[str, bool, str]]]] = []
    # gate rows and extras alike — the audit spans the whole query table
    allq = {q.name: q.build for q in entry_mod.QUERY_TABLE}

    # 1. tag-DSL filter: predicate must reach the scan as a pushed/codegen'd
    # filter with pruned columns, no Python anywhere
    q = allq["dsl_or_values"](spark, sf_dir)
    p = plan_text(q)
    sections.append((
        "tag-DSL filter (dsl_or_values)", p,
        [
            ("column-pruned scan (no html/text cols)", "ReadSchema" in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 2. way denorm join: the refs⋈nodes join + one grouped aggregation;
    # partial aggregation (map-side combine) must be present
    d = allq["way_denorm_bbox"](spark, sf_dir)
    p = plan_text(d)
    sections.append((
        "way→node denorm (way_denorm_bbox)", p,
        [
            ("hash aggregate partial+final", p.count("HashAggregate") >= 2, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 3. PIP join: polygon side broadcast; default verify is the pure-Column
    # ray cast — the POINT path (the 10^12-row side) crosses into Python
    # zero times; the single ArrowEvalPython in the plan is the
    # metadata-scale polygon COVER pass on the broadcast build side
    # (one row per polygon, evaluated once, never per point)
    pts = entry_mod._points_customer(spark, sf_dir)
    polys = entry_mod._rects_nation(spark, sf_dir)
    hits = spatial.point_in_polygon_join(pts, polys)
    p = plan_text(hits)
    sections.append((
        "point-in-polygon join (column verify, default)", p,
        [
            ("polygon side broadcast", "BroadcastHashJoin" in p or "BroadcastNestedLoop" in p, ""),
            (
                "Python ONLY in the per-polygon cover pass (none per point)",
                python_only_on_build_side(p),
                "",
            ),
            ("no row-at-a-time Python", "BatchEvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 4. pages pipeline: geocode regex + cell bit math fully JVM; tile agg
    # with partial aggregation; every fused stage small enough for HotSpot
    # to JIT-compile
    pg = pages_mod.generate_pages(spark, 1000)
    g = pages_mod.geocode(pg).filter(F.col("lat").isNotNull())
    tiles = spatial.tile_aggregate(g, 12, [F.count(F.lit(1)).alias("n")])
    method_bytes = max(codegen_method_bytes(tiles))
    p = plan_text(tiles)
    sections.append((
        "pages geocode→cell→tile", p,
        [
            ("no Python eval in geocode/cell path", "EvalPython" not in p, ""),
            ("partial+final aggregate", p.count("HashAggregate") >= 2, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
            (f"largest generated method < {JIT_HUGE_METHOD_BYTES:,} bytes",
             method_bytes < JIT_HUGE_METHOD_BYTES, ""),
        ],
    ))

    # 4b. html→text extraction: pure string expressions over the binary
    # column — must stay entirely inside codegen, zero Python crossings
    ext = pages_mod.extract_text(pg).select("url", "text_extracted")
    p = plan_text(ext)
    sections.append((
        "html→text extraction (extract_text)", p,
        [
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 5. parquet filter pushdown: a typed-column predicate reaches the scan
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_quantity") > 40
    ).select("l_orderkey")
    p = plan_text(li)
    sections.append((
        "parquet predicate pushdown", p,
        [
            ("PushedFilters on scan", "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity," in p, ""),
            ("pruned ReadSchema (2 cols)", "l_extendedprice" not in p, ""),
        ],
    ))

    # 6. exact kNN: final rank is a single window over candidates
    sup = allq["knn_grid"](spark, sf_dir)
    p = plan_text(sup)
    sections.append((
        "kNN (knn_grid)", p,
        [
            ("window top-k", "Window" in p, ""),
            ("NO Python anywhere (codegen disk expansion)", "EvalPython" not in p, ""),
        ],
    ))

    # 7. bbox range join: the cover-cell equi-join must plan as a hash join
    # (broadcast or shuffled) — NEVER a nested-loop/cartesian theta join —
    # and the whole pipeline is JVM-only
    b = allq["bbox_intersect"](spark, sf_dir)
    p = plan_text(b)
    sections.append((
        "bbox range join (bbox_intersect)", p,
        [
            ("hash equi-join on cover cells", "HashJoin" in p, ""),
            ("no nested-loop / cartesian join",
             "NestedLoop" not in p and "CartesianProduct" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 8. crawl dedup: struct-max groupBy must keep map-side combine
    # (partial+final HashAggregate) and read only the columns it needs
    u = allq["url_latest_dedup"](spark, sf_dir)
    p = plan_text(u)
    sections.append((
        "crawl dedup (url_latest_dedup)", p,
        [
            # struct-max is not hash-bufferable, so Spark plans SortAggregate;
            # the scale property is the map-side combine (partial agg BELOW
            # the exchange) — the exchange carries ≤1 row per key per task
            ("partial+final aggregate (map-side combine)",
             p.count("SortAggregate") + p.count("HashAggregate") >= 2, ""),
            ("column-pruned scan (doc_id only)",
             "ReadSchema: struct<doc_id:bigint>" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 9. repetition features: both token groupBys (word + bigram) keep
    # partial aggregation; everything JVM
    r = allq["repetition"](spark, sf_dir)
    p = plan_text(r)
    sections.append((
        "repetition features (repetition)", p,
        [
            ("partial aggregation on both token groupBys",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 10. windowed event agg: tumbling-window groupBy keeps partial
    # aggregation; integer-cent sums stay in codegen
    w = allq["windowed_events"](spark, sf_dir)
    p = plan_text(w)
    sections.append((
        "windowed event agg (windowed_events)", p,
        [
            ("hash aggregate partial+final", p.count("HashAggregate") >= 2, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 11. as-of join: the merge shape — exactly ONE exchange for the
    # union'd sides (hashpartitioning on the key), a window, no join
    # node at all, no Python
    a = allq["asof_match"](spark, sf_dir)
    p = plan_text(a)
    sections.append((
        "as-of join (asof_match)", p,
        [
            ("window-based merge (no join node on the asof path)",
             "Window" in p and "NestedLoop" not in p and "CartesianProduct" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 12. sessionization: session_window aggregation with partial
    # aggregation, JVM-only
    s = allq["sessionize"](spark, sf_dir)
    p = plan_text(s)
    sections.append((
        "sessionization (sessionize)", p,
        [
            # the physical session-merge operator must be present — a plain
            # groupBy (losing the batch/streaming-shared session semantics)
            # would still aggregate but without MergingSessions
            ("session-window merge operator (MergingSessions)",
             "MergingSessions" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 13. corpus top-k: the global top-k must be TakeOrderedAndProject
    # (k rows per partition then a single merge), never a full global Sort
    t = allq["top_bigrams"](spark, sf_dir)
    p = plan_text(t)
    sections.append((
        "corpus top-k n-grams (top_bigrams)", p,
        [
            ("TakeOrderedAndProject (no global sort)",
             "TakeOrderedAndProject" in p, ""),
            ("partial aggregation on gram counts",
             p.count("HashAggregate") >= 2, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 14. stratified sample: a pure scan-level filter — no exchange, no
    # aggregate, no Python anywhere
    ss = allq["stratified_sample"](spark, sf_dir)
    p = plan_text(ss)
    sections.append((
        "stratified sample (stratified_sample)", p,
        [
            ("no shuffle (scan-level filter)", "Exchange" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 15. conjunctive search: a scan-stage filter — zero shuffles, codegen
    ts = allq["term_search"](spark, sf_dir)
    p = plan_text(ts)
    sections.append((
        "conjunctive term search (term_search)", p,
        [
            ("zero shuffles (scan-stage filter)", "Exchange" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 16. within-distance join: cell hash equi-join, no nested loop, no
    # post-join dedup aggregate (each pair meets in exactly one cell)
    wd = allq["within_dist"](spark, sf_dir)
    p = plan_text(wd)
    sections.append((
        "within-distance join (within_dist)", p,
        [
            ("hash equi-join on cells", "HashJoin" in p, ""),
            ("no nested-loop / cartesian join",
             "NestedLoop" not in p and "CartesianProduct" not in p, ""),
            ("no dedup aggregate anywhere (pair uniqueness by construction)",
             "HashAggregate" not in p and "SortAggregate" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    extra = allq

    # 17. sequence packing: the global cumsum must never plan a
    # single-partition window (the driver-shaped trap packing.py exists to
    # avoid); partition bases come back via a broadcast join
    pk = extra["pack_sequences"](spark, sf_dir)
    p = plan_text(pk)
    sections.append((
        "sequence packing (pack_sequences)", p,
        [
            ("no single-partition stage (global window avoided)",
             "SinglePartition" not in p, ""),
            ("partition bases broadcast back", "Broadcast" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 18. BM25: the corpus stats collapse to one row and come back as a
    # broadcast (never a data-sized shuffle join); global top-k is
    # TakeOrderedAndProject, not a full sort
    bm = extra["bm25_rank"](spark, sf_dir)
    p = plan_text(bm)
    sections.append((
        "BM25 ranking (bm25_rank)", p,
        [
            ("stats row broadcast (no shuffle join)", "Broadcast" in p, ""),
            ("TakeOrderedAndProject top-k (no global sort)",
             "TakeOrderedAndProject" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 19. count-min sketch: build is a map-side-combinable aggregate
    # (partial+final); the estimate probe joins the metadata-sized sketch
    # as a broadcast
    cm = extra["cms_tokens"](spark, sf_dir)
    p = plan_text(cm)
    sections.append((
        "count-min sketch (cms_tokens)", p,
        [
            ("partial aggregation on sketch cells",
             p.count("HashAggregate") >= 2, ""),
            ("sketch broadcast to the probe side", "BroadcastHashJoin" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 20. SCD2 history: per-key windows only — never a single-partition
    # window; JVM-only
    sc = extra["scd2_history"](spark, sf_dir)
    p = plan_text(sc)
    sections.append((
        "SCD2 crawl history (scd2_history)", p,
        [
            ("windows partitioned by key (no SinglePartition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 21. quadkey assignment: pure scan-stage string/bit math — zero
    # shuffles, codegen
    qk = extra["quadkey_assign"](spark, sf_dir)
    p = plan_text(qk)
    sections.append((
        "quadkey tiles (quadkey_assign)", p,
        [
            ("zero shuffles (scan-stage expression)", "Exchange" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 22. PII redaction: pure scan-stage regexp — zero shuffles, codegen
    rd = extra["redact_pii"](spark, sf_dir)
    p = plan_text(rd)
    sections.append((
        "PII redaction (redact_pii)", p,
        [
            ("zero shuffles (scan-stage regexp)", "Exchange" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 23. top-k per group: ONE hash exchange on the group key + a window
    # rank — no global sort, no single-partition stage
    tk = extra["topk_per_lang"](spark, sf_dir)
    p = plan_text(tk)
    sections.append((
        "top-k per group (topk_per_lang)", p,
        [
            ("window rank partitioned by group (no SinglePartition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 24. ring metrics: per-row array folds — zero shuffles, codegen
    pm = extra["poly_metrics"](spark, sf_dir)
    p = plan_text(pm)
    sections.append((
        "ring area/perimeter (poly_metrics)", p,
        [
            ("zero shuffles (per-row folds)", "Exchange" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 25. decontamination: gram equi-join (broadcastable bench side), never
    # a nested loop; counts keep partial aggregation
    dc = extra["contamination"](spark, sf_dir)
    p = plan_text(dc)
    sections.append((
        "decontamination (contamination)", p,
        [
            ("hash equi-join on grams (no nested loop)",
             "NestedLoop" not in p and "CartesianProduct" not in p, ""),
            ("bench grams broadcast", "Broadcast" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 26. chunking: pure per-row sequence/slice — zero shuffles, codegen
    ch = extra["chunk_docs"](spark, sf_dir)
    p = plan_text(ch)
    sections.append((
        "document chunking (chunk_docs)", p,
        [
            ("zero shuffles (per-row explode)", "Exchange" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 27. geohash: pure scan-stage bit math — zero shuffles, codegen
    gh = extra["geohash_assign"](spark, sf_dir)
    p = plan_text(gh)
    sections.append((
        "geohash encode (geohash_assign)", p,
        [
            ("zero shuffles (scan-stage expression)", "Exchange" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 28. tile pyramid: exactly two aggregations (finest level + prefix
    # rollup), partial aggregation on both
    tp = extra["tile_pyramid"](spark, sf_dir)
    p = plan_text(tp)
    sections.append((
        "tile pyramid (tile_pyramid)", p,
        [
            ("partial+final aggregation on both exchanges",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 29. nearest-segment join: cell hash equi-join + ONE min(struct)
    # groupBy (map-side combinable), no nested loop, no Python
    ns = extra["nearest_segment"](spark, sf_dir)
    p = plan_text(ns)
    sections.append((
        "nearest-segment join (nearest_segment)", p,
        [
            ("hash equi-join on cells", "HashJoin" in p, ""),
            ("no nested-loop / cartesian join",
             "NestedLoop" not in p and "CartesianProduct" not in p, ""),
            ("argmin via partial+final aggregate",
             p.count("HashAggregate") >= 2 or p.count("SortAggregate") >= 2, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 30. segment-intersect join: cover-cell equi-join, reporting-cell
    # dedup means NO aggregate/distinct anywhere
    si = extra["segment_intersect"](spark, sf_dir)
    p = plan_text(si)
    sections.append((
        "segment-intersect join (segment_intersect)", p,
        [
            ("hash equi-join on cover cells", "HashJoin" in p, ""),
            ("no nested-loop / cartesian join",
             "NestedLoop" not in p and "CartesianProduct" not in p, ""),
            ("no dedup aggregate (reporting-cell rule)",
             "HashAggregate" not in p and "SortAggregate" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 31. spatial anti-join: ONE left_anti hash join, no aggregate, no
    # second pass
    sa = extra["spatial_anti"](spark, sf_dir)
    p = plan_text(sa)
    sections.append((
        "spatial anti-join (spatial_anti)", p,
        [
            ("left_anti hash join", "LeftAnti" in p, ""),
            ("no aggregate (single-pass anti)",
             "HashAggregate" not in p and "SortAggregate" not in p, ""),
            ("no nested-loop / cartesian join",
             "CartesianProduct" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 32. trajectory stats: per-user window + groupBy — partitioned by the
    # user key, never a single-partition window
    tv = extra["travel_stats"](spark, sf_dir)
    p = plan_text(tv)
    sections.append((
        "trajectory stats (travel_stats)", p,
        [
            ("window partitioned by user (no SinglePartition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 33. line-level dedup: df-count on md5 fingerprints with partial
    # aggregation; boilerplate set comes back as a broadcastable anti join
    ld = extra["line_dedup"](spark, sf_dir)
    p = plan_text(ld)
    sections.append((
        "boilerplate line dedup (line_dedup)", p,
        [
            ("partial aggregation on line df-count",
             p.count("HashAggregate") >= 2, ""),
            ("anti join against the boilerplate set", "LeftAnti" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 34. Douglas-Peucker: the ONLY Python crossing is the Arrow-batched
    # simplify UDF; no row-at-a-time Python
    sl = extra["simplify_lines"](spark, sf_dir)
    p = plan_text(sl)
    sections.append((
        "polyline simplification (simplify_lines)", p,
        [
            ("vectorized Python (Arrow) only", "ArrowEvalPython" in p, ""),
            ("no row-at-a-time Python", "BatchEvalPython" not in p, ""),
        ],
    ))

    # 35. PageRank: rank⋈edges is a hash equi-join; contribution sum keeps
    # partial aggregation; all-JVM integer math
    pr = extra["pagerank"](spark, sf_dir)
    p = plan_text(pr)
    sections.append((
        "integer PageRank (pagerank)", p,
        [
            ("hash equi-joins only (no nested loop)",
             "NestedLoop" not in p and "CartesianProduct" not in p, ""),
            ("partial aggregation on contribution sums",
             p.count("HashAggregate") >= 2, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 36. hotspot clustering — SCALE-ADAPTIVE component step, so the
    # audit is path-aware: below HOTSPOT_DRIVER_CC_MAX the dense-cell set is
    # localCheckpointed (to count it and pick the path), which truncates
    # lineage — the cell-count partial agg RAN but the final lazy plan
    # starts at an ExistingRDD, and the property that matters there is
    # the bounded broadcast join-back.  The distributed pointer-doubling
    # path is audited separately by forcing HOTSPOT_DRIVER_CC_MAX = 0.
    hs = extra["hotspots"](spark, sf_dir)
    p = plan_text(hs)
    driver_path = "ExistingRDD" in p
    sections.append((
        "hotspot clustering (hotspots)", p,
        [
            ("driver path: checkpointed dense cells + broadcast label "
             "join-back" if driver_path else
             "partial aggregation on cell counts",
             ("BroadcastHashJoin" in p) if driver_path
             else p.count("HashAggregate") >= 2, ""),
            ("hash equi-joins only (no nested loop)",
             "NestedLoop" not in p and "CartesianProduct" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 36b. hotspot clustering, distributed-CC path forced (the shape the
    # same call takes above HOTSPOT_DRIVER_CC_MAX dense cells): cell counts
    # partial-agg before the checkpoint cut is visible here because the
    # pointer-doubling path never collects labels to the driver
    from pbf2json_spark import spatial as _spatial_mod
    hs_pts = entry_mod._t(spark, sf_dir, "orders").select(
        entry_mod._lat_col(F.col("o_orderkey")).alias("lat"),
        entry_mod._lon_col(F.col("o_orderkey")).alias("lon"),
    )
    cc_max = _spatial_mod.HOTSPOT_DRIVER_CC_MAX
    _spatial_mod.HOTSPOT_DRIVER_CC_MAX = 0
    try:
        p = plan_text(
            _spatial_mod.hotspot_clusters(hs_pts, res=5, min_pts=3)
        )
    finally:
        _spatial_mod.HOTSPOT_DRIVER_CC_MAX = cc_max
    sections.append((
        "hotspot clustering, distributed CC path (HOTSPOT_DRIVER_CC_MAX=0)", p,
        [
            ("hash equi-joins only (no nested loop)",
             "NestedLoop" not in p and "CartesianProduct" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 36c/d. Z-order / Hilbert bbox range filters (round 5): both
    # computed-key paths key rows with an Arrow numpy kernel BY DESIGN —
    # an inline Column key gets substituted into the filter by pushdown,
    # duplicating the bit ladder per BETWEEN (janino OOM at ~64 ranges),
    # and the exists()-probe alternative runs as an interpreted HOF
    # (measured ~6x slower). The property that must hold: the crossing
    # is ArrowEvalPython (vectorized), never BatchEvalPython, and the
    # plan is one scan — no join, no shuffle. (On a STORED key column
    # neither crossing exists and the BETWEENs push to parquet —
    # asserted by tests/test_wave73+75's PushedFilters round-trips.)
    zr = extra["zrange_filter"](spark, sf_dir)
    p = plan_text(zr)
    sections.append((
        "Z-order bbox range filter (zrange_filter)", p,
        [
            ("Python crossing is Arrow-batched only",
             "BatchEvalPython" not in p, ""),
            ("single scan, no join/shuffle (a filter, not a join)",
             "Exchange" not in p and "Join" not in p, ""),
        ],
    ))
    hr = extra["hrange_filter"](spark, sf_dir)
    p = plan_text(hr)
    sections.append((
        "Hilbert bbox range filter (hrange_filter)", p,
        [
            ("Python crossing is Arrow-batched only",
             "BatchEvalPython" not in p, ""),
            ("no join/shuffle (a filter, not a join)",
             "Exchange" not in p and ("Join" not in p), ""),
        ],
    ))

    # 37. OD flows: lag window partitioned by user + partial aggregation
    # on the 4-part cell key; all-JVM
    od = allq["od_flows"](spark, sf_dir)
    p = plan_text(od)
    sections.append((
        "OD-flow matrix (od_flows)", p,
        [
            ("window partitioned by user (no SinglePartition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("partial aggregation on flow counts",
             p.count("HashAggregate") >= 2, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 38. domain stats: registered-domain extraction is scan-stage string
    # ops; both aggregates keep map-side combine; no Python
    ds = allq["domain_stats"](spark, sf_dir)
    p = plan_text(ds)
    sections.append((
        "registered-domain rollup (domain_stats)", p,
        [
            ("partial aggregation on both rollups",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 39. focal smoothing: scatter over the aggregated tile set + ONE
    # map-side-combinable groupBy; no self-join, no window
    fs = allq["focal_smooth"](spark, sf_dir)
    p = plan_text(fs)
    sections.append((
        "focal k-ring smoothing (focal_smooth)", p,
        [
            ("partial aggregation on the scatter-sum",
             p.count("HashAggregate") >= 4, ""),  # base tiles + focal, each 2x
            ("no join, no window (pure scatter-sum)",
             "Join" not in p and "Window" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 40. duplicated-span dedup: the k-gram count is the only corpus-wide
    # shuffle (partial agg), islands/reassembly key on doc id; no Python
    sd = allq["span_dedup"](spark, sf_dir)
    p = plan_text(sd)
    sections.append((
        "duplicated-span dedup (span_dedup)", p,
        [
            ("partial aggregation on the k-gram count",
             p.count("HashAggregate") >= 2, ""),
            ("duplicated-start semi/anti joins stay id+position-slim",
             "LeftSemi" in p and "LeftAnti" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 41. rasterize: explode(sequence) tile enumeration + ONE partial-agg
    # groupBy; pure Column, no join
    rz = allq["rasterize"](spark, sf_dir)
    p = plan_text(rz)
    sections.append((
        "area-weighted rasterize (rasterize)", p,
        [
            ("single per-tile aggregation, map-side combinable",
             p.count("HashAggregate") >= 2, ""),
            ("no join (pure scatter)", "Join" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 42a. shortest paths, default path: every round ends in an eager
    # localCheckpoint, so the RETURNED plan must be materialized state —
    # O(1) lineage no matter how many rounds ran
    sp_ = allq["shortest_paths"](spark, sf_dir)
    p = plan_text(sp_)
    sections.append((
        "bounded-hop shortest paths (shortest_paths, converged state)", p,
        [
            ("result is checkpoint-materialized (lineage truncated)",
             "ExistingRDD" in p, ""),
            ("no residual shuffle/join above the checkpoint",
             "Exchange" not in p and "Join" not in p, ""),
        ],
    ))

    # 42b. the per-round shape (checkpointing disabled): frontier⋈edges
    # equi-join + min-combine groupBy, partial+final
    from pbf2json_spark import routing as routing_mod
    cust = entry_mod._t(spark, sf_dir, "customer")
    edges = cust.selectExpr(
        "c_custkey % 150 AS src", "(c_custkey * 7 + 3) % 150 AS dst",
        "1 + (c_custkey % 13) AS w",
    ).distinct()
    srcs = spark.range(0, 150, 17).selectExpr("id AS node")
    rnd = routing_mod.shortest_paths(
        edges, srcs, n_rounds=2, early_stop=False, checkpoint_every=99
    )
    p = plan_text(rnd)
    sections.append((
        "bounded-hop shortest paths (per-round shape, no checkpoint)", p,
        [
            ("min-combine is a partial+final aggregate",
             p.count("HashAggregate") >= 2, ""),
            ("frontier⋈edges is an equi-join (hash, not NL)",
             "HashJoin" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("no cartesian product", "Cartesian" not in p, ""),
        ],
    ))

    # 43. k-means assignment: centroid matrix lives in the UDF closure —
    # ONE ArrowEvalPython on the scan, no join, one partial-agg groupBy
    km = allq["kmeans_clusters"](spark, sf_dir)
    p = plan_text(km)
    sections.append((
        "k-means assign + stats (kmeans_clusters)", p,
        [
            ("assignment is vectorized Arrow (no per-row Python)",
             "ArrowEvalPython" in p and "BatchEvalPython" not in p, ""),
            ("no join (broadcast-in-closure centroids)", "Join" not in p, ""),
            ("per-cluster aggregate partial+final",
             p.count("HashAggregate") >= 2, ""),
        ],
    ))

    # 44. tf-idf keywords: two combinable groupBys (tf, df) + vocab join +
    # per-doc ranking window; the token explode never re-shuffles raw text
    tk = allq["tfidf_keywords"](spark, sf_dir)
    p = plan_text(tk)
    sections.append((
        "tf-idf keywords (tfidf_keywords)", p,
        [
            ("tf and df aggregates partial+final",
             p.count("HashAggregate") >= 4, ""),
            ("per-doc top-k is a ranking window",
             "Window" in p and "row_number" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 45. mixture resampling: CASE copies + hash compare + explode —
    # scan-stage, zero shuffle, no Python
    rm = allq["resample_mixture"](spark, sf_dir)
    p = plan_text(rm)
    sections.append((
        "mixture resampling (resample_mixture)", p,
        [
            ("zero shuffle (scan-stage explode)", "Exchange" not in p, ""),
            ("no join", "Join" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 46. KMV distinct sketch: distinct hash exchange (partial agg) +
    # per-group bottom-k window; estimate over <= k rows per group
    kv = allq["kmv_distinct"](spark, sf_dir)
    p = plan_text(kv)
    sections.append((
        "KMV distinct sketch (kmv_distinct)", p,
        [
            ("distinct + estimate aggregates partial+final",
             p.count("HashAggregate") >= 4, ""),
            ("bottom-k is a ranking window", "row_number" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 47. weighted sampling: one tiny stratum-totals agg broadcast back,
    # then a pure integer-Column filter — no row-level shuffle of the data
    ws = allq["weighted_sample"](spark, sf_dir)
    p = plan_text(ws)
    # shuffle exchanges only (BroadcastExchange is free co-location; AQE
    # prints initial+final copies, so the totals agg legitimately shows 2x)
    # tree lines only ("+- Exchange (n)") — formatted explain repeats every
    # node name in the detail section as "(n) Exchange"
    shuffles = [
        ln for ln in p.splitlines()
        if "+- Exchange" in ln and "Broadcast" not in ln
    ]
    sections.append((
        "weighted per-stratum sampling (weighted_sample)", p,
        [
            ("stratum totals join is broadcast", "BroadcastHashJoin" in p, ""),
            ("the ONLY shuffle is the stratum-totals agg (data rows never "
             "exchange)", len(shuffles) <= 2, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 48. grid resample + ffill: ONE combinable (key,bucket) agg, grid via
    # explode(sequence), fill is a per-key window — no self-join of raw rows
    rf = allq["resample_ffill"](spark, sf_dir)
    p = plan_text(rf)
    sections.append((
        "grid resample + forward fill (resample_ffill)", p,
        [
            ("bucket winner is a partial-agg max_by",
             p.count("HashAggregate") >= 2, ""),
            ("forward fill is a window scan", "Window" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 49. geofence transitions: fences broadcast against pings, transition
    # detection one (user,fence) window — pings never self-join
    gf = allq["geofence_transitions"](spark, sf_dir)
    p = plan_text(gf)
    sections.append((
        "geofence enter/exit transitions (geofence_transitions)", p,
        [
            ("fence table broadcast (nested-loop on the tiny side)",
             "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, ""),
            ("transition detection is a lag window", "Window" in p, ""),
            ("no sort-merge join of pings", "SortMergeJoin" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 50. anchor stats: combinable groupBys + struct-max fold; the top
    # anchor is NOT a window sort (hot pages fold in the combiner)
    an = allq["anchor_stats"](spark, sf_dir)
    p = plan_text(an)
    sections.append((
        "anchor-text aggregation (anchor_stats)", p,
        [
            ("anchor counts and struct-max fold are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("top anchor is not a window sort", "Window" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 51. token lift: df-bounded presence self-join on doc_id + combinable
    # pair count; association score is pure integer Column math
    tl = allq["token_lift"](spark, sf_dir)
    p = plan_text(tl)
    sections.append((
        "token co-occurrence lift (token_lift)", p,
        [
            ("pair generator joins on doc_id (equi-join, never cartesian)",
             "CartesianProduct" not in p and "NestedLoop" not in p, ""),
            ("pair count is a partial agg", p.count("HashAggregate") >= 2, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 52. triangle stats: degree-ordered orientation — the wedge self-join
    # and closing-edge semi-join are hash equi-joins (never cartesian);
    # degree and per-node triangle counts are partial aggs
    ts = allq["triangle_stats"](spark, sf_dir)
    p = plan_text(ts)
    sections.append((
        "triangle count + clustering coeff (triangle_stats)", p,
        [
            ("wedge + closing-edge joins are hash equi-joins",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("closing-edge check is a semi-join (ids only)",
             "LeftSemi" in p, ""),
            ("degree and triangle counts are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 53. crawl schedule: per-host budget is a ranking window partitioned
    # by host (never a global sort); slot math is pure integer Column
    cs = allq["crawl_schedule"](spark, sf_dir)
    p = plan_text(cs)
    sections.append((
        "politeness crawl schedule (crawl_schedule)", p,
        [
            ("per-host ranking window (no single partition)",
             "Window" in p and "row_number" in p
             and "SinglePartition" not in p, ""),
            ("no join (pure per-host fold)", "Join" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 54. areal interpolation: grid-cover candidates meet in an equi-join
    # on the cell key (never a bbox theta join); transfer is ONE
    # combinable groupBy(d_id)
    ai = allq["areal_interpolate"](spark, sf_dir)
    p = plan_text(ai)
    sections.append((
        "areal interpolation (areal_interpolate)", p,
        [
            ("candidate join is a hash equi-join on the cell key",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("value transfer is a partial-agg groupBy",
             p.count("HashAggregate") >= 2, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 55. bigram-LM scoring: train counts are combinable aggs, the LM
    # lookup is a (w1,w2) equi-join, per-doc fold is a partial agg —
    # raw text never crosses a shuffle twice
    lm = allq["lm_score"](spark, sf_dir)
    p = plan_text(lm)
    sections.append((
        "bigram-LM fluency scoring (lm_score)", p,
        [
            ("LM lookup is a hash equi-join (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("train/score counts are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 56. BPE pair counts: pair explode stays in codegen (transform over a
    # sequence, no Python), the corpus-wide count is ONE combinable
    # groupBy on a tiny (a,b) key space, top-k is TakeOrdered — never a
    # global sort of the corpus
    bp = allq["bpe_pairs"](spark, sf_dir)
    p = plan_text(bp)
    sections.append((
        "BPE pair counts / tokenizer-training inner loop (bpe_pairs)", p,
        [
            ("pair count is a partial agg", "HashAggregate" in p, ""),
            ("top-k is TakeOrdered (no global Sort exchange)",
             "TakeOrderedAndProject" in p, ""),
            ("no join", "Join" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 57. dissolve: the cover explode is codegen, union area = ONE
    # distinct exchange + combinable counts, per-box summary is a second
    # combinable agg — the group join is a hash equi-join
    dv = allq["dissolve_area"](spark, sf_dir)
    p = plan_text(dv)
    sections.append((
        "grid dissolve / per-group union area (dissolve_area)", p,
        [
            ("group join is a hash equi-join (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("distinct + counts are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 58. co-location: burst dedupe is a distinct agg, the crowd guard is
    # a combinable count + LeftSemi, pairing is a hash equi-join on
    # (cell,bucket) — never cartesian — and n_meet is a partial agg
    cl = allq["co_location"](spark, sf_dir)
    p = plan_text(cl)
    sections.append((
        "co-location contact pairs (co_location)", p,
        [
            ("pair generator is a hash equi-join (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("crowd guard is a semi-join",
             "LeftSemi" in p, ""),
            ("dedupe + counts are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 59. align_translations: lang/rest extraction is scan-stage regexp,
    # the (host,rest,lang) collapse is a combinable min, pairing is a
    # hash equi-join on (host,rest) — fan-out bounded by langs per family
    at = allq["align_translations"](spark, sf_dir)
    p = plan_text(at)
    sections.append((
        "parallel-page alignment by URL structure (align_translations)", p,
        [
            ("pair join is a hash equi-join (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("(host,rest,lang) collapse is a partial agg",
             "HashAggregate" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 60. redirect resolution: every doubling round is a hash equi-join on
    # ids (never cartesian); the returned frame is checkpointed so the
    # audited plan is the final-round shape
    rr = allq["redirect_resolve"](spark, sf_dir)
    p = plan_text(rr)
    sections.append((
        "redirect-chain resolution (redirect_resolve)", p,
        [
            ("no cartesian / nested-loop anywhere",
             "CartesianProduct" not in p and "NestedLoop" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 61. funnel: each stage is a combinable min-agg semi-joined to the
    # previous frontier — hash equi-joins, no per-user window, no sort
    fn = allq["funnel_steps"](spark, sf_dir)
    p = plan_text(fn)
    sections.append((
        "ordered funnel analysis (funnel_steps)", p,
        [
            ("stage joins are hash equi-joins (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("stage times are partial min-aggs",
             p.count("HashAggregate") >= 4, ""),
            ("no per-user window", "Window" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 62. interval overlap: chunk cover is codegen explode, candidates
    # meet in a hash equi-join on the chunk id — never an s<=e theta join
    # (which Spark executes as a broadcast nested loop)
    iv = allq["interval_overlap"](spark, sf_dir)
    p = plan_text(iv)
    sections.append((
        "interval-overlap join (interval_overlap)", p,
        [
            ("candidates meet in a hash equi-join on the chunk",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("chunk cover is a codegen explode", "Generate" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 63. radius of gyration: ONE map-side-combinable groupBy carrying
    # five integer partials — no window, no join, no second pass
    rg = allq["radius_gyration"](spark, sf_dir)
    p = plan_text(rg)
    sections.append((
        "radius of gyration (radius_gyration)", p,
        [
            ("single combinable aggregation",
             p.count("HashAggregate") >= 2, ""),
            ("no join", "Join" not in p, ""),
            ("no window", "Window" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 64. local Moran's I: cell counts are a partial agg over points; the
    # neighbor sum works on the AGGREGATED frame (8 shifted copies →
    # one combinable groupBy), totals broadcast as a 1-row join
    lm2 = allq["local_moran"](spark, sf_dir)
    p = plan_text(lm2)
    sections.append((
        "local Moran's I / LISA (local_moran)", p,
        [
            # the one logical BroadcastNestedLoopJoin is the 1-row totals
            # frame (a Cross with a broadcast build — the right plan for a
            # scalar broadcast, not a data-data loop); formatted AQE plans
            # mention it up to 4x (initial+final x tree+detail), so assert
            # the SHAPE: every NLJ line in the plan TREE is that cross
            ("neighbor join is a hash equi-join (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p
             and all(
                 "Cross BuildRight" in ln
                 for ln in p.splitlines()
                 if "BroadcastNestedLoopJoin" in ln and "+-" in ln
             ), ""),
            ("counts + neighbor sums are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("totals broadcast (1-row)", "Broadcast" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 65. HITS: every round is edge-score hash equi-joins + combinable
    # sums; normalizers are 1-row broadcasts (Cross with broadcast build)
    ht = allq["hits_scores"](spark, sf_dir)
    p = plan_text(ht)
    sections.append((
        "HITS hubs & authorities (hits_scores)", p,
        [
            ("edge-score joins are hash joins (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p, ""),
            ("only NLJs are 1-row normalizer broadcasts",
             all("Cross BuildRight" in ln for ln in p.splitlines()
                 if "BroadcastNestedLoopJoin" in ln and "+-" in ln), ""),
            ("score sums are partial aggs", p.count("HashAggregate") >= 2, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 66. decayed counts: ONE pass over raw events (combinable count),
    # then scatter-explode over the aggregated frame + one more
    # combinable sum — no window, no per-key sort
    dc = allq["decayed_counts"](spark, sf_dir)
    p = plan_text(dc)
    sections.append((
        "decayed trending counts (decayed_counts)", p,
        [
            ("two combinable aggs (count + decayed sum)",
             p.count("HashAggregate") >= 4, ""),
            ("scatter is a codegen explode", "Generate" in p, ""),
            ("no window / per-key sort", "Window" not in p, ""),
            ("no join", "Join" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 67. cell dwell: one user-keyed lead window + one combinable
    # cell-keyed agg; integer µs only
    dw = allq["cell_dwell"](spark, sf_dir)
    p = plan_text(dw)
    sections.append((
        "per-cell dwell time (cell_dwell)", p,
        [
            ("one per-user window (no single partition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("dwell rollup is a partial agg", "HashAggregate" in p, ""),
            ("no join", "Join" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 68. segment alignment: chunking is codegen sequence/slice/explode;
    # sides meet in hash equi-joins on (pair, seg_idx)
    sg = allq["align_segments"](spark, sf_dir)
    p = plan_text(sg)
    sections.append((
        "bitext segment alignment (align_segments)", p,
        [
            ("pair/segment joins are hash equi-joins (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("chunking is a codegen explode", "Generate" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 69. global Moran's I: same partial-agg + shifted-copies shape as
    # local_moran plus one global agg; 1-row totals broadcast only
    gm = allq["global_moran"](spark, sf_dir)
    p = plan_text(gm)
    sections.append((
        "global Moran's I (global_moran)", p,
        [
            ("cell/neighbor joins are hash joins (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p, ""),
            ("only NLJ is the 1-row totals broadcast",
             all("Cross BuildRight" in ln for ln in p.splitlines()
                 if "BroadcastNestedLoopJoin" in ln and "+-" in ln), ""),
            ("counts + moments are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 70. robots filter: rules broadcast (config-scale), winner is one
    # combinable max-struct agg — no window, no page shuffle by rule
    rb = allq["robots_filter"](spark, sf_dir)
    p = plan_text(rb)
    sections.append((
        "robots-style URL filtering (robots_filter)", p,
        [
            ("rule join is a broadcast hash join",
             "BroadcastHashJoin" in p, ""),
            ("winner is an aggregation (no window)",
             ("HashAggregate" in p or "SortAggregate" in p)
             and "Window" not in p, ""),
            ("no cartesian", "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 71. link prediction: wedges meet in a hash equi-join on the bounded
    # center; hub guard and known-edge removal are joins on ids; counts
    # are partial aggs
    lp = allq["link_predict"](spark, sf_dir)
    p = plan_text(lp)
    sections.append((
        "resource-allocation link prediction (link_predict)", p,
        [
            ("wedge + guard joins are hash equi-joins (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("known-edge removal is an anti join", "LeftAnti" in p, ""),
            ("degree + prediction counts are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 72. Markov transitions: one key-partitioned lag window, a
    # combinable (from,to) count, and a broadcast row-total join
    mk = allq["markov_transitions"](spark, sf_dir)
    p = plan_text(mk)
    sections.append((
        "Markov transition matrix (markov_transitions)", p,
        [
            ("one per-key window (no single partition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("transition counts are partial aggs",
             p.count("HashAggregate") >= 2, ""),
            ("row-total join is broadcast", "BroadcastHashJoin" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 73. k-core: the RESULT plan (post-fixpoint) — survivors come from a
    # localCheckpointed frame, so the final plan is degree-count over a
    # scan of the checkpointed RDD; peeling rounds are semi-joins by
    # construction (graph.kcore)
    kc = allq["kcore_members"](spark, sf_dir)
    p = plan_text(kc)
    sections.append((
        "k-core decomposition (kcore_members)", p,
        [
            ("final degree count is a partial agg", "HashAggregate" in p, ""),
            ("reads the checkpointed fixpoint (no re-peel lineage)",
             "Scan ExistingRDD" in p, ""),
            ("no cartesian", "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 74. cohort retention: one distinct (the only event-grain exchange),
    # combinable min/counts, broadcast size join
    ch = allq["cohort_retention"](spark, sf_dir)
    p = plan_text(ch)
    sections.append((
        "cohort retention (cohort_retention)", p,
        [
            ("user-bucket distinct + counts are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("cohort-size join is broadcast", "BroadcastHashJoin" in p, ""),
            ("no window", "Window" not in p, ""),
            ("no cartesian", "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 75. type diversity: two chained combinable groupBys, nothing else
    tdv = allq["type_diversity"](spark, sf_dir)
    p = plan_text(tdv)
    sections.append((
        "type diversity / Gini (type_diversity)", p,
        [
            ("two chained partial aggs", p.count("HashAggregate") >= 2, ""),
            ("no join at all", "Join" not in p, ""),
            ("no window", "Window" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 76. burst detection: ONE event-grain partial agg, then a per-type
    # RANGE window over the aggregated buckets only
    bu = allq["burst_detect"](spark, sf_dir)
    p = plan_text(bu)
    sections.append((
        "burst detection (burst_detect)", p,
        [
            ("bucket counts are partial aggs", "HashAggregate" in p, ""),
            ("trailing frame is a per-type window (no single partition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("no join", "Join" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 77. regional term lift: one token-grain partial agg; term totals by
    # shuffle equi-join (vocabulary-sized — NOT broadcast); cell totals +
    # grand total broadcast
    gl = allq["term_geo_lift"](spark, sf_dir)
    p = plan_text(gl)
    sections.append((
        "regional term lift (term_geo_lift)", p,
        [
            ("token/total counts are partial aggs",
             p.count("HashAggregate") >= 6, ""),
            ("cell totals join is broadcast", "BroadcastHashJoin" in p, ""),
            ("grand total is the only NLJ (1-row broadcast)",
             all("Cross BuildRight" in ln for ln in p.splitlines()
                 if "BroadcastNestedLoopJoin" in ln and "+-" in ln), ""),
            ("no cartesian", "CartesianProduct" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 78. containment pairs: prefix-index candidates meet in hash
    # equi-joins on the shingle; verify joins on ids; no cartesian
    cn = allq["containment_pairs"](spark, sf_dir)
    p = plan_text(cn)
    sections.append((
        "shingle containment pairs (containment_pairs)", p,
        [
            ("candidate + verify joins are hash joins",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("frequency/dedup counts are partial aggs",
             "HashAggregate" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 79. periodicity: one per-key lag window, two combinable groupBys
    pe = allq["periodicity"](spark, sf_dir)
    p = plan_text(pe)
    sections.append((
        "inter-arrival periodicity (periodicity)", p,
        [
            ("one per-key window (no single partition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("gap counts + key moments are partial aggs",
             p.count("HashAggregate") >= 2, ""),
            ("no join", "Join" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 80. co-citation: pair fan-out meets in a hash equi-join on the
    # bounded citing source; in-degree joins on ids
    cc = allq["cocitation"](spark, sf_dir)
    p = plan_text(cc)
    sections.append((
        "co-citation similarity (cocitation)", p,
        [
            ("pair + in-degree joins are hash equi-joins",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("degree/pair counts are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 81. URL templates: pure-Column regexps into ONE combinable groupBy
    ut = allq["url_templates"](spark, sf_dir)
    p = plan_text(ut)
    sections.append((
        "URL template mining (url_templates)", p,
        [
            ("one aggregation, partial",
             "HashAggregate" in p or "SortAggregate" in p, ""),
            ("no join", "Join" not in p, ""),
            ("no window", "Window" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 82. cell transitions: one per-user lag window, combinable 4-key
    # count, origin-total join over the AGGREGATED frame
    ct2 = allq["cell_transitions"](spark, sf_dir)
    p = plan_text(ct2)
    sections.append((
        "cell-transition graph (cell_transitions)", p,
        [
            ("one per-key window (no single partition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("transition counts are partial aggs",
             p.count("HashAggregate") >= 2, ""),
            ("origin-total join is a hash join (aggregated frame)",
             "HashJoin" in p and "CartesianProduct" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 83. TrustRank: same shape as pagerank — per iteration one hash
    # join on the persisted degree-joined edges + combinable sum; seed
    # flags broadcast
    tr = allq["trustrank"](spark, sf_dir)
    p = plan_text(tr)
    sections.append((
        "TrustRank (trustrank)", p,
        [
            ("iteration joins are hash joins (no cartesian)",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("contribution sums are partial aggs", "HashAggregate" in p, ""),
            ("seed flag join is broadcast", "BroadcastHashJoin" in p, ""),
            ("edges reused from persisted layout (InMemory scan)",
             "InMemoryTableScan" in p or "Scan ExistingRDD" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
        ],
    ))

    # 84. host graph: two node-id hash joins + combinable counts; the
    # distinct-src pass runs on the coarsened (host-pair, src) frame
    hg = allq["host_graph"](spark, sf_dir)
    p = plan_text(hg)
    sections.append((
        "host-graph coarsening (host_graph)", p,
        [
            ("endpoint mapping joins are hash joins",
             "HashJoin" in p and "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("link/src counts are partial aggs",
             p.count("HashAggregate") >= 2, ""),
            ("no window", "Window" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 85. CUSUM: one event-grain partial agg; range densify + windows
    # run per-key over the AGGREGATED bucket frame only
    cu = allq["cusum_changepoint"](spark, sf_dir)
    p = plan_text(cu)
    sections.append((
        "CUSUM change-point (cusum_changepoint)", p,
        [
            ("bucket counts + max-struct are partial aggs",
             p.count("HashAggregate") >= 4, ""),
            ("per-key windows (no single partition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("densify join is a hash join", "HashJoin" in p, ""),
            ("no cartesian", "CartesianProduct" not in p
             and "NestedLoop" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 86. spatial thinning: one cell-partitioned rank window, the quota
    # filter sits on the window output; no join
    th = allq["spatial_thin"](spark, sf_dir)
    p = plan_text(th)
    sections.append((
        "spatial thinning (spatial_thin)", p,
        [
            ("one per-cell window (no single partition)",
             "Window" in p and "SinglePartition" not in p, ""),
            ("no join", "Join" not in p, ""),
            ("no aggregation needed", True, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 87. budget apportionment: combinable counts/total, bonus winners
    # via TakeOrdered (k per partition, never a global sort), hash join
    # back on the host key
    bg = allq["crawl_budget"](spark, sf_dir)
    p = plan_text(bg)
    sections.append((
        "crawl-budget apportionment (crawl_budget)", p,
        [
            ("bonus winners are TakeOrdered, not a global sort",
             "TakeOrderedAndProject" in p, ""),
            ("counts/total are partial aggs", "HashAggregate" in p, ""),
            ("winner join is a hash/broadcast join",
             "HashJoin" in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 88. cover dilation: codegen explode + ONE distinct exchange
    dl = allq["dilate_cover"](spark, sf_dir)
    p = plan_text(dl)
    sections.append((
        "grid-cover dilation (dilate_cover)", p,
        [
            ("disk expansion is codegen explode (Generate)",
             "Generate" in p, ""),
            ("dedup is a partial-agg distinct", "HashAggregate" in p, ""),
            ("no join", "Join" not in p, ""),
            ("no window", "Window" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ],
    ))

    # 89+. waves 15-21 — spec-driven sweep. Shared invariants for every
    # late-wave operator: zero row-at-a-time Python, zero Python, plans
    # stay in whole-stage codegen; per-query structural properties listed
    # with each spec. "noSP" = no single-partition window/exchange on a
    # per-row frame (driver-sized frames are exempted per spec).
    def has(s):
        return lambda p: s in p

    def lacks(s):
        return lambda p: s not in p

    wave_specs = [
        ("idw_surface", "IDW interpolation surface (wave 15)", [
            ("scatter-AGGREGATE, no self-join at all", lacks("Join")),
            ("disk scatter is codegen explode", has("Generate")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("script_mix", "script-mix profiling (wave 15)", [
            ("no join", lacks("Join")),
            ("no window", lacks("Window")),
        ]),
        ("activity_profile", "activity profiles (wave 15)", [
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("lpa_communities", "label propagation (wave 16)", []),
        ("grid_gradient", "grid gradient (wave 16)", [
            ("scatter-AGGREGATE, no self-join at all", lacks("Join")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("traj_jaccard", "trajectory Jaccard (wave 16)", [
            ("cell-bucketed candidate equi-join", has("Join")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("len_quantiles", "histogram quantiles (wave 17)", [
            ("aggregation present", has("Aggregate")),
            ("no per-row single-partition window", lacks("SinglePartition")),
        ]),
        ("user_concentration", "user concentration (wave 17)", [
            ("partial aggregation", has("HashAggregate")),
            ("no per-row single-partition window", lacks("SinglePartition")),
        ]),
        ("geary_stat", "Geary's C (wave 18)", [
            ("partial aggregation", has("HashAggregate")),
            ("totals broadcast", has("Broadcast")),
        ]),
        ("lpa_modularity", "LPA modularity (wave 18)", [
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("daily_trend", "daily trend regression (wave 19)", [
            ("regression sums are one partial agg", has("HashAggregate")),
            ("no window", lacks("Window")),
        ]),
        ("assortativity", "degree assortativity (wave 19)", [
            ("degree join is a hash join", has("HashJoin")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("gravity_flows", "gravity flow lift (wave 19)", [
            ("marginal joins are hash joins", has("HashJoin")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("vocab_growth", "vocabulary growth (wave 19)", [
            ("first-occurrence is a partial agg", has("HashAggregate")),
        ]),
        ("ngram_novelty", "n-gram novelty (wave 20)", [
            ("shingling is codegen explode", has("Generate")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("pagination_groups", "pagination families (wave 20)", [
            ("partial aggregation", has("HashAggregate")),
            ("no per-row single-partition window", lacks("SinglePartition")),
        ]),
        ("ripley_pairs", "Ripley-K pair counts (wave 20)", [
            ("ring scatter joins back as a hash join", has("HashJoin")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("gi_star", "Getis-Ord Gi* (wave 21)", [
            ("neighborhood join over the AGGREGATED frame", has("Join")),
            ("totals broadcast", has("Broadcast")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("knox_pairs", "Knox space-time interaction (wave 21)", [
            ("scatter equi-joins (never all-pairs)", has("Join")),
            ("scalar counts broadcast", has("Broadcast")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("edit_near_dup", "Levenshtein near-dup (wave 21)", [
            ("blocked candidate equi-join", has("Join")),
            ("levenshtein stays JVM-side", lacks("EvalPython")),
        ]),
        ("quadtree_bins", "adaptive quadtree binning (wave 22)", [
            # the per-level collapse aggs materialize inside the pinned
            # localCheckpoints, so the final plan shows their RESULTS
            # (ExistingRDD scans), not the HashAggregates themselves
            ("levels pinned once (ExistingRDD scans, no re-agg)",
             has("ExistingRDD")),
            ("leaf tests are broadcast semi-joins over AGGREGATED levels",
             has("BroadcastHashJoin LeftSemi")),
            ("no window", lacks("Window")),
        ]),
        ("mann_kendall", "Mann-Kendall trend (wave 22)", [
            ("pair join is a key equi-join over the AGGREGATED series",
             has("Join")),
            ("partial aggregation", has("HashAggregate")),
            ("no window", lacks("Window")),
        ]),
        ("colocation_lift", "co-location lift (wave 22)", [
            ("scatter equi-join over aggregated (cell,type) counts",
             has("Join")),
            ("marginals broadcast", has("Broadcast")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("emerging_hotspots", "emerging hotspots (wave 23)", [
            ("per-slice neighborhood join over AGGREGATED counts",
             has("Join")),
            ("per-bucket scalars broadcast", has("Broadcast")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("lang_divergence", "chi-square mix divergence (wave 24)", [
            ("category grid joins as broadcast", has("Broadcast")),
            ("partial aggregation", has("HashAggregate")),
            ("no window", lacks("Window")),
        ]),
        ("benford_anomaly", "Benford anomaly (wave 24)", [
            ("digit extraction is codegen explode", has("Generate")),
            ("digit grid broadcast", has("Broadcast")),
            ("partial aggregation", has("HashAggregate")),
            ("no window", lacks("Window")),
        ]),
        ("gini_len", "Gini index (wave 25)", [
            ("window runs over the AGGREGATED histogram, after an agg",
             has("Window")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("heading_mix", "heading-octant mix (wave 25)", [
            ("one user-key window then combinable count", has("Window")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("mad_outliers", "MAD robust outliers (wave 26)", [
            ("per-group stats join back as broadcast", has("Broadcast")),
            ("no window", lacks("Window")),
        ]),
        ("rolling_active", "rolling active users (wave 26)", [
            ("bounded window-end explode", has("Generate")),
            ("max-day clamp is a broadcast", has("Broadcast")),
            ("two-phase count-distinct", has("HashAggregate")),
            ("no per-row window", lacks("Window")),
        ]),
        ("rrf_fuse", "reciprocal-rank fusion (wave 27)", [
            # the rank windows run over k-row candidate lists (RRF's
            # input contract), so SinglePartition there is by design
            ("fused sum is a partial aggregation", has("HashAggregate")),
            ("top-k never global-sorts", has("TakeOrderedAndProject")),
        ]),
        ("theil_sen", "Theil-Sen robust slope (wave 32)", [
            ("pair join over the AGGREGATED series", has("Join")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("url_risk", "URL risk screen (wave 32)", [
            ("pure scan-stage predicates (no shuffle)", lacks("Exchange")),
            ("no window", lacks("Window")),
        ]),
        ("ppr_rank", "personalized PageRank (wave 31)", [
            ("per-round contribution join", has("Join")),
            ("rounds pinned (ExistingRDD) or partial aggs",
             lambda p: "ExistingRDD" in p or "HashAggregate" in p),
        ]),
        ("ks_divergence", "KS divergence (wave 29)", [
            ("value grid joins as broadcast", has("Broadcast")),
            ("cumsum window over the AGGREGATED grid", has("Window")),
            ("partial aggregation", has("HashAggregate")),
        ]),
        ("kwic_merge", "KWIC concordance (wave 29)", [
            ("tokenize is codegen explode", has("Generate")),
            ("no shuffle exchange at all", lacks("Exchange")),
            ("no window", lacks("Window")),
        ]),
        ("bpe_encode", "BPE merge encoding (wave 27)", [
            ("tokenize/merge are codegen explode + scan-stage replaces",
             has("Generate")),
            ("one combinable token count", has("HashAggregate")),
            ("top-k never global-sorts", has("TakeOrderedAndProject")),
            ("no window", lacks("Window")),
        ]),
    ]
    for key, title, props in wave_specs:
        p = plan_text(allq[key](spark, sf_dir))
        checks = [(nm, fn(p), "") for nm, fn in props]
        checks += [
            ("no row-at-a-time Python", "BatchEvalPython" not in p, ""),
            ("no Python eval", "EvalPython" not in p, ""),
            ("whole-stage codegen", "codegen id" in p, ""),
        ]
        sections.append((f"{title} ({key})", p, checks))

    # BFS hop labels (wave 25): the returned frame is a union of pinned
    # per-round localCheckpoints, so audit ONE round's expansion — the
    # frontier ⋈ edges join + anti-join vs visited — unpinned.
    edges25 = entry_mod._link_edges(spark, sf_dir).select(
        F.col("src").alias("_s"), F.col("dst").alias("_d"))
    seeds25 = spark.createDataFrame([(0,), (17,)], "node long")
    vis25 = seeds25.select("node", F.lit(0).cast("long").alias("hop"))
    round25 = (
        seeds25.join(edges25, seeds25["node"] == edges25["_s"])
        .select(F.col("_d").alias("node")).distinct()
        .join(vis25, "node", "left_anti")
        .select("node", F.lit(1).cast("long").alias("hop"))
    )
    p25 = plan_text(round25)
    sections.append(("BFS frontier round (bfs_hops, wave 25)", p25, [
        ("frontier expansion is an equi-join", "Join" in p25, ""),
        ("visited suppression is an anti join",
         "LeftAnti" in p25, ""),
        ("ids only (no payload columns in the shuffle)",
         "text" not in p25, ""),
        ("no row-at-a-time Python", "BatchEvalPython" not in p25, ""),
        ("whole-stage codegen", "codegen id" in p25, ""),
    ]))

    # DTW pairs (wave 26): the DP kernel is deliberately Python — assert
    # it crosses as ONE Arrow-batched eval, with relational candidate
    # generation and array-only shuffle payloads around it.
    p26 = plan_text(allq["dtw_pairs"](spark, sf_dir))
    sections.append(("banded DTW pairs (dtw_pairs, wave 26)", p26, [
        ("DP kernel is Arrow-batched", "ArrowEvalPython" in p26, ""),
        ("no row-at-a-time Python", "BatchEvalPython" not in p26, ""),
        ("candidates come from equi-joins", "Join" in p26, ""),
        ("sequence build is one user-key window", "Window" in p26, ""),
    ]))

    # PQ ADC top-k (wave 30): encode + LUT scoring are deliberately
    # Arrow-batched numpy; raw vectors never pass the ranking exchange.
    p30 = plan_text(allq["pq_topk"](spark, sf_dir))
    sections.append(("PQ ADC top-k (pq_topk, wave 30)", p30, [
        ("encode/score are Arrow-batched", "ArrowEvalPython" in p30, ""),
        ("no row-at-a-time Python", "BatchEvalPython" not in p30, ""),
        ("per-query ranking window", "Window" in p30, ""),
        ("query-id map joins as broadcast", "Broadcast" in p30, ""),
    ]))

    # map matching (wave 28): Viterbi kernel is deliberately an
    # applyInPandas group map over the user key.
    p28 = plan_text(allq["map_match"](spark, sf_dir))
    sections.append(("Viterbi map-matching (map_match, wave 28)", p28, [
        ("DP is a grouped Arrow map (FlatMapGroupsInPandas)",
         "FlatMapGroupsInPandas" in p28, ""),
        ("no row-at-a-time Python", "BatchEvalPython" not in p28, ""),
        ("candidates come from the grid-cover equi-join", "Join" in p28, ""),
    ]))

    # round-3 late-wave flagships (waves 51-70)
    p51 = plan_text(allq["toponym_pick"](spark, sf_dir))
    sections.append(("gazetteer toponym disambiguation (toponym_pick, wave 51)", p51, [
        ("gazetteer+census sides broadcast", "BroadcastHashJoin" in p51, ""),
        ("pick is a groupBy struct-min, no window sort", "Window" not in p51, ""),
        ("no Python eval", "EvalPython" not in p51, ""),
    ]))
    p53 = plan_text(allq["cdc_chunk_spans"](spark, sf_dir))
    sections.append(("content-defined chunking (cdc_chunk_spans, wave 53)", p53, [
        ("rolling hash is whole-stage codegen", "codegen id" in p53, ""),
        ("no Python eval anywhere", "EvalPython" not in p53, ""),
        ("single generate (one explode)", p53.count("Generate") >= 1, ""),
    ]))
    p54 = plan_text(allq["ipf_lang_source"](spark, sf_dir))
    sections.append(("all-integer IPF raking (ipf_lang_source, wave 54)", p54, [
        # each half-round is localCheckpoint-pinned, so the visible plan is
        # the final scaled-cell projection — assert its purity, not the
        # already-materialized margin aggregates
        ("no Python eval", "EvalPython" not in p54, ""),
        ("no window sort anywhere", "Window" not in p54, ""),
        ("pinned cell table scan (checkpoint-truncated lineage)",
         "Scan ExistingRDD" in p54 or "LogicalRDD" in p54 or "codegen id" in p54, ""),
    ]))
    p69 = plan_text(allq["cooc_lift"](spark, sf_dir))
    sections.append(("windowed co-occurrence lift (cooc_lift, wave 69)", p69, [
        ("pair generator is an EQUI-join (SortMerge/Hash), not theta",
         ("SortMergeJoin" in p69 or "ShuffledHashJoin" in p69 or "BroadcastHashJoin" in p69), ""),
        ("no cartesian/broadcast-nested-loop", "CartesianProduct" not in p69 and "BroadcastNestedLoopJoin" not in p69, ""),
        ("no Python eval", "EvalPython" not in p69, ""),
    ]))
    p58 = plan_text(allq["sde_nation"](spark, sf_dir))
    sections.append(("standard deviational ellipse (sde_nation, wave 58)", p58, [
        ("one combinable moment aggregate", p58.count("HashAggregate") >= 2, ""),
        ("whole-stage codegen", "codegen id" in p58, ""),
        ("no Python eval", "EvalPython" not in p58, ""),
    ]))

    failed = 0
    out = ["# PLANS — physical-plan audit (generated by tools/explain_audit.py)\n"]
    for title, plan, props in sections:
        out.append(f"\n## {title}\n")
        out.append("| property | status |\n|---|---|\n")
        for name, ok, _ in props:
            out.append(f"| {name} | {'PASS' if ok else '**FAIL**'} |\n")
            failed += 0 if ok else 1
        out.append("\n<details><summary>plan</summary>\n\n```\n")
        out.append(plan)
        out.append("```\n</details>\n")
    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print(f"PLANS.md written; {failed} property failures")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
