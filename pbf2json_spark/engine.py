"""Engine facade — the reference's whole query lifecycle as one declarative
DataFrame plan (main + outputValidEntries, pbf2json.go:308-343, 489-549).

A query = a tag-DSL string (the reference's only query surface, via CLI
`-tags` or the Node stream wrapper index.js:18-63). The result = six row
classes, the same six the reference emits: valid nodes, valid ways, valid
relations, merged streets, merged waterways, derived entrances.

Scale shape (the reference's 3-pass semi-join reduction, re-expressed):
  * pass 1+2 ("mark needed ids") become explicit distinct-union of id
    frames + left_semi joins — Catalyst then prunes columns and pushes the
    tag predicate to the scan;
  * the LevelDB caches disappear: the node-coordinate lookup IS the shuffle
    hash join in denorm.denormalize_ways (AQE broadcasts or skew-splits it
    at runtime);
  * the reference's three file passes become one decode: pbf.read_pbf
    shares a single lazily checkpointed decode across the nodes, ways and
    relations frames, so every plan built here reads the decoded blocks
    instead of re-decoding the file;
  * per-stage reuse: formatted ways feed relations, merges and output —
    always persisted once instead of recomputed per consumer, and released
    by `QueryResult.unpersist` (`stream_records` calls it when its stream
    ends).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pbf2json_spark import denorm, dsl, enrich, relations as rel_mod


class StreamError(RuntimeError):
    """Raised when the record stream fails (index.js:48-60 kill path)."""


@dataclass
class QueryResult:
    """The six output row classes (outputValidEntries, pbf2json.go:489-549)."""

    nodes: DataFrame  # id, type='node', lat, lon, tags
    ways: DataFrame  # id, type='way', tags, centroid, bbox_min, bbox_max
    relations: DataFrame | None  # id, type='relation', ...
    merged_streets: DataFrame | None
    merged_waterways: DataFrame | None
    entrances: DataFrame | None  # id, type='node', lat, lon, tags, way_id
    counters: DataFrame | None = None  # amenitycount, transcount, fitranscount (A7)
    # the intermediate frames `Engine.query` cached for these outputs
    persisted: list[DataFrame] = field(default_factory=list, init=False, repr=False)

    def unpersist(self) -> None:
        """Release the frames the query cached. The outputs stay valid;
        a later action recomputes what it needs."""
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()

    def combined(self) -> DataFrame:
        """Union into one jsonNode/jsonWayRel-shaped frame (the reference's
        JSON-lines stdout, printJson pbf2json.go:552-555)."""
        point = "struct<lat:double,lon:double>"
        parts = []

        def node_like(df: DataFrame) -> DataFrame:
            return df.select(
                "id", "type", "lat", "lon", "tags",
                F.lit(None).cast(point).alias("centroid"),
                F.lit(None).cast(point).alias("bbox_min"),
                F.lit(None).cast(point).alias("bbox_max"),
            )

        def wayrel_like(df: DataFrame) -> DataFrame:
            return df.select(
                "id", "type",
                F.lit(None).cast("double").alias("lat"),
                F.lit(None).cast("double").alias("lon"),
                "tags", "centroid", "bbox_min", "bbox_max",
            )

        parts.append(node_like(self.nodes))
        parts.append(wayrel_like(self.ways))
        for df in (self.relations, self.merged_streets, self.merged_waterways):
            if df is not None:
                parts.append(wayrel_like(df))
        if self.entrances is not None:
            parts.append(node_like(self.entrances.drop("way_id")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class Engine:
    """Bind once to (nodes, ways, relations) tables; run many queries."""

    def __init__(
        self,
        nodes: DataFrame,
        ways: DataFrame,
        relations: DataFrame | None = None,
        names: tuple[str, ...] = ("name",),
        highways: tuple[str, ...] | None = None,
    ) -> None:
        """`highways` = the reference's documented `-highways` allowlist
        (pbf2json.go:171; dead code in Go — see enrich.dictionary_names).
        Default None = off, matching the reference's effective behavior."""
        self.nodes = denorm.prepare_nodes(nodes)
        self.ways = denorm.prepare_ways(ways)
        self.relations = (
            relations.select(
                "id", dsl.trim_tags(F.col("tags")).alias("tags"), "members"
            )
            if relations is not None
            else None
        )
        self.names = names
        self.highways = highways

    @classmethod
    def from_pbf(cls, spark, path: str, **kwargs) -> "Engine":
        """Bind directly to an ``.osm.pbf`` file — the reference binary's
        input surface (`openFile`/`createDecoder`, pbf2json.go:236-244,
        979-990). Blob framing is indexed on the driver, entity decode
        fans out over executors (pbf.read_pbf); the three entity frames
        then feed the normal constructor."""
        from pbf2json_spark import pbf

        nodes, ways, relations = pbf.read_pbf(spark, path)
        return cls(nodes, ways, relations, **kwargs)

    def query(
        self,
        tags_dsl: str,
        with_dictionary: bool = True,
        with_entrances: bool = True,
        with_counters: bool = False,
    ) -> QueryResult:
        """Run one tag-DSL query. The dictionary-shaped build sides
        (translation geometry, merged-seed ids) carry no broadcast hint:
        AQE sizes them at runtime, which stays safe at planet scale."""
        query = dsl.parse(tags_dsl)
        pred = lambda df: dsl.compile_query(query, F.col("tags"))  # noqa: E731

        matched_nodes = self.nodes.filter(pred(self.nodes))
        matched_ways = self.ways.filter(pred(self.ways))
        matched_rels = (
            self.relations.filter(pred(self.relations))
            if self.relations is not None
            else None
        )

        # "needed" way ids = query-matched ∪ relation-referenced ∪ dictionary
        # (createCache gate `valid || wayRef || dictionaryWays`, go:449)
        needed_way_ids = matched_ways.select("id")
        dict_all = None
        if with_dictionary:
            # dictionary classification is tag-level (toDictionary, go:1072-1132)
            dict_all = enrich.dictionary_names(self.ways, self.names, self.highways)
            needed_way_ids = needed_way_ids.unionByName(
                dict_all.filter("is_dict").select("id")
            )
            if self.relations is not None:
                dict_all = dict_all.unionByName(
                    enrich.dictionary_names(self.relations, self.names, self.highways)
                )
        if self.relations is not None:
            rel_way_refs = self.relations.select(
                F.explode(
                    F.filter("members", lambda m: m["mtype"] == F.lit("way"))
                ).alias("m")
            ).select(F.col("m.ref").alias("id"))
            needed_way_ids = needed_way_ids.unionByName(rel_way_refs)
        ways_needed = self.ways.join(needed_way_ids.distinct(), "id", "left_semi")

        d = denorm.denormalize_ways(ways_needed, self.nodes).persist()
        fmt_ways = denorm.format_from_denorm(
            d, with_entrances=with_entrances
        ).persist()
        fmt_ways_out = fmt_ways.drop("pts")

        fmt_rels = None
        if self.relations is not None:
            fmt_rels = rel_mod.resolve_relations(
                self.relations, fmt_ways_out, self.nodes
            ).persist()

        # dictionaries joined to formatted geometry
        merged_streets = merged_water = None
        transl_geo = None
        if with_dictionary:
            transl_geo = enrich.translation_geometry(fmt_ways_out, fmt_rels, dict_all)
            merged_streets = enrich.merge_segments(
                dict_all, fmt_ways_out, fmt_rels, "street_name"
            ).persist()
            merged_water = enrich.merge_segments(
                dict_all, fmt_ways_out, fmt_rels, "water_name"
            ).persist()

        out_nodes = enrich.translate_address(
            matched_nodes.select(
                "id", F.lit("node").alias("type"), "lat", "lon", "tags"
            ),
            transl_geo,
            self.names,
            with_counters=with_counters,
        )

        out_ways = fmt_ways_out.join(matched_ways.select("id"), "id", "left_semi")
        out_ways = self._suppress(out_ways, query, merged_streets, merged_water)
        out_ways = enrich.translate_address(
            out_ways, transl_geo, self.names, with_counters=with_counters
        )

        out_rels = None
        if fmt_rels is not None and matched_rels is not None:
            out_rels = fmt_rels.join(matched_rels.select("id"), "id", "left_semi")
            out_rels = self._suppress(out_rels, query, merged_streets, merged_water)
            out_rels = enrich.translate_address(
                out_rels, transl_geo, self.names, with_counters=with_counters
            )

        out_entrances = None
        if with_entrances:
            out_entrances = enrich.translate_address(
                denorm.derived_entrances(d, self.nodes),
                transl_geo,
                self.names,
                loc=("lat", "lon"),
                with_counters=with_counters,
            )

        counters = None
        if with_counters:
            CTR = ["_n_amenity", "_n_trans", "_n_fitrans"]
            parts = [
                f.select(*CTR)
                for f in (out_nodes, out_ways, out_rels, out_entrances)
                if f is not None
            ]
            allc = parts[0]
            for p in parts[1:]:
                allc = allc.unionByName(p)
            # coalesce: the reference prints 0 counters when the query
            # matches nothing (Go ints start at 0); F.sum over zero rows
            # yields NULL without it
            counters = allc.agg(
                F.coalesce(F.sum("_n_amenity"), F.lit(0)).alias("amenitycount"),
                F.coalesce(F.sum("_n_trans"), F.lit(0)).alias("transcount"),
                F.coalesce(F.sum("_n_fitrans"), F.lit(0)).alias("fitranscount"),
            )
            out_nodes = out_nodes.drop(*CTR)
            out_ways = out_ways.drop(*CTR)
            out_rels = out_rels.drop(*CTR) if out_rels is not None else None
            out_entrances = (
                out_entrances.drop(*CTR) if out_entrances is not None else None
            )

        res = QueryResult(
            nodes=out_nodes,
            ways=out_ways,
            relations=out_rels,
            merged_streets=(
                merged_streets.drop("merged_ids") if merged_streets is not None else None
            ),
            merged_waterways=(
                merged_water.drop("merged_ids") if merged_water is not None else None
            ),
            entrances=out_entrances,
            counters=counters,
        )
        res.persisted = [
            df for df in (d, fmt_ways, fmt_rels, merged_streets, merged_water)
            if df is not None
        ]
        return res

    def stream_records(self, tags_dsl: str, on_error=None, **query_kw):
        """The reference's public consumption API re-expressed: index.js
        createReadStream (index.js:18-63) spawns the engine and yields one
        parsed JSON record per line. Here: run the query, stream the
        combined jsonNode/jsonWayRel rows to the driver incrementally
        (toLocalIterator — one partition in flight, no full collect) and
        yield plain dicts of the same shape printJson emits
        (pbf2json.go:552-555): nulls dropped, node rows carry lat/lon,
        way/relation rows carry centroid/bbox.

        Error semantics mirror the wrapper (index.js:48-60): the child's
        stderr is surfaced through `on_error(message)` (the wrapper's
        `console.error` logger), the stream is torn down, and a
        StreamError (≙ the wrapper's nonzero-exit `decoder.kill` path)
        is raised — a failure never looks like a clean empty stream.

        The frames the query cached are released once the stream ends, is
        closed or fails, so a long-lived session does not accumulate them."""
        res = None
        try:
            try:
                res = self.query(tags_dsl, **query_kw)
                rows = res.combined().toLocalIterator()
            except Exception as e:  # setup failure: bad DSL / missing columns
                if on_error is not None:
                    on_error(str(e))
                raise StreamError(f"pbf2json stream setup failed: {e}") from e
            while True:
                try:
                    row = next(rows, None)
                except Exception as e:  # mid-stream executor/plan failure
                    if on_error is not None:
                        on_error(str(e))
                    raise StreamError(f"pbf2json stream failed mid-flight: {e}") from e
                if row is None:
                    return
                yield _record(row)
        finally:
            if res is not None:
                res.unpersist()

    @staticmethod
    def _suppress(
        rows: DataFrame,
        query: dsl.Query,
        merged_streets: DataFrame | None,
        merged_water: DataFrame | None,
    ) -> DataFrame:
        """outputValidEntries per-row-class suppression (go:498-534): merged
        seeds skipped, then xwayOnly residual-interest check (which also
        deletes the examined key from the printed tags), highway first, then
        waterway on the already-reduced tags."""
        for key, merged in (("highway", merged_streets), ("waterway", merged_water)):
            if merged is not None:
                seeds = merged.select("id", "type", F.lit(True).alias("_is_seed"))
                rows = (
                    rows.join(seeds, ["id", "type"], "left")
                    .filter(
                        ~(
                            F.map_contains_key("tags", F.lit(key))
                            & F.coalesce("_is_seed", F.lit(False))
                        )
                    )
                    .drop("_is_seed")
                )
            rows = enrich.xway_suppress(rows, query, key)
        return rows


def _record(row) -> dict:
    """One combined row as printJson emits it: nulls dropped."""
    rec = {"id": row["id"], "type": row["type"], "tags": dict(row["tags"])}
    if row["lat"] is not None:
        rec["lat"] = row["lat"]
        rec["lon"] = row["lon"]
    if row["centroid"] is not None:
        rec["centroid"] = row["centroid"].asDict()
        rec["bbox_min"] = row["bbox_min"].asDict()
        rec["bbox_max"] = row["bbox_max"].asDict()
    return rec
