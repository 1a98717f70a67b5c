"""``pbf_to_json``: the paper's CLI path, ``python -m pbf2json_spark
-tags=… -out DIR``, on a seeded ``.osm.pbf`` fixture.

Engine.from_pbf(fixture) → .query(tag DSL) → .combined() → JSON-lines
write. All the work is in ``pbf`` (mapInPandas decode), ``dsl``, ``denorm``
(node join + centroid UDF), ``relations`` and the output write; ``pages``
and the point-in-polygon path do none. The timed iterations query without
the street and waterway dictionaries (the CLI always builds them): with
them one iteration takes ~35 s on 4 cores instead of ~12 s, which leaves
no room for a steady median in the benchmark's time budget. The traced
run measures that dictionary half once, as ``enrich.dictionary_s``.

Oracles: the decoded entity counts equal the generator's, and the
per-type output row counts equal ``expected_types`` of the generated
entities (computed once in set-up, without Spark).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os

from pyspark.sql import functions as F

import make_pbf
from harness import median
from pbf2json_spark import denorm, dsl, pbf, relations
from pbf2json_spark.engine import Engine
from tracing import materialize
from workload import Workload, timed_op

TAGS = "amenity~toilets"
N_NODES, N_WAYS, N_RELS = 20_000, 2_000, 20
GO_ZERO_TS = "0001-01-01T00:00:00Z"  # the CLI's per-record timestamp


def entities(seed: int):
    """make_pbf's integer-formula entities, with the node id range shifted
    by the seed: ways whose refs fall below the shift dangle and are
    dropped by the all-or-nothing gate."""
    shift = seed % 997
    nodes = make_pbf.node_entities(N_NODES + shift)[shift:]
    ways = make_pbf.way_entities(N_NODES, N_WAYS)
    rels = make_pbf.relation_entities(N_WAYS, N_RELS)
    return nodes, ways, rels


def expected_types(nodes, ways, rels) -> dict[str, int]:
    """Output rows per type, computed in Python from the entities: the tag
    query evaluated by ``dsl.eval_query`` on trimmed tags, and a way kept
    only when every ref resolves (the all-or-nothing gate). The generator
    never tags a relation so that it matches, nor a node as an entrance;
    both are checked, since those classes are not modelled here."""
    q = dsl.parse(TAGS)

    def match(tags) -> bool:
        return dsl.eval_query(q, {k.strip(): v.strip() for k, v in tags.items()})

    if any(match(t) for _i, t, _m in rels):
        raise ValueError("a relation matches the query")
    if any("entrance" in t for _i, _a, _o, t in nodes):
        raise ValueError("a node is tagged as an entrance")
    ids = {i for i, _a, _o, _t in nodes}
    counts = {
        "node": sum(match(t) for _i, _a, _o, t in nodes),
        "way": sum(match(t) and all(r in ids for r in refs) for _i, t, refs in ways),
    }
    return {k: v for k, v in counts.items() if v}


def type_counts(out_dir: str) -> dict[str, int]:
    """Rows per ``type`` in a JSON-lines output directory."""
    counts: dict[str, int] = {}
    for path in glob.glob(os.path.join(out_dir, "part-*")):
        with open(path) as f:
            for line in f:
                t = json.loads(line)["type"]
                counts[t] = counts.get(t, 0) + 1
    return counts


class PbfToJson(Workload):
    name = "pbf_to_json"

    def setup(self) -> None:
        with self.phase("inputs"):
            nodes, ways, rels = entities(self.seed)
            self.path = os.path.join(self.workdir, "fixture.osm.pbf")
            pbf.write_pbf(self.path, nodes, ways, rels)
        self.expect_entities = (len(nodes), len(ways), len(rels))
        self.items_per_iteration = sum(self.expect_entities)
        self.out_dir = os.path.join(self.workdir, "out")
        with self.phase("oracle"):
            self.expect_types = expected_types(nodes, ways, rels)
        self.warm_up()
        # after the warm-up, so the decode runs warm
        with self.phase("decode_check"):
            nodes_df, ways_df, rels_df = pbf.read_pbf(self.spark, self.path)
            row = nodes_df.agg(F.count(F.lit(1))).crossJoin(
                ways_df.agg(F.count(F.lit(1)))).crossJoin(
                rels_df.agg(F.count(F.lit(1)))).collect()[0]
            decoded = tuple(row)
        if decoded != self.expect_entities:
            raise RuntimeError(f"decoded {decoded} != generated {self.expect_entities}")

    def _write(self, result, out_dir: str) -> None:
        result.combined().withColumn("timestamp", F.lit(GO_ZERO_TS)).write.mode(
            "overwrite").json(out_dir)

    def _run(self, tr):
        eng = Engine.from_pbf(self.spark, self.path)
        with tr.span("engine.plan"):
            result = eng.query(TAGS, with_dictionary=False)
        with tr.span("engine.write"):
            self._write(result, self.out_dir)

    def _check(self, _result) -> bool:
        self.spark.catalog.clearCache()  # the engine's persisted frames
        self.last_types = type_counts(self.out_dir)
        return self.last_types == self.expect_types

    def iterate(self, tr) -> list:
        return [timed_op(self.name, lambda: self._run(tr), self._check)]

    def traced(self, tr) -> list:
        with contextlib.ExitStack() as stack:
            for owner, attr, name in (
                (pbf, "blob_index", "pbf.blob_index"),
                (pbf, "read_pbf", "pbf.decode"),
                (denorm, "denormalize_ways", "denorm.join"),
                (denorm, "format_from_denorm", "denorm.format"),
                (relations, "resolve_relations", "relations.resolve"),
            ):
                stack.enter_context(tr.patch(owner, attr, name))
            return self.iterate(tr)

    def probe(self, tr) -> list:
        self._selectivity()

        def dictionaries():
            # Engine.query with its default dictionaries, up to the merged
            # street and waterway frames the dictionary half builds
            with tr.span("enrich.dictionary"):
                result = Engine.from_pbf(self.spark, self.path).query(TAGS)
                streets = materialize(result.merged_streets)["rows"]
                materialize(result.merged_waterways)
            self.spark.catalog.clearCache()
            return streets

        # every generated way is a named highway, so streets are merged
        return [timed_op("dictionary", dictionaries, lambda streets: streets > 0)]

    def _selectivity(self) -> None:
        """Tag-predicate selectivity and the denorm gate over every way."""
        nodes, ways, rels = pbf.read_pbf(self.spark, self.path)
        q = dsl.parse(TAGS)
        matched = 0
        for df in (nodes, ways, rels):
            tags = dsl.trim_tags(F.col("tags"))
            matched += df.agg(F.sum(dsl.compile_query(q, tags).cast("long"))).collect()[0][0] or 0
        self.match_frac = matched / self.items_per_iteration
        w = ways.agg(F.count(F.lit(1)), F.sum(F.size("refs"))).collect()[0]
        self.refs = w[1]
        kept = denorm.denormalize_ways(
            denorm.prepare_ways(ways), denorm.prepare_nodes(nodes)).count()
        self.complete_frac = kept / max(w[0], 1)

    def layer_metrics(self, traced, counted) -> dict[str, float]:
        index = traced.one("pbf.blob_index")
        decode = traced.one("pbf.decode")
        join = traced.one("denorm.join")
        fmt = traced.one("denorm.format")
        rel = traced.one("relations.resolve")
        plan = [c.one("engine.plan") for c in counted]
        write = [c.one("engine.write") for c in counted]
        plan_s = median([p["s"] for p in plan])
        return {
            "pbf.blob_index_s": index["s"],
            "pbf.blobs": index["items"],
            "pbf.decode_s": decode["s"] - index["s"],
            "pbf.decode.python_s": decode["python_s"],
            "pbf.entities": float(self.items_per_iteration),
            "dsl.match_frac": self.match_frac,
            "denorm.join_s": join["s"] - decode["s"],
            "denorm.refs": float(self.refs),
            "denorm.complete_frac": self.complete_frac,
            "denorm.centroid.python_s": fmt["python_s"],
            "relations.resolve_s": rel["s"] - fmt["s"],
            "relations.jobs": rel["counters"]["jobs"],
            # less the dictionary-free query call, which it contains
            "enrich.dictionary_s": traced.one("enrich.dictionary")["s"] - plan_s,
            "engine.plan_s": plan_s,
            "engine.plan_jobs": median([p["counters"]["jobs"] for p in plan]),
            "engine.write_s": median([w["s"] for w in write]),
            "engine.out_rows": float(sum(self.last_types.values())),
        }
