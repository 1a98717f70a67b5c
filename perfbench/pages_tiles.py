"""``pages_tiles``: the north-star pages job.

generate_pages(seed) → geocode + non-null filter → point_in_polygon_join
against one rectangle around each hot city → tile_aggregate(res=12),
consumed by one aggregate. One long codegen job with skewed hot cells:
``pages``, ``cells`` and ``spatial`` do nearly all the work.

Oracle: the rectangles are disjoint and axis-aligned, so the summed tile
counts must equal a plain lat/lon range filter over the geocoded points,
provided no point lies on a rectangle edge (checked in set-up).

The traced run also feeds the same geocoded pages to the two geo layers
the pipeline does not call: ``spatial.knn_join`` (the nearest pages to
each hot-city centre) and ``raster.rasterize_boxes`` (a small box around
every page, burned onto the res-12 grid). Both are checked against a
DuckDB brute force over the same points.
"""

from __future__ import annotations

import contextlib
import os
import time

import duckdb
from pyspark.sql import functions as F

from harness import digest
from pbf2json_spark import cells, pages, raster, spatial
from tracing import materialize
from workload import Workload, timed_op

N_PAGES = 200_000
TILE_RES = 12
HALF_SIDE = 0.15
K_NEAREST = 10
# e-notation keeps every literal DOUBLE in both Spark and DuckDB
BOX_EXPRS = (
    "lat - 1.0e-2 AS lat_min", "lon - 1.0e-2 AS lon_min",
    "lat + 1.0e-2 AS lat_max", "lon + 1.0e-2 AS lon_max", "1 AS weight",
)
# the metric knn_join computes for metric='sq_deg', in the same IEEE op order
_KNN_ORACLE = """
SELECT query_id, dist FROM (
  SELECT query_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist) AS rnk
  FROM (SELECT q.query_id,
               (p.lat - q.lat) * (p.lat - q.lat) + (p.lon - q.lon) * (p.lon - q.lon) AS dist
        FROM pts p CROSS JOIN qs q))
WHERE rnk <= {k}
"""


def city_rects() -> list[tuple[int, float, float, float, float]]:
    """(polygon_id, lat0, lon0, lat1, lon1), one per hot city."""
    return [
        (i, lat - HALF_SIDE, lon - HALF_SIDE, lat + HALF_SIDE, lon + HALF_SIDE)
        for i, (lat, lon, _w) in enumerate(pages.HOT_CENTERS)
    ]


def centres() -> list[tuple[int, float, float]]:
    """(query_id, lat, lon) of each hot city: the kNN queries."""
    return [(i, lat, lon) for i, (lat, lon, _w) in enumerate(pages.HOT_CENTERS)]


def polygons_frame(spark):
    rows = []
    for pid, lat0, lon0, lat1, lon1 in city_rects():
        corners = [(lat0, lon0), (lat0, lon1), (lat1, lon1), (lat1, lon0), (lat0, lon0)]
        rows.append((pid, [{"lat": a, "lon": o} for a, o in corners]))
    return spark.createDataFrame(
        rows, "polygon_id long, ring array<struct<lat:double,lon:double>>"
    )


class PagesTiles(Workload):
    name = "pages_tiles"
    items_per_iteration = N_PAGES
    # after a single warm-up the first timed iteration still ran 20-40%
    # slow (JIT, first touch of the pinned heap), so wall_s split between
    # runs that timed two iterations and runs that timed three
    warmup_iterations = 2

    def _geocoded(self):
        parts = self.spark.sparkContext.defaultParallelism * 4
        pg = pages.generate_pages(self.spark, N_PAGES, seed=self.seed, partitions=parts)
        return pages.geocode(pg).filter(F.col("lat").isNotNull())

    def _tiles(self):
        g = self._geocoded()
        hits = spatial.point_in_polygon_join(g.select("url", "lat", "lon"), self.polys)
        return spatial.tile_aggregate(hits, TILE_RES, [F.count(F.lit(1)).alias("n")])

    def setup(self) -> None:
        self.polys = polygons_frame(self.spark)
        lat, lon = F.col("lat"), F.col("lon")
        inside = edge = F.lit(False)
        for _pid, lat0, lon0, lat1, lon1 in city_rects():
            inside = inside | ((lat > lat0) & (lat < lat1) & (lon > lon0) & (lon < lon1))
            in_lat, in_lon = lat.between(lat0, lat1), lon.between(lon0, lon1)
            edge = edge | (((lat == lat0) | (lat == lat1)) & in_lon) | (
                ((lon == lon0) | (lon == lon1)) & in_lat)
        with self.phase("oracle"):
            row = self._geocoded().agg(
                F.count(F.lit(1)).alias("geocoded"),
                F.sum(inside.cast("long")).alias("inside"),
                F.sum(edge.cast("long")).alias("edge"),
            ).collect()[0]
        if row["edge"] != 0:
            raise RuntimeError(f"seed {self.seed}: {row['edge']} points on a polygon edge")
        self.geocoded_rows = row["geocoded"]
        self.expect_hits = row["inside"]
        self.warm_up()

    def _run(self, tr):
        with tr.span(self.name):
            return self._tiles().agg(
                F.count(F.lit(1)).alias("tiles"), F.sum("n").alias("hits")
            ).collect()[0]

    def iterate(self, tr) -> list:
        return [timed_op(self.name, lambda: self._run(tr),
                         lambda r: r["tiles"] > 0 and r["hits"] == self.expect_hits)]

    def traced(self, tr) -> list:
        with contextlib.ExitStack() as stack:
            # boundaries read the columns the next layer reads
            for owner, attr, name, columns in (
                (pages, "generate_pages", "pages.generate", ("url", "text")),
                (pages, "geocode", "pages.geocode", ("url", "lat", "lon")),
                (spatial, "point_in_polygon_join", "spatial.pip", ("lat", "lon")),
                (spatial, "tile_aggregate", "spatial.tile_agg", None),
            ):
                stack.enter_context(tr.patch(owner, attr, name, columns))
            # the cover the join builds, kept for the candidate funnel
            stack.enter_context(tr.patch(
                spatial, "_polygon_cells", "spatial.pip.cover", materialize_output=False))
            return self.iterate(tr)

    def probe(self, tr) -> list:
        self._encode_and_funnel(tr)
        return self._geo_stages(tr)

    def _encode_and_funnel(self, tr) -> None:
        """Counters the pipeline does not expose: cell-encode cost and the
        point-in-polygon candidate funnel (cover cells → candidates →
        interior skips → hits) of the cover the join itself built."""
        g = self._geocoded()
        t0 = time.perf_counter()
        materialize(g, ("lat", "lon"))
        t1 = time.perf_counter()
        materialize(g.select(
            "lat", "lon", cells.cell_col(F.col("lat"), F.col("lon"), TILE_RES).alias("c")))
        t2 = time.perf_counter()
        self.encode_s = (t2 - t1) - (t1 - t0)

        (_polys, res), _kw, cover = tr.calls["spatial.pip.cover"]
        cover = cover.select("cell", "_full")
        self.cover_cells = cover.count()
        pts = g.select(cells.cell_col(F.col("lat"), F.col("lon"), res).alias("cell"))
        cand = pts.join(F.broadcast(cover), "cell").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_full").cast("long")).alias("interior"),
        ).collect()[0]
        self.candidates = cand["n"]
        self.interior = cand["interior"] or 0

    def _geo_oracles(self) -> None:
        """DuckDB brute force over the geocoded points, once per run."""
        path = os.path.join(self.workdir, "geocoded.parquet")
        self._geocoded().select("lat", "lon").write.parquet(path)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW pts AS SELECT * FROM '{path}/*.parquet'")
        con.execute("CREATE TABLE qs (query_id BIGINT, lat DOUBLE, lon DOUBLE)")
        con.executemany("INSERT INTO qs VALUES (?, ?, ?)", centres())
        self.expect_knn = sorted(con.execute(_KNN_ORACLE.format(k=K_NEAREST)).fetchall())
        boxes = "SELECT " + ", ".join(BOX_EXPRS) + " FROM pts"
        self.expect_raster = digest(
            con.execute(raster.rasterize_boxes_sql(boxes, TILE_RES)).df())
        con.close()

    def _geo_stages(self, tr) -> list:
        if not hasattr(self, "expect_knn"):
            self._geo_oracles()
        g = self._geocoded().select("url", "lat", "lon")
        qs = self.spark.createDataFrame(
            centres(), "query_id long, lat double, lon double")

        def nearest():
            with tr.patch(spatial, "knn_join", "spatial.knn", ("query_id", "dist_m")):
                out = spatial.knn_join(g, qs, k=K_NEAREST, point_id="url", metric="sq_deg")
            return sorted((r[0], r[1]) for r in out.select("query_id", "dist_m").collect())

        def rasterize():
            with tr.patch(raster, "rasterize_boxes", "raster.rasterize"):
                out = raster.rasterize_boxes(g.selectExpr(*BOX_EXPRS), TILE_RES)
            return digest(out.toPandas())

        return [
            timed_op("nearest", nearest, lambda got: got == self.expect_knn),
            timed_op("raster", rasterize, lambda got: got == self.expect_raster),
        ]

    def layer_metrics(self, traced, counted) -> dict[str, float]:
        gen = traced.one("pages.generate")["s"]
        geo = traced.one("pages.geocode")["s"]
        pip = traced.one("spatial.pip")
        tile = traced.one("spatial.tile_agg")["s"]
        knn = traced.one("spatial.knn")
        cand = max(self.candidates, 1)
        return {
            "pages.generate_s": gen,
            "pages.geocode_s": geo - gen,
            "pages.geocoded_rows": float(self.geocoded_rows),
            "cells.encode_s": self.encode_s,
            "spatial.pip_s": pip["s"] - geo,
            "spatial.pip.cover_cells": float(self.cover_cells),
            "spatial.pip.candidates": float(self.candidates),
            "spatial.pip.interior_frac": self.interior / cand,
            "spatial.pip.precision": pip["rows"] / cand,
            "spatial.tile_agg_s": tile - pip["s"],
            # both read the geocoded pages: self time is past that boundary
            "spatial.knn_s": knn["s"] - geo,
            "spatial.knn.jobs": knn["counters"]["jobs"],
            "raster.rasterize_s": traced.one("raster.rasterize")["s"] - geo,
        }
