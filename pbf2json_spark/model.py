"""Schemas for the engine's tables.

Mirrors the reference's data model (pbf2json.go:26-76: Point, jsonNode,
osmpbf entity structs) as columnar Spark schemas.
"""

from __future__ import annotations

from pyspark.sql import types as T

TAGS = T.MapType(T.StringType(), T.StringType())

# --- OSM-style entity tables (reference: pbf2json.go:424-477) ---------------

NODES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("tags", TAGS, True),
    ]
)

WAYS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("tags", TAGS, True),
        # ordered node refs; order is semantic (centroid walk + parity output)
        T.StructField("refs", T.ArrayType(T.LongType()), False),
    ]
)

MEMBER = T.StructType(
    [
        T.StructField("ref", T.LongType(), False),
        T.StructField("mtype", T.StringType(), False),  # node | way | relation
        T.StructField("role", T.StringType(), True),
    ]
)

RELATIONS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("tags", TAGS, True),
        T.StructField("members", T.ArrayType(MEMBER), False),
    ]
)

POINT = T.StructType(
    [
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
    ]
)
