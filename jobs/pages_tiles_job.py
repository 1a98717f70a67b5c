"""spark-submit entry point for the north-star pipeline (north_rule: "runs
via spark-submit --py-files on multi-executor clusters").

    zip -r /tmp/pbf2json_spark.zip pbf2json_spark
    spark-submit --py-files /tmp/pbf2json_spark.zip \
        jobs/pages_tiles_job.py \
        --n-pages 1000000 --res 12 --checkpoint-root /tmp/ckpt \
        --output /tmp/tiles_out

Stages (each a resumable snapshot with per-partition lineage + metrics —
kill the job at any point and re-submit; completed stages are read back):

    pages    → deterministic page generation (stand-in for the Iceberg scan)
    geocoded → JVM-regex geocode, nulls dropped
    hits     → point-in-polygon join vs the city polygon set
    tiles    → per-tile aggregation at --res

On a real cluster nothing changes except the master/executor config that
spark-submit supplies; the session factory leaves master unset when
SPARK_GRAFT_CPUS is absent.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# on a cluster --py-files puts the package on the path; for a local
# `python jobs/pages_tiles_job.py` run, the repo root does
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pbf2json_spark import iceberg
from pbf2json_spark import pages as pages_mod
from pbf2json_spark import spatial
from pbf2json_spark.checkpoint import CheckpointManager, run_stages


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-pages", type=int, default=1_000_000)
    ap.add_argument(
        "--input",
        default=None,
        help="pages table to read (Iceberg identifier or parquet path, via "
        "iceberg.read_pages); default: deterministic synthetic pages",
    )
    ap.add_argument("--res", type=int, default=12)
    ap.add_argument("--checkpoint-root", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", choices=["resume", "overwrite"], default="resume")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("pages-tiles").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mgr = CheckpointManager(spark, args.checkpoint_root, "pages_tiles")
    polys = pages_mod.city_polygons(spark)

    tiles = run_stages(
        mgr,
        [
            (
                "pages",
                lambda _: (
                    iceberg.read_pages(spark, args.input)
                    if args.input
                    else pages_mod.generate_pages(
                        spark, args.n_pages,
                        partitions=spark.sparkContext.defaultParallelism * 4,
                    )
                ),
            ),
            (
                "geocoded",
                lambda p: pages_mod.geocode(p)
                .filter(F.col("lat").isNotNull())
                .select("url", "lat", "lon"),
            ),
            (
                "hits",
                lambda p: spatial.point_in_polygon_join(p, polys, res=7),
            ),
            (
                "tiles",
                lambda p: spatial.tile_aggregate(
                    p, args.res, [F.count(F.lit(1)).alias("n")]
                ),
            ),
        ],
        mode=args.mode,
    )
    tiles.write.mode("overwrite").parquet(args.output)

    # surface the per-partition lineage/metrics of every stage
    report = {}
    for stage in ("pages", "geocoded", "hits", "tiles"):
        m = mgr.read_metrics(stage).agg(
            F.sum("rows").alias("rows"),
            F.count(F.lit(1)).alias("partitions"),
            F.sum("bytes_est").alias("bytes_est"),
        ).collect()[0]
        report[stage] = {
            "rows": int(m["rows"]), "partitions": int(m["partitions"]),
            "bytes_est": int(m["bytes_est"]),
        }
    print("STAGE_METRICS " + json.dumps(report))


if __name__ == "__main__":
    main()
