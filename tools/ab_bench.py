"""Interleaved A/B benchmark of the r3-flagged regression cluster
(VERDICT r3 task 2): run the 7 flagged queries + relation_bbox at sf0.1
against TWO checkouts of this repo (r02-era commit vs HEAD) in strictly
alternating fresh JVMs, each run carrying its own pure-compute calibration
— so host-regime drift (the r02→r03 confound: no r02 calibration exists)
cancels out of the comparison by construction.

Usage: python tools/ab_bench.py <old_worktree_dir> [rounds]
Prints one JSON line: per-query best-of times for old/new, calib for each
run, and calib-normalized ratios.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

QUERIES = [
    "pip_join_rect", "knn_grid", "geocode_tile", "tile_aggregate",
    "jaccard_pairs", "minhash_pairs", "windowed_events", "relation_bbox",
]
if os.environ.get("AB_QUERIES"):
    QUERIES = os.environ["AB_QUERIES"].split(",")

CHILD = r"""
import json, sys, time
sys.path.insert(0, ".")
from pbf2json_spark.session import get_spark
from pyspark.sql import functions as F
import __spark_entry__ as entry_mod

names = json.loads(sys.argv[1])
sf_dir = "/root/testdata/sf0.1"
spark = get_spark("ab-bench")
spark.sparkContext.setLogLevel("ERROR")
# r02's entry module predates extra_queries()
extra = getattr(entry_mod, "extra_queries", lambda: {})()
queries = {**entry_mod.queries(), **extra}

def consume(df):
    # the noop sink runs the whole plan; a count(*) lets Catalyst prune it
    df.write.format("noop").mode("overwrite").save()

def calib_plan():
    df = spark.range(0, 200_000_000, 1, 128)
    x = F.col("id")
    for i in range(8):
        x = F.xxhash64(x, F.lit(i))
    return df.select(F.sum(F.pmod(x, F.lit(1000))))

calib_plan().collect()
t0 = time.time(); calib_plan().collect(); calib = time.time() - t0

out = {}
for name in names:
    q = queries.get(name)
    if q is None:
        out[name] = None
        continue
    consume(q(spark, sf_dir))  # warm: analysis + codegen
    best = None
    for _ in range(2):
        t0 = time.time()
        consume(q(spark, sf_dir))
        sec = time.time() - t0
        best = sec if best is None or sec < best else best
    out[name] = round(best, 3)
print(json.dumps({"queries": out, "calib": round(calib, 3)}))
"""


def run_leg(repo_dir: str) -> dict:
    env = dict(os.environ)
    out = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(QUERIES)],
        capture_output=True, text=True, env=env, cwd=repo_dir, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    old_dir = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    new_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    legs: dict[str, list[dict]] = {"old": [], "new": []}
    for i in range(rounds):
        # alternate starting side each round so slow host windows hit
        # both sides symmetrically
        order = [("old", old_dir), ("new", new_dir)]
        if i % 2:
            order.reverse()
        for tag, d in order:
            legs[tag].append(run_leg(d))
            print(f"round {i} {tag}: {legs[tag][-1]}", file=sys.stderr)

    def best(tag: str, name: str) -> float | None:
        vals = [r["queries"].get(name) for r in legs[tag]]
        vals = [v for v in vals if v is not None]
        return min(vals) if vals else None

    calib = {t: statistics.median(r["calib"] for r in legs[t]) for t in legs}
    result = {"calib_old": calib["old"], "calib_new": calib["new"],
              "queries": {}}
    for name in QUERIES:
        o, n = best("old", name), best("new", name)
        row = {"old": o, "new": n}
        if o and n:
            row["ratio"] = round(n / o, 3)
            row["ratio_norm"] = round((n / calib["new"]) / (o / calib["old"]), 3)
        result["queries"][name] = row
    print(json.dumps(result))


if __name__ == "__main__":
    main()
