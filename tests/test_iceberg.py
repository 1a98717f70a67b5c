from __future__ import annotations

import glob

from pyspark.sql import functions as F

from pbf2json_spark import iceberg, pages


def test_iceberg_gate_and_parquet_fallback(spark, tmp_path):
    """No Iceberg runtime in this sandbox → the capability gate must say so
    and the read/write round-trip must fall back to partitioned parquet with
    identical DataFrame semantics."""
    assert iceberg.iceberg_available(spark) is False
    assert iceberg.classpath_has_iceberg_jar() is False
    conf = iceberg.catalog_conf("/tmp/wh")
    assert conf["spark.sql.catalog.local.type"] == "hadoop"

    pg = pages.generate_pages(spark, 500).withColumn("day", F.to_date("warc_ts"))
    loc = str(tmp_path / "pages_tbl")
    iceberg.write_pages(pg, loc, mode="overwrite", partition_cols=("day",))
    back = iceberg.read_pages(spark, loc)
    assert back.count() == 500
    assert set(back.columns) == set(pg.columns)
    # directory partitioning actually happened (the pruning-relevant part)
    assert glob.glob(f"{loc}/day=*")
