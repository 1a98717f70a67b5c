"""SparkSession factory with scale-oriented defaults.

Defaults here are chosen for the 100 TB design point and merely *sized down*
for local[n] testing:
  - AQE on (runtime coalesce, skew-join splitting) — replaces hand-tuned
    partition counts on a real cluster;
  - Arrow on — every Python<->JVM crossing in this engine is a vectorized
    pandas UDF, never row-at-a-time;
  - mapKeyDedupPolicy LAST_WIN — tag maps may produce duplicate keys after
    trimming, matching the reference's last-write-wins Go map semantics
    (pbf2json.go trimTags:1277-1283).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "pbf2json_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster it is supplied by spark-submit and must be left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)

    cores = _local_cores(master)
    if shuffle_partitions is None:
        # ~2 waves of tasks per shuffle locally; on a cluster AQE coalesces.
        shuffle_partitions = max(2 * cores, 8) if cores else 200

    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE re-coalesce the output partitioning of persisted frames
        # (persist() otherwise pins the static shuffle-partition count)
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # all pandas UDFs here are batch-vectorized numpy kernels: bigger
        # Arrow batches amortize the per-batch Python/serialization overhead
        # (~20% on the PIP verify stage, measured); 64k rows of a few
        # doubles is still well under executor memory pressure
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        "spark.sql.session.timeZone": "UTC",
        # session-local state only; harmless on a cluster where it is set
        # by the deployment instead.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _local_cores(master: str | None) -> int | None:
    if master is None:
        # no master and no spark-submit → Spark resolves to local[*]; size
        # the shuffle for the local machine. Under spark-submit the master
        # comes from the environment and this branch is not local[*] — but
        # there the deployment sets spark.sql.shuffle.partitions itself
        # (and AQE coalesces at runtime regardless).
        if os.environ.get("SPARK_SUBMIT_OPTS") or os.environ.get("SPARK_MASTER_URL"):
            return None
        return os.cpu_count() or 8
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return None
    return None


# HotSpot compiles no method larger than this many bytes of bytecode
# (-XX:+DontCompileHugeMethods, on by default): such a method stays in the
# bytecode interpreter for the life of the JVM.
JIT_HUGE_METHOD_BYTES = 8000


def codegen_method_bytes(df: DataFrame) -> list[int]:
    """Largest generated method, in bytes of bytecode, of each
    whole-stage-codegen subtree of ``df``'s physical plan. A subtree above
    ``JIT_HUGE_METHOD_BYTES`` runs interpreted. AQE is off while the plan is
    built (an adaptive plan shows its stages only once it has run) and
    restored afterwards; the query is planned and compiled, not run."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    aqe = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        # a fresh Dataset, so its QueryExecution is planned with AQE off
        plan = df.select("*")._jdf.queryExecution().executedPlan()
        debug = spark._jvm.org.apache.spark.sql.execution.debug.package
        subtrees = debug.codegenStringSeq(plan)
        return [subtrees.apply(i)._3().maxMethodCodeSize() for i in range(subtrees.size())]
    finally:
        spark.conf.set(key, aqe)
