"""Stage checkpointing with per-partition lineage + metrics, resumable
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics ... checkpoints per-partition lineage + metrics to resumable
Iceberg snapshots").

No Iceberg runtime jar ships in this sandbox, so the snapshot layout is an
Iceberg-shaped directory protocol over parquet — an atomic-commit snapshot
log, immutable data files, and a metrics sidecar — behind one class whose
writer/reader can be swapped for `df.writeTo(...).createOrReplace()` /
`spark.read.format("iceberg")` on a cluster where Iceberg is configured
(the call sites don't change).

Layout per (pipeline, stage):

    <root>/<pipeline>/<stage>/
        data/<run_id>/part-*.parquet     immutable data files of one attempt
        metrics/<run_id>/part-*.parquet  per-partition lineage+metrics rows
        _snapshots.json                  append-only commit log; the LAST
                                         entry is the committed snapshot
                                         (atomic rename publish)

Per-partition lineage row: (stage, run_id, partition_id, rows, bytes_est,
min/max of the stage's declared key column, wall_ms, input_stages). This is
what lets an operator prove which input partitions fed which output
snapshot, and lets a resumed run skip completed stages entirely.

The commit is atomic (os.replace of the snapshot log); a crash mid-write
leaves an orphan run_id directory that the next run ignores and can GC.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    """Stage-level snapshot/resume for a named pipeline."""

    def __init__(self, spark: SparkSession, root: str, pipeline: str) -> None:
        self.spark = spark
        self.root = root
        self.pipeline = pipeline

    # --- paths ---------------------------------------------------------------

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, self.pipeline, stage)

    def _log_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_snapshots.json")

    # --- snapshot log --------------------------------------------------------

    def _read_log(self, stage: str) -> list[dict]:
        p = self._log_path(stage)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def _append_log(self, stage: str, entry: dict) -> None:
        entries = self._read_log(stage) + [entry]
        p = self._log_path(stage)
        tmp = p + f".tmp.{uuid.uuid4().hex[:8]}"
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, p)  # atomic publish

    def committed(self, stage: str) -> dict | None:
        """The latest committed snapshot entry for a stage, or None."""
        log = self._read_log(stage)
        return log[-1] if log else None

    # --- write / read --------------------------------------------------------

    def _dir_bytes(self, path: str) -> int:
        """Total bytes of the written files. Driver-local paths walk the
        directory; anything else (hdfs://, s3a://, a mounted view the
        driver can't see) goes through the Hadoop FileSystem API — never a
        silent 0 for non-local storage."""
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
                if not f.startswith((".", "_"))
            )
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(jpath).getLength())

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        key_col: str | None = None,
        input_stages: list[str] | None = None,
        mode: str = "resume",
        input_run_ids: dict[str, str] | None = None,
    ) -> DataFrame:
        """Materialize `df` as the stage's snapshot and return a reader for
        it. mode='resume' returns the existing committed snapshot without
        recompute; mode='overwrite' always recomputes and commits a new one.

        Metrics cost: bytes come from the written files' on-disk sizes
        (exact, free); row counts and key ranges come from one
        column-pruned scan of the written parquet (_pid + key only). No
        path ever re-encodes rows to estimate size."""
        if mode == "resume":
            snap = self.committed(stage)
            if snap is not None:
                return self.read_stage(stage)

        run_id = uuid.uuid4().hex[:12]
        d = self._stage_dir(stage)
        data_dir = os.path.join(d, "data", run_id)
        metrics_dir = os.path.join(d, "metrics", run_id)

        t0 = time.time()
        tagged = df.withColumn("_pid", F.spark_partition_id())
        tagged.write.mode("overwrite").parquet(data_dir)

        # exact byte size from the files already on disk — never a second
        # serialization pass over the rows (the old to_json(struct(*))
        # estimate re-encoded the whole stage output; at 100 TB that
        # second pass costs as much as the stage itself)
        bytes_written = self._dir_bytes(data_dir)

        # lineage metrics re-read only the columns they need (_pid + the
        # key column): a pruned columnar scan, not a row re-encode. The
        # aggregate is one row PER PARTITION — metadata-scale — so the
        # metrics frame is assembled driver-side with no second scan.
        written = self.spark.read.parquet(data_dir)
        aggs = [F.count(F.lit(1)).alias("rows")]
        has_key = key_col is not None and key_col in written.columns
        if has_key:
            written = written.select("_pid", key_col)
            aggs += [
                F.min(key_col).cast("string").alias("key_min"),
                F.max(key_col).cast("string").alias("key_max"),
            ]
        else:
            written = written.select("_pid")
        part_rows = (
            written.groupBy(F.col("_pid").alias("partition_id"))
            .agg(*aggs)
            .collect()
        )
        total_rows = sum(r["rows"] for r in part_rows)
        wall_ms = int((time.time() - t0) * 1000)
        inputs_json = json.dumps(sorted(input_stages or []))
        metrics = self.spark.createDataFrame(
            [
                {
                    "partition_id": r["partition_id"],
                    "rows": r["rows"],
                    # on-disk bytes apportioned by row share: an estimate
                    # that costs nothing, replacing the exact-but-O(data)
                    # per-row JSON re-encode
                    "bytes_est": (
                        bytes_written * r["rows"] // total_rows
                        if total_rows
                        else 0
                    ),
                    **(
                        {"key_min": r["key_min"], "key_max": r["key_max"]}
                        if has_key
                        else {}
                    ),
                    "stage": stage,
                    "run_id": run_id,
                    "wall_ms": wall_ms,
                    "input_stages": inputs_json,
                }
                for r in part_rows
            ],
            schema=(
                "partition_id int, rows long, bytes_est long, "
                + ("key_min string, key_max string, " if has_key else "")
                + "stage string, run_id string, wall_ms long, "
                "input_stages string"
            ),
        )
        metrics.write.mode("overwrite").parquet(metrics_dir)

        self._append_log(
            stage,
            {
                "run_id": run_id,
                "committed_at": time.time(),
                "rows": int(total_rows or 0),
                "bytes": int(bytes_written),
                "key_col": key_col,
                "input_stages": sorted(input_stages or []),
                # the exact upstream snapshot attempts this stage was built
                # against — resume uses this to detect that an upstream was
                # re-run (mode='overwrite' by another invocation, or GC'd
                # and rebuilt) and invalidate this stage instead of serving
                # a snapshot computed from a different input run
                "input_run_ids": dict(input_run_ids or {}),
            },
        )
        return self.read_stage(stage)

    def snapshot_consistent(self, stage: str, input_stages: list[str]) -> bool:
        """True iff `stage` has a committed snapshot whose recorded input
        run_ids match the CURRENTLY committed run_ids of every input stage.
        Snapshots committed before input_run_ids existed (or with missing
        upstreams) are treated as inconsistent — safety first."""
        snap = self.committed(stage)
        if snap is None:
            return False
        expected: dict[str, str] = {}
        for s in input_stages:
            up = self.committed(s)
            if up is None:
                return False
            expected[s] = up["run_id"]
        return snap.get("input_run_ids") == expected

    def read_stage(self, stage: str) -> DataFrame:
        snap = self.committed(stage)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot for stage {stage!r}")
        path = os.path.join(self._stage_dir(stage), "data", snap["run_id"])
        return self.spark.read.parquet(path).drop("_pid")

    def read_metrics(self, stage: str) -> DataFrame:
        snap = self.committed(stage)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot for stage {stage!r}")
        path = os.path.join(self._stage_dir(stage), "metrics", snap["run_id"])
        return self.spark.read.parquet(path)

    def gc_orphans(self, stage: str) -> list[str]:
        """Delete attempt directories never committed (crash leftovers)."""
        import shutil

        live = {e["run_id"] for e in self._read_log(stage)}
        removed = []
        for sub in ("data", "metrics"):
            base = os.path.join(self._stage_dir(stage), sub)
            if not os.path.isdir(base):
                continue
            for run_id in os.listdir(base):
                if run_id not in live:
                    shutil.rmtree(os.path.join(base, run_id))
                    removed.append(f"{sub}/{run_id}")
        return removed


def run_stages(
    mgr: CheckpointManager,
    stages: list[tuple[str, "callable"]],
    mode: str = "resume",
) -> DataFrame:
    """Run a linear pipeline of (stage_name, fn(prev_df|None) -> DataFrame),
    checkpointing each stage; on resume, completed stages are read back
    instead of recomputed. A stage resumes ONLY when its recorded input
    run_ids match the currently committed upstream run_ids
    (snapshot_consistent) — a stale downstream snapshot built against a
    since-replaced upstream is recomputed, and the recompute cascades
    (its own commit changes this stage's run_id, invalidating the next).
    Returns the final stage's frame."""
    prev: DataFrame | None = None
    prev_names: list[str] = []
    for name, fn in stages:
        if mode == "resume" and mgr.snapshot_consistent(name, prev_names):
            prev = mgr.read_stage(name)
        else:
            prev = mgr.write_stage(
                name,
                fn(prev),
                input_stages=prev_names,
                mode="overwrite",
                input_run_ids={
                    s: mgr.committed(s)["run_id"] for s in prev_names
                },
            )
        prev_names = [name]
    return prev
