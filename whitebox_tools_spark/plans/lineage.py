"""Per-partition lineage + checkpoint/resume driver (north-rule item).

A long job over 10^12 docs is partitioned by a key (tile prefix, cell
prefix, file split, ...). `CheckpointedRun` executes the job one
partition-group at a time, recording per-partition lineage + metrics
(status, rows, wall seconds, throughput) to a checkpoint table. A
re-run with the same run_id skips every COMPLETED partition — resume
from any completed partition, exactly as the north rule requires.

Storage: Parquet directory-per-table with an append-only `_lineage`
log. On an Iceberg-enabled cluster, point `base` at an Iceberg table
location (or swap `_write`/`_read` for `writeTo(...).append()`) — the
driver logic is identical; snapshots then also give time travel.
The lineage write is atomic-enough per partition (one file per
partition attempt, content-addressed name), so a killed job never
corrupts the log: incomplete partitions simply re-run.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .driver import local_frame

LINEAGE_SCHEMA = (
    "run_id string, partition_key string, status string, rows bigint, "
    "seconds double, rows_per_sec double, attempt string, finished_at string"
)


@dataclass
class CheckpointedRun:
    spark: SparkSession
    base: str  # checkpoint root directory (lineage log always lives here)
    run_id: str
    # "parquet": directory-per-partition under base/output (default, runs
    # anywhere). "iceberg": append/overwritePartitions into
    # `iceberg_table` via the DataFrameWriterV2 API — requires an
    # Iceberg-enabled session (spark.sql.catalog.* configured); the
    # sandbox has no Iceberg runtime, so this path is exercised by a
    # writer-sequence pytest and documented for cluster use.
    table_format: str = "parquet"
    iceberg_table: str | None = None  # catalog.db.table for table_format="iceberg"

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.base, "_lineage")

    @property
    def output_dir(self) -> str:
        return os.path.join(self.base, "output")

    # -- lineage log ---------------------------------------------------

    def completed_partitions(self) -> set[str]:
        if not os.path.isdir(self.lineage_dir):
            return set()
        done = set()
        for fn in os.listdir(self.lineage_dir):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(self.lineage_dir, fn)) as f:
                rec = json.load(f)
            if rec["run_id"] == self.run_id and rec["status"] == "COMPLETED":
                done.add(rec["partition_key"])
        return done

    def _log(self, rec: dict) -> None:
        os.makedirs(self.lineage_dir, exist_ok=True)
        name = f"{rec['partition_key']}-{rec['attempt']}.json"
        tmp = os.path.join(self.lineage_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, os.path.join(self.lineage_dir, name))  # atomic publish

    def lineage_df(self) -> DataFrame:
        recs = []
        if os.path.isdir(self.lineage_dir):
            for fn in os.listdir(self.lineage_dir):
                if fn.endswith(".json"):
                    with open(os.path.join(self.lineage_dir, fn)) as f:
                        recs.append(json.load(f))
        return local_frame(self.spark, recs, LINEAGE_SCHEMA)

    # -- partition sink ------------------------------------------------

    def _write_partition(self, df: DataFrame, key: str, mode: str) -> int:
        """Write one partition's result, return its row count.

        parquet: base/output/partition_key=<key>/ (hive-style dir).
        iceberg: the partition_key column is stamped on and the V2
        writer targets `iceberg_table` — overwritePartitions() for
        mode="overwrite" (idempotent re-runs replace only this
        partition's files via Iceberg's dynamic partition overwrite),
        append() otherwise. Snapshot isolation makes the attempt atomic;
        the table should be PARTITIONED BY (partition_key)."""
        if self.table_format == "iceberg":
            if not self.iceberg_table:
                raise ValueError("iceberg_table required for table_format='iceberg'")
            stamped = df.withColumn("partition_key", F.lit(key))
            writer = stamped.writeTo(self.iceberg_table)
            if mode == "overwrite":
                writer.overwritePartitions()
            else:
                writer.append()
            return (self.spark.table(self.iceberg_table)
                    .where(F.col("partition_key") == key).count())
        out = os.path.join(self.output_dir, f"partition_key={key}")
        df.write.mode(mode).parquet(out)
        return self.spark.read.parquet(out).count()

    # -- execution -----------------------------------------------------

    def run(
        self,
        partition_keys: list[str],
        job: Callable[[SparkSession, str], DataFrame],
        mode: str = "overwrite",
    ) -> dict:
        """Run `job(spark, key)` for every partition key not yet
        COMPLETED under this run_id; write each result to
        output/partition_key=<key>/ and append lineage."""
        done = self.completed_partitions()
        stats = {"skipped": 0, "completed": 0, "failed": 0}
        for key in partition_keys:
            if key in done:
                stats["skipped"] += 1
                continue
            attempt = uuid.uuid4().hex[:8]
            t0 = time.time()
            try:
                df = job(self.spark, key)
                rows = self._write_partition(df, key, mode)
                dt = time.time() - t0
                self._log(
                    {
                        "run_id": self.run_id,
                        "partition_key": key,
                        "status": "COMPLETED",
                        "rows": rows,
                        "seconds": dt,
                        "rows_per_sec": rows / dt if dt > 0 else 0.0,
                        "attempt": attempt,
                        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    }
                )
                stats["completed"] += 1
            except Exception as exc:  # noqa: BLE001 — record, continue
                self._log(
                    {
                        "run_id": self.run_id,
                        "partition_key": key,
                        "status": f"FAILED: {type(exc).__name__}",
                        "rows": -1,
                        "seconds": time.time() - t0,
                        "rows_per_sec": 0.0,
                        "attempt": attempt,
                        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    }
                )
                stats["failed"] += 1
        return stats
