"""DQ audit persistence + gate-status rollup (SURVEY Q12/Q15/Q16).

Reference: append-only ``dq_audit.quality_results`` /
``profile_metrics`` tables partitioned by (run_date, layer)
(/root/reference ``spark/jobs/dq/dq_utils.py:63-152,275-303``) and the
upstream-gate query MAX(CASE WHEN status IN ('FAILED','ERROR')...)
GROUP BY run_id ORDER BY run_id DESC LIMIT 1 (``dq_utils.py:214-231``,
A8/Q12).

Local backend: partitioned parquet under a warehouse dir; at scale the
same writer targets an Iceberg/Delta catalog table (append is the only
verb used, so the swap is a format string).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checks import DQGateResult, results_df


class AuditWriter:
    def __init__(self, warehouse_dir: str):
        self.warehouse_dir = warehouse_dir

    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse_dir, "dq_audit", table)

    def write_gate(self, spark: SparkSession, gate: DQGateResult, run_date: str) -> None:
        # results_df is one partition, so the append is one job of one
        # task with no shuffle
        (
            results_df(spark, gate)
            .withColumn("run_date", F.lit(run_date))
            .write.mode("append")
            .partitionBy("run_date", "layer")
            .parquet(self._path("quality_results"))
        )

    def read_results(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._path("quality_results"))

    def latest_gate_blocked(self, spark: SparkSession, layer: str) -> bool | None:
        """Q12/A8: does the most recent run for ``layer`` contain a
        blocking status? None when no runs exist."""
        path = self._path("quality_results")
        # probe absence explicitly instead of a catch-everything around the
        # read: a transient read failure (torn footer, fs hiccup) must NOT
        # be mistaken for "no runs exist" — that would silently OPEN the
        # gate on data whose latest audit may be FAILED
        from ..operators.merge import path_exists

        if not path_exists(spark, path):
            return None
        df = spark.read.parquet(path)
        rolled = (
            df.filter(F.col("layer") == layer)
            .groupBy("run_id")
            .agg(
                F.max(
                    F.when(F.col("status").isin("FAILED", "ERROR"), 1).otherwise(0)
                ).alias("blocked")
            )
            # two-level order: time-ordered ids (20-digit ns prefix,
            # pipeline._new_run_id) always outrank LEGACY ids (random
            # uuid hex / 'cycleNNNN') — digits sort BELOW letters in
            # ASCII, so a plain ORDER BY run_id DESC in an upgraded
            # append-only table would keep picking a stale legacy run
            # forever; within the new format lexicographic == start
            # order, and among legacy-only rows order stays what it
            # always was (arbitrary, as random uuids admit no better)
            .orderBy(
                F.col("run_id").rlike("^[0-9]{20}-").desc(),
                F.col("run_id").desc(),
            )
            .limit(1)
            .collect()
        )
        if not rolled:
            return None
        return bool(rolled[0]["blocked"])
