"""Lineage / offset metrics table (SURVEY.md §2.7 C9; north rule
"per-partition lineage + metrics").

The reference logged per-cycle counters and threw them away
(/root/reference/etl/core/pipeline.py:204-210, 349-359;
/root/reference/stream_etl/core/processor.py:23-29). Here every merge
appends one row per *input partition* of the batch — (batch_id,
partition_id, rows, keys, min_lsn, max_lsn) — plus a batch-level
summary row, into a queryable lake table. That is the audit trail
that makes a 10^10-event replay debuggable: which executor partition
carried which offset range into which snapshot.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from spark_cdc.lake.merge import MergeResult
from spark_cdc.lake.table import LakeTable

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.StringType(), True),
        T.StructField("batch_id", T.LongType(), True),
        T.StructField("snapshot_id", T.LongType(), True),
        T.StructField("scope", T.StringType(), True),  # 'partition' | 'batch'
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("rows", T.LongType(), True),
        T.StructField("keys", T.LongType(), True),
        T.StructField("min_lsn", T.LongType(), True),
        T.StructField("max_lsn", T.LongType(), True),
        T.StructField("rows_written", T.LongType(), True),
        T.StructField("files_written", T.LongType(), True),
        T.StructField("wall_ms", T.DoubleType(), True),
        # per-phase breakdown of the batch merge (SURVEY §7 Phase 6):
        # plan execution (write) / manifest commit / driver-side plan
        # construction residual. stats_ms timed a batch stats job the
        # merge no longer runs (its own tasks report the stats): new
        # rows leave it null, and the column stays so that existing
        # metrics tables still append.
        T.StructField("stats_ms", T.DoubleType(), True),
        T.StructField("exec_ms", T.DoubleType(), True),
        T.StructField("commit_ms", T.DoubleType(), True),
        T.StructField("plan_ms", T.DoubleType(), True),
    ]
)


class MetricsLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        if LakeTable.exists(path):
            self.table = LakeTable.load(spark, path)
        else:
            self.table = LakeTable.create(spark, path, METRICS_SCHEMA)

    def record(self, res: MergeResult, source_id: str = "default", batch_id: int | None = None) -> None:
        if res.skipped:
            return
        rows = [
            (
                source_id,
                batch_id,
                res.snapshot_id,
                "partition",
                int(p["_pid"]),
                int(p["rows"]),
                int(p["keys"]),
                p["min_lsn"],
                p["max_lsn"],
                None,
                None,
                None,
                None,
                None,
                None,
                None,
            )
            for p in res.partition_lineage
        ]
        rows.append(
            (
                source_id,
                batch_id,
                res.snapshot_id,
                "batch",
                None,
                res.batch_rows,
                res.batch_keys,
                res.min_lsn,
                res.max_lsn,
                res.rows_written,
                res.files_written,
                res.wall_ms,
                None,  # stats_ms
                res.phases.get("exec_ms"),
                res.phases.get("commit_ms"),
                res.phases.get("plan_ms"),
            )
        )
        df = self.spark.createDataFrame(rows, METRICS_SCHEMA)
        self.table.append(df)

    def read(self):
        return self.table.read()
