"""Lineage/checkpoint log (SURVEY.md A18).

The reference forces DCP checkpointing to manual (connector.go:186) and
commits vBucket offsets only AFTER the sink acknowledged the flushed batch
(bulk.go:320-332); crash before commit => replay => at-least-once, made
idempotent by keyed upserts (docs/06_bulk_processor_.md:98).

Batch-engine equivalent: each build stage writes its output as a
deterministic partition overwrite, then appends one lineage record. Resume =
skip stages whose lineage records exist; a partially-written stage without a
record is simply overwritten on re-run (idempotent).

Storage: one immutable metadata FILE per commit record under the log
directory (the Delta/Iceberg metadata pattern), written through the Hadoop
FileSystem API — so the commit log lives NEXT TO THE DATA on HDFS/S3A
instead of only on the driver's local disk (the reference likewise persists
its checkpoint in the metadata bucket, connector.go:186), and a driver
replacement keeps the log. Per-record files rather than an appended JSONL
because append() is unsupported on S3A and other Hadoop filesystems.
Still O(ms) per commit, not a Spark job. A log directory holding the
retired appended ``lineage.jsonl`` is refused (metadata.RecordLog); rebuild
the index. ``read()`` exposes a DataFrame.
"""

from __future__ import annotations

import datetime
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_id", LongType(), False),
        StructField("rows_out", LongType(), False),
        StructField("run_id", StringType(), False),
        StructField("committed_at", StringType(), False),
    ]
)


class LineageLog:
    def __init__(self, spark: SparkSession, path: str):
        from go_dcp_elasticsearch_spark.metadata import RecordLog

        self.spark = spark
        self.path = path.rstrip("/")
        self.run_id = uuid.uuid4().hex[:12]
        self._log = RecordLog(spark, self.path)

    def commit(self, stage: str, partition_id: int, rows_out: int) -> None:
        # one immutable file per record (metadata.RecordLog): durable and
        # visible atomically on close — the ack-gated commit point
        # (bulk.go:320-332 parity), portable to HDFS/S3A; compacted into
        # checkpoints so long streaming runs don't accumulate tiny files
        self._log.append({
            "stage": stage,
            "partition_id": int(partition_id),
            "rows_out": int(rows_out),
            "run_id": self.run_id,
            "committed_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        })

    def _records(self) -> list[dict]:
        return self._log.records()

    def record_count(self) -> int:
        """Number of committed records — a cheap monotonic INDEX EPOCH:
        every index mutation (build stage, incremental apply, compaction)
        commits lineage, so a changed count means the layout moved. One
        directory listing (checkpoint totals ride the file names)."""
        return self._log.count()

    def completed_stages(self) -> set[str]:
        return {r["stage"] for r in self._records()}

    def completed_partitions(self, stage: str) -> set[int]:
        return {r["partition_id"] for r in self._records() if r["stage"] == stage}

    def read(self):
        recs = self._records()
        return self.spark.createDataFrame(
            [tuple(r[f.name] for f in LINEAGE_SCHEMA.fields) for r in recs],
            schema=LINEAGE_SCHEMA,
        )


METRICS_SCHEMA = StructType(  # re-exported for plans.metrics
    [
        StructField("stage", StringType(), False),
        StructField("index_name", StringType(), False),
        StructField("action", StringType(), False),
        StructField("result", StringType(), False),
        StructField("count", LongType(), False),
        StructField("latency_ms", DoubleType(), False),
        StructField("recorded_at", StringType(), False),
    ]
)
