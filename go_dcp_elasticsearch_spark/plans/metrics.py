"""Metrics log (SURVEY.md A17).

Parity with the reference's per-index {index,delete} x {success,error}
Prometheus counters and latency gauges (elasticsearch/bulk/bulk.go:56-63,
572-594; metric/collector.go:82-101). Counters land as one immutable
metadata file per record through the Hadoop FS API (O(ms), control-plane
facts next to the data on HDFS/S3A — see plans.lineage for the rationale);
``read()`` exposes them as a DataFrame and a dashboard is a groupBy away.
``record_counts`` takes a pre-aggregated DataFrame for distributed counting.
A directory holding the retired appended ``metrics.jsonl`` is refused
(metadata.RecordLog).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession

from go_dcp_elasticsearch_spark.plans.lineage import METRICS_SCHEMA


class MetricsLog:
    def __init__(self, spark: SparkSession, path: str):
        from go_dcp_elasticsearch_spark.metadata import RecordLog

        self.spark = spark
        self.path = path.rstrip("/")
        self._log = RecordLog(spark, self.path)

    def record(
        self,
        stage: str,
        index_name: str,
        action: str,
        result: str,
        count: int,
        latency_ms: float = 0.0,
    ) -> None:
        self._log.append({
            "stage": stage,
            "index_name": index_name,
            "action": action,
            "result": result,
            "count": int(count),
            "latency_ms": float(latency_ms),
            "recorded_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        })

    def record_counts(self, df: DataFrame, stage: str, latency_ms: float = 0.0) -> None:
        """Aggregate a (index_name, action, result) DataFrame distributedly,
        then append the (small) grouped counters."""
        rows = df.groupBy("index_name", "action", "result").count().collect()
        for r in rows:
            self.record(stage, r["index_name"], r["action"], r["result"], r["count"], latency_ms)

    def read(self) -> DataFrame:
        recs = self._log.records()
        return self.spark.createDataFrame(
            [tuple(r[f.name] for f in METRICS_SCHEMA.fields) for r in recs],
            schema=METRICS_SCHEMA,
        )
