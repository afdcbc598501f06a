"""Metrics pipeline — REPORT_METRICS analogue.

Reference parity: range servers push load gauges to the PD on a timer
(REPORT_METRICS ≙ rpc.fbs:607-638; PD-side store
pd/pkg/server/cluster/rangeserver.go:70-92) and the PD aggregates them
for placement decisions.  The Spark analogue: every streaming query
already emits per-microbatch progress — a ``StreamingQueryListener``
captures it into a metrics log (one small JSON file per batch, the same
file-source layout as the catalog change feed), and ``metrics_summary``
is the PD-style aggregation over it.

The metrics stream is itself streamable (``read_metrics_stream``) — a
monitoring query can watch every other query's throughput live, which is
exactly how the reference's placement driver consumes gauges.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

METRICS_SCHEMA = (
    "ts_ms BIGINT, query_id STRING, query_name STRING, batch_id BIGINT, "
    "num_input_rows BIGINT, input_rows_per_sec DOUBLE, "
    "processed_rows_per_sec DOUBLE, trigger_ms BIGINT, "
    "duration_ms MAP<STRING,BIGINT>, state_rows_total BIGINT, "
    "state_memory_bytes BIGINT"
)


class MetricsRecorder(StreamingQueryListener):
    """Capture per-microbatch progress of every query on the session into
    ``<root>/metrics/`` (register with ``spark.streams.addListener``): the
    whole ``durationMs`` breakdown, and the row count and memory of the
    first state operator (null for a stateless query).
    File name ``<query_id>-<batch_id>.json`` makes replayed batches
    overwrite their own record — at-most-one metrics row per batch."""

    def __init__(self, root: str):
        self.metrics_dir = os.path.join(root, "metrics")
        os.makedirs(self.metrics_dir, exist_ok=True)

    def onQueryStarted(self, event) -> None:  # noqa: N802 (listener API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        durations = p.durationMs or {}
        state = p.stateOperators[0] if p.stateOperators else None
        row = {
            "ts_ms": int(time.time() * 1000),
            "query_id": str(p.id),
            "query_name": p.name,
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "input_rows_per_sec": float(p.inputRowsPerSecond or 0.0),
            "processed_rows_per_sec": float(p.processedRowsPerSecond or 0.0),
            "trigger_ms": int(durations.get("triggerExecution", 0)),
            "duration_ms": {k: int(v) for k, v in durations.items()},
            "state_rows_total": state.numRowsTotal if state else None,
            "state_memory_bytes": state.memoryUsedBytes if state else None,
        }
        path = os.path.join(self.metrics_dir, f"{p.id}-{p.batchId}.json")
        # dot-prefixed staging name: spark file listings (batch and
        # streaming) skip hidden files, so a reader never ingests a
        # half-written row; os.replace makes the visible name atomic.
        tmp = os.path.join(self.metrics_dir, f".{p.id}-{p.batchId}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(row, f)
        os.replace(tmp, path)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    """The metrics log as a batch DataFrame."""
    metrics_dir = os.path.join(root, "metrics")
    if not os.path.isdir(metrics_dir) or not os.listdir(metrics_dir):
        return spark.createDataFrame([], METRICS_SCHEMA)
    return spark.read.schema(METRICS_SCHEMA).json(metrics_dir)


def read_metrics_stream(spark: SparkSession, root: str) -> DataFrame:
    """The metrics log as a STREAMING DataFrame — monitor queries watching
    other queries' throughput (the PD's consumption pattern)."""
    metrics_dir = os.path.join(root, "metrics")
    os.makedirs(metrics_dir, exist_ok=True)
    return spark.readStream.schema(METRICS_SCHEMA).json(metrics_dir)


def metrics_summary(spark: SparkSession, root: str) -> DataFrame:
    """PD-style aggregation over reported gauges: per query, batch count,
    total rows, mean/max processing rate, mean trigger latency."""
    m = read_metrics(spark, root)
    return (
        m.groupBy("query_name")
        .agg(
            F.count("*").alias("n_batches"),
            F.sum("num_input_rows").alias("total_rows"),
            F.round(F.avg("processed_rows_per_sec"), 2).alias("avg_rps"),
            F.round(F.max("processed_rows_per_sec"), 2).alias("max_rps"),
            F.round(F.avg("trigger_ms"), 1).alias("avg_trigger_ms"),
        )
        .orderBy("query_name")
    )
