from elastic_stream_spark.streaming.source import poll_fetch
from elastic_stream_spark.streaming.datasource import StreamLogDataSource
from elastic_stream_spark.streaming.sink import ExactlyOnceAppendSink
from elastic_stream_spark.streaming.pipeline import (
    IncrementalCCAbsorber,
    IncrementalCurationPipeline,
)
from elastic_stream_spark.streaming.stateful import (
    stream_offset_tracker,
    streaming_heavy_hitters,
)
from elastic_stream_spark.streaming.twstate import (
    RunningTotalsProcessor,
    stream_running_totals,
)
from elastic_stream_spark.streaming.metrics import (
    MetricsRecorder,
    metrics_summary,
    read_metrics,
    read_metrics_stream,
)

__all__ = [
    "poll_fetch",
    "ExactlyOnceAppendSink",
    "IncrementalCCAbsorber",
    "IncrementalCurationPipeline",
    "StreamLogDataSource",
    "stream_offset_tracker",
    "streaming_heavy_hitters",
    "RunningTotalsProcessor",
    "stream_running_totals",
    "MetricsRecorder",
    "metrics_summary",
    "read_metrics",
    "read_metrics_stream",
]
