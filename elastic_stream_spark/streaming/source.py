"""Synchronous long-poll FETCH over the record log.

≙ the reference's long-poll FETCH (docs/sbp.md:220-285): a consumer
blocks until records are committed past its position, then reads a
bounded window.  The streaming form of the same fetch is the
``stream_log`` source (``streaming/datasource.py``).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

from elastic_stream_spark.log import StreamLog


def poll_fetch(
    log: StreamLog,
    stream_id: int,
    start_offset: int,
    max_records: int = 1 << 20,
    min_records: int = 1,
    max_wait_ms: int = 0,
    poll_interval_ms: int = 25,
) -> tuple[DataFrame, int]:
    """Synchronous long-poll FETCH (docs/sbp.md:220-285 ``max_wait_ms`` /
    ``min_bytes`` semantics, record-count units).

    Blocks until at least ``min_records`` are committed past
    ``start_offset`` or ``max_wait_ms`` elapses, then returns
    ``(records_df, end_offset)`` covering at most ``max_records``
    records — the bounded-admission fetch (maxOffsetsPerTrigger
    analogue).  Availability is read from the catalog's CONFIRM offset
    (driver-side metadata, no data scan) — the durable mark advanced
    after a write lands, exactly the reference's long-poll confirm-offset
    wait; polling the reserve-time next_offset instead could return a
    window over an in-flight write.  Only the returned window is planned
    as a partition-pruned log read.
    """
    deadline = time.monotonic() + max_wait_ms / 1000.0
    while True:
        available = log.confirmed_offset(stream_id) - start_offset
        if available >= min_records or time.monotonic() >= deadline:
            break
        time.sleep(poll_interval_ms / 1000.0)
    end = start_offset + min(max(available, 0), max_records)
    return log.fetch(stream_id, start_offset, end), end
