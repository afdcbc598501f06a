"""Record-count-admitted Structured Streaming source (Python Data Source).

≙ the reference's FETCH record/byte budget with long-poll
(docs/sbp.md:220-285): every production consumer's first knob is "at most
N records per poll".  This is the log's one Structured Streaming source,
built on the PySpark Python Data Source API (SPARK-44076, pyspark 4.x):
stream offsets ARE the source's offsets, so record admission is exact —
each window ends at most ``maxRecordsPerTrigger`` past the start Spark
hands the reader, the ``maxOffsetsPerTrigger`` contract Kafka consumers
rely on.  A subscription may start before the stream's first append.

Plan shape: the admitted window is read on the driver.  The reader is a
``SimpleDataSourceStreamReader``, which pyspark runs in the driver's
long-lived Python runner: when Spark asks for the latest offset,
``read(start)`` admits the window's end (``admit``) and reads its rows
as Arrow batches with ``log.scan_range`` over each overlapping catalog
range (``log.range_slices``) — the same per-range scan
``StreamLog.fetch_table`` uses, opening only the files whose footer
offset span overlaps the window.  The runner caches the batches and
hands them to the JVM when the microbatch is planned, so the source
stage is a JVM-only task with no Python worker (the reference's FETCH
likewise serves data from the range server straight to the client).
The start of each read is Spark's own checkpointed offset, so a
restarted query resumes admission where it stopped.  A batch planned
but not committed before a restart is replayed by
``readBetweenOffsets(start, end)``: the same window through the same
read, run in an executor's Python worker (Structured Streaming's
replayable-source contract).  Availability comes from the catalog's
confirm offset (driver-side metadata read, no data scan, no directory
listing) — discovery cost is O(1) per trigger regardless of log size.

Trade-off: every admitted window passes through the driver, as every
microbatch of ``ExactlyOnceAppendSink`` already does, and an uncapped
subscription reads its whole backlog there in one trigger.  Cap it when
the backlog may not fit.  There is no default cap: the caps do not
combine with ``availableNow`` (below), so a default would cut short
every uncapped drain.

Usage::

    spark.dataSource.register(StreamLogDataSource)
    sdf = (spark.readStream.format("stream_log")
           .option("root", catalog_root)
           .option("streamId", 3)            # or .option("streamIds", "3,7,9")
           .option("startOffset", 0)
           .option("maxRecordsPerTrigger", 500)
           .option("maxBytesPerTrigger", 1_000_000)  # hard cap (row-group priced)
           .load())

The two caps do not combine with ``trigger(availableNow=True)``: pyspark
4.1's Python stream reader has no admission-control hook, so the reader
cannot tell which trigger it runs under, and an availableNow query ends
after its first capped window, leaving the rest of the backlog unread.
For a capped drain use a processing-time trigger and
``processAllAvailable()``.

Multi-stream subscription (≙ FETCH's N-streams-per-request batching,
docs/sbp.md:220-285; batch layout range-server/src/handler/append.rs:21-29):
``streamIds`` takes a comma-separated list; source offsets become a
per-stream map, a microbatch is the union of per-stream range slices,
and the record-admission budget is split fairly across streams
with backlog (waterfall allocation in stream-id order — total admitted
per trigger never exceeds ``maxRecordsPerTrigger``).  Single-stream
subscriptions keep the scalar offset format, so existing checkpoints
resume unchanged.

Exactly-once downstream is unchanged: pair with
``ExactlyOnceAppendSink`` or any idempotent ``foreachBatch``.
"""

from __future__ import annotations

import math
import os
from typing import Iterator

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.pandas.types import to_arrow_schema

from elastic_stream_spark.catalog import StreamCatalog, StreamNotFound
from elastic_stream_spark.log import (
    RECORD_SCHEMA,
    range_slices,
    records_root,
    scan_range,
    stream_row_groups,
)

# log.RECORD_SCHEMA with every column nullable
SOURCE_SCHEMA = T.StructType([T.StructField(f.name, f.dataType) for f in RECORD_SCHEMA])


def fair_split(backlog: dict[int, int], budget: int) -> dict[int, int]:
    """Waterfall allocation of ``budget`` records over per-stream
    backlogs, iterating in stream-id order.  Invariants (property-tested):
    Σ admitted == min(budget, Σ backlog); 0 ≤ admitted[s] ≤ backlog[s];
    no stream is short-changed unless the budget ran out (any stream left
    with backlog implies the full budget was spent)."""
    admitted = {s: 0 for s in backlog}
    backlog = dict(backlog)
    remaining = budget
    while remaining > 0:
        active = [s for s in sorted(backlog) if backlog[s] > 0]
        if not active:
            break
        share = max(1, remaining // len(active))
        for s in active:
            take = min(share, backlog[s], remaining)
            admitted[s] += take
            backlog[s] -= take
            remaining -= take
            if remaining == 0:
                break
    return admitted


class StreamLogStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict, schema: T.StructType = SOURCE_SCHEMA):
        self.arrow_schema = to_arrow_schema(schema)
        self.root = options["root"]
        self.catalog = StreamCatalog(self.root)
        self.records_root = records_root(self.root)
        ids = options.get("streamids", options.get("streamid"))
        if ids is None:
            raise ValueError("stream_log source needs streamId or streamIds")
        self.stream_ids = [int(s) for s in str(ids).split(",") if s.strip() != ""]
        if len(self.stream_ids) != len(set(self.stream_ids)):
            raise ValueError(f"duplicate stream ids in subscription: {ids}")
        # startOffset: one value for all streams, or a comma list matching
        # streamIds positionally
        raw_start = str(options.get("startoffset", 0))
        parts = [int(s) for s in raw_start.split(",")]
        if len(parts) == 1:
            self.start_offsets = {sid: parts[0] for sid in self.stream_ids}
        elif len(parts) == len(self.stream_ids):
            self.start_offsets = dict(zip(self.stream_ids, parts))
        else:
            raise ValueError("startOffset list must match streamIds length")
        # record admission: offsets advance at most this much per trigger,
        # summed over every subscribed stream
        self.max_records = int(options.get("maxrecordspertrigger", 1 << 31))
        if self.max_records <= 0:
            raise ValueError("maxRecordsPerTrigger must be positive")
        # byte admission (≙ FETCH's max_bytes budget, docs/sbp.md:220-285):
        # a HARD cap under per-row-group accounting — the admitted window
        # is priced from parquet footer row-group sizes (offset stats +
        # compressed bytes; driver-side metadata read, cached per
        # confirm offset), never a stream-wide average.  Whole records only.
        # Progress guarantee: when the budget admits nothing anywhere,
        # exactly ONE record of the single lowest-id backlogged stream is
        # admitted (the reference's fetch returns one batch even when it
        # alone exceeds the budget) — the only case admitted bytes can
        # exceed the cap, bounded by one record.
        raw_mb = options.get("maxbytespertrigger")
        self.max_bytes = None if raw_mb is None else int(raw_mb)
        if self.max_bytes is not None and self.max_bytes <= 0:
            raise ValueError("maxBytesPerTrigger must be positive")
        self._rg_cache: dict[int, tuple[int, list[tuple[int, int, int, int]]]] = {}

    # ------------------------------------------------------------ offsets

    def _to_wire(self, offsets: dict[int, int]) -> dict:
        """Serialize per-stream offsets.  Single-stream subscriptions keep
        the scalar {"offset": n} format so pre-existing checkpoints
        resume unchanged."""
        if len(self.stream_ids) == 1:
            return {"offset": offsets[self.stream_ids[0]]}
        return {"offsets": {str(s): offsets[s] for s in self.stream_ids}}

    def _from_wire(self, wire: dict) -> dict[int, int]:
        if "offsets" in wire:
            return {int(k): int(v) for k, v in wire["offsets"].items()}
        return {self.stream_ids[0]: int(wire["offset"])}

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return self._to_wire(self.start_offsets)

    def _confirmed(self, sid: int) -> int:
        """Durable availability (≙ the long-poll's confirm-offset check,
        docs/sbp.md:246-252): the CONFIRM offset, advanced only after a
        reserved block's data write lands.  Admitting the reserve-time
        ``next_offset`` instead would let the source plan a window over
        an in-flight write, find zero rows at read time, commit the
        batch, and permanently skip the records that land moments later.
        A stream the catalog does not know (yet), or a deleted one,
        admits nothing."""
        try:
            return self.catalog.describe_stream(sid).confirmed_offset
        except StreamNotFound:
            return 0

    def admit(self, start: dict) -> dict:
        """The end of the window admitted past ``start``: the confirmed
        backlog, fair-split under the record cap, then tightened to the
        byte cap."""
        base = self._from_wire(start)
        backlog = {
            s: max(0, self._confirmed(s) - base[s]) for s in self.stream_ids
        }
        admitted = fair_split(backlog, self.max_records)
        if self.max_bytes is not None:
            admitted = self._apply_byte_cap(admitted, base)
        return self._to_wire({s: base[s] + admitted[s] for s in self.stream_ids})

    def _row_groups(self, sid: int) -> list[tuple[int, int, int, int]]:
        """Footer row-group index for the stream (``log.stream_row_groups``)
        — the byte-admission cost model prices an offset window at
        Σ overlap_rows × (group_bytes / group_rows), exact per row group,
        so cross-range payload skew cannot fool the budget the way a
        stream-wide average could.  Cached until the stream's CONFIRM
        offset moves (landed data is immutable, so the index only grows
        as new blocks confirm).  Keying the cache
        on the reserve-time next_offset froze a mid-write (incomplete)
        footer listing until the next reservation; the confirm offset
        only advances after the files are durable, so a refreshed listing
        is always complete up to the key."""
        committed = self._confirmed(sid)
        hit = self._rg_cache.get(sid)
        if hit is not None and hit[0] == committed:
            return hit[1]
        groups = stream_row_groups(self.records_root, sid)
        self._rg_cache[sid] = (committed, groups)
        return groups

    def _window_cost(self, sid: int, base: int, n_records: int) -> float:
        """Exact-per-row-group price of the offset window
        [base, base + n_records)."""
        end = base + n_records
        cost = 0.0
        for lo, hi, n, nbytes in self._row_groups(sid):
            rows_in = min(hi + 1, end) - max(lo, base)
            if rows_in > 0:
                cost += rows_in * (nbytes / n)
        return cost

    def _admit_within(self, sid: int, base: int, rec_cap: int, byte_share: float) -> int:
        """Max OFFSETS from ``base`` (≤ rec_cap) whose per-row-group cost
        stays within ``byte_share`` — the walk admits whole records,
        group by group, flooring inside the group where the budget runs
        out.  The admitted window is an OFFSET SPAN: offsets falling in a
        gap with no resident rows (a trim/compaction hole before the
        first surviving row group) cost nothing and are admitted freely.
        The previous row-count walk computed a NEGATIVE avail across such
        a gap and stalled byte-capped admission at one offset per trigger
        (caught in review)."""
        end_cap = base + rec_cap
        cur = base  # next offset to admit
        spent = 0.0
        for lo, hi, n, nbytes in self._row_groups(sid):
            if cur >= end_cap or hi < cur:
                continue
            if lo > cur:
                # gap below this group: free offsets
                cur = min(lo, end_cap)
                if cur >= end_cap:
                    break
            per_row = nbytes / n
            avail = min(hi + 1, end_cap) - cur
            affordable = int((byte_share - spent) / per_row)
            take = min(avail, affordable)
            if take <= 0:
                break
            cur += take
            spent += take * per_row
            if take < avail:
                break
        return cur - base

    def _apply_byte_cap(
        self, admitted: dict[int, int], base: dict[int, int]
    ) -> dict[int, int]:
        """Tighten the record-split so per-row-group-priced bytes stay
        within ``max_bytes``: fair-split the byte budget over each
        stream's exact window cost, then walk each stream's row groups
        within its share.  Spent ≤ share per stream and Σ shares ≤
        max_bytes, so the cap is hard; leftover budget then un-starves
        streams one record at a time (id order), still within the cap;
        only when NOTHING fits anywhere does the single lowest-id
        backlogged stream admit one record past the budget."""
        # ceil: the backlog must not under-ask by a fractional byte (the
        # affordability walk floors again); shares stay ≤ max_bytes via
        # fair_split regardless
        byte_backlog = {
            s: math.ceil(self._window_cost(s, base[s], rec)) if rec else 0
            for s, rec in admitted.items()
        }
        byte_share = fair_split(byte_backlog, self.max_bytes)
        out = {}
        spent_total = 0.0
        for s, rec in admitted.items():
            if rec == 0:
                out[s] = 0
                continue
            out[s] = self._admit_within(s, base[s], rec, float(byte_share[s]))
            spent_total += self._window_cost(s, base[s], out[s])
        # leftover pass: a stream starved by share quantization gets its
        # next record if the whole-budget residual affords it
        for s in sorted(admitted):
            if out[s] == 0 and admitted[s] > 0:
                cost1 = self._window_cost(s, base[s], 1)
                if spent_total + cost1 <= self.max_bytes:
                    out[s] = 1
                    spent_total += cost1
        if all(v == 0 for v in out.values()):
            starved = [s for s in sorted(admitted) if admitted[s] > 0]
            if starved:
                out[starved[0]] = 1  # documented single-record overshoot
        return out

    # --------------------------------------------------------------- read

    def read(self, start: dict) -> tuple[Iterator, dict]:
        """The admitted window past ``start`` as Arrow batches, and its
        end (the next read's start).  A list iterator, not a generator:
        pyspark's wrapper ``copy.copy``s the cached iterator."""
        end = self.admit(start)
        return self.readBetweenOffsets(start, end), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:  # noqa: N802
        """Rows with offsets in ``[start, end)`` per stream, cast to the
        schema Spark declared: the JVM asserts the batches' schema equals
        it, and the log's files carry ``ts`` without a time zone."""
        lo_map, hi_map = self._from_wire(start), self._from_wire(end)
        batches = []
        for sid in self.stream_ids:
            if hi_map[sid] <= lo_map[sid]:
                continue
            for s in range_slices(self.catalog, self.records_root, sid, lo_map[sid], hi_map[sid]):
                if not os.path.isdir(s.range_dir):
                    # the window covers CONFIRMED offsets, so the data
                    # must exist on disk — a missing dir means a
                    # concurrent maintenance swap is mid-rename (or its
                    # crash leftover).  Failing the trigger delays the
                    # records; yielding nothing would commit the batch
                    # and skip them for good.
                    raise FileNotFoundError(
                        f"range dir missing for confirmed offsets "
                        f"[{s.lo}, {s.hi}): {s.range_dir} "
                        "(concurrent maintenance swap? re-run sweep/vacuum to "
                        "repair after a maintenance crash)"
                    )
                for batch in scan_range(s.range_dir, s.lo, s.hi):
                    n = batch.num_rows
                    batches.append(
                        pa.RecordBatch.from_arrays(
                            [
                                pa.array([sid] * n, type=pa.int64()),
                                pa.array([s.range_index] * n, type=pa.int32()),
                                *batch.columns,
                            ],
                            names=["stream_id", "range_index", *batch.schema.names],
                        ).cast(self.arrow_schema)
                    )
        return iter(batches)


class StreamLogDataSource(DataSource):
    """``format("stream_log")`` — the record log as a first-class Spark
    source with exact record-count admission."""

    @classmethod
    def name(cls) -> str:
        return "stream_log"

    def schema(self) -> T.StructType:
        return SOURCE_SCHEMA

    def simpleStreamReader(self, schema: T.StructType) -> StreamLogStreamReader:  # noqa: N802
        return StreamLogStreamReader(self.options, schema)
