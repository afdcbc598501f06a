"""Record-count-admitted Structured Streaming source (Python Data Source).

≙ the reference's FETCH record/byte budget with long-poll
(docs/sbp.md:220-285): every production consumer's first knob is "at most
N records per poll".  This is the log's one Structured Streaming source,
built on the PySpark Python Data Source API (SPARK-44076, pyspark 4.x):
stream offsets ARE the source's offsets, so record admission is exact —
``latestOffset`` advances by at most ``maxRecordsPerTrigger`` past the
last committed position, the ``maxOffsetsPerTrigger`` contract Kafka
consumers rely on.  A subscription may start before the stream's first
append.

Plan shape: one ``InputPartition`` per overlapping catalog range
(``log.range_slices``), read executor-side as Arrow batches by
``log.scan_range`` — the same per-range scan ``StreamLog.fetch_table``
uses, opening only the files whose footer offset span overlaps the
window.  Availability comes from the catalog's confirm offset
(driver-side metadata read, no data scan, no directory listing) —
discovery cost is O(1) per trigger regardless of log size.

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
per-stream map, microbatch partitions are the union of per-stream range
slices, and the record-admission budget is split fairly across streams
with backlog (waterfall allocation in stream-id order — total admitted
per trigger never exceeds ``maxRecordsPerTrigger``).  Single-stream
subscriptions keep the scalar offset format, so existing checkpoints
resume unchanged.

Exactly-once downstream is unchanged: pair with
``ExactlyOnceAppendSink`` or any idempotent ``foreachBatch``.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from elastic_stream_spark.catalog import StreamCatalog, StreamNotFound
from elastic_stream_spark.log import (
    RangeSlice,
    range_slices,
    records_root,
    scan_range,
    stream_row_groups,
)

# log.RECORD_SCHEMA as DDL, every column nullable
RECORD_DDL = (
    "stream_id BIGINT, range_index INT, offset BIGINT, ts TIMESTAMP, "
    "properties MAP<STRING,STRING>, payload BINARY"
)


@dataclass
class RangePartition(RangeSlice, InputPartition):
    """A microbatch's range slice as a Spark input partition."""


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


class StreamLogStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
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
        # next_offset), never a stream-wide average.  Whole records only.
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
        # Subscription progress (≙ the consumer-group offset the reference
        # keeps in PD KV): ``latestOffset`` takes no start argument in the
        # Python source protocol, so the admitted window's base is tracked
        # here — in memory per trigger, persisted on ``commit`` so a
        # restarted query resumes admission from its true position instead
        # of re-admitting from startOffset.  One subscription per
        # checkpoint location (the Kafka group-id contract).
        default_sub = "sub-" + "-".join(str(s) for s in self.stream_ids)
        self.subscription = str(options.get("subscription", default_sub))
        self._progress_path = os.path.join(
            self.root, "_source_progress", f"{self.subscription}.json"
        )
        self._last: dict[int, int] | None = None

    # ------------------------------------------------------------ offsets

    def _to_wire(self, offsets: dict[int, int]) -> dict:
        """Serialize per-stream offsets.  Single-stream subscriptions keep
        the scalar {"offset": n} format so pre-existing checkpoints (and
        their progress files) resume unchanged."""
        if len(self.stream_ids) == 1:
            return {"offset": offsets[self.stream_ids[0]]}
        return {"offsets": {str(s): offsets[s] for s in self.stream_ids}}

    def _from_wire(self, wire: dict) -> dict[int, int]:
        if "offsets" in wire:
            return {int(k): int(v) for k, v in wire["offsets"].items()}
        return {self.stream_ids[0]: int(wire["offset"])}

    def _committed_progress(self) -> dict[int, int]:
        if not os.path.exists(self._progress_path):
            return dict(self.start_offsets)
        with open(self._progress_path) as f:
            saved = self._from_wire(json.load(f))
        return {
            s: max(self.start_offsets[s], saved.get(s, self.start_offsets[s]))
            for s in self.stream_ids
        }

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        # Spark calls this only when the CHECKPOINT has no offsets — a
        # genuinely new query.  Reset the subscription's progress file to
        # the start offsets: a stale file from a previous query life
        # (checkpoint deleted, same subscription name) would otherwise
        # floor the first admission window at its old position, making
        # the first microbatch span [startOffset, old_progress + cap) —
        # unbounded, violating the per-trigger cap (review finding).
        if os.path.exists(self._progress_path):
            os.makedirs(os.path.dirname(self._progress_path), exist_ok=True)
            tmp = self._progress_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._to_wire(dict(self.start_offsets)), f)
            os.replace(tmp, self._progress_path)
        return self._to_wire(dict(self.start_offsets))

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

    def latestOffset(self) -> dict:  # noqa: N802
        base = self._committed_progress() if self._last is None else self._last
        backlog = {
            s: max(0, self._confirmed(s) - base[s]) for s in self.stream_ids
        }
        admitted = fair_split(backlog, self.max_records)
        if self.max_bytes is not None:
            admitted = self._apply_byte_cap(admitted, base)
        nxt = {s: base[s] + admitted[s] for s in self.stream_ids}
        self._last = nxt
        return self._to_wire(nxt)

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

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo_map, hi_map = self._from_wire(start), self._from_wire(end)
        out: list[RangePartition] = []
        for sid in self.stream_ids:
            lo = lo_map.get(sid, self.start_offsets[sid])
            hi = hi_map.get(sid, lo)
            if hi <= lo:
                continue
            for s in range_slices(self.catalog, self.records_root, sid, lo, hi):
                out.append(RangePartition(**vars(s)))
        return out

    # --------------------------------------------------------------- read

    def read(self, partition: RangePartition) -> Iterator:  # executor-side
        import pyarrow as pa

        if not os.path.isdir(partition.range_dir):
            # the planned window covers CONFIRMED offsets, so the data
            # must exist on disk — a missing dir means a concurrent
            # maintenance swap is mid-rename (or its crash leftover).
            # Raising lets Spark retry the task — at-most-delay — where
            # silently yielding nothing would commit the batch and
            # permanently skip the records.
            raise FileNotFoundError(
                f"range dir missing for confirmed offsets "
                f"[{partition.lo}, {partition.hi}): {partition.range_dir} "
                "(concurrent maintenance swap? re-run sweep/vacuum to "
                "repair after a maintenance crash)"
            )
        for batch in scan_range(partition.range_dir, partition.lo, partition.hi):
            n = batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([partition.stream_id] * n, type=pa.int64()),
                    pa.array([partition.range_index] * n, type=pa.int32()),
                    *batch.columns,
                ],
                names=["stream_id", "range_index", *batch.schema.names],
            )

    def commit(self, end: dict) -> None:
        """Persist subscription progress (atomic rename).  Exactness note:
        Spark's checkpoint remains the source of truth for batch replay;
        this file only floors the NEXT admission window, and every crash
        interleaving keeps the window ≤ maxRecordsPerTrigger (the window
        [checkpointed_end, floor + max_records] is always within one cap
        of the floor)."""
        os.makedirs(os.path.dirname(self._progress_path), exist_ok=True)
        tmp = self._progress_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(end, f)  # already wire format (scalar or per-stream)
        os.replace(tmp, self._progress_path)

    def stop(self) -> None:
        pass


class StreamLogDataSource(DataSource):
    """``format("stream_log")`` — the record log as a first-class Spark
    source with exact record-count admission."""

    @classmethod
    def name(cls) -> str:
        return "stream_log"

    def schema(self) -> str:
        return RECORD_DDL

    def streamReader(self, schema) -> StreamLogStreamReader:  # noqa: N802
        return StreamLogStreamReader(self.options)
