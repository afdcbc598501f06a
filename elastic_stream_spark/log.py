"""The record log — data plane: append / fetch / trim-vacuum / retention.

Reference parity:
- APPEND 0x1001  ≙ range-server/src/handler/append.rs:73-178 + offset
  stamping components/replication/src/stream/replication_range.rs:177-223
- FETCH  0x1002  ≙ range-server/src/handler/fetch.rs:48-155 + store fetch
  components/store/src/store/elastic_store.rs:204-322
- retention expiry ≙ components/store/src/io/wal.rs:362-377
- COMMIT_OBJECT  ≙ rpc.fbs:653-689: ``StreamLog.list_objects``, a view of
  the data files on disk (the surveyed PD keeps no persisted copy either:
  an in-memory ``MemoryObjectManager`` serves it)
- small-object compaction ≙
  components/object-storage/src/range_accumulator.rs:129-170, dropping
  rows below the minimum offset as components/store/src/index/
  compaction.rs:18-56 does: ``StreamLog.optimize``
- trim reclaim ≙ WAL segment reclaim components/store/src/io/
  wal.rs:435-541: ``StreamLog.vacuum`` deletes whole files
- tiered storage / sparse index ≙ parquet row-group stats + partition
  pruning (components/model/src/object.rs:31-97 is replaced by Catalyst's
  min/max pruning — see SURVEY.md §4)

Physical layout: hive-partitioned parquet
``records/stream_id=<id>/range_index=<i>/*.parquet``.  A fetch for one
stream's offset window therefore prunes to a handful of files before any
row is read — the Spark analogue of the reference's RocksDB
(stream,range,offset)→handle index.  At 100 TB this layout keeps per-stream
reads O(bytes requested), not O(table size).  Appends to different streams
write to separate directories, but they do contend on the catalog: each
append's ``reserve_offsets`` and ``confirm_offset`` are one fsync'd shard
replace apiece under one catalog-wide ``fcntl`` lock (0.5–1.6 ms p50 each
alone).  Measured on 4 cores, ext4, each writer making 200 appends of
bytes to its own stream: per-writer append p50 is 3.2–5.8 ms with 1
writer and 8.9–14.3 ms with 4 writers on one catalog, about a third of it
waiting for the lock.

One writer of stamped blocks.  A reserved block is a driver-side Arrow
table that becomes one Parquet file with no Spark job
(``write_record_file``): the bytes of an ``append`` of a ``list[bytes]``,
and the rows of a DataFrame ``append`` or of the exactly-once sink's
microbatch, which ``prepare_batch`` collects and ``write_stamped`` stamps
and lands.  The file is written under a ``.``-prefixed temp name,
fsynced, renamed to a fresh UUID name and the directory fsynced, so a
reader — Spark, ``pyarrow.dataset``, ``parquet_files`` all skip hidden
names — sees the whole block or none of it.  The same writer lands
``optimize``'s compaction, the log's one rewrite of a range directory,
which touches sealed ranges only and copies them row group by row group.
Spark writes only ``bulk_load``, the distributed ingest.  ``vacuum``
reads footers and deletes whole files; it rewrites nothing, so it never
races an append into the mutable range.  Every file has the same format:
``offset`` INT64 with footer min/max statistics, ``ts`` INT96 (Spark's
default ``outputTimestampType``), snappy.

Reads the same way: ``fetch`` is the Spark plan over one stream's range
directories; ``fetch_table`` and the ``stream_log`` source read an offset
window with pyarrow through ``scan_range``, on the driver (the source in
the driver's Python runner; an executor's Python worker only replays an
uncommitted batch).  Offset spans come from one
process-wide footer index keyed by path (a data file never changes once
it has its final name), so a tail read opens only the files that overlap
its window, however many files the stream has.  That index is the log's
only record of its data files: ``list_objects`` is a view of it, and the
maintenance jobs change the files alone, with no second list to update.
"""

from __future__ import annotations

import fcntl
import glob
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator, NamedTuple, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elastic_stream_spark.catalog import StreamCatalog

# Envelope schema — SURVEY.md §1.3 / FIXTURES.md B.1.
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.LongType(), False),
        T.StructField("range_index", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

PAYLOAD_COLS = ["ts", "properties", "payload"]


# Record layout: every path under the records root is built and parsed
# here, so the log and the streaming source agree on it.  The functions
# take the records root, not a catalog root: a trimmed-engine clone
# shares its parent's records root.


def records_root(catalog_root: str) -> str:
    """The records root of the log kept under ``catalog_root``."""
    return f"{catalog_root}/records"


def range_dir(records_root: str, stream_id: int, range_index: int) -> str:
    """The directory holding one range's data files."""
    return f"{records_root}/stream_id={stream_id}/range_index={range_index}"


def range_dirs(records_root: str, stream_id: int) -> list[tuple[int, str]]:
    """``(range_index, directory)`` of each range directory the stream has
    on disk, by range index."""
    found = glob.glob(f"{records_root}/stream_id={stream_id}/range_index=*")
    return sorted((int(d.rsplit("=", 1)[1]), d) for d in found)


def stream_ids(records_root: str) -> list[int]:
    """Ids of the streams that have a directory under the records root."""
    found = glob.glob(f"{records_root}/stream_id=*")
    return sorted(int(d.rsplit("=", 1)[1]) for d in found)


def parquet_files(range_dir: str) -> list[str]:
    """The data files of one range directory, by name.  Names starting
    with ``.`` or ``_`` (an in-flight temp file, ``_SUCCESS``) are hidden,
    as Spark and ``pyarrow.dataset`` hide them."""
    return sorted(
        p
        for p in glob.glob(os.path.join(range_dir, "*.parquet"))
        if not os.path.basename(p).startswith((".", "_"))
    )


@dataclass
class RangeSlice:
    """One catalog range ∩ an offset window ``[lo, hi)``."""

    range_dir: str
    stream_id: int
    range_index: int
    lo: int  # inclusive
    hi: int | None  # exclusive; None: unbounded


def range_slices(
    catalog: StreamCatalog,
    records_root: str,
    stream_id: int,
    lo: int = 0,
    hi: int | None = None,
) -> list[RangeSlice]:
    """The stream's catalog ranges that overlap ``[lo, hi)`` (``hi=None``:
    unbounded), each cut to the window, by range index.  A range's
    directory may not exist yet (nothing written to it)."""
    out: list[RangeSlice] = []
    for r in catalog.list_ranges(stream_id):
        r_lo = max(lo, r.start)
        ends = [e for e in (hi, r.end) if e is not None]
        r_hi = min(ends) if ends else None
        if r_hi is not None and r_hi <= r_lo:
            continue
        d = range_dir(records_root, stream_id, r.range_index)
        out.append(RangeSlice(d, stream_id, r.range_index, r_lo, r_hi))
    return out


# (offset_lo, offset_hi, n_rows, compressed_bytes, row_group_number) of
# one parquet row group
RowGroup = tuple[int, int, int, int, int]


def _read_row_groups(path: str) -> tuple[RowGroup, ...] | None:
    """The row groups of one data file from its footer (no data read);
    None when a non-empty row group has no offset statistics."""
    md = pq.read_metadata(path)
    out: list[RowGroup] = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        if rg.num_rows == 0:
            continue
        span = None
        nbytes = 0
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            nbytes += col.total_compressed_size
            st = col.statistics
            if col.path_in_schema == "offset" and st is not None and st.has_min_max:
                span = (int(st.min), int(st.max))
        if span is None:
            return None
        out.append((span[0], span[1], rg.num_rows, int(nbytes), g))
    return tuple(out)


# The footer index: range directory -> {path: row groups} of the data
# files it held when last listed.  A data file never changes once it has
# its final name, and every writer gives each file a fresh UUID name, so
# an entry stays valid while its path is listed.  One per process, not
# per StreamLog: the ``stream_log`` source's reads have no StreamLog, and
# sharing is safe because an entry is a fact about an immutable file.
_FOOTERS: dict[str, dict[str, tuple[RowGroup, ...] | None]] = {}


def footer_listing(range_dir: str) -> list[tuple[str, tuple[RowGroup, ...] | None]]:
    """``(path, row groups)`` of each data file in the directory, parsing
    only footers not seen before; files no longer listed (vacuum,
    optimize) drop out of the index.  Concurrent listings need no lock:
    each replaces the directory's whole entry with a correct listing of
    its moment."""
    known = _FOOTERS.get(range_dir, {})
    entries = {
        p: known[p] if p in known else _read_row_groups(p)
        for p in parquet_files(range_dir)
    }
    if entries:
        _FOOTERS[range_dir] = entries
    else:
        _FOOTERS.pop(range_dir, None)
    return list(entries.items())


def stream_row_groups(records_root: str, stream_id: int) -> list[tuple[int, int, int, int]]:
    """``(offset_lo, offset_hi, n_rows, compressed_bytes)`` of every row
    group with offset statistics across the stream's range directories,
    offset-sorted — footer metadata only."""
    out = [
        g[:4]
        for _, d in range_dirs(records_root, stream_id)
        for _, groups in footer_listing(d)
        for g in groups or ()
    ]
    out.sort()
    return out


# The record columns of a data file (the partition columns live in the
# path), as Spark writes them: ``offset`` and ``ts`` required, the map's
# values nullable.  ``ts`` is µs in Arrow and INT96 on disk.
FILE_SCHEMA = pa.schema(
    [
        pa.field("offset", pa.int64(), nullable=False),
        pa.field("ts", pa.timestamp("us"), nullable=False),
        pa.field("properties", pa.map_(pa.string(), pa.string())),
        pa.field("payload", pa.binary()),
    ]
)
FILE_COLUMNS = ("offset", *PAYLOAD_COLS)


def scan_range(
    range_dir: str, lo: int, hi: int | None, columns: Sequence[str] = FILE_COLUMNS
) -> Iterator:
    """Arrow record batches of one range directory's rows with offset in
    ``[lo, hi)``, in file order (not offset-sorted).  Reads only the row
    groups whose footer span overlaps the window, file by file (a
    ``pyarrow.dataset`` scan costs about three times as much per small
    file) and one row group at a time, so memory is bounded by one row
    group and no batch spans two row groups; INT96 ``ts`` comes back as
    µs, the unit Spark's Arrow ingest takes.  A missing directory yields
    nothing."""
    schema = pa.schema([FILE_SCHEMA.field(c) for c in columns])
    read_cols = list(dict.fromkeys(["offset", *columns]))  # offset filters
    for path, groups in footer_listing(range_dir):
        if groups is None:  # no statistics: read it all, filter every row
            pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
            picks = [(g, False) for g in range(pf.num_row_groups)]
        else:
            picks = [
                (g[4], g[0] >= lo and (hi is None or g[1] < hi))  # (number, inside)
                for g in groups
                if g[1] >= lo and (hi is None or g[0] < hi)
            ]
            if not picks:
                continue
            pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
        for g, inside in picks:
            table = pf.read_row_group(g, columns=read_cols, use_threads=False)
            if not inside:
                keep = pc.greater_equal(table["offset"], lo)
                if hi is not None:
                    keep = pc.and_(keep, pc.less(table["offset"], hi))
                table = table.filter(keep)
            if table.num_rows:
                yield from table.select(list(columns)).cast(schema).to_batches()


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def write_record_file(range_dir: str, parts) -> None:
    """Land Arrow tables or record batches of ``FILE_SCHEMA`` as one data
    file of the range directory, each non-empty part one row group; no
    rows, no file.  The file is written under a hidden temp name and
    fsynced, then renamed to a fresh UUID name and the directory fsynced:
    a crash leaves either a hidden temp file no reader lists or the whole
    file.  The writer of every reserved block and of ``optimize``."""
    created = not os.path.isdir(range_dir)
    os.makedirs(range_dir, exist_ok=True)
    name = uuid.uuid4().hex
    tmp = os.path.join(range_dir, f".{name}.parquet.tmp")
    path = os.path.join(range_dir, f"part-{name}.snappy.parquet")
    rows = 0
    try:
        with pq.ParquetWriter(
            tmp,
            FILE_SCHEMA,
            compression="snappy",
            use_deprecated_int96_timestamps=True,
            store_schema=False,
        ) as writer:
            for part in parts:
                if part.num_rows:
                    writer.write(part, row_group_size=part.num_rows)
                    rows += part.num_rows
    except BaseException:
        os.unlink(tmp)
        raise
    if not rows:
        os.unlink(tmp)
        return
    _fsync(tmp)
    os.replace(tmp, path)
    _fsync(range_dir)
    if created:  # the new range (and maybe stream) directory entries
        _fsync(os.path.dirname(range_dir))
        _fsync(os.path.dirname(os.path.dirname(range_dir)))


class DataFile(NamedTuple):
    """One data file of the log (≙ the ``Obj`` descriptor COMMIT_OBJECT
    registers, rpc.fbs:662-681)."""

    stream_id: int
    range_index: int
    path: str
    n_records: int
    n_bytes: int


class StreamLog:
    """Append/fetch over the partitioned record log, one instance per
    catalog root.

    Every ``append`` lands its block through the Arrow writer on the
    driver: a list of bytes directly, a DataFrame after one collect
    (``prepare_batch``, the one Spark job) and ``write_stamped``, which the
    exactly-once sink calls too.  ``fetch_table``, ``count_span``,
    ``list_objects`` and the maintenance jobs (``vacuum``, ``optimize``,
    ``expire_retention``, ``sweep``) also run on the driver with pyarrow
    and no Spark job, so ``StreamLog(None, catalog)`` serves all of them.
    Spark runs only where a DataFrame comes in or goes out: a DataFrame
    ``append``'s collect, ``bulk_load``, and the plans ``fetch`` and
    ``records`` return.
    """

    def __init__(self, spark: SparkSession, catalog: StreamCatalog):
        self.spark = spark
        self.catalog = catalog
        self.records_root = records_root(catalog.root)

    # ----------------------------------------------------------- append

    def append(
        self,
        stream_id: int,
        batch: DataFrame | Sequence[bytes],
        epoch: int | None = None,
        ts_ms: int = 0,
    ) -> tuple[int, int]:
        """Append a batch to the stream's mutable range; returns
        ``(base_offset, last_offset_exclusive)``.

        ``batch`` is a DataFrame with column ``ts`` (optional
        ``properties``, ``payload``), or driver-side payload bytes, one
        record each, stamped ``ts_ms`` with null properties.  A DataFrame
        with a null ``ts`` is refused (``ValueError``) before any offset
        is reserved: ``ts`` is a required column of every data file.

        Offset assignment (SURVEY.md §7 hard-part 1): the catalog reserves a
        contiguous block under its lock (≙ the reference's write-window
        serialization, window.rs:7-45).  Bytes take offsets ``base + i``
        in list order; a DataFrame is collected to the driver once
        (``prepare_batch``) and stamped in ``ts`` order
        (``write_stamped``).  Either way the block lands as one Parquet
        file with no further Spark job (``write_record_file``), whole or
        not at all.  A DataFrame append is therefore bounded by
        ``spark.driver.maxResultSize``, which fails the collect before any
        offset is reserved; ``bulk_load`` is the distributed ingest path.

        Reserve and confirm stay two catalog writes, one before the data
        lands and one after.  The block's offsets must be taken before its
        file becomes visible: were reserve and confirm one write after the
        file landed, a crash between the file landing and that write would
        hand the same offsets to the next append, and the log would hold
        two records at each of them.
        """
        if not isinstance(batch, DataFrame):
            return self._append_payloads(stream_id, batch, ts_ms, epoch)
        table = self.prepare_batch(batch)
        n = table.num_rows
        if n == 0:
            meta = self.catalog.describe_stream(stream_id)
            return meta.next_offset, meta.next_offset
        base, rng = self.catalog.reserve_offsets(stream_id, n, epoch=epoch)
        self.write_stamped(stream_id, table, base, rng.range_index)
        # the block landed → advance the durable confirm offset (readers
        # admit up to confirmed, never the reserve-time next_offset — see
        # StreamCatalog.confirm_offset)
        self.catalog.confirm_offset(stream_id, base + n)
        return base, base + n

    def _append_payloads(
        self, stream_id: int, payloads: Sequence[bytes], ts_ms: int, epoch: int | None
    ) -> tuple[int, int]:
        payload = pa.array(payloads, pa.binary())  # bad input fails before reserving
        n = len(payload)
        if n == 0:
            meta = self.catalog.describe_stream(stream_id)
            return meta.next_offset, meta.next_offset
        base, rng = self.catalog.reserve_offsets(stream_id, n, epoch=epoch)
        table = pa.table(
            [
                pa.array(np.arange(base, base + n, dtype=np.int64)),
                pa.array(np.full(n, ts_ms * 1000, dtype=np.int64), pa.timestamp("us")),
                pa.nulls(n, FILE_SCHEMA.field("properties").type),
                payload,
            ],
            schema=FILE_SCHEMA,
        )
        write_record_file(self._range_dir(stream_id, rng.range_index), [table])
        self.catalog.confirm_offset(stream_id, base + n)
        return base, base + n

    def prepare_batch(self, batch: DataFrame):
        """An input batch's payload columns as one driver-side Arrow table,
        collected with one Spark job (``toArrow``): ``ts`` required, a
        missing ``properties`` or ``payload`` added as nulls.  A null
        ``ts`` raises ``ValueError`` before the caller reserves offsets,
        since ``ts`` is a required column of every data file.  The written
        rows are the collected rows, so a non-deterministic input cannot
        land a different row count than the block reserved for it."""
        if "ts" not in batch.columns:
            raise ValueError("batch missing columns: {'ts'}")
        for col, typ in (("properties", "map<string,string>"), ("payload", "binary")):
            if col not in batch.columns:
                batch = batch.withColumn(col, F.lit(None).cast(typ))
        table = batch.select(*PAYLOAD_COLS).toArrow()
        nulls = table["ts"].null_count
        if nulls:
            raise ValueError(f"batch has {nulls} rows with a null ts")
        return table

    def write_stamped(self, stream_id: int, table, base: int, range_index: int) -> None:
        """Write a ``prepare_batch`` table with offsets ``base + i`` into
        the given range, an already-reserved block: ``ts`` ascending, ties
        in the table's row order (``sort_indices`` is stable), as one data
        file through ``write_record_file``, no Spark job.  The writer of a
        DataFrame ``append`` and of the exactly-once sink, for a fresh
        block and for the replay of a reserved one."""
        table = table.take(pc.sort_indices(table, [("ts", "ascending")]))
        n = table.num_rows
        stamped = pa.table(
            [pa.array(np.arange(base, base + n, dtype=np.int64))]
            + [table[c] for c in PAYLOAD_COLS],
            names=list(FILE_COLUMNS),
        ).cast(FILE_SCHEMA)
        write_record_file(self._range_dir(stream_id, range_index), [stamped])

    def count_span(self, stream_id: int, base: int, end: int) -> int:
        """Rows durably in the log with offset in ``[base, end)``, with no
        Spark job: the footer index picks the row groups of the stream's
        range directories that overlap the window and only their
        ``offset`` column is read, so the count is exact also for a row
        group that overlaps the window only in part (an ``optimize``d
        file).  The sink's replay probe: a reserved block counts 0 before
        its file lands and exactly ``end - base`` after; a count in
        between means trimming cut into the block, or a writer that landed
        it through a Spark job was killed mid-commit."""
        return sum(
            b.num_rows
            for _, d in range_dirs(self.records_root, stream_id)
            for b in scan_range(d, base, end, columns=("offset",))
        )

    def bulk_load(self, records: DataFrame) -> None:
        """Bulk-ingest pre-stamped records (all RECORD_SCHEMA columns
        present) in ONE distributed partitioned write — the object-offload
        / recovery ingest path (≙ range_offload.rs:54-125 committing whole
        ranges as objects).  At 100 TB this is how data enters the log:
        a single ``partitionBy(stream_id, range_index)`` job, parallel in
        both streams and ranges, no per-batch serialization point.
        Catalog metadata is registered separately via
        ``StreamCatalog.bulk_register``.
        """
        (
            records.select([f.name for f in RECORD_SCHEMA.fields])
            # co-locate each (stream, range) into one task before the
            # dynamic-partition write: every task then writes whole
            # partition directories sequentially instead of paying the
            # per-task partition-sort / concurrent-writer machinery.
            # Measured 2.4x on the ingest bench (336 -> 805 MB/s tmpfs);
            # at scale the extra shuffle is the standard pre-write
            # clustering pass and bounds output to one file per range.
            .repartition("stream_id", "range_index")
            .write.mode("append")
            .partitionBy("stream_id", "range_index")
            .parquet(self.records_root)
        )

    # ------------------------------------------------------------ fetch

    def records(self) -> DataFrame:
        """The full physical log as a DataFrame (all streams), not clamped
        to any stream's ``start_offset``: a file straddling a trim horizon
        keeps its rows below the start until ``optimize`` compacts its
        sealed range (``fetch`` is the clamped read).  Partition columns
        stream_id/range_index come back typed per RECORD_SCHEMA.  An
        empty (never-written) log reads as an empty DataFrame — crash
        recovery probes the log before the first write may have landed."""
        if not os.path.exists(self.records_root):
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        return (
            self.spark.read.option("basePath", self.records_root)
            .schema(RECORD_SCHEMA)
            .parquet(self.records_root)
        )

    def fetch(self, stream_id: int, start_offset: int, end_offset: int) -> DataFrame:
        """FETCH ≙ read ``[start_offset, end_offset)`` in offset order.

        The plan reads only the stream's range directories that overlap
        the window; the offset predicates push down to parquet row-group
        stats — the same IO-skipping role as the reference's sparse index
        (components/model/src/object.rs:31-97).  Reads below the trim
        horizon return nothing (≙ OffsetOutOfRange after TRIM_STREAM).
        A stream with no data directory in the window reads as empty.
        """
        meta = self.catalog.describe_stream(stream_id)
        lo = max(start_offset, meta.start_offset)
        slices = range_slices(self.catalog, self.records_root, stream_id, lo, end_offset)
        dirs = [s.range_dir for s in slices if os.path.isdir(s.range_dir)]
        if not dirs:
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        return (
            self.spark.read.option("basePath", self.records_root)
            .schema(RECORD_SCHEMA)
            .parquet(*dirs)
            .where(
                (F.col("stream_id") == stream_id)
                & (F.col("offset") >= lo)
                & (F.col("offset") < end_offset)
            )
            .orderBy("offset")
        )

    def fetch_table(
        self,
        stream_id: int,
        start_offset: int,
        end_offset: int,
        columns: Sequence[str] = FILE_COLUMNS,
    ):
        """FETCH into a driver-side Arrow table, offset-sorted — the same
        window, trim clamp and ``StreamNotFound`` as ``fetch``, with no
        Spark job: each overlapping range slice is read with pyarrow
        (``scan_range``).  For windows that fit on the driver; ``fetch``
        is the distributed read."""
        meta = self.catalog.describe_stream(stream_id)
        lo = max(start_offset, meta.start_offset)
        batches = [
            b
            for s in range_slices(self.catalog, self.records_root, stream_id, lo, end_offset)
            for b in scan_range(s.range_dir, s.lo, s.hi, columns)
        ]
        schema = pa.schema([FILE_SCHEMA.field(c) for c in columns])
        table = pa.Table.from_batches(batches, schema=schema)
        return table.sort_by("offset") if "offset" in columns else table

    def next_offset(self, stream_id: int) -> int:
        """≙ DESCRIBE_RANGE's max-offset answer (SURVEY.md §2.3 row 17)."""
        return self.catalog.describe_stream(stream_id).next_offset

    def confirmed_offset(self, stream_id: int) -> int:
        """Durable high-water mark: offsets below this have landed in the
        log (≙ the reference's confirm offset — see
        StreamCatalog.confirm_offset).  Readers poll THIS, not the
        reserve-time next_offset."""
        return self.catalog.describe_stream(stream_id).confirmed_offset

    # ------------------------------------------------------ data files

    def _range_dir(self, stream_id: int, range_index: int) -> str:
        return range_dir(self.records_root, stream_id, range_index)

    def list_objects(self, stream_id: int | None = None) -> list[DataFile]:
        """The data files of the stream (of every stream with a directory
        when None), by stream, range and path — COMMIT_OBJECT's objects
        catalog (rpc.fbs:653-689) as a view of the disk.  Read from the
        footer index on each call, so it lists exactly the files a read
        sees; ``n_records`` is the footer's row count, also for a file
        without offset statistics, and ``n_bytes`` the file size."""
        sids = stream_ids(self.records_root) if stream_id is None else [stream_id]
        out: list[DataFile] = []
        for sid in sids:
            for ridx, d in range_dirs(self.records_root, sid):
                for path, groups in footer_listing(d):
                    n = (
                        sum(g[2] for g in groups)
                        if groups is not None
                        else pq.read_metadata(path).num_rows
                    )
                    out.append(DataFile(sid, ridx, path, n, os.path.getsize(path)))
        return out

    @contextmanager
    def _maintenance_lock(self, stream_id: int):
        """Per-stream mutual exclusion for maintenance (vacuum/optimize).
        ``_repair_swaps`` treats ``old-*``/``rewrite-*`` leftovers as
        crash debris — correct only if at most one maintenance process
        works a stream at a time: a second process entering mid-swap of
        the first would roll back its in-flight ``old-*`` rename over the
        live dir and rmtree its scratch, corrupting a healthy swap
        (caught in review).  An fcntl lock file per stream serializes
        them; cross-STREAM maintenance still parallelizes freely (the
        sharding story every other per-stream path uses)."""
        lock_dir = f"{self.catalog.root}/_maintenance"
        os.makedirs(lock_dir, exist_ok=True)
        with open(f"{lock_dir}/s{stream_id}.lock", "a") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            yield

    def _repair_swaps(self, stream_id: int) -> None:
        """Complete/roll back any directory swap a maintenance crash left
        half-done (``optimize`` renames ``d → old``, ``tmp → d``, then
        ``rm old``; ``_vacuum_tmp`` is still read because a store written
        by an older engine, whose vacuum also rewrote ranges, can hold a
        crashed vacuum's ``old-*``).  A crash between the two renames
        leaves the live tree MISSING the range dir while the authoritative
        rows sit in ``old-<tag>`` — without this repair they were stranded
        forever (fetch returned nothing for the range).  Rules:
        ``old`` present + target missing → roll back (restore old; the
        rewrite is redone later); ``old`` present + target present → the
        swap completed, finish the cleanup; stale ``rewrite-*`` scratch →
        drop (possibly partial; always regenerable).  Runs at every
        vacuum/optimize entry — under ``_maintenance_lock``, so leftovers
        are guaranteed crash debris, never another process's live swap —
        and one completed maintenance pass heals any earlier crash."""
        for scratch in (
            f"{self.catalog.root}/_vacuum_tmp",
            f"{self.catalog.root}/_optimize_tmp",
        ):
            if not os.path.isdir(scratch):
                continue
            for old in glob.glob(f"{scratch}/old-s{stream_id}-r*"):
                tag = os.path.basename(old)[len("old-") :]
                sid_s, ridx_s = tag[1:].split("-r")
                d = self._range_dir(int(sid_s), int(ridx_s))
                if not os.path.exists(d):
                    os.replace(old, d)
                else:
                    shutil.rmtree(old)
            for tmp in glob.glob(f"{scratch}/rewrite-s{stream_id}-r*"):
                shutil.rmtree(tmp, ignore_errors=True)

    def optimize(self, stream_id: int) -> dict[int, tuple[int, int]]:
        """Compact each SEALED range into one object (≙
        range_accumulator.rs:129-170 small-object compaction, which also
        drops rows below the minimum offset, compaction.rs:18-56): a range
        is rewritten when it has more than one file, or when a file's
        footer span starts below the range's ``start`` (the range straddled
        a trim horizon), keeping only rows in ``[start, end)``.  The log's
        one rewrite of a range directory, with no Spark job: ``scan_range``
        reads the range one row group at a time and ``write_record_file``
        writes each as one row group of the new file, so memory is bounded
        by one row group and the footer keeps the per-block offset spans
        that reads prune by.  Sealed ranges take no appends, so the rewrite
        races with no writer; the mutable range is never touched.  Returns
        {range_index: (files_before, files_after)}.  Fetch results are
        identical before/after — reads already clamp at ``start_offset``.
        Crash-safety order: the rewrite is written outside the records
        tree, the old directory renamed aside (outside too, so partition
        discovery never sees a stray dir), the new one moved in and the
        stream directory fsynced, the old one deleted last;
        ``_repair_swaps`` rolls back a swap interrupted between the two
        renames, so the rows are never stranded outside the read tree.
        Between those renames the range directory is missing, and a
        concurrent read sees none of its rows."""
        scratch = f"{self.catalog.root}/_optimize_tmp"
        os.makedirs(scratch, exist_ok=True)
        with self._maintenance_lock(stream_id):
            self._repair_swaps(stream_id)  # heal any earlier maintenance crash
            out: dict[int, tuple[int, int]] = {}
            for r in self.catalog.list_ranges(stream_id):
                if not r.sealed:
                    continue
                d = self._range_dir(stream_id, r.range_index)
                listing = footer_listing(d)
                straddles = any(g[0] < r.start for _, gs in listing for g in gs or ())
                if len(listing) <= 1 and not straddles:
                    continue
                tag = f"s{stream_id}-r{r.range_index}"
                tmp = f"{scratch}/rewrite-{tag}"
                old = f"{scratch}/old-{tag}"
                write_record_file(tmp, scan_range(d, r.start, r.end))
                os.replace(d, old)
                shutil.move(tmp, d)
                _fsync(os.path.dirname(d))
                shutil.rmtree(old)
                out[r.range_index] = (len(listing), len(parquet_files(d)))
            return out

    # ------------------------------------------------- maintenance jobs

    def vacuum(self, stream_id: int) -> None:
        """Physically drop data below the trim horizon / of deleted
        streams, by deleting whole files only (≙ WAL segment reclaim,
        wal.rs:435-541): the directories of deleted streams and dropped
        ranges, and each data file whose footer index says its largest
        offset is below ``start_offset``.  A file without offset
        statistics is kept, and so is one straddling the horizon; its rows
        below ``start_offset`` stay until ``optimize`` compacts its sealed
        range.  Nothing is rewritten and no Spark job runs, so appends,
        which take no maintenance lock, race with nothing: an append lands
        only offsets it reserved at or above ``next_offset``, which no trim
        passes."""
        # single-shard read: vacuum needs only this stream's metadata, and
        # sweep() calls it per stream
        with self._maintenance_lock(stream_id):
            data = self.catalog._read_shard(stream_id)
            if data is None:
                return
            sraw = data["stream"]
            self._repair_swaps(stream_id)  # heal any earlier maintenance crash
            live = {r["range_index"] for r in data["ranges"]}
            for ridx, d in range_dirs(self.records_root, stream_id):
                if sraw["deleted"] or ridx not in live:
                    shutil.rmtree(d)
                    continue
                for path, groups in footer_listing(d):
                    if groups and max(g[1] for g in groups) < sraw["start_offset"]:
                        os.unlink(path)

    def sweep(self, now_ms: int | None = None, optimize: bool = False) -> dict:
        """One maintenance pass over ALL streams — the engine's analogue of
        the reference's background reclaim + offload loops
        (components/store/src/io/wal.rs:362-377 check_expired_segment on a
        timer; components/object-storage/src/range_accumulator.rs:129-170
        compaction): per stream, retention trim → vacuum (whole-file
        deletes), deleted-stream data reclaim and optional compaction of
        sealed ranges with several files or rows below the start.
        First it removes the catalog temp files a killed writer left
        (``StreamCatalog.repair``).  Idempotent; safe to run on any
        schedule.  Returns a per-stream report.  Runs no Spark job.

        At 100 TB each step reads on the driver only what it changes:
        footer metadata (vacuum), the expired ranges plus one (retention),
        the sealed ranges it compacts, one row group at a time (optimize).
        Streams are independent, so a cluster deployment can shard the
        loop by stream_id."""
        now_ms = int(time.time() * 1000) if now_ms is None else now_ms
        self.catalog.repair()
        report: dict = {}
        for meta in self.catalog.list_streams(include_deleted=True):
            sid = meta.stream_id
            if meta.deleted:
                self.vacuum(sid)  # reclaims its range directories
                report[sid] = {"deleted": True}
                continue
            entry: dict = {}
            entry["start_offset"] = self.expire_retention(sid, now_ms)
            if optimize:
                entry["optimized"] = self.optimize(sid)
            report[sid] = entry
        return report

    def expire_retention(self, stream_id: int, now_ms: int) -> int:
        """Retention job ≙ wal.rs:362-377 check_expired_segment: trim the
        stream to the first offset at or above ``start_offset`` whose ts is
        within the retention window (rows below the start that a vacuum
        kept in a straddling file do not count), or to ``next_offset`` if
        none is.  Ranges are disjoint and in offset order, so the first
        range holding a live row holds that offset: the ranges are read
        (``offset`` and ``ts`` only, through ``scan_range``) in order up to
        it, with no Spark job.  Returns the new start_offset."""
        meta = self.catalog.describe_stream(stream_id)
        if meta.retention_ms < 0:
            return meta.start_offset
        horizon = pa.scalar((now_ms - meta.retention_ms) * 1000, pa.timestamp("us"))
        new_start = meta.next_offset
        for s in range_slices(self.catalog, self.records_root, stream_id, meta.start_offset):
            live = [
                pc.min(b["offset"].filter(pc.greater_equal(b["ts"], horizon))).as_py()
                for b in scan_range(s.range_dir, s.lo, s.hi, ("offset", "ts"))
            ]
            live = [o for o in live if o is not None]
            if live:
                new_start = min(live)
                break
        if new_start > meta.start_offset:
            self.catalog.trim_stream(stream_id, new_start)
            self.vacuum(stream_id)
        return max(new_start, meta.start_offset)
