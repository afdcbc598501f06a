"""SDK facade — the reference frontend's client surface on this engine.

Mirrors the reference SDK's two entry types so a user of the reference
can switch without relearning the lifecycle:

- ``Frontend`` ≙ sdks/frontend-rs/src/frontend.rs:18-56
  (``new(access_point)``, ``create(StreamOptions) -> stream_id``,
  ``open(stream_id, epoch) -> Stream``)
- ``Stream``   ≙ sdks/frontend-rs/src/stream.rs:18-121
  (``start_offset``, ``next_offset``, ``append -> AppendResult``,
  ``read(start, end, batch_max_bytes)``, ``close``)

Semantics mapped Spark-first:

- ``create``'s replica/ack options are accepted for API parity and
  recorded, but replication is delegated wholesale to the storage layer
  (SURVEY.md §2 rows 19/33 — the Parquet/object store is the replicated
  substrate, as S3 is for the reference's tiered store).
- ``open(stream_id, epoch)`` performs the reference's writer-takeover:
  it seals the current mutable range under the presented epoch and opens
  a successor with a bumped epoch (frontend.rs:49-56 → PD seal+create;
  our ``seal_range``).  Any prior ``Stream`` handle still holding the
  old epoch is fenced on its next append (``FencedError`` ≙
  EXPIRED_RANGE_EPOCH, rpc.fbs:48-51).
- ``append`` takes a DataFrame batch (ts/properties/payload) — the
  Spark-native record batch, collected to the driver by its one Spark
  job — or a plain list of payload bytes, with no Spark job; either way
  the driver writes the block as one Parquet file, and both return
  ``AppendResult.base_offset`` (append_result.rs:1-10).
- ``read`` returns the records DataFrame (offset-ordered, pruned scan) —
  the distributed path; ``read_payloads`` returns the raw payload bytes
  like the reference's ``Vec<Bytes>`` return, read on the driver with
  pyarrow and no Spark job — for windows that fit on the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from elastic_stream_spark.catalog import StreamCatalog
from elastic_stream_spark.log import StreamLog


@dataclass(frozen=True)
class AppendResult:
    """≙ append_result.rs:1-10 (base_offset), plus the exclusive end our
    batch appends naturally know."""

    base_offset: int
    end_offset: int


@dataclass(frozen=True)
class StreamOptions:
    """≙ stream_options.rs:1-9.  replica/ack recorded for parity;
    retention_ms drives the engine's retention sweep."""

    replica: int = 1
    ack: int = 1
    retention_ms: int = -1


class Stream:
    """An open writer/reader handle bound to a fencing epoch."""

    def __init__(self, frontend: "Frontend", stream_id: int, epoch: int):
        self._f = frontend
        self.id = stream_id
        self.epoch = epoch
        self._closed = False

    # ----------------------------------------------------------- offsets

    def start_offset(self) -> int:
        """≙ stream.rs:18-24 — min readable offset (trim horizon)."""
        return self._f.catalog.describe_stream(self.id).start_offset

    def next_offset(self) -> int:
        """≙ stream.rs:26-33 — next offset to be assigned."""
        return self._f.catalog.describe_stream(self.id).next_offset

    # ------------------------------------------------------------- write

    def append(self, batch, ts_ms: int = 0) -> AppendResult:
        """≙ stream.rs:39-77.  ``batch`` is a DataFrame with ``ts`` (+
        optional properties/payload) or a list of payload ``bytes`` (each
        element one record, stamped with ``ts_ms``).  Either lands as one
        data file, whole or not at all; a DataFrame is collected to the
        driver first, so it is bounded by ``spark.driver.maxResultSize``
        (``StreamLog.append``).  Fenced with this handle's epoch: a newer
        ``open`` invalidates it."""
        self._check_open()
        base, end = self._f.log.append(self.id, batch, epoch=self.epoch, ts_ms=ts_ms)
        return AppendResult(base, end)

    # -------------------------------------------------------------- read

    def read(
        self, start_offset: int, end_offset: int, batch_max_bytes: int | None = None
    ) -> DataFrame:
        """≙ stream.rs:82-111 — records in ``[start, end)`` as a
        DataFrame (partition-pruned, offset-pushdown scan).  When
        ``batch_max_bytes`` is given the window is clamped the way the
        reference's byte budget truncates a fetch response (whole records,
        never partial)."""
        self._check_open()
        df = self._f.log.fetch(self.id, start_offset, end_offset)
        if batch_max_bytes is not None:
            from pyspark.sql import functions as F
            from pyspark.sql.window import Window

            # whole records while cumulative payload bytes fit the budget;
            # always at least the first record (the reference's fetch
            # returns one batch even when it alone exceeds the budget).
            # The single-partition window is bounded by the requested
            # fetch span — the span a byte budget implies is small by
            # construction; the non-foldable constant partition key is
            # the same execution as an unpartitioned window without the
            # spurious warning.
            one = Window.partitionBy(
                F.pmod(F.col("offset"), F.lit(1))
            ).orderBy("offset")
            w = one.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            df = (
                df.withColumn("_cum", F.sum(F.length("payload")).over(w))
                .withColumn("_rn", F.row_number().over(one))
                .where((F.col("_cum") <= batch_max_bytes) | (F.col("_rn") == 1))
                .drop("_cum", "_rn")
            )
        return df

    def read_payloads(self, start_offset: int, end_offset: int) -> list[bytes]:
        """Driver-side payload bytes, offset order — the reference's
        ``Vec<Bytes>`` shape, read with no Spark job
        (``StreamLog.fetch_table``); use ``read`` for anything big."""
        self._check_open()
        table = self._f.log.fetch_table(self.id, start_offset, end_offset, ("offset", "payload"))
        return table.column("payload").to_pylist()

    # --------------------------------------------------------- lifecycle

    def trim(self, new_start_offset: int) -> None:
        """TRIM_STREAM through the handle (parity helper; the wire op the
        reference exposes on the frontend client)."""
        self._check_open()
        self._f.catalog.trim_stream(self.id, new_start_offset)

    def close(self) -> None:
        """≙ stream.rs:116-121 — releases the handle (metadata-only here:
        writes are per-batch jobs, nothing buffered)."""
        self._closed = True

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError(f"stream handle {self.id} is closed")


class Frontend:
    """≙ frontend.rs:18-56: the client entry point, addressed by a
    storage root instead of a PD endpoint."""

    def __init__(self, spark: SparkSession, access_point: str):
        self.spark = spark
        self.catalog = StreamCatalog(access_point)
        self.log = StreamLog(spark, self.catalog)

    def create(self, options: StreamOptions | None = None) -> int:
        """≙ frontend.rs:40-47 — returns the new stream id."""
        options = options or StreamOptions()
        meta = self.catalog.create_stream(
            replica=options.replica,
            ack_count=options.ack,
            retention_ms=options.retention_ms,
        )
        return meta.stream_id

    def open(self, stream_id: int, epoch: int) -> Stream:
        """≙ frontend.rs:49-56 — writer takeover: seal the mutable range
        under the presented epoch, open a successor with a bumped epoch,
        and hand back a ``Stream`` bound to it.  Prior handles are fenced.

        The reference requires the presented epoch to be at or above the
        stream's current epoch (EXPIRED_RANGE_EPOCH otherwise); sealing an
        empty mutable range is legal and yields an empty sealed range —
        same as its PD."""
        meta = self.catalog.describe_stream(stream_id)
        self.catalog.seal_range(stream_id, epoch=max(epoch, meta.epoch))
        return Stream(self, stream_id, self.catalog.describe_stream(stream_id).epoch)
