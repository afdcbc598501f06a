"""Exactly-once streaming sink into the record log.

The reference gives at-least-once appends with idempotent offset dedup
(range_manager/window.rs:18-21 OffsetCommitted).  Spark's retried
microbatches give the same at-least-once raw material; we upgrade to
exactly-once with a two-phase, batchId-keyed marker in the KV store
(SURVEY.md §2.8, §7 hard-part 4):

0. collect the microbatch once to the driver as an Arrow table
   (``StreamLog.prepare_batch``) — the one Spark job of the call, which
   runs the query's stateful operator;
1. reserve its row count through the catalog, then CAS-create the marker
   ``reserved:<base>:<end>:<range_index>`` (create-if-absent — a
   concurrent/zombie attempt loses the CAS and backs off);
2. write that same table, stamped ``base + i``, as one data file
   (``StreamLog.write_stamped``, the writer a DataFrame append uses);
3. flip the marker to ``committed:<base>:<end>``.

The written rows are the collected rows, so the reserved count and the
written count agree without checkpointing the microbatch.  A null ``ts``
is refused (``ValueError``) before anything is reserved, and so is a
microbatch too large to collect: ``spark.driver.maxResultSize`` fails
the collect.  Every caller emits an aggregate (a top-k, windowed counts,
one manifest row per batch), a few rows per microbatch.

The write is one file rename, so it lands whole or not at all.  Crash
windows, all safe:
- after reserve, before marker  → the reservation leaks (offset gap, no
  duplicate) — the same gap a fenced writer leaves in the reference;
- after marker, before the rename → replay counts 0 rows in
  ``[base, end)`` → re-writes the SAME offsets (no new reservation, no
  duplicates); the size check ``n != end - base`` refuses a source
  that replays a different batch;
- after the rename, before commit → replay counts exactly ``end - base``
  rows → flips to committed without writing.

A replay that counts ``0 < n < end - base`` rows in a reserved block
raises ``RuntimeError`` before collecting and deletes nothing.  Every
writer lands a block as one file, so only trimming, or a sink that landed
its block through a Spark job and was killed mid-commit, leaves one
partly landed.  Its rows are not the replay's alone to delete: once
``optimize`` has rewritten the range, the files that
overlap the block hold committed records of other blocks too.  To
recover by hand, inspect the span with ``StreamLog.count_span`` and
``fetch``, then delete the ``reserved:`` marker from the KV store (the
replay then lands the batch at new offsets) or overwrite it with
``committed:<base>:<end>`` (the replay then skips the batch).

Mode contract: the sink is for ``append``/``update`` output modes, where
each microbatch carries only new/changed rows.  ``complete`` mode re-emits
the whole result every trigger — appending it would duplicate prior
windows by design; use foreachBatch overwrite semantics for that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from elastic_stream_spark.kv import KVStore
from elastic_stream_spark.log import StreamLog


class ExactlyOnceAppendSink:
    """``foreachBatch`` callable appending a streaming query's output to a
    stream with two-phase batchId idempotence (see module docstring)."""

    def __init__(self, log: StreamLog, kv: KVStore, stream_id: int, query_name: str):
        self.log = log
        self.kv = kv
        self.stream_id = stream_id
        self.query_name = query_name

    def _marker(self, batch_id: int) -> bytes:
        return f"__sink__/{self.query_name}/{self.stream_id}/{batch_id}".encode()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        marker = self._marker(batch_id)
        ent = self.kv.get(marker)
        if ent is not None:
            value, version = ent
            state = value.decode()
            if state.startswith("committed:"):
                return  # replayed microbatch — already fully applied
            # an attempt that crashed: reserved:<base>:<end>:<range_index>
            _, base_s, end_s, ridx_s = state.split(":")
            base, end, ridx = int(base_s), int(end_s), int(ridx_s)
            n_present = self.log.count_span(self.stream_id, base, end)
            if n_present not in (0, end - base):
                raise RuntimeError(
                    f"batch {batch_id}: reserved block [{base},{end}) holds "
                    f"{n_present} of its {end - base} rows — partly landed, "
                    "not replayed; inspect the span with count_span/fetch, then "
                    f"delete or overwrite the KV marker {marker!r} to release "
                    "the batch"
                )
            if n_present == 0:
                table = self.log.prepare_batch(batch_df)
                if table.num_rows != end - base:
                    raise RuntimeError(
                        f"replayed batch {batch_id} size {table.num_rows} != "
                        f"reserved block [{base},{end}) — non-deterministic "
                        "source replay"
                    )
                self.log.write_stamped(self.stream_id, table, base, ridx)
            self.kv.cas(marker, version, f"committed:{base}:{end}".encode())
            # block verified durable (count_span == end-base or written)
            # → advance the confirm offset downstream readers admit on
            self.log.catalog.confirm_offset(self.stream_id, end)
            return

        table = self.log.prepare_batch(batch_df)
        n = table.num_rows
        if n == 0:
            self.kv.cas(marker, 0, b"committed:0:0")
            return
        base, rng = self.log.catalog.reserve_offsets(self.stream_id, n)
        if not self.kv.cas(
            marker, 0, f"reserved:{base}:{base + n}:{rng.range_index}".encode()
        ):
            return  # lost the create race — another attempt owns this batch
        self.log.write_stamped(self.stream_id, table, base, rng.range_index)
        ent = self.kv.get(marker)
        assert ent is not None
        self.kv.cas(marker, ent[1], f"committed:{base}:{base + n}".encode())
        self.log.catalog.confirm_offset(self.stream_id, base + n)
