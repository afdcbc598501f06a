"""log_ingest_fetch — the data plane through the SDK.

One client appends 64 KB requests (256 records x 256 B of seeded random
bytes, the reference's request size) to one of 16 streams chosen at
random, and reads back after each append: normally the block it just
wrote, every 4th step a catch-up read of the stream's last 32 blocks.
Reads beside writes mean a change that speeds appends by writing more
or smaller files pays for it on fetch.

Each stream starts with 32 blocks of history, bulk-loaded as the
fixture, so catch-up reads have a constant size from the first step.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

STREAMS = 16
RECORDS = 256  # records per append request
RECORD_BYTES = 256
HISTORY_BLOCKS = 32  # blocks bulk-loaded per stream; also the catch-up span
CATCHUP_EVERY = 4
WARM_STEPS = 6


def history_payload(seed: int, sid: int, offset: int) -> bytes:
    """The bulk-loaded record at (sid, offset): eight chained SHA-256
    digests, the same bytes the Spark expression in ``setup`` builds."""
    return b"".join(
        hashlib.sha256(f"{seed}:{sid}:{offset}:{j}".encode()).digest() for j in range(8)
    )


class LogIngestFetch:
    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        from elastic_stream_spark.client import Frontend

        spark = ctx.spark
        self.seed = ctx.seed
        self.rng = random.Random(ctx.seed)
        self.front = Frontend(spark, os.path.join(ctx.work, "store"))
        sids = [self.front.create() for _ in range(STREAMS)]
        per = HISTORY_BLOCKS * RECORDS
        idx = (F.col("id") / per).cast("int")
        sid = F.element_at(F.array(*[F.lit(s) for s in sids]), idx + 1).cast("long")
        off = F.col("id") % per
        digest = [
            F.sha2(
                F.concat_ws(":", *[c.cast("string") for c in (F.lit(ctx.seed), sid, off, F.lit(j))]),
                256,
            )
            for j in range(8)
        ]
        history = spark.range(STREAMS * per).select(
            sid.alias("stream_id"),
            F.lit(0).alias("range_index"),
            off.alias("offset"),
            F.timestamp_millis(F.lit(0)).alias("ts"),
            F.lit(None).cast("map<string,string>").alias("properties"),
            F.unhex(F.concat(*digest)).alias("payload"),
        )
        self.front.log.bulk_load(history)
        for s in sids:
            self.front.catalog.bulk_register(s, per, per)
        self.streams = {s: self.front.open(s, 0) for s in sids}
        self.sids = sids
        # expected contents per stream, one entry per block: a list of
        # payloads, or None for a bulk-loaded block (rebuilt on demand)
        self.blocks: dict[int, list] = {s: [None] * HISTORY_BLOCKS for s in sids}
        self.step_no = 0
        self.work_timed = 0  # records appended in the timed window
        self.user_bytes = STREAMS * per * RECORD_BYTES

    def _expected(self, sid: int, first_block: int) -> list[bytes]:
        out: list[bytes] = []
        for b in range(first_block, len(self.blocks[sid])):
            blk = self.blocks[sid][b]
            if blk is None:
                blk = [
                    history_payload(self.seed, sid, b * RECORDS + i) for i in range(RECORDS)
                ]
            out.extend(blk)
        return out

    def warm(self, ctx) -> int:
        for _ in range(WARM_STEPS):
            self.step(ctx)
        return WARM_STEPS

    def step(self, ctx) -> None:
        tally, tracer = ctx.tally, ctx.tracer
        sid = self.rng.choice(self.sids)
        stream = self.streams[sid]
        records = [self.rng.randbytes(RECORD_BYTES) for _ in range(RECORDS)]
        expect_base = len(self.blocks[sid]) * RECORDS
        catchup = self.step_no % CATCHUP_EVERY == CATCHUP_EVERY - 1
        self.step_no += 1

        tally.attempted += 1
        with tracer.op("append"):
            t0 = time.perf_counter()
            res = stream.append(records)
            t1 = time.perf_counter()
        ok = tally.check(
            (res.base_offset, res.end_offset) == (expect_base, expect_base + RECORDS),
            f"append to {sid}: got [{res.base_offset},{res.end_offset}) "
            f"expected [{expect_base},{expect_base + RECORDS})",
        )
        self.blocks[sid].append(records)
        self.user_bytes += RECORDS * RECORD_BYTES

        first = len(self.blocks[sid]) - (HISTORY_BLOCKS if catchup else 1)
        expected = self._expected(sid, first)
        lo = first * RECORDS
        tally.attempted += 1
        with tracer.op("fetch_catchup" if catchup else "fetch_tail"):
            t2 = time.perf_counter()
            got = stream.read_payloads(lo, res.end_offset)
            good = got == expected
            t3 = time.perf_counter()
        tally.check(good, f"read_payloads({sid}, {lo}, {res.end_offset}) differs from appended bytes")
        if ok and good:
            ctx.sample("append_ms", t1 - t0)
            ctx.sample("fetch_ms", t3 - t2)
            ctx.sample("step_ms", (t1 - t0) + (t3 - t2))
            if ctx.timed:
                self.work_timed += RECORDS

    def finish(self, ctx) -> dict:
        """End-of-run layout figures of the log."""
        root = self.front.log.records_root
        files = size = 0
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
        return {
            "log.files_total": files,
            "log.bytes_per_user_byte": size / self.user_bytes,
        }

    def close(self) -> None:
        pass
