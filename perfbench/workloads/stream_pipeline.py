"""stream_pipeline — the engine's namesake chain, end to end.

append (SDK) -> ``format("stream_log")`` over 4 source streams ->
``streaming_heavy_hitters`` (space-saving top-k, bounded state) ->
``ExactlyOnceAppendSink`` into an output stream.

Each step appends 2,000 ASCII records of 256 B to one of the 4 source
streams and then waits in ``processAllAvailable()`` until the sink has
committed that data.  A record's first token is its key, drawn Zipf(1.1)
over 50k keys, so key frequencies are uneven.  ``maxRecordsPerTrigger``
admits a whole step, so each append becomes one microbatch.  Here
``streaming``, the sink's ``kv`` markers and the Python/Arrow worker do
the work.

Checks: each append lands at the offsets the client expects; each
microbatch leaves one committed marker covering exactly the rows it
emitted; at the end the output stream's last top-k per source stream
satisfies the space-saving bounds ``est - err <= true <= est`` against
exact counts of the generated keys.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

from common import median

SOURCES = 4
RECORDS = 2000
RECORD_BYTES = 256
KEYS = 50_000
ZIPF_S = 1.1
TOP_K = 5  # streaming_heavy_hitters' default k
QUERY = "hh"
# over 35 runs a process's 3rd and 4th steps ran 9% and 5% above its
# later median, the 5th and 6th 3%; from the 7th on they are flat
WARM_STEPS = 4

PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets", "triggerExecution")


class StreamPipeline:
    def __init__(self) -> None:
        self.query = None

    def setup(self, ctx) -> None:
        import numpy as np
        from pyspark.sql import functions as F

        from elastic_stream_spark.client import Frontend
        from elastic_stream_spark.kv import KVStore
        from elastic_stream_spark.streaming import (
            ExactlyOnceAppendSink,
            StreamLogDataSource,
            streaming_heavy_hitters,
        )

        spark = ctx.spark
        self.rng = random.Random(ctx.seed)
        self.np_rng = np.random.default_rng(ctx.seed)
        weights = 1.0 / np.arange(1, KEYS + 1) ** ZIPF_S
        self.cdf = np.cumsum(weights) / weights.sum()
        self.front = Frontend(spark, os.path.join(ctx.work, "store"))
        self.kv = KVStore(os.path.join(ctx.work, "kv"))
        self.sources = [self.front.create() for _ in range(SOURCES)]
        self.out = self.front.create()
        self.streams = {s: self.front.open(s, 0) for s in self.sources}
        self.next_offset = {s: 0 for s in self.sources}
        self.truth = {s: Counter() for s in self.sources}

        spark.dataSource.register(StreamLogDataSource)
        records = (
            spark.readStream.format("stream_log")
            .option("root", self.front.catalog.root)
            .option("streamIds", ",".join(str(s) for s in self.sources))
            .option("maxRecordsPerTrigger", RECORDS * SOURCES)
            .load()
        )
        keyed = records.select(
            "stream_id",
            F.substring_index(F.decode("payload", "US-ASCII"), " ", 1).alias("key"),
        )
        top = streaming_heavy_hitters(keyed)
        out = top.select(
            F.timestamp_millis(F.lit(0)).alias("ts"),
            F.encode(
                F.concat_ws(
                    ",", *[F.col(c).cast("string") for c in ("stream_id", "key", "est_count", "err", "rank")]
                ),
                "UTF-8",
            ).alias("payload"),
        )
        sink = ExactlyOnceAppendSink(self.front.log, self.kv, self.out, QUERY)
        self.query = (
            out.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(ctx.work, "checkpoint"))
            .start()
        )
        # the query's first trigger may run an empty microbatch; the
        # step -> batch id mapping starts after it
        self.query.processAllAvailable()
        last = self.query.lastProgress
        self.batch0 = last.batchId + 1 if last is not None else 0
        self.steps = 0
        self.out_rows = 0
        self.work_timed = 0  # source records committed in the timed window
        self.first_timed = None
        self.timing: dict[int, tuple[float, float]] = {}  # step -> (append, latency) s

    def _records(self) -> tuple[list[bytes], list[str]]:
        import numpy as np

        idx = np.searchsorted(self.cdf, self.np_rng.random(RECORDS))
        letters = (self.np_rng.integers(0, 26, size=(RECORDS, RECORD_BYTES)) + 97).astype(np.uint8)
        keys = [f"k{i}" for i in idx]
        out = []
        for k, row in zip(keys, letters):
            head = f"{k} ".encode()
            out.append(head + row[len(head) :].tobytes())
        return out, keys

    def warm(self, ctx) -> int:
        for _ in range(WARM_STEPS):
            self.step(ctx)
        return WARM_STEPS

    def step(self, ctx) -> None:
        tally = ctx.tally
        sid = self.rng.choice(self.sources)
        payloads, keys = self._records()
        batch = self.batch0 + self.steps
        self.steps += 1
        tally.attempted += 1
        with ctx.tracer.op("append_commit"):
            t0 = time.perf_counter()  # generator stamp
            res = self.streams[sid].append(payloads)
            t1 = time.perf_counter()
            self.query.processAllAvailable()
            t2 = time.perf_counter()
        base = self.next_offset[sid]
        ok = tally.check(
            (res.base_offset, res.end_offset) == (base, base + RECORDS),
            f"append to {sid}: [{res.base_offset},{res.end_offset}) != [{base},{base + RECORDS})",
        )
        self.next_offset[sid] = base + RECORDS
        self.truth[sid].update(keys)
        marker = self.kv.get(f"__sink__/{QUERY}/{self.out}/{batch}".encode())
        want = f"committed:{self.out_rows}:{self.out_rows + TOP_K}".encode()
        ok = tally.check(
            marker is not None and marker[0] == want,
            f"batch {batch}: marker {marker and marker[0]!r} != {want!r}",
        ) and ok
        self.out_rows += TOP_K
        if ctx.timed:
            if self.first_timed is None:
                self.first_timed = batch
            if ok:
                self.work_timed += RECORDS
                self.timing[batch] = (t1 - t0, t2 - t0)
                ctx.sample("append_ms", t1 - t0)
                ctx.sample("step_ms", t2 - t0)

    def finish(self, ctx) -> dict:
        """Whole-run checks and the microbatch phase figures."""
        from elastic_stream_spark.kv import prefix_end

        tally = ctx.tally
        progress = {p.batchId: p for p in self.query.recentProgress if p.numInputRows > 0}
        tally.attempted += 1
        tally.check(
            sorted(progress) == list(range(self.batch0, self.batch0 + self.steps)),
            f"{len(progress)} microbatches with input for {self.steps} appends",
        )
        prefix = f"__sink__/{QUERY}/{self.out}/".encode()
        markers, _ = self.kv.range(prefix, prefix_end(prefix))
        tally.attempted += 1
        tally.check(
            len(markers) == self.batch0 + self.steps
            and all(v.startswith(b"committed:") for _, v, _ in markers),
            f"{len(markers)} sink markers for {self.batch0 + self.steps} microbatches",
        )
        tally.attempted += 1
        tally.check(self._topk_bounds_hold(), "final top-k violates the space-saving bounds")

        timed = [b for b in progress if self.first_timed is not None and b >= self.first_timed]
        out: dict = {}
        for ph in PHASES:
            vals = [progress[b].durationMs.get(ph, 0) for b in timed]
            out[f"stream.{ph}_ms"] = median(vals)
        waits = [
            (lat - app) * 1e3 - progress[b].durationMs.get("triggerExecution", 0)
            for b, (app, lat) in self.timing.items()
            if b in progress
        ]
        out["stream.pickup_wait_ms"] = median(waits)
        out["stream.microbatches_per_append"] = len(progress) / max(1, self.steps)
        last = progress[max(progress)] if progress else None
        if last is not None and last.stateOperators:
            out["state.rows_total"] = last.stateOperators[0].numRowsTotal
            out["state.memory_bytes"] = last.stateOperators[0].memoryUsedBytes
        return out

    def _topk_bounds_hold(self) -> bool:
        rows = self.front.log.fetch(self.out, 0, self.out_rows).select("offset", "payload").collect()
        if len(rows) != self.out_rows:
            return False
        last: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: r.offset):
            sid, key, est, err, rank = bytes(r.payload).decode().split(",")
            if rank == "1":
                last[int(sid)] = []
            last.setdefault(int(sid), []).append((key, int(est), int(err)))
        touched = {s for s in self.sources if self.truth[s]}
        if set(last) != touched:
            return False
        return all(
            len(top) == TOP_K and all(est - err <= self.truth[s][k] <= est for k, est, err in top)
            for s, top in last.items()
        )

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
