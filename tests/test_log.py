"""Append→fetch roundtrip through the real StreamLog (FIXTURES.md C.1):
appends acked ⇒ fetch returns them exactly once, in offset order —
the property the reference model-checks in TLA+ (docs/tlaplus/)."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from elastic_stream_spark.catalog import FencedError, StreamCatalog
from elastic_stream_spark.log import StreamLog, footer_listing, range_dirs


@pytest.fixture()
def log(spark, workdir):
    return StreamLog(spark, StreamCatalog(workdir))


def _events(spark, n, base_ts=0):
    return spark.range(n).select(
        F.timestamp_millis(F.lit(base_ts) + F.col("id") * 1000).alias("ts"),
        F.create_map(F.lit("i"), F.col("id").cast("string")).alias("properties"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "UTF-8").alias("payload"),
    )


def test_append_fetch_roundtrip(spark, log):
    sid = log.catalog.create_stream().stream_id
    b0 = log.append(sid, _events(spark, 5, 0))
    b1 = log.append(sid, _events(spark, 5, 10_000))
    assert (b0, b1) == ((0, 5), (5, 10))

    rows = log.fetch(sid, 0, 10).collect()
    assert [r.offset for r in rows] == list(range(10))  # contiguous, ordered
    assert rows[0].payload == b"payload-0"
    assert rows[5].payload == b"payload-0"  # second batch restarts its ids
    assert all(r.stream_id == sid for r in rows)

    window = log.fetch(sid, 3, 7).collect()
    assert [r.offset for r in window] == [3, 4, 5, 6]  # [lo, hi)


def test_multi_stream_isolation(spark, log):
    a = log.catalog.create_stream().stream_id
    b = log.catalog.create_stream().stream_id
    log.append(a, _events(spark, 4))
    log.append(b, _events(spark, 6))
    assert log.next_offset(a) == 4 and log.next_offset(b) == 6
    assert log.fetch(a, 0, 100).count() == 4
    assert log.fetch(b, 0, 100).count() == 6
    # offsets are per-stream, both starting at 0
    assert log.fetch(b, 0, 1).collect()[0].offset == 0


def test_fenced_append_rejected(spark, log):
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 3), epoch=0)
    log.catalog.seal_range(sid, epoch=0)  # bumps epoch to 1
    with pytest.raises(FencedError):
        log.append(sid, _events(spark, 3), epoch=0)  # zombie writer
    base, end = log.append(sid, _events(spark, 3), epoch=1)
    assert (base, end) == (3, 6)
    # records land in the successor range's partition
    r = log.records().where(F.col("offset") >= 3).select("range_index").distinct().collect()
    assert [row.range_index for row in r] == [1]


def test_trim_vacuum_and_fetch_floor(spark, log):
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 10))
    log.catalog.seal_range(sid, epoch=0)
    log.append(sid, _events(spark, 10), epoch=1)

    log.catalog.trim_stream(sid, 13)
    # fetch below the trim horizon returns nothing even before vacuum
    assert log.fetch(sid, 0, 13).count() == 0
    assert log.fetch(sid, 0, 100).count() == 7

    # vacuum deletes whole files: range 0 goes, range 1's one file
    # straddles the horizon and stays whole
    log.vacuum(sid)
    assert not os.path.exists(log._range_dir(sid, 0))
    assert [r.offset for r in log.fetch(sid, 0, 100).collect()] == list(range(13, 20))

    # compacting the sealed straddling range drops the rows below 13
    log.catalog.seal_range(sid, epoch=1)
    assert log.optimize(sid) == {1: (1, 1)}
    remaining = log.records().where(F.col("stream_id") == sid)
    assert sorted(r.offset for r in remaining.collect()) == list(range(13, 20))
    assert [r.offset for r in log.fetch(sid, 0, 100).collect()] == list(range(13, 20))


def test_retention_expiry(spark, log):
    sid = log.catalog.create_stream(retention_ms=5_000).stream_id
    log.append(sid, _events(spark, 10, base_ts=0))  # ts = 0..9s
    # now = 12s → horizon 7s → offsets 0..6 expired (ts 0..6s < 7s)
    new_start = log.expire_retention(sid, now_ms=12_000)
    assert new_start == 7
    assert log.catalog.describe_stream(sid).start_offset == 7
    assert log.fetch(sid, 0, 100).count() == 3


def test_empty_append_noop(spark, log):
    sid = log.catalog.create_stream().stream_id
    base, end = log.append(sid, _events(spark, 0))
    assert (base, end) == (0, 0)
    assert log.catalog.describe_stream(sid).next_offset == 0
    assert log.fetch(sid, 0, 10).count() == 0  # no data directory yet


def test_vacuum_repairs_interrupted_swap(spark, log):
    """A crash between vacuum's two directory renames leaves the live
    tree missing the range dir while the rows sit in the scratch
    ``old-<tag>`` dir; the next maintenance pass must roll the swap back
    (restore the rows) instead of stranding them forever (review
    finding)."""
    import os
    import shutil

    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 8))
    assert log.fetch(sid, 0, 8).count() == 8

    # simulate the interrupted swap: d → old done, tmp → d never ran
    d = log._range_dir(sid, 0)
    scratch = f"{log.catalog.root}/_vacuum_tmp"
    os.makedirs(scratch, exist_ok=True)
    tmp = f"{scratch}/rewrite-s{sid}-r0"
    os.makedirs(tmp, exist_ok=True)  # stale partial rewrite
    os.replace(d, f"{scratch}/old-s{sid}-r0")
    assert log.fetch(sid, 0, 8).count() == 0  # the crash symptom

    log.vacuum(sid)  # repair runs at maintenance entry
    assert log.fetch(sid, 0, 8).count() == 8
    assert not os.path.exists(f"{scratch}/old-s{sid}-r0")
    assert not os.path.exists(tmp)

    # completed-swap leftover (crash after tmp → d, before rm old):
    # repair must finish the cleanup without touching the live dir
    shutil.copytree(d, f"{scratch}/old-s{sid}-r0")
    log.vacuum(sid)
    assert not os.path.exists(f"{scratch}/old-s{sid}-r0")
    assert log.fetch(sid, 0, 8).count() == 8


def test_retention_reads_no_rows_below_the_horizon(spark, log):
    """Rows below ``start_offset`` that no vacuum removed do not set the
    retention cut: fresh rows under the trim horizon must not hold the
    stream's start back."""
    sid = log.catalog.create_stream(retention_ms=5_000).stream_id
    for ts_ms in (100_000, 0, 100_000):  # offsets 0-4, 5-9, 10-14
        log.append(sid, [b"r"] * 5, ts_ms=ts_ms)
    log.catalog.trim_stream(sid, 5)  # no vacuum: offsets 0-4 stay on disk
    # horizon 5 s: offsets 5-9 (ts 0 s) expire, 10-14 are live
    assert log.expire_retention(sid, now_ms=10_000) == 10
    assert log.catalog.describe_stream(sid).start_offset == 10


def test_concurrent_writer_survives_trim_and_vacuum(spark, log):
    """Appends keep landing while the stream is trimmed and vacuumed:
    every confirmed offset at or above ``start_offset`` reads back exactly
    once, with its bytes, and a vacuum runs no Spark job.  Appends take no
    maintenance lock, so a vacuum that rewrote the mutable range could
    move a block landing mid-rewrite out of the read tree."""
    sid = log.catalog.create_stream().stream_id
    writer = StreamLog(None, StreamCatalog(log.catalog.root))
    acks: list[tuple[int, int, int]] = []  # (base, end, block number)
    errors: list[BaseException] = []
    stop = threading.Event()

    def write():
        try:
            k = 0
            while not stop.is_set():
                base, end = writer.append(sid, [b"%d:%d" % (k, i) for i in range(16)])
                acks.append((base, end, k))
                k += 1
        except BaseException as e:  # surfaced by the main thread
            errors.append(e)

    def wait_for_acks(n):
        deadline = time.monotonic() + 60
        while len(acks) < n and not errors and time.monotonic() < deadline:
            time.sleep(0.005)

    sc = spark.sparkContext
    groups = [f"vacuum-concurrent-{r}" for r in range(5)]
    thread = threading.Thread(target=write)
    thread.start()
    try:
        for r, group in enumerate(groups):
            wait_for_acks(8 * (r + 1))
            log.catalog.trim_stream(sid, acks[-3][0])  # an acked block's base
            sc.setJobGroup(group, group)
            try:
                log.vacuum(sid)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            wait_for_acks(len(acks) + 4)  # appends land after the vacuum too
    finally:
        stop.set()
        thread.join()
    meta = log.catalog.describe_stream(sid)
    want = {
        base + i: b"%d:%d" % (k, i)
        for base, end, k in acks
        for i in range(end - base)
        if base + i >= meta.start_offset
    }
    got = log.fetch_table(sid, 0, meta.confirmed_offset, ("offset", "payload"))
    offsets = got["offset"].to_pylist()
    lost = sorted(set(want) - set(offsets))
    assert not lost, f"{len(lost)} of {len(want)} confirmed offsets lost, e.g. {lost[:5]}"
    assert not errors, errors
    assert meta.confirmed_offset == meta.next_offset == acks[-1][1]
    assert offsets == sorted(want)  # exactly once
    assert got["payload"].to_pylist() == [want[o] for o in offsets]
    # the last vacuum left no file wholly below the horizon
    for r in log.catalog.list_ranges(sid):
        for _, gs in footer_listing(log._range_dir(sid, r.range_index)):
            assert max(g[1] for g in gs) >= meta.start_offset

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups}
    assert jobs == dict.fromkeys(groups, 0), jobs


def test_sweep_runs_no_spark_job(spark, log):
    """Retention, reclaim and compaction need no Spark: a sweep through
    ``StreamLog(None, catalog)`` runs 0 jobs and ends as
    ``test_sweep_all_streams_agree`` does."""
    a = log.catalog.create_stream(retention_ms=500_000).stream_id
    log.append(a, [b"stale"] * 4, ts_ms=0)
    log.append(a, [b"fresh"] * 4, ts_ms=800_000)
    b = log.catalog.create_stream().stream_id
    log.append(b, [b"gone"] * 3)
    log.catalog.delete_stream(b)
    c = log.catalog.create_stream().stream_id
    for i in range(3):
        log.append(c, [b"c%d" % i] * 2, ts_ms=i * 1_000)
    log.catalog.seal_range(c, epoch=0)

    sc = spark.sparkContext
    sc.setJobGroup("sweep-no-spark", "sweep-no-spark")
    try:
        report = StreamLog(None, StreamCatalog(log.catalog.root)).sweep(
            now_ms=1_000_000, optimize=True
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("sweep-no-spark")) == 0

    assert report == {
        a: {"start_offset": 4, "optimized": {}},
        b: {"deleted": True},
        c: {"start_offset": 0, "optimized": {0: (3, 1)}},
    }
    assert log.fetch_table(a, 0, 100)["offset"].to_pylist() == [4, 5, 6, 7]
    assert range_dirs(log.records_root, b) == []
    got = log.fetch_table(c, 0, 100)
    assert got["offset"].to_pylist() == list(range(6))
    assert got["payload"].to_pylist() == [b"c0", b"c0", b"c1", b"c1", b"c2", b"c2"]
