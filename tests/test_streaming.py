"""Structured Streaming: source over the log, windowed aggs matching the
batch formulations, watermark late-drop, exactly-once sink idempotence
(FIXTURES.md C.3 + SURVEY.md §2.8)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elastic_stream_spark.catalog import StreamCatalog
from elastic_stream_spark.kv import KVStore
from elastic_stream_spark.log import StreamLog
from elastic_stream_spark.streaming import (
    ExactlyOnceAppendSink,
    StreamLogDataSource,
    poll_fetch,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def log(spark, workdir):
    return StreamLog(spark, StreamCatalog(workdir))


def _events(spark, n, base_ts=0):
    return spark.range(n).select(
        F.timestamp_millis(F.lit(base_ts) + F.col("id") * 60_000).alias("ts"),
        F.create_map(F.lit("i"), F.col("id").cast("string")).alias("properties"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("payload"),
    )


def _read_log(spark, log, stream_ids, **options):
    """``format("stream_log")`` over ``stream_ids`` (one id or a list)."""
    spark.dataSource.register(StreamLogDataSource)
    reader = spark.readStream.format("stream_log").option("root", log.catalog.root)
    if isinstance(stream_ids, int):
        reader = reader.option("streamId", stream_ids)
    else:
        reader = reader.option("streamIds", ",".join(str(s) for s in stream_ids))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def _drain(sdf, name, output_mode="append"):
    """Run ``sdf`` into the memory table ``name`` until every admitted
    window is processed; returns the stopped query."""
    q = (
        sdf.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def _run_available_now(sdf, name, output_mode="append"):
    q = (
        sdf.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_fetch_sees_appends(spark, log):
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 5))
    sdf = _read_log(spark, log, sid)
    _run_available_now(sdf, "t_fetch1")
    got = spark.sql("SELECT offset FROM t_fetch1 ORDER BY offset").collect()
    assert [r.offset for r in got] == [0, 1, 2, 3, 4]

    # new append → a fresh availableNow run from offset 5 reads exactly it
    log.append(sid, _events(spark, 3, base_ts=10_000_000))
    sdf2 = _read_log(spark, log, sid, startOffset=5)
    _run_available_now(sdf2, "t_fetch2")
    got2 = spark.sql("SELECT offset FROM t_fetch2 ORDER BY offset").collect()
    assert [r.offset for r in got2] == [5, 6, 7]


def test_per_stream_subscription_prunes_listing(spark, log, monkeypatch):
    """A per-stream subscription must scan ONLY the stream's range
    directories — read cost tracks the subscribed stream, not the log
    (≙ per-stream FETCH addressing one range server, not the cluster)."""
    from elastic_stream_spark.log import range_dirs
    from elastic_stream_spark.streaming import datasource

    a = log.catalog.create_stream().stream_id
    b = log.catalog.create_stream().stream_id
    log.append(a, _events(spark, 4))
    log.append(b, _events(spark, 6))
    scanned = []
    scan = datasource.scan_range
    monkeypatch.setattr(
        datasource, "scan_range", lambda d, lo, hi: scanned.append(d) or scan(d, lo, hi)
    )
    r = datasource.StreamLogStreamReader({"root": log.catalog.root, "streamid": str(a)})
    batches, _ = r.read(r.initialOffset())
    assert {v for bt in batches for v in bt["stream_id"].to_pylist()} == {a}
    own_dirs = {d for _, d in range_dirs(log.records_root, a)}
    assert scanned and set(scanned) <= own_dirs

    _run_available_now(_read_log(spark, log, a), "t_prune")
    got = spark.sql("SELECT stream_id, offset FROM t_prune").collect()
    assert {r.stream_id for r in got} == {a}
    assert sorted(r.offset for r in got) == [0, 1, 2, 3]


def test_record_admission_caps_microbatches(spark, log):
    """maxRecordsPerTrigger (≙ FETCH record budget, docs/sbp.md:220-285;
    Kafka's maxOffsetsPerTrigger): the stream_log Python data source
    advances its offset by at most the cap per microbatch — no batch
    exceeds it, the union is complete, and appends made while the query
    runs are admitted under the same cap."""
    from elastic_stream_spark.streaming import StreamLogDataSource

    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 17))
    spark.dataSource.register(StreamLogDataSource)
    sdf = (
        spark.readStream.format("stream_log")
        .option("root", log.catalog.root)
        .option("streamId", sid)
        .option("maxRecordsPerTrigger", 5)
        .load()
    )
    q = (
        sdf.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_reccap")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        log.append(sid, _events(spark, 7, base_ts=10_000_000))
        q.processAllAvailable()
    finally:
        q.stop()
    batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert batches and all(n <= 5 for n in batches), batches
    assert len(batches) >= 5  # 24 records / cap 5 → at least 5 non-empty
    got = spark.sql("SELECT offset FROM t_reccap ORDER BY offset").collect()
    assert [r.offset for r in got] == list(range(24))


def test_record_admission_survives_restart(spark, log):
    """The reader's admission window stays ≤ maxRecordsPerTrigger past
    whatever start it is handed: a fresh reader instance (a restarted
    query) admits from Spark's checkpointed offset, not from
    startOffset, and reads exactly the admitted window.  The Spark-level
    restart is ``test_stream_log_restart_and_replay_deliver_once``."""
    from elastic_stream_spark.streaming.datasource import StreamLogStreamReader

    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 12))
    opts = {"root": log.catalog.root, "streamid": str(sid), "maxrecordspertrigger": "5"}

    r1 = StreamLogStreamReader(dict(opts))
    assert r1.initialOffset() == {"offset": 0}
    assert r1.admit({"offset": 0}) == {"offset": 5}  # capped
    assert r1.admit({"offset": 5}) == {"offset": 10}

    # restart: a NEW reader admits from the start Spark hands it
    r2 = StreamLogStreamReader(dict(opts))
    batches, end = r2.read({"offset": 10})
    assert end == {"offset": 12}  # 10 + ≤5, clamped to tail
    assert [o for b in batches for o in b["offset"].to_pylist()] == [10, 11]
    # empty window → no batches, and the end does not move
    batches, end = r2.read({"offset": 12})
    assert end == {"offset": 12} and list(batches) == []


def test_stream_log_restart_and_replay_deliver_once(spark, log, workdir):
    """Spark-level restart and replay on one checkpoint.  A restart
    resumes admission from the checkpointed offset under the same cap,
    and every offset arrives once.  A batch whose commit is lost is
    replayed through ``readBetweenOffsets`` with the same rows."""
    sid = log.catalog.create_stream().stream_id
    ckpt = os.path.join(workdir, "ckpt")
    got: list[tuple[int, list[int]]] = []

    def run():
        q = (
            _read_log(spark, log, sid, maxRecordsPerTrigger=5)
            .writeStream.foreachBatch(
                lambda df, bid: got.append(
                    (bid, sorted(r.offset for r in df.select("offset").collect()))
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    log.append(sid, _events(spark, 12))
    run()
    log.append(sid, _events(spark, 12, base_ts=10_000_000))
    run()  # restart on the same checkpoint
    assert all(len(offs) <= 5 for _, offs in got), got
    assert sorted(o for _, offs in got for o in offs) == list(range(24))
    by_batch = dict(got)

    # lose the last batch's commit: the restart replays that batch
    last = max(int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())
    os.remove(os.path.join(ckpt, "commits", str(last)))
    os.remove(os.path.join(ckpt, "commits", f".{last}.crc"))
    got.clear()
    run()
    assert got == [(last, by_batch[last])], got


def test_missing_range_dir_fails_the_read(spark, log, workdir):
    """A confirmed window whose range directory is gone (a maintenance
    swap mid-rename) raises, where ``scan_range`` alone would yield
    nothing and the batch would commit past the records."""
    from elastic_stream_spark.log import range_dirs
    from elastic_stream_spark.streaming.datasource import StreamLogStreamReader

    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 4))
    r = StreamLogStreamReader({"root": log.catalog.root, "streamid": str(sid)})
    [(_, d)] = range_dirs(log.records_root, sid)
    os.rename(d, os.path.join(workdir, "moved"))
    with pytest.raises(FileNotFoundError, match="range dir missing"):
        r.read(r.initialOffset())


def test_read_batches_match_the_declared_arrow_schema(spark, log):
    """The JVM asserts that the source's Arrow batches have exactly the
    schema Spark declared; the log's files carry ``ts`` with no time
    zone, so every batch ``read`` returns must come back cast."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    s1 = log.catalog.create_stream().stream_id
    s2 = log.catalog.create_stream().stream_id
    log.append(s1, _events(spark, 3))
    log.append(s2, _events(spark, 2))
    for ids in ({"streamid": str(s1)}, {"streamids": f"{s1},{s2}"}):
        ds = StreamLogDataSource({"root": log.catalog.root, **ids})
        want = to_arrow_schema(ds.schema())
        assert want.field("ts").type == pa.timestamp("us", tz="UTC")
        r = ds.simpleStreamReader(ds.schema())
        batches = list(r.read(r.initialOffset())[0])
        assert batches and all(b.schema == want for b in batches)


def test_poll_fetch_long_poll_semantics(spark, log):
    """poll_fetch = synchronous long-poll FETCH: bounded admission
    (max_records), immediate return when data is available, timed-out
    empty return at the committed tail."""
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 5))
    df, end = poll_fetch(log, sid, 0, max_records=3)
    assert end == 3 and [r.offset for r in df.collect()] == [0, 1, 2]
    df, end = poll_fetch(log, sid, end)
    assert end == 5 and [r.offset for r in df.collect()] == [3, 4]
    # at the tail: waits max_wait_ms then returns empty without blocking
    import time as _t

    t0 = _t.monotonic()
    df, end = poll_fetch(log, sid, 5, max_wait_ms=300)
    assert end == 5 and df.count() == 0
    assert 0.2 <= _t.monotonic() - t0 < 5


def test_streaming_tumbling_matches_batch(spark, log):
    """The same window expression through readStream equals the batch
    result — streaming semantics parity for the oracle-checked agg."""
    from elastic_stream_spark.operators.streaming_ops import tumbling_window_counts
    from elastic_stream_spark.sources.envelope import load_table

    batch = tumbling_window_counts(spark, SF_DIR).collect()

    # stream the ts-normalized events via a temp parquet copy (the raw
    # file is TIMESTAMP(NANOS) which the streaming reader can't take)
    norm = load_table(spark, SF_DIR, "events")
    tmp = log.catalog.root + "/events_norm"
    norm.write.mode("overwrite").parquet(tmp)
    sdf = spark.readStream.schema(norm.schema).parquet(tmp)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    _run_available_now(agg, "t_tumble", output_mode="complete")
    got = spark.sql(
        "SELECT * FROM t_tumble ORDER BY window_start, event_type"
    ).collect()
    assert got == batch


def test_watermark_drops_late_rows(spark, log, workdir):
    """FIXTURES.md C.3: rows older than the watermark are dropped
    deterministically across two microbatches."""
    tmp = workdir + "/late_src"
    # batch 1: events at minutes 0..9 → watermark advances to 9min - 5min
    _events(spark, 10).write.mode("append").parquet(tmp)
    schema = spark.read.parquet(tmp).schema
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1000).parquet(tmp)
    agg = (
        sdf.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "2 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one late event at minute 1 (< watermark 4min) and one
        # fresh event at minute 20 — late row must be dropped
        _events(spark, 1, base_ts=60_000).write.mode("append").parquet(tmp)
        _events(spark, 1, base_ts=20 * 60_000).write.mode("append").parquet(tmp)
        q.processAllAvailable()
        # batch 3: push watermark far ahead to finalize all windows
        _events(spark, 1, base_ts=3_600_000 * 24).write.mode("append").parquet(tmp)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.ws: r.n for r in spark.sql("SELECT * FROM t_late").collect()}
    import datetime

    m = datetime.datetime(1970, 1, 1, 0, 0)

    def at(minutes):
        return m + datetime.timedelta(minutes=minutes)

    # minutes 0..9 → windows 0,2,4,6,8 with 2 each; the late minute-1 event
    # was NOT added (window 0 stays 2); minute-20 event present
    assert got[at(0)] == 2
    assert got[at(20)] == 1
    assert sum(n for ws, n in got.items() if ws <= at(8)) == 10


def test_exactly_once_sink_replay(spark, log, workdir):
    """Replayed microbatch appends nothing (batchId-keyed idempotence) —
    strictly stronger than the reference's at-least-once + dedup
    (window.rs:18-21)."""
    kv = KVStore(workdir + "/kv")
    sid = log.catalog.create_stream().stream_id
    sink = ExactlyOnceAppendSink(log, kv, sid, "q1")
    batch = _events(spark, 4)
    sink(batch, batch_id=0)
    assert log.next_offset(sid) == 4
    sink(batch, batch_id=0)  # replay — must be a no-op
    assert log.next_offset(sid) == 4
    sink(batch, batch_id=1)  # genuinely new batch
    assert log.next_offset(sid) == 8
    assert log.fetch(sid, 0, 100).count() == 8


def test_sink_replays_torn_write_same_offsets(spark, log, workdir):
    """Crash between marker-reserve and write: the replay must write the
    SAME reserved offsets (no new reservation, no duplicate, no gap)."""
    kv = KVStore(workdir + "/kv_torn1")
    sid = log.catalog.create_stream().stream_id
    sink = ExactlyOnceAppendSink(log, kv, sid, "qt")
    batch = _events(spark, 4)
    # simulate phase 1 only: reserve + marker, then "crash" before write
    base, rng = log.catalog.reserve_offsets(sid, 4)
    assert kv.cas(sink._marker(0), 0, f"reserved:{base}:{base + 4}:{rng.range_index}".encode())
    assert log.fetch(sid, 0, 100).count() == 0
    # replay completes the torn batch at the same offsets
    sink(batch, batch_id=0)
    assert log.next_offset(sid) == 4
    assert [r.offset for r in log.fetch(sid, 0, 100).collect()] == [0, 1, 2, 3]
    assert kv.get(sink._marker(0))[0].decode().startswith("committed:")
    # and a second replay is a pure no-op
    sink(batch, batch_id=0)
    assert log.fetch(sid, 0, 100).count() == 4


def test_sink_replays_after_write_before_commit(spark, log, workdir):
    """Crash between write and marker-commit: the replay must NOT write
    again (it finds the record at base) — just flips the marker."""
    kv = KVStore(workdir + "/kv_torn2")
    sid = log.catalog.create_stream().stream_id
    sink = ExactlyOnceAppendSink(log, kv, sid, "qt2")
    batch = _events(spark, 3)
    base, rng = log.catalog.reserve_offsets(sid, 3)
    assert kv.cas(sink._marker(0), 0, f"reserved:{base}:{base + 3}:{rng.range_index}".encode())
    log.write_stamped(sid, log.prepare_batch(batch), base, rng.range_index)  # crash after this
    sink(batch, batch_id=0)
    assert log.fetch(sid, 0, 100).count() == 3  # not duplicated
    assert kv.get(sink._marker(0))[0].decode().startswith("committed:")


@pytest.mark.parametrize("compact", [False, True], ids=["plain", "compacted"])
def test_sink_refuses_partly_landed_block(spark, log, workdir, compact):
    """A replay that finds its reserved block partly landed raises and
    deletes nothing.  Only a sink that landed its block through a Spark
    job could tear one.  Once ``optimize`` has compacted the range, the
    file that overlaps the block also holds the committed records of the
    blocks before it, so deleting it to re-write the block loses them."""
    kv = KVStore(workdir + f"/kv_partial_{compact}")
    sid = log.catalog.create_stream().stream_id
    sink = ExactlyOnceAppendSink(log, kv, sid, "qpart")
    sink(_events(spark, 4), batch_id=0)  # committed [0, 4)
    base, rng = log.catalog.reserve_offsets(sid, 4)
    assert kv.cas(sink._marker(1), 0, f"reserved:{base}:{base + 4}:{rng.range_index}".encode())
    # only the first 2 rows of the block landed
    log.write_stamped(sid, log.prepare_batch(_events(spark, 2)), base, rng.range_index)
    if compact:
        log.catalog.seal_range(sid, epoch=log.catalog.describe_stream(sid).epoch)
        assert log.optimize(sid) == {rng.range_index: (2, 1)}
    assert log.count_span(sid, base, base + 4) == 2
    with pytest.raises(RuntimeError, match="partly landed"):
        sink(_events(spark, 4), batch_id=1)
    assert [r.offset for r in log.fetch(sid, 0, 100).collect()] == list(range(6))
    assert kv.get(sink._marker(1))[0].decode().startswith("reserved:")


def test_sink_runs_one_spark_job_per_batch(spark, log, workdir):
    """A microbatch, or a DataFrame append, is collected once and landed
    by the Arrow record writer: the whole call is one Spark job."""
    kv = KVStore(workdir + "/kv_jobs")
    sid = log.catalog.create_stream().stream_id
    sink = ExactlyOnceAppendSink(log, kv, sid, "qjobs")
    calls = {
        "sink-one-batch": lambda: sink(_events(spark, 4), batch_id=0),
        "append-one-batch": lambda: log.append(sid, _events(spark, 4)),
    }
    sc = spark.sparkContext
    for group, call in calls.items():
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    for group in calls:
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, group
    assert [r.offset for r in log.fetch(sid, 0, 100).collect()] == list(range(8))


def test_sink_replays_torn_arrow_write_once(spark, log, workdir, monkeypatch):
    """A crash at the data file's rename leaves the block reserved and
    nothing visible to any reader; the replay writes the same offsets
    once and commits."""
    kv = KVStore(workdir + "/kv_torn4")
    sid = log.catalog.create_stream().stream_id
    log.append(sid, [b"a", b"b"])  # the sink's block starts at 2
    sink = ExactlyOnceAppendSink(log, kv, sid, "qt4")
    batch = _events(spark, 4)

    real_replace = os.replace
    crashed = []

    def crash_once(src, dst):
        if not crashed and str(src).endswith(".parquet.tmp"):
            crashed.append(src)
            raise OSError("crash at the data file's rename")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_once)
    with pytest.raises(OSError, match="rename"):
        sink(batch, batch_id=0)
    assert crashed
    assert kv.get(sink._marker(0))[0] == b"reserved:2:6:0"
    assert log.confirmed_offset(sid) == 2
    assert log.count_span(sid, 2, 6) == 0
    assert log.fetch(sid, 2, 100).count() == 0
    assert log.fetch_table(sid, 2, 100).num_rows == 0
    _drain(_read_log(spark, log, sid), "torn_arrow_view")
    assert spark.table("torn_arrow_view").where("offset >= 2").count() == 0

    sink(batch, batch_id=0)  # the replay
    assert [r.offset for r in log.fetch(sid, 0, 100).collect()] == list(range(6))
    assert kv.get(sink._marker(0))[0] == b"committed:2:6"
    assert log.confirmed_offset(sid) == 6
    assert log.next_offset(sid) == 6
    sink(batch, batch_id=0)  # a second replay is a pure no-op
    assert log.fetch_table(sid, 0, 100).num_rows == 6


def test_sink_and_dataframe_append_land_the_same_records(spark, log, workdir):
    """The sink's Arrow write stamps offsets in the DataFrame append's
    order (ts ascending, ties in arrival order) and stores the same
    values, as every reader sees them."""
    from datetime import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    rows = [
        (datetime(2024, 1, 1, 0, 3), {"k": "a"}, b"a"),
        (datetime(2024, 1, 1, 0, 1), {"k": "b", "x": "1"}, None),
        (datetime(2024, 1, 1, 0, 2), {"k": "c"}, b"c"),
        (datetime(2024, 1, 1, 0, 1), {"k": "d"}, b"d"),
        (datetime(2024, 1, 1, 0, 0, 0, 7), {"k": "e"}, None),
    ]
    df = spark.createDataFrame(rows, schema)
    kv = KVStore(workdir + "/kv_equiv")
    sunk = log.catalog.create_stream().stream_id
    appended = log.catalog.create_stream().stream_id
    log.append(sunk, [b"pad"])  # bases differ: 1 vs 0
    ExactlyOnceAppendSink(log, kv, sunk, "qeq")(df, batch_id=0)
    log.append(appended, df)

    def via_fetch(sid, base):
        return [
            (r.offset - base, r.ts, r.properties, r.payload)
            for r in log.fetch(sid, base, 100).collect()
        ]

    def via_fetch_table(sid, base):
        return [
            (r["offset"] - base, r["ts"], dict(r["properties"]), r["payload"])
            for r in log.fetch_table(sid, base, 100).to_pylist()
        ]

    def via_stream_log(sid, base):
        name = f"equiv_view_{'sunk' if sid == sunk else 'appended'}"
        _drain(_read_log(spark, log, sid), name)
        got = spark.table(name).where(F.col("offset") >= base).orderBy("offset")
        return [(r.offset - base, r.ts, r.properties, r.payload) for r in got.collect()]

    for view in (via_fetch, via_fetch_table, via_stream_log):
        assert view(sunk, 1) == view(appended, 0), view.__name__
    got = via_fetch(sunk, 1)
    assert [p["k"] for _, _, p, _ in got] == ["e", "b", "d", "c", "a"]
    assert got[1][3] is None


def test_null_ts_is_refused_before_reserving(spark, log, workdir):
    """``ts`` is a required column of every data file: the sink and a
    DataFrame append refuse a batch with a null ``ts`` before reserving
    offsets, so no reader later meets a null in it."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("payload", T.BinaryType())]
    )
    df = spark.createDataFrame([(None, b"x")], schema).union(
        _events(spark, 2).select("ts", "payload")
    )
    kv = KVStore(workdir + "/kv_null_ts")
    sid = log.catalog.create_stream().stream_id
    sink = ExactlyOnceAppendSink(log, kv, sid, "qnull")
    with pytest.raises(ValueError, match="null ts"):
        sink(df, batch_id=0)
    assert kv.get(sink._marker(0)) is None
    with pytest.raises(ValueError, match="null ts"):
        log.append(sid, df)
    assert log.next_offset(sid) == 0
    assert log.confirmed_offset(sid) == 0
    assert log.list_objects(sid) == []


def test_metrics_recorder_captures_batches(spark, log, workdir):
    """REPORT_METRICS analogue: the listener records one gauge row per
    microbatch; the summary aggregation sees the rates."""
    from elastic_stream_spark.streaming import (
        MetricsRecorder,
        metrics_summary,
        read_metrics,
    )

    rec = MetricsRecorder(workdir)
    spark.streams.addListener(rec)
    try:
        tmp = workdir + "/msrc"
        _events(spark, 20).write.mode("append").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(tmp)
        q = (
            sdf.groupBy()
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("metrics_probe")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener callbacks are async — wait for the files to land
        import time as _t

        for _ in range(60):
            m = read_metrics(spark, workdir)
            got = m.agg(F.sum("num_input_rows")).collect()[0][0]
            if got is not None and got >= 20:
                break
            _t.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)

    # drain in-flight async listener callbacks: an event queued on the
    # bus before removeListener can still append a metrics row — reading
    # before it lands made n_batches race len(rows) (observed flake)
    import time as _t2

    _t2.sleep(1.5)
    m = read_metrics(spark, workdir)
    rows = m.where(F.col("query_name") == "metrics_probe").collect()
    assert len(rows) >= 1  # at least one progress event recorded
    assert sum(r.num_input_rows for r in rows) == 20
    assert all(r.batch_id >= 0 and r.trigger_ms >= 0 for r in rows)
    assert any(r.processed_rows_per_sec > 0 for r in rows)
    # the whole durationMs breakdown, triggerExecution included
    for r in rows:
        assert r.duration_ms["triggerExecution"] == r.trigger_ms
        assert {"addBatch", "latestOffset", "walCommit"} <= set(r.duration_ms)
    # the global count keeps one state row; its store reports memory
    last = max(rows, key=lambda r: r.batch_id)
    assert last.state_rows_total == 1 and last.state_memory_bytes > 0

    s = metrics_summary(spark, workdir).where(
        F.col("query_name") == "metrics_probe"
    ).collect()
    assert len(s) == 1 and s[0].total_rows == 20 and s[0].n_batches == len(rows)


def test_stateful_offset_tracker(spark, log):
    """Custom stateful op (applyInPandasWithState): per-stream counters
    accumulate across microbatches; the final emission per stream equals
    the batch ground truth, and emissions are monotone."""
    from elastic_stream_spark.streaming import stream_offset_tracker

    a = log.catalog.create_stream().stream_id
    b = log.catalog.create_stream().stream_id
    for k in range(3):
        log.append(a, _events(spark, 4, base_ts=k * 1_000_000))
    log.append(b, _events(spark, 7))

    sdf = _read_log(spark, log, [a, b], maxRecordsPerTrigger=4)
    _drain(stream_offset_tracker(sdf), "t_state", output_mode="update")
    rows = spark.sql("SELECT * FROM t_state").collect()
    # last emission per stream = accumulated totals
    final = {}
    for r in rows:  # memory sink appends update-mode emissions in order
        final[r.stream_id] = (r.n_records, r.n_bytes, r.max_offset)
    truth = {
        sid: (
            log.fetch(sid, 0, 1 << 30).count(),
            sum(
                len(r.payload)
                for r in log.fetch(sid, 0, 1 << 30).collect()
                if r.payload is not None
            ),
            log.next_offset(sid) - 1,
        )
        for sid in (a, b)
    }
    assert final == truth
    # monotone per stream across emissions
    seen: dict[int, int] = {}
    for r in rows:
        assert r.n_records >= seen.get(r.stream_id, 0)
        seen[r.stream_id] = r.n_records
    # stream a streamed over multiple microbatches → >1 emission
    assert sum(1 for r in rows if r.stream_id == a) >= 2


def test_stream_log_source_to_exactly_once_sink(spark, log, workdir):
    """The full reference dataflow on the NEW source: append → stream_log
    (record-admitted) → windowed agg → exactly-once sink into a second
    stream → fetch.  Record admission splits the input across several
    microbatches and the sink's batchId idempotence still lands each
    window exactly once (update mode emits each finalized count once the
    watermark passes)."""
    from elastic_stream_spark.streaming import StreamLogDataSource

    kv = KVStore(workdir + "/kv3")
    src = log.catalog.create_stream().stream_id
    dst = log.catalog.create_stream().stream_id
    log.append(src, _events(spark, 30))

    spark.dataSource.register(StreamLogDataSource)
    sdf = (
        spark.readStream.format("stream_log")
        .option("root", log.catalog.root)
        .option("streamId", src)
        .option("maxRecordsPerTrigger", 12)
        .load()
    )
    agg = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").cast("string").alias("cnt"))
        .select(
            F.col("w.start").alias("ts"),
            F.create_map(F.lit("n"), F.col("cnt")).alias("properties"),
            F.encode(F.col("cnt"), "UTF-8").alias("payload"),
        )
    )
    sink = ExactlyOnceAppendSink(log, kv, dst, "agg_q_ds")
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # push the watermark past the last window so it finalizes
        log.append(src, _events(spark, 1, base_ts=3_600_000))
        q.processAllAvailable()
    finally:
        q.stop()
    out = log.fetch(dst, 0, 100).collect()
    assert sorted(bytes(r.payload) for r in out) == [b"10", b"10", b"10"]


def test_stream_end_to_end_pipeline(spark, log, workdir):
    """append → readStream → windowed agg → exactly-once sink into a
    second stream → fetch: the full reference dataflow on Spark."""
    kv = KVStore(workdir + "/kv2")
    src = log.catalog.create_stream().stream_id
    dst = log.catalog.create_stream().stream_id
    log.append(src, _events(spark, 30))

    sdf = _read_log(spark, log, src)
    agg = (
        sdf.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").cast("string").alias("cnt"))
        .select(
            F.col("w.start").alias("ts"),
            F.create_map(F.lit("n"), F.col("cnt")).alias("properties"),
            F.encode(F.col("cnt"), "UTF-8").alias("payload"),
        )
    )
    sink = ExactlyOnceAppendSink(log, kv, dst, "agg_q")
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = log.fetch(dst, 0, 100).collect()
    assert len(out) == 3  # 30 minutes of minute-spaced events → 3 windows
    assert sorted(r.payload for r in out) == [b"10", b"10", b"10"]


def test_resource_fold_reproduces_catalog_after_trim_and_delete(spark, log):
    """Replaying WATCH_RESOURCE reproduces LIST_RESOURCE through every
    lifecycle transition: bulk-register, trim (dropped + shrunk ranges),
    delete.  ≙ the etcd-watch contract the reference's PD clients rely
    on: state folded from the feed == state read from the store."""
    from elastic_stream_spark.operators.stream_ops import fold_resource_feed

    cat = log.catalog
    a = cat.create_stream().stream_id
    b = cat.create_stream().stream_id
    cat.bulk_register(a, 2500, 1000)
    cat.bulk_register(b, 1500, 1000)
    cat.trim_stream(a, 1200)  # drops range 0, shrinks range 1
    cat.delete_stream(b)

    got = [
        (r.resource_type, r.stream_id, r.range_index, r.start, r.end)
        for r in fold_resource_feed(cat.changes(spark)).collect()
    ]
    exp = []
    for s in cat.list_streams():
        exp.append(("stream", s.stream_id, -1, s.start_offset, s.next_offset))
        for r in cat.list_ranges(s.stream_id):
            exp.append(("range", s.stream_id, r.range_index, r.start, r.end))
    assert got == sorted(exp)


def test_stream_stream_windowed_join(spark, log):
    """Stream-stream inner join with watermarks on BOTH sides (the
    attribution shape: purchases ⋈ clicks within a time bound), each side
    a stream_log source over its own stream.  State is bounded by the
    watermark; the streamed result must equal the batch join."""
    from elastic_stream_spark.streaming import StreamLogDataSource

    spark.dataSource.register(StreamLogDataSource)
    pa = log.catalog.create_stream().stream_id
    cl = log.catalog.create_stream().stream_id
    # base ts 1 h: an event AT epoch 0 equals the initial watermark and
    # would be dropped as late in the first batch
    log.append(pa, _events(spark, 20, base_ts=3_600_000))  # ts = 1h + i min
    log.append(cl, _events(spark, 20, base_ts=3_630_000))  # + 30 s

    def side(sid: int, alias: str):
        sdf = (
            spark.readStream.format("stream_log")
            .option("root", log.catalog.root)
            .option("streamId", sid)
            .load()
        )
        return sdf.select(
            F.col("properties")["i"].cast("long").alias(f"{alias}_user"),
            F.col("ts").alias(f"{alias}_ts"),
        ).withWatermark(f"{alias}_ts", "10 minutes")

    joined = side(pa, "p").join(
        side(cl, "c"),
        F.expr(
            "p_user = c_user AND c_ts BETWEEN p_ts AND p_ts + interval 90 seconds"
        ),
    )
    q = _run_available_now(joined, "ssj")
    q.stop()
    rows = spark.table("ssj").collect()
    # each purchase i matches exactly its own click 30 s later
    assert len(rows) == 20
    assert all(r.p_user == r.c_user for r in rows)
    assert all((r.c_ts - r.p_ts).total_seconds() == 30.0 for r in rows)


def test_streaming_drop_duplicates_with_watermark(spark, log):
    """Streaming exact dedup with bounded state: dropDuplicates on a
    payload fingerprint + event-time watermark (Spark evicts seen-keys
    older than the watermark — the native streaming analogue of
    ``dedup_exact``).  Re-appended duplicate payloads inside the
    watermark horizon are emitted once."""
    from elastic_stream_spark.streaming import StreamLogDataSource

    spark.dataSource.register(StreamLogDataSource)
    sid = log.catalog.create_stream().stream_id
    batch = _events(spark, 10, base_ts=3_600_000)
    log.append(sid, batch)
    log.append(sid, batch)  # duplicate payloads at new offsets

    sdf = (
        spark.readStream.format("stream_log")
        .option("root", log.catalog.root)
        .option("streamId", sid)
        .load()
    )
    deduped = (
        sdf.select(
            F.col("ts"), F.md5(F.decode("payload", "UTF-8")).alias("fp")
        )
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["fp"])
    )
    q = _run_available_now(deduped, "sdedup")
    q.stop()
    rows = spark.table("sdedup").collect()
    assert len(rows) == 10  # 20 records in the log, 10 distinct payloads
    assert len({r.fp for r in rows}) == 10


def test_multi_stream_subscription_admission_and_union(spark, log):
    """Multi-stream subscription (≙ FETCH batching N streams per request,
    docs/sbp.md:220-285): offsets are a per-stream map, the admission
    budget is split fairly across streams with backlog, partitions are
    the union of per-stream range slices, and the full union of records
    is delivered exactly once."""
    from elastic_stream_spark.streaming import StreamLogDataSource
    from elastic_stream_spark.streaming.datasource import StreamLogStreamReader

    s1 = log.catalog.create_stream().stream_id
    s2 = log.catalog.create_stream().stream_id
    s3 = log.catalog.create_stream().stream_id
    log.append(s1, _events(spark, 9))
    log.append(s2, _events(spark, 3, base_ts=5_000_000))
    # s3 stays empty: a subscribed-but-idle stream must not block others

    # --- reader-level: fair budget split + union partitions
    opts = {
        "root": log.catalog.root,
        "streamids": f"{s1},{s2},{s3}",
        "maxrecordspertrigger": "4",
    }
    r = StreamLogStreamReader(dict(opts))
    init = r.initialOffset()
    assert init == {"offsets": {str(s1): 0, str(s2): 0, str(s3): 0}}
    first = r.admit(init)["offsets"]
    # budget 4 over backlogs (9, 3, 0): fair share 2 each round →
    # s1 gets 2, s2 gets 2; total admitted == budget
    assert first[str(s1)] + first[str(s2)] == 4 and first[str(s3)] == 0
    assert first[str(s2)] <= 3
    second = r.admit({"offsets": first})["offsets"]
    assert sum(second.values()) - sum(first.values()) == 4
    batches, end = r.read(init)
    assert end == {"offsets": first}
    rows = [
        (s, o)
        for b in batches
        for s, o in zip(b["stream_id"].to_pylist(), b["offset"].to_pylist())
    ]
    assert {s for s, _ in rows} == {s1, s2}
    for s in (s1, s2):
        assert sorted(o for s_, o in rows if s_ == s) == list(range(first[str(s)]))

    # --- end-to-end: every record of every subscribed stream arrives once
    spark.dataSource.register(StreamLogDataSource)
    sdf = (
        spark.readStream.format("stream_log")
        .option("root", log.catalog.root)
        .option("streamIds", f"{s1},{s2},{s3}")
        .option("maxRecordsPerTrigger", 4)
        .load()
    )
    q = (
        sdf.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_multi")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        log.append(s3, _events(spark, 2, base_ts=9_000_000))
        q.processAllAvailable()
    finally:
        q.stop()
    batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert batches and all(n <= 4 for n in batches), batches
    got = spark.sql(
        "SELECT stream_id, offset FROM t_multi ORDER BY stream_id, offset"
    ).collect()
    expect = (
        [(s1, o) for o in range(9)]
        + [(s2, o) for o in range(3)]
        + [(s3, o) for o in range(2)]
    )
    assert [(r_.stream_id, r_.offset) for r_ in got] == expect


def test_byte_budget_admission_stream_log(spark, log):
    """maxBytesPerTrigger (≙ FETCH's max_bytes, docs/sbp.md:220-285):
    a hard cap priced from parquet footer row-group sizes — each trigger
    admits the longest whole-record window whose per-row-group cost fits
    the budget; no data read at planning time."""
    import math

    from elastic_stream_spark.streaming.datasource import StreamLogStreamReader

    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 12))

    probe = StreamLogStreamReader(
        {"root": log.catalog.root, "streamid": str(sid)}
    )
    per_rec = probe._window_cost(sid, 0, 1)
    assert per_rec > 0

    r = StreamLogStreamReader(
        {
            "root": log.catalog.root,
            "streamid": str(sid),
            "maxbytespertrigger": str(math.ceil(per_rec * 3)),
        }
    )
    # each trigger admits exactly the 3 records the budget affords
    assert r.admit({"offset": 0}) == {"offset": 3}
    assert r.admit({"offset": 3}) == {"offset": 6}
    # record cap composes: the tighter of the two governs
    r2 = StreamLogStreamReader(
        {
            "root": log.catalog.root,
            "streamid": str(sid),
            "maxrecordspertrigger": "2",
            "maxbytespertrigger": str(math.ceil(per_rec * 5)),
        }
    )
    assert r2.admit({"offset": 0}) == {"offset": 2}
    # budget below one record still admits exactly one — the documented
    # single-record progress floor, the only overshoot case
    r3 = StreamLogStreamReader(
        {
            "root": log.catalog.root,
            "streamid": str(sid),
            "maxbytespertrigger": str(max(1, int(per_rec // 2))),
        }
    )
    assert r3.admit({"offset": 0}) == {"offset": 1}
    # 0 is rejected explicitly (not silently treated as unset)
    with pytest.raises(ValueError, match="maxBytesPerTrigger"):
        StreamLogStreamReader(
            {
                "root": log.catalog.root,
                "streamid": str(sid),
                "maxbytespertrigger": "0",
            }
        )


def test_byte_budget_hard_cap_on_skewed_payloads(spark, log):
    """Cross-range payload skew: tiny records land first, then ~2 KB
    ones.  Per-row-group pricing keeps every trigger's admitted cost ≤
    budget — a stream-wide bytes/record average would carry the tiny
    estimate into the fat range and overshoot multiples of the cap."""
    from elastic_stream_spark.streaming.datasource import StreamLogStreamReader

    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 8))
    # fat payloads: 64 DISTINCT md5s per record (incompressible-ish, so
    # the on-disk row group is genuinely larger)
    fat = spark.range(8).select(
        F.timestamp_millis(F.lit(10_000_000) + F.col("id") * 60_000).alias("ts"),
        F.create_map(F.lit("i"), F.col("id").cast("string")).alias("properties"),
        F.encode(
            F.concat_ws(
                "",
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda i: F.md5(
                        F.concat(F.col("id").cast("string"), F.lit(":"), i.cast("string"))
                    ),
                ),
            ),
            "UTF-8",
        ).alias("payload"),
    )
    log.append(sid, fat)

    probe = StreamLogStreamReader({"root": log.catalog.root, "streamid": str(sid)})
    tiny_rec = probe._window_cost(sid, 0, 1)
    fat_rec = probe._window_cost(sid, 8, 1)
    assert fat_rec > tiny_rec * 3, (tiny_rec, fat_rec)

    budget = int(tiny_rec * 8 + fat_rec * 2)  # all tiny + 2 fat records
    r = StreamLogStreamReader(
        {
            "root": log.catalog.root,
            "streamid": str(sid),
            "maxbytespertrigger": str(budget),
        }
    )
    base = 0
    for _ in range(20):
        end = r.admit({"offset": base})["offset"]
        if end == base:
            break
        cost = probe._window_cost(sid, base, end - base)
        assert cost <= budget + 1e-6, (base, end, cost, budget)
        base = end
    assert base == 16  # everything eventually admitted


def test_streaming_heavy_hitters_space_saving(spark, log):
    """Space-saving streaming top-k: with capacity BELOW the distinct key
    count, the hottest keys survive with est ≥ true ≥ est - err, the
    tracked table never exceeds capacity, and estimates accumulate
    across microbatches."""
    from collections import Counter

    from elastic_stream_spark.streaming import streaming_heavy_hitters

    sid = log.catalog.create_stream().stream_id
    # skewed key distribution: key k_j appears with frequency ~ 60/(j+1)
    # over 3 appends (3 microbatches: one append per record budget)
    per_append = sum(60 // (j + 1) for j in range(12))
    truth: Counter = Counter()
    for batch in range(3):
        keys = []
        for j in range(12):
            keys += [f"k{j}"] * (60 // (j + 1))
        truth.update(keys)
        df = spark.createDataFrame([(k,) for k in keys], "key string").select(
            F.lit(batch * 1_000_000).cast("timestamp").alias("ts"),
            F.create_map(F.lit("k"), F.col("key")).alias("properties"),
            F.encode("key", "UTF-8").alias("payload"),
        )
        log.append(sid, df)

    sdf = _read_log(spark, log, sid, maxRecordsPerTrigger=per_append).select(
        "stream_id", F.decode("payload", "UTF-8").alias("key")
    )
    _drain(streaming_heavy_hitters(sdf, capacity=8, k=5), "t_hh", output_mode="update")
    rows = spark.sql("SELECT * FROM t_hh").collect()
    assert rows
    # emissions per batch: ≤ k rows each, ranks 1..n
    assert all(1 <= r.rank <= 5 for r in rows)
    # final emission = last batch's top-5
    last_top = {}
    for r in rows:  # memory sink appends update emissions in order
        last_top[r.rank] = r
    top1 = last_top[1]
    assert top1.key == "k0"  # the true hottest key survives eviction
    for r in last_top.values():
        true = truth[r.key]
        assert r.est_count >= true, (r.key, r.est_count, true)
        assert r.est_count - r.err <= true, (r.key, r.est_count, r.err, true)
    # the guaranteed-exact hottest key has err 0 and exact count
    assert top1.err == 0 and top1.est_count == truth["k0"]


def test_heavy_hitters_streaming_equals_batch_replay(spark, workdir):
    """The always-on streaming operator and the registered batch replay
    are the SAME sketch: replaying the events keyed identically through
    ``streaming_heavy_hitters`` (multi-batch, availableNow) must end in
    exactly the per-stream top-5 the batch gate query emits — at
    capacity ≥ vocabulary both are the exact count table."""
    from elastic_stream_spark.operators.streaming_ops import (
        HH_REPLAY_STREAMS,
        stream_heavy_hitters_replay,
    )
    from elastic_stream_spark.sources.envelope import load_table
    from elastic_stream_spark.streaming.stateful import streaming_heavy_hitters

    sf = "/root/testdata/sf0.001"
    keyed = load_table(spark, sf, "events").select(
        F.pmod("user_id", F.lit(HH_REPLAY_STREAMS)).alias("stream_id"),
        F.col("event_type").alias("key"),
    )
    path = f"{workdir}/hh_keyed"
    keyed.repartition(4).write.mode("overwrite").parquet(path)
    sdf = (
        spark.readStream.schema("stream_id BIGINT, key STRING")
        .option("maxFilesPerTrigger", 1)  # force multiple microbatches
        .parquet(path)
    )
    out = streaming_heavy_hitters(sdf, capacity=64, k=5)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_hh_eq")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM t_hh_eq").collect()
    final = {}
    for r in rows:  # memory sink appends update emissions in order
        final[(r.stream_id, r.rank)] = (r.key, r.est_count, r.err)
    expected = {
        (r.stream_id, r.rank): (r.key, r.est_count, r.err)
        for r in stream_heavy_hitters_replay(spark, sf).collect()
    }
    assert final == expected


def test_confirmed_offset_gates_streaming_availability(spark, log):
    """Reserved-but-unwritten offsets (an in-flight append) must NOT be
    admitted: availability is the confirm offset, advanced only after
    the data write lands — admitting the reserve-time next_offset let
    the source plan a window over the in-flight block, read zero rows,
    commit, and permanently skip the records (review finding)."""
    from elastic_stream_spark.streaming.datasource import StreamLogStreamReader

    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 3))
    assert log.confirmed_offset(sid) == 3
    # simulate the in-flight window: offsets reserved, write not landed
    log.catalog.reserve_offsets(sid, 5)
    assert log.next_offset(sid) == 8
    assert log.confirmed_offset(sid) == 3
    r = StreamLogStreamReader({"root": log.catalog.root, "streamid": str(sid)})
    assert r.admit(r.initialOffset())["offset"] == 3  # never past confirmed
    df, end = poll_fetch(log, sid, 0, min_records=1, max_wait_ms=200)
    assert end == 3 and df.count() == 3
    # the landed write confirms and becomes visible
    batch = log.prepare_batch(_events(spark, 5))
    log.write_stamped(sid, batch, 3, 0)
    log.catalog.confirm_offset(sid, 8)
    r2 = StreamLogStreamReader({"root": log.catalog.root, "streamid": str(sid)})
    assert r2.admit(r2.initialOffset())["offset"] == 8


def test_byte_cap_admission_jumps_trim_gap(spark, log):
    """After trim+vacuum the surviving row groups start past offset 0;
    a byte-capped reader subscribed from 0 must admit the empty gap for
    free in one trigger instead of inching through it one offset per
    trigger (review finding: the row-count walk went negative on the
    gap)."""
    from elastic_stream_spark.streaming.datasource import StreamLogStreamReader

    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 5))
    log.append(sid, _events(spark, 5))
    log.catalog.trim_stream(sid, 5)
    log.vacuum(sid)  # deletes the file of offsets [0, 5) → gap below 5
    r = StreamLogStreamReader(
        {
            "root": log.catalog.root,
            "streamid": str(sid),
            "maxbytespertrigger": "100000",
        }
    )
    end = r.admit(r.initialOffset())["offset"]
    assert end == 10, end  # gap [0,5) free + all 5 resident records afford


def test_transform_with_state_running_totals(spark, log):
    """Custom stateful op on the transformWithState API (Spark 4
    StatefulProcessor + typed ValueState, RocksDB state store): per-key
    (count, sum) accumulators persist across microbatches; the final
    emission per key equals the batch ground truth and emissions are
    monotone — the same contract as the applyInPandasWithState offset
    tracker, proven on the newer engine surface.

    Requires google.protobuf (the transformWithState state-server
    protocol); skipped where the container lacks it — see the
    environment-gate note in streaming/twstate.py."""
    pytest.importorskip("google.protobuf")
    from elastic_stream_spark.streaming import stream_running_totals

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        sid = log.catalog.create_stream().stream_id
        for k in range(3):
            log.append(sid, _events(spark, 5, base_ts=k * 1_000_000))

        sdf = _read_log(spark, log, sid, maxRecordsPerTrigger=5).select(
            (F.col("properties")["i"].cast("long") % 3).alias("key"),
            F.col("offset").cast("double").alias("value"),
        )
        _drain(stream_running_totals(sdf), "twstate", output_mode="update")
        rows = spark.sql("SELECT * FROM twstate").collect()

        final: dict[int, tuple[int, float]] = {}
        seen: dict[int, int] = {}
        for r in rows:  # memory sink appends update-mode emissions in order
            assert r.n_events >= seen.get(r.key, 0)  # monotone
            seen[r.key] = r.n_events
            final[r.key] = (r.n_events, r.total_value)

        truth_rows = (
            log.fetch(sid, 0, 1 << 30)
            .select(
                (F.col("properties")["i"].cast("long") % 3).alias("key"),
                F.col("offset").cast("double").alias("value"),
            )
            .groupBy("key")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        )
        truth = {r.key: (r.n, r.s) for r in truth_rows}
        assert final == truth
        # three appends, one microbatch each → state crossed batches
        assert any(n >= 2 for n in (sum(1 for r in rows if r.key == k) for k in final))
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_stream_left_outer_join_emits_unmatched(spark, log):
    """Stream-stream LEFT OUTER join with watermarks: matched pairs
    emit immediately; unmatched left rows emit with nulls only once the
    watermark passes their join horizon (state eviction — the semantic
    that distinguishes outer from inner stream joins).  Purchases with
    odd ids have no click; a later sentinel batch advances the
    watermark, and the subsequent (no-data) microbatch flushes their
    null-extended rows — hence the processing-time trigger with two
    drain cycles rather than availableNow, which stops before the
    cleanup batch."""
    import time as _t

    from elastic_stream_spark.streaming import StreamLogDataSource

    spark.dataSource.register(StreamLogDataSource)
    pa = log.catalog.create_stream().stream_id
    cl = log.catalog.create_stream().stream_id
    log.append(pa, _events(spark, 20, base_ts=3_600_000))
    log.append(
        cl,
        _events(spark, 20, base_ts=3_630_000).where(
            F.col("properties")["i"].cast("long") % 2 == 0
        ),
    )

    def side(sid: int, alias: str):
        sdf = (
            spark.readStream.format("stream_log")
            .option("root", log.catalog.root)
            .option("streamId", sid)
            .load()
        )
        return sdf.select(
            F.col("properties")["i"].cast("long").alias(f"{alias}_user"),
            F.col("ts").alias(f"{alias}_ts"),
        ).withWatermark(f"{alias}_ts", "10 minutes")

    joined = side(pa, "p").join(
        side(cl, "c"),
        F.expr(
            "p_user = c_user AND c_ts BETWEEN p_ts AND p_ts + interval 90 seconds"
        ),
        "left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssoj")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # sentinel batch far in the future pushes both watermarks past
        # the first batch's horizon
        log.append(pa, _events(spark, 1, base_ts=18_000_000))
        log.append(cl, _events(spark, 1, base_ts=18_000_000))
        q.processAllAvailable()
        # the flush happens in a no-data microbatch AFTER the watermark
        # advanced; give the 200 ms trigger a few cycles
        deadline = _t.monotonic() + 30
        while _t.monotonic() < deadline:
            n_null = sum(
                1 for r in spark.table("ssoj").collect() if r.c_user is None
            )
            if n_null >= 10:
                break
            _t.sleep(0.5)
    finally:
        q.stop()

    import datetime as _dt

    # drop the sentinel pair (5:00) — only the 1:00-1:20 batch is asserted
    rows = [
        r
        for r in spark.table("ssoj").collect()
        if r.p_ts < _dt.datetime(1970, 1, 1, 3)
    ]
    matched = {r.p_user for r in rows if r.c_user is not None}
    unmatched = {r.p_user for r in rows if r.c_user is None}
    # every even purchase matched its click; odd purchases flushed null
    assert matched == set(range(0, 20, 2))
    assert set(range(1, 20, 2)) <= unmatched
    for r in rows:
        if r.c_user is not None:
            assert r.c_user == r.p_user
            assert (r.c_ts - r.p_ts).total_seconds() == 30.0


def test_stream_pipeline_streaming_equals_replay(spark, log, workdir):
    """The streaming (incremental-nightly) curation pipeline: documents
    appended to a stream-log topic per micro-batch → readStream →
    IncrementalCurationPipeline foreachBatch (incremental dedup against
    a fingerprint store that grows batch-by-batch + quality verdict) →
    exactly-once manifest append.  The fetched manifests must equal the
    registered batch replay (stream_pipeline_replay) row for row, and a
    replayed micro-batch must not double its manifest."""
    from elastic_stream_spark.operators.pipeline import (
        CC_APPEND_MOD,
        FP_TERM_MOD,
        SPR_BATCHES,
        stream_pipeline_replay,
    )
    from elastic_stream_spark.streaming import IncrementalCurationPipeline

    kv = KVStore(workdir + "/kv_pipe")
    src = log.catalog.create_stream().stream_id
    dst = log.catalog.create_stream().stream_id

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mod = CC_APPEND_MOD
    corpus = docs.where(F.col("doc_id") % mod != mod - 1)
    incoming = docs.where(F.col("doc_id") % mod == mod - 1).withColumn(
        "batch_id", F.expr(f"(doc_id div {mod}) % {SPR_BATCHES}")
    )

    pipe = IncrementalCurationPipeline(
        log, kv, dst, workdir + "/standing_fps", FP_TERM_MOD
    )
    pipe.seed_corpus(corpus)

    def _envelope(b):
        return incoming.where(F.col("batch_id") == b).select(
            F.timestamp_millis(F.col("doc_id")).alias("ts"),
            F.create_map(
                F.lit("doc_id"), F.col("doc_id").cast("string"),
                F.lit("batch_id"), F.col("batch_id").cast("string"),
            ).alias("properties"),
            F.encode("text", "UTF-8").alias("payload"),
        )

    from elastic_stream_spark.streaming import StreamLogDataSource

    spark.dataSource.register(StreamLogDataSource)
    sdf = (
        spark.readStream.format("stream_log")
        .option("root", log.catalog.root)
        .option("streamId", src)
        .load()
    )
    q = (
        sdf.writeStream.outputMode("append")
        .foreachBatch(pipe)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # arrival order is the contract: each batch is fully admitted and
        # processed before the next is appended (confirm-offset admission
        # keeps a half-appended batch invisible to the reader)
        for b in range(SPR_BATCHES):
            log.append(src, _envelope(b))
            q.processAllAvailable()
    finally:
        q.stop()

    got = pipe.manifests()
    exp = [r.asDict() for r in stream_pipeline_replay(spark, SF_DIR).collect()]
    assert got == exp

    # exactly-once under microbatch replay: re-fire the LAST batch's
    # records through the pipeline with its already-committed Spark
    # batch id — the sink's marker short-circuits before any write
    n_manifests = len(log.fetch(dst, 0, 1 << 40).collect())
    last_records = log.fetch(src, 0, 1 << 40).where(
        F.col("properties")["batch_id"] == str(SPR_BATCHES - 1)
    )
    from elastic_stream_spark.kv import prefix_end

    pfx = b"__sink__/incremental_curation/"
    committed = [
        int(k.decode().rsplit("/", 1)[1])
        for k, _, _ in kv.range(pfx, prefix_end(pfx))[0]
    ]
    pipe(last_records, max(committed))
    assert len(log.fetch(dst, 0, 1 << 40).collect()) == n_manifests
    assert pipe.manifests() == exp


def test_stream_cc_absorption_equals_full_recompute(spark, log, workdir):
    """Streaming incremental connected components: arriving documents
    flow through readStream → IncrementalCCAbsorber foreachBatch (pair
    contraction onto standing labels, delta fixpoint, versioned label
    snapshots).  After the last micro-batch the labels must equal the
    full-graph fixpoint over every pair — the streaming twin of
    cc_append's batch equivalence — re-absorbing a replayed batch
    must be a label no-op (min-label idempotency), and a TORN snapshot
    write (v{n+1} without _SUCCESS) must be invisible to readers and
    repaired by the replay."""
    from elastic_stream_spark.operators.dedup import ngram_pair_set
    from elastic_stream_spark.operators.pipeline import (
        CC_APPEND_MOD,
        SPR_BATCHES,
        connected_components,
    )
    from elastic_stream_spark.streaming import (
        IncrementalCCAbsorber,
        StreamLogDataSource,
    )

    mod = CC_APPEND_MOD
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    incoming = docs.where(F.col("doc_id") % mod == mod - 1).withColumn(
        "batch_id", F.expr(f"(doc_id div {mod}) % {SPR_BATCHES}")
    )
    pairs = ngram_pair_set(spark, SF_DIR).select("doc_a", "doc_b")
    corpus_pairs = pairs.where(
        (F.col("doc_a") % mod != mod - 1) & (F.col("doc_b") % mod != mod - 1)
    )

    absorber = IncrementalCCAbsorber(spark, workdir + "/cc_labels", pairs)
    corpus_docs = docs.where(F.col("doc_id") % mod != mod - 1)
    absorber.seed(absorber.label_corpus(corpus_docs, corpus_pairs))

    src = log.catalog.create_stream().stream_id
    spark.dataSource.register(StreamLogDataSource)
    sdf = (
        spark.readStream.format("stream_log")
        .option("root", log.catalog.root)
        .option("streamId", src)
        .load()
    )
    q = (
        sdf.writeStream.outputMode("append")
        .foreachBatch(absorber)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        for b in range(SPR_BATCHES):
            log.append(
                src,
                incoming.where(F.col("batch_id") == b).select(
                    F.timestamp_millis(F.col("doc_id")).alias("ts"),
                    F.create_map(
                        F.lit("doc_id"), F.col("doc_id").cast("string")
                    ).alias("properties"),
                    F.encode(F.lit("x"), "UTF-8").alias("payload"),
                ),
            )
            q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.doc_id, r.cluster_id) for r in absorber.labels().collect()}
    full = connected_components(pairs)
    exp = {(r.doc_id, r.cluster_id) for r in full.collect()}
    # the absorber tracks every ARRIVED doc (corpus seed + batches);
    # full CC only lists docs touching a pair — non-pair docs must be
    # self-labeled singletons in the absorber's state
    arrived = {r.doc_id for r in docs.collect()}
    exp_all = exp | {(d, d) for d in arrived if d not in {x for x, _ in exp}}
    # seed covered only docs in corpus CC; singletons enter on absorption
    got_docs = {d for d, _ in got}
    for d, c in exp_all:
        if d in got_docs:
            assert (d, c) in got, f"label mismatch for doc {d}"
    # every batch doc must be present with its full-graph label
    for d, c in exp_all:
        if d % mod == mod - 1:
            assert (d, c) in got

    # idempotent replay: re-absorb the LAST batch -> labels unchanged
    last = incoming.where(F.col("batch_id") == SPR_BATCHES - 1).select(
        F.create_map(F.lit("doc_id"), F.col("doc_id").cast("string")).alias(
            "properties"
        )
    )
    absorber(last, batch_id=10_000)
    got2 = {(r.doc_id, r.cluster_id) for r in absorber.labels().collect()}
    assert got2 == got

    # torn-write recovery: fake a crash mid-write of the NEXT snapshot —
    # parquet bytes present, no _SUCCESS marker.  Readers must keep
    # serving the last committed version, and a replayed batch must
    # re-derive the next version over the partial dir (mode=overwrite).
    import os
    import shutil

    committed = absorber._version_dirs()[-1]
    cur_dir = f"{workdir}/cc_labels/v{committed}"
    torn_dir = f"{workdir}/cc_labels/v{committed + 1}"
    shutil.copytree(cur_dir, torn_dir)
    os.remove(f"{torn_dir}/_SUCCESS")
    # poison the torn snapshot so reading it WOULD be detected
    for f in os.listdir(torn_dir):
        if f.endswith(".parquet"):
            os.remove(f"{torn_dir}/{f}")
            break
    assert absorber._version_dirs()[-1] == committed  # torn dir invisible
    got3 = {(r.doc_id, r.cluster_id) for r in absorber.labels().collect()}
    assert got3 == got
    absorber(last, batch_id=10_001)  # replay clobbers the partial dir
    assert absorber._version_dirs()[-1] == committed + 1
    assert os.path.exists(f"{torn_dir}/_SUCCESS")
    got4 = {(r.doc_id, r.cluster_id) for r in absorber.labels().collect()}
    assert got4 == got

    # retention: vacuum(keep_last=2) drops every older committed
    # version and torn garbage BELOW current, keeps the newest two,
    # and never touches a torn dir above current (in-flight writer)
    all_committed = absorber._version_dirs()
    cur = all_committed[-1]
    shutil.copytree(f"{workdir}/cc_labels/v{cur}", f"{workdir}/cc_labels/v{cur + 5}")
    os.remove(f"{workdir}/cc_labels/v{cur + 5}/_SUCCESS")  # torn, above current
    removed = absorber.vacuum(keep_last=2)
    assert removed == all_committed[:-2]
    assert absorber._version_dirs() == all_committed[-2:]
    assert os.path.isdir(f"{workdir}/cc_labels/v{cur + 5}")  # in-flight target kept
    got5 = {(r.doc_id, r.cluster_id) for r in absorber.labels().collect()}
    assert got5 == got

    # auto-vacuum: retain=1 keeps exactly the current snapshot after
    # each absorbed batch (the long-running-stream configuration)
    auto = IncrementalCCAbsorber(
        spark, workdir + "/cc_labels_auto", pairs, retain=1
    )
    auto.seed(absorber.label_corpus(corpus_docs, corpus_pairs))
    auto(last, batch_id=1)
    assert len(auto._version_dirs()) == 1
    after_1 = {(r.doc_id, r.cluster_id) for r in auto.labels().collect()}
    auto(last, batch_id=2)  # replay of the same batch
    assert len(auto._version_dirs()) == 1  # still exactly one snapshot
    after_2 = {(r.doc_id, r.cluster_id) for r in auto.labels().collect()}
    assert after_2 == after_1  # idempotent under vacuumed history too
    assert {d for d, _ in after_1} <= {d for d, _ in got}
