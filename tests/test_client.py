"""SDK facade lifecycle — the reference frontend's client contract
(sdks/frontend-rs/src/frontend.rs + stream.rs) driven end to end on this
engine: create → open(epoch) → append → read → takeover-fencing → trim →
close."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import elastic_stream_spark.log as log_module
from elastic_stream_spark.catalog import FencedError
from elastic_stream_spark.client import Frontend, StreamOptions
from elastic_stream_spark.streaming import StreamLogDataSource, poll_fetch


@pytest.fixture()
def fe(spark, workdir):
    return Frontend(spark, workdir)


def _batch(spark, n, base_ts=0):
    return spark.range(n).select(
        F.timestamp_millis(F.lit(base_ts) + F.col("id") * 1000).alias("ts"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("payload"),
    )


def test_create_open_append_read_roundtrip(spark, fe):
    sid = fe.create(StreamOptions(replica=3, ack=2))
    s = fe.open(sid, epoch=0)
    assert (s.start_offset(), s.next_offset()) == (0, 0)

    r1 = s.append(_batch(spark, 5))
    assert (r1.base_offset, r1.end_offset) == (0, 5)
    r2 = s.append([b"alpha", b"beta"], ts_ms=10_000)
    assert (r2.base_offset, r2.end_offset) == (5, 7)
    assert s.next_offset() == 7

    got = s.read(0, 7).select("offset").collect()
    assert [r.offset for r in got] == list(range(7))
    assert s.read_payloads(5, 7) == [b"alpha", b"beta"]

    # options persisted on the stream record
    meta = fe.catalog.describe_stream(sid)
    assert (meta.replica, meta.ack_count) == (3, 2)


def test_open_takeover_fences_prior_handle(spark, fe):
    """≙ the zombie-writer scenario: a second open() with a later epoch
    seals the old mutable range; the first handle's next append dies with
    FencedError (EXPIRED_RANGE_EPOCH)."""
    sid = fe.create()
    w1 = fe.open(sid, epoch=0)
    w1.append(_batch(spark, 3))

    w2 = fe.open(sid, epoch=w1.epoch)  # takeover
    w2.append(_batch(spark, 2, base_ts=60_000))

    with pytest.raises(FencedError):
        w1.append(_batch(spark, 1, base_ts=120_000))

    # the new writer's records landed after the old ones, offsets dense
    assert w2.next_offset() == 5
    assert [r.offset for r in w2.read(0, 5).select("offset").collect()] == [
        0,
        1,
        2,
        3,
        4,
    ]


def test_trim_then_read_clamps_to_horizon(spark, fe):
    sid = fe.create()
    s = fe.open(sid, epoch=0)
    s.append(_batch(spark, 10))
    s.trim(4)
    assert s.start_offset() == 4
    got = [r.offset for r in s.read(0, 10).select("offset").collect()]
    assert got == [4, 5, 6, 7, 8, 9]
    assert s.read_payloads(0, 10) == [str(i).encode() for i in range(4, 10)]


def test_read_with_byte_budget_truncates_whole_records(spark, fe):
    sid = fe.create()
    s = fe.open(sid, epoch=0)
    s.append([b"x" * 100] * 8)
    df = s.read(0, 8, batch_max_bytes=250)
    offs = [r.offset for r in df.select("offset").collect()]
    # whole records only, from the start, never exceeding the budget
    assert offs == list(range(len(offs)))
    assert 1 <= len(offs) < 8


def test_closed_handle_rejects_operations(spark, fe):
    sid = fe.create()
    s = fe.open(sid, epoch=0)
    s.close()
    with pytest.raises(RuntimeError):
        s.append(_batch(spark, 1))
    with pytest.raises(RuntimeError):
        s.read(0, 1)


# ------------------------------------------------ byte path: crash windows


def _stream_log_rows(spark, fe, sid, name, start=0):
    """(offset, ts ms, properties, payload) of every record the
    ``stream_log`` source admits from ``start``, offset order."""
    spark.dataSource.register(StreamLogDataSource)
    sdf = (
        spark.readStream.format("stream_log")
        .option("root", fe.catalog.root)
        .option("streamId", sid)
        .option("startOffset", start)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return _rows(spark.table(name))


def _rows(df):
    return [
        (r.offset, r.ts_ms, r.properties, bytes(r.payload))
        for r in df.select(
            "offset", F.unix_millis("ts").alias("ts_ms"), "properties", "payload"
        )
        .orderBy("offset")
        .collect()
    ]


def _offsets(fe, sid):
    return sorted(
        r.offset
        for r in fe.log.records().where(F.col("stream_id") == sid).select("offset").collect()
    )


def test_byte_append_failing_before_rename_leaves_no_visible_offset(spark, fe, monkeypatch):
    """The writer fails between writing the file and renaming it into
    place: the block's offsets stay reserved but nothing of it is
    readable, only a hidden temp file is left, and the next append takes
    the next block."""
    sid = fe.create()
    s = fe.open(sid, epoch=0)
    s.append([b"a", b"b"])
    d = fe.log._range_dir(sid, fe.catalog.writable_range(sid).range_index)
    before = set(os.listdir(d))

    real = log_module.os.replace
    left = [1]

    def replace(src, dst):
        if left[0] and str(dst).endswith(".parquet"):
            left[0] -= 1
            raise OSError("writer died before the rename")
        return real(src, dst)

    monkeypatch.setattr(log_module.os, "replace", replace)
    with pytest.raises(OSError):
        s.append([b"c", b"d", b"e"])
    monkeypatch.undo()

    assert fe.log.confirmed_offset(sid) == 2
    assert s.next_offset() == 5  # the block stays reserved
    assert _offsets(fe, sid) == [0, 1]
    assert s.read_payloads(0, 5) == [b"a", b"b"]
    assert [r[0] for r in _stream_log_rows(spark, fe, sid, "t_crash_rename")] == [0, 1]
    left_over = set(os.listdir(d)) - before
    assert len(left_over) == 1 and left_over.pop().startswith(".")

    r = s.append([b"f"])
    assert (r.base_offset, r.end_offset) == (5, 6)
    offsets = _offsets(fe, sid)
    assert offsets == [0, 1, 5] and len(set(offsets)) == len(offsets)
    assert s.read_payloads(0, 6) == [b"a", b"b", b"f"]
    # the confirm offset now covers the lost block: still nothing of it
    assert [r[0] for r in _stream_log_rows(spark, fe, sid, "t_crash_rename_after")] == [0, 1, 5]


def test_byte_append_failing_confirm_admits_nothing_and_keeps_offsets(spark, fe, monkeypatch):
    """The file lands but the confirm write fails: readers that admit on
    the confirm offset see nothing new, and the next append does not
    reuse the block's offsets."""
    sid = fe.create()
    s = fe.open(sid, epoch=0)
    s.append([b"a"])

    real = fe.catalog.confirm_offset
    left = [1]

    def confirm(stream_id, upto):
        if left[0]:
            left[0] -= 1
            raise OSError("catalog write failed")
        return real(stream_id, upto)

    monkeypatch.setattr(fe.catalog, "confirm_offset", confirm)
    with pytest.raises(OSError):
        s.append([b"b", b"c"])

    assert fe.log.confirmed_offset(sid) == 1
    df, end = poll_fetch(fe.log, sid, 1)
    assert end == 1 and df.count() == 0
    assert _stream_log_rows(spark, fe, sid, "t_crash_confirm", start=1) == []

    r = s.append([b"d"])
    assert (r.base_offset, r.end_offset) == (3, 4)
    offsets = _offsets(fe, sid)
    assert offsets == [0, 1, 2, 3]
    assert s.read_payloads(0, 4) == [b"a", b"b", b"c", b"d"]


def test_stale_epoch_byte_append_is_fenced_before_writing(spark, fe):
    sid = fe.create()
    w1 = fe.open(sid, epoch=0)
    w1.append([b"a"])
    w2 = fe.open(sid, epoch=w1.epoch)  # takeover
    w2.append([b"b"])
    dirs = {d: sorted(os.listdir(d)) for _, d in log_module.range_dirs(fe.log.records_root, sid)}

    with pytest.raises(FencedError):
        w1.append([b"zombie"])
    assert {d: sorted(os.listdir(d)) for d in dirs} == dirs
    assert w2.read_payloads(0, 2) == [b"a", b"b"]


# -------------------------------------- byte path: writer/reader equivalence


def test_byte_and_dataframe_appends_read_back_identically(spark, fe):
    """The same records appended as bytes and as a DataFrame read back
    identically through every reader of the log."""
    payloads = [b"p0", b"", b"\x00\xff", b"x" * 300]
    ts_ms = 1_700_000_000_123
    a, b = fe.create(), fe.create()
    sa, sb = fe.open(a, epoch=0), fe.open(b, epoch=0)
    sa.append(payloads, ts_ms=ts_ms)
    sb.append(
        spark.createDataFrame([(p,) for p in payloads], "payload BINARY").withColumn(
            "ts", F.timestamp_millis(F.lit(ts_ms))
        )
    )

    want = [(i, ts_ms, None, p) for i, p in enumerate(payloads)]
    for sid, s in ((a, sa), (b, sb)):
        assert _rows(fe.log.records().where(F.col("stream_id") == sid)) == want
        assert _rows(s.read(0, len(payloads))) == want
        assert s.read_payloads(0, len(payloads)) == payloads
        assert _stream_log_rows(spark, fe, sid, f"t_equiv_{sid}") == want


def test_read_payloads_equals_fetch_across_writers_and_maintenance(spark, fe):
    """One range holding bulk-loaded, DataFrame-appended and
    byte-appended files reads the same through ``read_payloads`` and
    ``fetch``, also after seal + optimize and after trim + vacuum."""
    sid = fe.create()
    fe.log.bulk_load(
        spark.range(10).select(
            F.lit(sid).cast("long").alias("stream_id"),
            F.lit(0).alias("range_index"),
            F.col("id").alias("offset"),
            F.timestamp_millis(F.col("id")).alias("ts"),
            F.lit(None).cast("map<string,string>").alias("properties"),
            F.encode(F.concat(F.lit("h"), F.col("id").cast("string")), "UTF-8").alias("payload"),
        )
    )
    fe.catalog.bulk_register(sid, 10, 1000)  # one mutable range 0, next offset 10
    fe.log.append(sid, _batch(spark, 5))  # [10, 15)
    fe.log.append(sid, [b"byte-%d" % i for i in range(5)])  # [15, 20)
    assert len(log_module.parquet_files(fe.log._range_dir(sid, 0))) >= 3

    s = fe.open(sid, epoch=0)  # seals range 0

    def same(lo, hi):
        fetched = [bytes(r.payload) for r in fe.log.fetch(sid, lo, hi).collect()]
        assert s.read_payloads(lo, hi) == fetched
        return fetched

    assert len(same(5, 20)) == 15
    files = len(log_module.parquet_files(fe.log._range_dir(sid, 0)))
    assert fe.log.optimize(sid) == {0: (files, 1)}
    assert len(same(5, 20)) == 15

    s.append([b"tail-%d" % i for i in range(3)])  # [20, 23) in range 1
    s.trim(12)
    fe.log.vacuum(sid)
    got = same(0, 23)
    assert got[0] == b"2" and len(got) == 11  # offsets 12..22
