"""The log's view of its data files (COMMIT_OBJECT ≙ rpc.fbs:653-689) +
compaction (≙ range_accumulator.rs:129-170): ``StreamLog.list_objects``
is derived from the disk, footer-exact, and matches the disk through
every maintenance step; fetch is identical before and after compaction."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from elastic_stream_spark.catalog import StreamCatalog
from elastic_stream_spark.log import (
    StreamLog,
    footer_listing,
    parquet_files,
    range_dirs,
)


@pytest.fixture()
def log(spark, workdir):
    return StreamLog(spark, StreamCatalog(workdir))


def _events(spark, n, base_ts=0):
    return spark.range(n).select(
        F.timestamp_millis(F.lit(base_ts) + F.col("id") * 1000).alias("ts"),
        F.create_map(F.lit("i"), F.col("id").cast("string")).alias("properties"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "UTF-8").alias("payload"),
    )


def _on_disk_files(log, sid):
    return [(ridx, p) for ridx, d in range_dirs(log.records_root, sid) for p in parquet_files(d)]


def _spans(log, sid, range_index):
    """Offset spans of the row groups of one range directory's files."""
    return sorted(g[:2] for _, gs in footer_listing(log._range_dir(sid, range_index)) for g in gs)


def _assert_view_matches_disk(log, sid, n_records):
    """``list_objects`` lists exactly the stream's data files, each with
    its footer row count and file size."""
    view = log.list_objects(sid)
    assert [(o.range_index, o.path) for o in view] == _on_disk_files(log, sid)
    for o in view:
        assert o.stream_id == sid and o.n_bytes == os.path.getsize(o.path)
        assert o.n_records == pq.read_metadata(o.path).num_rows
    assert sum(o.n_records for o in view) == n_records


def test_commit_objects_idempotent_and_footer_exact(spark, log):
    """Nothing is committed: each descriptor is read off the disk, so
    listing twice gives the same list, and counts are footer-exact after
    appends of DataFrames and of bytes and after seal + optimize."""
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 7))
    log.append(sid, _events(spark, 5, base_ts=10_000))
    log.append(sid, [b"a", b"b", b"c", b"d"], ts_ms=400_000)  # bytes: one file
    _assert_view_matches_disk(log, sid, 16)
    view = log.list_objects(sid)
    assert len(view) >= 3  # at least one file per append
    assert all(o.n_bytes > 0 and o.range_index == 0 for o in view)
    assert log.list_objects(sid) == view  # listing writes nothing

    log.catalog.seal_range(sid, epoch=0)  # range 0 = [0, 16)
    log.append(sid, _events(spark, 4, base_ts=900_000), epoch=1)  # range 1
    _assert_view_matches_disk(log, sid, 20)
    assert log.optimize(sid)[0][1] == 1
    assert [o.n_records for o in log.list_objects(sid) if o.range_index == 0] == [16]
    _assert_view_matches_disk(log, sid, 20)


def test_vacuum_reconciles_objects_after_trim(spark, log):
    """The view matches the disk after trim + vacuum: no descriptor points
    at a reclaimed file, and the straddling range, once compacted, lists
    with footer-exact counts (≙ the reference never leaves committed object
    metadata pointing at reclaimed WAL,
    components/store/src/index/compaction.rs:18-56)."""
    sid = log.catalog.create_stream().stream_id
    for i in range(3):
        log.append(sid, _events(spark, 4, base_ts=i * 100_000))
    log.catalog.seal_range(sid, epoch=0)  # range 0 = [0, 12)
    log.append(sid, _events(spark, 4, base_ts=900_000), epoch=1)  # range 1: [12, 16)
    _assert_view_matches_disk(log, sid, 16)

    log.catalog.trim_stream(sid, 6)  # range 0 straddles the horizon
    log.vacuum(sid)  # deletes the file of offsets 0..3, keeps 4..7 whole
    _assert_view_matches_disk(log, sid, 12)
    assert log.optimize(sid) == {0: (2, 1)}  # compaction drops 4..5
    _assert_view_matches_disk(log, sid, 10)  # offsets 6..15
    log.catalog.trim_stream(sid, 12)  # past range 0: its directory goes
    log.vacuum(sid)
    _assert_view_matches_disk(log, sid, 4)
    assert {o.range_index for o in log.list_objects(sid)} == {1}


def test_vacuum_reconciles_objects_after_delete(spark, log):
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 5))
    log.append(sid, [b"a", b"b"], ts_ms=400_000)
    _assert_view_matches_disk(log, sid, 7)
    log.catalog.delete_stream(sid)
    log.vacuum(sid)
    assert log.list_objects(sid) == [] and _on_disk_files(log, sid) == []


def test_list_objects_counts_a_file_without_offset_stats(spark, log):
    """A file the footer index holds no offset spans for still lists with
    its footer's row count."""
    sid = log.catalog.create_stream().stream_id
    log.append(sid, [b"x", b"y"])
    d = log._range_dir(sid, 0)
    table = pa.table({"offset": pa.array([2, 3, 4], pa.int64()), "payload": [b"1", b"2", b"3"]})
    pq.write_table(table, os.path.join(d, "part-nostats.parquet"), write_statistics=False)
    assert [g for p, g in footer_listing(d) if p.endswith("part-nostats.parquet")] == [None]
    _assert_view_matches_disk(log, sid, 5)
    assert log.list_objects() == log.list_objects(sid)  # the log's one stream


def test_optimize_compacts_sealed_range_fetch_identical(spark, log):
    sid = log.catalog.create_stream().stream_id
    for i in range(5):  # five small appends → ≥5 files in range 0
        log.append(sid, _events(spark, 4, base_ts=i * 100_000))
    log.catalog.seal_range(sid, epoch=0)

    d = log._range_dir(sid, 0)
    files_before = parquet_files(d)
    assert len(files_before) >= 5
    before = [(r.offset, bytes(r.payload)) for r in log.fetch(sid, 0, 100).collect()]
    assert len(before) == 20

    result = log.optimize(sid)
    assert result[0][0] >= 5 and result[0][1] == 1  # files: many → one
    assert len(parquet_files(d)) == 1

    after = [(r.offset, bytes(r.payload)) for r in log.fetch(sid, 0, 100).collect()]
    assert after == before  # byte-identical fetch

    # the view reflects the rewrite: one object, same record count
    range0 = [o for o in log.list_objects(sid) if o.range_index == 0]
    assert len(range0) == 1 and range0[0].n_records == 20


def test_optimize_skips_mutable_range(spark, log):
    sid = log.catalog.create_stream().stream_id
    for i in range(3):
        log.append(sid, _events(spark, 2, base_ts=i * 100_000))
    # range 0 is still mutable — optimize must not touch it
    assert log.optimize(sid) == {}
    assert len(parquet_files(log._range_dir(sid, 0))) >= 3


def test_sweep_all_streams_agree(spark, log):
    """Maintenance sweep ≙ the reference's background reclaim+offload
    loops (wal.rs:362-377, range_accumulator.rs:129-170): one entry point
    runs retention trim, vacuum and compaction for every stream;
    afterwards catalog, the view of data files and the disk all agree."""
    # stream A: retention such that the first batch has expired
    a = log.catalog.create_stream(retention_ms=500_000).stream_id
    log.append(a, _events(spark, 4, base_ts=0))  # ts 0..3s — stale
    log.append(a, _events(spark, 4, base_ts=800_000))  # fresh
    # stream B: deleted, data must be reclaimed
    b = log.catalog.create_stream().stream_id
    log.append(b, _events(spark, 3))
    log.catalog.delete_stream(b)
    # stream C: sealed multi-file range — compacted by the sweep
    c = log.catalog.create_stream().stream_id
    for i in range(3):
        log.append(c, _events(spark, 2, base_ts=i * 1_000))
    log.catalog.seal_range(c, epoch=0)

    report = log.sweep(now_ms=1_000_000, optimize=True)

    # A: first batch trimmed (ts < now - retention = 500s → offsets 0..3)
    assert report[a]["start_offset"] == 4
    assert [r.offset for r in log.fetch(a, 0, 100).collect()] == [4, 5, 6, 7]
    # B: reclaimed
    assert report[b] == {"deleted": True}
    assert _on_disk_files(log, b) == []
    # C: sealed range compacted to one file
    assert report[c]["optimized"][0][1] == 1
    assert [r.offset for r in log.fetch(c, 0, 100).collect()] == list(range(6))
    # the view of data files mirrors the disk for every stream
    disk_all = sorted(p for s in (a, b, c) for _, p in _on_disk_files(log, s))
    assert sorted(o.path for o in log.list_objects()) == disk_all
    _assert_view_matches_disk(log, a, 4)
    _assert_view_matches_disk(log, c, 6)


def test_optimize_keeps_one_row_group_per_block(spark, log):
    """A compacted file keeps each source block as its own row group,
    clamped to the range's ``[start, end)``, also when a trim cuts into
    the range and it is compacted again: reads keep pruning per block."""
    sid = log.catalog.create_stream().stream_id
    for k in range(6):
        log.append(sid, [b"%d" % k] * (k + 2))  # blocks of 2..7 records
    log.catalog.seal_range(sid, epoch=0)  # range 0 = [0, 27)
    log.append(sid, [b"next"] * 3, epoch=1)
    blocks = _spans(log, sid, 0)
    assert len(blocks) == 6 and blocks[-1][1] == 26

    assert log.optimize(sid) == {0: (6, 1)}
    assert _spans(log, sid, 0) == blocks
    log.catalog.trim_stream(sid, 7)  # cuts into the block [5, 9)
    assert log.optimize(sid) == {0: (1, 1)}
    assert _spans(log, sid, 0) == [(max(lo, 7), hi) for lo, hi in blocks if hi >= 7]
    assert log.fetch_table(sid, 0, 30)["offset"].to_pylist() == list(range(7, 30))


def test_optimize_repairs_its_own_interrupted_swap(spark, log, monkeypatch):
    """A crash between optimize's two renames leaves the range directory
    missing, and reads miss its confirmed rows; the next optimize rolls
    the swap back and completes it."""
    sid = log.catalog.create_stream().stream_id
    for k in range(4):
        log.append(sid, [b"%d:%d" % (k, i) for i in range(3)])
    log.catalog.seal_range(sid, epoch=0)
    before = log.fetch_table(sid, 0, 100)
    d = log._range_dir(sid, 0)

    def crash(src, dst):
        raise OSError("crash between the renames")

    monkeypatch.setattr(shutil, "move", crash)
    with pytest.raises(OSError, match="between the renames"):
        log.optimize(sid)
    monkeypatch.undo()
    assert not os.path.exists(d)
    assert log.fetch_table(sid, 0, 100).num_rows == 0  # the hole a live read falls into
    assert log.confirmed_offset(sid) == 12

    assert log.optimize(sid) == {0: (4, 1)}
    assert log.fetch_table(sid, 0, 100).equals(before)
    assert os.listdir(f"{log.catalog.root}/_optimize_tmp") == []
