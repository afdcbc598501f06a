"""Objects catalog (COMMIT_OBJECT ≙ rpc.fbs:653-689) + compaction
(≙ range_accumulator.rs:129-170): commit idempotence, footer-exact
counts, and the fetch-identical-pre/post-compaction invariant."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from elastic_stream_spark.catalog import StreamCatalog
from elastic_stream_spark.log import StreamLog, parquet_files, range_dirs


@pytest.fixture()
def log(spark, workdir):
    return StreamLog(spark, StreamCatalog(workdir))


def _events(spark, n, base_ts=0):
    return spark.range(n).select(
        F.timestamp_millis(F.lit(base_ts) + F.col("id") * 1000).alias("ts"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("payload"),
    )


def test_commit_objects_idempotent_and_footer_exact(spark, log):
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 7))
    log.append(sid, _events(spark, 5, base_ts=10_000))

    assert log.commit_objects(sid) >= 2  # at least one file per append
    objs = log.objects.list_objects(sid)
    assert sum(o.n_records for o in objs) == 12
    assert all(o.n_bytes > 0 and o.range_index == 0 for o in objs)
    assert log.commit_objects(sid) == 0  # idempotent re-commit


def test_optimize_compacts_sealed_range_fetch_identical(spark, log):
    sid = log.catalog.create_stream().stream_id
    for i in range(5):  # five small appends → ≥5 files in range 0
        log.append(sid, _events(spark, 4, base_ts=i * 100_000))
    log.catalog.seal_range(sid, epoch=0)
    log.commit_objects(sid)

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

    # objects catalog reflects the rewrite: one object, same record count
    objs = log.objects.list_objects(sid)
    range0 = [o for o in objs if o.range_index == 0]
    assert len(range0) == 1 and range0[0].n_records == 20


def test_optimize_skips_mutable_range(spark, log):
    sid = log.catalog.create_stream().stream_id
    for i in range(3):
        log.append(sid, _events(spark, 2, base_ts=i * 100_000))
    # range 0 is still mutable — optimize must not touch it
    assert log.optimize(sid) == {}
    assert len(parquet_files(log._range_dir(sid, 0))) >= 3


def _on_disk_files(log, sid):
    dirs = range_dirs(log.records_root, sid)
    return sorted(p for _, d in dirs for p in parquet_files(d))


def test_vacuum_reconciles_objects_after_trim(spark, log):
    """Metadata plane must match the data plane after trim+vacuum: no
    descriptor may point at a reclaimed file, and the rewritten straddling
    range is re-committed with footer-exact counts (≙ the reference never
    leaves committed object metadata pointing at reclaimed WAL,
    components/store/src/index/compaction.rs:18-56)."""
    sid = log.catalog.create_stream().stream_id
    for i in range(3):
        log.append(sid, _events(spark, 4, base_ts=i * 100_000))
    log.catalog.seal_range(sid, epoch=0)  # range 0 = [0, 12)
    log.append(sid, _events(spark, 4, base_ts=900_000))  # range 1: [12, 16)
    log.commit_objects(sid)
    assert sum(o.n_records for o in log.objects.list_objects(sid)) == 16

    # trim inside range 0: range 0 straddles → rewritten; vacuum must drop
    # old descriptors and commit the rewrite
    log.catalog.trim_stream(sid, 6)
    log.vacuum(sid)
    objs = log.objects.list_objects(sid)
    disk = _on_disk_files(log, sid)
    assert sorted(o.path for o in objs) == disk
    assert sum(o.n_records for o in objs) == 10  # offsets 6..15
    # trim past range 0 entirely: wholesale dir delete must also reconcile
    log.catalog.trim_stream(sid, 12)
    log.vacuum(sid)
    objs = log.objects.list_objects(sid)
    disk = _on_disk_files(log, sid)
    assert sorted(o.path for o in objs) == disk
    assert sum(o.n_records for o in objs) == 4


def test_vacuum_reconciles_objects_after_delete(spark, log):
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 5))
    log.commit_objects(sid)
    assert len(log.objects.list_objects(sid)) >= 1
    log.catalog.delete_stream(sid)
    log.vacuum(sid)
    assert log.objects.list_objects(sid) == []
    assert _on_disk_files(log, sid) == []


def test_sweep_all_streams_agree(spark, log):
    """Maintenance sweep ≙ the reference's background reclaim+offload
    loops (wal.rs:362-377, range_accumulator.rs:129-170): one entry point
    runs retention trim, vacuum, compaction, and objects reconcile for
    every stream; afterwards catalog, objects catalog, and on-disk data
    all agree."""
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
    for sid in (a, c):
        log.commit_objects(sid)

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
    # objects catalog exactly mirrors the data plane for every stream
    disk_all = sorted(p for s in (a, b, c) for p in _on_disk_files(log, s))
    cat_all = sorted(o.path for o in log.objects.list_objects())
    assert cat_all == disk_all
