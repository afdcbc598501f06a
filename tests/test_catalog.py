"""Catalog lifecycle: create/describe/update/delete, seal/epoch fencing,
trim — the property-style scenarios from SURVEY.md §5 / FIXTURES.md C.

Mirrors the reference's tested invariants: write-window ordering
(window.rs:255-300), seal fixing the end offset, stale-epoch rejection
(rpc.fbs:48-51), trim shrink/drop semantics (rpc.fbs:571-581)."""

from __future__ import annotations

import pytest

from elastic_stream_spark.catalog import (
    FencedError,
    SealedRange,
    StreamCatalog,
    StreamNotFound,
)


def test_create_describe_update_delete(workdir):
    cat = StreamCatalog(workdir)
    s = cat.create_stream(replica=3, ack_count=2, retention_ms=1000)
    assert (s.stream_id, s.replica, s.ack_count, s.retention_ms) == (0, 3, 2, 1000)
    # ids are dense — the ALLOCATE_ID analogue
    assert cat.create_stream().stream_id == 1

    got = cat.describe_stream(0)
    assert got.replica == 3 and got.next_offset == 0 and got.epoch == 0

    cat.update_stream(0, retention_ms=5000)
    assert cat.describe_stream(0).retention_ms == 5000
    with pytest.raises(ValueError):
        cat.update_stream(0, next_offset=99)  # not user-mutable

    cat.delete_stream(0)
    with pytest.raises(StreamNotFound):
        cat.describe_stream(0)
    assert [s.stream_id for s in cat.list_streams()] == [1]


def test_offset_reservation_contiguous(workdir):
    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    bases = [cat.reserve_offsets(sid, n)[0] for n in (5, 3, 7)]
    assert bases == [0, 5, 8]  # gap-free, in-order (write-window analogue)
    assert cat.describe_stream(sid).next_offset == 15


def test_list_ranges_filter_closure(workdir):
    """≙ the store scan API's range-filter closure
    (components/store/src/lib.rs:68-84): predicate applied per range."""
    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    cat.reserve_offsets(sid, 10)
    cat.seal_range(sid, epoch=0)  # range 0 sealed [0,10), range 1 open @10
    cat.reserve_offsets(sid, 5, epoch=1)
    sealed = cat.list_ranges(sid, filter=lambda r: r.sealed)
    assert [r.range_index for r in sealed] == [0]
    # offset-window overlap test: ranges covering [8, 12)
    hit = cat.list_ranges(
        sid, filter=lambda r: r.start < 12 and (r.end is None or r.end > 8)
    )
    assert [r.range_index for r in hit] == [0, 1]
    assert len(cat.list_ranges(sid)) == 2  # no filter → all


def test_seal_opens_successor_and_fences(workdir):
    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    cat.reserve_offsets(sid, 10)
    sealed = cat.seal_range(sid, epoch=0)
    assert sealed.sealed and sealed.end == 10
    ranges = cat.list_ranges(sid)
    # successor range starts exactly at sealed end (left-incl/right-excl)
    assert ranges[-1].start == 10 and not ranges[-1].sealed
    assert ranges[-1].epoch == 1

    # zombie writer with the old epoch is rejected (EXPIRED_RANGE_EPOCH)
    with pytest.raises(FencedError):
        cat.reserve_offsets(sid, 1, epoch=0)
    base, _ = cat.reserve_offsets(sid, 4, epoch=1)
    assert base == 10

    # sealing with a stale epoch is rejected too
    with pytest.raises(FencedError):
        cat.seal_range(sid, epoch=0)


def test_write_to_sealed_terminal_range_rejected(workdir):
    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    cat.seal_range(sid, epoch=0)  # empty seal; successor opens
    # force a terminal sealed state (no mutable range), as after a
    # stream being closed for writes
    data = cat._read_shard(sid)
    data["ranges"][-1]["sealed"] = True
    data["ranges"][-1]["end"] = 0
    cat._write_shard(sid, data)
    with pytest.raises(SealedRange):
        cat.reserve_offsets(sid, 1, epoch=1)
    with pytest.raises(SealedRange):
        cat.seal_range(sid, epoch=1)
    with pytest.raises(SealedRange):
        cat.writable_range(sid)


def test_trim_drops_and_shrinks(workdir):
    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    cat.reserve_offsets(sid, 10)
    cat.seal_range(sid, epoch=0)  # range0 = [0,10)
    cat.reserve_offsets(sid, 10, epoch=1)
    cat.seal_range(sid, epoch=1)  # range1 = [10,20)
    cat.reserve_offsets(sid, 5, epoch=2)  # range2 = [20,25) mutable

    cat.trim_stream(sid, 12)
    s = cat.describe_stream(sid)
    assert s.start_offset == 12
    ranges = cat.list_ranges(sid)
    # range0 dropped entirely; range1 shrunk to [12,20); range2 untouched
    assert [(r.range_index, r.start, r.end) for r in ranges] == [
        (1, 12, 20),
        (2, 20, None),
    ]
    # trim is monotonic; over-trim rejected
    cat.trim_stream(sid, 5)
    assert cat.describe_stream(sid).start_offset == 12
    with pytest.raises(ValueError):
        cat.trim_stream(sid, 999)


def test_range_contains(workdir):
    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    cat.reserve_offsets(sid, 10)
    sealed = cat.seal_range(sid, epoch=0)
    assert sealed.contains(0) and sealed.contains(9)
    assert not sealed.contains(10)  # right-exclusive
    mutable = cat.writable_range(sid)
    assert mutable.contains(10**12)  # open-ended while mutable


def test_change_feed_records_lifecycle_in_order(spark, workdir):
    """WATCH_RESOURCE analogue: create/seal/trim emit ordered, versioned
    change events readable both batch and as a stream."""
    from pyspark.sql import functions as F

    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    cat.reserve_offsets(sid, 10)
    cat.seal_range(sid, epoch=0)
    cat.trim_stream(sid, 3)
    cat.update_stream(sid, retention_ms=1000)

    ch = cat.changes(spark).collect()
    kinds = [(r.kind, r.resource_type, r.range_index) for r in ch]
    assert kinds == [
        ("created", "stream", None),
        ("created", "range", 0),
        ("sealed", "range", 0),
        ("created", "range", 1),
        ("updated", "range", 0),  # straddling range shrunk by the trim
        ("trimmed", "stream", None),
        ("updated", "stream", None),
    ]
    revs = [r.revision for r in ch]
    assert revs == sorted(revs) and len(set(revs)) == len(revs)
    assert cat.revision == revs[-1]

    # continuation token: resume past the first three events
    later = cat.changes(spark, from_revision=revs[2]).collect()
    assert [r.kind for r in later] == ["created", "updated", "trimmed", "updated"]

    # streaming watch delivers the same events
    q = (
        cat.watch_resources(spark)
        .writeStream.format("memory")
        .queryName("t_watch")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    watched = spark.sql("SELECT * FROM t_watch ORDER BY revision").collect()
    assert [r.kind for r in watched] == [k for k, _, _ in kinds]

    # a mutation after the watch point is visible to a fresh incremental run
    cat.delete_stream(sid)
    assert cat.changes(spark, from_revision=revs[-1]).collect()[0].kind == "deleted"


def test_change_feed_crash_window_republish(spark, workdir):
    """Crash between catalog.json commit and the changes/ file write must
    not lose committed revisions: the recorded pending_changes republish
    the exact bytes on the next read/txn (a FileStreamSource watcher that
    never re-reads filenames still sees every committed revision)."""
    import glob
    import os

    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    files = sorted(glob.glob(os.path.join(workdir, "changes", "*.json")))
    assert len(files) == 1
    original = open(files[0]).read()
    # simulate the crash window: committed catalog, events file missing
    os.remove(files[0])
    # any read repairs it, byte-identically
    ch = cat.changes(spark).collect()
    assert open(files[0]).read() == original
    assert [r.kind for r in ch] == ["created", "created"]
    # and a later txn would repair it too (idempotent republish)
    os.remove(files[0])
    cat.update_stream(sid, retention_ms=99)
    assert open(files[0]).read() == original


def test_seal_below_next_offset_rejected(workdir):
    """Offsets past the seal end are already assigned (and may be
    written); sealing below them would let trim+vacuum silently delete
    live records — the catalog rejects it."""
    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    cat.reserve_offsets(sid, 10)
    with pytest.raises(ValueError, match="below next_offset"):
        cat.seal_range(sid, epoch=0, end=7)
    # sealing at exactly next_offset is the valid path
    sealed = cat.seal_range(sid, epoch=0, end=10)
    assert sealed.end == 10


def test_txn_touches_only_its_stream_shard(workdir):
    """The sharded layout's scale contract: a metadata txn writes the ONE
    stream shard it addresses — never the other shards (what keeps
    reserve_offsets O(1) in stream count, measured flat ~2 ms/op from
    100 to 10,000 streams).  An event txn (seal, trim) also writes the
    tiny meta record; an offset commit (reserve, confirm) writes the
    shard alone and leaves ``catalog.json`` and the revision as they
    were."""
    import os

    cat = StreamCatalog(workdir)
    sids = [cat.create_stream().stream_id for _ in range(20)]
    target = sids[7]

    def snap():
        return {
            sid: os.stat(cat._shard_path(sid)).st_mtime_ns for sid in sids
        }

    def meta_snap():
        with open(cat._meta_path, "rb") as f:
            return f.read(), os.stat(cat._meta_path).st_mtime_ns, cat.revision

    before = snap()
    meta_before = meta_snap()
    base, _ = cat.reserve_offsets(target, 100)
    cat.confirm_offset(target, base + 100)
    assert meta_snap() == meta_before
    assert cat.describe_stream(target).confirmed_offset == 100
    cat.seal_range(target, epoch=0)
    cat.trim_stream(target, 50)
    after = snap()
    changed = {sid for sid in sids if before[sid] != after[sid]}
    assert changed == {target}
    # cross-stream meta stays O(1): id allocator + revision + txn staging
    assert os.path.getsize(cat._meta_path) < 1024


def test_legacy_shard_confirmed_offset_fallback(workdir):
    """A shard without ``confirmed_offset`` has no fallback: it is
    refused with a ValueError naming the shard file, on reads and on
    write txns alike.  Every writer stamps the field, and each guess is
    wrong somewhere — 0 hides landed records from poll_fetch, next_offset
    reports an in-flight block as durable."""
    import json as _json
    import re

    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    cat.reserve_offsets(sid, 10)
    cat.confirm_offset(sid, 10)
    # replayed (stale) confirm never regresses the watermark
    cat.confirm_offset(sid, 3)
    assert cat.describe_stream(sid).confirmed_offset == 10
    # strip the field → a shard no writer of this engine produces
    p = cat._shard_path(sid)
    with open(p) as f:
        data = _json.load(f)
    del data["stream"]["confirmed_offset"]
    with open(p, "w") as f:
        _json.dump(data, f)
    for op in (
        lambda: cat.describe_stream(sid),
        lambda: cat.list_streams(),
        lambda: cat.list_ranges(sid),
        lambda: cat.reserve_offsets(sid, 5),
    ):
        with pytest.raises(ValueError, match=re.escape(p)):
            op()
    # the refused write left the shard as it was
    with open(p) as f:
        assert _json.load(f) == data


def test_crashed_event_txn_is_repaired_before_offset_commit(spark, workdir, monkeypatch):
    """A seal that crashed after its catalog.json commit, before its
    shard write, leaves ``pending_shard`` and ``pending_changes`` on
    disk.  The next offset commit (one shard replace, no catalog.json
    write) must land on the REPAIRED shard: the seal is applied, the
    reservation is kept, and the feed shows each event once."""
    import json as _json
    import os

    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    cat.reserve_offsets(sid, 10)
    cat.confirm_offset(sid, 10)

    real = StreamCatalog._write_shard

    def crash_once(self, stream_id, data):
        monkeypatch.setattr(StreamCatalog, "_write_shard", real)
        raise OSError("crash after the catalog.json commit")

    monkeypatch.setattr(StreamCatalog, "_write_shard", crash_once)
    with pytest.raises(OSError, match="crash after"):
        cat.seal_range(sid, epoch=0)
    with open(cat._meta_path) as f:
        torn = _json.load(f)
    assert torn["pending_shard"]["sid"] == sid
    assert torn["pending_changes"]["name"] == "000000000003.json"  # the seal's
    assert not os.path.exists(os.path.join(workdir, "changes", "000000000003.json"))
    assert len(cat.list_ranges(sid)) == 1  # shard still the pre-seal one

    base, rng = cat.reserve_offsets(sid, 5)
    assert base == 10  # starts at the old next_offset
    assert (rng.range_index, rng.start, rng.epoch) == (1, 10, 1)
    data = cat._read_shard(sid)
    assert data["stream"]["epoch"] == 1
    assert data["stream"]["next_offset"] == 15  # the reservation is kept
    assert data["stream"]["confirmed_offset"] == 10
    assert [(r["range_index"], r["start"], r["end"], r["sealed"], r["epoch"])
            for r in data["ranges"]] == [(0, 0, 10, True, 0), (1, 10, None, False, 1)]
    with open(cat._meta_path) as f:
        assert _json.load(f)["pending_shard"] is None

    ch = cat.changes(spark).collect()
    assert [r.revision for r in ch] == [1, 2, 3, 4]
    assert [(r.kind, r.resource_type, r.range_index) for r in ch] == [
        ("created", "stream", None),
        ("created", "range", 0),
        ("sealed", "range", 0),
        ("created", "range", 1),
    ]
    assert cat.revision == 4


def test_offset_commits_and_event_txns_serialize_across_processes(workdir):
    """Offset commits (shard replace only) and event txns (write-ahead
    through catalog.json) on the SAME stream, from two processes, still
    serialize on the one catalog lock: no reservation, confirm, update
    or feed event is lost or doubled."""
    import glob
    import json as _json
    import multiprocessing as mp
    import os

    N = 200
    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id

    def offsets(root: str) -> None:
        c = StreamCatalog(root)
        for _ in range(N):
            base, _ = c.reserve_offsets(sid, 1)
            c.confirm_offset(sid, base + 1)

    def updates(root: str) -> None:
        c = StreamCatalog(root)
        for i in range(N):
            c.update_stream(sid, retention_ms=i)

    ctx = mp.get_context("fork")
    procs = [ctx.Process(target=f, args=(workdir,)) for f in (offsets, updates)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0
    s = cat.describe_stream(sid)
    assert s.next_offset == s.confirmed_offset == N
    assert s.retention_ms == N - 1
    revs = []
    for path in glob.glob(os.path.join(workdir, "changes", "*.json")):
        with open(path) as f:
            revs += [_json.loads(line)["revision"] for line in f]
    assert sorted(revs) == list(range(1, N + 3))  # 2 create + N update
    assert cat.revision == N + 2


def test_meta_change_without_event_is_refused(workdir):
    """An op that changes catalog.json state but stages no feed event
    would take the offset-commit path and lose that change; the txn
    raises instead, and nothing is written."""
    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    with open(cat._meta_path, "rb") as f:
        meta = f.read()
    shard = cat._read_shard(sid)
    with pytest.raises(RuntimeError, match="without a change-feed event"):
        with cat._txn(sid) as t:
            t.meta.next_stream_id += 1
            t.stream["next_offset"] = 5
    with open(cat._meta_path, "rb") as f:
        assert f.read() == meta
    assert cat._read_shard(sid) == shard


def test_sweep_removes_catalog_temp_files(workdir):
    """A write killed between its temp file and the rename leaves a
    ``.catalog-*`` or ``.shard-*`` file; a maintenance ``sweep`` removes
    it under the catalog lock, and an offset commit leaves it alone."""
    import os

    from elastic_stream_spark.log import StreamLog

    cat = StreamCatalog(workdir)
    sid = cat.create_stream().stream_id
    stray = [os.path.join(workdir, n) for n in (".catalog-x1", ".shard-x2")]
    for p in stray:
        with open(p, "w") as f:
            f.write("{")
    cat.reserve_offsets(sid, 3)
    cat.confirm_offset(sid, 3)
    assert all(os.path.exists(p) for p in stray)
    StreamLog(None, cat).sweep()
    assert not any(os.path.exists(p) for p in stray)
    assert cat.describe_stream(sid).confirmed_offset == 3
