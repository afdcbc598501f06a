"""Kill-based crash test of the byte append path, with trim, vacuum and
compaction.

A child process appends ``list[bytes]`` blocks to three streams through
``StreamLog(None, StreamCatalog(root))`` (no Spark), with an occasional
``update_stream`` and ``seal_range``, each seal followed by an
``optimize`` of the stream, and acks each append that returned with an
fsync'd line.  The parent ``SIGKILL``s it at a seeded random
delay, checks the store, and starts a fresh child on the same root.
While the child runs, the parent trims one stream to the base of an
acked block and runs ``StreamLog(None, cat).vacuum`` on it, then reads
the catalog files lock-free, as ``describe_stream`` does, so a catalog
write that is not one atomic replace shows up as a file that does not
parse.

After every kill, through the lock-free read paths:
- every shard and ``catalog.json`` parse;
- ``confirmed_offset <= next_offset``;
- no offset is held twice by the row groups of the footer index, across
  all of a stream's range directories, and each row group holds a
  contiguous run of offsets (a compaction keeps one row group per block);
- no data file whose largest offset is below ``start_offset`` is left:
  every trim is followed by a completed vacuum;
- after ``StreamLog(None, cat).optimize`` heals each stream (it completes
  or rolls back a swap the kill interrupted, the documented recovery),
  the footer checks above hold again, ``confirmed_offset`` covers every
  acked block, and each one that ends above ``start_offset`` reads back
  once through ``fetch_table``, with its bytes;
- the published change-feed revisions are ``1..n`` with ``n`` at most the
  catalog's revision (equal once the crash window is repaired).

The footer checks run before the heal, so the heal cannot hide a file
left below ``start_offset``.  A kill inside ``optimize`` is likely to land
in its write or its read, rarely in the sub-millisecond window between its
two renames; ``tests/test_objects.py`` forces that window.

Once ``StreamCatalog.repair`` has run, no ``.catalog-*`` or ``.shard-*``
temp file a killed write left remains in the catalog root.

A reserved block with no ack may be a hole: a reservation no writer
confirms (``StreamCatalog.confirm_offset``'s docstring), not a failure.
A SIGKILL stops the process, not the machine, so this covers crash points
between syscalls, not lost page-cache writes.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import signal
import subprocess
import sys
import time

from elastic_stream_spark.catalog import StreamCatalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_STREAMS = 3
N_KILLS = 20


def block_digest(payloads) -> str:
    h = hashlib.sha256()
    for p in payloads:
        h.update(len(p).to_bytes(4, "big"))
        h.update(p)
    return h.hexdigest()


def child(root: str, ack_path: str, seed: int) -> None:
    """Append forever until killed; one fsync'd ack line per returned
    append: ``sid base end sha256``."""
    from elastic_stream_spark.log import StreamLog

    rng = random.Random(seed)
    cat = StreamCatalog(root)
    log = StreamLog(None, cat)
    with open(ack_path, "a") as ack:
        print("ready", flush=True)
        i = 0
        while True:
            i += 1
            sid = rng.randrange(N_STREAMS)
            if i % 17 == 0:
                cat.update_stream(sid, retention_ms=i)
            if i % 41 == 0:
                cat.seal_range(sid, epoch=cat.describe_stream(sid).epoch)
                log.optimize(sid)
            payloads = [rng.randbytes(rng.randrange(1, 512)) for _ in range(rng.randrange(1, 9))]
            base, end = log.append(sid, payloads)
            ack.write(f"{sid} {base} {end} {block_digest(payloads)}\n")
            ack.flush()
            os.fsync(ack.fileno())


def read_catalog_files(root: str) -> None:
    """Parse ``catalog.json`` and every shard as a lock-free reader does."""
    shards = glob.glob(os.path.join(root, "streams", "*.json"))
    for path in [os.path.join(root, "catalog.json"), *shards]:
        with open(path) as f:
            json.load(f)


def read_acks(ack_path: str) -> list[tuple[int, int, int, str]]:
    with open(ack_path) as f:
        lines = f.read().split("\n")[:-1]  # a torn last line has no newline
    return [(int(s), int(b), int(e), h) for s, b, e, h in (ln.split() for ln in lines)]


def check_invariants(root: str, acks) -> None:
    from elastic_stream_spark.log import (
        StreamLog,
        footer_listing,
        range_dirs,
        records_root,
    )

    def check_footers(sid: int) -> None:
        s = cat.describe_stream(sid)
        assert s.confirmed_offset <= s.next_offset, s
        listing = [e for _, d in range_dirs(records_root(root), sid) for e in footer_listing(d)]
        assert all(gs is not None for _, gs in listing), listing  # offset stats
        assert all(max(g[1] for g in gs) >= s.start_offset for _, gs in listing), (sid, s)
        groups = sorted(g[:3] for _, gs in listing for g in gs)
        prev_hi = -1
        for lo, hi, n in groups:
            assert n == hi - lo + 1 and lo > prev_hi, (sid, groups)
            prev_hi = hi

    read_catalog_files(root)
    cat = StreamCatalog(root)
    log = StreamLog(None, cat)
    for sid in range(N_STREAMS):
        check_footers(sid)
    for sid in range(N_STREAMS):
        log.optimize(sid)  # heal: complete or roll back an interrupted swap
        check_footers(sid)
    for sid, base, end, digest in acks:
        s = cat.describe_stream(sid)
        assert s.confirmed_offset >= end, (sid, base, end)
        if end <= s.start_offset:  # trimmed away
            continue
        got = log.fetch_table(sid, base, end)
        assert got["offset"].to_pylist() == list(range(base, end)), (sid, base, end)
        assert block_digest(got["payload"].to_pylist()) == digest, (sid, base, end)
    revs = published_revisions(root)
    assert revs == list(range(1, len(revs) + 1))
    assert len(revs) <= cat.revision


def trim_and_vacuum(cat: StreamCatalog, acks, rng: random.Random) -> None:
    """Trim one stream to the base of an acked block halfway through its
    live acks, then vacuum it, while the child appends."""
    from elastic_stream_spark.log import StreamLog

    sid = rng.randrange(N_STREAMS)
    start = cat.describe_stream(sid).start_offset
    bases = [base for s, base, _, _ in acks if s == sid and base > start]
    if bases:
        cat.trim_stream(sid, bases[len(bases) // 2])
    StreamLog(None, cat).vacuum(sid)


def published_revisions(root: str) -> list[int]:
    revs = []
    for path in glob.glob(os.path.join(root, "changes", "*.json")):
        with open(path) as f:
            revs += [json.loads(line)["revision"] for line in f]
    return sorted(revs)


def test_sigkill_during_byte_appends_keeps_invariants(workdir):
    root = os.path.join(workdir, "store")
    ack_path = os.path.join(workdir, "acks")
    cat = StreamCatalog(root)
    for _ in range(N_STREAMS):
        cat.create_stream()
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([REPO, os.path.dirname(__file__)]))
    rng = random.Random(1301)
    deadline = time.monotonic() + 45
    kills = 0
    while kills < N_KILLS and time.monotonic() < deadline:
        proc = subprocess.Popen(
            [
                sys.executable,
                "-c",
                "import sys, test_crash_kill as t; t.child(*sys.argv[1:3], int(sys.argv[3]))",
                root,
                ack_path,
                str(rng.randrange(1 << 30)),
            ],
            env=env,
            stdout=subprocess.PIPE,
        )
        try:
            assert proc.stdout.readline() == b"ready\n"
            stop = time.monotonic() + rng.uniform(0.05, 0.8)
            trim_and_vacuum(cat, read_acks(ack_path), rng)
            while time.monotonic() < stop:
                read_catalog_files(root)
            assert proc.poll() is None, "child exited before the kill"
        finally:
            proc.send_signal(signal.SIGKILL)
            proc.wait()
            proc.stdout.close()
        kills += 1
        check_invariants(root, read_acks(ack_path))
    assert kills >= 10
    acks = read_acks(ack_path)
    assert len(acks) >= 20  # the children got past start-up
    cat.repair()
    check_invariants(root, acks)
    leftovers = [n for n in os.listdir(root) if n.startswith((".catalog-", ".shard-"))]
    assert leftovers == []
    assert published_revisions(root) == list(range(1, cat.revision + 1))
