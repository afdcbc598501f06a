"""KV store: etcd-style Range/Put/DeleteRange/Txn semantics
(rpc.fbs:780-931) incl. the CAS one-winner property (FIXTURES.md C.8)."""

from __future__ import annotations

from elastic_stream_spark.kv import Compare, KVStore, prefix_end


def test_put_get_version(workdir):
    kv = KVStore(workdir)
    v1 = kv.put(b"a", b"1")
    v2 = kv.put(b"a", b"2")
    assert v2 > v1
    assert kv.get(b"a") == (b"2", v2)
    assert kv.get(b"missing") is None


def test_range_scan_prefix_and_limit(workdir):
    kv = KVStore(workdir)
    for k in [b"app/1", b"app/2", b"app/3", b"zoo/1"]:
        kv.put(k, b"v")
    items, more = kv.range(b"app/", prefix_end(b"app/"))
    assert [k for k, _, _ in items] == [b"app/1", b"app/2", b"app/3"]
    assert not more
    items, more = kv.range(b"app/", prefix_end(b"app/"), limit=2)
    assert [k for k, _, _ in items] == [b"app/1", b"app/2"] and more
    # from-key convention: everything >= key
    items, _ = kv.range(b"app/3", KVStore.FROM_KEY)
    assert [k for k, _, _ in items] == [b"app/3", b"zoo/1"]
    # point get
    items, _ = kv.range(b"app/2")
    assert [k for k, _, _ in items] == [b"app/2"]


def test_prefix_end_edge_cases():
    assert prefix_end(b"a") == b"b"
    assert prefix_end(b"a\xff") == b"b"
    assert prefix_end(b"\xff") == b""  # whole keyspace


def test_delete_range(workdir):
    kv = KVStore(workdir)
    for k in [b"a", b"b", b"c", b"d"]:
        kv.put(k, b"v")
    assert kv.delete_range(b"b", b"d") == 2  # [b, d) → b, c
    items, _ = kv.range(b"", KVStore.FROM_KEY)
    assert [k for k, _, _ in items] == [b"a", b"d"]


def test_txn_compare_success_failure(workdir):
    kv = KVStore(workdir)
    kv.put(b"k", b"v1")
    ok, res = kv.txn(
        compare=[Compare(b"k", "value", "==", b"v1")],
        success=[("put", b"k", b"v2"), ("get", b"k")],
        failure=[("put", b"k", b"lost")],
    )
    assert ok and res[1][0] == b"v2"
    ok, _ = kv.txn(
        compare=[Compare(b"k", "value", "==", b"v1")],  # stale now
        success=[("put", b"k", b"v3")],
        failure=[("get", b"k")],
    )
    assert not ok
    assert kv.get(b"k")[0] == b"v2"  # failure branch didn't clobber


def test_cas_single_winner(workdir):
    """FIXTURES.md C.8: N conditional puts on the same version — exactly
    one wins."""
    kv = KVStore(workdir)
    v = kv.put(b"leader", b"node0")
    outcomes = [kv.cas(b"leader", v, f"node{i}".encode()) for i in range(1, 6)]
    assert outcomes.count(True) == 1
    assert outcomes[0] is True  # first CAS saw the fresh version
    # create-if-absent: version 0 means key must not exist
    assert kv.cas(b"new", 0, b"x") is True
    assert kv.cas(b"new", 0, b"y") is False


def test_to_df(spark, workdir):
    kv = KVStore(workdir)
    kv.put(b"a", b"1")
    kv.put(b"b", b"2")
    df = kv.to_df(spark)
    assert df.count() == 2
    assert sorted(bytes(r.key) for r in df.collect()) == [b"a", b"b"]


def test_prefix_scan_over_all_ff_keys(workdir):
    """prefix_end(b"\\xff") = b"" (no byte string sorts above the
    prefix): the open-upper-bound sentinel must mean "all keys >= key"
    in Range/DeleteRange/Txn-delete — previously it matched nothing and
    such scans silently returned/deleted zero keys (review finding;
    etcd maps this case to the same from-key semantics)."""
    kv = KVStore(workdir)
    kv.put(b"\xfe", b"below")
    kv.put(b"\xff\x01", b"v1")
    kv.put(b"\xff\xff", b"v2")
    end = prefix_end(b"\xff")
    assert end == b""
    items, more = kv.range(b"\xff", end)
    assert [k for k, _, _ in items] == [b"\xff\x01", b"\xff\xff"]
    assert not more
    # txn delete over the same span
    ok, _ = kv.txn([], [("delete", b"\xff\xff", b"")])
    assert ok and kv.get(b"\xff\xff") is None
    assert kv.delete_range(b"\xff", end) == 1
    assert kv.get(b"\xfe") is not None


def test_sharded_layout_and_point_ops(workdir):
    """Puts land in per-bucket generation files + a manifest — never a
    monolithic snapshot (r6 ADVICE item 2: O(keyspace) per put).  The
    point paths (get / point-range) read exactly one bucket."""
    import os

    kv = KVStore(workdir)
    for i in range(200):
        kv.put(f"k{i:04d}".encode(), f"v{i}".encode())
    files = os.listdir(workdir)
    assert "kv-meta.json" in files
    assert any(f.startswith("kv-shard-") for f in files)
    assert "kv.json" not in files
    # every key readable; versions monotone with insertion order
    assert kv.get(b"k0000")[0] == b"v0"
    assert kv.get(b"k0199")[0] == b"v199"
    assert kv.get(b"k0199")[1] > kv.get(b"k0000")[1]
    # full scan sees all keys in key order
    items, more = kv.range(b"k", prefix_end(b"k"))
    assert len(items) == 200 and not more
    assert items[0][0] == b"k0000" and items[-1][0] == b"k0199"
    # one generation file per populated bucket — replaced generations GC'd
    shard_files = [f for f in files if f.startswith("kv-shard-")]
    buckets = {f.split(".")[0] for f in shard_files}
    assert len(shard_files) == len(buckets)


def test_multi_bucket_txn_atomic_after_crash_window(workdir):
    """Crash between shard-generation writes and the manifest commit
    must leave the store unchanged (orphan generation files are swept by
    the next OPEN's first commit — a crash kills the writing process, so
    the next committer is necessarily a fresh handle; r11 moved the
    O(nshards) listdir sweep off the per-commit path) — the manifest
    rename is THE commit point."""
    import os

    kv = KVStore(workdir)
    kv.put(b"a", b"1")
    kv.put(b"b", b"2")
    # simulate the crash window: a new generation file exists for some
    # bucket but no manifest references it (the writer then died)
    orphan = os.path.join(workdir, "kv-shard-00.999999999999.json")
    with open(orphan, "w") as f:
        f.write('{"bogus": {"value": "eA==", "version": 999}}')
    kv2 = KVStore(workdir)  # post-crash open
    assert kv2.get(b"a") == (b"1", 1)  # reads resolve via manifest only
    kv2.put(b"c", b"3")  # the fresh open's first commit sweeps the orphan
    assert not os.path.exists(orphan)
    assert kv2.get(b"c")[1] == 3


def test_adaptive_reshard_grows_buckets_and_preserves_data(workdir):
    """Once the keyspace crosses KV_RESHARD_AT entries/bucket on
    average, committing txns grow the bucket count by linear-hashing
    splits (r12; the r11 wholesale rewrite made the trigger put pay the
    whole keyspace — 3.5 s at 524k keys).  A bulk load catches up fully
    inside its own commit; data, versions, range scans, and point reads
    must all survive the rehash, including from a FRESH store handle
    (the (nshards, next) pair travels in the manifest, not the
    object)."""
    import json
    import os

    from elastic_stream_spark.kv import (
        KV_RESHARD_AT,
        KV_RESHARD_FACTOR,
        KV_SHARDS,
    )

    kv = KVStore(workdir)
    n = KV_RESHARD_AT * KV_SHARDS + 7  # just past the trigger
    with kv._txn() as st:
        for i in range(n):
            st.set_entry(f"k:{i:07d}".encode(), b"v%d" % i)
    with open(os.path.join(workdir, "kv-meta.json")) as f:
        meta = json.load(f)
    eff = meta["nshards"] + meta["next"] * (KV_RESHARD_FACTOR - 1)
    assert eff > KV_SHARDS  # grew past the base round
    assert n < KV_RESHARD_AT * eff  # caught up: occupancy back under trigger
    assert meta["n"] == n
    # reads (fresh handle — manifest-driven hashing)
    kv2 = KVStore(workdir)
    assert kv2.get(b"k:0000000") == (b"v0", 1)
    assert kv2.get(b"k:%07d" % (n - 1))[0] == b"v%d" % (n - 1)
    items, _ = kv2.range(b"k:0000000", prefix_end(b"k:000000"))
    assert len(items) == 10  # k:0000000 .. k:0000009
    # post-reshard writes land in the resharded layout and stay visible
    rev = kv2.put(b"k:0000000", b"updated")
    assert kv2.get(b"k:0000000") == (b"updated", rev)
    # delete_range still spans the whole (resharded) keyspace
    deleted = kv2.delete_range(b"k:0000001", prefix_end(b"k:000000"))
    assert deleted == 9
    assert kv2.get(b"k:0000005") is None
    with open(os.path.join(workdir, "kv-meta.json")) as f:
        meta2 = json.load(f)
    assert meta2["n"] == n - 9


def test_split_commits_are_incremental(workdir):
    """The r11 VERDICT flagged the wholesale reshard's trigger put (it
    rewrote the entire keyspace: 876 ms at 131k keys, 3.5 s at 524k).
    Under linear hashing a SINGLE put's commit may rewrite at most: its
    own bucket + one split (the parent and its ≤FACTOR-1 fresh children)
    — pin that bound structurally by diffing the manifest's generation
    map across every put while growing through a split trigger."""
    import json
    import os

    from elastic_stream_spark.kv import KV_RESHARD_AT, KV_RESHARD_FACTOR

    kv = KVStore(workdir)
    # preload to just under the first trigger (256 buckets x 512)
    n = KV_RESHARD_AT * 256 - 2
    with kv._txn() as st:
        for i in range(n):
            st.set_entry(f"k:{i:07d}".encode(), b"v")

    def gens() -> dict:
        with open(os.path.join(workdir, "kv-meta.json")) as f:
            m = json.load(f)
        return m, dict(m["shards"])

    meta0, prev = gens()
    assert meta0["next"] == 0  # still pre-split
    split_seen = 0
    for i in range(8):  # crosses the trigger within the first few puts
        kv.put(f"grow:{i}".encode(), b"v")
        meta, cur = gens()
        changed = {b for b in cur if cur.get(b) != prev.get(b)}
        changed |= set(prev) - set(cur)
        # bound: the put's own bucket + parent + (FACTOR-1) children
        assert len(changed) <= 1 + KV_RESHARD_FACTOR, (i, sorted(changed))
        if meta["next"] > meta0["next"]:
            split_seen += 1
        prev = cur
    assert split_seen >= 1  # the trigger actually fired inside the loop
    # and the data survived the splits
    assert kv.get(b"k:0000000") == (b"v", 1)
    assert kv.get(b"grow:0") is not None


def test_failed_commit_rearms_orphan_sweep(workdir):
    """r11 ADVICE: the orphan sweep latched once per open, so a commit
    that died AFTER writing shard generations but BEFORE the manifest
    swap leaked those files for the rest of a long-lived process.  Crash
    a commit mid-way by injecting a manifest-write failure, then verify:
    the store still serves the pre-crash state (rename is the commit
    point), the orphan generation files exist, and the SAME handle's
    next successful commit — not just a fresh open — reclaims them."""
    import os

    kv = KVStore(workdir)
    kv.put(b"a", b"1")
    kv.put(b"b", b"2")
    assert kv._swept  # the open's first commit ran its sweep

    real_write = kv._write_file

    def exploding_write(name, payload):
        if name == "kv-meta.json":
            raise OSError("disk full (injected)")
        real_write(name, payload)

    kv._write_file = exploding_write
    try:
        kv.put(b"c", b"3")
    except OSError:
        pass
    else:
        raise AssertionError("injected failure did not propagate")
    finally:
        kv._write_file = real_write

    # rename-is-commit-point: the failed put is invisible...
    assert kv.get(b"c") is None
    assert kv.get(b"a") == (b"1", 1)
    # ...but its shard generation was written and is now an orphan,
    # and the failure re-armed the sweep
    orphans = {
        fn
        for fn in os.listdir(workdir)
        if fn.startswith("kv-shard-")
        and fn not in {
            KVStore._shard_filename(b, g)
            for b, g in kv._read_meta()["shards"].items()
        }
    }
    assert orphans
    assert not kv._swept
    kv.put(b"d", b"4")  # same handle's next commit sweeps
    live = {
        KVStore._shard_filename(b, g)
        for b, g in kv._read_meta()["shards"].items()
    }
    for fn in orphans:
        assert fn not in live and not os.path.exists(os.path.join(workdir, fn))
    # the crashed txn's revision bump never committed, so the next
    # successful mutation takes revision 3 — no gap in the committed
    # revision sequence
    assert kv.get(b"d") == (b"4", 3)


def test_occupancy_tracks_trigger_under_organic_growth(workdir):
    """The split budget (one bucket per KV_RESHARD_AT inserted entries,
    min 1 per commit) must keep pace with single-put organic growth:
    after EVERY commit the average occupancy may exceed the trigger by
    at most the entries one commit can add before its own split lands.
    With shrunken constants, grow through several full rounds and check
    the invariant at each step."""
    import json
    import os

    import elastic_stream_spark.kv as kvmod

    saved = (kvmod.KV_SHARDS, kvmod.KV_RESHARD_AT, kvmod.KV_MAX_SHARDS)
    kvmod.KV_SHARDS, kvmod.KV_RESHARD_AT, kvmod.KV_MAX_SHARDS = 4, 4, 256
    try:
        kv = KVStore(workdir)
        for i in range(600):  # 4 buckets -> well past two x4 rounds
            kv.put(f"k:{i:05d}".encode(), b"v")
            with open(os.path.join(workdir, "kv-meta.json")) as f:
                meta = json.load(f)
            eff = meta["nshards"] + meta["next"] * (
                kvmod.KV_RESHARD_FACTOR - 1
            )
            assert meta["n"] <= kvmod.KV_RESHARD_AT * eff + 1, (
                i,
                meta["n"],
                eff,
            )
        assert meta["nshards"] >= 64  # really crossed >= 2 round boundaries
        # data integrity after hundreds of splits
        assert kv.get(b"k:00000") == (b"v", 1)
        assert kv.get(b"k:00599") is not None
    finally:
        kvmod.KV_SHARDS, kvmod.KV_RESHARD_AT, kvmod.KV_MAX_SHARDS = saved


def test_cross_process_cas_serializes(workdir):
    """The linearizability claim (kv.py module docstring: transactions
    serialize through the driver-side fcntl lock, the same
    single-coordinator role as the reference's etcd-leader PD) tested
    ACROSS PROCESSES: 4 workers bump a shared counter 40 times each via
    CAS-retry.  Every increment must land exactly once (no lost
    updates), and the revision must reflect exactly the successful
    mutations."""
    import json
    import multiprocessing as mp
    import os

    N_PROCS, N_INCR = 4, 40

    def worker(root: str, n: int) -> None:
        kv = KVStore(root)
        for _ in range(n):
            while True:
                got = kv.get(b"counter")
                cur, ver = (int(got[0]), got[1]) if got else (0, 0)
                if kv.cas(b"counter", ver, str(cur + 1).encode()):
                    break

    ctx = mp.get_context("fork")
    procs = [
        ctx.Process(target=worker, args=(workdir, N_INCR))
        for _ in range(N_PROCS)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0
    kv = KVStore(workdir)
    val, ver = kv.get(b"counter")
    assert int(val) == N_PROCS * N_INCR  # no lost update, no double-apply
    with open(os.path.join(workdir, "kv-meta.json")) as f:
        meta = json.load(f)
    # exactly one revision per successful CAS (failed CAS txns are
    # read-only and must not bump the revision)
    assert meta["revision"] == N_PROCS * N_INCR == ver


def test_readers_resolve_during_concurrent_splits(workdir):
    """Lock-free point reads stay consistent while a concurrent writer
    grows the store through split triggers: the reader must always
    resolve (manifest-churn retry) and never see a missing or stale
    value for keys written before it started."""
    import multiprocessing as mp

    from elastic_stream_spark.kv import KV_RESHARD_AT

    kv = KVStore(workdir)
    base = KV_RESHARD_AT * 256 - 50  # just under the first split trigger
    with kv._txn() as st:
        for i in range(base):
            st.set_entry(f"k:{i:07d}".encode(), b"v")

    def writer(root: str) -> None:
        w = KVStore(root)
        for i in range(300):  # crosses several split commits
            w.put(f"grow:{i:04d}".encode(), b"g")

    def reader(root: str, q) -> None:
        r = KVStore(root)
        try:
            for i in range(600):
                k = f"k:{(i * 131) % base:07d}".encode()
                got = r.get(k)
                assert got is not None and got[0] == b"v", k
            q.put("ok")
        except BaseException as e:  # surfaced to the asserting parent
            q.put(f"reader failed: {e!r}")

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    pw = ctx.Process(target=writer, args=(workdir,))
    pr = ctx.Process(target=reader, args=(workdir, q))
    pr.start(); pw.start()
    pw.join(120); pr.join(120)
    assert pw.exitcode == 0 and pr.exitcode == 0
    assert q.get(timeout=10) == "ok"
    meta = kv._read_meta()
    assert meta["next"] > 0  # the writer really split mid-read


def test_reshard_crash_window_leaves_store_unchanged(workdir):
    """A crash AFTER the reshard wrote its new-generation bucket files
    but BEFORE the manifest swap must leave the store serving the old
    generation unchanged; the next open's first commit sweeps the
    orphaned new-generation files."""
    import json
    import os

    from elastic_stream_spark.kv import KVStore as KV

    kv = KV(workdir)
    for i in range(20):
        kv.put(f"k:{i:03d}".encode(), b"v%d" % i)
    with open(os.path.join(workdir, "kv-meta.json")) as f:
        meta_before = json.load(f)
    # simulate the reshard crash window: new-nshards generation files on
    # disk, manifest still pointing at the old generation
    for b in ("001", "3ff", "fff"):
        with open(os.path.join(workdir, f"kv-shard-{b}.000000099999.json"), "w") as f:
            f.write('{"bogus": {"value": "eA==", "version": 9}}')
    kv2 = KV(workdir)  # post-crash open
    assert kv2.get(b"k:000") == (b"v0", 1)
    items, _ = kv2.range(b"k:", prefix_end(b"k:"))
    assert len(items) == 20  # snapshot resolves via the old manifest only
    kv2.put(b"k:020", b"new")  # first commit sweeps the orphans
    for b in ("001", "3ff", "fff"):
        assert not os.path.exists(
            os.path.join(workdir, f"kv-shard-{b}.000000099999.json")
        )
    with open(os.path.join(workdir, "kv-meta.json")) as f:
        meta_after = json.load(f)
    assert meta_after["nshards"] == meta_before["nshards"]
    assert meta_after["n"] == 21


def test_store_refuses_foreign_formats(workdir):
    """The store reads one on-disk format.  A root whose manifest
    carries another placement layout, or that holds a bare monolithic
    ``kv.json`` with no manifest, must raise ValueError naming the file
    on read and on write — never read as an empty store or look keys up
    in the wrong buckets."""
    import base64
    import json
    import os

    import pytest

    enc = lambda b: base64.b64encode(b).decode()
    # a range-partitioned manifest: one bucket "o000" holding key b"a"
    ordered = os.path.join(workdir, "ordered")
    os.makedirs(ordered)
    with open(os.path.join(ordered, "kv-shard-o000.000000000001.json"), "w") as f:
        json.dump({enc(b"a"): {"value": enc(b"1"), "version": 1}}, f)
    with open(os.path.join(ordered, "kv-meta.json"), "w") as f:
        json.dump(
            {
                "revision": 1,
                "shards": {"o000": 1},
                "n": 1,
                "layout": "ordered",
                "onext": 1,
            },
            f,
        )
    # a pre-shard monolithic snapshot, no manifest
    legacy = os.path.join(workdir, "legacy")
    os.makedirs(legacy)
    with open(os.path.join(legacy, "kv.json"), "w") as f:
        json.dump(
            {"revision": 7, "data": {enc(b"a"): {"value": enc(b"1"), "version": 3}}},
            f,
        )
    for root, fname in ((ordered, "kv-meta.json"), (legacy, "kv.json")):
        kv = KVStore(root)
        for op in (
            lambda: kv.get(b"a"),
            lambda: kv.range(b"", KVStore.FROM_KEY),
            lambda: kv.put(b"b", b"2"),
        ):
            with pytest.raises(ValueError, match=fname):
                op()
    # nothing was rewritten or swept
    assert os.path.exists(os.path.join(legacy, "kv.json"))
    assert not os.path.exists(os.path.join(legacy, "kv-meta.json"))
    assert os.path.exists(
        os.path.join(ordered, "kv-shard-o000.000000000001.json")
    )
