"""Property-style invariant tests — the Spark-world stand-in for the
reference's TLA+ spec (docs/tlaplus/ElasticStream.tla: single-stream
lifetime, write/ack quorums, fencing, recovery — SURVEY.md §5).

The replication quorum machinery is replaced by storage durability here,
so the invariants that survive are the metadata-plane ones: offset-space
partitioning by ranges, monotonicity of trim/next_offset/revision, seal
fencing, and KV linearizability against a model.  All driver-side (no
Spark jobs), so hypothesis can run many random schedules quickly.
"""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from elastic_stream_spark.catalog import (
    SealedRange,
    StreamCatalog,
)
from elastic_stream_spark.kv import KVStore

# A random schedule of metadata ops: ("reserve", n) / ("seal",) / ("trim", frac)
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("reserve"), st.integers(min_value=1, max_value=50)),
        st.tuples(st.just("seal")),
        st.tuples(st.just("trim"), st.floats(min_value=0.0, max_value=1.0)),
    ),
    min_size=1,
    max_size=30,
)


def _check_range_invariants(cat: StreamCatalog, sid: int) -> None:
    """The offset space [start_offset, next_offset) is exactly partitioned
    by the live ranges, in order, with at most one (terminal) mutable
    range — the metadata-plane core of the TLA+ stream-lifetime spec."""
    s = cat.describe_stream(sid)
    ranges = cat.list_ranges(sid)
    assert s.start_offset <= s.next_offset
    assert ranges, "a live stream always has at least one range"
    # indices strictly increasing; starts non-decreasing and contiguous
    for a, b in zip(ranges, ranges[1:]):
        assert a.range_index < b.range_index
        assert a.sealed and a.end is not None, "only the last range is mutable"
        assert a.end == b.start, "ranges tile the offset space with no gap"
    first, last = ranges[0], ranges[-1]
    assert first.start == s.start_offset
    if last.sealed:
        assert last.end == s.next_offset
    else:
        assert last.end is None
        assert last.start <= s.next_offset
    # every sealed range is non-empty after trim shrinkage
    for r in ranges[:-1]:
        assert r.start <= r.end


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(ops=_OPS)
def test_catalog_offset_space_invariants(ops):
    with tempfile.TemporaryDirectory(prefix="ess-prop-") as root:
        cat = StreamCatalog(root)
        sid = cat.create_stream().stream_id
        epoch = 0
        appended = 0  # model: total offsets ever reserved
        trimmed = 0  # model: current trim horizon
        last_rev = cat.revision
        for op in ops:
            if op[0] == "reserve":
                base, _ = cat.reserve_offsets(sid, op[1], epoch=epoch)
                assert base == appended, "reservations are gap-free, in order"
                appended += op[1]
            elif op[0] == "seal":
                try:
                    cat.seal_range(sid, epoch=epoch)
                    epoch += 1
                except SealedRange:
                    # sealing an empty just-opened range twice in a row is
                    # impossible only in the terminal state, which this
                    # schedule never constructs
                    raise
            else:  # trim to a fraction of the appended space
                target = int(op[1] * appended)
                if target > appended:
                    continue
                cat.trim_stream(sid, target)
                trimmed = max(trimmed, target)
            s = cat.describe_stream(sid)
            assert s.next_offset == appended, "next_offset == total reserved"
            assert s.start_offset == trimmed, "trim is monotone"
            _check_range_invariants(cat, sid)
            assert cat.revision >= last_rev, "revision is monotone"
            last_rev = cat.revision


_KV_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("put"), st.integers(0, 5), st.integers(0, 99)),
        st.tuples(st.just("delete"), st.integers(0, 5)),
        st.tuples(st.just("cas_blind"), st.integers(0, 5), st.integers(0, 99)),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(ops=_KV_OPS)
def test_kv_matches_model(ops):
    """Model-based check: the KV store agrees with a plain dict under any
    schedule of put/delete/CAS; CAS succeeds iff the presented version is
    current (the etcd Txn compare semantics, rpc.fbs:788-819)."""
    with tempfile.TemporaryDirectory(prefix="ess-kvprop-") as root:
        kv = KVStore(root)
        model: dict[bytes, bytes] = {}
        for op in ops:
            key = f"k{op[1]}".encode()
            if op[0] == "put":
                val = f"v{op[2]}".encode()
                kv.put(key, val)
                model[key] = val
            elif op[0] == "delete":
                kv.delete_range(key, key + b"\x00")
                model.pop(key, None)
            else:  # cas against the CURRENT version — must succeed
                ent = kv.get(key)
                version = ent[1] if ent else 0
                val = f"c{op[2]}".encode()
                assert kv.cas(key, version, val)
                model[key] = val
                # a replay of the same CAS (stale version) must now fail
                if version != 0:
                    assert not kv.cas(key, version, b"zombie")
            got = kv.get(key)
            assert (got[0] if got else None) == model.get(key)
        # full range scan agrees with the model
        items, more = kv.range(b"", KVStore.FROM_KEY)
        assert not more
        assert {k: v for k, v, _ in items} == model


@settings(max_examples=300, deadline=None)
@given(
    backlog=st.dictionaries(
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=20,
    ),
    budget=st.integers(min_value=1, max_value=50_000),
)
def test_fair_split_invariants(backlog, budget):
    """Multi-stream admission allocator (streaming/datasource.py):
    (1) total admitted == min(budget, total backlog);
    (2) 0 <= admitted[s] <= backlog[s] per stream;
    (3) work-conserving: a stream left with backlog implies the whole
        budget was spent;
    (4) fairness floor: when every stream has enough backlog, nobody gets
        less than floor(budget / n_streams)."""
    from elastic_stream_spark.streaming.datasource import fair_split

    admitted = fair_split(backlog, budget)
    assert set(admitted) == set(backlog)
    total = sum(admitted.values())
    assert total == min(budget, sum(backlog.values()))
    for s, a in admitted.items():
        assert 0 <= a <= backlog[s]
    if total < sum(backlog.values()):
        assert total == budget
    n = len(backlog)
    floor_share = budget // n
    if floor_share and all(b >= floor_share for b in backlog.values()):
        assert all(a >= floor_share for a in admitted.values()), admitted


@settings(max_examples=300, deadline=None)
@given(
    stream=st.lists(
        st.sampled_from([f"k{i}" for i in range(20)]), min_size=1, max_size=400
    ),
    capacity=st.integers(min_value=2, max_value=12),
    n_batches=st.integers(min_value=1, max_value=5),
)
def test_space_saving_sketch_invariants(stream, capacity, n_batches):
    """Space-saving sketch (streaming/stateful.py — Metwally et al.):
    for ANY key order, batch split, and capacity (including capacity
    well below the vocabulary):
    (1) the table never exceeds capacity;
    (2) est_count - err <= true_count <= est_count for every tracked key;
    (3) any key whose true count exceeds the minimum tracked counter is
        guaranteed present (the top-k guarantee);
    (4) at capacity >= vocabulary the sketch IS the exact count table
        with zero error — the property the batch replay gate query
        relies on."""
    from collections import Counter

    import pandas as pd

    from elastic_stream_spark.streaming.stateful import space_saving_update

    truth = Counter(stream)
    table: dict[str, list[int]] = {}
    # fold in n_batches chunks to exercise cross-batch accumulation
    size = max(1, len(stream) // n_batches)
    for i in range(0, len(stream), size):
        chunk = stream[i : i + size]
        space_saving_update(table, pd.Series(chunk).value_counts(), capacity)

    assert len(table) <= capacity
    for k, (est, err) in table.items():
        assert est >= truth[k], (k, est, truth[k])
        assert est - err <= truth[k], (k, est, err, truth[k])
    if table:
        min_tracked = min(v[0] for v in table.values())
        for k, true in truth.items():
            if true > min_tracked:
                assert k in table, (k, true, min_tracked)
    if capacity >= len(truth):
        assert {k: v[0] for k, v in table.items()} == dict(truth)
        assert all(v[1] == 0 for v in table.values())


# ---- largest-remainder (Hamilton) allocation model --------------------
# Pure-python mirror of curation._hamilton_doc_alloc / epoch_schedule's
# integer arithmetic: base = (budget*n_s) div N, bonus to the top
# leftover remainders (ties by source name).  Property-tested here;
# tests/test_operators.py cross-checks the Spark implementation against
# the same rules on the fixture.


def _hamilton_model(counts: dict[str, int], budget: int) -> dict[str, int]:
    n_total = sum(counts.values())
    base = {s: (budget * n) // n_total for s, n in counts.items()}
    rem = {s: (budget * n) % n_total for s, n in counts.items()}
    leftover = budget - sum(base.values())
    winners = sorted(counts, key=lambda s: (-rem[s], s))[:leftover]
    return {s: base[s] + (1 if s in winners else 0) for s in counts}


@given(
    st.dictionaries(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        st.integers(min_value=1, max_value=10_000),
        min_size=1,
        max_size=20,
    ),
    st.data(),
)
@settings(max_examples=300, deadline=None)
def test_hamilton_allocation_invariants(counts, data):
    """For any per-source doc counts and any budget < N: Σ alloc ==
    budget exactly; every alloc within 1 of the exact proportional
    share; and alloc_s <= n_s (the draw-count contract epoch_sample's
    docstring proves — checked here across the whole space, not just
    the fixture)."""
    n_total = sum(counts.values())
    budget = data.draw(st.integers(min_value=0, max_value=n_total - 1))
    alloc = _hamilton_model(counts, budget)
    assert sum(alloc.values()) == budget
    for s, n in counts.items():
        exact = budget * n / n_total
        assert exact - 1 < alloc[s] < exact + 1
        assert alloc[s] <= n


_KV_RESHARD_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("put"), st.integers(0, 99), st.integers(0, 99)),
        st.tuples(st.just("delete"), st.integers(0, 99), st.just(0)),
        # prefix scan / prefix delete over a 10-key decimal prefix
        st.tuples(st.just("span"), st.integers(0, 9), st.just(0)),
        st.tuples(st.just("delspan"), st.integers(0, 9), st.just(0)),
        # a version-guarded put at the current version, retried at the
        # now-stale version (must fail without bumping the revision)
        st.tuples(st.just("cas"), st.integers(0, 99), st.integers(0, 99)),
    ),
    min_size=20,
    max_size=120,
)


@settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(ops=_KV_RESHARD_OPS)
def test_kv_matches_model_across_reshards(ops):
    """Adaptive growth (linear-hash splits) is invisible to clients:
    with the shard constants shrunk so any dense schedule crosses at
    least one split boundary, the store agrees with a plain dict model
    (values and versions) after every put / point-delete / prefix-scan /
    prefix-delete / CAS, a stale CAS fails without bumping the revision,
    the full range scan matches, and the manifest's entry count stays
    exact."""
    import json
    import os

    import elastic_stream_spark.kv as kvmod
    from elastic_stream_spark.kv import prefix_end

    saved = (kvmod.KV_SHARDS, kvmod.KV_RESHARD_AT, kvmod.KV_MAX_SHARDS)
    kvmod.KV_SHARDS, kvmod.KV_RESHARD_AT, kvmod.KV_MAX_SHARDS = 4, 4, 64
    try:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        with tempfile.TemporaryDirectory(prefix="ess-kvresh-", dir=base) as root:
            kv = KVStore(root)
            model: dict[bytes, tuple[bytes, int]] = {}  # key -> (value, version)
            rev = 0  # model revision: +1 per mutating op
            for op in ops:
                kind = op[0]
                if kind in ("span", "delspan"):
                    pre = f"k{op[1]:02d}".encode()
                    hit = sorted(k for k in model if k.startswith(pre))
                    if kind == "span":
                        items, more = kv.range(pre, prefix_end(pre))
                        assert not more
                        assert items == [(k, *model[k]) for k in hit]
                    else:
                        assert kv.delete_range(pre, prefix_end(pre)) == len(hit)
                        for k in hit:
                            del model[k]
                        rev += bool(hit)
                    continue
                key = f"k{op[1]:04d}".encode()
                if kind == "put":
                    val = f"v{op[2]}".encode()
                    rev += 1
                    assert kv.put(key, val) == rev
                    model[key] = (val, rev)
                elif kind == "delete":
                    assert kv.delete_range(key, key + b"\x00") == (key in model)
                    rev += key in model
                    model.pop(key, None)
                else:  # cas at the current version, then at the stale one
                    ver = model[key][1] if key in model else 0
                    val = f"c{op[2]}".encode()
                    assert kv.cas(key, ver, val)
                    rev += 1
                    model[key] = (val, rev)
                    assert not kv.cas(key, ver, b"stale")
                    assert kv._read_meta()["revision"] == rev
                assert kv.get(key) == model.get(key)
            items, more = kv.range(b"", KVStore.FROM_KEY)
            assert not more
            assert items == [(k, *model[k]) for k in sorted(model)]
            with open(os.path.join(root, "kv-meta.json")) as f:
                meta = json.load(f)
            assert meta["revision"] == rev
            assert meta["n"] == len(model)
            if len(model) >= 16:  # crossed the shrunken threshold
                eff = meta["nshards"] + meta["next"] * (
                    kvmod.KV_RESHARD_FACTOR - 1
                )
                assert eff > 4  # grew past the shrunken base round
    finally:
        kvmod.KV_SHARDS, kvmod.KV_RESHARD_AT, kvmod.KV_MAX_SHARDS = saved
