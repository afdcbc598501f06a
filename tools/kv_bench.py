"""KV put-latency micro-bench: flat-vs-keyspace evidence for the sharded
store (r6 VERDICT next-round item 2; r11 added the adaptive growth, r12
the worst-single-put column).

Per keyspace size: preload N keys in one txn (whose commit performs the
full linear-hash catch-up, so probes measure the steady state a store
grown to N serves), then

- PROBES single-key updates → p50/p90 steady-state put latency;
- GROWTH single-key INSERTS → the same percentiles plus the MAX.  Note
  the trigger arithmetic: below 131,072 keys (512 × 256 buckets) NO
  split can fire, so the 1k/10k/100k worst_insert_ms is the plain
  fsync tail; only the 1M point's growth phase pays real splits
  (~1 per 1,536 inserts);
- SPLIT-TRIGGER spikes → the direct measurement of the put that pays a
  bucket split at each round boundary: preload to one key under the
  boundary, then time puts until the split pointer advances.  This is
  the number that was 876 ms (131k keys) / 3.5 s (524k keys) under
  r11's wholesale reshard — linear hashing bounds it to one bucket
  rewrite (split_trigger_put_ms per boundary).

Usage: python tools/kv_bench.py [--json OUT.json]
"""

from __future__ import annotations

import json
import os
import shutil
import gc
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elastic_stream_spark.kv import (  # noqa: E402
    KV_RESHARD_AT,
    KV_RESHARD_FACTOR,
    KV_SHARDS,
    KVStore,
)

SIZES = [1_000, 10_000, 100_000, 1_000_000]
PROBES = 200
GROWTH = 2_000  # fresh inserts (splits fire only at the 1M point; see doc)
VALUE = b"v" * 64

# Round boundaries where a put triggers a split at the prior constants'
# wholesale-reshard points: 512·256 and 512·1024 keys.
SPIKE_BOUNDARIES = [512 * 256, 512 * 1024]


def _stats(lat: list[float]) -> tuple[float, float, float]:
    lat = sorted(lat)
    return (
        round(statistics.median(lat), 3),
        round(lat[int(len(lat) * 0.9)], 3),
        round(lat[-1], 3),
    )


def bench_size(n: int) -> dict:
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix="kvbench-", dir=base)
    try:
        kv = KVStore(root)
        with kv._txn() as st:
            for i in range(n):
                st.set_entry(f"key:{i:08d}".encode(), VALUE)
        del st  # release the bulk-load state BEFORE probing: it holds the
        gc.collect()  # whole keyspace, and gen-2 scans of it would charge
        # ~100 ms harness-GC pauses to store puts
        # steady-state updates (no keyspace growth, no splits)
        upd = []
        for i in range(PROBES):
            k = f"key:{i * (n // PROBES):08d}".encode()
            t0 = time.perf_counter()
            kv.put(k, VALUE + str(i).encode())
            upd.append((time.perf_counter() - t0) * 1000)
        # growing inserts (includes the split-paying puts)
        ins = []
        for i in range(GROWTH):
            t0 = time.perf_counter()
            kv.put(f"grow:{i:08d}".encode(), VALUE)
            ins.append((time.perf_counter() - t0) * 1000)
        meta = kv._read_meta()
        nshards = meta["nshards"]
        nextp = meta["next"]
        eff = nshards + nextp * (KV_RESHARD_FACTOR - 1)
        u50, u90, _ = _stats(upd)
        i50, i90, imax = _stats(ins)
        return {
            "keys": n,
            "put_ms_p50": u50,
            "put_ms_p90": u90,
            "insert_ms_p50": i50,
            "insert_ms_p90": i90,
            "worst_insert_ms": imax,
            "buckets": eff,
            "round_nshards": nshards,
            "split_next": nextp,
            "bucket_entries": (n + GROWTH) // eff,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def spike_point(boundary: int) -> dict:
    """Preload to one key under a split boundary, then time single puts
    until the split pointer advances — the direct cost of the put that
    pays a bucket split at that keyspace size."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix="kvspike-", dir=base)
    try:
        kv = KVStore(root)
        with kv._txn() as st:
            for i in range(boundary - 1):
                st.set_entry(f"key:{i:08d}".encode(), VALUE)
        del st
        gc.collect()  # same harness-GC hygiene as bench_size
        before = kv._read_meta()
        nextp0 = before["next"]
        ns0 = before["nshards"]
        for i in range(10):
            t0 = time.perf_counter()
            kv.put(f"spike:{i:02d}".encode(), VALUE)
            dt = (time.perf_counter() - t0) * 1000
            m = kv._read_meta()
            if (m["nshards"], m["next"]) != (ns0, nextp0):
                return {
                    "boundary_keys": boundary,
                    "split_trigger_put_ms": round(dt, 3),
                    "puts_until_split": i + 1,
                }
        raise RuntimeError(f"no split fired within 10 puts at {boundary}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    from bench import _canary_bench

    out = {
        # same-window host reading (bench.py canary): put/scan numbers
        # across rounds are only comparable modulo this denominator
        "canary": _canary_bench(),
        "initial_shards": KV_SHARDS,
        "reshard_at": KV_RESHARD_AT,
        "probes": PROBES,
        "growth_inserts": GROWTH,
        "points": [bench_size(n) for n in SIZES],
        "split_spikes": [spike_point(b) for b in SPIKE_BOUNDARIES],
    }
    p50 = {p["keys"]: p["put_ms_p50"] for p in out["points"]}
    out["p50_growth_100x_keys"] = round(p50[100_000] / p50[1_000], 2)
    out["p50_growth_1000x_keys"] = round(p50[1_000_000] / p50[1_000], 2)
    out["worst_insert_ms_any_size"] = max(
        p["worst_insert_ms"] for p in out["points"]
    )
    out["worst_split_trigger_put_ms"] = max(
        s["split_trigger_put_ms"] for s in out["split_spikes"]
    )
    line = json.dumps(out)
    print(line)
    for a in sys.argv[1:]:
        if a.startswith("--json"):
            path = a.split("=", 1)[1] if "=" in a else "KV_BENCH.json"
            with open(path, "w") as f:
                f.write(line + "\n")


if __name__ == "__main__":
    main()
