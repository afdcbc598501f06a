"""etcd-style KV metadata store with Range/Put/DeleteRange/Txn(CAS).

Reference parity: components/protocol/fbs/rpc.fbs:780-931 (KV + Txn ops),
Java surface sdks/frontend-java/.../api/KVClient.java:9-32, and the
list/watch resource conventions rpc.fbs:691-778.

Semantics preserved from the reference:
- keys/values are opaque bytes; range scans are ``[key, range_end)`` with
  the etcd prefix convention (range_end = key with last byte + 1) and the
  from-key convention (range_end = b"\\0" means "all keys >= key").
- every successful mutation bumps a global revision; each key carries the
  revision of its last modification (``version``).
- Txn: evaluate ``compare`` predicates against current state; if all hold,
  apply ``success`` ops, else ``failure`` ops — atomically.

Linearizability (SURVEY.md §7 hard-part 5): transactions are serialized
through a driver-side file lock — same single-coordinator role as the
reference's etcd-leader PD.

Storage is HASH-SHARDED, like the stream catalog (catalog.py:18-26) and
for the same reason the reference's PD keeps its KV in etcd's B-tree with
per-key writes (pd/pkg/server/storage/kv/etcd.go): a monolithic JSON
snapshot pays O(keyspace) per put (measured 38 ms/op at just 1k entries
for the catalog's equivalent).  Keys hash into bucket files; one put
rewrites one bucket (O(keyspace / buckets)) plus the small manifest, and
the fsync dominates — put latency stays flat as the keyspace grows
(tools/kv_bench.py records the curve).  The bucket count grows by
linear-hashing splits (see ``KV_RESHARD_AT``).

Commit protocol (atomic across shards, crash-safe):
1. take the ``fcntl`` lock; load the manifest (``kv-meta.json``:
   revision, entry count, the linear-hash ``(nshards, next)`` pair, and
   the generation of every non-empty bucket);
2. mutate in memory, lazily loading only the buckets the ops touch;
3. write each dirty bucket to a NEW generation file
   ``kv-shard-<bucket>.<rev>.json`` (tempfile + fsync + rename);
4. atomically replace the manifest pointing at the new generation —
   THE commit point (one rename makes a multi-bucket Txn atomic);
5. unlink the replaced generation files (GC; a crash before this leaves
   orphans that the next committer sweeps).
Lock-free readers resolve manifest → bucket file; if a concurrent
committer GC'd the file between those two reads, the reader re-reads the
manifest and retries (the new generation is always resolvable).

Known limit: point ops read one bucket, but span scans (Range with a
``range_end``) and DeleteRange read EVERY bucket, because any key can
hash anywhere.  ``KV_BENCH.json`` ``span_scan_ab`` records a 100-key
prefix scan at 1M keys at 3.7 s (DeleteRange of 100 keys 2.3 s).  The
store's traffic is point gets and CAS (sink batch markers) plus scans
over stores of tens of keys, where this costs nothing measurable.

On-disk input is checked: a manifest that is not this layout (a
``layout`` field, or no ``n``/``nshards``/``next``) and a root holding a
bare monolithic ``kv.json`` with no manifest raise ``ValueError`` naming
the file, rather than reading as an empty store or with keys looked up
in the wrong buckets.
"""

from __future__ import annotations

import base64
import fcntl
import json
import os
import tempfile
import zlib
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# 256 buckets: at 100k keys a bucket holds ~400 entries (~40 KB JSON) —
# small enough that per-put latency is fsync/flock-dominated, not
# serialization-dominated (tools/kv_bench.py records the curve); at the
# metadata scales this store serves (markers, allocators, sink batch
# state) buckets stay single-digit KB
KV_SHARDS = 256  # initial bucket count

# Growth by LINEAR-HASHING splits: the manifest carries a round size
# (``nshards``) and a split pointer (``next``); key → bucket is
# ``h % nshards``, re-hashed to ``h % (nshards·KV_RESHARD_FACTOR)`` when
# the bucket is below the pointer (already split this round).  While the
# average occupancy is ≥ KV_RESHARD_AT, each committing txn splits ONE
# bucket — the pointer's — into its ≤FACTOR children (O(keyspace /
# buckets), a few ms) per KV_RESHARD_AT entries it inserted, so bulk
# loads catch up inside their own O(txn)-sized commit while single puts
# never pay more than one bucket split (a wholesale reshard's trigger
# put measured 876 ms at 131k keys and 3.5 s at 524k).  When the pointer
# wraps, the round size multiplies by FACTOR, capped at KV_MAX_SHARDS so
# the manifest — rewritten and fsynced on EVERY commit — stays a few
# thousand entries.
KV_RESHARD_AT = 512
KV_RESHARD_FACTOR = 4
KV_MAX_SHARDS = 4096  # = 3 hex digits of bucket id in the filename


# The linear-hashing round wrap multiplies nshards by KV_RESHARD_FACTOR
# whole-sale (_split_one), so the cap is only respected exactly if it
# sits on a round boundary: KV_MAX_SHARDS must be KV_SHARDS times a
# power of KV_RESHARD_FACTOR, or a round in progress overshoots the cap
# and bucket ids exceed the 3-hex-digit filename space.
def _cap_on_round_boundary() -> bool:
    n = KV_MAX_SHARDS
    while n % KV_RESHARD_FACTOR == 0 and n > KV_SHARDS:
        n //= KV_RESHARD_FACTOR
    return n == KV_SHARDS


assert _cap_on_round_boundary(), (
    "KV_MAX_SHARDS must equal KV_SHARDS * KV_RESHARD_FACTOR**k"
)

# manifest fields every commit writes
_META_FIELDS = ("revision", "shards", "n", "nshards", "next")


def prefix_end(key: bytes) -> bytes:
    """etcd prefix convention: smallest key greater than every key with
    this prefix (trailing 0xff bytes are dropped)."""
    k = bytearray(key)
    while k:
        if k[-1] < 0xFF:
            k[-1] += 1
            return bytes(k)
        k.pop()
    return b""  # whole keyspace


@dataclass
class Compare:
    """Txn guard ≙ rpc.fbs Compare: check one key's value or version."""

    key: bytes
    target: str  # "value" | "version" | "exists"
    op: str  # "==" | "!=" | "<" | ">"
    value: bytes | int | bool | None = None


class _State:
    """Mutable view of the store inside one transaction: the manifest
    plus lazily-loaded buckets, with dirty tracking so commit rewrites
    only what changed."""

    def __init__(self, store: "KVStore"):
        self._store = store
        self.meta = store._read_meta()
        self.revision: int = self.meta["revision"]
        self.nshards: int = self.meta["nshards"]
        self.nextp: int = self.meta["next"]  # linear-hash pointer
        # total entry count, maintained incrementally for the split trigger
        self.n: int = self.meta["n"]
        self._buckets: dict[str, dict] = {}
        self._dirty: set[str] = set()

    def bucket(self, b: str) -> dict:
        got = self._buckets.get(b)
        if got is None:
            got = self._store._read_bucket_file(self.meta, b)
            self._buckets[b] = got
        return got

    # ------------------------------------------------------- mutations

    def get_entry(self, key: bytes):
        b = self._store._bucket_of(key, self.nshards, self.nextp)
        return self.bucket(b).get(self._store._enc(key))

    def set_entry(self, key: bytes, value: bytes) -> int:
        self.revision += 1
        b = self._store._bucket_of(key, self.nshards, self.nextp)
        data = self.bucket(b)
        ek = self._store._enc(key)
        if ek not in data:
            self.n += 1
        data[ek] = {
            "value": self._store._enc(value),
            "version": self.revision,
        }
        self._dirty.add(b)
        return self.revision

    def delete_span(self, key: bytes, range_end: bytes | None) -> int:
        n = 0
        # any key can hash anywhere: visit every bucket
        for b in set(self.meta["shards"]) | set(self._buckets):
            data = self.bucket(b)
            victims = [
                ek
                for ek in data
                if KVStore._in_span(self._store._dec(ek), key, range_end)
            ]
            for ek in victims:
                del data[ek]
            if victims:
                self._dirty.add(b)
                n += len(victims)
        if n:
            self.revision += 1
            self.n -= n
        return n


class KVStore:
    FROM_KEY = b"\x00"  # range_end sentinel: "all keys >= key"

    @classmethod
    def _in_span(cls, k: bytes, key: bytes, range_end: bytes | None) -> bool:
        """Span membership for Range/DeleteRange/Txn-delete.  ``b""`` is
        the open-upper-bound sentinel ``prefix_end`` returns for an
        all-0xff key (no byte string sorts above every key), so it must
        mean "all keys >= key" exactly like FROM_KEY — previously the
        generic ``k < b""`` branch matched nothing and such prefix scans
        silently returned/deleted zero keys (caught in review; etcd maps
        this case to the same from-key semantics)."""
        if range_end is None:
            return k == key
        if range_end == cls.FROM_KEY or range_end == b"":
            return k >= key
        return key <= k < range_end

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._meta_path = os.path.join(root, "kv-meta.json")
        self._lock_path = os.path.join(root, "kv.lock")
        self._swept = False  # crash-orphan sweep pending (once per open)

    # ------------------------------------------------------------- state

    @staticmethod
    def _enc(b: bytes) -> str:
        return base64.b64encode(b).decode()

    @staticmethod
    def _dec(s: str) -> bytes:
        return base64.b64decode(s)

    @staticmethod
    def _bucket_of(key: bytes, nshards: int, nextp: int) -> str:
        # crc32: stable across processes/runs (NOT Python hash(), which
        # is salted per process) — the bucket of a key moves only when a
        # committed split advances the manifest's (nshards, next) pair.
        # Linear hashing: buckets below the split pointer have already
        # fanned into the FACTOR× space this round.
        h = zlib.crc32(key)
        b = h % nshards
        if b < nextp:
            b = h % (nshards * KV_RESHARD_FACTOR)
        return f"{b:03x}"

    def _read_meta(self) -> dict:
        """Manifest: {"revision", "shards": {bucket: generation}, "n",
        "nshards", "next"}; a fresh root reads as the empty store.  A
        manifest of another layout, or a monolithic ``kv.json`` with no
        manifest, is refused (see the module docstring)."""
        try:
            with open(self._meta_path) as f:
                meta = json.load(f)
        except FileNotFoundError:
            legacy = os.path.join(self.root, "kv.json")
            if os.path.exists(legacy):
                raise ValueError(
                    f"{legacy}: monolithic KV snapshot with no kv-meta.json; "
                    f"this store reads only the hash-sharded layout"
                ) from None
            return {
                "revision": 0,
                "shards": {},
                "n": 0,
                "nshards": KV_SHARDS,
                "next": 0,
            }
        if "layout" in meta or any(k not in meta for k in _META_FIELDS):
            raise ValueError(
                f"{self._meta_path}: not a hash-sharded KV manifest "
                f"(layout {meta.get('layout')!r}, fields {sorted(meta)})"
            )
        return meta

    @staticmethod
    def _shard_filename(b: str, gen: int) -> str:
        return f"kv-shard-{b}.{gen:012d}.json"

    def _read_bucket_file(self, meta: dict, b: str) -> dict:
        gen = meta["shards"].get(b)
        if gen is None:
            return {}
        with open(os.path.join(self.root, self._shard_filename(b, gen))) as f:
            return json.load(f)

    def _write_file(self, name: str, payload: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix=".kv-")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(payload, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(self.root, name))
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    @contextmanager
    def _txn(self):
        with open(self._lock_path, "a") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            st = _State(self)
            yield st
            try:
                self._commit(st)
            except BaseException:
                # a commit that dies between shard writes and the
                # manifest swap leaves orphan generation files; re-arm
                # the once-per-open sweep so the NEXT commit in this
                # process reclaims them (previously only a fresh open
                # would — a slow disk leak in long-lived processes)
                self._swept = False
                raise

    def _commit(self, st: _State) -> None:
        if not st._dirty and st.revision == st.meta["revision"]:
            return  # read-only txn (e.g. failed CAS with no failure ops)
        self._split_steps(st, max(0, st.n - st.meta["n"]))
        shards = dict(st.meta["shards"])
        replaced: list[str] = []
        for b in sorted(st._dirty):
            data = st._buckets[b]
            prev = shards.get(b)
            if prev is not None:
                replaced.append(self._shard_filename(b, prev))
            if data:
                self._write_file(self._shard_filename(b, st.revision), data)
                shards[b] = st.revision
            else:
                shards.pop(b, None)  # bucket emptied
        # THE commit point: one atomic manifest replace covers every
        # bucket this txn touched
        self._write_file(
            os.path.basename(self._meta_path),
            {
                "revision": st.revision,
                "shards": shards,
                "n": st.n,
                "nshards": st.nshards,
                "next": st.nextp,
            },
        )
        # GC: the replaced generations directly (O(dirty), not
        # O(keyspace)).  Crash ORPHANS (shard writes without a manifest
        # commit) are swept lazily once per store open (_sweep_orphans)
        # — a listdir on EVERY commit is an O(nshards) per-put cost that
        # dominates once a 1M-key store reaches 4096 buckets.
        for fn in replaced:
            p = os.path.join(self.root, fn)
            if os.path.exists(p):
                os.unlink(p)
        self._sweep_orphans(shards)

    def _sweep_orphans(self, shards: dict) -> None:
        """Unlink generation files the manifest does not reference —
        debris from a crash between shard writes and the manifest
        commit, or from a crashed pre-GC window.  Runs once per store
        open (inside the first committing txn, under the lock) and after
        a failed commit; normal commits GC their replaced files
        directly."""
        if self._swept:
            return
        self._swept = True
        live = {self._shard_filename(b, g) for b, g in shards.items()}
        for fn in os.listdir(self.root):
            if fn.startswith("kv-shard-") and fn not in live:
                try:
                    os.unlink(os.path.join(self.root, fn))
                except FileNotFoundError:
                    pass

    def _split_steps(self, st: _State, added: int) -> None:
        """Linear-hashing growth: while the average bucket occupancy is
        at or past the KV_RESHARD_AT trigger, split ONE bucket — the
        pointer's — per KV_RESHARD_AT entries this txn inserted (minimum
        1), in memory; the splits ride the SAME atomic manifest swap as
        the txn's own writes.  A single put therefore pays at most one
        O(keyspace / buckets) bucket rewrite (~ms); a bulk load catches
        up fully inside its own already-O(txn)-sized commit."""
        budget = max(1, -(-added // KV_RESHARD_AT))
        while (
            st.nshards < KV_MAX_SHARDS
            and budget > 0
            and st.n
            >= KV_RESHARD_AT
            * (st.nshards + st.nextp * (KV_RESHARD_FACTOR - 1))
        ):
            self._split_one(st)
            budget -= 1

    def _split_one(self, st: _State) -> None:
        """Split the pointer bucket into its ≤KV_RESHARD_FACTOR children
        under the FACTOR× hash space and advance the pointer (wrapping
        the round: nshards ×= FACTOR, pointer → 0).  Child ids other than
        the parent's own are fresh this round — no prior generation file
        and no staged txn mutation can live there (mutations were placed
        with the txn-start mapping, which never maps a key to an unsplit
        bucket's child) — so plain assignment, not merge, is correct."""
        parent = f"{st.nextp:03x}"
        data = st.bucket(parent)
        big = st.nshards * KV_RESHARD_FACTOR
        kept: dict = {}
        moved: dict[str, dict] = {}
        for ek, ent in data.items():
            b = zlib.crc32(self._dec(ek)) % big
            if b == st.nextp:
                kept[ek] = ent
            else:
                moved.setdefault(f"{b:03x}", {})[ek] = ent
        st._buckets[parent] = kept
        st._dirty.add(parent)
        for cb, cdata in moved.items():
            st._buckets[cb] = cdata
            st._dirty.add(cb)
        st.nextp += 1
        if st.nextp == st.nshards:
            # clamp belt-and-braces: the module-level assert pins the cap
            # to a round boundary, so min() never actually truncates
            st.nshards = min(st.nshards * KV_RESHARD_FACTOR, KV_MAX_SHARDS)
            st.nextp = 0

    def _snapshot(self) -> tuple[int, dict]:
        """Lock-free consistent read of (revision, every entry): resolve
        manifest → bucket files, retrying if a concurrent commit GC'd a
        generation file between the two reads (the new manifest always
        resolves)."""
        for _ in range(64):
            meta = self._read_meta()
            try:
                out: dict = {}
                for b in meta["shards"]:
                    out.update(self._read_bucket_file(meta, b))
                return meta["revision"], out
            except FileNotFoundError:
                continue
        raise RuntimeError("kv snapshot: manifest churn exceeded retries")

    def _get_bucket(self, key: bytes) -> dict:
        """Lock-free single-bucket read (the point-get path): one
        manifest read + one bucket file, O(keyspace / shards).  The
        bucket id is computed from the manifest's OWN ``(nshards, next)``
        pair (a concurrent split moves keys; hashing with a stale pair
        would read the wrong — possibly empty — bucket)."""
        for _ in range(64):
            meta = self._read_meta()
            b = self._bucket_of(key, meta["nshards"], meta["next"])
            try:
                return self._read_bucket_file(meta, b)
            except FileNotFoundError:
                continue
        raise RuntimeError("kv get: manifest churn exceeded retries")

    # --------------------------------------------------------------- ops

    def put(self, key: bytes, value: bytes) -> int:
        """≙ KV Put; returns the new revision.  Writes ONE bucket file +
        the manifest — O(keyspace / KV_SHARDS), fsync-dominated."""
        with self._txn() as st:
            return st.set_entry(key, value)

    def get(self, key: bytes) -> tuple[bytes, int] | None:
        ent = self._get_bucket(key).get(self._enc(key))
        if ent is None:
            return None
        return self._dec(ent["value"]), ent["version"]

    def range(
        self, key: bytes, range_end: bytes | None = None, limit: int = 0
    ) -> tuple[list[tuple[bytes, bytes, int]], bool]:
        """≙ KV Range (rpc.fbs:788-819): ``[key, range_end)`` in key order,
        with ``limit`` and a ``more`` paging flag.  range_end=None → point
        get; b"\\0" → from-key; prefix scans via ``prefix_end(key)``."""
        if range_end is None:
            # point form reads one bucket, not the keyspace
            ent = self._get_bucket(key).get(self._enc(key))
            items = (
                [(key, self._dec(ent["value"]), ent["version"])] if ent else []
            )
        else:
            # span form reads every bucket (module docstring: known limit)
            _, data = self._snapshot()
            items = sorted(
                (self._dec(k), self._dec(v["value"]), v["version"])
                for k, v in data.items()
            )
            items = [it for it in items if self._in_span(it[0], key, range_end)]
        more = bool(limit) and len(items) > limit
        if limit:
            items = items[:limit]
        return items, more

    def delete_range(self, key: bytes, range_end: bytes | None = None) -> int:
        """≙ KV DeleteRange; returns number of deleted keys."""
        with self._txn() as st:
            return st.delete_span(key, range_end)

    def txn(
        self,
        compare: list[Compare],
        success: list[tuple],
        failure: list[tuple] | None = None,
    ) -> tuple[bool, list]:
        """≙ KV Txn (rpc.fbs:879-931): atomic compare-then-ops.

        ops are tuples: ``("put", key, value)``, ``("delete", key, range_end)``,
        ``("get", key)``.  Returns (succeeded, op_results).
        """
        with self._txn() as st:
            ok = all(self._check(st, c) for c in compare)
            results = []
            for op in success if ok else (failure or []):
                results.append(self._apply(st, op))
            return ok, results

    def cas(self, key: bytes, expect_version: int, value: bytes) -> bool:
        """Conditional put: succeeds iff the key's version is exactly
        ``expect_version`` (0 = key must not exist).  The classic etcd CAS
        idiom used by the reference's PD for id allocation."""
        cmp = (
            [Compare(key, "exists", "==", False)]
            if expect_version == 0
            else [Compare(key, "version", "==", expect_version)]
        )
        ok, _ = self.txn(cmp, [("put", key, value)])
        return ok

    def _check(self, st: _State, c: Compare) -> bool:
        ent = st.get_entry(c.key)
        if c.target == "exists":
            actual: object = ent is not None
        elif ent is None:
            return False
        elif c.target == "version":
            actual = ent["version"]
        elif c.target == "value":
            actual = self._dec(ent["value"])
        else:
            raise ValueError(c.target)
        if c.op == "==":
            return actual == c.value
        if c.op == "!=":
            return actual != c.value
        if c.op == "<":
            return actual < c.value  # type: ignore[operator]
        if c.op == ">":
            return actual > c.value  # type: ignore[operator]
        raise ValueError(c.op)

    def _apply(self, st: _State, op: tuple):
        kind = op[0]
        if kind == "put":
            _, key, value = op
            return st.set_entry(key, value)
        if kind == "delete":
            _, key, range_end = op
            return st.delete_span(key, range_end)
        if kind == "get":
            _, key = op
            ent = st.get_entry(key)
            return None if ent is None else (self._dec(ent["value"]), ent["version"])
        raise ValueError(kind)

    # ------------------------------------------------------- spark views

    def to_df(self, spark: SparkSession) -> DataFrame:
        """The ``_kv`` table (FIXTURES.md B.4) as a DataFrame for
        scan-style queries: ``key binary, value binary, version long``."""
        _, data = self._snapshot()
        rows = [
            (self._dec(k), self._dec(v["value"]), v["version"])
            for k, v in data.items()
        ]
        return spark.createDataFrame(rows, "key binary, value binary, version long")
