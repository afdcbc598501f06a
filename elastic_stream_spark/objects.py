"""Objects catalog + compaction — tiered-storage bookkeeping.

Reference parity:
- COMMIT_OBJECT / objects catalog ≙ rpc.fbs:653-689 (T_COMMIT_OBJECT) +
  components/object-storage/src/object_manager.rs: every data object a
  range server offloads is committed to the PD's metadata store with
  (stream, range, offset span, size) so readers can locate range data.
- compaction thresholds ≙ components/object-storage/src/range_accumulator.rs:129-170:
  small objects accumulate until a size/count threshold triggers a
  rewrite into one larger object.

Spark mapping: data objects ARE the parquet files under the log's
partitioned layout.  ``ObjectStore`` is the driver-side metadata plane
(sharded per stream like the catalog — the etcd analogue),
``StreamLog.commit_objects`` scans a stream's partition directories and
registers unregistered files (parquet footers give exact row counts),
and ``StreamLog.optimize`` rewrites multi-file SEALED ranges into one
object each — fetch results are byte-identical before and after, only
the file count changes (asserted in tests/test_objects.py).

At 100 TB: object metadata is O(files) total but every operation touches
ONE stream's shard (``objects/<sid>.json``) — commit/remove cost is
O(that stream's objects) no matter how many streams or files the log
holds, exactly like a Delta/Iceberg per-table manifest; the compaction
rewrite is a distributed Spark job per range, embarrassingly parallel
across ranges.  Batch commits (``commit_batch``) register a whole
stream's files in one txn instead of one txn per file.
"""

from __future__ import annotations

import fcntl
import json
import os
import tempfile
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession

from elastic_stream_spark.log import path_stream_id

OBJECTS_SCHEMA = (
    "object_id BIGINT, stream_id BIGINT, range_index BIGINT, path STRING, "
    "n_records BIGINT, n_bytes BIGINT, committed_at_ms BIGINT"
)


@dataclass
class ObjectMeta:
    """≙ rpc.fbs:662-681 Obj table (offloaded-object descriptor)."""

    object_id: int
    stream_id: int
    range_index: int
    path: str
    n_records: int
    n_bytes: int
    committed_at_ms: int


class ObjectStore:
    """Driver-side objects catalog: path-keyed, sharded per stream
    (``objects/<sid>.json``), atomic-rename committed — every op is
    O(one stream's objects) regardless of total object count."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._meta_path = os.path.join(root, "objects.json")
        self._shards_dir = os.path.join(root, "objects")
        self._lock_path = os.path.join(root, "objects.lock")

    @contextmanager
    def _locked(self):
        with open(self._lock_path, "a") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            yield

    def _load_meta(self) -> dict:
        if not os.path.exists(self._meta_path):
            return {"next_object_id": 0}
        with open(self._meta_path) as f:
            return json.load(f)

    def _write_json(self, path: str, state: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix=".objects-")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(state, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def _shard_path(self, stream_id: int) -> str:
        return os.path.join(self._shards_dir, f"{stream_id}.json")

    def _load_shard(self, stream_id: int) -> dict:
        p = self._shard_path(stream_id)
        if not os.path.exists(p):
            return {"objects": {}}  # path -> ObjectMeta dict
        with open(p) as f:
            return json.load(f)

    def _write_shard(self, stream_id: int, state: dict) -> None:
        os.makedirs(self._shards_dir, exist_ok=True)
        self._write_json(self._shard_path(stream_id), state)

    def _shard_ids(self) -> list[int]:
        if not os.path.isdir(self._shards_dir):
            return []
        return sorted(
            int(fn[: -len(".json")])
            for fn in os.listdir(self._shards_dir)
            if fn.endswith(".json")
        )

    # ---------------------------------------------------------------- ops

    def commit(
        self, stream_id: int, range_index: int, path: str, n_records: int, n_bytes: int
    ) -> ObjectMeta:
        """≙ COMMIT_OBJECT: idempotent on path (re-commit returns the
        existing descriptor — a replayed offload must not double-count)."""
        return self.commit_batch([(stream_id, range_index, path, n_records, n_bytes)])[0]

    def commit_batch(
        self, entries: "list[tuple[int, int, str, int, int]]"
    ) -> list[ObjectMeta]:
        """Commit many (stream_id, range_index, path, n_records, n_bytes)
        descriptors in ONE txn — one shard write per touched stream, id
        allocation committed first so a crash can only skip ids, never
        reuse them."""
        out: list[ObjectMeta] = []
        with self._locked():
            by_sid: dict[int, list] = {}
            for e in entries:
                by_sid.setdefault(e[0], []).append(e)
            shards = {sid: self._load_shard(sid) for sid in by_sid}
            meta = self._load_meta()
            n_new = sum(
                1
                for sid, ents in by_sid.items()
                for e in ents
                if e[2] not in shards[sid]["objects"]
            )
            next_id = meta["next_object_id"]
            meta["next_object_id"] = next_id + n_new
            self._write_json(self._meta_path, meta)  # ids burned before use
            now_ms = int(time.time() * 1000)
            for sid, ents in by_sid.items():
                shard = shards[sid]
                dirty = False
                for _sid, ridx, path, n_records, n_bytes in ents:
                    existing = shard["objects"].get(path)
                    if existing is not None:
                        out.append(ObjectMeta(**existing))
                        continue
                    om = ObjectMeta(
                        object_id=next_id,
                        stream_id=sid,
                        range_index=ridx,
                        path=path,
                        n_records=n_records,
                        n_bytes=n_bytes,
                        committed_at_ms=now_ms,
                    )
                    next_id += 1
                    shard["objects"][path] = asdict(om)
                    out.append(om)
                    dirty = True
                if dirty:
                    self._write_shard(sid, shard)
        return out

    def remove(self, paths: list[str]) -> int:
        """Drop descriptors for rewritten/vacuumed objects.  Paths are
        routed to their stream's shard by the log layout; paths outside
        the layout fall back to a scan of all shards (rare)."""
        with self._locked():
            by_sid: dict[int | None, list[str]] = {}
            for p in paths:
                by_sid.setdefault(path_stream_id(p), []).append(p)
            strays = by_sid.pop(None, [])
            n = 0
            for sid, ps in by_sid.items():
                shard = self._load_shard(sid)
                removed = [p for p in ps if shard["objects"].pop(p, None) is not None]
                if removed:
                    self._write_shard(sid, shard)
                    n += len(removed)
            if strays:
                for sid in self._shard_ids():
                    shard = self._load_shard(sid)
                    removed = [
                        p for p in strays if shard["objects"].pop(p, None) is not None
                    ]
                    if removed:
                        self._write_shard(sid, shard)
                        n += len(removed)
            return n

    def list_objects(self, stream_id: int | None = None) -> list[ObjectMeta]:
        sids = [stream_id] if stream_id is not None else self._shard_ids()
        out = [
            ObjectMeta(**o)
            for sid in sids
            for o in self._load_shard(sid)["objects"].values()
        ]
        return sorted(out, key=lambda o: (o.stream_id, o.range_index, o.object_id))

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (
                o.object_id,
                o.stream_id,
                o.range_index,
                o.path,
                o.n_records,
                o.n_bytes,
                o.committed_at_ms,
            )
            for o in self.list_objects()
        ]
        return spark.createDataFrame(rows, OBJECTS_SCHEMA)


def file_row_count(path: str) -> int:
    """Exact row count from the parquet footer (no data read)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows
