"""Materialize the driver's ``events`` fixture *through* the engine.

Round-1 served the oracle-checked stream-surface queries straight off the
derived envelope view, which validated the envelope math but bypassed
``StreamCatalog`` / ``StreamLog`` / ``KVStore``.  This module loads the
fixture INTO a real (temp-dir) engine instance once per session and hands
the queries the real read paths:

- records land in the partitioned parquet log via ``StreamLog.bulk_load``
  (one distributed write — the offload/recovery ingest path; the
  record-at-a-time ``append`` path is exercised by tests/test_log.py and
  the append micro-bench);
- per-stream range metadata is registered via
  ``StreamCatalog.bulk_register`` (streams created in lexical event_type
  order so stream ids match the envelope's dense-rank derivation);
- the KV store is seeded with the nation keyspace for the etcd-style
  Range-scan query.

``trimmed_engine`` clones only the catalog metadata (sharing the
immutable record files) and applies TRIM_STREAM there, so the trim query
exercises the real trim → fetch path without mutating the shared
instance (queries stay order-independent).

Both are session memos (``functions/materialize.py``): one instance per
SparkSession, whose root directory is removed when the memo is evicted.
A clone's release removes only its own root; the record files it reads
belong to the base engine.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import SparkSession

from elastic_stream_spark.catalog import StreamCatalog
from elastic_stream_spark.functions.materialize import SessionMemo, remove_dir
from elastic_stream_spark.kv import KVStore
from elastic_stream_spark.log import StreamLog
from elastic_stream_spark.sources.envelope import RANGE_SIZE, events_envelope


@dataclass
class EngineFixture:
    root: str
    catalog: StreamCatalog
    log: StreamLog
    kv: KVStore
    stream_names: dict[int, str]  # stream_id -> event_type


def _release_engine(eng: EngineFixture, blocking: bool) -> None:
    remove_dir(eng.root)


# defined base first: evict_all releases newest first, so clones go
# before the base that owns their record files
_ENGINES = SessionMemo(_release_engine)
_TRIMMED = SessionMemo(_release_engine)


def get_engine(spark: SparkSession, sf_dir: str) -> EngineFixture:
    """The per-session engine instance loaded from ``sf_dir`` (idempotent)."""
    return _ENGINES.get(spark, (sf_dir,), lambda: _build_engine(spark, sf_dir))


def _build_engine(spark: SparkSession, sf_dir: str) -> EngineFixture:
    root = tempfile.mkdtemp(prefix="esspark-engine-")
    catalog = StreamCatalog(root)
    log = StreamLog(spark, catalog)
    kv = KVStore(os.path.join(root, "kv"))

    env = events_envelope(spark, sf_dir)

    # streams in lexical event_type order -> ids 0..n-1 == envelope rank
    per_stream = {
        r["event_type"]: r["n"]
        for r in env.groupBy("event_type").count().withColumnRenamed("count", "n").collect()
    }
    stream_names: dict[int, str] = {}
    for name in sorted(per_stream):
        meta = catalog.create_stream()
        stream_names[meta.stream_id] = name
        catalog.bulk_register(meta.stream_id, per_stream[name], RANGE_SIZE)

    log.bulk_load(env)

    # nation keyspace -> KV (value = nationkey; version is etcd-style
    # revision, not part of the oracle compare)
    nation = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select("n_name", "n_nationkey")
        .orderBy("n_nationkey")
        .collect()
    )
    for row in nation:
        kv.put(row["n_name"].encode(), str(row["n_nationkey"]).encode())

    return EngineFixture(root, catalog, log, kv, stream_names)


def trimmed_engine(
    spark: SparkSession, sf_dir: str, stream_id: int, trim_at: int
) -> EngineFixture:
    """A metadata-only clone of the engine with ``TRIM_STREAM(stream_id,
    trim_at)`` applied.  Record files are shared read-only (vacuum is NOT
    run here — physical reclaim is exercised separately in pytest), so the
    clone costs one small JSON copy regardless of data size."""

    def build() -> EngineFixture:
        base = get_engine(spark, sf_dir)
        root = tempfile.mkdtemp(prefix="esspark-engine-trim-")
        catalog = base.catalog.clone_to(root)
        log = StreamLog(spark, catalog)
        log.records_root = base.log.records_root  # share the immutable data files
        catalog.trim_stream(stream_id, trim_at)
        return EngineFixture(root, catalog, log, base.kv, dict(base.stream_names))

    return _TRIMMED.get(spark, (sf_dir, stream_id, trim_at), build)
