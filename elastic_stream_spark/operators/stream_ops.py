"""Stream-surface operators served by the REAL engine paths.

The driver's ``events`` fixture is materialized through the engine once
per process (``sources/materialize.py``): records live in the partitioned
parquet log, stream/range metadata in ``StreamCatalog``, the KV demo
keyspace in ``KVStore``.  Each query below then exercises the actual
read path the reference exposes on the wire:

- FETCH (0x1002)        → ``fetch_range``       via ``StreamLog.fetch``
                          (handler/fetch.rs:48-155)
- DESCRIBE_STREAM       → ``describe_streams``  via ``StreamCatalog`` +
                          log counts (stream.go:98-115)
- LIST_RANGE (0x2001)   → ``list_ranges``       via the log's partition
                          layout (range.go:49-126)
- TRIM_STREAM (0x3005)  → ``trim_fetch``        via ``trim_stream`` on a
                          metadata clone + ``StreamLog.fetch``
                          (rpc.fbs:571-581)
- offset accounting     → ``offset_accounting`` via catalog next_offset
                          (replication_stream.rs:241-300)
- KV Range scan         → ``kv_range_scan``     via ``KVStore.to_df``
                          (rpc.fbs:788-819)
- schema-on-read decode → ``payload_decode``    from_json over the log's
                          opaque payload bytes (flat_record.rs:30)
- WAL recovery checks   → ``stream_integrity_audit`` via
                          ``StreamLog.records`` (wal.rs:274-307)

Plan shape at scale: fetch/trim filter on ``stream_id`` → directory-level
partition pruning in the log layout; offset predicates push to parquet
row-group stats; catalog/KV answers are driver-side metadata (tiny by
design — the Delta/Iceberg commit-log stance, SURVEY.md §7).  The DuckDB
oracles are unchanged: the engine must reproduce the envelope-math answers
from its own storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elastic_stream_spark.sources.envelope import ENVELOPE_SQL
from elastic_stream_spark.sources.materialize import get_engine, trimmed_engine

# Fixed fetch window exercised by the correctness gate.
FETCH_STREAM, FETCH_LO, FETCH_HI = 1, 50, 150
TRIM_AT = 120
# Fixed probe for the offset-for-timestamp lookup (events span Jan 2024
# at every SF, so mid-month splits each stream).
PROBE_TS = "2024-01-15 00:00:00"

# Schema of the JSON payload written by the envelope (schema-on-read).
PAYLOAD_JSON_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _decoded(records: DataFrame) -> DataFrame:
    """Opaque payload bytes → typed columns at query time (the Kafka-source
    convention; payload stays opaque in storage)."""
    return records.withColumn(
        "p", F.from_json(F.decode("payload", "UTF-8"), PAYLOAD_JSON_SCHEMA)
    )


def fetch_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FETCH stream=1 offsets [50, 150) through ``StreamLog.fetch``:
    partition-pruned scan + row-group offset pushdown, payload decoded
    schema-on-read."""
    eng = get_engine(spark, sf_dir)
    recs = eng.log.fetch(FETCH_STREAM, FETCH_LO, FETCH_HI)
    return _decoded(recs).select(
        "stream_id",
        "range_index",
        "offset",
        "ts",
        F.col("p.event_id").alias("event_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.value").alias("value"),
    ).orderBy("offset")


def describe_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE_STREAM over every stream: start/next offsets from the
    CATALOG (the authoritative bookkeeping), record counts from the log."""
    eng = get_engine(spark, sf_dir)
    meta = spark.createDataFrame(
        [
            (s.stream_id, s.start_offset, s.next_offset)
            for s in eng.catalog.list_streams()
        ],
        "stream_id BIGINT, start_offset BIGINT, next_offset BIGINT",
    )
    counts = eng.log.records().groupBy("stream_id").agg(
        F.count("*").alias("record_count")
    )
    return meta.join(counts, "stream_id").orderBy("stream_id")


def list_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIST_RANGE: per-range [start, end) bounds read from the log's
    partition layout (range_index is a directory-level partition column —
    the aggregate prunes to per-partition min/max/count)."""
    eng = get_engine(spark, sf_dir)
    return (
        eng.log.records()
        .groupBy("stream_id", "range_index")
        .agg(
            F.min("offset").alias("start"),
            (F.max("offset") + 1).alias("end"),
            F.count("*").alias("n_records"),
        )
        .orderBy("stream_id", "range_index")
    )


def trim_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIM_STREAM(stream=1, at=120) on a catalog clone, then a full fetch
    through the trimmed catalog: ``StreamLog.fetch`` clamps to the trim
    horizon (≙ OffsetOutOfRange), so nothing below it survives."""
    eng = trimmed_engine(spark, sf_dir, FETCH_STREAM, TRIM_AT)
    nxt = eng.catalog.describe_stream(FETCH_STREAM).next_offset
    recs = eng.log.fetch(FETCH_STREAM, 0, nxt)  # clamped to start_offset=120
    return (
        recs.groupBy("range_index")
        .agg(
            F.min("offset").alias("start"),
            (F.max("offset") + 1).alias("end"),
            F.count("*").alias("n_records"),
        )
        .orderBy("range_index")
    )


def offset_for_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FETCH-by-time: per stream, the first offset whose record ts is at
    or after the probe timestamp, plus the records remaining from there —
    the ``offsetsForTimes`` lookup a consumer does to start reading "from
    time T" (beyond the reference's offset-only FETCH; its envelope
    orders offsets by ts, so the answer is exact).  The ts predicate
    pushes to parquet row-group stats; per-stream min/count is a pruned
    partial aggregate — at 100 TB this reads only row groups overlapping
    the probe boundary plus the tail."""
    eng = get_engine(spark, sf_dir)
    return (
        eng.log.records()
        .where(F.col("ts") >= F.lit(PROBE_TS).cast("timestamp"))
        .groupBy("stream_id")
        .agg(
            F.min("offset").alias("first_offset"),
            F.count("*").alias("n_after"),
        )
        .orderBy("stream_id")
    )


def offset_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-offset bookkeeping straight from the catalog's serialized
    offset reservation (≙ the write window's committed watermark) joined
    with stream identity."""
    eng = get_engine(spark, sf_dir)
    return spark.createDataFrame(
        [
            (s.stream_id, eng.stream_names[s.stream_id], s.next_offset)
            for s in eng.catalog.list_streams()
        ],
        "stream_id BIGINT, event_type STRING, next_offset BIGINT",
    ).orderBy("stream_id")


def stream_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WAL-recovery verification (CRC + index rebuild,
    components/store/src/io/wal.rs:274-307 / indexer.rs:295-352)
    re-expressed as a DECLARATIVE audit over the stored log: per stream,
    the offset space must be dense (no gaps), unique (no duplicate
    offsets), 0-based, and partitioned into ranges none of which exceeds
    the range size — the invariants every fetch relies on, as a
    queryable table rather than a recovery-time side effect.  A non-zero
    ``n_gaps``/``n_dups`` row is a torn or double-applied append the
    log's reconcile path should have repaired.

    Plan: one map-side-combinable aggregate over the (partition-pruned)
    log scan per stream plus a per-(stream, range) rollup for the range
    span — no joins wider than the |streams|-row key, no windows."""
    eng = get_engine(spark, sf_dir)
    rec = eng.log.records()
    per_stream = rec.groupBy("stream_id").agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.min("offset").cast("bigint").alias("first_offset"),
        (F.max("offset") + 1).cast("bigint").alias("next_offset"),
        F.countDistinct("offset").cast("bigint").alias("n_distinct"),
    )
    ranges = (
        rec.groupBy("stream_id", "range_index")
        .agg((F.max("offset") - F.min("offset") + 1).alias("span"))
        .groupBy("stream_id")
        .agg(
            F.count("*").cast("bigint").alias("n_ranges"),
            F.max("span").cast("bigint").alias("max_range_span"),
        )
    )
    return (
        per_stream.join(ranges, "stream_id")
        .select(
            "stream_id",
            "n_records",
            "first_offset",
            "next_offset",
            (F.col("next_offset") - F.col("first_offset") - F.col("n_distinct"))
            .cast("bigint")
            .alias("n_gaps"),
            (F.col("n_records") - F.col("n_distinct"))
            .cast("bigint")
            .alias("n_dups"),
            "n_ranges",
            "max_range_span",
        )
        .orderBy("stream_id")
    )


def kv_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """etcd-style Range scan [key, range_end) with limit over the REAL
    ``KVStore`` contents (seeded with the nation keyspace; value =
    nationkey).  ≙ rpc.fbs:788-819: ordered scan + limit paging."""
    eng = get_engine(spark, sf_dir)
    kvdf = eng.kv.to_df(spark).select(
        F.decode("key", "UTF-8").alias("key"),
        F.decode("value", "UTF-8").cast("long").alias("version"),
    )
    return (
        kvdf.where((F.col("key") >= "NATION_1") & (F.col("key") < "NATION_2"))
        .orderBy("key")
        .limit(8)
    )


def list_resources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIST_RESOURCE (≙ rpc.fbs:691-733): one row per live resource —
    streams and ranges — from the CATALOG's registered metadata (not a
    data scan).  range_index = -1 marks stream rows; a NULL ``end`` marks
    the mutable range.  The companion WATCH_RESOURCE change feed is
    ``StreamCatalog.watch_resources`` (streaming; exercised in pytest)."""
    eng = get_engine(spark, sf_dir)
    rows = []
    for s in eng.catalog.list_streams():
        rows.append(("stream", s.stream_id, -1, s.start_offset, s.next_offset))
        for r in eng.catalog.list_ranges(s.stream_id):
            rows.append(("range", s.stream_id, r.range_index, r.start, r.end))
    return spark.createDataFrame(
        rows,
        "resource_type STRING, stream_id BIGINT, range_index BIGINT, "
        "start BIGINT, end BIGINT",
    ).orderBy("resource_type", "stream_id", "range_index")


def list_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Objects per range (≙ COMMIT_OBJECT, rpc.fbs:653-689): object
    counts and exact record counts from the log's view of its data files
    (``StreamLog.list_objects``, parquet footers only).  The bulk-load path
    writes one object per range (single writer task per stream), which the
    oracle asserts; compaction keeps the view exact (tests/test_log.py)."""
    eng = get_engine(spark, sf_dir)
    return (
        spark.createDataFrame(
            eng.log.list_objects(),
            "stream_id BIGINT, range_index BIGINT, path STRING, "
            "n_records BIGINT, n_bytes BIGINT",
        )
        .groupBy("stream_id", "range_index")
        .agg(
            F.count("*").alias("n_objects"),
            F.sum("n_records").alias("total_records"),
        )
        .orderBy("stream_id", "range_index")
    )


def payload_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the whole log: decode the opaque payload into
    typed columns (including the nested ``props`` JSON) and aggregate on a
    decoded field."""
    eng = get_engine(spark, sf_dir)
    decoded = _decoded(eng.log.records()).withColumn(
        "props_struct", F.from_json(F.col("p.props"), "k INT")
    )
    return (
        decoded.groupBy(
            F.floor(F.col("props_struct.k") / 10).cast("long").alias("k_decile")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("p.value"), 4).alias("sum_value"),
        )
        .orderBy("k_decile")
    )


def fold_resource_feed(feed: DataFrame) -> DataFrame:
    """WATCH_RESOURCE → current state: fold the change feed into the live
    resource set (the CDC read-model every PD client maintains —
    rpc.fbs:762-778's contract that replaying the watch stream from
    revision 0 reproduces LIST_RESOURCE).

    Per resource key, take the last-by-revision value of each post-image
    field (``last(ignorenulls)`` — events carry partial images, e.g.
    ``sealed`` only stamps ``end``) and the last lifecycle kind; a
    resource is live iff its last kind isn't ``deleted`` and its stream
    is live.  All window partitions are per-resource keys (bounded, tiny)
    — a 1000-executor watcher folds shards of the keyspace
    independently."""
    from pyspark.sql.window import Window

    d = F.from_json(
        "detail",
        "start BIGINT, `end` BIGINT, start_offset BIGINT, next_offset BIGINT",
    )
    key = [F.col("resource_type"), F.col("stream_id"), F.col("range_index")]
    w = (
        Window.partitionBy(*key)
        .orderBy("revision")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # same partition/order spec, full frame: computed in the SAME sort
    # pass as the running-frame lasts (r15 — replaces the desc
    # row_number, which forced a second (key, revision DESC) sort)
    w_full = (
        Window.partitionBy(*key)
        .orderBy("revision")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    folded = (
        feed.withColumn("range_index", F.coalesce("range_index", F.lit(-1)))
        .withColumn("d", d)
        .select(
            "resource_type",
            "stream_id",
            "range_index",
            "revision",
            F.last("kind").over(w).alias("last_kind"),
            F.last(F.col("d.start"), ignorenulls=True).over(w).alias("f_start"),
            F.last(F.col("d.end"), ignorenulls=True).over(w).alias("f_end"),
            F.last(F.col("d.start_offset"), ignorenulls=True).over(w).alias("f_so"),
            F.last(F.col("d.next_offset"), ignorenulls=True).over(w).alias("f_no"),
            F.max("revision").over(w_full).alias("max_rev"),
        )
        # (key, revision) is unique — revision is the catalog's global
        # txn counter — so revision == max_rev selects exactly the
        # last-by-revision row the old row_number() == 1 did
        .where(F.col("revision") == F.col("max_rev"))
    )
    # a deleted STREAM kills its ranges too: propagate the death flag
    # per stream_id with a window instead of the old anti-join, which
    # evaluated the whole fold subtree a second time for its right side
    # (r15 — the fold now traverses the feed exactly once)
    stream_dead = (
        F.max(
            F.when(
                (F.col("resource_type") == "stream")
                & (F.col("last_kind") == "deleted"),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).over(Window.partitionBy("stream_id"))
        == 1
    )
    live = folded.withColumn("stream_dead", stream_dead).where(
        (F.col("last_kind") != "deleted") & ~F.col("stream_dead")
    )
    # a sealed range's end comes from the seal event; the mutable range's
    # trimmed start comes from the stream's trim (ranges share the
    # stream's start floor when the trim point lands inside them);
    # streams and ranges differ only in which folded field feeds
    # start/end, so one conditional projection replaces the old
    # two-branch union (which doubled the plan again)
    is_stream = F.col("resource_type") == "stream"
    return live.select(
        "resource_type",
        "stream_id",
        F.col("range_index").cast("long").alias("range_index"),
        F.when(is_stream, F.coalesce("f_so", F.lit(0)))
        .otherwise(F.col("f_start"))
        .alias("start"),
        F.when(is_stream, F.col("f_no")).otherwise(F.col("f_end")).alias("end"),
    ).orderBy("resource_type", "stream_id", "range_index")


def resource_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay WATCH_RESOURCE from revision 0 and reconstruct the live
    resource set — must equal ``list_resources`` (same oracle): the
    watch-feed completeness guarantee, checked end to end through the
    engine's own change log."""
    eng = get_engine(spark, sf_dir)
    # ordered=False: the fold orders per key inside its windows; the
    # feed's global revision sort would survive below them as a full
    # range-partition exchange (r15)
    return fold_resource_feed(eng.catalog.changes(spark, ordered=False))


QUERIES = {
    "resource_latest_state": resource_latest_state,
    "fetch_range": fetch_range,
    "describe_streams": describe_streams,
    "list_ranges": list_ranges,
    "trim_fetch": trim_fetch,
    "offset_accounting": offset_accounting,
    "stream_integrity_audit": stream_integrity_audit,
    "offset_for_timestamp": offset_for_timestamp,
    "kv_range_scan": kv_range_scan,
    "list_resources": list_resources,
    "list_objects": list_objects,
    "payload_decode": payload_decode,
}

_ENV = f"WITH records AS ({ENVELOPE_SQL})"

ORACLES = {
    "fetch_range": f"""
        {_ENV}
        SELECT stream_id, range_index, "offset", ts, event_id, user_id, value
        FROM records
        WHERE stream_id = {FETCH_STREAM} AND "offset" >= {FETCH_LO} AND "offset" < {FETCH_HI}
        ORDER BY "offset"
    """,
    "describe_streams": f"""
        {_ENV}
        SELECT stream_id, min("offset") AS start_offset,
               max("offset") + 1 AS next_offset, count(*) AS record_count
        FROM records GROUP BY stream_id ORDER BY stream_id
    """,
    "list_ranges": f"""
        {_ENV}
        SELECT stream_id, range_index, min("offset") AS start,
               max("offset") + 1 AS "end", count(*) AS n_records
        FROM records GROUP BY stream_id, range_index
        ORDER BY stream_id, range_index
    """,
    "trim_fetch": f"""
        {_ENV}
        SELECT range_index, min("offset") AS start, max("offset") + 1 AS "end",
               count(*) AS n_records
        FROM records
        WHERE stream_id = {FETCH_STREAM} AND "offset" >= {TRIM_AT}
        GROUP BY range_index ORDER BY range_index
    """,
    "offset_accounting": f"""
        {_ENV}
        SELECT stream_id, event_type, max("offset") + 1 AS next_offset
        FROM records GROUP BY stream_id, event_type ORDER BY stream_id
    """,
    "offset_for_timestamp": f"""
        {_ENV}
        SELECT stream_id, min("offset") AS first_offset, count(*) AS n_after
        FROM records
        WHERE ts >= TIMESTAMP '{PROBE_TS}'
        GROUP BY stream_id ORDER BY stream_id
    """,
    "kv_range_scan": """
        SELECT n_name AS key, CAST(n_nationkey AS BIGINT) AS version
        FROM nation
        WHERE n_name >= 'NATION_1' AND n_name < 'NATION_2'
        ORDER BY key LIMIT 8
    """,
    "list_resources": f"""
        {_ENV}, counts AS (
          SELECT stream_id, count(*) AS n FROM records GROUP BY stream_id
        ), idx AS (
          SELECT stream_id, n,
                 unnest(generate_series(0, CAST(n // 1000 AS BIGINT))) AS i
          FROM counts
        )
        SELECT 'stream' AS resource_type, stream_id,
               CAST(-1 AS BIGINT) AS range_index,
               CAST(0 AS BIGINT) AS start, CAST(n AS BIGINT) AS "end"
        FROM counts
        UNION ALL
        SELECT 'range', stream_id, CAST(i AS BIGINT),
               CAST(i * 1000 AS BIGINT),
               CASE WHEN i < n // 1000 THEN CAST((i + 1) * 1000 AS BIGINT)
                    ELSE NULL END
        FROM idx
        ORDER BY resource_type, stream_id, range_index
    """,
    "list_objects": f"""
        {_ENV}
        SELECT stream_id, range_index, CAST(1 AS BIGINT) AS n_objects,
               count(*) AS total_records
        FROM records GROUP BY stream_id, range_index
        ORDER BY stream_id, range_index
    """,
    "payload_decode": f"""
        {_ENV}
        SELECT CAST(floor(CAST(json_extract(props, '$.k') AS INT) / 10.0) AS BIGINT) AS k_decile,
               count(*) AS n, round(sum(value), 4) AS sum_value
        FROM records GROUP BY k_decile ORDER BY k_decile
    """,
    "stream_integrity_audit": f"""
        WITH records AS ({ENVELOPE_SQL}),
        per_stream AS (
          SELECT stream_id,
                 CAST(count(*) AS BIGINT) AS n_records,
                 CAST(min("offset") AS BIGINT) AS first_offset,
                 CAST(max("offset") + 1 AS BIGINT) AS next_offset,
                 CAST(count(DISTINCT "offset") AS BIGINT) AS n_distinct
          FROM records GROUP BY stream_id
        ), rngs AS (
          SELECT stream_id,
                 CAST(count(*) AS BIGINT) AS n_ranges,
                 CAST(max(span) AS BIGINT) AS max_range_span
          FROM (
            SELECT stream_id, range_index,
                   max("offset") - min("offset") + 1 AS span
            FROM records GROUP BY stream_id, range_index
          ) GROUP BY stream_id
        )
        SELECT p.stream_id, p.n_records, p.first_offset, p.next_offset,
               CAST(p.next_offset - p.first_offset - p.n_distinct AS BIGINT)
                 AS n_gaps,
               CAST(p.n_records - p.n_distinct AS BIGINT) AS n_dups,
               r.n_ranges, r.max_range_span
        FROM per_stream p JOIN rngs r USING (stream_id)
        ORDER BY p.stream_id
        """,
}

# Replaying the watch feed must reproduce LIST_RESOURCE exactly — the
# fold is checked against the same envelope-math oracle.
ORACLES["resource_latest_state"] = ORACLES["list_resources"]
