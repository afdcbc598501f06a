"""Sources: driver test tables + the derived record-envelope view.

``events_envelope`` wraps the driver's ``events`` table into the reference's
record envelope (FIXTURES.md B.1, SURVEY.md §1.3): one stream per
``event_type`` (stream_id = dense rank of event_type in lexical order,
0-based), per-stream contiguous 0-based offsets ordered by ``(ts,
event_id)``, ``range_index = offset div 1000`` (multiple sealed ranges per
stream), payload = JSON-encoded row bytes.

This derivation is pure DataFrame code and has an exact ANSI-SQL
equivalent, which is what lets every stream-surface operation (FETCH,
DESCRIBE, LIST_RANGE, TRIM — SURVEY.md §2) be checked against the DuckDB
oracle.

Scale note: the per-stream ``row_number`` is a shuffle on ``stream_id``
(bounded parallelism = number of streams), which matches the reference's
own serialization point — offsets within one stream are assigned by a
single writer (components/model/src/stream/mod.rs:5-21, one mutable range).
Downstream consumers should aggregate per (stream_id, range_index) so work
re-parallelizes past the assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from elastic_stream_spark.functions.materialize import SessionMemo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

RANGE_SIZE = 1000  # offsets per range in the derived fixture (FIXTURES.md B.1)


# Table-HANDLE memo (r15): every operator used to call
# ``spark.read.parquet`` afresh — each call re-lists the path and
# re-reads the parquet footer on the DRIVER and pays several py4j round
# trips, and a single query invokes its loaders 3-6 times.  The memo
# returns the same lazy DataFrame handle per (session, sf_dir, table):
# no data is cached (every action still computes from the parquet files
# — the plan is identical), only the relation/schema resolution is
# reused, exactly what ``spark.table`` on a catalog table gives a
# production job.  Corpus immutability per session holds by
# construction (testdata is read-only; tests write one corpus per tmp
# workdir).
_TABLES = SessionMemo()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver table.  ``events.ts`` is stored as parquet
    TIMESTAMP(NANOS), which Spark has no native type for — it is read as
    a long (``spark.sql.legacy.parquet.nanosAsLong``) and floored to
    microseconds here; the DuckDB oracle applies the identical
    ``epoch_ns // 1000`` normalization (EVENTS_NORM_SQL)."""
    return _TABLES.get(
        spark, (sf_dir, name), lambda: _load_table(spark, sf_dir, name)
    )


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # runtime-settable; guards entry() running under a driver-created
        # session that didn't go through get_spark()
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            # a host session configured with spark.sql.timestampType=
            # TIMESTAMP_NTZ surfaces the column as NTZ; the whole engine
            # (and the DuckDB oracle) treat ts as instants in a UTC-pinned
            # session, so the cast is value-preserving.  Must be the
            # explicit LTZ type name: under that session conf the keyword
            # "timestamp" itself resolves to NTZ.
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Session-memoized table row counts (r16): the eval-holdout broadcast
# site (curation.decontaminate_ngrams) guards its F.broadcast hint on
# the corpus size — the "eval set" is a modulus slice of the corpus, so
# its size grows ∝ corpus and an unconditional broadcast OOMs at true
# scale (r15 VERDICT item 2).  One count job per (session, sf_dir,
# table), driver-cached; the bench's warm-up counts every table anyway,
# so the timed path always sees a dict hit.  The count is a metadata-
# cheap scan and deterministic for the immutable fixture dirs.
_ROWS = SessionMemo()


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    return _ROWS.get(
        spark, (sf_dir, name), lambda: load_table(spark, sf_dir, name).count()
    )


_BALANCED = SessionMemo()


def load_table_balanced(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` + rebalance: the fixture parquet is one input split,
    which would serialize any explode/join/UDF pipeline built on it onto a
    single core.  Split count comes from driver-side file metadata (no
    job, no RDD conversion); a real 100 TB scan arrives already
    multi-split and skips the shuffle entirely.  Handle-memoized like
    ``load_table`` (the ``inputFiles()`` metadata probe is itself a py4j
    + file-listing round trip per call)."""

    def build() -> DataFrame:
        df = load_table(spark, sf_dir, name)
        if len(df.inputFiles()) < 8:
            df = df.repartition(spark.sparkContext.defaultParallelism)
        return df

    return _BALANCED.get(spark, (sf_dir, name), build)


# DuckDB-side equivalent of the events ts normalization (micros floor).
EVENTS_NORM_SQL = """
  events_n AS (
    SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
           user_id, event_type, value, props
    FROM events
  )
"""


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def events_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → records envelope (stream_id, range_index, offset, ts,
    properties, payload) + the original event columns for decode-free
    checking."""
    ev = load_table(spark, sf_dir, "events")
    # stream_id = lexical rank of event_type, computed on a tiny distinct
    # dim (|streams| rows) and broadcast back — the big events table never
    # passes through a global (single-partition) window.
    # non-foldable constant partition key = identical execution to an
    # unpartitioned window over this |streams|-row dim, explicit intent,
    # no spurious "No Partition Defined" warning
    sid = Window.partitionBy(
        F.pmod(F.length("event_type"), F.lit(1))
    ).orderBy("event_type")
    stream_dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("stream_id", (F.dense_rank().over(sid) - 1).cast("long"))
    )
    off = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        ev.join(F.broadcast(stream_dim), "event_type")
        .select(*ev.columns, "stream_id")  # restore original column order
        .withColumn("offset", (F.row_number().over(off) - 1).cast("long"))
        .withColumn("range_index", F.floor(F.col("offset") / RANGE_SIZE).cast("int"))
        .withColumn("properties", F.create_map(F.lit("event_type"), F.col("event_type")))
        .withColumn(
            "payload",
            F.encode(
                F.to_json(F.struct("event_id", "ts", "user_id", "event_type", "value", "props")),
                "UTF-8",
            ),
        )
    )


# SQL fragment mirroring events_envelope for the DuckDB oracle (payload
# omitted — byte-level JSON formatting differs between engines; correctness
# queries compare envelope + decoded columns instead).
ENVELOPE_SQL = f"""
WITH {EVENTS_NORM_SQL}
SELECT
  CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS BIGINT)                       AS stream_id,
  CAST(floor((row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1) / 1000.0) AS INT)
                                                                                     AS range_index,
  CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS BIGINT) AS "offset",
  event_id, ts, user_id, event_type, value, props
FROM events_n
"""
