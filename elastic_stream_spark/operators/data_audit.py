"""Data-quality / pre-flight audit operators — join-key skew audit,
per-column profiling, and blocked fuzzy record linkage.

The reference engine carries no profiling surface (its metrics are
transport-level: components/observation); these are the audits a data
platform runs BEFORE committing a 100 TB job: "is this join key skewed
enough to need salting" (the input to scale_patterns.skew_salted_join),
"what do the columns look like" (null rates / cardinality / lengths —
the Deequ/Great-Expectations profile), and "which records are the same
entity under small edits" (blocked edit-distance linkage — the blocking
+ verify shape of every record-linkage system).

Scale notes (100 TB):
- ``key_skew_audit``: ONE map-side-combinable count per key; the global
  top-k is ``orderBy().limit()`` → TakeOrderedAndProject (per-partition
  heaps + a k·n_partitions driver merge); the share window then runs on
  the k-row result.  The corpus never passes through a global window.
- ``column_profile``: the wide→long explode is map-only (rows × n_cols,
  no shuffle); profiling is a two-level aggregation — (col, value)
  partial counts first, so the single-distinct count never plans an
  Expand over the raw rows and every stage map-side combines.
- ``fuzzy_name_match``: the candidate join is BLOCKED (equi-join on a
  blocking key), so comparisons are Σ block² over distinct names, never
  corpus²; the same df-cap discipline as dedup.py's posting lists
  applies if a block grows pathological (documented, not needed at this
  name cardinality).  Edit distance runs only on candidates that share
  a block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elastic_stream_spark.functions.materialize import SessionMemo, remove_dir
from elastic_stream_spark.sources.envelope import load_table, load_table_balanced

SKEW_TOP = 20  # hottest keys reported
FUZZY_MAX_DIST = 2  # edit-distance match threshold

# documents columns profiled (name → already-string?); ints cast to
# string so the long form is one uniform value column in both engines
PROFILE_COLS = ("doc_id", "lang", "n_chars", "source", "text")


def key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit for ``lineitem.l_suppkey``: the ``SKEW_TOP``
    hottest keys with per-key row count, corpus share, and cumulative
    top-k share — the pre-flight a planner (or scale_patterns'
    salted-join) consults before shuffling on the key.

    Plan: one count-per-key aggregation, TakeOrderedAndProject top-k,
    then shares against a broadcast scalar total on the k-row set."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count("*").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("total")).withColumn("k", F.lit(1))
    top = counts.orderBy(F.desc("n_rows"), F.asc("l_suppkey")).limit(SKEW_TOP)
    order = (F.desc("n_rows"), F.asc("l_suppkey"))
    # constant non-foldable key: the window input is the k-row top set
    # (rationale at sources/envelope.py stream_dim)
    wsum = (
        Window.partitionBy(F.pmod(F.col("l_suppkey"), F.lit(1)))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wrank = Window.partitionBy(F.pmod(F.col("l_suppkey"), F.lit(1))).orderBy(*order)
    return (
        top.withColumn("k", F.lit(1))
        .join(F.broadcast(total), "k")
        .select(
            "l_suppkey",
            "n_rows",
            # determinism: UNROUNDED exact-integer divisions — BIGINT/BIGINT
            # is one correctly-rounded IEEE op, bit-identical across engines;
            # round() on such ratios can land on a decimal tie where Spark
            # HALF_UP and DuckDB nearbyint disagree (timeseries.py note)
            (F.col("n_rows") / F.col("total")).alias("share"),
            (F.sum("n_rows").over(wsum) / F.col("total")).alias("cum_share"),
            F.row_number().over(wrank).cast("long").alias("rank"),
        )
        .orderBy("rank")
    )


def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the documents table (long form, one row per
    column): row/null counts, distinct cardinality, and value-length
    min/max/mean — the schema-drift / data-quality audit.

    Plan: map-only wide→long explode, then a TWO-LEVEL aggregation.
    Values are collapsed to ``(md5(value), length(value))`` BEFORE the
    first shuffle — the profile needs only identity and length, so the
    shuffle carries a 32-hex fingerprint instead of the payload (a text
    column at 100 TB would otherwise move wholesale just to be counted).
    The distinct count is an ordinary second-level ``count`` over the
    fingerprint groups (no Expand) and both levels map-side combine;
    md5 is cryptographic, so fingerprint-distinct equals value-distinct
    (and the DuckDB oracle counts plain distinct values)."""
    docs = load_table_balanced(spark, sf_dir, "documents")
    kv = docs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("kv")
    ).select(
        "kv.col_name",
        F.md5("kv.value").alias("h"),
        F.length("kv.value").alias("len"),
    )
    g = kv.groupBy("col_name", "h", "len").agg(F.count("*").alias("c"))
    nn = F.when(F.col("h").isNotNull(), F.col("c"))
    return (
        g.groupBy("col_name")
        .agg(
            F.sum("c").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("h").isNull(), F.col("c"))), F.lit(0)
            )
            .cast("long")
            .alias("n_null"),
            F.count(F.when(F.col("h").isNotNull(), F.lit(1))).alias(
                "n_distinct"
            ),
            F.min("len").cast("long").alias("min_len"),
            F.max("len").cast("long").alias("max_len"),
            # determinism: unrounded exact-integer division (see key_skew_audit)
            (F.sum(F.col("len") * F.col("c")) / F.sum(nn)).alias("avg_len"),
        )
        .orderBy("col_name")
    )


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage over part names: distinct-name pairs
    within the same blocking key (the name's second token) at Levenshtein
    distance ≤ ``FUZZY_MAX_DIST``, with how many parts carry each name —
    the blocking + edit-distance-verify shape of entity resolution.

    Plan: names collapse to a distinct-name dim first (one count
    aggregation), the candidate self-join is an EQUI-join on the block
    key (Σ block² candidates, never n²), and the edit distance runs only
    inside blocks."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n_parts"))
        .withColumn("blk", F.split("p_name", " ").getItem(1))
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(dist <= FUZZY_MAX_DIST)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("long").alias("dist"),
            F.col("a.n_parts").alias("n_a"),
            F.col("b.n_parts").alias("n_b"),
        )
        .orderBy("name_a", "name_b")
    )


WINSOR_LO = 0.05
WINSOR_HI = 0.95


def winsorized_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type value statistics: the p05/p95 winsorized
    mean (values clipped into the percentile band before averaging)
    plus how many rows were clipped on each side — the outlier-resistant
    aggregate a metrics pipeline publishes when raw means are distorted
    by heavy tails.

    Plan: pass 1 computes the two exact percentiles per type (the
    oracle-checkable baseline; the 100 TB form swaps in
    ``approx_percentile`` — same contract as
    relational_ext.price_quantiles_by_flag); the |types|-row band table
    broadcasts back onto the events scan for the clip + aggregate pass.
    Two scans, shuffles only on the tiny type key."""
    # determinism (r7 ADVICE): everything runs on an EXACT integer grid.
    # ``value`` is cent-precise, so round(value*100) is never near a .5
    # tie; the interpolated percentile of integer cents at a 0.05-multiple
    # fraction is a multiple of 0.05 cents (± float eps ≪ 0.5 milli-cent),
    # so round(*1000) snaps both engines to the SAME milli-cent integer
    # bound.  Clipping, the clip counters and the mean numerator are then
    # pure BIGINT arithmetic; each published double is ONE division of
    # exact integers — bit-identical across engines, no round() anywhere
    # on a ratio (timeseries.py determinism note).
    evc = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_cent"),
    )
    bands = evc.groupBy("event_type").agg(
        F.round(F.expr(f"percentile(v_cent, {WINSOR_LO})") * 1000)
        .cast("long")
        .alias("lo_mc"),
        F.round(F.expr(f"percentile(v_cent, {WINSOR_HI})") * 1000)
        .cast("long")
        .alias("hi_mc"),
    )
    v_mc_raw = F.col("v_cent") * 1000
    clipped = evc.join(F.broadcast(bands), "event_type").select(
        "event_type",
        "lo_mc",
        "hi_mc",
        F.least(F.greatest(v_mc_raw, F.col("lo_mc")), F.col("hi_mc")).alias(
            "v_mc"
        ),
        (v_mc_raw < F.col("lo_mc")).cast("long").alias("below"),
        (v_mc_raw > F.col("hi_mc")).cast("long").alias("above"),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.min("lo_mc") / F.lit(100000)).alias("p05"),
            (F.min("hi_mc") / F.lit(100000)).alias("p95"),
            (F.sum("v_mc") / (F.lit(100000) * F.count("*"))).alias(
                "winsorized_mean"
            ),
            F.sum("below").alias("n_clipped_low"),
            F.sum("above").alias("n_clipped_high"),
        )
        .orderBy("event_type")
    )


# one JSONL export per (session, corpus) — the ingest fixture the
# round-trip audit reads; same memo discipline as dedup's LSH index
_JSONL = SessionMemo(remove_dir)

JSONL_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _documents_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    def build() -> str:
        d = tempfile.mkdtemp(prefix="esspark-jsonl-")
        load_table(spark, sf_dir, "documents").write.mode("overwrite").json(d)
        return d

    return _JSONL.get(spark, (sf_dir,), build)


def jsonl_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-ingest audit for the JSONL source path: documents are
    exported once to JSON-lines (the interchange format most text
    pipelines ingest), read back with an EXPLICIT schema (no inference
    scan — at 100 TB schema inference is a second full read), and
    fingerprinted per (source, lang); the DuckDB oracle computes the
    same fingerprints from the original parquet, so any encode/decode
    mangling (unicode escapes, embedded quotes/newlines, integer
    widening) breaks the hash.

    Plan: JSONL is line-splittable, so the read parallelizes like
    parquet minus column pruning; one map-side-combinable aggregation.
    The md5-distinct fingerprint shuffles 32-hex strings, never text
    (the column_profile discipline)."""
    docs = spark.read.schema(JSONL_SCHEMA).json(
        _documents_jsonl_dir(spark, sf_dir)
    )
    g = docs.groupBy("source", "lang", F.md5("text").alias("h")).agg(
        F.count("*").alias("c"), F.sum("n_chars").alias("chars")
    )
    return (
        g.groupBy("source", "lang")
        .agg(
            F.sum("c").alias("n_docs"),
            F.count("*").alias("n_distinct_text"),
            F.sum("chars").alias("sum_chars"),
        )
        .orderBy("source", "lang")
    )


# approx-percentile audit: rank tolerance for the contract window and
# the sketch accuracy (rank error 1/ACC << DELTA, so the booleans are
# stable under any partition-merge order)
QTILE_DELTA = 0.01
QTILE_ACC = 10_000
QTILE_PCTS = (0.5, 0.95)


def approx_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract gate for the APPROXIMATE percentile path: at 100 TB the
    exact ``percentile`` (full sort per group) is replaced by
    ``approx_percentile`` (mergeable sketch, one pass) — this query runs
    BOTH per event type and asserts the sketch lands inside the exact
    rank window [p−δ, p+δ] (δ = 1%, sketch rank error 1/10000 — two
    orders of margin).  The published columns are the EXACT percentiles
    (milli-cent integer grid — the winsorized discipline, so both
    engines agree bit-for-bit) plus the pass/fail booleans; the oracle
    recomputes the exact values and expects TRUE, so a sketch
    regression (or a partition-merge-order drift past the window) turns
    the hash gate red instead of silently shipping bad quantiles.

    Plan: one groupBy computes the exact interpolated percentiles AND
    the sketch in the same aggregate — one shuffle on the tiny type
    key; the 100 TB form keeps only the sketch column."""
    evc = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_cent"),
    )
    lo_p, hi_p = QTILE_PCTS
    exact_mc = {
        p: F.round(F.expr(f"percentile(v_cent, {p})") * 1000).cast("long")
        for p in QTILE_PCTS
    }
    band_mc = {
        p: (
            F.round(F.expr(f"percentile(v_cent, {max(p - QTILE_DELTA, 0.0)})") * 1000)
            .cast("long"),
            F.round(F.expr(f"percentile(v_cent, {min(p + QTILE_DELTA, 1.0)})") * 1000)
            .cast("long"),
        )
        for p in QTILE_PCTS
    }
    approx_mc = {
        p: (
            F.expr(
                f"approx_percentile(v_cent, {p}, {QTILE_ACC})"
            ).cast("long")
            * 1000
        )
        for p in QTILE_PCTS
    }
    agg = evc.groupBy("event_type").agg(
        F.count("*").alias("n"),
        exact_mc[lo_p].alias("p50_mc"),
        exact_mc[hi_p].alias("p95_mc"),
        band_mc[lo_p][0].alias("p50_lo_mc"),
        band_mc[lo_p][1].alias("p50_hi_mc"),
        band_mc[hi_p][0].alias("p95_lo_mc"),
        band_mc[hi_p][1].alias("p95_hi_mc"),
        approx_mc[lo_p].alias("a50_mc"),
        approx_mc[hi_p].alias("a95_mc"),
    )
    return (
        agg.select(
            "event_type",
            "n",
            (F.col("p50_mc") / F.lit(100000)).alias("p50_exact"),
            (F.col("p95_mc") / F.lit(100000)).alias("p95_exact"),
            (
                (F.col("a50_mc") >= F.col("p50_lo_mc"))
                & (F.col("a50_mc") <= F.col("p50_hi_mc"))
            ).alias("p50_sketch_ok"),
            (
                (F.col("a95_mc") >= F.col("p95_lo_mc"))
                & (F.col("a95_mc") <= F.col("p95_hi_mc"))
            ).alias("p95_sketch_ok"),
        )
        .orderBy("event_type")
    )


DRIFT_MOD = 4  # docs with doc_id % 4 == 3 play the incoming batch
DRIFT_TOP = 20  # most-drifted tokens reported


def corpus_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between the standing corpus and an
    arriving batch (fixture split: ``doc_id % DRIFT_MOD == 3`` plays
    today's crawl — the convention of dedup_incremental/cc_append):
    per-token probability under each side, the ``DRIFT_TOP`` tokens with
    the largest absolute probability shift, and each token's
    contribution to the Jensen–Shannon divergence — the nightly check
    that catches a crawler source going off-distribution BEFORE the
    batch is admitted into a 100 TB corpus.

    Plan: one exploded scan with a conditional-sum groupBy(token) (both
    sides counted in ONE aggregate — no second scan, no join), a 1-row
    totals broadcast, and a global top-k via ``orderBy().limit()`` →
    TakeOrderedAndProject (per-partition heaps; the token table never
    passes through a single-partition window).

    Determinism: counts are integers; probabilities are single exact
    IEEE divisions, so their differences and the sort order are
    bit-identical across engines (ties broken by token); only the
    ln-based JS contribution is transcendental and is rounded to 6
    decimals per row (never aggregated) — the pow()/cosine convention
    (mix_temperature_weights, similarity.py).  Like those sites, a
    round-to-6 cannot fully rule out a cross-engine boundary straddle
    when ln() differs in the last ulp — accepted, same convention.

    Empty-side convention: a side with ZERO total tokens (corpus slice
    where no doc falls on that side of the modulus) is the zero
    measure — its per-token probability is 0.0, not null, so
    ``abs_drift`` degrades to the other side's probability and the JS
    contribution to ``p·ln(2)/2`` instead of flipping the gate red
    with a null signature."""
    is_batch = F.col("doc_id") % DRIFT_MOD == DRIFT_MOD - 1
    toks = load_table_balanced(spark, sf_dir, "documents").select(
        is_batch.alias("is_batch"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(~F.col("is_batch"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corpus"),
        F.sum(F.when(F.col("is_batch"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_batch"),
    )
    tot = counts.agg(
        F.sum("n_corpus").cast("bigint").alias("t_corpus"),
        F.sum("n_batch").cast("bigint").alias("t_batch"),
    )
    # empty-side guard: t_* == 0 ⇒ that side is the zero measure (0.0,
    # never null/NaN); n_* > 0 implies t_* > 0, so the division below
    # only ever runs with a positive denominator
    p_c = F.when(F.col("t_corpus") > 0, F.col("n_corpus") / F.col("t_corpus")).otherwise(
        F.lit(0.0)
    )
    p_b = F.when(F.col("t_batch") > 0, F.col("n_batch") / F.col("t_batch")).otherwise(
        F.lit(0.0)
    )
    m = (p_c + p_b) / 2
    js = (
        F.when(F.col("n_corpus") > 0, p_c * F.log(p_c / m)).otherwise(F.lit(0.0))
        + F.when(F.col("n_batch") > 0, p_b * F.log(p_b / m)).otherwise(F.lit(0.0))
    ) / 2
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "n_corpus",
            "n_batch",
            p_c.alias("p_corpus"),
            p_b.alias("p_batch"),
            F.abs(p_c - p_b).alias("abs_drift"),
            F.round(js, 6).alias("js_contrib"),
        )
        .orderBy(F.desc("abs_drift"), F.asc("token"))
        .limit(DRIFT_TOP)
    )


def quality_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration cross-tab between the MODEL-based quality scorer
    (text.quality_model_score — hashed-feature linear classifier) and
    the HEURISTIC score (text.quality_score_col): per (model-score
    band × heuristic score) cell, membership and how many the model
    keeps — the agreement audit run before swapping a new quality
    filter into the pipeline (does the model agree with the rules it
    replaces, and where exactly do they diverge?).

    Plan: both scores are pure map-only column expressions over ONE
    corpus scan, then a single map-side-combinable groupBy over
    |bands × heuristic levels| groups (≤ ~100 cells) — no joins, no
    windows; the 100 TB cost is the scan it shares with scoring itself.

    Determinism: the model band is ``floor`` of the exact-integer-
    division mean logit (one IEEE divide + floor — bit-portable, the
    pack_sequences argument); the heuristic score takes 4 discrete
    literal-sum values, exact as group keys; all measures are integer
    counts."""
    from elastic_stream_spark.operators.text import (
        QM_BUCKETS,
        QM_THRESH_DEN,
        QM_THRESH_NUM,
        QM_WEIGHTS,
        quality_score_col,
    )

    d = load_table_balanced(spark, sf_dir, "documents")
    t = F.split(F.lower(F.col("text")), " ")
    warr = F.array(*[F.lit(w) for w in QM_WEIGHTS])
    bucket = lambda tok: (  # noqa: E731 — column lambda
        F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("int") % QM_BUCKETS
    )
    logit = F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, tok: acc + F.element_at(warr, bucket(tok) + 1),
    )
    scored = d.select(
        F.size(t).alias("n_tokens"),
        logit.alias("logit_sum"),
        quality_score_col().alias("q_heur"),
    )
    return (
        scored.select(
            F.floor(F.col("logit_sum") / F.col("n_tokens"))
            .cast("bigint")
            .alias("model_band"),
            "q_heur",
            (
                F.col("logit_sum") * QM_THRESH_DEN
                >= F.lit(QM_THRESH_NUM) * F.col("n_tokens")
            ).alias("keep_model"),
        )
        .groupBy("model_band", "q_heur")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep_model"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_keep_model"),
        )
        .orderBy("model_band", "q_heur")
    )


QUERIES = {
    "key_skew_audit": key_skew_audit,
    "column_profile": column_profile,
    "fuzzy_name_match": fuzzy_name_match,
    "winsorized_event_stats": winsorized_event_stats,
    "jsonl_roundtrip_audit": jsonl_roundtrip_audit,
    "approx_quantile_audit": approx_quantile_audit,
    "corpus_drift_audit": corpus_drift_audit,
    "quality_calibration_audit": quality_calibration_audit,
}

_PROFILE_LONG_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS value FROM documents"
    for c in PROFILE_COLS
)

ORACLES = {
    "key_skew_audit": f"""
        WITH c AS (
          SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows
          FROM lineitem GROUP BY l_suppkey
        ), t AS (
          SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c
        ), top AS (
          SELECT * FROM c ORDER BY n_rows DESC, l_suppkey LIMIT {SKEW_TOP}
        )
        SELECT l_suppkey, n_rows,
               CAST(n_rows AS DOUBLE) / total AS share,
               CAST(sum(n_rows) OVER (
                       ORDER BY n_rows DESC, l_suppkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS DOUBLE) / total AS cum_share,
               CAST(row_number() OVER (ORDER BY n_rows DESC, l_suppkey)
                    AS BIGINT) AS rank
        FROM top CROSS JOIN t
        ORDER BY rank
    """,
    "column_profile": f"""
        WITH long AS ({_PROFILE_LONG_SQL})
        SELECT col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count(value) AS BIGINT) AS n_null,
               CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
               CAST(min(length(value)) AS BIGINT) AS min_len,
               CAST(max(length(value)) AS BIGINT) AS max_len,
               CAST(sum(length(value)) AS DOUBLE) / count(value) AS avg_len
        FROM long GROUP BY col_name
        ORDER BY col_name
    """,
    "fuzzy_name_match": f"""
        WITH names AS (
          SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
                 string_split(p_name, ' ')[2] AS blk
          FROM part GROUP BY p_name
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
               a.n_parts AS n_a, b.n_parts AS n_b
        FROM names a JOIN names b
          ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
        ORDER BY name_a, name_b
    """,
    "winsorized_event_stats": f"""
        WITH c AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS v_cent
          FROM events
        ), bands AS (
          SELECT event_type,
                 CAST(round(quantile_cont(v_cent, {WINSOR_LO}) * 1000)
                      AS BIGINT) AS lo_mc,
                 CAST(round(quantile_cont(v_cent, {WINSOR_HI}) * 1000)
                      AS BIGINT) AS hi_mc
          FROM c GROUP BY event_type
        ), clipped AS (
          SELECT c.event_type, b.lo_mc, b.hi_mc,
                 least(greatest(c.v_cent * 1000, b.lo_mc), b.hi_mc) AS v_mc,
                 CAST(c.v_cent * 1000 < b.lo_mc AS BIGINT) AS below,
                 CAST(c.v_cent * 1000 > b.hi_mc AS BIGINT) AS above
          FROM c JOIN bands b USING (event_type)
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               min(lo_mc) / 100000 AS p05,
               min(hi_mc) / 100000 AS p95,
               CAST(sum(v_mc) AS BIGINT)
                 / (100000 * count(*)) AS winsorized_mean,
               CAST(sum(below) AS BIGINT) AS n_clipped_low,
               CAST(sum(above) AS BIGINT) AS n_clipped_high
        FROM clipped
        GROUP BY event_type
        ORDER BY event_type
    """,
    # oracle reads the ORIGINAL parquet — equality proves the JSONL
    # export/read cycle was byte-lossless
    # exact side recomputed on the same milli-cent grid; the booleans
    # are the CONTRACT — the oracle expects TRUE, so a sketch landing
    # outside the ±1%-rank window turns the hash gate red
    "corpus_drift_audit": f"""
        WITH tok AS (
          SELECT (doc_id % {DRIFT_MOD} = {DRIFT_MOD - 1}) AS is_batch,
                 unnest(string_split(lower(text), ' ')) AS token
          FROM documents
        ), counts AS (
          SELECT token,
                 CAST(sum(CASE WHEN NOT is_batch THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corpus,
                 CAST(sum(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_batch
          FROM tok GROUP BY token
        ), tot AS (
          SELECT CAST(sum(n_corpus) AS BIGINT) AS t_corpus,
                 CAST(sum(n_batch) AS BIGINT) AS t_batch
          FROM counts
        ), probs AS (
          -- empty-side guard (matches the Spark side): a zero side
          -- total is the zero measure, probability 0.0 not null
          SELECT token, n_corpus, n_batch,
                 CASE WHEN t_corpus > 0 THEN n_corpus / t_corpus
                      ELSE 0.0 END AS p_corpus,
                 CASE WHEN t_batch > 0 THEN n_batch / t_batch
                      ELSE 0.0 END AS p_batch
          FROM counts CROSS JOIN tot
        ), scored AS (
          SELECT token, n_corpus, n_batch, p_corpus, p_batch,
                 abs(p_corpus - p_batch) AS abs_drift,
                 round((
                   CASE WHEN n_corpus > 0
                        THEN p_corpus
                             * ln(p_corpus / ((p_corpus + p_batch) / 2))
                        ELSE 0 END
                 + CASE WHEN n_batch > 0
                        THEN p_batch
                             * ln(p_batch / ((p_corpus + p_batch) / 2))
                        ELSE 0 END) / 2, 6) AS js_contrib
          FROM probs
        )
        SELECT * FROM scored
        ORDER BY abs_drift DESC, token LIMIT {DRIFT_TOP}
    """,
    "quality_calibration_audit": """
        WITH toks AS (
          SELECT doc_id, text, string_split(lower(text), ' ') AS t
          FROM documents
        ), scored AS (
          SELECT len(t) AS n_tokens,
                 CAST(list_sum(list_transform(t,
                     tok -> (__QM_W__)[
                       (('0x' || substr(md5(tok), 1, 4))::INT % __QM_B__) + 1
                     ])) AS BIGINT) AS logit_sum,
                 round(
                   (CASE WHEN len(t) >= 30 THEN 0.4 ELSE 0.1 END)
                 + (CASE WHEN len(list_filter(t, x -> x IN __STOP__))
                           * 1.0 / len(t) >= 0.02
                      AND len(list_filter(t, x -> x IN __STOP__))
                           * 1.0 / len(t) <= 0.4
                    THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN (length(text) - len(t) + 1) * 1.0 / len(t) >= 3
                      AND (length(text) - len(t) + 1) * 1.0 / len(t) <= 8
                    THEN 0.3 ELSE 0.0 END)
                 , 4) AS q_heur
          FROM toks
        )
        SELECT CAST(floor(logit_sum * 1.0 / n_tokens) AS BIGINT) AS model_band,
               q_heur,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN logit_sum * __QM_TD__ >= __QM_TN__ * n_tokens
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_model
        FROM scored
        GROUP BY model_band, q_heur
        ORDER BY model_band, q_heur
    """,
    "approx_quantile_audit": f"""
        WITH c AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS v_cent
          FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(quantile_cont(v_cent, {QTILE_PCTS[0]}) * 1000)
                    AS BIGINT) / 100000 AS p50_exact,
               CAST(round(quantile_cont(v_cent, {QTILE_PCTS[1]}) * 1000)
                    AS BIGINT) / 100000 AS p95_exact,
               TRUE AS p50_sketch_ok,
               TRUE AS p95_sketch_ok
        FROM c GROUP BY event_type ORDER BY event_type
    """,
    "jsonl_roundtrip_audit": """
        WITH g AS (
          SELECT source, lang, md5(text) AS h,
                 count(*) AS c,
                 CAST(sum(n_chars) AS BIGINT) AS chars
          FROM documents GROUP BY source, lang, h
        )
        SELECT source, lang,
               CAST(sum(c) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_distinct_text,
               CAST(sum(chars) AS BIGINT) AS sum_chars
        FROM g GROUP BY source, lang
        ORDER BY source, lang
    """,
}

# the calibration oracle shares the frozen scorer constants with text.py
# (single source of truth — a weight edit there must flow here)
from elastic_stream_spark.operators.text import (  # noqa: E402
    _QM_W_SQL,
    _STOP_SQL,
    QM_BUCKETS as _QM_B,
    QM_THRESH_DEN as _QM_TD,
    QM_THRESH_NUM as _QM_TN,
)

ORACLES["quality_calibration_audit"] = (
    ORACLES["quality_calibration_audit"]
    .replace("__QM_W__", _QM_W_SQL)
    .replace("__QM_B__", str(_QM_B))
    .replace("__QM_TD__", str(_QM_TD))
    .replace("__QM_TN__", str(_QM_TN))
    .replace("__STOP__", _STOP_SQL)
)
