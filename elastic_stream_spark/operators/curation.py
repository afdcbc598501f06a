"""Training-data curation operators (north-star, beyond the reference).

The four ops a large-scale LLM data pipeline runs after dedup
(``operators/dedup.py``) and quality scoring (``operators/text.py``):

- **decontaminate_ngrams** — train/test decontamination: flag every
  training document that shares a word-5-gram with the held-out eval set.
  The eval n-gram set is aggregated small (distinct n-grams of the eval
  docs) and the probe is an equi-join on the n-gram — candidates ∝
  co-occurrence, never |train| × |eval|.  At 100 TB the eval side of a
  real benchmark suite is a few million n-grams → broadcast join; the
  train side stays one exploded scan with map-side distinct.
- **pipeline_pack_sequences** — sequence packing: assign documents to
  fixed token-budget bins (context windows) in deterministic order.
  Formulated as a running-sum window per source shard, so packing is
  embarrassingly parallel across shards — the partition key IS the
  training-shard key, exactly how a 1000-executor packing job shards.
- **pipeline_sample_mix** — deterministic stratified sampling to hit
  per-source mix targets: keep a doc iff the first 16 bits of
  ``md5(source:doc_id)`` fall under the source's rate threshold.
  Hash-gated sampling is reproducible, join-free, and shuffle-free
  (the verdict per row is a pure projection); the same hash prefix
  compares identically in any engine, which is what makes the mix
  oracle-checkable.
- **text_pii_redact** — PII scrubbing: regex redaction of emails and
  phone-like tokens with per-source audit counts.  The fixture corpus
  contains no PII, so a *planted-dirty* derivation (same pattern as the
  planted-twin embedding corpus, similarity.py) injects deterministic
  emails/phones by column expression — the oracle derives the identical
  dirty corpus in SQL, so redaction semantics are hash-checked end to
  end.  One linear scan, all JVM ``regexp_*`` codegen — no UDF.

Reference parity note: the reference engine stops at the storage/stream
layer (its payloads are opaque bytes — components/model/src/record.rs);
these operators are the data-plane consumers a training pipeline mounts
on top, expressed Spark-first per SURVEY.md §2.9/§6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from elastic_stream_spark.functions.textfns import FP_TERM_MOD
from elastic_stream_spark.operators.text import (
    _STOP_SQL,
    QUALITY_SQL,
    quality_score_col,
)
from elastic_stream_spark.sources.envelope import load_table_balanced

NGRAM_N = 5  # word n-gram width for decontamination
EVAL_MOD = 10  # eval set = doc_id % EVAL_MOD == 0 (deterministic 10% holdout)
# Broadcast guard for the eval side of decontaminate_ngrams (r15
# VERDICT items 2/"next round" 3): the fixture's "eval holdout" is a
# modulus SLICE of the corpus, so its distinct-n-gram table grows ∝
# corpus — a real deployment's holdout is a fixed benchmark set, but
# the code must not assume that.  Below the bound the eval side is
# broadcast explicitly (the verified 100 TB-holdout plan); above it the
# hint is dropped and Catalyst plans a shuffle join.  Sizing: ≤ 25k
# eval docs × ~300 distinct 5-grams/doc × ~50 B ≈ 0.4 GB built — safely
# inside the 8 GB broadcast cap with executor-memory headroom.  The
# guard reads the memoized corpus row count (one count job per session,
# warm in the bench), so the hint choice is deterministic per fixture
# and NEVER changes results — only the join strategy.
EVAL_BROADCAST_MAX_DOCS = 25_000
PACK_BUDGET = 512  # tokens per packed context window
# stratified-mix thresholds on the first 16 bits of md5: even-numbered
# sources keep ~50% ('7fff'), odd-numbered ~25% ('3fff')
RATE_HEX_EVEN, RATE_HEX_ODD = "7fff", "3fff"
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"555-[0-9]{4}"
# repetition thresholds (word-level analogues of the published Gopher /
# RefinedWeb repetition filters): flag when >20% of 2-grams are repeats
# or one token is >30% of the document
REP_DUP2_MAX = 0.2
REP_TOPTOK_MAX = 0.3
SOURCE_CAP = 15  # max documents any one source may contribute
# deterministic split thresholds on the first 16 bits of md5("split:"+id):
# < 0x0ccc → val (~5%), < 0x1999 → test (~5% more), else train (~90%)
SPLIT_VAL_HEX, SPLIT_TEST_HEX = "0ccc", "1999"
# group-split gates are WIDER (~15%/15%): the fixture has only 20
# sources, so 5% gates can strand val/test empty (a 1-row result gates
# nothing); at 10^8 domains the same machinery runs at any fraction
GSPLIT_VAL_HEX, GSPLIT_TEST_HEX = "2666", "4ccc"
N_QUALITY_BUCKETS = 4  # curriculum tiers per source (quality quartiles)
MIX_ALPHA = 0.3  # temperature exponent for source upsampling (mT5 / XLM-R)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table_balanced(spark, sf_dir, "documents")


def _word_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, g): distinct word n-grams per document — one exploded
    scan; ``transform`` over a ``sequence`` index builds the n-gram list
    JVM-side (no Python)."""
    toks = F.split(F.lower(F.col("text")), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    return docs.where(F.size(toks) >= n).select(
        "doc_id", F.explode(grams).alias("g")
    )


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs contaminated by the eval holdout: any shared
    word-5-gram flags the doc; output = (doc_id, shared_ngrams), the
    audit list a curation pipeline subtracts before training.

    Plan: eval-side distinct n-grams (small by construction — the eval
    set is a fixed holdout) equi-join the train-side inverted scan, then
    a per-doc count.  r15: the eval side is broadcast EXPLICITLY instead
    of left to size estimates (the 100 TB physical plan in code, not in
    a comment).  The exploded
    n-gram table is deliberately NOT persisted: an interleaved best-of-3
    A/B (standalone + both composed consumers) put the persisted variant
    consistently behind the lazy one (decon 1.10 vs 1.02, verdict 1.86
    vs 1.68, end-to-end 2.25 vs 2.00 s) — the persist's count job costs
    more than re-deriving the map-only explode twice.  No pair explosion
    is possible (join key is the n-gram, output ∝ true overlap)."""
    ng = _word_ngrams(_docs(spark, sf_dir), NGRAM_N)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_ng = ng.where(is_eval).select("g").distinct()
    # size-guarded broadcast (see EVAL_BROADCAST_MAX_DOCS): identical
    # join result either way, only the physical strategy changes
    from elastic_stream_spark.sources.envelope import table_rows

    n_eval_docs = table_rows(spark, sf_dir, "documents") // EVAL_MOD
    if n_eval_docs <= EVAL_BROADCAST_MAX_DOCS:
        eval_ng = F.broadcast(eval_ng)
    return (
        ng.where(~is_eval)
        .join(eval_ng, "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("shared_ngrams"))
        .orderBy("doc_id")
    )


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy in-order sequence packing: per source shard, documents are
    packed into 512-token context windows by running token count; bin k
    holds the docs whose preceding cumulative tokens fall in
    [k·512, (k+1)·512).  Output = per (source, bin) doc count and token
    total — the packing manifest.

    The window is partitioned by ``source`` (the shard key), so packing
    parallelizes across shards with one shuffle; no shard's documents
    ever leave their partition.  At 100 TB the shard key would be the
    output-file key — same plan."""
    docs = _docs(spark, sf_dir).select(
        "source", "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = docs.withColumn(
        "bin",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / PACK_BUDGET).cast(
            "long"
        ),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
        .orderBy("source", "bin")
    )


def pipeline_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling toward a target source mix:
    even-numbered sources keep ~50% of docs, odd-numbered ~25%, gated by
    the first 16 bits of ``md5(source:doc_id)`` — reproducible across
    engines and runs, no RNG state, no shuffle for the keep decision.
    Output = per-source totals, kept counts, and the realized fraction
    (the mix report a data-recipe run emits)."""
    docs = _docs(spark, sf_dir)
    src_num = F.substring("source", 4, 10).cast("int")
    threshold = F.when(src_num % 2 == 0, F.lit(RATE_HEX_EVEN)).otherwise(
        F.lit(RATE_HEX_ODD)
    )
    gate = F.substring(
        F.md5(F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string"))), 1, 4
    )
    kept = F.when(gate < threshold, 1).otherwise(0)
    return (
        docs.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            (F.sum("kept") / F.count("*")).alias("kept_frac"),
        )
        .orderBy("source")
    )


def _dirty_text() -> F.Column:
    """The planted-dirty corpus: deterministic emails on doc_id % 7 == 0,
    phone-like tokens on doc_id % 11 == 0 (both where the oracle can
    derive the identical bytes)."""
    email = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ok"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" now"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone)


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit over the planted-dirty corpus: per source,
    how many emails/phones were found and how many characters the
    redaction removed (``<EMAIL>`` / ``<PHONE>`` substitution).  Pure
    ``regexp_count``/``regexp_replace`` projections — whole-stage
    codegen, one scan, no UDF; the shuffle is the 20-row source agg."""
    dirty = _docs(spark, sf_dir).select("source", _dirty_text().alias("text"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return (
        dirty.select(
            "source",
            F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).alias("emails"),
            F.regexp_count(F.col("text"), F.lit(PHONE_RE)).alias("phones"),
            (F.length("text") - F.length(clean)).alias("delta"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("emails").alias("n_emails"),
            F.sum("phones").alias("n_phones"),
            F.sum("delta").alias("chars_redacted"),
        )
        .orderBy("source")
    )


SEG_WORDS = 8  # fixed segmentation width (the "paragraph" unit here)
BOILER_DF = 3  # segments in >= this many distinct docs are boilerplate


def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection — segment-level dedup across documents: cut
    every doc into fixed 8-word segments (the paragraph analogue for the
    unstructured fixture; a real corpus would split on newlines), count
    each segment's document frequency, and flag per doc how many of its
    segments are corpus-boilerplate (df ≥ 3) and how many tokens removing
    them would strip — the header/footer/nav-chrome removal step of a web
    -scale curation pipeline.

    Plan: one exploded scan → segment-df aggregate (map-side combinable)
    → semi-join back on the segment key.  Candidates ∝ true boilerplate
    occurrences; no pairwise doc comparison anywhere, so the shape is the
    inverted-index one that survives 100 TB."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.col("text")), " ")
    segs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.floor((F.size(toks) - 1) / SEG_WORDS).cast("int")),
            lambda k: F.concat_ws(" ", F.slice(toks, k * SEG_WORDS + 1, SEG_WORDS)),
        )
    )
    seg = docs.where(F.size(toks) >= SEG_WORDS).select(
        "doc_id", F.explode(segs).alias("s")
    )
    boiler = (
        seg.groupBy("s")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= BOILER_DF)
        .select("s")
    )
    return (
        seg.join(boiler, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_boiler_segments"),
            F.sum(F.size(F.split(F.col("s"), " "))).alias("tokens_removed"),
        )
        .orderBy("doc_id")
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals — word-level analogues of the published
    Gopher / RefinedWeb repetition filters: per document, the fraction of
    2-grams that are repeats (``1 - distinct/total``) and the share of
    the single most frequent token, flagged past REP_* thresholds.

    Plan: one scan computes token/2-gram counts as array expressions
    (JVM codegen, no Python); the top-token mode needs a real
    distribution, so tokens explode into a (doc_id, tok) groupBy —
    map-side combinable, two key-partitioned shuffles, no window over
    raw tokens.  The per-doc array expressions are computed in their OWN
    projection BELOW the explode: an expression sharing a select with a
    generator lands in the Project ABOVE Generate and is re-evaluated
    once per exploded row — measured 150× amplification (9.7 s → ~1.0 s
    at sf0.1 when split).  Fractions are UNROUNDED exact-integer
    divisions (bit-identical across engines; timeseries.py note)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.col("text")), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
    )
    stats = docs.where(F.size(toks) >= 2).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(grams).alias("n2"),
        F.size(F.array_distinct(grams)).alias("d2"),
        toks.alias("t"),
    )
    base = stats.select(
        "doc_id", "n_tokens", "n2", "d2", F.explode("t").alias("tok")
    )
    per_tok = base.groupBy("doc_id", "tok").agg(
        F.count("*").alias("c"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("n2").alias("n2"),
        F.first("d2").alias("d2"),
    )
    per_doc = per_tok.groupBy("doc_id").agg(
        F.max("c").alias("top_c"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("n2").alias("n2"),
        F.first("d2").alias("d2"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_tokens",
            ((F.col("n2") - F.col("d2")) / F.col("n2")).alias("dup_2gram_frac"),
            (F.col("top_c") / F.col("n_tokens")).alias("top_tok_frac"),
        )
        .withColumn(
            "flagged",
            (F.col("dup_2gram_frac") > REP_DUP2_MAX)
            | (F.col("top_tok_frac") > REP_TOPTOK_MAX),
        )
        .orderBy("doc_id")
    )


def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the per-domain quota step of a web-corpus
    pipeline — e.g. C4 / RefinedWeb cap how much any one host may
    contribute): keep the top ``SOURCE_CAP`` documents per source, ranked
    by a deterministic priority (longest first, doc_id tiebreak).

    Plan: ONE ``row_number`` window per source with the ``rk <= cap``
    filter directly on top.  Spark's rank-limit optimization rewrites
    this into a ``WindowGroupLimit`` — a map-side partial top-N per key
    BEFORE the shuffle (asserted in tests/test_plans.py) — so per-key
    sort state is O(cap) on every executor and a hot domain with 10⁹
    pages shuffles only ``cap`` survivors per map partition, not its
    whole row set.  That is the two-phase top-N a 1000-executor quota
    job needs, obtained declaratively."""
    docs = _docs(spark, sf_dir).select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= SOURCE_CAP)
        .select("source", "doc_id", "n_chars", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("source", "rk")
    )


def corpus_split_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split + training-shard assignment —
    the last step before a corpus is written out for a training run:
    every document lands in a split (hash-gated, ~5% val / ~5% test /
    ~90% train) and a shard (one md5 hex nibble → 16 shards) purely as a
    function of its id, so the assignment is reproducible, independent
    of data order, and identical in any engine.

    Plan: the split/shard columns are a pure projection (one md5 per
    row, no shuffle); the summary is ONE map-side-combinable groupBy on
    (split, shard).  At 100 TB the production form of this operator is
    ``df.write.partitionBy("split", "shard")`` over the same projection
    — assignment cost stays map-only at any corpus size, and shard
    counts stay balanced because the hash is uniform.  Contrast with
    ``orderBy(rand())`` global shuffles: hash-sharding gives the same
    training-order decorrelation with zero sort."""
    docs = _docs(spark, sf_dir)
    h = F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    prefix = F.substring(h, 1, 4)
    split = (
        F.when(prefix < SPLIT_VAL_HEX, F.lit("val"))
        .when(prefix < SPLIT_TEST_HEX, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    toks = F.split(F.lower(F.col("text")), " ")
    return (
        docs.select(
            split.alias("split"),
            F.substring(h, 5, 1).alias("shard"),
            F.size(toks).alias("n_tokens"),
        )
        .groupBy("split", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("split", "shard")
    )


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit: for every pair of corpus splits, how
    many exact-duplicate contents (bag-of-words fingerprint — the
    ``dedup_exact`` key) appear on BOTH sides, and how many
    document-level duplicate pairs cross the boundary.  A val/test row
    here means the held-out split is contaminated by training data —
    the audit every split assignment must pass before a training run
    (the split hash is content-independent, so duplicates land in
    different splits freely).

    Plan: split assignment and fingerprint are pure projections; ONE
    (fp, split) aggregation builds per-split multiplicity, then a
    fp-partitioned self-join (between two rows of the same fp-keyed
    aggregate — never broadcast, candidates ∝ duplicated fingerprints
    only) and a 3×3-bounded pair aggregation.  Cross-pair count for a
    fingerprint with n_a and n_b copies is n_a·n_b (exact)."""
    docs = _docs(spark, sf_dir)
    h = F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    prefix = F.substring(h, 1, 4)
    split = (
        F.when(prefix < SPLIT_VAL_HEX, F.lit("val"))
        .when(prefix < SPLIT_TEST_HEX, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    fp = F.md5(
        F.concat_ws(
            " ",
            F.sort_array(F.array_distinct(F.split(F.lower(F.col("text")), " "))),
        )
    )
    per = (
        docs.select(fp.alias("fp"), split.alias("split"))
        .groupBy("fp", "split")
        .agg(F.count("*").alias("n"))
    )
    a = per.select("fp", F.col("split").alias("split_a"), F.col("n").alias("n_a"))
    b = per.select("fp", F.col("split").alias("split_b"), F.col("n").alias("n_b"))
    return (
        a.join(b, "fp")
        .where(F.col("split_a") < F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_shared_fps"),
            F.sum(F.col("n_a") * F.col("n_b")).alias("n_cross_pairs"),
        )
        .orderBy("split_a", "split_b")
    )


def quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum tiers: per-source quality quartiles (ntile over the
    shared heuristic quality score, doc_id tiebreak) with each tier's
    membership and score band — the bucketing a curriculum-ordered or
    quality-weighted sampler consumes.

    Plan: ONE ``ntile`` window partitioned by source (rank state is a
    running counter; the per-partition sort spills), then a
    map-side-combinable groupBy on (source, bucket).  Partitioning by
    source keeps the window shard-parallel — the global-ntile variant
    would serialize the corpus through one partition, so a production
    run over a skewed mega-source would instead switch to fixed score
    thresholds (quantile-sketch calibrated) and drop the sort entirely;
    per-source quartiles are the semantics a per-domain curriculum
    wants.  Tiebreak by doc_id makes the tier assignment total-ordered
    ⇒ engine-portable."""
    docs = _docs(spark, sf_dir)
    scored = docs.select("source", "doc_id", quality_score_col().alias("q"))
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    return (
        scored.withColumn("bucket", F.ntile(N_QUALITY_BUCKETS).over(w).cast("bigint"))
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_q"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
        )
        .orderBy("source", "bucket")
    )


def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source sampling weights (the multinomial
    smoothing of mT5 / XLM-R), on TOKEN mass — the unit a training mix
    is actually budgeted in: w_s ∝ p_s^α with α = MIX_ALPHA, i.e.
    w_s = n_s^α / Σ_t n_t^α over per-source token counts — upsampling
    small sources relative to their raw share.  Reports each source's
    raw token share, smoothed weight and the resulting boost factor;
    ``pipeline_sample_mix`` then executes such a target with its hash
    gate.

    Plan: ONE map-side-combinable token-sum per source, then a 1-row
    global aggregate broadcast back over the per-source table — no
    window over the source table, so a web-scale per-domain version
    (10⁸ domains) still runs as two tiny shuffles with O(1) reducer
    state.  The transcendental ``pow(n, α)`` agrees across engines to
    ≤ 1 ulp; 6-decimal rounding absorbs it."""
    toks = F.split(F.lower(F.col("text")), " ")
    per = (
        _docs(spark, sf_dir)
        .select("source", F.size(toks).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    )
    per = per.withColumn("na", F.pow("n_tokens", F.lit(MIX_ALPHA)))
    tot = per.agg(
        F.sum("na").alias("sum_na"), F.sum("n_tokens").alias("n_total")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            (F.col("n_tokens") / F.col("n_total")).alias("p_raw"),
            F.round(F.col("na") / F.col("sum_na"), 6).alias("weight"),
            F.round(
                (F.col("na") / F.col("sum_na"))
                / (F.col("n_tokens") / F.col("n_total")),
                4,
            ).alias("boost"),
        )
        .orderBy("source")
    )


def pack_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-boundary sequence packing — the GPT-style training layout
    where documents are concatenated per shard and CUT at fixed
    ``PACK_BUDGET``-token sequence boundaries, so one document may span
    several sequences and one sequence may hold several document
    fragments.  Output: one row per (document × sequence it touches)
    with the fragment's offset inside the document and its length — the
    span manifest an attention-masking / position-id loader consumes
    (``pipeline_pack_sequences`` is the whole-doc binning summary; this
    is the exact fragment layout).

    Plan: one running-sum window per shard key places every document at
    its concatenation offset (same shuffle as pack_sequences); the
    sequence range each document covers is a tiny integer
    ``sequence()`` explode (≤ spans per doc, NOT per token — the
    fan-out equals the output size); fragment arithmetic is pure
    integer codegen.  PACK_BUDGET is a power of two, so offset/512
    stays an exact double and floor is bit-deterministic across
    engines (same argument as pack_sequences)."""
    docs = _docs(spark, sf_dir).select(
        "source", "doc_id", F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = docs.withColumn(
        "start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    first_seq = F.floor(F.col("start") / PACK_BUDGET).cast("long")
    last_seq = F.floor(
        (F.col("start") + F.col("n_tokens") - 1) / PACK_BUDGET
    ).cast("long")
    spans = placed.select(
        "source",
        "doc_id",
        "n_tokens",
        "start",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq"),
    )
    frag_start = F.greatest(F.col("seq") * PACK_BUDGET, F.col("start"))
    frag_end = F.least(
        (F.col("seq") + 1) * PACK_BUDGET, F.col("start") + F.col("n_tokens")
    )
    return (
        spans.select(
            "source",
            F.col("seq").cast("long").alias("seq"),
            "doc_id",
            (frag_start - F.col("start")).cast("long").alias("doc_offset"),
            (frag_end - frag_start).cast("long").alias("span_len"),
        )
        .orderBy("source", "seq", "doc_id")
    )


def pack_fragmentation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cost side of cross-boundary packing (r11): ``pack_doc_spans``
    trades padding for FRAGMENTATION — documents cut at sequence
    boundaries lose attention context across the cut, so the audit a
    loader team reads before choosing a packing flavor is exactly this
    per-source table: sequences produced, documents cut at least once,
    total cut points (= fragments − docs), and the padding that remains
    (only each shard's final sequence is partial, so
    ``pad = n_seqs · PACK_BUDGET − total_tokens``).  All exact bigints
    off the span manifest.

    Plan: the span layout's per-shard window executes ONCE, feeding a
    single two-level map-side-combinable rollup chain — per-(source,
    doc) for the cut counts, then per-source.  The sequence count rides
    the same chain as ``max(seq) + 1``: the concatenation layout fills
    sequences 0..max densely per shard (a cumulative sum has no holes),
    so no distinct-seq pass and no second traversal of the corpus
    window is needed (the original two-branch + join formulation paid
    the window sort twice — r11 review finding).  At 10⁸ shards every
    aggregate stays shard-parallel."""
    spans = pack_doc_spans(spark, sf_dir)
    per_doc = spans.groupBy("source", "doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("span_len").alias("doc_tokens"),
        F.max("seq").alias("max_seq"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            (F.max("max_seq") + 1).cast("bigint").alias("n_seqs"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_spans").cast("bigint").alias("n_fragments"),
            F.sum(F.when(F.col("n_spans") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cut_docs"),
            F.sum("doc_tokens").cast("bigint").alias("total_tokens"),
        )
        .select(
            "source",
            "n_seqs",
            "n_docs",
            "n_fragments",
            "n_cut_docs",
            (F.col("n_fragments") - F.col("n_docs"))
            .cast("bigint")
            .alias("n_cuts"),
            "total_tokens",
            (F.col("n_seqs") * PACK_BUDGET - F.col("total_tokens"))
            .cast("bigint")
            .alias("pad_tokens"),
        )
        .orderBy("source")
    )


def pack_attention_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compute side of cross-boundary packing: a causal-attention
    kernel over a packed sequence of filled length L pays L·(L+1)/2
    query–key pairs, but only the block-diagonal Σ l·(l+1)/2 over its
    document fragments are INTRA-document — the rest attend across
    document boundaries and are wasted (or harmful) unless the loader
    applies a document mask.  Per source, the audit reports total causal
    pairs, intra-document pairs, the cross-document remainder, and its
    fraction — the table read (next to ``pack_fragmentation_audit``'s
    padding/cut counts) when choosing between plain concatenation,
    masked packing, and best-fit binning.  All counts are exact bigints
    off the span manifest (``pack_doc_spans``).

    Plan (100 TB): the span layout's per-shard window executes once,
    then TWO map-side-combinable rollups — per-(source, seq) to get the
    filled length and the intra-fragment pair mass in the same pass,
    then per-source.  No joins, no second corpus traversal; at 10⁸
    shards every aggregate stays shard-parallel."""
    spans = pack_doc_spans(spark, sf_dir)
    per_seq = spans.groupBy("source", "seq").agg(
        F.sum("span_len").alias("filled"),
        F.sum(
            F.expr("span_len * (span_len + 1) div 2")
        ).alias("intra"),
    )
    return (
        per_seq.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_seqs"),
            F.sum(F.expr("filled * (filled + 1) div 2"))
            .cast("bigint")
            .alias("causal_pairs"),
            F.sum("intra").cast("bigint").alias("intra_doc_pairs"),
        )
        .select(
            "source",
            "n_seqs",
            "causal_pairs",
            "intra_doc_pairs",
            (F.col("causal_pairs") - F.col("intra_doc_pairs"))
            .cast("bigint")
            .alias("cross_doc_pairs"),
            F.round(
                (F.col("causal_pairs") - F.col("intra_doc_pairs"))
                / F.col("causal_pairs"),
                4,
            ).alias("cross_frac"),
        )
        .orderBy("source")
    )


CURRICULUM_BUDGET = 50_000  # docs drawn per curriculum-weighted epoch


def curriculum_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loader-weight join (r11): combine the per-source quality
    QUARTILES (``quality_buckets``' ntile, tiebreak doc_id — portable)
    with a linear curriculum ramp — tier t carries weight
    ``n_docs(s, t) · t``, so top-quartile documents are drawn 4× as
    often as bottom-quartile — and resolve the integer sample budget
    across all (source, tier) cells by the largest-remainder (Hamilton)
    method.  This is the step that turns two published audit tables
    (quality tiers, mix weights) into the ONE integer allocation a data
    loader executes; Σ alloc == CURRICULUM_BUDGET exactly.

    Determinism: weights are products of bigints, base share is
    ``(budget · w) div W``, remainder rank ties break by (source,
    bucket) — no float ever decides a count (the epoch_schedule
    argument).

    Plan: one per-source ntile window (the quality_buckets shuffle), a
    map-side-combinable cell rollup (4 · |sources| rows), a 1-row total
    broadcast back, scalar leftover, and the Hamilton bonus as
    TakeOrdered top-k + broadcast flag join — no unpartitioned window
    anywhere (the r9-rebuilt allocator shape)."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    tiered = docs.select(
        "source", "doc_id", quality_score_col().alias("q")
    ).withColumn("bucket", F.ntile(N_QUALITY_BUCKETS).over(w).cast("bigint"))
    cells = tiered.groupBy("source", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    cells = cells.withColumn(
        "weight", (F.col("n_docs") * F.col("bucket")).cast("bigint")
    )
    tot = cells.agg(F.sum("weight").alias("w_total"))
    alloc = cells.crossJoin(F.broadcast(tot)).select(
        "source",
        "bucket",
        "n_docs",
        "weight",
        F.expr(f"({CURRICULUM_BUDGET} * weight) div w_total").alias("base_alloc"),
        F.expr(f"({CURRICULUM_BUDGET} * weight) % w_total").alias("rem"),
    )
    alloc = alloc.localCheckpoint(eager=True)  # 4·|sources| rows, reused 3×
    row = alloc.agg(
        (F.lit(CURRICULUM_BUDGET) - F.sum("base_alloc")).alias("lo")
    ).first()
    leftover = int(row["lo"] or 0)
    winners = (
        alloc.orderBy(F.desc("rem"), F.asc("source"), F.asc("bucket"))
        .limit(leftover)
        .select("source", "bucket", F.lit(1).alias("bonus"))
    )
    return (
        alloc.join(F.broadcast(winners), ["source", "bucket"], "left")
        .select(
            "source",
            "bucket",
            "n_docs",
            "weight",
            (F.col("base_alloc") + F.coalesce("bonus", F.lit(0)))
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("source", "bucket")
    )


def corpus_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/val/test split: the gate hashes the SOURCE, so
    every document of a source lands in the same split — the standard
    leakage fix when near-duplicates cluster within a domain (a per-doc
    hash split strands one copy of a boilerplate page in train and its
    twin in test; ``split_leakage_check`` measures exactly that).  By
    construction cross-split duplicate pairs can only come from
    cross-SOURCE duplication, which the near-dup operators already
    handle.  Output: per-split source/doc/token rollup.

    Plan: pure projection (one md5 per row on the group key) + one
    map-side-combinable groupBy; the group assignment needs NO
    per-group shuffle because the hash is a function of the key —
    at 10⁸ domains this is the same map-only shape."""
    docs = _docs(spark, sf_dir)
    h = F.md5(F.concat(F.lit("gsplit:"), F.col("source")))
    prefix = F.substring(h, 1, 4)
    split = (
        F.when(prefix < GSPLIT_VAL_HEX, F.lit("val"))
        .when(prefix < GSPLIT_TEST_HEX, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    toks = F.split(F.lower(F.col("text")), " ")
    return (
        docs.select(
            split.alias("split"), "source", F.size(toks).alias("n_tokens")
        )
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("split")
    )


EPOCH_BUDGET = 100_000  # documents sampled per training epoch


def epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch sample allocation: split an integer epoch budget of
    ``EPOCH_BUDGET`` document samples across sources proportionally to
    TOKEN mass, with the fractional residue resolved by the
    largest-remainder (Hamilton) method — the allocation step that turns
    a mixing-weight table (``mix_temperature_weights``) into the integer
    per-source sample counts a data loader actually draws, with
    Σ alloc == budget exactly (no source over- or under-drawn by
    rounding).

    Determinism: allocation is PURE INTEGER arithmetic — base share is
    ``(budget · n_s) div N`` and the remainder rank orders
    ``(budget · n_s) mod N`` (exact bigints; ties broken by source), so
    no float ever decides a sample count and the oracle matches
    bit-for-bit.  (The temperature variant would rank pow()-smoothed
    remainders — transcendental floors at integer boundaries are not
    engine-portable, so the published-weights path keeps raw token
    mass; temperature enters upstream via mix_temperature_weights.)

    Plan: one map-side-combinable token-sum per source, a 1-row global
    total broadcast back, then the Hamilton bonus as a real top-k —
    ``leftover`` is an O(1) scalar fetched to the driver (the standard
    limit parameterization; one row, not a collect-loop) and the bonus
    winners come from ``orderBy().limit(leftover)`` → TakeOrdered
    (per-partition heaps, leftover < |sources| rows ever move) flagged
    back onto the per-source table with a broadcast join — NO
    unpartitioned window anywhere, so a 10⁸-web-domain run never
    funnels the per-source table through one partition."""
    toks = F.split(F.lower(F.col("text")), " ")
    per = (
        _docs(spark, sf_dir)
        .select("source", F.size(toks).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    )
    tot = per.agg(F.sum("n_tokens").alias("n_total"))
    per = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(f"({EPOCH_BUDGET} * n_tokens) div n_total").alias("base_alloc"),
        F.expr(f"({EPOCH_BUDGET} * n_tokens) % n_total").alias("rem"),
    )
    per = per.localCheckpoint(eager=True)  # one scan feeds scalar + top-k + output
    # ``or 0``: on a zero-row corpus the SUM aggregate is NULL, and the
    # schedule should degrade to an empty allocation, not raise on
    # int(None) (r10 ADVICE)
    row = per.agg((F.lit(EPOCH_BUDGET) - F.sum("base_alloc")).alias("lo")).first()
    leftover = int(row["lo"] or 0)
    winners = (
        per.orderBy(F.desc("rem"), F.asc("source"))
        .limit(leftover)
        .select("source", F.lit(1).alias("bonus"))
    )
    return (
        per.join(F.broadcast(winners), "source", "left")
        .select(
            "source",
            "n_tokens",
            "base_alloc",
            "rem",
            (F.col("base_alloc") + F.coalesce("bonus", F.lit(0)))
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("source")
    )


EPOCH_SAMPLE_BUDGET = 120  # docs drawn per epoch in the executable gate


def _hamilton_doc_alloc(docs: DataFrame, budget: int) -> DataFrame:
    """(source, alloc) under the largest-remainder method over doc
    counts — the shared allocation step of ``epoch_sample`` and
    ``epoch_coverage``.  Same plan shape as ``epoch_schedule``: scalar
    leftover to the driver, TakeOrdered top-k bonus, broadcast flag —
    no unpartitioned window."""
    per = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    tot = per.agg(F.sum("n_docs").alias("n_total"))
    alloc = per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(f"({budget} * n_docs) div n_total").alias("base_alloc"),
        F.expr(f"({budget} * n_docs) % n_total").alias("rem"),
    )
    alloc = alloc.localCheckpoint(eager=True)  # |sources| rows, reused 3×
    # ``or 0``: empty corpus → NULL sum → degrade to empty allocation
    # instead of int(None) (r10 ADVICE)
    row = alloc.agg((F.lit(budget) - F.sum("base_alloc")).alias("lo")).first()
    leftover = int(row["lo"] or 0)
    winners = (
        alloc.orderBy(F.desc("rem"), F.asc("source"))
        .limit(leftover)
        .select("source", F.lit(1).alias("bonus"))
    )
    return alloc.join(F.broadcast(winners), "source", "left").select(
        "source",
        (F.col("base_alloc") + F.coalesce("bonus", F.lit(0))).alias("alloc"),
    )


def epoch_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE an epoch allocation: draw exactly ``alloc_s`` documents
    per source — the companion gate to ``epoch_schedule`` (which only
    plans the integer allocation).  Documents rank per source by
    ``md5('epoch0:' || doc_id)`` — a deterministic, reshuffling-free
    stand-in for the loader's per-epoch permutation (epoch 1 would salt
    with 'epoch1:') — and the top ``alloc_s`` of each source are drawn.
    Output per source: the draw count (== alloc exactly — the hash gate
    enforces the allocator's contract END TO END), drawn token mass,
    and an order-insensitive modular fingerprint of the drawn doc set
    (two runs agree iff they drew exactly the same documents).

    Plan: the allocation table is |sources| rows → broadcast join; the
    Hamilton bonus is the same TakeOrdered top-k + broadcast-flag shape
    as ``epoch_schedule`` (scalar leftover to the driver, NO
    unpartitioned window); the per-source draw rank is ONE window
    partitioned by source (shard-parallel — the partition key is the
    allocation key, so a 10⁸-domain run spreads across the cluster; no
    global sort); the final rollup is one map-side-combinable groupBy.

    Draw-count contract (``n_sampled == alloc`` for EVERY source, no
    degradation): under Hamilton, ``alloc_s ≤ floor(budget·n_s/N) + 1``,
    and ``floor(budget·n_s/N) ≥ n_s`` would require ``budget ≥ N`` — so
    whenever ``budget < N`` (total docs), ``alloc_s ≤ n_s`` holds for
    every source and the per-source rank can always satisfy the draw.
    ``EPOCH_SAMPLE_BUDGET`` < |docs| at every fixture scale, and the
    bound is asserted in tests/test_operators.py at budget = N-1 (the
    worst case); a budget ≥ N caller would be asking for sampling WITH
    replacement, which this operator does not implement."""
    toks = F.split(F.lower(F.col("text")), " ")
    docs = _docs(spark, sf_dir).select(
        "source", "doc_id", F.size(toks).alias("n_tokens")
    )
    alloc = _hamilton_doc_alloc(docs, EPOCH_SAMPLE_BUDGET)
    wd = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string"))),
        F.asc("doc_id"),
    )
    drawn = (
        docs.join(F.broadcast(alloc), "source")
        .withColumn("rk", F.row_number().over(wd))
        .where(F.col("rk") <= F.col("alloc"))
    )
    # shared modular-fingerprint convention (manifest_diff,
    # stream_pipeline_replay): one constant, imported — never re-typed
    fp_term = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("decimal(20,0)")
        .cast("long")
        % FP_TERM_MOD
    )
    return (
        drawn.groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_tokens").cast("bigint").alias("sampled_tokens"),
            F.sum(fp_term).cast("bigint").alias("sample_fp"),
        )
        .orderBy("source")
    )


EPOCH_COVERAGE_EPOCHS = 3  # epochs replayed by the coverage audit
TRIM_TOKEN_BUDGET = 800  # per-source token budget for the trim gate
QSWEEP_THRESHOLDS = [0.25, 0.5, 0.75, 1.0]  # quality filter operating points


def token_budget_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN-budget trim: keep each source's highest-quality
    documents, in (quality desc, doc_id) order, while the running token
    total stays within ``TRIM_TOKEN_BUDGET``; trim the rest — the
    per-domain budget enforcement a mixture schedule turns into an
    actual corpus cut (``source_cap_sample`` caps doc COUNTS; budgets
    are negotiated in tokens, which is what this gate enforces).  Keep
    rule: a doc survives iff its INCLUSIVE running total ≤ budget — the
    no-overflow convention (a doc never half-counts; a source whose
    best doc alone exceeds the budget keeps nothing, by design).

    Plan: one scan scores + token-counts every doc (pure projection),
    ONE cumulative-sum window partitioned by source (shard-parallel,
    spillable sort — the partition key is the budget key, exactly how
    a 1000-executor trim shards), then a map-side-combinable per-source
    rollup.  No joins, no global sort.

    Determinism: the order key (round-4 quality, doc_id) is
    total-ordered and engine-portable (discrete score values, integer
    tiebreak); all outputs are integer counts/sums."""
    docs = _docs(spark, sf_dir).select(
        "source",
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tokens"),
        quality_score_col().alias("q"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id"))
    cum = docs.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    kept = F.col("cum_tokens") <= TRIM_TOKEN_BUDGET
    return (
        cum.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("bigint").alias("n_trimmed"),
            F.sum(F.when(~kept, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("trimmed_tokens"),
        )
        .orderBy("source")
    )


def epoch_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch coverage audit: replay ``EPOCH_COVERAGE_EPOCHS``
    independent epoch draws (the ``epoch_sample`` mechanism, salted
    ``epoch{e}:`` per epoch) and measure, per source, how much of the
    corpus the training run has actually SEEN — total draws, distinct
    documents, and repeat draws.  This is the "did any document starve /
    over-repeat" check run before committing a sampling schedule: with
    per-epoch sampling-without-replacement, repeats only come from
    CROSS-epoch re-draws, and distinct/total quantifies exactly that.

    Plan: the allocation is the shared Hamilton top-k
    (``_hamilton_doc_alloc``, broadcast back); the E-epoch replay is a
    single explode (corpus × E rows, map-side) ranked by ONE window
    partitioned by (source, epoch) — finer-grained than the per-epoch
    operator, so MORE shard-parallel — then one rollup with an exact
    distinct (Spark expands count(distinct) to a two-phase partial
    aggregate; at 100 TB the draw table is budget·E rows ≪ corpus).
    The ranked draw is bounded by a LITERAL ``max_alloc`` first (an O(1)
    scalar off the checkpointed |sources|-row alloc table): Spark's
    rank-limit → WindowGroupLimit rewrite fires on literal bounds only,
    so this restores the map-side per-group top-k prune that the
    per-source column bound (``rk <= alloc``, applied second for
    exactness) defeats — without it the audit pays E full per-source
    sorts of the whole corpus (r10 VERDICT item 3).

    Determinism: per-epoch md5 salts are the published convention; all
    outputs are integers."""
    docs = _docs(spark, sf_dir).select("source", "doc_id")
    alloc = _hamilton_doc_alloc(docs, EPOCH_SAMPLE_BUDGET)
    row = alloc.agg(F.max("alloc").alias("ma")).first()
    max_alloc = int(row["ma"] or 0)  # or 0: empty corpus → empty draw
    epochs = F.explode(
        F.array(*[F.lit(e) for e in range(EPOCH_COVERAGE_EPOCHS)])
    ).alias("epoch")
    per_epoch = docs.join(F.broadcast(alloc), "source").select(
        "source", "doc_id", "alloc", epochs
    )
    wd = Window.partitionBy("source", "epoch").orderBy(
        F.md5(
            F.concat(
                F.lit("epoch"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
        F.asc("doc_id"),
    )
    drawn = (
        per_epoch.withColumn("rk", F.row_number().over(wd))
        .where(F.col("rk") <= F.lit(max_alloc))
        .where(F.col("rk") <= F.col("alloc"))
    )
    return (
        drawn.groupBy("source")
        .agg(
            F.lit(EPOCH_COVERAGE_EPOCHS).cast("bigint").alias("n_epochs"),
            F.count("*").cast("bigint").alias("total_draws"),
            F.countDistinct("doc_id").cast("bigint").alias("distinct_docs"),
            (F.count("*") - F.countDistinct("doc_id"))
            .cast("bigint")
            .alias("repeat_draws"),
        )
        .orderBy("source")
    )


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve of the heuristic quality filter: for each
    candidate operating point in ``QSWEEP_THRESHOLDS``, the documents
    and tokens that survive ``quality ≥ t`` — the table read before
    committing a threshold to the pipeline (how much corpus does each
    notch cost?).

    Plan: ONE corpus scan folds to a per-score table (the round-4 score
    takes 4 discrete values → 4 rows, map-side-combinable), and the
    sweep is an explode × filter over that TINY table — corpus work is
    independent of the number of thresholds swept.

    Determinism: score values and thresholds are exact literals on both
    engines (0.25/0.5/0.75/1.0 vs round-4 scores — no boundary ever
    straddles); outputs are integer sums."""
    per_score = (
        _docs(spark, sf_dir)
        .select(
            quality_score_col().alias("q"),
            F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tokens"),
        )
        .groupBy("q")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    thresholds = F.explode(
        F.array(*[F.lit(t) for t in QSWEEP_THRESHOLDS])
    ).alias("threshold")
    return (
        per_score.select("q", "n_docs", "n_tokens", thresholds)
        .where(F.col("q") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        )
        .orderBy("threshold")
    )


QUERIES = {
    "decontaminate_ngrams": decontaminate_ngrams,
    "text_boilerplate": text_boilerplate,
    "pipeline_pack_sequences": pipeline_pack_sequences,
    "pipeline_sample_mix": pipeline_sample_mix,
    "text_pii_redact": text_pii_redact,
    "text_repetition": text_repetition,
    "source_cap_sample": source_cap_sample,
    "corpus_split_shards": corpus_split_shards,
    "split_leakage_check": split_leakage_check,
    "quality_buckets": quality_buckets,
    "mix_temperature_weights": mix_temperature_weights,
    "pack_doc_spans": pack_doc_spans,
    "corpus_split_by_source": corpus_split_by_source,
    "epoch_schedule": epoch_schedule,
    "epoch_sample": epoch_sample,
    "token_budget_trim": token_budget_trim,
    "epoch_coverage": epoch_coverage,
    "quality_threshold_sweep": quality_threshold_sweep,
    "pack_fragmentation_audit": pack_fragmentation_audit,
    "pack_attention_waste_audit": pack_attention_waste_audit,
    "curriculum_mix_allocation": curriculum_mix_allocation,
}

_NGRAMS_SQL = f"""
  toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  ), ng AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, len(t) - {NGRAM_N - 1}),
             i -> array_to_string(t[i:i+{NGRAM_N - 1}], ' ')))) AS g
    FROM toks WHERE len(t) >= {NGRAM_N}
  )
"""

_DIRTY_SQL = """
  dirty AS (
    SELECT source,
           text
           || CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ok'
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
                   ELSE '' END AS text
    FROM documents
  )
"""

ORACLES = {
    "epoch_sample": f"""
        WITH docs AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS n_tokens
          FROM documents
        ), per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM docs GROUP BY source
        ), tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per
        ), alloc0 AS (
          SELECT source,
                 CAST(({EPOCH_SAMPLE_BUDGET} * n_docs) // n_total AS BIGINT)
                   AS base_alloc,
                 CAST(({EPOCH_SAMPLE_BUDGET} * n_docs) % n_total AS BIGINT)
                   AS rem
          FROM per, tot
        ), lo AS (
          SELECT CAST({EPOCH_SAMPLE_BUDGET} - sum(base_alloc) AS BIGINT)
            AS leftover
          FROM alloc0
        ), alloc AS (
          SELECT source,
                 base_alloc
                 + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                          <= leftover THEN 1 ELSE 0 END AS alloc
          FROM alloc0, lo
        ), ranked AS (
          SELECT d.source, d.doc_id, d.n_tokens, a.alloc,
                 row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('epoch0:' || CAST(d.doc_id AS VARCHAR)),
                            d.doc_id
                 ) AS rk
          FROM docs d JOIN alloc a USING (source)
        )
        SELECT source,
               count(*) AS n_sampled,
               CAST(sum(n_tokens) AS BIGINT) AS sampled_tokens,
               CAST(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          ::UBIGINT::BIGINT % {FP_TERM_MOD}) AS BIGINT)
                 AS sample_fp
        FROM ranked WHERE rk <= alloc
        GROUP BY source ORDER BY source
    """,
    "token_budget_trim": f"""
        WITH {QUALITY_SQL},
        docs AS (
          SELECT d.source, d.doc_id, qp.q,
                 len(string_split(lower(d.text), ' ')) AS n_tokens
          FROM documents d JOIN q_per_doc qp USING (doc_id)
        ), cum AS (
          SELECT source, n_tokens,
                 sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY q DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum_tokens
          FROM docs
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN cum_tokens <= {TRIM_TOKEN_BUDGET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN cum_tokens <= {TRIM_TOKEN_BUDGET}
                             THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
               CAST(sum(CASE WHEN cum_tokens > {TRIM_TOKEN_BUDGET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_trimmed,
               CAST(sum(CASE WHEN cum_tokens > {TRIM_TOKEN_BUDGET}
                             THEN n_tokens ELSE 0 END) AS BIGINT)
                 AS trimmed_tokens
        FROM cum GROUP BY source ORDER BY source
    """,
    "epoch_coverage": f"""
        WITH docs AS (
          SELECT source, doc_id FROM documents
        ), per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM docs GROUP BY source
        ), tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per
        ), alloc0 AS (
          SELECT source,
                 CAST(({EPOCH_SAMPLE_BUDGET} * n_docs) // n_total AS BIGINT)
                   AS base_alloc,
                 CAST(({EPOCH_SAMPLE_BUDGET} * n_docs) % n_total AS BIGINT)
                   AS rem
          FROM per, tot
        ), lo AS (
          SELECT CAST({EPOCH_SAMPLE_BUDGET} - sum(base_alloc) AS BIGINT)
            AS leftover
          FROM alloc0
        ), alloc AS (
          SELECT source,
                 base_alloc
                 + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                          <= leftover THEN 1 ELSE 0 END AS alloc
          FROM alloc0, lo
        ), ranked AS (
          SELECT d.source, d.doc_id, a.alloc, e.epoch,
                 row_number() OVER (
                   PARTITION BY d.source, e.epoch
                   ORDER BY md5('epoch' || CAST(e.epoch AS VARCHAR) || ':'
                                || CAST(d.doc_id AS VARCHAR)),
                            d.doc_id
                 ) AS rk
          FROM docs d
          JOIN alloc a USING (source)
          CROSS JOIN (
            SELECT unnest(generate_series(0, {EPOCH_COVERAGE_EPOCHS - 1}))
              AS epoch
          ) e
        )
        SELECT source,
               CAST({EPOCH_COVERAGE_EPOCHS} AS BIGINT) AS n_epochs,
               CAST(count(*) AS BIGINT) AS total_draws,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS distinct_docs,
               CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
                 AS repeat_draws
        FROM ranked WHERE rk <= alloc
        GROUP BY source ORDER BY source
    """,
    "quality_threshold_sweep": f"""
        WITH {QUALITY_SQL},
        scored AS (
          SELECT qp.q, len(string_split(lower(d.text), ' ')) AS n_tokens
          FROM documents d JOIN q_per_doc qp USING (doc_id)
        ), thr AS (
          SELECT unnest([{", ".join(f"{t}::DOUBLE" for t in QSWEEP_THRESHOLDS)}])
            AS threshold
        )
        SELECT t.threshold,
               CAST(count(*) AS BIGINT) AS n_docs_kept,
               CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
        FROM scored s JOIN thr t ON s.q >= t.threshold
        GROUP BY t.threshold ORDER BY t.threshold
    """,
    "epoch_schedule": f"""
        WITH per AS (
          SELECT source,
                 CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY source
        ), tot AS (
          SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM per
        ), alloc AS (
          SELECT source, n_tokens,
                 CAST(({EPOCH_BUDGET} * n_tokens) // n_total AS BIGINT)
                   AS base_alloc,
                 CAST(({EPOCH_BUDGET} * n_tokens) % n_total AS BIGINT) AS rem
          FROM per, tot
        ), lo AS (
          SELECT CAST({EPOCH_BUDGET} - sum(base_alloc) AS BIGINT) AS leftover
          FROM alloc
        ), ranked AS (
          SELECT source, n_tokens, base_alloc, rem,
                 row_number() OVER (ORDER BY rem DESC, source) AS rem_rank
          FROM alloc
        )
        SELECT source, n_tokens, base_alloc, rem,
               CAST(base_alloc
                    + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                 AS BIGINT) AS alloc
        FROM ranked, lo ORDER BY source
    """,
    "text_boilerplate": f"""
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ), seg AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(0, CAST(floor((len(t)-1)/{SEG_WORDS}) AS BIGINT)),
                   k -> array_to_string(t[k*{SEG_WORDS}+1:k*{SEG_WORDS}+{SEG_WORDS}], ' ')))) AS s
          FROM toks WHERE len(t) >= {SEG_WORDS}
        ), boiler AS (
          SELECT s FROM seg GROUP BY s
          HAVING count(DISTINCT doc_id) >= {BOILER_DF}
        )
        SELECT seg.doc_id, count(*) AS n_boiler_segments,
               CAST(sum(len(string_split(seg.s, ' '))) AS BIGINT) AS tokens_removed
        FROM seg JOIN boiler USING (s)
        GROUP BY seg.doc_id ORDER BY seg.doc_id
    """,
    "decontaminate_ngrams": f"""
        WITH {_NGRAMS_SQL},
        eval_ng AS (
          SELECT DISTINCT g FROM ng WHERE doc_id % {EVAL_MOD} = 0
        )
        SELECT n.doc_id, count(DISTINCT n.g) AS shared_ngrams
        FROM ng n JOIN eval_ng e USING (g)
        WHERE n.doc_id % {EVAL_MOD} != 0
        GROUP BY n.doc_id ORDER BY n.doc_id
    """,
    "pipeline_pack_sequences": f"""
        WITH docs AS (
          SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
          FROM documents
        ), binned AS (
          SELECT source, n_tokens,
                 CAST(floor(coalesce(sum(n_tokens) OVER (
                     PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / {PACK_BUDGET}) AS BIGINT) AS bin
          FROM docs
        )
        SELECT source, bin, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM binned GROUP BY source, bin ORDER BY source, bin
    """,
    "pipeline_sample_mix": f"""
        WITH gated AS (
          SELECT source,
                 CASE WHEN substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 4)
                        < CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                               THEN '{RATE_HEX_EVEN}' ELSE '{RATE_HEX_ODD}' END
                      THEN 1 ELSE 0 END AS kept
          FROM documents
        )
        SELECT source, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
               sum(kept) * 1.0 / count(*) AS kept_frac
        FROM gated GROUP BY source ORDER BY source
    """,
    "text_pii_redact": f"""
        WITH {_DIRTY_SQL},
        per_doc AS (
          SELECT source,
                 len(regexp_extract_all(text, '{EMAIL_RE}')) AS emails,
                 len(regexp_extract_all(text, '{PHONE_RE}')) AS phones,
                 length(text)
                   - length(regexp_replace(regexp_replace(text,
                       '{EMAIL_RE}', '<EMAIL>', 'g'), '{PHONE_RE}', '<PHONE>', 'g'))
                   AS delta
          FROM dirty
        )
        SELECT source, count(*) AS n_docs,
               CAST(sum(emails) AS BIGINT) AS n_emails,
               CAST(sum(phones) AS BIGINT) AS n_phones,
               CAST(sum(delta) AS BIGINT) AS chars_redacted
        FROM per_doc GROUP BY source ORDER BY source
    """,
    "text_repetition": f"""
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ), base AS (
          SELECT doc_id, len(t) AS n_tokens,
                 list_transform(generate_series(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i+1]) AS g2,
                 t
          FROM toks WHERE len(t) >= 2
        ), stats AS (
          SELECT doc_id, n_tokens, len(g2) AS n2,
                 len(list_distinct(g2)) AS d2
          FROM base
        ), tok_counts AS (
          SELECT doc_id, tok, count(*) AS c
          FROM (SELECT doc_id, unnest(t) AS tok FROM base)
          GROUP BY doc_id, tok
        ), top AS (
          SELECT doc_id, max(c) AS top_c FROM tok_counts GROUP BY doc_id
        ), fr AS (
          SELECT s.doc_id, s.n_tokens,
                 (s.n2 - s.d2) * 1.0 / s.n2 AS dup_2gram_frac,
                 t.top_c * 1.0 / s.n_tokens AS top_tok_frac
          FROM stats s JOIN top t ON s.doc_id = t.doc_id
        )
        SELECT doc_id, n_tokens, dup_2gram_frac, top_tok_frac,
               (dup_2gram_frac > {REP_DUP2_MAX}
                OR top_tok_frac > {REP_TOPTOK_MAX}) AS flagged
        FROM fr ORDER BY doc_id
    """,
    "source_cap_sample": f"""
        SELECT source, doc_id, n_chars, rk FROM (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rk
          FROM documents
        )
        WHERE rk <= {SOURCE_CAP}
        ORDER BY source, rk
    """,
    "pack_doc_spans": f"""
        WITH toks AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS n_tokens
          FROM documents
        ), placed AS (
          SELECT source, doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0) AS BIGINT) AS start
          FROM toks
        ), spans AS (
          SELECT source, doc_id, n_tokens, start,
                 unnest(generate_series(
                   CAST(floor(start / {PACK_BUDGET}.0) AS BIGINT),
                   CAST(floor((start + n_tokens - 1) / {PACK_BUDGET}.0) AS BIGINT)
                 )) AS seq
          FROM placed
        )
        SELECT source, CAST(seq AS BIGINT) AS seq, doc_id,
               CAST(greatest(seq * {PACK_BUDGET}, start) - start AS BIGINT)
                 AS doc_offset,
               CAST(least((seq + 1) * {PACK_BUDGET}, start + n_tokens)
                    - greatest(seq * {PACK_BUDGET}, start) AS BIGINT)
                 AS span_len
        FROM spans
        ORDER BY source, seq, doc_id
    """,
    "corpus_split_by_source": f"""
        WITH assigned AS (
          SELECT CASE
                   WHEN substr(md5('gsplit:' || source), 1, 4)
                        < '{GSPLIT_VAL_HEX}' THEN 'val'
                   WHEN substr(md5('gsplit:' || source), 1, 4)
                        < '{GSPLIT_TEST_HEX}' THEN 'test'
                   ELSE 'train'
                 END AS split,
                 source,
                 len(string_split(lower(text), ' ')) AS n_tokens
          FROM documents
        )
        SELECT split,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM assigned GROUP BY split ORDER BY split
    """,
    "corpus_split_shards": f"""
        WITH assigned AS (
          SELECT CASE
                   WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                        < '{SPLIT_VAL_HEX}' THEN 'val'
                   WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                        < '{SPLIT_TEST_HEX}' THEN 'test'
                   ELSE 'train'
                 END AS split,
                 substr(md5('split:' || CAST(doc_id AS VARCHAR)), 5, 1) AS shard,
                 len(string_split(lower(text), ' ')) AS n_tokens
          FROM documents
        )
        SELECT split, shard, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM assigned GROUP BY split, shard ORDER BY split, shard
    """,
    "split_leakage_check": f"""
        WITH assigned AS (
          SELECT md5(array_to_string(list_sort(list_distinct(
                   string_split(lower(text), ' '))), ' ')) AS fp,
                 CASE
                   WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                        < '{SPLIT_VAL_HEX}' THEN 'val'
                   WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                        < '{SPLIT_TEST_HEX}' THEN 'test'
                   ELSE 'train'
                 END AS split
          FROM documents
        ), per AS (
          SELECT fp, split, count(*) AS n FROM assigned GROUP BY fp, split
        )
        SELECT a.split AS split_a, b.split AS split_b,
               count(*) AS n_shared_fps,
               CAST(sum(a.n * b.n) AS BIGINT) AS n_cross_pairs
        FROM per a JOIN per b ON a.fp = b.fp AND a.split < b.split
        GROUP BY split_a, split_b
        ORDER BY split_a, split_b
    """,
    "quality_buckets": f"""
        WITH per_doc AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS n_tok,
                 len(list_filter(string_split(lower(text), ' '),
                                 x -> x IN {_STOP_SQL})) AS stop_hits,
                 (length(text) - len(string_split(lower(text), ' ')) + 1)
                   * 1.0 / len(string_split(lower(text), ' ')) AS mean_len
          FROM documents
        ), scored AS (
          SELECT source, doc_id,
                 round(
                   (CASE WHEN n_tok >= 30 THEN 0.4 ELSE 0.1 END)
                 + (CASE WHEN stop_hits * 1.0 / n_tok >= 0.02
                          AND stop_hits * 1.0 / n_tok <= 0.4 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN mean_len >= 3 AND mean_len <= 8 THEN 0.3 ELSE 0.0 END)
                 , 4) AS q
          FROM per_doc
        ), tiered AS (
          SELECT source, q,
                 ntile({N_QUALITY_BUCKETS}) OVER (
                   PARTITION BY source ORDER BY q, doc_id) AS bucket
          FROM scored
        )
        SELECT source, bucket, count(*) AS n_docs, round(avg(q), 4) AS avg_q,
               min(q) AS min_q, max(q) AS max_q
        FROM tiered GROUP BY source, bucket ORDER BY source, bucket
    """,
    "mix_temperature_weights": f"""
        WITH per AS (
          SELECT source,
                 CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY source
        ), t AS (
          SELECT sum(pow(n_tokens, {MIX_ALPHA})) AS sum_na,
                 sum(n_tokens) AS n_total
          FROM per
        )
        SELECT source, n_tokens,
               n_tokens * 1.0 / n_total AS p_raw,
               round(pow(n_tokens, {MIX_ALPHA}) / sum_na, 6) AS weight,
               round((pow(n_tokens, {MIX_ALPHA}) / sum_na)
                     / (n_tokens * 1.0 / n_total), 4) AS boost
        FROM per, t ORDER BY source
    """,
    "pack_fragmentation_audit": f"""
        WITH toks AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS n_tokens
          FROM documents
        ), placed AS (
          SELECT source, doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0) AS BIGINT) AS start
          FROM toks
        ), spans AS (
          SELECT source, doc_id, n_tokens,
                 unnest(generate_series(
                   CAST(floor(start / {PACK_BUDGET}.0) AS BIGINT),
                   CAST(floor((start + n_tokens - 1) / {PACK_BUDGET}.0) AS BIGINT)
                 )) AS seq
          FROM placed
        ), per_doc AS (
          SELECT source, doc_id, count(*) AS n_spans,
                 max(n_tokens) AS doc_tokens
          FROM spans GROUP BY source, doc_id
        ), docs_roll AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_spans) AS BIGINT) AS n_fragments,
                 CAST(sum(CASE WHEN n_spans > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cut_docs,
                 CAST(sum(doc_tokens) AS BIGINT) AS total_tokens
          FROM per_doc GROUP BY source
        ), seqs_roll AS (
          SELECT source, CAST(count(DISTINCT seq) AS BIGINT) AS n_seqs
          FROM spans GROUP BY source
        )
        SELECT d.source, s.n_seqs, d.n_docs, d.n_fragments, d.n_cut_docs,
               CAST(d.n_fragments - d.n_docs AS BIGINT) AS n_cuts,
               d.total_tokens,
               CAST(s.n_seqs * {PACK_BUDGET} - d.total_tokens AS BIGINT)
                 AS pad_tokens
        FROM docs_roll d JOIN seqs_roll s USING (source)
        ORDER BY d.source
    """,
    "curriculum_mix_allocation": f"""
        WITH per_doc AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS n_tok,
                 len(list_filter(string_split(lower(text), ' '),
                                 x -> x IN {_STOP_SQL})) AS stop_hits,
                 (length(text) - len(string_split(lower(text), ' ')) + 1)
                   * 1.0 / len(string_split(lower(text), ' ')) AS mean_len
          FROM documents
        ), scored AS (
          SELECT source, doc_id,
                 round(
                   (CASE WHEN n_tok >= 30 THEN 0.4 ELSE 0.1 END)
                 + (CASE WHEN stop_hits * 1.0 / n_tok >= 0.02
                          AND stop_hits * 1.0 / n_tok <= 0.4 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN mean_len >= 3 AND mean_len <= 8 THEN 0.3 ELSE 0.0 END)
                 , 4) AS q
          FROM per_doc
        ), tiered AS (
          SELECT source,
                 CAST(ntile({N_QUALITY_BUCKETS}) OVER (
                   PARTITION BY source ORDER BY q, doc_id) AS BIGINT) AS bucket
          FROM scored
        ), cells AS (
          SELECT source, bucket,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(*) * bucket AS BIGINT) AS weight
          FROM tiered GROUP BY source, bucket
        ), t AS (
          SELECT sum(weight) AS w_total FROM cells
        ), alloc AS (
          SELECT source, bucket, n_docs, weight,
                 ({CURRICULUM_BUDGET} * weight) // w_total AS base_alloc,
                 ({CURRICULUM_BUDGET} * weight) % w_total AS rem
          FROM cells, t
        ), ranked AS (
          SELECT *,
                 row_number() OVER (ORDER BY rem DESC, source, bucket) AS rk,
                 {CURRICULUM_BUDGET} - sum(base_alloc) OVER () AS leftover
          FROM alloc
        )
        SELECT source, bucket, n_docs, weight,
               CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc
        FROM ranked ORDER BY source, bucket
    """,
    "pack_attention_waste_audit": f"""
        WITH toks AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS n_tokens
          FROM documents
        ), placed AS (
          SELECT source, doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0) AS BIGINT) AS start
          FROM toks
        ), spans AS (
          SELECT source,
                 unnest(generate_series(
                   CAST(floor(start / {PACK_BUDGET}.0) AS BIGINT),
                   CAST(floor((start + n_tokens - 1) / {PACK_BUDGET}.0)
                        AS BIGINT)
                 )) AS seq,
                 start, n_tokens
          FROM placed
        ), frags AS (
          SELECT source, seq,
                 least((seq + 1) * {PACK_BUDGET}, start + n_tokens)
                 - greatest(seq * {PACK_BUDGET}, start) AS span_len
          FROM spans
        ), per_seq AS (
          SELECT source, seq,
                 sum(span_len) AS filled,
                 sum(span_len * (span_len + 1) // 2) AS intra
          FROM frags GROUP BY source, seq
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_seqs,
               CAST(sum(filled * (filled + 1) // 2) AS BIGINT)
                 AS causal_pairs,
               CAST(sum(intra) AS BIGINT) AS intra_doc_pairs,
               CAST(sum(filled * (filled + 1) // 2) - sum(intra) AS BIGINT)
                 AS cross_doc_pairs,
               round((sum(filled * (filled + 1) // 2) - sum(intra)) * 1.0
                     / sum(filled * (filled + 1) // 2), 4) AS cross_frac
        FROM per_seq GROUP BY source ORDER BY source
        """,
}
