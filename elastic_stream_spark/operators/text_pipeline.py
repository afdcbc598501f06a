"""Training-data pipeline operators over ``documents`` (north-star) —
the corpus-preparation stages between raw text and a tokenized batch:
chunking, vocabulary statistics, and per-source domain signatures.

All pure JVM column expressions (``sequence``/``explode`` + substring
arithmetic + two-level aggregation) — no Python UDFs, so 100 TB is just
more partitions:

- doc_chunking              overlapping fixed-size chunks w/ char offsets+hashes
- token_heavy_hitters       corpus-wide top-k token frequencies
- source_distinctive_tokens per-source tokens over-represented vs corpus
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elastic_stream_spark.functions.textfns import shingles, tokens
from elastic_stream_spark.sources.envelope import load_table_balanced

CHUNK_CHARS = 200  # chunk window size
CHUNK_STRIDE = 150  # start-to-start distance (50-char overlap)
HEAVY_K = 20
DISTINCT_TOP = 5
OVERLAP_N = 3  # word-shingle width for the cross-source contamination matrix


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table_balanced(spark, sf_dir, "documents")


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping fixed-size character chunks
    (200 chars, stride 150) with CHARACTER offsets and content hashes —
    the standard pre-tokenization windowing stage of a training pipeline.
    ``chunk_start``/``chunk_len`` are substring (code-point) offsets, NOT
    byte offsets: a consumer seeking into UTF-8 bytes must re-encode
    (the multibyte edge-corpus test pins character semantics in both
    engines).

    Start offsets are ``0, 150, 300, …`` while they still fall inside
    the document, so every chunk is non-empty and the last one may be
    short.  Pure per-row ``sequence``/``explode`` + ``substring`` —
    no shuffle at all; at 100 TB this is a map-only stage whose output
    is written straight back to partitioned parquet.  Chunk counts
    derive from the fixture's ``n_chars`` metadata column, which the
    generator guarantees equals ``length(text)`` (the edge-corpus test
    writes both consistently)."""
    d = _docs(spark, sf_dir)
    n_starts_minus1 = F.floor(
        (F.greatest(F.col("n_chars"), F.lit(1)) - 1) / CHUNK_STRIDE
    ).cast("int")
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_starts_minus1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * CHUNK_STRIDE).alias("chunk_start"),
            F.expr(
                f"substring(text, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_CHARS})"
            ).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_start",
            F.length("chunk").alias("chunk_len"),
            F.md5("chunk").alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 tokens by frequency.  Explode + count is one
    shuffle on the token key with map-side partial aggregation, so a hot
    token (they are ALL hot) arrives at the reducer as one partial row
    per input partition — frequency skew never concentrates raw rows.
    Ties at the cut line break deterministically by token."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(HEAVY_K)
    )


def source_distinctive_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source domain signature: the 5 tokens most over-represented in
    each source relative to the whole corpus, scored by lift
    ``(c_st / n_s) / (c_t / n)`` — the TF-IDF-ish fingerprint used to
    characterize / route corpus slices in a data-mixing pipeline.

    One explode + (source, token) aggregate is the only fact-sized
    shuffle.  Per-source totals (|sources| rows) and the corpus total
    (1 row) broadcast; per-token totals are VOCABULARY-sized — millions
    to billions of distinct tokens on a web corpus — so they join
    token-partitioned (an equi-join between two token-keyed aggregates
    of the same table, never a broadcast of the vocabulary)."""
    d = _docs(spark, sf_dir)
    st = (
        d.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c_st"))
    )
    per_source = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    per_token = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    total = per_token.agg(F.sum("c_t").alias("n")).withColumn("k", F.lit(1))
    scored = (
        st.join(F.broadcast(per_source), "source")
        .join(per_token, "token")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(total), "k")
        .withColumn(
            # determinism: UNROUNDED exact-integer division — one
            # correctly-rounded IEEE op on identical BIGINT products in
            # both engines (round() on int ratios can hit a decimal tie;
            # see operators/timeseries.py determinism note)
            "lift",
            (F.col("c_st") * F.col("n")) / (F.col("n_s") * F.col("c_t")),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("lift"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= DISTINCT_TOP)
        .select("source", "token", "c_st", "lift", "rk")
        .orderBy("source", "rk")
    )


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (paragraph-style) exact dedup — the C4/CCNet recipe of
    deduplicating BELOW document granularity: every duplicated chunk hash
    from ``doc_chunking`` becomes one group with its copy count and the
    kept occurrence (lexicographic min (doc_id, chunk_idx)).

    Plan: the map-only chunking stage feeds ONE shuffle on the chunk
    hash (count + struct-min are both partial-aggregable), so at 100 TB
    this is scan → map → single hash aggregation — the cheapest possible
    shape for exact sub-document dedup.  Complements ``dedup_exact``
    (whole-document) and the near-dup family."""
    chunks = doc_chunking(spark, sf_dir)
    agg = chunks.groupBy("chunk_hash").agg(
        F.count("*").alias("n_copies"),
        F.min(F.struct("doc_id", "chunk_idx")).alias("keep"),
    )
    return (
        agg.where(F.col("n_copies") > 1)
        .select(
            "chunk_hash",
            "n_copies",
            F.col("keep.doc_id").alias("keep_doc_id"),
            F.col("keep.chunk_idx").alias("keep_chunk_idx"),
        )
        .orderBy("chunk_hash")
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram language-model score — the CCNet-style
    corpus-fit signal: avg over the document's tokens of
    ``ln(corpus_freq(token) / corpus_total)``.  Documents full of rare
    or out-of-distribution tokens score low; boilerplate scores high.

    Plan: one token-keyed aggregation builds the unigram table, the
    corpus total rides along as a broadcast scalar, and the per-doc
    score is a token-partitioned equi-join (the vocabulary is
    millions-to-billions of rows on a web corpus — never broadcast,
    same discipline as ``source_distinctive_tokens``) followed by a
    doc-keyed average.  Every stage partial-aggregable."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    freq = toks.groupBy("token").agg(F.count("*").alias("c_t"))
    total = freq.agg(F.sum("c_t").alias("n")).withColumn("k", F.lit(1))
    scored = (
        toks.join(freq, "token")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(total), "k")
        .select("doc_id", F.log(F.col("c_t") / F.col("n")).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


VOCAB_KS = (100, 500, 2000)


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary coverage: for candidate vocabulary sizes
    K, the fraction of all corpus token OCCURRENCES covered by the top-K
    tokens by frequency (ties broken by token) — the curve a tokenizer /
    vocab-truncation decision reads.  Integer sums ⇒ the ratio is
    float-deterministic across engines.

    Plan: one token aggregation, a (vocabulary-sized) rank window on the
    frequency table — at 100 TB vocabulary ranking is the standard
    sort-limited aggregation, orders of magnitude smaller than the
    corpus — then a tiny K-conditioned re-aggregation."""
    d = _docs(spark, sf_dir)
    freq = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c_t"))
    )
    # single-partition vocabulary rank, made explicit via a non-foldable
    # constant partition key (identical execution, no spurious warning)
    # — the ranked table is vocabulary-sized, far below the corpus
    w = Window.partitionBy(F.pmod(F.col("c_t"), F.lit(1))).orderBy(
        F.desc("c_t"), F.asc("token")
    )
    ranked = freq.withColumn("rk", F.row_number().over(w))
    ks = spark.range(len(VOCAB_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in VOCAB_KS]), (F.col("id") + 1).cast("int")
        ).alias("k")
    )
    total = freq.agg(F.sum("c_t").alias("n")).withColumn("j", F.lit(1))
    return (
        ranked.join(F.broadcast(ks), F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").alias("vocab_size"),
            F.sum("c_t").alias("covered"),
        )
        .withColumn("j", F.lit(1))
        .join(F.broadcast(total), "j")
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("vocab_size").cast("long").alias("vocab_size"),
            (F.col("covered") / F.col("n")).alias("coverage"),
        )
        .orderBy("k")
    )


NGRAM_MIN_COUNT = 5


def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram count table with min-count pruning — the n-gram LM
    construction step (KenLM-style `count` phase) a perplexity-filtering
    pipeline trains from its reference corpus.

    Plan: bigrams derive per-row from the token array (pure
    higher-order projection, no self-join), explode into ONE
    map-side-combinable aggregation on the gram key, prune at
    ``count ≥ NGRAM_MIN_COUNT``.  At 100 TB this is scan → map →
    single hash aggregation; the pruned table is vocabulary²-bounded
    but in practice ∝ corpus, and downstream consumers join it
    gram-partitioned."""
    d = _docs(spark, sf_dir).select(tokens("text").alias("t"))
    # bigrams from the token array BOUND ONCE (re-splitting inside the
    # lambda would pay O(tokens²) interpreted work per doc); slice of
    # length greatest(size-1, 0) is EMPTY for a 0/1-token document —
    # sequence(1, 0) is NOT (it descends [1, 0] and indexed
    # out-of-bounds on single-token docs, diverging from the oracle's
    # generate_series(1, 0) = []; caught in review, pinned by the
    # edge-corpus test)
    grams = F.transform(
        F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
        lambda x, i: F.concat(x, F.lit(" "), F.element_at(F.col("t"), i + 2)),
    )
    return (
        d.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= NGRAM_MIN_COUNT)
        .orderBy("gram")
    )


TFIDF_TOP = 3


def tfidf_topk_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by tf·idf (idf = ln(N/df)) — the
    keyword/topic fingerprint step of a curation pipeline.

    Plan: one (doc, token) aggregation for tf, one token aggregation for
    df, a token-partitioned equi-join between them (vocabulary-sized —
    never broadcast), then a per-doc ranking window.  Ranking happens on
    the ROUNDED score with a token tie-break so both engines select the
    identical rows."""
    d = _docs(spark, sf_dir)
    n_docs = d.count()
    toks = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = toks.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(df_, "token").select(
        "doc_id",
        "token",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP)
        .select("doc_id", "token", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


def source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, the
    number of word-``OVERLAP_N``-gram shingles they share, plus containment =
    shared / min(|a|, |b|) — the per-pair generalization of train/test
    decontamination (curation.decontaminate_ngrams) used to audit corpus
    mixing before training (near-1 containment ⇒ one slice is inside the
    other; the mixture double-counts it).

    100 TB shape: one explode → distinct (source, shingle) — ONE hash
    aggregation over the corpus.  The pair join is an equi-join of that
    table with itself ON shingle: candidates ∝ Σ_g s_g², where s_g ≤
    |sources| (thousands, not documents) — never doc² and never a corpus
    broadcast.  Per-source sizes (|sources| rows) broadcast to the verify.
    """
    d = _docs(spark, sf_dir)
    # NOT materialized (r15 — measured): three consumers read this
    # table, but an interleaved best-of-3 A/B put the persisted variant
    # consistently BEHIND the lazy one (1.79 vs 1.48 s best; worse every
    # round) — the persist's count job plus the cached-plan AQE loss
    # cost more than the re-derived explode+distinct saves here
    sg = (
        d.select("source", F.explode(shingles("text", OVERLAP_N)).alias("shingle"))
        .distinct()
    )
    sizes = sg.groupBy("source").agg(F.count("*").alias("n"))
    a, b = sg.alias("a"), sg.alias("b")
    pairs = (
        a.join(b, "shingle")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared_shingles"))
    )
    na = F.broadcast(sizes).alias("na")
    nb = F.broadcast(sizes).alias("nb")
    return (
        pairs.join(na, F.col("source_a") == F.col("na.source"))
        .join(nb, F.col("source_b") == F.col("nb.source"))
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            (
                F.col("shared_shingles") / F.least(F.col("na.n"), F.col("nb.n"))
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


NOVELTY_N = 3  # word-shingle width for the novelty curve
NOVELTY_BUCKET = 50  # docs per arrival bucket


def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus redundancy growth: with documents in arrival order
    (doc_id), the fraction of each document's distinct word-3-grams
    NEVER seen in any earlier document, rolled up into fixed-width
    arrival buckets — the curve that answers "is the crawl still
    finding new content, or re-crawling what we have?" (novelty decay
    is the standard stop-crawling / dedup-pressure signal).  A gram is
    novel in exactly one doc: the minimum doc_id that contains it.

    Plan (r15 — the gram-keyed join-back is GONE): one exploded
    distinct-shingle scan feeds TWO independent map-side-combinable
    aggregations — groupBy(gram) → min(doc_id) for first-seen, and
    groupBy(doc_id) → count for per-doc gram totals.  Novel counts then
    need no join against the gram table at all: a gram is novel in
    exactly one doc (its min), so per-bucket novelty is just
    groupBy(first_doc div 50) → count over the FIRST-SEEN table (∝
    distinct grams), left-joined onto the per-bucket doc rollup (|
    buckets| rows).  The previous shape joined the full gram table back
    to first-seen on the gram key — a second corpus-sized shuffle that
    carried every gram occurrence only to test doc_id = first; the
    replacement aggregates the same information in the pass that
    already exists.  Both aggregations key on gram/doc —
    inverted-index shape, same scale story as dedup; nothing keys on a
    single global partition.

    Determinism: integer counts only; bucket = doc_id div 50 — a pure
    projection, no percentile/ntile, so the bucketing is engine-exact
    at any corpus size.

    Output contract: ``n_docs`` counts GRAM-BEARING documents (≥
    NOVELTY_N tokens) — a shorter doc contributes no grams, hence no
    novelty signal, and is excluded identically by both engines (Spark:
    empty-array explode; oracle: WHERE len(t) >= N)."""
    # lazy on purpose (r15 A/B: persisting the gram stream was never
    # faster round-for-round — the two consumers re-derive a map-only
    # explode, cheaper than the persist's extra job)
    grams = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(shingles("text", NOVELTY_N)).alias("g"))
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = first.groupBy(
        F.expr(f"first_doc div {NOVELTY_BUCKET}").cast("bigint").alias("bucket")
    ).agg(F.count("*").cast("bigint").alias("n_novel"))
    per_doc = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    buckets = per_doc.groupBy(
        F.expr(f"doc_id div {NOVELTY_BUCKET}").cast("bigint").alias("bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("n_grams"),
    )
    return (
        buckets.join(novel, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .orderBy("bucket")
    )


QUERIES = {
    "doc_chunking": doc_chunking,
    "token_heavy_hitters": token_heavy_hitters,
    "source_distinctive_tokens": source_distinctive_tokens,
    "chunk_dedup": chunk_dedup,
    "text_unigram_logprob": text_unigram_logprob,
    "vocab_coverage": vocab_coverage,
    "ngram_counts": ngram_counts,
    "tfidf_topk_per_doc": tfidf_topk_per_doc,
    "source_ngram_overlap": source_ngram_overlap,
    "corpus_novelty_curve": corpus_novelty_curve,
}

ORACLES = {
    "corpus_novelty_curve": f"""
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ), g AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(t) - {NOVELTY_N - 1}),
                   i -> array_to_string(t[i:i+{NOVELTY_N - 1}], ' ')))) AS g
          FROM toks WHERE len(t) >= {NOVELTY_N}
        ), first AS (
          SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g
        ), per_doc AS (
          SELECT g.doc_id,
                 count(*) AS n_grams,
                 sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                   AS n_novel
          FROM g JOIN first f USING (g)
          GROUP BY g.doc_id
        )
        SELECT CAST(doc_id // {NOVELTY_BUCKET} AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_grams) AS BIGINT) AS n_grams,
               CAST(sum(n_novel) AS BIGINT) AS n_novel
        FROM per_doc GROUP BY bucket ORDER BY bucket
    """,
    "source_ngram_overlap": f"""
        WITH toks AS (
          SELECT source, string_split(lower(text), ' ') AS t FROM documents
        ), sh AS (
          SELECT DISTINCT source, shingle FROM (
            SELECT source, unnest(list_distinct(list_transform(
                     generate_series(1, len(t) - {OVERLAP_N - 1}),
                     i -> array_to_string(t[i:i+{OVERLAP_N - 1}], ' ')))) AS shingle
            FROM toks WHERE len(t) >= {OVERLAP_N}
          )
        ), sizes AS (
          SELECT source, count(*) AS n FROM sh GROUP BY source
        ), pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS shared_shingles
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
          GROUP BY source_a, source_b
        )
        SELECT source_a, source_b, shared_shingles,
               shared_shingles * 1.0 / least(na.n, nb.n) AS containment
        FROM pairs
        JOIN sizes na ON source_a = na.source
        JOIN sizes nb ON source_b = nb.source
        ORDER BY source_a, source_b
    """,
    "doc_chunking": f"""
        WITH chunks AS (
          SELECT doc_id, unnest(generate_series(
                   0, CAST(floor((greatest(n_chars, 1) - 1)
                                 / {CHUNK_STRIDE}) AS BIGINT))) AS chunk_idx,
                 text
          FROM documents
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(chunk_idx * {CHUNK_STRIDE} AS BIGINT) AS chunk_start,
               length(substring(text, CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INT),
                                {CHUNK_CHARS})) AS chunk_len,
               md5(substring(text, CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INT),
                             {CHUNK_CHARS})) AS chunk_hash
        FROM chunks
        ORDER BY doc_id, chunk_idx
    """,
    "token_heavy_hitters": f"""
        SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
              FROM documents)
        GROUP BY token ORDER BY n DESC, token LIMIT {HEAVY_K}
    """,
    "source_distinctive_tokens": f"""
        WITH st AS (
          SELECT source, token, count(*) AS c_st
          FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS token
                FROM documents)
          GROUP BY source, token
        ),
        per_source AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY source),
        per_token AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY token),
        total AS (SELECT sum(c_t) AS n FROM per_token),
        scored AS (
          SELECT st.source, st.token, st.c_st,
                 (st.c_st * total.n)
                   / CAST(per_source.n_s * per_token.c_t AS DOUBLE) AS lift
          FROM st
          JOIN per_source ON st.source = per_source.source
          JOIN per_token ON st.token = per_token.token
          CROSS JOIN total
        ),
        ranked AS (
          SELECT source, token, c_st, lift,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY lift DESC, token) AS rk
          FROM scored
        )
        SELECT source, token, c_st, lift, rk
        FROM ranked WHERE rk <= {DISTINCT_TOP}
        ORDER BY source, rk
    """,
    "chunk_dedup": f"""
        WITH chunks AS (
          SELECT doc_id, unnest(generate_series(
                   0, CAST(floor((greatest(n_chars, 1) - 1)
                                 / {CHUNK_STRIDE}) AS BIGINT))) AS chunk_idx,
                 text
          FROM documents
        ), hashed AS (
          SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                 md5(substring(text, CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INT),
                               {CHUNK_CHARS})) AS chunk_hash
          FROM chunks
        ), grp AS (
          SELECT chunk_hash, count(*) AS n_copies
          FROM hashed GROUP BY chunk_hash HAVING count(*) > 1
        ), keepers AS (
          SELECT chunk_hash, doc_id AS keep_doc_id, chunk_idx AS keep_chunk_idx
          FROM (
            SELECT chunk_hash, doc_id, chunk_idx,
                   row_number() OVER (PARTITION BY chunk_hash
                                      ORDER BY doc_id, chunk_idx) AS rn
            FROM hashed
          ) WHERE rn = 1
        )
        SELECT g.chunk_hash, g.n_copies, k.keep_doc_id, k.keep_chunk_idx
        FROM grp g JOIN keepers k USING (chunk_hash)
        ORDER BY chunk_hash
    """,
    "text_unigram_logprob": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
          FROM documents
        ), freq AS (
          SELECT token, count(*) AS c_t FROM toks GROUP BY token
        ), total AS (SELECT sum(c_t) AS n FROM freq)
        SELECT t.doc_id, count(*) AS n_tokens,
               round(avg(ln(f.c_t * 1.0 / total.n)), 4) AS avg_logprob
        FROM toks t JOIN freq f USING (token) CROSS JOIN total
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """,
    "vocab_coverage": f"""
        WITH freq AS (
          SELECT token, count(*) AS c_t
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
                FROM documents)
          GROUP BY token
        ), ranked AS (
          SELECT token, c_t,
                 row_number() OVER (ORDER BY c_t DESC, token) AS rk
          FROM freq
        ), total AS (SELECT sum(c_t) AS n FROM freq),
        ks AS (SELECT unnest([{", ".join(str(k) for k in VOCAB_KS)}]) AS k)
        SELECT CAST(ks.k AS INT) AS k,
               count(*) AS vocab_size,
               sum(r.c_t) * 1.0 / max(total.n) AS coverage
        FROM ranked r JOIN ks ON r.rk <= ks.k CROSS JOIN total
        GROUP BY ks.k
        ORDER BY k
    """,
    "ngram_counts": f"""
        WITH toks AS (
          SELECT string_split(lower(text), ' ') AS t FROM documents
        ), grams AS (
          SELECT unnest(list_transform(
                   generate_series(1, greatest(len(t) - 1, 0)),
                   i -> t[i] || ' ' || t[i + 1])) AS gram
          FROM toks
        )
        SELECT gram, count(*) AS n
        FROM grams GROUP BY gram
        HAVING count(*) >= {NGRAM_MIN_COUNT}
        ORDER BY gram
    """,
    "tfidf_topk_per_doc": f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
          FROM documents
        ), tf AS (
          SELECT doc_id, token, count(*) AS tf
          FROM toks GROUP BY doc_id, token
        ), df AS (
          SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token
        ), n_docs AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 round(tf.tf * ln(n_docs.n * 1.0 / df.df), 6) AS tfidf
          FROM tf JOIN df USING (token) CROSS JOIN n_docs
        ), ranked AS (
          SELECT doc_id, token, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, token) AS rk
          FROM scored
        )
        SELECT doc_id, token, tfidf, rk
        FROM ranked WHERE rk <= {TFIDF_TOP}
        ORDER BY doc_id, rk
    """,
}
