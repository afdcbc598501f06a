"""Sparse-text retrieval and collocation analytics over the documents
corpus — BM25 ranked search, the BM25 self-retrieval evaluation, and
PMI collocation mining.

The reference engine has no text-retrieval surface (its opcode enum,
components/protocol/fbs/rpc.fbs:111-182, is stream ops only); these are
the corpus-query operators a training-data pipeline runs against its
document store: "which documents match this probe query" (BM25 — the
retrieval baseline behind dedup-by-retrieval and contamination probes)
and "which word pairs are collocations" (PMI — phrase/tokenizer-merge
candidates, the statistic behind word2phrase and BPE-merge scoring).

Scale notes (100 TB):
- The postings (doc, token, tf) and vocabulary (token, df) tables are
  corpus/vocabulary-sized: they join TOKEN-PARTITIONED, never broadcast
  (same discipline as ``text_pipeline.source_distinctive_tokens``).
- The probe query set is tiny and broadcasts; corpus-side tables never
  move except for their one hash shuffle on the join key.
- BM25 top-k per query is a TWO-PHASE top-k: per-shuffle-partition
  row_number prune (keeps every global-top-k candidate by construction:
  any global top-k row is inside its own partition's top-k), then the
  final per-query window over ≤ k·n_partitions survivors — a per-query
  reducer never sees a corpus-sized candidate list.
- PMI's global top-k is ``orderBy().limit()`` → TakeOrderedAndProject
  (per-partition heaps + driver merge of k·n_partitions rows), never a
  single-partition window.
- Cross-engine float determinism: scores are computed with the same
  expression tree in Spark and DuckDB and ROUNDED (4 dp) before ranking,
  with a deterministic id tie-break, so both engines select identical
  rows (the ``tfidf_topk_per_doc`` contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elastic_stream_spark.functions.textfns import tokens
from elastic_stream_spark.sources.envelope import load_table_balanced

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10
# (query_id, probe terms) — the fixed probe set a contamination /
# retrieval audit runs against the corpus.
BM25_QUERIES = [
    ("q_joins", ["hash", "join", "merge"]),
    ("q_windows", ["window", "sort", "order"]),
    ("q_streams", ["stream", "batch", "spark"]),
]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table_balanced(spark, sf_dir, "documents")


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-``BM25_TOP`` documents per probe query,
    scored with the classic Robertson/Sparck-Jones formula
    (k1=1.2, b=0.75, idf = ln((N - df + 0.5)/(df + 0.5) + 1)).

    Plan: the token stream is semi-joined against the broadcast probe
    vocabulary BEFORE the tf aggregation (r15 — the
    ``retrieval_self_mrr`` slice, applied to the operator it was copied
    from: a token's posting rows are kept or dropped WHOLE, so per-token
    tf/df over the slice equal the full-vocabulary values for every
    token that can reach the output, while the postings build shrinks by
    the vocabulary-to-probe-token ratio); the probe terms broadcast onto
    the sliced postings (token equi-join), per-(query, doc) scores come
    from a doc-keyed sum, and the top-k is the two-phase
    per-partition-then-global prune described in the module docstring.
    Every corpus-sized join is token- or doc-partitioned."""
    d = _docs(spark, sf_dir).select("doc_id", tokens("text").alias("t"))
    dl = d.select("doc_id", F.size("t").alias("dl"))
    toks = d.select("doc_id", F.explode("t").alias("token"))
    probe_tokens = spark.createDataFrame(
        [(t,) for t in sorted({t for _, ts in BM25_QUERIES for t in ts})],
        "token string",
    )
    # NOT materialized (r15 — measured): with tf now probe-sliced the
    # re-derived subtree is a broadcast-semi-join over a tiny token set;
    # interleaved A/B (lazy-first ordering, so warmup bias favored the
    # persist) kept lazy ahead every round (best 2.24 vs 2.69 s) — the
    # persist's count job costs more than the recompute it saves
    tf = (
        toks.join(F.broadcast(probe_tokens), "token")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).withColumn("k", F.lit(1))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "qid string, token string",
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        F.broadcast(qterms)
        .join(tf, "token")
        .join(dfreq, "token")
        .join(dl, "doc_id")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(stats), "k")
        .select("qid", "doc_id", (idf * tf_part).alias("s_term"))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("s_term"), 4).alias("score"))
    )
    order = (F.desc("score"), F.asc("doc_id"))
    w_part = Window.partitionBy("qid", "pid").orderBy(*order)
    pruned = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("prk", F.row_number().over(w_part))
        .where(F.col("prk") <= BM25_TOP)
        .drop("pid", "prk")
    )
    w_final = Window.partitionBy("qid").orderBy(*order)
    return (
        pruned.withColumn("rk", F.row_number().over(w_final))
        .where(F.col("rk") <= BM25_TOP)
        .select("qid", "doc_id", "score", "rk")
        .orderBy("qid", "rk")
    )


SELF_MRR_MOD = 25  # probe docs: doc_id % 25 == 0
SELF_MRR_TERMS = 4  # probe query = the doc's 4 smallest distinct tokens
# Probe-count bound: a MODULUS selects a linear FRACTION of the corpus,
# which stops being broadcastable somewhere around 10⁷ docs — an eval
# needs a fixed probe budget, not a percentage.  The literal cap keeps
# the probe table ≤ MAX_PROBES rows (id-prefix deterministic, so the
# oracle derives the identical set); it binds only beyond
# MOD·MAX_PROBES = 250k docs, far above every fixture (50k at sf0.1),
# so fixture outputs are unchanged while the PLAN carries the bound.
SELF_MRR_MAX_PROBES = 10_000


def retrieval_self_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-retrieval evaluation of the BM25 index: every probe document
    (``doc_id % SELF_MRR_MOD == 0``) queries the corpus with its own
    ``SELF_MRR_TERMS`` lexicographically-smallest distinct tokens, and
    the audit reports — per source — how well the index finds the
    document its query came from: probe count, exact-top-1 hits, and
    mean reciprocal rank.  This is the retrieval sanity gate run before
    trusting dedup-by-retrieval or contamination probes built on the
    same index: an MRR collapse means the scoring/statistics pipeline is
    broken even when every individual operator is hash-green.

    Plan notes (100 TB): the probe set is hard-bounded at
    ``SELF_MRR_MAX_PROBES`` rows (a bare modulus selects a linear
    fraction of the corpus — a percentage, not an eval budget — and
    stops being broadcastable at web scale), so the probe table always
    BROADCASTS; postings/df tables join token-partitioned exactly as
    ``bm25_search``.  The tf/df
    statistics are built ONLY for the probe-token slice of the
    vocabulary: the token stream is semi-joined against the broadcast
    distinct-probe-token set BEFORE the tf groupBy, which leaves the
    per-token df values identical (a token's posting rows are kept or
    dropped whole) while shrinking the index build by the
    vocabulary-to-probe-token ratio — the full-vocabulary build was the
    bench's slowest query at registration (4.3 s at sf0.1).  The rank
    of the self document comes from ONE probe-partitioned window
    (row_number over score DESC, doc_id ASC — a total order, so the
    self row's position IS 1 + |candidates ahead|): r15's
    count-aggregate formulation avoided the per-probe sort but paid for
    it by evaluating the whole scoring subtree twice (self-score
    broadcast + rank count) with an extra sequential broadcast job —
    the r16 interleaved A/B put the windowed single evaluation ahead,
    and the sorted state is per-probe bounded (candidates are already
    probe-token-sliced).

    Determinism: scores are rounded to 4 dp before comparison (the
    repo-wide BM25 convention) and ties break on doc_id, so both
    engines count the identical candidate set; reciprocal ranks are
    1/k for small integer k (exact in binary), and the mean is rounded
    to 4 dp."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", tokens("text").alias("t")
    )
    dl = d.select("doc_id", F.size("t").alias("dl"))
    toks = d.select("doc_id", F.explode("t").alias("token"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).withColumn("k", F.lit(1))

    probe_terms = F.slice(
        F.array_sort(F.array_distinct(F.col("t"))), 1, SELF_MRR_TERMS
    )
    probes = d.where(
        (F.col("doc_id") % SELF_MRR_MOD == 0)
        & (F.col("doc_id") < SELF_MRR_MOD * SELF_MRR_MAX_PROBES)
    ).select(
        F.col("doc_id").alias("probe_id"),
        F.col("source").alias("probe_source"),
        probe_terms.alias("q_terms"),
    )
    qterms = probes.select(
        "probe_id", F.explode("q_terms").alias("token")
    ).distinct()
    # probe-token slice of the postings: dropping a token keeps or drops
    # its posting rows WHOLE, so per-token tf/df over the slice equal
    # the full-vocabulary values for every token that can reach the
    # output (see plan notes).  The slice is a LEFT-SEMI against the
    # SAME broadcast qterms relation the scored join builds (both key
    # the hashed relation on token), so the runtime plan builds ONE
    # broadcast instead of two — r16: the previous separate
    # broadcast(qterms.select("token").distinct()) re-evaluated the
    # whole probes subtree (a corpus scan) for a second broadcast job;
    # job census 24 → 22, output byte-identical (semi on token ∈
    # qterms.token ≡ inner against its distinct-token projection).
    # NOT materialized (r15 — measured): the probe-sliced tf is small
    # and cheap to re-derive; both persists here lost every interleaved
    # A/B round (lazy best 6.38 s vs 21.93 s with the persists)
    tf = (
        toks.join(F.broadcast(qterms), "token", "left_semi")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))

    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    # NOT materialized (r15 — measured): the self-score and rank
    # consumers do re-derive the score join, but with tf probe-sliced
    # that subtree is broadcast-joins over probe-sized tables; the
    # persisted variant lost every interleaved A/B round by 3-4×
    scored = (
        F.broadcast(qterms)
        .join(tf, "token")
        .join(dfreq, "token")
        .join(dl, "doc_id")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(stats), "k")
        .select("probe_id", "doc_id", (idf * tf_part).alias("s_term"))
        .groupBy("probe_id", "doc_id")
        .agg(F.round(F.sum("s_term"), 4).alias("score"))
    )
    # rank via ONE windowed pass (r16 — r15 VERDICT next-round item 7):
    # within a probe, order candidates by (score DESC, doc_id ASC) — a
    # TOTAL order since doc_id is unique — and the self row's row_number
    # is exactly 1 + |{candidates scoring strictly above self, ties
    # broken by doc_id}|, the same rank the oracle counts.  The previous
    # count-aggregate formulation evaluated the whole scoring subtree
    # TWICE (once for the broadcast self-score table, once for the
    # rank count) and chained an extra broadcast job; the window sorts
    # each probe's candidate list instead — per-probe bounded,
    # spill-backed state, and the candidate lists are already sliced to
    # probe tokens so no unbounded-state shape returns.
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranks = (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .where(F.col("doc_id") == F.col("probe_id"))
        .select("probe_id", "rank")
    )
    return (
        probes.select("probe_id", "probe_source")
        .join(ranks, "probe_id")
        .groupBy(F.col("probe_source").alias("source"))
        .agg(
            F.count("*").cast("bigint").alias("n_probes"),
            F.sum((F.col("rank") == 1).cast("long"))
            .cast("bigint")
            .alias("n_top1"),
            F.round(F.avg(F.lit(1.0) / F.col("rank")), 4).alias("mrr"),
        )
        .orderBy("source")
    )


PMI_MIN_COUNT = 10
PMI_TOP = 50


def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PMI_TOP`` word-pair collocations by pointwise mutual
    information, ``pmi = ln( (c_ab / n_bi) / ((c_a / n_uni)·(c_b /
    n_uni)) )``, pruned at ``c_ab ≥ PMI_MIN_COUNT`` — the
    word2phrase / BPE-merge candidate statistic.

    Plan: bigram pairs derive per-row from the token array (no
    self-join), ONE map-side-combinable aggregation each for unigram
    and bigram counts, then two token-partitioned equi-joins attach
    c_a and c_b (the vocabulary never broadcasts); corpus totals ride
    along as broadcast scalars; the global top-k is
    ``orderBy().limit()`` (per-partition heaps, never a
    single-partition window)."""
    d = _docs(spark, sf_dir).select(tokens("text").alias("t"))
    # (w1, w2) pairs from the bound token array; empty for 0/1-token
    # docs (greatest-guarded slice — the ngram_counts edge case)
    pairs = d.select(
        F.explode(
            F.transform(
                F.slice(
                    F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))
                ),
                lambda x, i: F.struct(
                    x.alias("w1"),
                    F.element_at(F.col("t"), i + 2).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni")).withColumn("k", F.lit(1))
    n_bi = pairs.agg(F.count("*").alias("n_bi")).withColumn("k", F.lit(1))
    pmi = F.round(
        F.log(
            (F.col("c_ab") * 1.0 / F.col("n_bi"))
            / (
                (F.col("c_a") * 1.0 / F.col("n_uni"))
                * (F.col("c_b") * 1.0 / F.col("n_uni"))
            )
        ),
        4,
    )
    return (
        bi.join(uni.withColumnRenamed("w", "w1"), "w1")
        .withColumnRenamed("c", "c_a")
        .join(
            uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_b"),
            "w2",
        )
        .withColumn("k", F.lit(1))
        .join(F.broadcast(n_uni), "k")
        .join(F.broadcast(n_bi), "k")
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOP)
    )


QUERIES = {
    "bm25_search": bm25_search,
    "retrieval_self_mrr": retrieval_self_mrr,
    "bigram_pmi": bigram_pmi,
}

ORACLES = {
    "bm25_search": f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
          FROM documents
        ), dl AS (
          SELECT doc_id, len(string_split(lower(text), ' ')) AS dl
          FROM documents
        ), tf AS (
          SELECT doc_id, token, count(*) AS tf
          FROM toks GROUP BY doc_id, token
        ), dfreq AS (
          SELECT token, count(*) AS df FROM tf GROUP BY token
        ), stats AS (
          SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        ), qterms AS (
          SELECT * FROM (VALUES {", ".join(
            f"('{qid}', '{t}')" for qid, ts in BM25_QUERIES for t in ts
          )}) AS q(qid, token)
        ), scored AS (
          SELECT qid, tf.doc_id,
                 round(sum(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf * ({BM25_K1}e0 + 1)) / (tf + {BM25_K1}e0 *
                      (1 - {BM25_B} + {BM25_B} * dl / avgdl))
                 ), 4) AS score
          FROM qterms
          JOIN tf USING (token)
          JOIN dfreq USING (token)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY qid, tf.doc_id
        ), ranked AS (
          SELECT qid, doc_id, score,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, doc_id) AS rk
          FROM scored
        )
        SELECT qid, doc_id, score, rk
        FROM ranked WHERE rk <= {BM25_TOP}
        ORDER BY qid, rk
    """,
    "bigram_pmi": f"""
        WITH toks AS (
          SELECT string_split(lower(text), ' ') AS t FROM documents
        ), pairs AS (
          SELECT unnest(list_transform(
                   generate_series(1, greatest(len(t) - 1, 0)),
                   i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
          FROM toks
        ), pw AS (
          SELECT p.w1 AS w1, p.w2 AS w2 FROM pairs
        ), uni AS (
          SELECT unnest(t) AS w FROM toks
        ), uc AS (
          SELECT w, count(*) AS c FROM uni GROUP BY w
        ), bi AS (
          SELECT w1, w2, count(*) AS c_ab FROM pw GROUP BY w1, w2
          HAVING count(*) >= {PMI_MIN_COUNT}
        ), n_uni AS (SELECT sum(c) AS n_uni FROM uc),
        n_bi AS (SELECT count(*) AS n_bi FROM pw)
        SELECT w1, w2, c_ab,
               round(ln((c_ab * 1.0 / n_bi) /
                        ((a.c * 1.0 / n_uni) * (b.c * 1.0 / n_uni))),
                     4) AS pmi
        FROM bi
        JOIN uc a ON bi.w1 = a.w
        JOIN uc b ON bi.w2 = b.w
        CROSS JOIN n_uni CROSS JOIN n_bi
        ORDER BY pmi DESC, w1, w2
        LIMIT {PMI_TOP}
    """,
    "retrieval_self_mrr": f"""
        WITH d AS (
          SELECT doc_id, source, string_split(lower(text), ' ') AS t
          FROM documents
        ), dl AS (
          SELECT doc_id, len(t) AS dl FROM d
        ), toks AS (
          SELECT doc_id, unnest(t) AS token FROM d
        ), tf AS (
          SELECT doc_id, token, count(*) AS tf
          FROM toks GROUP BY doc_id, token
        ), dfreq AS (
          SELECT token, count(*) AS df FROM tf GROUP BY token
        ), stats AS (
          SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        ), probes AS (
          SELECT doc_id AS probe_id, source AS probe_source,
                 list_sort(list_distinct(t))[1:{SELF_MRR_TERMS}] AS q_terms
          FROM d WHERE doc_id % {SELF_MRR_MOD} = 0
                   AND doc_id < {SELF_MRR_MOD * SELF_MRR_MAX_PROBES}
        ), qterms AS (
          SELECT DISTINCT probe_id, unnest(q_terms) AS token FROM probes
        ), scored AS (
          SELECT q.probe_id, tf.doc_id,
                 round(sum(
                   ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                   * (tf.tf * ({BM25_K1} + 1)) /
                     (tf.tf + {BM25_K1} * (1 - {BM25_B}
                        + {BM25_B} * dl.dl / s.avgdl))
                 ), 4) AS score
          FROM qterms q
          JOIN tf ON tf.token = q.token
          JOIN dfreq f ON f.token = q.token
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats s
          GROUP BY q.probe_id, tf.doc_id
        ), selfs AS (
          SELECT probe_id, score AS self_score
          FROM scored WHERE doc_id = probe_id
        ), ranks AS (
          SELECT s.probe_id,
                 1 + sum(CASE WHEN s.score > f.self_score
                               OR (s.score = f.self_score
                                   AND s.doc_id < s.probe_id)
                              THEN 1 ELSE 0 END) AS rank
          FROM scored s JOIN selfs f USING (probe_id)
          GROUP BY s.probe_id
        )
        SELECT p.probe_source AS source,
               CAST(count(*) AS BIGINT) AS n_probes,
               CAST(sum(CASE WHEN r.rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_top1,
               round(avg(1.0 / r.rank), 4) AS mrr
        FROM probes p JOIN ranks r USING (probe_id)
        GROUP BY p.probe_source ORDER BY source
        """,
}
