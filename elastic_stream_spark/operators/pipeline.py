"""End-to-end training-data pipeline operators over ``documents``.

These compose the dedup/text primitives into the two operations a
corpus-curation pipeline actually runs:

- ``dedup_clusters`` — connected components over the verified near-dup
  pair graph: every near-dup group gets one canonical representative
  (the min doc_id in its component), not just pairwise flags.  Spark
  side: iterative hash-min label propagation — each iteration is one
  distributed join + aggregate; the driver loop only checks a
  convergence counter (O(component diameter) iterations; near-dup
  clusters are shallow, so 2-4 in practice).  At 100 TB this is the
  standard formulation (the GraphX/GraphFrames CC algorithm is the same
  fixpoint); lineage is truncated per iteration with localCheckpoint so
  plans stay flat.  DuckDB oracle: recursive CTE computing the same
  min-label fixpoint.

- ``pipeline_keep_list`` — the full filter verdict per document:
  quality score, exact-duplicate flag (bag-of-words fingerprint, keep
  min doc_id), near-duplicate flag (in a CC cluster, not the
  representative), and the final ``keep`` decision.  One pass over the
  corpus joined against two driver-free side tables — exactly the job
  that decides what enters a training run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from elastic_stream_spark.functions.materialize import (
    SessionMemo,
    unpersist_local_checkpoint,
)
from elastic_stream_spark.functions.textfns import FP_TERM_MOD, bow_fingerprint
from elastic_stream_spark.operators.curation import EVAL_MOD as CUR_EVAL_MOD
from elastic_stream_spark.operators.curation import NGRAM_N as CUR_NGRAM_N
from elastic_stream_spark.operators.curation import (
    GSPLIT_TEST_HEX as CUR_GSPLIT_TEST_HEX,
    GSPLIT_VAL_HEX as CUR_GSPLIT_VAL_HEX,
    PACK_BUDGET as CUR_PACK_BUDGET,
    REP_DUP2_MAX,
    REP_TOPTOK_MAX,
)
from elastic_stream_spark.operators.dedup import CAPPED_PAIRS_SQL, ngram_pair_set
from elastic_stream_spark.operators.text import QUALITY_SQL, quality_score_col
from elastic_stream_spark.sources.envelope import load_table_balanced

CC_MAX_ITER = 25  # safety bound; hash-min converges in O(diameter)


def connected_components(pairs: DataFrame, max_iter: int = CC_MAX_ITER) -> DataFrame:
    """Hash-min label propagation WITH path shortcutting over an
    undirected edge list ``(doc_a, doc_b)`` → ``(doc_id, cluster_id)``
    for every node that appears in an edge; ``cluster_id`` = min doc_id
    of the component.

    Each iteration: (1) neighbor-min join — every node takes the min
    label over itself and its neighbors; (2) pointer-doubling shortcut —
    every node then takes its label's label (labels are always node ids,
    so the lookup is a self-join).  Step 2 roughly doubles how far the
    component minimum has propagated per round, so convergence is
    O(log diameter) instead of O(diameter) — a 60-deep near-dup chain
    converges in ~8 rounds, and ``max_iter`` = 25 covers any component a
    real corpus can produce (the GraphFrames/large-star trick in
    DataFrame form).  Labels only decrease and are bounded by the
    component min, so the fixpoint is exact.

    Each round is a bounded number of shuffles on doc_id, fully
    distributed; the driver sees only a scalar convergence count.
    ``localCheckpoint`` truncates lineage so the plan does not grow with
    iterations (the classic iterative-algorithm pitfall)."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels: DataFrame | None = None
    changed = 1
    for it in range(max_iter):
        if it == 0:
            # identity labels make iteration 0 join-free (r16): every
            # node appears as dst (edges are symmetrized) and
            # label(src) == src, so the neighbor-min is ONE aggregation
            # over the checkpointed edges — the separate eager
            # labels-init checkpoint (an extra action) and the
            # edges⋈labels join both disappear.  Output is identical:
            # node set = distinct dst = distinct src, label =
            # least(self, min neighbor).
            stepped = (
                edges.groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("src").alias("nbr_min"))
                .select(
                    "doc_id",
                    F.col("doc_id").alias("old_label"),
                    F.least(F.col("doc_id"), F.col("nbr_min")).alias("label"),
                )
            )
        else:
            nbr_min = (
                edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("label").alias("nbr_min"))
            )
            # old_label rides along so convergence is a scan of the
            # checkpointed result, not a separate join-action per iteration
            stepped = labels.join(nbr_min, "doc_id", "left").select(
                "doc_id",
                F.col("label").alias("old_label"),
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                    "label"
                ),
            )
        if it > 0:
            # pointer doubling: label ← label(label).  Every label is a
            # node id present in `stepped`, so the lookup is a self-join.
            # Skipped on iteration 0: labels start as identity, so
            # label(label) after one neighbor-min step can only repeat
            # the neighbor-min of a node whose own step is in this same
            # round — the join would re-shuffle everything to shortcut
            # chains that don't exist yet.
            lmap = stepped.select(
                F.col("doc_id").alias("label"), F.col("label").alias("label2")
            )
            stepped = stepped.join(lmap, "label", "left").select(
                "doc_id",
                "old_label",
                F.least(F.col("label"), F.coalesce("label2", F.col("label"))).alias(
                    "label"
                ),
            )
        # the convergence count piggybacks on the checkpoint job via
        # observe(): ONE action per iteration total
        obs = Observation(f"cc_changed_{it}")
        new_labels = stepped.observe(
            obs, F.sum((F.col("label") != F.col("old_label")).cast("long")).alias("n")
        ).localCheckpoint(eager=True)
        changed = int(obs.get["n"] or 0)
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            break
    if changed != 0:
        # a silent early exit would split one component into several
        # "representatives" and let pipeline_keep_list keep duplicates —
        # fail loudly instead (a chain this deep means the near-dup graph
        # is pathological; raise max_iter or densify edges upstream).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


# Cluster-table memo (``SessionMemo``, keyed by session and corpus
# dir): the CC fixpoint is the most expensive stage shared by the
# downstream verdict queries (pipeline_keep_list,
# pipeline_curation_verdict) — a production pipeline materializes the
# cluster table once and every consumer joins it; here the same thing
# at session lifetime (the fixpoint's final labels are already a
# localCheckpoint, released through the plan-walking
# ``unpersist_local_checkpoint`` since the memo holds a ``select`` over
# it).  dedup_clusters — the CONSTRUCTION query — bypasses this memo so
# its bench/scale timings measure the fixpoint, not a memo hit.
_CC_LABELS = SessionMemo(unpersist_local_checkpoint)


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _CC_LABELS.get(
        spark,
        (sf_dir,),
        lambda: connected_components(ngram_pair_set(spark, sf_dir)),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components of the verified
    3-gram-Jaccard ≥ 0.8 pair graph, with component size and the kept
    representative flag.  Recomputes the fixpoint each call (construction
    operator — see the _CC_LABELS note); the pair set itself reads the
    session materialization."""
    comp = connected_components(ngram_pair_set(spark, sf_dir))
    w = Window.partitionBy("cluster_id")
    return (
        comp.withColumn("n_docs", F.count("*").over(w))
        .select(
            "doc_id",
            "cluster_id",
            "n_docs",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
        )
        .orderBy("cluster_id", "doc_id")
    )


def dedup_cluster_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure overreach audit for the near-dup clusters:
    connected components chain A~B~C into one cluster even when A and C
    were never verified as a pair, so a low-density large cluster is the
    signature of chaining artifacts (and of over-aggressive keep-list
    pruning: every non-representative member of that cluster is
    dropped).  Per cluster SIZE, the audit reports how many clusters
    exist, their verified-edge mass against the complete-graph
    possible-pair count, and the resulting density — the table read
    before trusting CC-based dedup at a new threshold.

    Plan: the verified pair set is the session materialization (built
    once, shared with dedup_clusters/pipeline_keep_list), labels come
    from the same CC fixpoint; edges map onto their cluster via ONE
    label join keyed on doc_a (doc_b carries the same label by
    construction), then two map-side-combinable rollups (per cluster →
    per size).  Nothing here exceeds the pair-set scale, which the
    decade battery pins linear."""
    pairs = ngram_pair_set(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    edges = pairs.join(
        labels.withColumnRenamed("doc_id", "doc_a"), "doc_a"
    ).select("cluster_id")
    per_cluster = (
        labels.groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .join(
            edges.groupBy("cluster_id").agg(
                F.count("*").cast("bigint").alias("n_edges")
            ),
            "cluster_id",
        )
    )
    return (
        per_cluster.groupBy(F.col("n_docs").alias("cluster_size"))
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("n_edges").cast("bigint").alias("n_edges"),
            F.sum(F.expr("n_docs * (n_docs - 1) div 2"))
            .cast("bigint")
            .alias("n_possible"),
        )
        .withColumn(
            "density",
            F.round(F.col("n_edges") / F.col("n_possible"), 4),
        )
        .orderBy("cluster_size")
    )


# Standing-label memo for the incremental CC path: in production these
# are YESTERDAY'S stored cluster labels (built once per corpus version);
# cc_append's job is absorbing today's batch into them.  Session-memoized
# exactly like _CC_LABELS so the timed/benched path measures the APPEND
# work, not the standing rebuild (same build/serve split as
# ivf_pq_build → ivf_pq_append and neardup index build → serve).
_CC_STANDING = SessionMemo(unpersist_local_checkpoint)

CC_APPEND_MOD = 4  # docs with doc_id % 4 == 3 play the incoming batch
# (same fixture convention as dedup.INCREMENTAL_MOD)


def _cc_standing(spark: SparkSession, sf_dir: str, corpus_pairs: DataFrame) -> DataFrame:
    return _CC_STANDING.get(
        spark, (sf_dir,), lambda: connected_components(corpus_pairs)
    )


def cc_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components — absorb an arriving batch into
    standing near-dup cluster labels without re-running the full-corpus
    fixpoint (the dedup analogue of ``ivf_pq_append``: a nightly ingest
    cannot afford O(corpus) label propagation for an O(batch) delta).

    Fixture split: docs with ``doc_id % 4 == 3`` play the incoming
    batch, the rest the standing corpus (same convention as
    ``dedup_incremental``).  Algorithm: (1) standing labels = CC over
    corpus-only pairs (session-memoized — in production yesterday's
    stored table); (2) CONTRACT each batch-touching pair's corpus
    endpoint to its standing label (one key-partitioned left join per
    side — a standing cluster becomes a single supernode); (3) run the
    pointer-doubling fixpoint on the CONTRACTED graph only — its node
    set is batch docs ∪ touched cluster labels ∪ touched singleton
    corpus docs, so the fixpoint is O(batch + touched clusters), never
    O(corpus); (4) corpus docs re-join their (possibly relabeled)
    standing label, batch docs take their contracted label.

    Exactness: a standing label is the MIN doc_id of its corpus
    component, labels only decrease, and the contracted component's min
    equals the merged component's min — so the output is IDENTICAL to a
    full recompute over all pairs, which is exactly what the DuckDB
    oracle runs (the driver hash gate IS the append-vs-recompute
    equivalence check; tests/test_analytics.py asserts it in-process
    plus the O(batch)-work probe)."""
    mod = CC_APPEND_MOD

    def is_batch(c: str):
        return F.col(c) % mod == mod - 1

    pairs = ngram_pair_set(spark, sf_dir).select("doc_a", "doc_b")
    corpus_pairs = pairs.where(~is_batch("doc_a") & ~is_batch("doc_b"))
    batch_pairs = pairs.where(is_batch("doc_a") | is_batch("doc_b"))
    standing = _cc_standing(spark, sf_dir, corpus_pairs)
    sa = standing.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("la"))
    sb = standing.select(F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("lb"))
    contracted = (
        batch_pairs.join(sa, "doc_a", "left")
        .join(sb, "doc_b", "left")
        .select(
            F.coalesce("la", F.col("doc_a")).alias("doc_a"),
            F.coalesce("lb", F.col("doc_b")).alias("doc_b"),
        )
    )
    delta = connected_components(contracted)
    lmap = delta.select(
        F.col("doc_id").alias("old_label"), F.col("cluster_id").alias("new_label")
    )
    corpus_final = (
        standing.join(lmap, standing.cluster_id == lmap.old_label, "left")
        .select(
            "doc_id",
            F.coalesce("new_label", "cluster_id").alias("cluster_id"),
        )
    )
    extra = delta.join(standing.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", "cluster_id"
    )
    out = corpus_final.unionByName(extra)
    w = Window.partitionBy("cluster_id")
    return (
        out.withColumn("n_docs", F.count("*").over(w))
        .select(
            "doc_id",
            "cluster_id",
            "n_docs",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
        )
        .orderBy("cluster_id", "doc_id")
    )


def pipeline_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation verdict: quality score, exact-dup flag
    (bag-of-words fingerprint — keep the min doc_id of each group),
    near-dup flag (non-representative member of a CC cluster), and the
    final keep decision (quality ≥ 0.5 AND not a dropped duplicate).

    Plan: one corpus scan computing (q, fp) → fingerprint-keep via a
    window over fp (one shuffle) → left join the cluster table (itself
    the CC fixpoint).  No collects; every stage partial-aggregable or
    key-partitioned."""
    docs = load_table_balanced(spark, sf_dir, "documents").select(
        "doc_id", quality_score_col().alias("q"), bow_fingerprint("text").alias("fp")
    )
    w = Window.partitionBy("fp")
    flagged = docs.withColumn("fp_keep", F.min("doc_id").over(w))
    comp = _cc_labels(spark, sf_dir)
    out = flagged.join(comp, "doc_id", "left").select(
        "doc_id",
        "q",
        (F.col("doc_id") != F.col("fp_keep")).alias("exact_dup"),
        (F.col("cluster_id").isNotNull() & (F.col("doc_id") != F.col("cluster_id"))).alias(
            "near_dup"
        ),
    )
    return out.withColumn(
        "keep",
        (F.col("q") >= 0.5) & ~F.col("exact_dup") & ~F.col("near_dup"),
    ).orderBy("doc_id")


def pipeline_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE per-document curation verdict — every signal the
    pipeline computes, joined into the one table a training run consumes:
    quality score, eval-holdout membership, exact-duplicate flag, near-dup
    flag (CC cluster non-representative), eval-set contamination
    (shared word-5-gram), repetition flags (Gopher-style), and the final
    ``keep`` decision (not eval, quality ≥ 0.5, none of the flags).

    Plan: the corpus scan computes (q, fp) once; each flag table is a
    key-partitioned left join on doc_id — fingerprint window, CC fixpoint,
    decontamination equi-join, repetition groupBys — all bounded, no
    collects, every join on the same key so AQE coalesces the final
    assembly."""
    from elastic_stream_spark.operators.curation import (
        EVAL_MOD,
        decontaminate_ngrams,
        text_repetition,
    )

    docs = load_table_balanced(spark, sf_dir, "documents").select(
        "doc_id", quality_score_col().alias("q"), bow_fingerprint("text").alias("fp")
    )
    w = Window.partitionBy("fp")
    flagged = docs.withColumn("fp_keep", F.min("doc_id").over(w))
    comp = _cc_labels(spark, sf_dir)
    contam = decontaminate_ngrams(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("contaminated_t")
    )
    rep = text_repetition(spark, sf_dir).select(
        "doc_id", F.col("flagged").alias("repetitive_t")
    )
    out = (
        flagged.join(comp, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .select(
            "doc_id",
            "q",
            (F.col("doc_id") % EVAL_MOD == 0).alias("is_eval"),
            (F.col("doc_id") != F.col("fp_keep")).alias("exact_dup"),
            (
                F.col("cluster_id").isNotNull()
                & (F.col("doc_id") != F.col("cluster_id"))
            ).alias("near_dup"),
            F.coalesce("contaminated_t", F.lit(False)).alias("contaminated"),
            F.coalesce("repetitive_t", F.lit(False)).alias("repetitive"),
        )
    )
    return out.withColumn(
        "keep",
        ~F.col("is_eval")
        & (F.col("q") >= 0.5)
        & ~F.col("exact_dup")
        & ~F.col("near_dup")
        & ~F.col("contaminated")
        & ~F.col("repetitive"),
    ).orderBy("doc_id")


# FP_TERM_MOD (manifest-fingerprint term modulus) moved to
# functions/textfns.py — imported above, still re-exported from here
# for the existing importers (streaming/pipeline.py, tests).


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED nightly curation pipeline, end to end: per-document
    verdict (quality ≥ 0.5, not eval-holdout, not exact/near duplicate,
    not eval-contaminated, not repetitive — exactly
    ``pipeline_curation_verdict``'s ``keep``) → deterministic hash
    split/shard assignment — the SPLIT gate hashes the SOURCE
    (``corpus_split_by_source``'s group-aware md5, so near-dup twins
    clustered within a domain can never straddle train/test; a per-doc
    split leaks exactly the dedup-recall misses ``split_leakage_check``
    measures), while the SHARD stays a per-doc hash (shards exist for
    load balance inside one split, where co-membership is harmless) →
    greedy in-order 512-token sequence packing within each (split,
    shard) (``pipeline_pack_sequences``'s window) → the final TRAINING
    MANIFEST: one row per (split, shard) with doc/token/sequence counts
    and an order-insensitive content fingerprint (Σ md5-term mod p over
    member doc_ids).  Two runs agree iff they selected exactly the same
    documents into the same shards — the regression gate a production
    pipeline publishes after every nightly build.

    Plan: the verdict reuses the session CC fixpoint (_CC_LABELS) and
    key-partitioned left joins; split/shard is a pure projection; the
    packing window partitions by (split, shard) so no shard's docs
    leave their partition; the manifest is one map-side-combinable
    aggregate over ~|splits × shards| groups with O(1) state (no
    collect_list — the fingerprint is a modular sum).  Every stage is
    the already-verified single-stage operator's plan; what this gate
    adds is the cross-stage dataflow (shared scans, memo reuse,
    persist boundaries) a real 100 TB nightly run exercises."""
    kept = (
        pipeline_curation_verdict(spark, sf_dir)
        .where(F.col("keep"))
        .select("doc_id")
    )
    docs = load_table_balanced(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tokens"),
    )
    gh = F.md5(F.concat(F.lit("gsplit:"), F.col("source")))
    gprefix = F.substring(gh, 1, 4)
    split = (
        F.when(gprefix < CUR_GSPLIT_VAL_HEX, F.lit("val"))
        .when(gprefix < CUR_GSPLIT_TEST_HEX, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    dh = F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    assigned = kept.join(docs, "doc_id").select(
        "doc_id",
        "n_tokens",
        split.alias("split"),
        F.substring(dh, 5, 1).alias("shard"),
    )
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # PACK_BUDGET is a power of two, so cumsum/512 is EXACT in doubles —
    # floor is bit-deterministic in both engines (see pack_sequences)
    binned = assigned.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / CUR_PACK_BUDGET
        ).cast("long"),
    )
    fp_term = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("decimal(20,0)")
        .cast("long")
        % FP_TERM_MOD
    )
    return (
        binned.groupBy("split", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (F.max("bin") + 1).cast("bigint").alias("n_sequences"),
            F.sum(fp_term).cast("bigint").alias("manifest_fp"),
        )
        .orderBy("split", "shard")
    )


def manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly MANIFEST DIFF — the change report published alongside a
    rebuilt corpus: which documents tonight's batch ADDED to the
    training set, and which previously-published documents it REMOVED
    (an arriving duplicate with a smaller doc_id steals the exact-dup
    keeper role; a new near-dup edge can merge clusters and demote
    yesterday's representative).  Snapshot A = the keep-list judged on
    the standing corpus alone (docs with ``doc_id % CC_APPEND_MOD != 3``,
    corpus-only dup graph); snapshot B = the keep-list judged on the
    full corpus (``pipeline_keep_list`` semantics: quality ≥ 0.5, not
    exact-dup keeper-displaced, not near-dup non-representative).
    Output per source: membership counts, docs/tokens added and removed,
    and each snapshot's order-insensitive modular content fingerprint
    (``changed`` iff they differ) — the diff a downstream trainer reads
    before deciding whether to invalidate a data cache.

    Plan (r16 single-pass): both snapshots are judged from ONE corpus
    scan and ONE fp-partitioned window — the same window computes the
    full-corpus keeper (``min(doc_id)``) and the standing-corpus keeper
    (``min(doc_id) over corpus-side rows only``, a conditional min over
    the identical partition), each doc left-joins BOTH memoized CC
    label tables (full ``_CC_LABELS``, standing ``_CC_STANDING``,
    shared with cc_append), and per-doc booleans in_a/in_b replace the
    former doc_id full-outer join outright: snapshot A and B contain
    the SAME doc row or not at all, so the diff is a map-side
    conditional aggregate over docs where in_a ∨ in_b.  The r15 shape
    paid two scans, two windows, and a full-outer exchange for the same
    answer (guide §2.4); the off-stage profile put ~58% of its wall in
    those extra job rounds.  Nothing is corpus-collected; every stage
    is key-partitioned."""
    mod = CC_APPEND_MOD
    docs = load_table_balanced(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tokens"),
        quality_score_col().alias("q"),
        bow_fingerprint("text").alias("fp"),
    )
    pairs = ngram_pair_set(spark, sf_dir).select("doc_a", "doc_b")
    corpus_pairs = pairs.where(
        (F.col("doc_a") % mod != mod - 1) & (F.col("doc_b") % mod != mod - 1)
    )
    is_corpus = F.col("doc_id") % mod != mod - 1
    w = Window.partitionBy("fp")
    flagged = (
        docs.withColumn("fp_keep_all", F.min("doc_id").over(w))
        .withColumn(
            "fp_keep_corpus",
            F.min(F.when(is_corpus, F.col("doc_id"))).over(w),
        )
        .join(
            _cc_standing(spark, sf_dir, corpus_pairs).select(
                "doc_id", F.col("cluster_id").alias("cluster_a")
            ),
            "doc_id",
            "left",
        )
        .join(
            _cc_labels(spark, sf_dir).select(
                "doc_id", F.col("cluster_id").alias("cluster_b")
            ),
            "doc_id",
            "left",
        )
    )
    in_a = (
        is_corpus
        & (F.col("q") >= 0.5)
        & (F.col("doc_id") == F.col("fp_keep_corpus"))
        & (F.col("cluster_a").isNull() | (F.col("doc_id") == F.col("cluster_a")))
    )
    in_b = (
        (F.col("q") >= 0.5)
        & (F.col("doc_id") == F.col("fp_keep_all"))
        & (F.col("cluster_b").isNull() | (F.col("doc_id") == F.col("cluster_b")))
    )
    term = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("decimal(20,0)")
        .cast("long")
        % FP_TERM_MOD
    )
    return (
        flagged.select(
            "source",
            "n_tokens",
            in_a.alias("in_a"),
            in_b.alias("in_b"),
            term.alias("term"),
        )
        .where(F.col("in_a") | F.col("in_b"))
        .groupBy("source")
        .agg(
            F.sum(F.col("in_a").cast("long")).alias("n_yesterday"),
            F.sum(F.col("in_b").cast("long")).alias("n_today"),
            F.sum(F.when(~F.col("in_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_added"),
            F.sum(F.when(~F.col("in_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.sum(F.when(~F.col("in_a"), F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_added"),
            F.sum(F.when(~F.col("in_b"), F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_removed"),
            F.sum(F.when(F.col("in_a"), F.col("term")).otherwise(0))
            .cast("bigint")
            .alias("fp_yesterday"),
            F.sum(F.when(F.col("in_b"), F.col("term")).otherwise(0))
            .cast("bigint")
            .alias("fp_today"),
        )
        .withColumn("changed", F.col("fp_yesterday") != F.col("fp_today"))
        .orderBy("source")
    )


SPR_BATCHES = 3  # the arriving docs replay as 3 ordered micro-batches


def stream_pipeline_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of the STREAMING (incremental-nightly) curation
    pipeline — the dataflow a 100 TB corpus actually runs every night:
    documents ARRIVE (here docs with ``doc_id % 4 == 3``, split into
    ``SPR_BATCHES`` ordered micro-batches by ``(doc_id div 4) mod 3``),
    each micro-batch dedups against the STANDING corpus fingerprints
    PLUS everything admitted before it (corpus ∪ earlier batches ∪
    earlier rows of its own batch), scores quality, and appends ONE
    manifest row — per batch: arrivals, duplicate count, kept count,
    kept token mass, and the order-insensitive modular content
    fingerprint over kept doc_ids.

    ``tests/test_streaming.py::test_stream_pipeline_streaming_equals_replay``
    executes this same dataflow FOR REAL: docs appended to a stream-log
    topic per batch → ``readStream`` (confirm-offset admission) →
    ``foreachBatch`` incremental dedup against a fingerprint stream that
    grows batch-by-batch → exactly-once manifest append
    (``ExactlyOnceAppendSink`` marker protocol, duplicate-batch replay
    included) → fetched manifests equal THIS query's rows.  The
    registered batch form gives the dataflow a driver hash gate (same
    pattern as ``stream_join_replay`` / ``stream_heavy_hitters_replay``).

    Plan: corpus fingerprints reduce to one row per fp (map-side
    combinable); arrival-order dedup is ONE window over fp ordered by
    (batch_id, doc_id) — state per fp is a row_number; the manifest is a
    map-side-combinable groupBy over ``SPR_BATCHES`` groups with O(1)
    agg state (modular-sum fingerprint, no collect_list)."""
    mod = CC_APPEND_MOD
    docs = load_table_balanced(spark, sf_dir, "documents").select(
        "doc_id",
        bow_fingerprint("text").alias("fp"),
        quality_score_col().alias("q"),
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tokens"),
    )
    corpus_fps = (
        docs.where(F.col("doc_id") % mod != mod - 1)
        .groupBy("fp")
        .agg(F.count("*").alias("_n"))
        .select("fp", F.lit(True).alias("in_corpus"))
    )
    incoming = docs.where(F.col("doc_id") % mod == mod - 1).withColumn(
        "batch_id", F.expr(f"(doc_id div {mod}) % {SPR_BATCHES}").cast("long")
    )
    w = Window.partitionBy("fp").orderBy("batch_id", "doc_id")
    flagged = (
        incoming.join(corpus_fps, "fp", "left")
        .withColumn("arrival_rn", F.row_number().over(w))
        .withColumn(
            "is_dup",
            F.coalesce("in_corpus", F.lit(False)) | (F.col("arrival_rn") > 1),
        )
        .withColumn("keep", ~F.col("is_dup") & (F.col("q") >= 0.5))
    )
    fp_term = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("decimal(20,0)")
        .cast("long")
        % FP_TERM_MOD
    )
    return (
        flagged.groupBy("batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
            F.sum(F.when(F.col("keep"), fp_term).otherwise(0))
            .cast("bigint")
            .alias("manifest_fp"),
        )
        .orderBy("batch_id")
    )


def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge (the MDM "golden record" step applied to
    near-dup clusters): for every CC cluster the kept representative
    (min doc_id) absorbs provenance from the members it replaces —
    member count, the sorted distinct source list, language count and
    total chars — so dropping duplicates loses no lineage.  This is the
    operator that turns the cluster table from a drop-list into a
    merge: a real pipeline keeps one copy of the boilerplate page but
    must remember every domain that carried it (for mix weights and
    takedown audits).

    Plan: the memoized CC label table joins the corpus on doc_id (one
    key-partitioned join), then ONE map-side-combinable groupBy per
    cluster; the source list is per-cluster-sized (near-dup clusters
    are shallow), never corpus-sized."""
    comp = _cc_labels(spark, sf_dir)
    docs = load_table_balanced(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return (
        comp.join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.array_join(
                F.sort_array(F.collect_set("source")), ","
            ).alias("sources"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            F.col("cluster_id").alias("keep_doc_id"),
            "n_members",
            "sources",
            "n_langs",
            "total_chars",
        )
        .orderBy("keep_doc_id")
    )


QUERIES = {
    "dedup_clusters": dedup_clusters,
    "dedup_cluster_density_audit": dedup_cluster_density_audit,
    "cc_append": cc_append,
    "pipeline_keep_list": pipeline_keep_list,
    "pipeline_curation_verdict": pipeline_curation_verdict,
    "pipeline_end_to_end": pipeline_end_to_end,
    "stream_pipeline_replay": stream_pipeline_replay,
    "dedup_survivorship": dedup_survivorship,
    "manifest_diff": manifest_diff,
}

# Recursive min-label fixpoint over the same verified pair set the Spark
# side uses; UNION (not UNION ALL) deduplicates states → termination.
_CC_SQL = f"""
    {CAPPED_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM vpairs
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM vpairs
    ),
    walk(node, lbl) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.node
    ),
    comp AS (
      SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node
    )
"""

# Shared CTE chain: the COMPLETE per-document verdict (quality, eval
# flag, exact/near dup, contamination, repetition) — reused by the
# verdict oracle and by pipeline_end_to_end (same `keep` semantics).
_VERDICT_CTE_SQL = f"""
{_CC_SQL},
        {QUALITY_SQL},
        fp AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(
                       string_split(lower(text), ' '))), ' ')) AS fp
          FROM documents
        ),
        ng5 AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(t) - {CUR_NGRAM_N - 1}),
                   i -> array_to_string(t[i:i+{CUR_NGRAM_N - 1}], ' ')))) AS g
          FROM toks WHERE len(t) >= {CUR_NGRAM_N}
        ),
        eval_ng AS (
          SELECT DISTINCT g FROM ng5 WHERE doc_id % {CUR_EVAL_MOD} = 0
        ),
        decon AS (
          SELECT DISTINCT n.doc_id FROM ng5 n JOIN eval_ng e USING (g)
          WHERE n.doc_id % {CUR_EVAL_MOD} != 0
        ),
        rbase AS (
          SELECT doc_id, len(t) AS n_tokens,
                 list_transform(generate_series(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i+1]) AS g2,
                 t
          FROM toks WHERE len(t) >= 2
        ),
        rstats AS (
          SELECT doc_id, n_tokens, len(g2) AS n2,
                 len(list_distinct(g2)) AS d2
          FROM rbase
        ),
        rtok AS (
          SELECT doc_id, tok, count(*) AS c
          FROM (SELECT doc_id, unnest(t) AS tok FROM rbase)
          GROUP BY doc_id, tok
        ),
        rtop AS (SELECT doc_id, max(c) AS top_c FROM rtok GROUP BY doc_id),
        rflag AS (
          SELECT s.doc_id,
                 ((s.n2 - s.d2) * 1.0 / s.n2 > {REP_DUP2_MAX}
                  OR t.top_c * 1.0 / s.n_tokens > {REP_TOPTOK_MAX})
                   AS repetitive
          FROM rstats s JOIN rtop t ON s.doc_id = t.doc_id
        ),
        verdict AS (
          SELECT f.doc_id, q.q,
                 f.doc_id % {CUR_EVAL_MOD} = 0 AS is_eval,
                 f.doc_id <> min(f.doc_id) OVER (PARTITION BY f.fp) AS exact_dup,
                 c.cluster_id IS NOT NULL AND f.doc_id <> c.cluster_id AS near_dup,
                 d.doc_id IS NOT NULL AS contaminated,
                 coalesce(r.repetitive, FALSE) AS repetitive
          FROM fp f
          JOIN q_per_doc q ON f.doc_id = q.doc_id
          LEFT JOIN comp c ON f.doc_id = c.doc_id
          LEFT JOIN decon d ON f.doc_id = d.doc_id
          LEFT JOIN rflag r ON f.doc_id = r.doc_id
        )
"""

ORACLES = {
    # cc_append's oracle is the FULL-RECOMPUTE fixpoint over all pairs —
    # identical output by the min-label contraction argument (docstring),
    # so the hash gate is the append-vs-recompute equivalence check
    "cc_append": f"""
        WITH RECURSIVE {_CC_SQL}
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS n_docs,
               doc_id = cluster_id AS is_representative
        FROM comp
        ORDER BY cluster_id, doc_id
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_CC_SQL}
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS n_docs,
               doc_id = cluster_id AS is_representative
        FROM comp
        ORDER BY cluster_id, doc_id
    """,
    # snapshot A's near-dup labels rerun the fixpoint over CORPUS-ONLY
    # edges (cedges/cwalk/ccomp), mirroring _cc_standing; snapshot B
    # reuses the full-corpus comp
    "manifest_diff": f"""
        WITH RECURSIVE {_CC_SQL},
        cedges AS (
          SELECT doc_a AS s, doc_b AS d FROM vpairs
          WHERE doc_a % {CC_APPEND_MOD} != {CC_APPEND_MOD - 1}
            AND doc_b % {CC_APPEND_MOD} != {CC_APPEND_MOD - 1}
          UNION ALL
          SELECT doc_b AS s, doc_a AS d FROM vpairs
          WHERE doc_a % {CC_APPEND_MOD} != {CC_APPEND_MOD - 1}
            AND doc_b % {CC_APPEND_MOD} != {CC_APPEND_MOD - 1}
        ),
        cwalk(node, lbl) AS (
          SELECT DISTINCT s, s FROM cedges
          UNION
          SELECT e.d, w.lbl FROM cwalk w JOIN cedges e ON e.s = w.node
        ),
        ccomp AS (
          SELECT node AS doc_id, min(lbl) AS cluster_id
          FROM cwalk GROUP BY node
        ),
        {QUALITY_SQL},
        base AS (
          SELECT d.doc_id, d.source,
                 len(string_split(lower(d.text), ' ')) AS n_tokens,
                 md5(array_to_string(list_sort(list_distinct(
                       string_split(lower(d.text), ' '))), ' ')) AS fp,
                 q.q
          FROM documents d JOIN q_per_doc q USING (doc_id)
        ),
        kept_b AS (
          SELECT doc_id, source, n_tokens FROM (
            SELECT b.doc_id, b.source, b.n_tokens, b.q, c.cluster_id,
                   b.doc_id <> min(b.doc_id) OVER (PARTITION BY b.fp)
                     AS exact_dup
            FROM base b LEFT JOIN comp c ON b.doc_id = c.doc_id
          )
          WHERE q >= 0.5 AND NOT exact_dup
            AND NOT (cluster_id IS NOT NULL AND doc_id <> cluster_id)
        ),
        kept_a AS (
          SELECT doc_id, source, n_tokens FROM (
            SELECT b.doc_id, b.source, b.n_tokens, b.q, c.cluster_id,
                   b.doc_id <> min(b.doc_id) OVER (PARTITION BY b.fp)
                     AS exact_dup
            FROM base b LEFT JOIN ccomp c ON b.doc_id = c.doc_id
            WHERE b.doc_id % {CC_APPEND_MOD} != {CC_APPEND_MOD - 1}
          )
          WHERE q >= 0.5 AND NOT exact_dup
            AND NOT (cluster_id IS NOT NULL AND doc_id <> cluster_id)
        ),
        j AS (
          SELECT coalesce(a.source, b.source) AS source,
                 coalesce(a.doc_id, b.doc_id) AS doc_id,
                 a.doc_id AS a_id, b.doc_id AS b_id,
                 a.n_tokens AS a_tok, b.n_tokens AS b_tok,
                 ('0x' || substring(md5(CAST(coalesce(a.doc_id, b.doc_id)
                     AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
                   % {FP_TERM_MOD} AS term
          FROM kept_a a FULL OUTER JOIN kept_b b ON a.doc_id = b.doc_id
        ),
        agg AS (
          SELECT source,
                 CAST(count(a_id) AS BIGINT) AS n_yesterday,
                 CAST(count(b_id) AS BIGINT) AS n_today,
                 CAST(sum(CASE WHEN a_id IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_added,
                 CAST(sum(CASE WHEN b_id IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_removed,
                 CAST(sum(CASE WHEN a_id IS NULL THEN b_tok ELSE 0 END)
                   AS BIGINT) AS tokens_added,
                 CAST(sum(CASE WHEN b_id IS NULL THEN a_tok ELSE 0 END)
                   AS BIGINT) AS tokens_removed,
                 CAST(sum(CASE WHEN a_id IS NOT NULL THEN term ELSE 0 END)
                   AS BIGINT) AS fp_yesterday,
                 CAST(sum(CASE WHEN b_id IS NOT NULL THEN term ELSE 0 END)
                   AS BIGINT) AS fp_today
          FROM j GROUP BY source
        )
        SELECT source, n_yesterday, n_today, n_added, n_removed,
               tokens_added, tokens_removed, fp_yesterday, fp_today,
               fp_yesterday <> fp_today AS changed
        FROM agg ORDER BY source
    """,
    "pipeline_keep_list": f"""
        WITH RECURSIVE {_CC_SQL},
        {QUALITY_SQL},
        fp AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(
                       string_split(lower(text), ' '))), ' ')) AS fp
          FROM documents
        ),
        flagged AS (
          SELECT f.doc_id,
                 q.q,
                 f.doc_id <> min(f.doc_id) OVER (PARTITION BY f.fp) AS exact_dup,
                 c.cluster_id IS NOT NULL AND f.doc_id <> c.cluster_id AS near_dup
          FROM fp f
          JOIN q_per_doc q ON f.doc_id = q.doc_id
          LEFT JOIN comp c ON f.doc_id = c.doc_id
        )
        SELECT doc_id, q, exact_dup, near_dup,
               q >= 0.5 AND NOT exact_dup AND NOT near_dup AS keep
        FROM flagged
        ORDER BY doc_id
    """,
    # full verdict: CC fixpoint + quality + fingerprints + 5-gram eval
    # decontamination + repetition flags, assembled exactly like the Spark
    # plan (r-prefixed CTEs avoid collisions with the pair-set fragment,
    # which already defines `toks`)
    "pipeline_curation_verdict": f"""
        WITH RECURSIVE {_VERDICT_CTE_SQL}
        SELECT doc_id, q, is_eval, exact_dup, near_dup, contaminated,
               repetitive,
               NOT is_eval AND q >= 0.5 AND NOT exact_dup AND NOT near_dup
                 AND NOT contaminated AND NOT repetitive AS keep
        FROM verdict ORDER BY doc_id
    """,
    # sequential-admission replay: corpus fps ∪ earlier arrivals via ONE
    # arrival-ordered window; mirrors stream_pipeline_replay stage for stage
    "stream_pipeline_replay": f"""
        WITH {QUALITY_SQL},
        base AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(
                       string_split(lower(text), ' '))), ' ')) AS fp,
                 len(string_split(lower(text), ' ')) AS n_tokens
          FROM documents
        ),
        corpus AS (
          SELECT DISTINCT fp FROM base WHERE doc_id % {CC_APPEND_MOD} != {CC_APPEND_MOD - 1}
        ),
        inc AS (
          SELECT b.doc_id, b.fp, q.q, b.n_tokens,
                 (b.doc_id // {CC_APPEND_MOD}) % {SPR_BATCHES} AS batch_id
          FROM base b JOIN q_per_doc q USING (doc_id)
          WHERE b.doc_id % {CC_APPEND_MOD} = {CC_APPEND_MOD - 1}
        ),
        flagged AS (
          SELECT batch_id, doc_id, q, n_tokens,
                 (c.fp IS NOT NULL)
                   OR row_number() OVER (PARTITION BY i.fp
                                         ORDER BY batch_id, doc_id) > 1
                   AS is_dup
          FROM inc i LEFT JOIN corpus c ON i.fp = c.fp
        ),
        verdicts AS (
          SELECT batch_id, doc_id, n_tokens, is_dup,
                 NOT is_dup AND q >= 0.5 AS keep
          FROM flagged
        )
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
                 AS kept_tokens,
               CAST(sum(CASE WHEN keep THEN
                      ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        ::UBIGINT::BIGINT % {FP_TERM_MOD}
                    ELSE 0 END) AS BIGINT) AS manifest_fp
        FROM verdicts
        GROUP BY batch_id
        ORDER BY batch_id
    """,
    "dedup_survivorship": f"""
        WITH RECURSIVE {_CC_SQL}
        SELECT c.doc_id AS keep_doc_id, n_members, sources, n_langs,
               total_chars
        FROM (
          SELECT cluster_id,
                 count(*) AS n_members,
                 array_to_string(list_sort(list(DISTINCT d.source)), ',')
                   AS sources,
                 CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
                 CAST(sum(d.n_chars) AS BIGINT) AS total_chars
          FROM comp JOIN documents d USING (doc_id)
          GROUP BY cluster_id
        ) s
        JOIN (SELECT DISTINCT cluster_id AS doc_id FROM comp) c
          ON s.cluster_id = c.doc_id
        ORDER BY keep_doc_id
    """,
    # same verdict CTE → keep filter → hash split/shard → 512-token
    # packing window → manifest rollup (mirrors pipeline_end_to_end
    # stage for stage; fingerprint = Σ (md5-60-bit mod p))
    "pipeline_end_to_end": f"""
        WITH RECURSIVE {_VERDICT_CTE_SQL},
        kept AS (
          SELECT v.doc_id,
                 len(string_split(lower(d.text), ' ')) AS n_tokens,
                 md5('gsplit:' || d.source) AS gh,
                 md5('split:' || CAST(v.doc_id AS VARCHAR)) AS dh
          FROM verdict v JOIN documents d USING (doc_id)
          WHERE NOT v.is_eval AND v.q >= 0.5 AND NOT v.exact_dup
            AND NOT v.near_dup AND NOT v.contaminated AND NOT v.repetitive
        ),
        assigned AS (
          SELECT doc_id, n_tokens,
                 CASE WHEN substr(gh, 1, 4) < '{CUR_GSPLIT_VAL_HEX}' THEN 'val'
                      WHEN substr(gh, 1, 4) < '{CUR_GSPLIT_TEST_HEX}' THEN 'test'
                      ELSE 'train'
                 END AS split,
                 substr(dh, 5, 1) AS shard
          FROM kept
        ),
        binned AS (
          SELECT split, shard, doc_id, n_tokens,
                 CAST(floor(coalesce(sum(n_tokens) OVER (
                        PARTITION BY split, shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0) / {CUR_PACK_BUDGET}) AS BIGINT) AS bin
          FROM assigned
        )
        SELECT split, shard,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(max(bin) + 1 AS BIGINT) AS n_sequences,
               CAST(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        ::UBIGINT::BIGINT % {FP_TERM_MOD}) AS BIGINT)
                 AS manifest_fp
        FROM binned
        GROUP BY split, shard
        ORDER BY split, shard
    """,
    "dedup_cluster_density_audit": f"""
        WITH RECURSIVE {_CC_SQL},
        sized AS (
          SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
          FROM comp GROUP BY cluster_id
        ), cedges AS (
          SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
          FROM vpairs v JOIN comp c ON c.doc_id = v.doc_a
          GROUP BY c.cluster_id
        ), j AS (
          SELECT s.n_docs AS cluster_size, e.n_edges, s.cluster_id
          FROM sized s JOIN cedges e USING (cluster_id)
        )
        SELECT cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(n_edges) AS BIGINT) AS n_edges,
               CAST(sum(cluster_size * (cluster_size - 1) // 2) AS BIGINT)
                 AS n_possible,
               round(sum(n_edges) * 1.0
                     / sum(cluster_size * (cluster_size - 1) // 2), 4)
                 AS density
        FROM j GROUP BY cluster_size ORDER BY cluster_size
        """,
}
