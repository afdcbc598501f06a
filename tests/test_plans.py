"""Physical-plan shape assertions — the 100 TB contract, checked in CI.

Correctness says WHAT a query returns; these tests pin HOW Catalyst will
execute it at scale: dimension joins must broadcast (no shuffle of the
big side), offset/stream predicates must reach the parquet scan
(partition pruning + row-group stats), LSH/decontamination candidate
generation must be equi-joins (never a cartesian/nested-loop product),
and column pruning must drop unused fixture columns from ReadSchema.
A regression that keeps results identical but silently degrades any of
these (e.g. a join rewritten so it stops broadcasting) fails here long
before a cluster run would reveal it.
"""

from __future__ import annotations

import contextlib
import io

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_dimension_joins_broadcast(spark):
    """TPC-H-style joins: every dimension side must broadcast — the big
    fact table shuffles at most once (for its aggregation), never for a
    dimension join."""
    from elastic_stream_spark.operators.relational import (
        q3_shipping_priority,
        q5_local_supplier,
    )

    p3 = plan_of(q3_shipping_priority(spark, SF_DIR))
    assert "BroadcastHashJoin" in p3
    p5 = plan_of(q5_local_supplier(spark, SF_DIR))
    # q5 joins 5 dimensions around lineitem⋈orders; all must broadcast
    assert p5.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p5


def test_fetch_pushes_offset_predicates_to_scan(spark):
    """FETCH = partition-pruned directory scan + offset row-group
    pushdown: the stream_id predicate must appear as a partition filter
    and the offset bounds as pushed data filters — the sparse-index
    contract (SURVEY.md §2 row 5)."""
    from elastic_stream_spark.operators.stream_ops import FETCH_HI, FETCH_LO, FETCH_STREAM
    from elastic_stream_spark.sources.materialize import get_engine

    eng = get_engine(spark, SF_DIR)
    plan = plan_of(eng.log.fetch(FETCH_STREAM, FETCH_LO, FETCH_HI))
    assert "PartitionFilters" in plan and "stream_id" in plan
    assert "PushedFilters" in plan
    # offset bounds reach the parquet reader (row-group stats skipping)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("offset" in l for l in pushed), pushed


def test_lsh_and_decontamination_have_no_product_joins(spark):
    """Candidate generation must stay an equi-join on the bucket/n-gram
    key: a cartesian or broadcast-nested-loop product anywhere means the
    plan is quadratic in corpus size."""
    from elastic_stream_spark.operators.curation import decontaminate_ngrams
    from elastic_stream_spark.operators.dedup import dedup_minhash_lsh, dedup_substring
    from elastic_stream_spark.operators.similarity import dedup_embedding_lsh
    from elastic_stream_spark.operators.text_pipeline import source_ngram_overlap

    for q in (
        dedup_minhash_lsh,
        dedup_embedding_lsh,
        decontaminate_ngrams,
        dedup_substring,
        source_ngram_overlap,
    ):
        plan = plan_of(q(spark, SF_DIR))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_column_pruning_reaches_scan(spark):
    """text_token_stats touches only (source, text): the parquet
    ReadSchema must exclude the unused fixture columns lang/n_chars."""
    from elastic_stream_spark.operators.text import text_token_stats

    plan = plan_of(text_token_stats(spark, SF_DIR))
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert rs and all("lang" not in l and "n_chars" not in l for l in rs), rs


def test_whole_stage_codegen_covers_aggregation(spark):
    """The pricing-summary scan→filter→project→partial-agg pipeline must
    run inside ONE whole-stage-codegen span (JVM, vectorized) — no
    interpreted projections in the hot path.  (AQE shows codegen ids only
    on the executed final plan, so run the query first.)"""
    from elastic_stream_spark.operators.relational import q1_pricing_summary

    df = q1_pricing_summary(spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    span1 = [l for l in plan.splitlines() if "codegen id : 1" in l]
    # scan-side ops fused into span 1: filter, project, partial aggregate
    assert any("Filter" in l for l in span1), span1
    assert any("HashAggregate" in l for l in span1), span1


def test_sample_mix_is_shuffle_minimal(spark):
    """The sampling gate is a pure projection: exactly one exchange (the
    20-row source aggregation) and no join anywhere."""
    from elastic_stream_spark.operators.curation import pipeline_sample_mix

    import re

    plan = plan_of(pipeline_sample_mix(spark, SF_DIR))
    assert "Join" not in plan
    # allowed exchanges: the single-split fixture rebalance, the
    # groupBy(source) agg shuffle, and the 20-row orderBy range exchange —
    # the keep-gate itself must add none
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges <= 3, plan


def test_salted_join_spreads_key_over_salt(spark):
    """The salted join's shuffle must key on (orderkey, salt) — a hot
    orderkey then lands on SALT partitions instead of one — and must be
    a shuffled join (broadcast would hide the salt entirely)."""
    from elastic_stream_spark.operators.scale_patterns import (
        skew_salted_join_revenue,
    )

    plan = plan_of(skew_salted_join_revenue(spark, SF_DIR))
    assert "ShuffledHashJoin" in plan, plan
    # formatted plans print join keys as "Left keys [2]: [l_orderkey, salt]"
    key_lines = [l for l in plan.splitlines() if "keys" in l.lower()]
    assert any("salt" in l for l in key_lines), key_lines
    assert "CartesianProduct" not in plan
    # the salt must be full-width: every value in [0, SALT) occurs across
    # the fact side (l_linenumber % SALT only ever hit 7 of 16)
    import pyspark.sql.functions as F

    from elastic_stream_spark.operators.scale_patterns import SALT
    from elastic_stream_spark.sources.envelope import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    salt = F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(SALT))
    n = li.select(salt.alias("s")).agg(F.countDistinct("s")).first()[0]
    assert n == SALT, f"salt spread {n}/{SALT}"


def test_bucketed_join_runs_with_zero_exchanges(spark, workdir):
    """Bucketing ≙ pre-shuffled storage: lineitem and orders bucketed by
    order key join with NO exchange on either side — the co-located-join
    contract repeated fact joins rely on at 100 TB."""
    import pyspark.sql.functions as F

    from elastic_stream_spark.sources.envelope import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_extendedprice")
    od = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    for name, df, key in (("b_li", li, "l_orderkey"), ("b_od", od, "o_orderkey")):
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{workdir}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    try:
        j = (
            spark.table("b_li")
            .hint("merge")  # force SMJ: broadcast would also skip the shuffle
            .join(
                spark.table("b_od"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = plan_of(j.select("o_orderpriority", "rev"))
        join_seen = "SortMergeJoin" in plan
        assert join_seen, plan
        # the ONLY allowed exchange is the final groupBy's (priority keys);
        # neither join input may re-shuffle
        pre_join = plan.split("SortMergeJoin")[-1]  # formatted plan: inputs follow
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "SelectedBucketsCount" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_od")


def test_curation_verdict_joins_stay_keyed(spark):
    """The full curation verdict assembles five signal tables: every join
    must stay keyed (doc_id / n-gram / shingle equi-joins) — no cartesian
    or broadcast-nested-loop anywhere in the composite plan."""
    from elastic_stream_spark.operators.pipeline import pipeline_curation_verdict

    plan = plan_of(pipeline_curation_verdict(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_plan_is_join_free(spark):
    """SemDeDup's pairwise work happens INSIDE the per-cell Arrow stage
    (one numpy matmul per cell) — the Spark plan itself must contain no
    join at all: its only data-sized exchanges are the cell-key shuffle
    into applyInPandas and the output sort."""
    from elastic_stream_spark.operators.similarity import dedup_semantic

    plan = plan_of(dedup_semantic(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_replay_plan_shape(spark):
    """The sketch replay's only event-sized exchange is the partial-
    aggregable (stream, key) count; the Arrow fold then runs over the
    vocabulary-sized count table (an applyInPandas straight over the
    events would materialize a whole logical stream per task).  No join;
    exchanges: count shuffle, fold regroup, bounded output sort."""
    import re

    from elastic_stream_spark.operators.streaming_ops import (
        stream_heavy_hitters_replay,
    )

    plan = plan_of(stream_heavy_hitters_replay(spark, SF_DIR))
    assert "Join" not in plan, plan
    # the event-sized aggregation must partially aggregate map-side
    assert plan.count("HashAggregate") >= 2, plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges <= 3, plan


def test_ivf_index_build_has_no_cell_exchange(spark):
    """The IVF/PQ index build must stay map-only: no Exchange hashed on
    the cell id anywhere in either gate query's plan (hashing nlist=8
    distinct cells would concentrate the corpus onto <= 8 cores)."""
    from elastic_stream_spark.operators.similarity import (
        sim_ann_ivf_clustered,
        sim_ann_ivf_pq,
    )

    for fn in (sim_ann_ivf_clustered, sim_ann_ivf_pq):
        plan = plan_of(fn(spark, SF_DIR))
        assert "hashpartitioning(cell" not in plan, fn.__name__


def test_ivf_pq_probe_cells_are_driver_literal(spark):
    """ivf_pq_topk's probe-cell table must be a driver-computed literal
    (r16): the query vectors are ALREADY collected for the ADC closure,
    so a broadcast(ivf_probe_cells(queries, ...)) would re-evaluate the
    whole queries subtree (a corpus scan) plus a Python map stage just
    to rank ≤ N_QUERIES × nlist dot products.  Pins that the inline
    build-and-query plan carries exactly the ENCODE Python stage(s) and
    the served plan carries NONE (its codes come from the parquet
    index) — a reappearing probe-side MapInPandas would fail both."""
    from elastic_stream_spark.operators.similarity import (
        sim_ann_ivf_pq,
        sim_ann_ivf_pq_served,
    )

    pq = plan_of(sim_ann_ivf_pq(spark, SF_DIR))
    assert pq.count("MapInPandas") <= 2, pq.count("MapInPandas")
    served = plan_of(sim_ann_ivf_pq_served(spark, SF_DIR))
    assert "MapInPandas" not in served


def test_q21_profile_has_no_expand(spark):
    """q21's per-order profile must come from the pair-level
    pre-aggregation, not a double countDistinct: two countDistincts in
    one groupBy make Catalyst insert an Expand that doubles the
    lineitem-sized shuffle input (r6 VERDICT "What's wrong" #1).  The
    rewrite keeps the result hash identical (driver gate) while this
    pins the plan shape."""
    from elastic_stream_spark.operators.relational_tpch import q21_waiting_supplier

    plan = plan_of(q21_waiting_supplier(spark, SF_DIR))
    assert "Expand" not in plan, "q21 regressed to a countDistinct Expand"


def test_window_unique_users_has_no_expand(spark):
    """A SINGLE distinct group (countDistinct + plain count) must plan
    as two chained hash aggregations — Catalyst inserts an Expand only
    for ≥ 2 distinct groups (the q21 lesson).  Pins that the windowed
    cardinality panel never doubles its event-sized shuffle input."""
    from elastic_stream_spark.operators.streaming_ops import window_unique_users

    plan = plan_of(window_unique_users(spark, SF_DIR))
    assert "Expand" not in plan, "windowed distinct gained an Expand"


def test_source_cap_uses_window_group_limit(spark):
    """The per-source quota must execute as a map-side partial top-N
    (WindowGroupLimit below the shuffle), not a full per-key sort — the
    property that keeps a hot domain from shuffling its entire row set."""
    from elastic_stream_spark.operators.curation import source_cap_sample

    plan = plan_of(source_cap_sample(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_random_project_is_map_only(spark):
    """emb_random_project must be one shuffle-free projection: no join,
    no window, no hash exchange — the only Exchange allowed is the final
    presentation sort's range partitioning."""
    from elastic_stream_spark.operators.similarity import emb_random_project

    plan = plan_of(emb_random_project(spark, SF_DIR))
    assert "hashpartitioning" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_split_shards_is_projection_plus_one_agg(spark):
    """corpus_split_shards: split/shard assignment must stay a pure
    projection over the scan — no join, no window; the only hash
    exchange is the (split, shard) aggregation with a partial_ map-side
    combine below it."""
    from elastic_stream_spark.operators.curation import corpus_split_shards

    plan = plan_of(corpus_split_shards(spark, SF_DIR))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("hashpartitioning") == 1
    assert "partial_count" in plan


def test_quantize_int8_is_map_only_fold(spark):
    """emb_quantize_int8: the quantize/dequantize/error fold must not
    explode the vectors or shuffle them — one scan, one label
    aggregation (map-side combinable), no join/window/Generate."""
    from elastic_stream_spark.operators.similarity import emb_quantize_int8

    plan = plan_of(emb_quantize_int8(spark, SF_DIR))
    assert "Generate" not in plan, "vector exploded — fold regressed"
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("hashpartitioning") == 1
    assert "partial_avg" in plan


def test_quality_buckets_single_source_window(spark):
    """quality_buckets: ONE hash exchange total — the ntile window
    partitions by source and the (source, bucket) groupBy's clustered
    distribution is satisfied by that same partitioning (subset
    property), so the tier summary adds no second shuffle."""
    from elastic_stream_spark.operators.curation import quality_buckets

    plan = plan_of(quality_buckets(spark, SF_DIR))
    assert "ntile" in plan and "Join" not in plan
    assert plan.count("hashpartitioning") == 1


def test_bm25_two_phase_topk_plan(spark):
    """BM25's per-query top-k must execute as the two-phase prune: a
    WindowGroupLimit (rank pushed into the sort) on BOTH window passes,
    no cartesian product, and the probe-terms join broadcast (the
    corpus-side postings never move for it)."""
    from elastic_stream_spark.operators.retrieval import bm25_search

    plan = plan_of(bm25_search(spark, SF_DIR))
    assert plan.count("WindowGroupLimit") >= 2, "two-phase top-k degraded"
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # tiny probe set broadcasts


def test_bigram_pmi_take_ordered_plan(spark):
    """PMI's global top-k must be TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows) — never a single-partition sort or
    window over the full collocation table."""
    from elastic_stream_spark.operators.retrieval import bigram_pmi

    plan = plan_of(bigram_pmi(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_end_to_end_manifest_invariants_and_plan(spark):
    """The composed nightly-pipeline gate: (1) manifest counts must
    reconcile exactly with the verdict's keep set (no docs lost or
    duplicated across split/shard cells); (2) sequence counts must be
    consistent with greedy 512-token packing; (3) the composite plan
    must stay keyed — no cartesian/nested-loop join anywhere."""
    from pyspark.sql import functions as F

    from elastic_stream_spark.operators.curation import PACK_BUDGET
    from elastic_stream_spark.operators.pipeline import (
        pipeline_curation_verdict,
        pipeline_end_to_end,
    )

    df = pipeline_end_to_end(spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    rows = df.collect()
    assert rows, "manifest is empty"
    kept = (
        pipeline_curation_verdict(spark, SF_DIR)
        .where(F.col("keep"))
        .count()
    )
    assert sum(r.n_docs for r in rows) == kept
    for r in rows:
        assert r.split in ("train", "val", "test")
        assert len(r.shard) == 1
        # greedy packing: bins hold < BUDGET cumulative tokens before
        # each doc, so the bin count is bounded by the token mass
        assert r.n_sequences >= 1
        assert (r.n_sequences - 1) * PACK_BUDGET <= max(
            r.total_tokens, PACK_BUDGET
        )
        assert r.manifest_fp >= 0
    # fingerprints must distinguish cells (content-sensitive): all
    # distinct on this fixture
    fps = [r.manifest_fp for r in rows]
    assert len(set(fps)) == len(fps)


def test_repetition_stats_computed_below_the_explode(spark):
    """Expressions sharing a select with a generator land in the Project
    ABOVE Generate and re-evaluate once per exploded row — for
    text_repetition's 2-gram transform + array_distinct that was a
    measured 150× amplification (9.7 s → 1.0 s at sf0.1 when split).
    Pin the fix: the Generate's input must already carry the computed
    n2/d2 columns, and no Project above the Generate may recompute
    array_distinct."""
    from elastic_stream_spark.operators.curation import text_repetition

    plan = plan_of(text_repetition(spark, SF_DIR))
    gen_block = next(
        b for b in plan.split("\n\n") if b.startswith("(") and ") Generate" in b
    )
    input_line = next(
        l for l in gen_block.splitlines() if l.startswith("Input")
    )
    assert "n2#" in input_line and "d2#" in input_line, gen_block
    gen_pos = plan.index(gen_block)
    # formatted details print leaves-first, so operators ABOVE the
    # Generate appear AFTER it in the text; none of them may recompute
    # the gram stats
    assert "array_distinct" not in plan[gen_pos + len(gen_block):]


def test_substring_span_stage_is_bounded_working_set(spark):
    """The r9 span-extraction shape (SCALE.extra.md A/B/C): the
    duplicated-gram verdict must be a partial-aggregable HashAggregate
    over the hash key — never a Window over the gram-scale table (a
    window hash-partitions AND sorts the whole index in one wave).
    Windows may only appear downstream, partitioned by doc — the
    bucket-interval union merge (in-bucket islands come from the
    higher-order fold inside the row, not a window)."""
    import re

    from elastic_stream_spark.operators.dedup import dedup_substring

    plan = dedup_substring(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    # dup verdict: hash aggregate keyed by the gram hash with min/max state
    assert re.search(r"HashAggregate\(keys=\[h1#\d+L, h2#\d+L\]", plan), plan[:3000]
    # no window partitions by the gram hash key anywhere
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "h1#" not in line and "h2#" not in line, line
    assert "CartesianProduct" not in plan


def test_audit_epoch_and_manifest_plans_topk_and_join_free(spark):
    """Plan shapes for the drift/calibration audits, soft-dedup weights,
    epoch schedule/sample and manifest diff: no cartesian products, no
    Python evals anywhere; the drift audit's top-k must be a
    TakeOrderedAndProject (per-partition heaps), never a global sort of
    the token table; the calibration cross-tab must be join-free; the
    soft-dedup weights must broadcast nothing corpus-sized (fp groupBy +
    fp equi-join only)."""
    from elastic_stream_spark.operators.data_audit import (
        corpus_drift_audit,
        quality_calibration_audit,
    )
    from elastic_stream_spark.operators.dedup import dedup_soft_weights
    from elastic_stream_spark.operators.curation import epoch_sample, epoch_schedule
    from elastic_stream_spark.operators.pipeline import manifest_diff

    for fn in (
        corpus_drift_audit,
        quality_calibration_audit,
        dedup_soft_weights,
        epoch_schedule,
        epoch_sample,
        manifest_diff,
    ):
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, fn.__name__

    drift = corpus_drift_audit(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in drift
    calib = quality_calibration_audit(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in calib  # one scan, two aggregates, zero joins


def test_epoch_allocators_have_no_unpartitioned_window(spark):
    """The Hamilton bonus must be a TakeOrderedAndProject top-k flagged
    back with a broadcast join — never a row_number() over an
    unpartitioned window (a single-partition global sort of the
    per-source table, the anti-pattern the r9 advice flagged).  The
    per-source draw rank in epoch_sample stays a PARTITIONED window."""
    from elastic_stream_spark.operators.curation import (
        _hamilton_doc_alloc,
        epoch_sample,
        epoch_schedule,
    )
    from elastic_stream_spark.sources.envelope import load_table_balanced

    sched = epoch_schedule(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in sched
    assert "Window" not in sched  # allocation needs no window at all
    assert "BroadcastHashJoin" in sched  # the bonus flag join

    # budget 103 leaves a nonzero leftover at the fixture's 20 even
    # sources (a zero leftover folds the empty top-k away entirely —
    # also a fine plan, but then there is nothing to assert)
    alloc = (
        _hamilton_doc_alloc(
            load_table_balanced(spark, SF_DIR, "documents").select("source", "doc_id"),
            103,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in alloc and "Window" not in alloc

    samp = epoch_sample(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    # the only Window left is the per-source draw rank — partitioned
    assert samp.count("Window") == 1


def test_epoch_coverage_prunes_ranked_draw_map_side(spark):
    """The E-epoch replayed draw must carry a WindowGroupLimit: the
    literal ``max_alloc`` pre-bound (r10 VERDICT item 3) lets Spark's
    rank-limit rewrite prune each (source, epoch) group to max_alloc
    candidates map-side, instead of E full per-source sorts of the
    whole corpus — the column bound ``rk <= alloc`` alone defeats the
    rewrite (literal limits only)."""
    from elastic_stream_spark.operators.curation import epoch_coverage

    plan = plan_of(epoch_coverage(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, (
        "epoch_coverage lost its literal-bound map-side rank prune"
    )


def test_trim_sweep_dup_matrix_band_audit_and_novelty_plans(spark):
    """Plan shapes for the token-budget trim, threshold sweep, cross-source
    dup matrix, LSH band audit and novelty curve: no cartesian products,
    no Python evals; token_budget_trim's only window is partitioned by source;
    cross_source_dup_matrix broadcasts the pair side (never the corpus);
    quality_threshold_sweep's corpus work is one aggregate (the sweep
    explode runs on the 4-row per-score table); the novelty curve's
    shuffles key on the gram (no global sort)."""
    from elastic_stream_spark.operators.curation import (
        quality_threshold_sweep,
        token_budget_trim,
    )
    from elastic_stream_spark.operators.dedup import (
        cross_source_dup_matrix,
        lsh_band_audit,
    )
    from elastic_stream_spark.operators.text_pipeline import corpus_novelty_curve

    plans = {}
    for fn in (
        token_budget_trim,
        quality_threshold_sweep,
        cross_source_dup_matrix,
        lsh_band_audit,
        corpus_novelty_curve,
    ):
        p = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        plans[fn.__name__] = p
        assert "CartesianProduct" not in p, fn.__name__
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, fn.__name__

    # trim: exactly one window, partitioned (WindowExec prints the spec)
    assert plans["token_budget_trim"].count("Window") == 1
    assert "Sort" in plans["token_budget_trim"]  # the per-source window sort
    # dup matrix: the corpus side never broadcasts — both enrichment
    # joins broadcast the (checkpointed, pair-sized) build side
    assert plans["cross_source_dup_matrix"].count("BroadcastHashJoin") >= 2
    # sweep: no window, no sort-merge join — scan + aggregates + the
    # tiny broadcast-explode
    assert "Window" not in plans["quality_threshold_sweep"]
    assert "SortMergeJoin" not in plans["quality_threshold_sweep"]
    # band audit: projection + two hash aggregates, join-free
    assert "Join" not in plans["lsh_band_audit"]
    assert "Window" not in plans["lsh_band_audit"]
    # novelty: gram-keyed aggregate + equi-join, never a nested loop
    assert "BroadcastNestedLoopJoin" not in plans["corpus_novelty_curve"]


def test_fragmentation_audit_and_curriculum_allocation_plans(spark):
    """Plan shapes for the pack fragmentation audit and the curriculum
    allocation: no cartesian products, no Python evals; the fragmentation audit's only window is the per-shard
    placement sum (partitioned by source) and its source-keyed rollup
    join stays a broadcast-free small-key join or broadcast — never a
    corpus-sized exchange class; the curriculum allocation follows the
    rebuilt Hamilton shape — TakeOrderedAndProject bonus + broadcast
    flag join, with the per-source ntile as its only other window."""
    from elastic_stream_spark.operators.curation import (
        curriculum_mix_allocation,
        pack_fragmentation_audit,
    )

    frag = (
        pack_fragmentation_audit(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in frag
    assert "BatchEvalPython" not in frag and "ArrowEvalPython" not in frag
    # ONE placement running-sum window (the shared span layout) — the
    # r11 review caught the original two-branch formulation executing
    # the corpus window twice (docs_roll + seqs_roll each re-derived it)
    assert frag.count("Window") == 1
    # the rollups combine map-side (partial_count/partial_sum present)
    assert "partial_" in frag or "partial" in frag.lower()

    cm = (
        curriculum_mix_allocation(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in cm
    assert "BatchEvalPython" not in cm and "ArrowEvalPython" not in cm
    assert "TakeOrderedAndProject" in cm  # the Hamilton bonus top-k
    assert "BroadcastHashJoin" in cm  # the bonus flag join
    # exactly one real window: the per-source ntile (the checkpointed
    # alloc table hides the upstream plan, so the final plan shows only
    # the bonus machinery)
    assert cm.count("Window") <= 1


def test_self_mrr_one_window_and_audits_rollup_only(spark):
    """Plan shapes for the self-MRR evaluation and the cluster-density /
    stream-integrity audits: no cartesian products, no Python evals; the
    self-MRR rank is ONE probe-partitioned window, and both audits are
    pure map-side-combinable rollup chains with no window at all.  The
    self-MRR's only nested-loop joins are the 1-row corpus-stats
    attaches (broadcast of a scalar, corpus-size-independent)."""
    from elastic_stream_spark.operators.pipeline import (
        dedup_cluster_density_audit,
    )
    from elastic_stream_spark.operators.retrieval import retrieval_self_mrr
    from elastic_stream_spark.operators.stream_ops import (
        stream_integrity_audit,
    )

    def plan(fn):
        return (
            fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        )

    mrr = plan(retrieval_self_mrr)
    assert "CartesianProduct" not in mrr
    assert "BatchEvalPython" not in mrr and "ArrowEvalPython" not in mrr
    # r16: rank comes from ONE probe-partitioned row_number window (the
    # single-evaluation plan); r15's count-agg formulation avoided the
    # sort but evaluated the scoring subtree twice via a broadcast
    # self-score table — the interleaved A/B picked the window (see
    # retrieval.retrieval_self_mrr docstring).  Exactly one Window:
    # a second one would mean the double-evaluation crept back.
    assert mrr.count("Window") == 1
    assert "BroadcastHashJoin" in mrr  # probe terms broadcast
    # only the two 1-row stats attaches may nested-loop
    assert mrr.count("BroadcastNestedLoopJoin") <= 2

    for fn in (dedup_cluster_density_audit, stream_integrity_audit):
        p = plan(fn)
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert p.count("Window") == 0  # rollup chains only
        assert "BroadcastNestedLoopJoin" not in p


def test_attention_waste_audit_is_one_window_plus_rollups(spark):
    """The attention-waste audit must be the span manifest's ONE
    placement window followed by pure map-side-combinable rollups — no
    joins of any kind."""
    from elastic_stream_spark.functions.materialize import (
        unpersist_materialized,
    )
    from elastic_stream_spark.operators.curation import (
        pack_attention_waste_audit,
    )

    # hermetic: an earlier test's materialize() of the span manifest
    # would substitute an InMemoryRelation here and change the plan
    # strings (the cached definition prints its own Window)
    spark.catalog.clearCache()
    unpersist_materialized(spark)

    def plan(fn):
        return (
            fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        )

    waste = plan(pack_attention_waste_audit)
    assert "CartesianProduct" not in waste
    assert "BatchEvalPython" not in waste and "ArrowEvalPython" not in waste
    assert waste.count("Window") == 1  # the shared span placement sum
    assert "Join" not in waste  # rollup chain only — no join of any kind
    assert "partial" in waste.lower()  # map-side combine in the rollups

