"""Session memos (``functions/materialize.SessionMemo``): an entry is
bound to the SparkSession that built it, and ``evict_all`` releases what
every entry pins, directories included."""

from __future__ import annotations

import os

from conftest import SF_DIR

SERVED = ("neardup_lookup_served", "sim_ann_ivf_pq_served", "jsonl_roundtrip_audit")


def test_sibling_session_gets_its_own_entries(spark):
    """``spark.newSession()`` shares the applicationId; a memo keyed on
    it (or on the corpus dir alone) would hand the sibling the parent's
    engine fixture and checkpoints."""
    from elastic_stream_spark.operators import dedup
    from elastic_stream_spark.sources.materialize import get_engine

    get_engine(spark, SF_DIR)
    dedup.ngram_pair_set(spark, SF_DIR)
    sib = spark.newSession()
    assert get_engine(sib, SF_DIR).log.spark is sib
    assert dedup.ngram_pair_set(sib, SF_DIR).sparkSession is sib
    assert get_engine(spark, SF_DIR).log.spark is spark
    assert dedup.ngram_pair_set(spark, SF_DIR).sparkSession is spark


def test_evict_all_removes_memo_directories_and_rebuilds(spark):
    """The LSH index, IVF-PQ index and JSONL export are temp directories:
    eviction deletes them, and the next call rebuilds an equal answer."""
    from elastic_stream_spark.functions.materialize import evict_all
    from elastic_stream_spark.operators import (
        all_oracles,
        all_queries,
        data_audit,
        dedup,
        similarity,
    )
    from tools.compare import compare_one, duck_con

    memo_dirs = (
        dedup._corpus_lsh_index_dir,
        similarity._twin_pq_index_dir,
        data_audit._documents_jsonl_dir,
    )
    qs, oracles = all_queries(), all_oracles()
    for name in SERVED:
        qs[name](spark, SF_DIR).count()
    built = [memo_dir(spark, SF_DIR) for memo_dir in memo_dirs]
    assert all(os.path.isdir(d) for d in built)

    evict_all(blocking=True)
    assert not [d for d in built if os.path.exists(d)]

    con = duck_con(SF_DIR)
    try:
        for name in SERVED:
            res = compare_one(name, qs[name], oracles[name], spark, con, SF_DIR)
            assert res.get("status") == "OK", res
    finally:
        con.close()
    assert all(os.path.isdir(memo_dir(spark, SF_DIR)) for memo_dir in memo_dirs)


def test_materialize_skips_plans_already_cached(spark):
    """A second ``materialize`` of an identical plan reuses the cached
    blocks and runs no Spark job.  Both handles are tracked, so
    ``unpersist_materialized`` releases the plan."""
    from pyspark import StorageLevel

    from elastic_stream_spark.functions.materialize import (
        materialize,
        unpersist_materialized,
    )

    sc = spark.sparkContext
    plan = lambda: spark.range(1000).selectExpr("id", "id % 7 AS k")
    sc.setJobGroup("materialize-first", "first build")
    try:
        first = materialize(plan())
        sc.setJobGroup("materialize-again", "identical plan")
        again = materialize(plan())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("materialize-first")
    assert tracker.getJobIdsForGroup("materialize-again") == []
    assert again.storageLevel == first.storageLevel != StorageLevel.NONE
    assert again.count() == 1000
    assert unpersist_materialized(spark, blocking=True) >= 2
    assert plan().storageLevel == StorageLevel.NONE
