"""Staged r15 operator: cross-engine hash verification + the ramp
invariants the audit exists to certify (same staging protocol as
tests/test_staged_r14.py)."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def test_staged_r15_hash_matches_duckdb(spark):
    """Driver-style comparator (row count + schema kinds + canonical
    value hash) against the DuckDB oracle at all three committed
    scales."""
    import sys

    sys.path.insert(0, "/root/repo")
    from elastic_stream_spark.operators.staged_r15 import (
        ORACLES,
        QUERIES,
    )
    from tools.compare import compare_one, duck_con

    assert set(QUERIES) == set(ORACLES)
    for sf_dir in (SF_DIR, "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        con = duck_con(sf_dir)
        try:
            for name, fn in QUERIES.items():
                res = compare_one(name, fn, ORACLES[name], spark, con, sf_dir)
                assert res.get("status") == "OK", (sf_dir, res)
        finally:
            con.close()


def test_ramp_drift_invariants(spark):
    """The properties a training run reads this table for: every epoch
    allocates the budget EXACTLY (Hamilton invariant); the top-tier
    share rises monotonically along the linear ramp (e=0 uniform →
    e=E-1 fully tilted); epoch 0 reports zero movement; source-level
    movement never exceeds cell-level movement (triangle inequality —
    a source's tier-internal reshuffle does not move its mix); and
    every boundary actually moves SOME mass (the ramp is not
    degenerate on the fixture)."""
    from elastic_stream_spark.operators.curation import CURRICULUM_BUDGET
    from elastic_stream_spark.operators.staged_r15 import (
        RAMP_EPOCHS,
        curriculum_ramp_drift_audit,
    )

    rows = curriculum_ramp_drift_audit(spark, SF_DIR).collect()
    assert len(rows) == RAMP_EPOCHS
    shares = [r.top_tier_share for r in rows]
    for r in rows:
        assert r.total_alloc == CURRICULUM_BUDGET
        assert 0 < r.top_tier_alloc < CURRICULUM_BUDGET
        assert r.l1_source_moves <= r.l1_cell_moves
    assert rows[0].l1_cell_moves == 0 and rows[0].l1_source_moves == 0
    assert shares == sorted(shares)  # ramp tilts monotonically upward
    assert shares[-1] > shares[0]
    for r in rows[1:]:
        assert r.l1_cell_moves > 0  # each boundary moves real mass


def test_ramp_endpoints_match_published_allocators(spark):
    """Anchor the ramp's endpoints to the already-verified allocators:
    epoch 0 (uniform weights, weight ∝ n_docs) must reproduce the
    document-proportional Hamilton split of the budget across ALL
    cells, and the per-epoch top-tier mass must strictly grow from the
    uniform share toward the tilted one — computed here independently
    from the corpus quartiles."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from elastic_stream_spark.operators.curation import (
        CURRICULUM_BUDGET,
        N_QUALITY_BUCKETS,
        _docs,
        quality_score_col,
    )
    from elastic_stream_spark.operators.staged_r15 import (
        curriculum_ramp_drift_audit,
    )

    rows = {r.epoch: r for r in curriculum_ramp_drift_audit(spark, SF_DIR).collect()}
    docs = _docs(spark, SF_DIR)
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    tiered = docs.select(
        "source", "doc_id", quality_score_col().alias("q")
    ).withColumn("bucket", F.ntile(N_QUALITY_BUCKETS).over(w))
    counts = tiered.groupBy("bucket").count().collect()
    n_by_bucket = {r.bucket: r["count"] for r in counts}
    n_total = sum(n_by_bucket.values())
    # epoch 0: top-tier alloc ≈ budget · n_top/n_total (Hamilton: within
    # one unit per cell, and the fixture has few sources)
    expect0 = CURRICULUM_BUDGET * n_by_bucket[N_QUALITY_BUCKETS] / n_total
    n_sources = docs.select("source").distinct().count()
    assert abs(rows[0].top_tier_alloc - expect0) <= n_sources
    # the tilted end exceeds the uniform share by a real margin
    assert rows[3].top_tier_alloc > rows[0].top_tier_alloc * 1.2
