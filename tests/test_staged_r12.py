"""Staged r12 operators: cross-engine hash verification (the driver's
comparator, run here in-process) + structural invariants, so the r12
registration is a pure GATE_ORDER wiring change on an already-verified
surface."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def test_staged_queries_hash_match_duckdb(spark):
    """Every staged query must already pass the driver-style comparator
    (row count + schema kinds + canonical value hash) against its DuckDB
    oracle, at BOTH the smoke scale and the driver's gate scale
    (sf0.01) — at registration time only GATE_ORDER changes.  (sf0.1
    additionally verified by the r11 session log; kept out of the suite
    for runtime.)"""
    import sys

    sys.path.insert(0, "/root/repo")
    from elastic_stream_spark.operators.staged_r12 import (
        ORACLES,
        QUERIES,
    )
    from tools.compare import compare_one, duck_con

    assert set(QUERIES) == set(ORACLES)
    for sf_dir in (SF_DIR, "/root/testdata/sf0.01"):
        con = duck_con(sf_dir)
        try:
            for name, fn in QUERIES.items():
                res = compare_one(name, fn, ORACLES[name], spark, con, sf_dir)
                assert res.get("status") == "OK", (sf_dir, res)
        finally:
            con.close()


def test_self_mrr_invariants(spark):
    """Every probe is answered; MRR ∈ (0, 1]; top-1 hits never exceed
    probe counts; and the probe modulus actually selects probes."""
    from elastic_stream_spark.operators.staged_r12 import retrieval_self_mrr

    rows = retrieval_self_mrr(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_probes >= 1
        assert 0 <= r.n_top1 <= r.n_probes
        assert 0.0 < r.mrr <= 1.0


def test_cluster_density_invariants(spark):
    """Each size bucket's edge mass is bounded by the complete graph
    (density ∈ (0, 1]); 2-clusters are complete by construction (their
    single edge IS the verified pair)."""
    from elastic_stream_spark.operators.staged_r12 import (
        dedup_cluster_density_audit,
    )

    rows = dedup_cluster_density_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.cluster_size >= 2
        assert 1 <= r.n_edges <= r.n_possible
        assert 0.0 < r.density <= 1.0
    two = [r for r in rows if r.cluster_size == 2]
    for r in two:
        assert r.density == 1.0


def test_stream_integrity_clean_log(spark):
    """On the engine's own log the audit must report a CLEAN offset
    space: zero gaps, zero duplicate offsets, 0-based streams, and no
    range wider than the range size."""
    from elastic_stream_spark.operators.staged_r12 import (
        stream_integrity_audit,
    )
    from elastic_stream_spark.sources.envelope import RANGE_SIZE

    rows = stream_integrity_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.first_offset == 0
        assert r.n_gaps == 0 and r.n_dups == 0
        assert r.n_records == r.next_offset
        assert r.max_range_span <= RANGE_SIZE
