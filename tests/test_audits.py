"""Audit operators over the engine's derived tables — near-dup cluster
density, stream-log integrity, packed-attention waste — plus the
self-retrieval MRR evaluation: cross-engine hash verification (the
driver's comparator, run here in-process) and structural invariants."""

from __future__ import annotations

from elastic_stream_spark.operators import all_oracles, all_queries

SF_DIR = "/root/testdata/sf0.001"


def _assert_hash_match(spark, names, sf_dirs):
    from tools.compare import compare_one, duck_con

    queries, oracles = all_queries(), all_oracles()
    assert set(names) <= set(oracles)
    for sf_dir in sf_dirs:
        con = duck_con(sf_dir)
        try:
            for name in names:
                res = compare_one(
                    name, queries[name], oracles[name], spark, con, sf_dir
                )
                assert res.get("status") == "OK", (sf_dir, res)
        finally:
            con.close()


def test_audit_queries_hash_match_duckdb(spark):
    """Each query must pass the driver-style comparator (row count +
    schema kinds + canonical value hash) against its DuckDB oracle, at
    BOTH the smoke scale and the driver's gate scale (sf0.01).  (sf0.1
    is covered by the full-registry self-check; kept out of the suite
    for runtime.)"""
    _assert_hash_match(
        spark,
        (
            "retrieval_self_mrr",
            "dedup_cluster_density_audit",
            "stream_integrity_audit",
        ),
        (SF_DIR, "/root/testdata/sf0.01"),
    )


def test_cluster_density_invariants(spark):
    """Each size bucket's edge mass is bounded by the complete graph
    (density ∈ (0, 1]); 2-clusters are complete by construction (their
    single edge IS the verified pair)."""
    from elastic_stream_spark.operators.pipeline import (
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
    from elastic_stream_spark.operators.stream_ops import (
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


def test_attention_waste_hash_matches_duckdb(spark):
    """The attention-waste audit must pass the driver-style comparator
    against its DuckDB oracle at ALL THREE committed scales — the
    largest fixture is pinned here rather than left to a session log."""
    _assert_hash_match(
        spark,
        ("pack_attention_waste_audit",),
        (SF_DIR, "/root/testdata/sf0.01", "/root/testdata/sf0.1"),
    )


def test_attention_waste_invariants(spark):
    """Pair accounting must be internally consistent with the span
    manifest and the fragmentation audit: intra ≤ causal; cross ≥ 0;
    a source whose documents are never cut (every doc inside one
    sequence) still shows cross pairs iff sequences hold >1 fragment;
    and the causal mass equals Σ filled·(filled+1)/2 recomputed from
    pack_doc_spans directly."""
    from pyspark.sql import functions as F

    from elastic_stream_spark.operators.curation import (
        pack_attention_waste_audit,
        pack_doc_spans,
    )

    rows = pack_attention_waste_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_seqs >= 1
        assert 0 < r.intra_doc_pairs <= r.causal_pairs
        assert r.cross_doc_pairs == r.causal_pairs - r.intra_doc_pairs
        assert 0.0 <= r.cross_frac < 1.0
    # independent recomputation of the causal mass from the manifest
    manifest = (
        pack_doc_spans(spark, SF_DIR)
        .groupBy("source", "seq")
        .agg(F.sum("span_len").alias("filled"))
        .groupBy("source")
        .agg(
            F.sum(F.expr("filled * (filled + 1) div 2")).alias("causal")
        )
        .collect()
    )
    causal = {r.source: r.causal for r in manifest}
    for r in rows:
        assert r.causal_pairs == causal[r.source]
