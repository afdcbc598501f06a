"""Staged r13 operator: cross-engine hash verification (the driver's
comparator, run here in-process) + structural invariants, so the r13
registration — the rotation's single free slot that round — is a pure
GATE_ORDER wiring change on an already-verified surface."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def test_staged_r13_hash_matches_duckdb(spark):
    """The staged query must already pass the driver-style comparator
    (row count + schema kinds + canonical value hash) against its DuckDB
    oracle at ALL THREE committed scales — the registration claim is
    "already-verified surface", so the largest fixture is pinned here
    rather than left to a session log (review finding, r12)."""
    import sys

    sys.path.insert(0, "/root/repo")
    from elastic_stream_spark.operators.staged_r13 import (
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


def test_attention_waste_invariants(spark):
    """Pair accounting must be internally consistent with the span
    manifest and the fragmentation audit: intra ≤ causal; cross ≥ 0;
    a source whose documents are never cut (every doc inside one
    sequence) still shows cross pairs iff sequences hold >1 fragment;
    and the causal mass equals Σ filled·(filled+1)/2 recomputed from
    pack_doc_spans directly."""
    from pyspark.sql import functions as F

    from elastic_stream_spark.operators.curation import pack_doc_spans
    from elastic_stream_spark.operators.staged_r13 import (
        pack_attention_waste_audit,
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
