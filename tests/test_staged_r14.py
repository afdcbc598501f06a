"""Staged r14 operator: cross-engine hash verification (the driver's
comparator, run here in-process) + structural invariants, so a future
registration — whenever a post-saturation slot frees — is a pure
GATE_ORDER wiring change on an already-verified surface (the protocol
that staged the r12 trio and the r13 audit)."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def test_staged_r14_hash_matches_duckdb(spark):
    """The staged query must already pass the driver-style comparator
    (row count + schema kinds + canonical value hash) against its DuckDB
    oracle at ALL THREE committed scales — the registration claim is
    "already-verified surface", so the largest fixture is pinned here
    rather than left to a session log."""
    import sys

    sys.path.insert(0, "/root/repo")
    from elastic_stream_spark.operators.staged_r14 import (
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


def test_roundtrip_audit_invariants(spark):
    """On the committed fixture the layout must actually round-trip:
    every source all_ok, every document contiguous and length-exact,
    zero tiling violations — and the fragment count must equal the span
    manifest's row count (the audit reads the whole manifest, no
    silent truncation)."""
    from elastic_stream_spark.operators.curation import pack_doc_spans
    from elastic_stream_spark.operators.staged_r14 import (
        pack_loader_roundtrip_audit,
    )

    rows = pack_loader_roundtrip_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.all_ok, r
        assert r.n_docs_contiguous == r.n_docs
        assert r.n_docs_length_ok == r.n_docs
        assert r.n_seq_tiling_violations == 0
        assert r.n_frags >= r.n_docs
        assert r.n_seqs >= 1
    assert sum(r.n_frags for r in rows) == pack_doc_spans(spark, SF_DIR).count()


def test_roundtrip_audit_catches_a_broken_manifest(spark, monkeypatch):
    """The audit must FAIL on every corruption class it claims to
    detect, not just pass on a good layout: (a) a lost TAIL fragment —
    the chain stays contiguous so only the length round-trip can flag
    it; (b) a SHIFTED fragment offset with length preserved — only the
    chain-contiguity lag check can flag it (the fixture's ~100-token
    docs never span three sequences, so a droppable middle fragment
    does not exist — the offset perturbation isolates the same check);
    (c) a document the manifest lost ENTIRELY — the corpus-side LEFT
    join must keep it in n_docs and fail both checks (with an inner
    join it silently left the denominator — review finding, r13)."""
    from elastic_stream_spark.operators import curation
    from elastic_stream_spark.operators import staged_r14 as mod
    from pyspark.sql import functions as F

    real = curation.pack_doc_spans
    good = real(spark, SF_DIR)
    # victim: a boundary-cut doc (two fragments)
    multi = (
        good.groupBy("source", "doc_id")
        .agg(F.count("*").alias("nf"), F.max("seq").alias("last"))
        .where(F.col("nf") >= 2)
        .limit(1)
        .collect()[0]
    )

    def corrupting(transform):
        def broken(spark_, sf_dir_):
            df = real(spark_, sf_dir_)
            victim_row = (F.col("source") == multi.source) & (
                F.col("doc_id") == multi.doc_id
            )
            return transform(df, victim_row)

        return broken

    def audit():
        rows = {
            r.source: r
            for r in mod.pack_loader_roundtrip_audit(spark, SF_DIR).collect()
        }
        return rows[multi.source]

    # (a) tail loss → length check fails, chain stays contiguous
    monkeypatch.setattr(
        curation,
        "pack_doc_spans",
        corrupting(
            lambda df, v: df.where(~(v & (F.col("seq") == multi.last)))
        ),
    )
    v = audit()
    assert not v.all_ok
    assert v.n_docs_length_ok == v.n_docs - 1
    assert v.n_docs_contiguous == v.n_docs  # tail loss is chain-invisible

    # (b) shifted second-fragment offset, length preserved → ONLY the
    # chain check can fire (rebuilt_len and first_offset are unchanged)
    monkeypatch.setattr(
        curation,
        "pack_doc_spans",
        corrupting(
            lambda df, v: df.withColumn(
                "doc_offset",
                F.when(
                    v & (F.col("seq") == multi.last),
                    F.col("doc_offset") + 1,
                ).otherwise(F.col("doc_offset")),
            )
        ),
    )
    v = audit()
    assert not v.all_ok
    assert v.n_docs_contiguous == v.n_docs - 1
    assert v.n_docs_length_ok == v.n_docs  # length check must NOT fire

    # (c) whole-document loss → the doc must stay in the denominator
    from elastic_stream_spark.operators.curation import _docs

    corpus_n = (
        _docs(spark, SF_DIR)
        .where(F.col("source") == multi.source)
        .count()
    )
    monkeypatch.setattr(
        curation, "pack_doc_spans", corrupting(lambda df, v: df.where(~v))
    )
    v = audit()
    assert not v.all_ok
    assert v.n_docs == corpus_n  # inner join would have dropped the doc
    assert v.n_docs_contiguous == v.n_docs - 1
    assert v.n_docs_length_ok == v.n_docs - 1
