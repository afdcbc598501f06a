"""Staged r16 operator: cross-engine hash verification (the driver's
comparator, run here in-process) + structural invariants + a coherence
check against the already-driver-verified dedup_minhash_lsh surface,
so a future registration — whenever a post-saturation slot frees — is
a pure GATE_ORDER wiring change on an already-verified surface (the
protocol that staged the r12 trio, the r13 audit, and the r14/r15
candidates)."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def test_staged_r16_hash_matches_duckdb(spark):
    """The staged query must already pass the driver-style comparator
    (row count + schema kinds + canonical value hash) against its DuckDB
    oracle at ALL THREE committed scales."""
    import sys

    sys.path.insert(0, "/root/repo")
    from elastic_stream_spark.operators.staged_r16 import (
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


def test_neardup_decontamination_invariants(spark):
    """Structural invariants on the committed fixture: the scrub list is
    non-empty (the fixture plants near-dups across the 10% eval
    boundary), names only TRAIN docs, and every row's Jaccard clears the
    verification threshold."""
    from elastic_stream_spark.operators.curation import EVAL_MOD
    from elastic_stream_spark.operators.dedup import JACCARD_DEN, JACCARD_NUM
    from elastic_stream_spark.operators.staged_r16 import decontaminate_neardup

    rows = decontaminate_neardup(spark, SF_DIR).collect()
    assert rows  # planted contamination exists at sf0.001
    floor = JACCARD_NUM / JACCARD_DEN - 1e-9
    for r in rows:
        assert r.doc_id % EVAL_MOD != 0, r  # train docs only
        assert r.n_eval_dups >= 1, r
        assert floor <= r.max_jaccard <= 1.0 + 1e-9, r


def test_neardup_decontamination_coheres_with_minhash_dedup(spark):
    """Coherence with the driver-verified pair surface: the cross-set
    slice of ``dedup_minhash_lsh`` (pairs with exactly one eval-side
    doc) must RECONSTRUCT this operator's rollup exactly — same
    signature family, same bands, same threshold, so the per-train-doc
    eval-match counts and max Jaccard must agree row for row."""
    from collections import defaultdict

    from elastic_stream_spark.operators.curation import EVAL_MOD
    from elastic_stream_spark.operators.dedup import dedup_minhash_lsh
    from elastic_stream_spark.operators.staged_r16 import decontaminate_neardup

    pair_rows = dedup_minhash_lsh(spark, SF_DIR).collect()
    expected_n = defaultdict(int)
    expected_j = defaultdict(float)
    for r in pair_rows:
        a_eval = r.doc_a % EVAL_MOD == 0
        b_eval = r.doc_b % EVAL_MOD == 0
        if a_eval == b_eval:
            continue  # same-split pair: not contamination
        train = r.doc_b if a_eval else r.doc_a
        expected_n[train] += 1
        expected_j[train] = max(expected_j[train], r.jaccard)

    got = {
        r.doc_id: (r.n_eval_dups, r.max_jaccard)
        for r in decontaminate_neardup(spark, SF_DIR).collect()
    }
    assert set(got) == set(expected_n)
    for doc_id, (n, j) in got.items():
        assert n == expected_n[doc_id], doc_id
        assert abs(j - expected_j[doc_id]) < 1e-12, doc_id
