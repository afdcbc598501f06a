"""Staged r17 operator: cross-engine hash verification (the driver's
comparator, run here in-process) + structural invariants + a coherence
check against the driver-verified dedup_embedding_lsh pair surface —
the registration-ready protocol shared by staged_r14–r16."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def test_staged_r17_hash_matches_duckdb(spark):
    """The staged query must already pass the driver-style comparator
    (row count + schema kinds + canonical value hash) against its DuckDB
    oracle at ALL THREE committed scales."""
    import sys

    sys.path.insert(0, "/root/repo")
    from elastic_stream_spark.operators.staged_r17 import (
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


def test_semantic_decontamination_invariants(spark):
    """Structural invariants on the committed fixture: the scrub list is
    non-empty (the planted twins straddle the mod-7 split in both
    directions), names only TRAIN vectors, every cosine clears the
    threshold, and the planted geometry is visible — every flagged
    train vector's worst match sits at the twin's ≈0.97 cosine, far
    above the 0.85 gate."""
    from elastic_stream_spark.operators.similarity import LSH_DEDUP_THRESHOLD
    from elastic_stream_spark.operators.staged_r17 import (
        SEM_EVAL_MOD,
        decontaminate_semantic,
    )

    rows = decontaminate_semantic(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.vec_id % SEM_EVAL_MOD != 0, r  # train side only
        assert r.n_eval_dups >= 1, r
        assert LSH_DEDUP_THRESHOLD - 1e-9 <= r.max_cosine <= 1.0 + 1e-9, r
    assert max(r.max_cosine for r in rows) > 0.95  # planted twin margin


def test_semantic_decontamination_coheres_with_embedding_dedup(spark):
    """Coherence with the driver-verified pair surface: the cross-split
    slice of ``dedup_embedding_lsh`` (same corpus, planes, tables, and
    threshold) must RECONSTRUCT this operator's rollup exactly."""
    from collections import defaultdict

    from elastic_stream_spark.operators.similarity import dedup_embedding_lsh
    from elastic_stream_spark.operators.staged_r17 import (
        SEM_EVAL_MOD,
        decontaminate_semantic,
    )

    pair_rows = dedup_embedding_lsh(spark, SF_DIR).collect()
    expected_n = defaultdict(int)
    expected_c = defaultdict(float)
    for r in pair_rows:
        a_eval = r.vec_a % SEM_EVAL_MOD == 0
        b_eval = r.vec_b % SEM_EVAL_MOD == 0
        if a_eval == b_eval:
            continue
        train = r.vec_b if a_eval else r.vec_a
        expected_n[train] += 1
        expected_c[train] = max(expected_c[train], r.cosine)

    got = {
        r.vec_id: (r.n_eval_dups, r.max_cosine)
        for r in decontaminate_semantic(spark, SF_DIR).collect()
    }
    assert set(got) == set(expected_n)
    for vec_id, (n, c) in got.items():
        assert n == expected_n[vec_id], vec_id
        assert abs(c - expected_c[vec_id]) < 1e-12, vec_id
