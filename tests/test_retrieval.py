"""Edge-corpus and ranking-contract tests for the retrieval / event
analytics operators (BM25, PMI collocations, funnel) — crafted fixtures
where the expected output is derivable by hand, plus engine-vs-oracle
agreement on the same fixture (the same contract the driver gate
enforces, but on corpora built to hit the edges the sf fixtures don't:
empty documents, single-token documents, zero-conversion funnels)."""

from __future__ import annotations

import duckdb
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from elastic_stream_spark.operators import all_oracles


def _write_docs(spark, workdir, texts):
    rows = [(i, t, "xx", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.mode("overwrite").parquet(f"{workdir}/documents.parquet")


def _duck(workdir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{workdir}/documents.parquet/*.parquet')"
    )
    return con


def test_bigram_pmi_edge_corpus(spark, workdir):
    """Empty and single-token documents contribute zero pairs; a pair
    below PMI_MIN_COUNT is pruned; surviving PMI values match both a
    local recompute and the DuckDB oracle on the same corpus."""
    import math

    from elastic_stream_spark.operators.retrieval import (
        PMI_MIN_COUNT,
        bigram_pmi,
    )

    texts = (
        ["x y"] * PMI_MIN_COUNT  # exactly at the prune line
        + ["y z"] * (PMI_MIN_COUNT - 1)  # below the line -> pruned
        + ["solo"] * 3  # 1 token -> no pairs
        + [""]  # empty text -> 1 empty token, no pairs
    )
    _write_docs(spark, workdir, texts)

    got = bigram_pmi(spark, workdir).collect()
    assert [(r.w1, r.w2, r.c_ab) for r in got] == [("x", "y", PMI_MIN_COUNT)]

    # local recompute of the surviving pair's PMI
    n_bi = PMI_MIN_COUNT + (PMI_MIN_COUNT - 1)  # total bigram tokens
    c_x = PMI_MIN_COUNT
    c_y = PMI_MIN_COUNT + (PMI_MIN_COUNT - 1)
    n_uni = 2 * n_bi + 3 + 1  # two tokens per 2-token doc + solos + empty
    expect = round(
        math.log(
            (PMI_MIN_COUNT * 1.0 / n_bi) / ((c_x / n_uni) * (c_y / n_uni))
        ),
        4,
    )
    assert got[0].pmi == pytest.approx(expect, abs=1e-9)

    oracle = _duck(workdir).execute(all_oracles()["bigram_pmi"]).fetchall()
    assert [(r.w1, r.w2, r.c_ab, r.pmi) for r in got] == oracle


def test_bm25_ranking_contract(spark, workdir):
    """Higher term frequency at equal length ranks higher; a shorter
    document beats a longer one at equal tf (the b·dl/avgdl length
    normalization); documents without any query term never appear; the
    full result equals the DuckDB oracle on the same corpus."""
    from elastic_stream_spark.operators.retrieval import bm25_search

    texts = [
        "hash join merge",            # 0: all three q_joins terms
        "hash hash hash pad pad",     # 1: tf=3 of one term, len 5
        "hash pad pad pad pad",       # 2: tf=1, len 5
        "hash pad",                   # 3: tf=1, len 2 (shorter)
        "window sort order",          # 4: q_windows only
        "pad pad pad pad",            # 5: no query terms at all
        "",                           # 6: empty
    ]
    _write_docs(spark, workdir, texts)

    got = bm25_search(spark, workdir).collect()
    joins = [(r.doc_id, r.rk) for r in got if r.qid == "q_joins"]
    ids = [d for d, _ in joins]
    assert 5 not in ids and 6 not in ids  # no-term docs never scored
    # doc 0 carries all three terms -> top
    assert joins[0][0] == 0
    rank = {d: k for d, k in joins}
    assert rank[1] < rank[2]  # tf 3 beats tf 1 at equal length
    assert rank[3] < rank[2]  # shorter doc beats longer at equal tf

    oracle = _duck(workdir).execute(all_oracles()["bm25_search"]).fetchall()
    assert [(r.qid, r.doc_id, r.score, r.rk) for r in got] == oracle


def test_event_funnel_zero_conversion(spark, workdir):
    """A corpus where no user clicks after their first view: stage 2/3
    report zero users with NULL lag (engine and oracle agree on the
    empty-aggregate edge)."""
    from elastic_stream_spark.operators.relational_ext import event_funnel

    rows = [
        # user 1: click BEFORE first view -> never converts
        (1, "2024-01-01 01:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 02:00:00", 1, "view", 1.0, "{}"),
        # user 2: views only
        (3, "2024-01-01 03:00:00", 2, "view", 1.0, "{}"),
        (4, "2024-01-01 04:00:00", 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{workdir}/events.parquet")

    got = event_funnel(spark, workdir).collect()
    assert [(r.stage, r.users, r.avg_lag_s) for r in got] == [
        (1, 2, None),
        (2, 0, None),
        (3, 0, None),
    ]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{workdir}/events.parquet/*.parquet')"
    )
    oracle = con.execute(all_oracles()["event_funnel"]).fetchall()
    assert [(r[0], r[2], r[3]) for r in oracle] == [
        (1, 2, None),
        (2, 0, None),
        (3, 0, None),
    ]


def test_containment_catches_what_jaccard_misses(spark, workdir):
    """A short document quoted wholesale inside a long one: containment
    1.0, Jaccard far below threshold — the asymmetric pair must appear
    in dedup_containment and must NOT appear in the Jaccard pair set
    (the structural blind spot the operator exists for); engine and
    oracle agree on the crafted corpus."""
    from elastic_stream_spark.operators.dedup import (
        dedup_containment,
        dedup_ngram_jaccard,
    )

    quote = " ".join(f"q{i}" for i in range(12))  # 10 3-gram shingles
    filler = " ".join(f"f{i}" for i in range(300))
    texts = [
        quote,                       # 0: the short doc
        filler + " " + quote,        # 1: long doc containing it verbatim
        "unrelated words only here", # 2: background
    ]
    _write_docs(spark, workdir, texts)

    got = dedup_containment(spark, workdir).collect()
    assert [(r.inner_doc, r.outer_doc) for r in got] == [(0, 1)]
    assert got[0].containment == pytest.approx(1.0)

    # symmetric Jaccard at 0.8 structurally misses the pair
    assert dedup_ngram_jaccard(spark, workdir).count() == 0

    oracle = (
        _duck(workdir)
        .execute(all_oracles()["dedup_containment"])
        .fetchall()
    )
    assert [(r.inner_doc, r.outer_doc, r.containment) for r in got] == oracle


def test_lsh_index_layout_and_serving_parity(spark, workdir):
    """The persisted near-dup index writes its band table PARTITIONED
    BY band (a probe's equi-join prunes to band directories — the
    inverted-list seek) plus shingle sets and a params JSON; the
    serving path over that index returns exactly the inline lookup's
    rows."""
    import os

    from elastic_stream_spark.operators.dedup import (
        INCREMENTAL_MOD,
        LSH_BANDS,
        lsh_index_build,
        neardup_lookup,
        neardup_lookup_served,
    )
    from elastic_stream_spark.operators.dedup import _doc_shingles

    base = " ".join(f"w{i}" for i in range(40))
    texts = [base, base + " tail", "other words entirely unrelated x y z"]
    # doc 3 plays the incoming batch (doc_id % 4 == 3): near-dup of doc 0/1
    texts.append(base + " tip")
    _write_docs(spark, workdir, texts)

    idx = os.path.join(workdir, "lsh_index")
    corpus_sh = _doc_shingles(spark, workdir).where(
        F.col("doc_id") % INCREMENTAL_MOD != INCREMENTAL_MOD - 1
    )
    lsh_index_build(spark, corpus_sh, idx)
    bands_dirs = {
        d for d in os.listdir(os.path.join(idx, "bands")) if d.startswith("band=")
    }
    assert bands_dirs == {f"band={b}" for b in range(LSH_BANDS)}
    assert os.path.exists(os.path.join(idx, "params.json"))
    assert os.path.exists(os.path.join(idx, "shingle_sets"))

    inline = [tuple(r) for r in neardup_lookup(spark, workdir).collect()]
    served = [tuple(r) for r in neardup_lookup_served(spark, workdir).collect()]
    assert served == inline
    assert served, "crafted batch doc must near-dup the corpus docs"


def test_self_mrr_invariants(spark):
    """Every probe is answered; MRR ∈ (0, 1]; top-1 hits never exceed
    probe counts; and the probe modulus actually selects probes."""
    from elastic_stream_spark.operators.retrieval import retrieval_self_mrr

    rows = retrieval_self_mrr(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_probes >= 1
        assert 0 <= r.n_top1 <= r.n_probes
        assert 0.0 < r.mrr <= 1.0
