"""TPC-H queries q2/q4/q6/q15/q17/q18/q22 (``relational_tpch``) +
corpus-pipeline operators (``text_pipeline``): semantic spot checks at
sf0.001 plus the plan-shape assertions that pin the 100 TB execution
contract (broadcast dims, no cartesian products, map-side partial
aggregation)."""

from __future__ import annotations

import contextlib
import hashlib
import io
from collections import Counter

SF_DIR = "/root/testdata/sf0.001"
TPCH_QUERIES = (
    "q2_min_acctbal_supplier",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_customer",
    "q22_global_sales_opportunity",
)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------- tpch


def test_q6_matches_manual_aggregate(spark):
    from elastic_stream_spark.operators.relational_tpch import q6_forecast_revenue

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    exp = sum(
        r.l_extendedprice * r.l_discount
        for r in li
        if "1996-01-01" <= r.l_shipdate.strftime("%Y-%m-%d") < "1997-01-01"
        and 0.05 <= r.l_discount <= 0.07
        and r.l_quantity < 24
    )
    row = q6_forecast_revenue(spark, SF_DIR).collect()[0]
    assert abs(row.revenue - exp) < 1e-2
    assert row.n_lineitems > 0


def test_q18_threshold_and_order(spark):
    from elastic_stream_spark.operators.relational_tpch import (
        Q18_MIN_QTY,
        q18_large_volume_customer,
    )

    rows = q18_large_volume_customer(spark, SF_DIR).collect()
    assert all(r.sum_qty > Q18_MIN_QTY for r in rows)
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_q15_selects_the_max_revenue_suppliers(spark):
    from elastic_stream_spark.operators.relational_tpch import q15_top_supplier

    df = q15_top_supplier(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) >= 1
    assert len({r.total_revenue for r in rows}) == 1  # all tied at the max


def test_q2_rank1_is_min_acctbal_per_part(spark):
    from elastic_stream_spark.operators.relational_tpch import (
        q2_min_acctbal_supplier,
    )

    rows = q2_min_acctbal_supplier(spark, SF_DIR).collect()
    assert rows, "q2 returned no rows at sf0.001"
    # per part, every surviving supplier carries the same (min) acctbal
    per_part: dict = {}
    for r in rows:
        per_part.setdefault(r.p_partkey, set()).add(r.s_acctbal)
    assert all(len(v) == 1 for v in per_part.values())


def test_tpch2_plans_broadcast_and_no_cartesian(spark):
    """Every query of this file's set: dims broadcast, and no cartesian /
    nested-loop product sneaks in (the q15/q22 scalar joins must plan as
    1-row BROADCAST joins on the constant key, not CartesianProduct)."""
    from elastic_stream_spark.operators.relational_tpch import QUERIES

    for name in TPCH_QUERIES:
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        if name not in ("q6_forecast_revenue",):  # q6 is joinless
            assert "Broadcast" in plan, name


def test_q4_semi_join_shape(spark):
    from elastic_stream_spark.operators.relational_tpch import q4_order_priority

    plan = plan_of(q4_order_priority(spark, SF_DIR))
    assert "LeftSemi" in plan


# --------------------------------------------------------- text_pipeline


def test_doc_chunking_covers_and_hashes(spark):
    """Chunks reconstruct the document: starts advance by the stride,
    every chunk is non-empty, the last chunk reaches the end of the
    text, and hashes match a local md5 of the same substring."""
    from elastic_stream_spark.operators.text_pipeline import (
        CHUNK_CHARS,
        CHUNK_STRIDE,
        doc_chunking,
    )

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    by_doc: dict = {}
    for r in doc_chunking(spark, SF_DIR).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        text = docs[doc_id]
        chunks.sort(key=lambda r: r.chunk_idx)
        for i, r in enumerate(chunks):
            assert r.chunk_idx == i and r.chunk_start == i * CHUNK_STRIDE
            sub = text[r.chunk_start : r.chunk_start + CHUNK_CHARS]
            assert r.chunk_len == len(sub) > 0
            assert r.chunk_hash == hashlib.md5(sub.encode()).hexdigest()
        # coverage: last chunk reaches the end of the document
        last = chunks[-1]
        assert last.chunk_start + last.chunk_len == len(text)


def test_doc_chunking_edge_corpus(spark, workdir):
    """Boundary lengths (1, STRIDE, STRIDE+1, CHUNK, CHUNK+1, 2·STRIDE)
    and multibyte unicode: chunk starts/lengths are CHARACTER-based in
    both engines, every chunk non-empty, coverage reaches the end, and
    hashes agree with Python md5 of the UTF-8 bytes."""
    import hashlib

    from elastic_stream_spark.operators.text_pipeline import (
        CHUNK_CHARS,
        CHUNK_STRIDE,
        doc_chunking,
    )

    texts = [
        "x",
        "ü" * CHUNK_STRIDE,
        "é" * (CHUNK_STRIDE + 1),
        "日" * CHUNK_CHARS,
        "a" * (CHUNK_CHARS + 1),
        "βγ" * CHUNK_STRIDE,  # 2·STRIDE chars
    ]
    rows = [(i, t, "xx", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.mode("overwrite").parquet(f"{workdir}/documents.parquet")

    by_doc: dict = {}
    for r in doc_chunking(spark, workdir).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in enumerate(texts):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        n_exp = 1 + (len(text) - 1) // CHUNK_STRIDE
        assert len(chunks) == n_exp, (i, len(chunks), n_exp)
        for r in chunks:
            sub = text[r.chunk_start : r.chunk_start + CHUNK_CHARS]
            assert r.chunk_len == len(sub) > 0
            assert r.chunk_hash == hashlib.md5(sub.encode()).hexdigest()
        last = chunks[-1]
        assert last.chunk_start + last.chunk_len == len(text)


def test_token_heavy_hitters_matches_counter(spark):
    from elastic_stream_spark.operators.text_pipeline import (
        HEAVY_K,
        token_heavy_hitters,
    )

    texts = [
        r.text for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    ]
    counts = Counter(t for x in texts for t in x.lower().split(" "))
    exp = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:HEAVY_K]
    got = [(r.token, r.n) for r in token_heavy_hitters(spark, SF_DIR).collect()]
    assert got == exp


def test_source_distinctive_tokens_ranks(spark):
    from elastic_stream_spark.operators.text_pipeline import (
        DISTINCT_TOP,
        source_distinctive_tokens,
    )

    rows = source_distinctive_tokens(spark, SF_DIR).collect()
    per_source: dict = {}
    for r in rows:
        per_source.setdefault(r.source, []).append(r)
    for src, rs in per_source.items():
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= DISTINCT_TOP
        lifts = [r.lift for r in rs]
        assert lifts == sorted(lifts, reverse=True)


def test_doc_chunking_is_map_only(spark):
    """The chunker must stay a map-only stage (no Exchange beyond the
    balanced-load repartition) — at 100 TB it writes straight back out."""
    import re

    from elastic_stream_spark.operators.text_pipeline import doc_chunking

    plan = plan_of(doc_chunking(spark, SF_DIR))
    # one round-robin load balance + the orderBy's range exchange only
    # (formatted plans print each node twice: tree + detail section)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2
    assert "CartesianProduct" not in plan


def test_ngram_counts_edge_corpus(spark, workdir):
    """0/1/2-token and repeated-bigram documents: a single-token doc
    must contribute ZERO bigrams (the naive sequence(1, size-1) form
    descended [1, 0] on size=1 and crashed / diverged from the oracle's
    generate_series — regression pin), and counts match a local
    recompute with the min-count prune applied."""
    from collections import Counter

    import duckdb

    from elastic_stream_spark.operators.text_pipeline import (
        NGRAM_MIN_COUNT,
        ngram_counts,
    )
    from elastic_stream_spark.operators import all_oracles

    texts = (
        ["solo"] * NGRAM_MIN_COUNT          # 1 token → no bigrams
        + ["a b"] * NGRAM_MIN_COUNT         # exactly at the prune line
        + ["a b c"] * (NGRAM_MIN_COUNT - 1) # 'b c' below the line
        + [""]                              # empty text → 1 empty token
    )
    rows = [(i, t, "xx", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.mode("overwrite").parquet(f"{workdir}/documents.parquet")

    truth: Counter = Counter()
    for t in texts:
        toks = t.lower().split(" ")
        truth.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    expected = {g: c for g, c in truth.items() if c >= NGRAM_MIN_COUNT}
    assert expected == {"a b": 2 * NGRAM_MIN_COUNT - 1}

    got = {r.gram: r.n for r in ngram_counts(spark, workdir).collect()}
    assert got == expected

    con = duckdb.connect()
    # Spark writes the table as a directory of part files
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{workdir}/documents.parquet/*.parquet')"
    )
    oracle = {
        g: n for g, n in con.execute(all_oracles()["ngram_counts"]).fetchall()
    }
    assert oracle == expected
