"""Operator STAGED for a post-saturation gate slot (r14+).

The registry saturated at r13 (150 queries; the r14 and r15 windows are
fully claimed by their staleness-deadline classes, zero free slots), so
this module holds the next depth candidate under the same staging
protocol as ``staged_r12.py``/``staged_r13.py``: built, DuckDB-oracled,
and pytest-verified NOW, registered whenever a slot frees or the window
policy changes.  It stays out of ``operators/__init__`` until then so
the rotation invariants ``tests/test_registry.py`` pins keep holding (a
never-driver-checked query may not sit beyond the window).

Reference framing: no reference-engine counterpart (the opcode enum
components/protocol/fbs/rpc.fbs:111-182 is stream ops only); this is
the loader-integrity gate a training-data platform runs over its packed
layout — the packing family's analogue of ``stream_integrity_audit``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def pack_loader_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Can a masking/position-id loader reconstruct every document and
    every sequence from the span manifest ALONE?  ``pack_doc_spans``
    claims a lossless cross-boundary layout; this audit proves it per
    source, from the manifest's own geometry plus one doc-cardinality
    join back to the corpus:

    - ``n_docs_contiguous`` — documents whose fragments start at offset
      0 and tile with no gap/overlap (exact lag check over the
      fragment chain, not the sum==span shortcut, which compensating
      gap+overlap pairs can fool);
    - ``n_docs_length_ok`` — reconstructed length == the corpus token
      count (the round-trip itself); ``n_docs`` counts CORPUS documents
      and the manifest side joins in from the LEFT, so a document the
      manifest lost entirely fails both checks instead of silently
      dropping out of the denominator (review finding, r13);
    - ``n_seq_tiling_violations`` — non-final sequences whose fragments
      do not fill exactly ``PACK_BUDGET`` tokens (position ids would
      skew from there on);
    - ``all_ok`` — the loader's go/no-go bit.

    Plan (100 TB): the manifest is O(docs + cuts), never O(tokens), and
    it is MATERIALIZED once before the doc-side / seq-side branches —
    without that, each branch would re-derive the corpus placement
    window (the exact double-traversal the r11 review caught in
    ``pack_fragmentation_audit``'s original two-branch form).  One lag
    window partitioned by (source, doc_id) gives fragment contiguity;
    two map-side-combinable rollups give the per-doc and per-seq views;
    the corpus join is doc-cardinality on the same (source, doc_id) key
    the manifest rollup just grouped by.  No second corpus traversal,
    no all-pairs anything."""
    from elastic_stream_spark.functions.materialize import materialize
    from elastic_stream_spark.operators.curation import (
        PACK_BUDGET,
        _docs,
        pack_doc_spans,
    )

    spans = materialize(pack_doc_spans(spark, sf_dir))

    # fragment-chain contiguity per document (exact, order by seq)
    w = Window.partitionBy("source", "doc_id").orderBy("seq")
    chained = spans.withColumn(
        "expected_offset",
        F.coalesce(
            F.lag(F.col("doc_offset") + F.col("span_len")).over(w), F.lit(0)
        ),
    )
    per_doc = chained.groupBy("source", "doc_id").agg(
        F.count("*").alias("n_frags"),
        F.min("doc_offset").alias("first_offset"),
        F.sum("span_len").alias("rebuilt_len"),
        F.sum(
            F.when(F.col("doc_offset") != F.col("expected_offset"), 1).otherwise(0)
        ).alias("chain_breaks"),
    )
    docs = _docs(spark, sf_dir).select(
        "source",
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tokens"),
    )
    doc_side = (
        docs.join(per_doc, ["source", "doc_id"], "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("n_frags"), F.lit(0)))
            .cast("bigint")
            .alias("n_frags"),
            F.sum(
                F.when(
                    (F.col("first_offset") == 0) & (F.col("chain_breaks") == 0),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_docs_contiguous"),
            F.sum(
                F.when(F.col("rebuilt_len") == F.col("n_tokens"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_docs_length_ok"),
        )
    )

    # sequence tiling: every non-final sequence must hold exactly
    # PACK_BUDGET tokens (the concatenation layout fills densely)
    per_seq = spans.groupBy("source", "seq").agg(
        F.sum("span_len").alias("filled")
    )
    last_seq = per_seq.groupBy("source").agg(F.max("seq").alias("max_seq"))
    seq_side = (
        per_seq.join(last_seq, "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_seqs"),
            F.sum(
                F.when(
                    (F.col("seq") != F.col("max_seq"))
                    & (F.col("filled") != F.lit(PACK_BUDGET)),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_seq_tiling_violations"),
        )
    )

    return (
        doc_side.join(seq_side, "source")
        .select(
            "source",
            "n_docs",
            "n_frags",
            "n_docs_contiguous",
            "n_docs_length_ok",
            "n_seqs",
            "n_seq_tiling_violations",
            (
                (F.col("n_docs_contiguous") == F.col("n_docs"))
                & (F.col("n_docs_length_ok") == F.col("n_docs"))
                & (F.col("n_seq_tiling_violations") == 0)
            ).alias("all_ok"),
        )
        .orderBy("source")
    )


QUERIES = {
    "pack_loader_roundtrip_audit": pack_loader_roundtrip_audit,
}


def _oracles_r14() -> dict[str, str]:
    from elastic_stream_spark.operators.curation import PACK_BUDGET

    return {
        "pack_loader_roundtrip_audit": f"""
        WITH toks AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS n_tokens
          FROM documents
        ), placed AS (
          SELECT source, doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0) AS BIGINT) AS start
          FROM toks
        ), spans AS (
          SELECT source, doc_id, n_tokens, start,
                 unnest(generate_series(
                   CAST(floor(start / {PACK_BUDGET}.0) AS BIGINT),
                   CAST(floor((start + n_tokens - 1) / {PACK_BUDGET}.0)
                        AS BIGINT)
                 )) AS seq
          FROM placed
        ), frags AS (
          SELECT source, doc_id, n_tokens, seq,
                 greatest(seq * {PACK_BUDGET}, start) - start AS doc_offset,
                 least((seq + 1) * {PACK_BUDGET}, start + n_tokens)
                 - greatest(seq * {PACK_BUDGET}, start) AS span_len
          FROM spans
        ), chained AS (
          SELECT *, coalesce(lag(doc_offset + span_len) OVER (
                   PARTITION BY source, doc_id ORDER BY seq
                 ), 0) AS expected_offset
          FROM frags
        ), per_doc AS (
          SELECT source, doc_id,
                 count(*) AS n_frags,
                 min(doc_offset) AS first_offset,
                 sum(span_len) AS rebuilt_len,
                 sum(CASE WHEN doc_offset <> expected_offset THEN 1
                     ELSE 0 END) AS chain_breaks
          FROM chained GROUP BY source, doc_id
        ), doc_side AS (
          -- corpus-side LEFT join: a document the manifest lost entirely
          -- still counts in n_docs and fails both checks
          SELECT t.source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(coalesce(p.n_frags, 0)) AS BIGINT) AS n_frags,
                 CAST(sum(CASE WHEN p.first_offset = 0 AND p.chain_breaks = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_contiguous,
                 CAST(sum(CASE WHEN p.rebuilt_len = t.n_tokens
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_length_ok
          FROM toks t LEFT JOIN per_doc p
            ON t.source = p.source AND t.doc_id = p.doc_id
          GROUP BY t.source
        ), per_seq AS (
          SELECT source, seq, sum(span_len) AS filled
          FROM frags GROUP BY source, seq
        ), seq_side AS (
          SELECT s.source,
                 CAST(count(*) AS BIGINT) AS n_seqs,
                 CAST(sum(CASE WHEN s.seq <> m.max_seq
                          AND s.filled <> {PACK_BUDGET}
                          THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_seq_tiling_violations
          FROM per_seq s
          JOIN (SELECT source, max(seq) AS max_seq
                FROM per_seq GROUP BY source) m
            ON s.source = m.source
          GROUP BY s.source
        )
        SELECT d.source, d.n_docs, d.n_frags, d.n_docs_contiguous,
               d.n_docs_length_ok, q.n_seqs, q.n_seq_tiling_violations,
               (d.n_docs_contiguous = d.n_docs
                AND d.n_docs_length_ok = d.n_docs
                AND q.n_seq_tiling_violations = 0) AS all_ok
        FROM doc_side d JOIN seq_side q ON d.source = q.source
        ORDER BY d.source
        """,
    }


ORACLES = _oracles_r14()
