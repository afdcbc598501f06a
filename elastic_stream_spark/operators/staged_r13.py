"""Operator for the round-13 gate window (REGISTERED in r13).

The rotation arithmetic saturates at the r12 registry (149 queries):
the 49 r10-row queries take their staleness-deadline slots in r13,
leaving exactly ONE free slot — this module holds that slot's query,
built, DuckDB-oracled, and pytest-verified one round ahead (the same
protocol that staged the r12 trio in ``staged_r12.py``), and merged
into ``operators/__init__`` at the top of the r13 window.

Reference framing: no reference-engine counterpart (the opcode enum
components/protocol/fbs/rpc.fbs:111-182 is stream ops only); this is
the attention-compute audit a training-data platform runs over its
packing layout before choosing a masking strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pack_attention_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compute side of cross-boundary packing: a causal-attention
    kernel over a packed sequence of filled length L pays L·(L+1)/2
    query–key pairs, but only the block-diagonal Σ l·(l+1)/2 over its
    document fragments are INTRA-document — the rest attend across
    document boundaries and are wasted (or harmful) unless the loader
    applies a document mask.  Per source, the audit reports total causal
    pairs, intra-document pairs, the cross-document remainder, and its
    fraction — the table read (next to ``pack_fragmentation_audit``'s
    padding/cut counts) when choosing between plain concatenation,
    masked packing, and best-fit binning.  All counts are exact bigints
    off the span manifest (``pack_doc_spans``).

    Plan (100 TB): the span layout's per-shard window executes once,
    then TWO map-side-combinable rollups — per-(source, seq) to get the
    filled length and the intra-fragment pair mass in the same pass,
    then per-source.  No joins, no second corpus traversal; at 10⁸
    shards every aggregate stays shard-parallel."""
    from elastic_stream_spark.operators.curation import pack_doc_spans

    spans = pack_doc_spans(spark, sf_dir)
    per_seq = spans.groupBy("source", "seq").agg(
        F.sum("span_len").alias("filled"),
        F.sum(
            F.expr("span_len * (span_len + 1) div 2")
        ).alias("intra"),
    )
    return (
        per_seq.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_seqs"),
            F.sum(F.expr("filled * (filled + 1) div 2"))
            .cast("bigint")
            .alias("causal_pairs"),
            F.sum("intra").cast("bigint").alias("intra_doc_pairs"),
        )
        .select(
            "source",
            "n_seqs",
            "causal_pairs",
            "intra_doc_pairs",
            (F.col("causal_pairs") - F.col("intra_doc_pairs"))
            .cast("bigint")
            .alias("cross_doc_pairs"),
            F.round(
                (F.col("causal_pairs") - F.col("intra_doc_pairs"))
                / F.col("causal_pairs"),
                4,
            ).alias("cross_frac"),
        )
        .orderBy("source")
    )


# Registry entries (merged into operators/__init__ since r13 — the
# rotation's single free slot that round).
QUERIES = {
    "pack_attention_waste_audit": pack_attention_waste_audit,
}


def _oracles_r13() -> dict[str, str]:
    from elastic_stream_spark.operators.curation import PACK_BUDGET

    return {
        "pack_attention_waste_audit": f"""
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
          SELECT source,
                 unnest(generate_series(
                   CAST(floor(start / {PACK_BUDGET}.0) AS BIGINT),
                   CAST(floor((start + n_tokens - 1) / {PACK_BUDGET}.0)
                        AS BIGINT)
                 )) AS seq,
                 start, n_tokens
          FROM placed
        ), frags AS (
          SELECT source, seq,
                 least((seq + 1) * {PACK_BUDGET}, start + n_tokens)
                 - greatest(seq * {PACK_BUDGET}, start) AS span_len
          FROM spans
        ), per_seq AS (
          SELECT source, seq,
                 sum(span_len) AS filled,
                 sum(span_len * (span_len + 1) // 2) AS intra
          FROM frags GROUP BY source, seq
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_seqs,
               CAST(sum(filled * (filled + 1) // 2) AS BIGINT)
                 AS causal_pairs,
               CAST(sum(intra) AS BIGINT) AS intra_doc_pairs,
               CAST(sum(filled * (filled + 1) // 2) - sum(intra) AS BIGINT)
                 AS cross_doc_pairs,
               round((sum(filled * (filled + 1) // 2) - sum(intra)) * 1.0
                     / sum(filled * (filled + 1) // 2), 4) AS cross_frac
        FROM per_seq GROUP BY source ORDER BY source
        """,
    }


ORACLES = _oracles_r13()
