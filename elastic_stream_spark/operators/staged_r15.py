"""Second post-saturation staged operator (r15+ candidate queue).

Same staging protocol as ``staged_r14.py``: built, DuckDB-oracled,
comparator-verified at all three fixture scales, registered only when a
gate slot frees (the rotation is permanently saturated at 150 — see
operators/__init__.py).  Kept out of ``operators/__init__`` so the
rotation invariants in ``tests/test_registry.py`` keep holding.

Reference framing: no reference-engine counterpart (the opcode enum
components/protocol/fbs/rpc.fbs:111-182 is stream ops only); this is
the ramp-smoothness audit a training run reads before trusting a
multi-epoch curriculum schedule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

RAMP_EPOCHS = 4  # epochs in the audited linear curriculum ramp


def curriculum_ramp_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-boundary mix drift under a linear curriculum ramp (the r12
    VERDICT's named depth candidate): ``curriculum_mix_allocation``
    resolves ONE epoch's loader draws; a real curriculum changes the
    tier weighting every epoch — here ``ramp_e(t) = (E-1-e) + e·t``,
    integer, from uniform (e=0, weight ∝ n_docs) to fully tilted
    (e=E-1, weight ∝ n_docs·t) — and what destabilizes a training run
    is not the endpoints but a STEP at a boundary.  Per epoch the audit
    reports the exact Hamilton allocation mass, the top-tier share, and
    the L1 movement vs the previous epoch at two granularities: cell
    moves (how many draws changed (source, tier) assignment — the
    loader-cache invalidation cost) and source moves (how far the
    SOURCE mix itself shifted — the distribution-shift the loss curve
    sees).  Smooth ramp ⇔ near-equal moves per boundary and a
    monotonically rising top-tier share.

    Determinism: ramp weights are bigint products; every allocation is
    the largest-remainder method with (source, bucket) tie-break — no
    float decides a count (the ``epoch_schedule`` argument); only the
    published share columns are rounded doubles.

    Plan (100 TB): the corpus is touched ONCE (the per-source ntile
    quartile window — the same shuffle ``quality_buckets`` pays);
    everything after operates on the 4·|sources| cell table, which is
    localCheckpointed and reused by every epoch's allocator — E is a
    literal constant, so the per-epoch Hamilton resolution (1-row total
    broadcast, TakeOrdered bonus top-k, broadcast flag join — the
    r9-rebuilt shape, no unpartitioned window) runs E times over cell-
    not corpus-sized data, and the boundary lag window partitions by
    (source, bucket) with exactly E rows each."""
    from elastic_stream_spark.operators.curation import (
        CURRICULUM_BUDGET,
        N_QUALITY_BUCKETS,
        _docs,
        quality_score_col,
    )

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    tiered = docs.select(
        "source", "doc_id", quality_score_col().alias("q")
    ).withColumn("bucket", F.ntile(N_QUALITY_BUCKETS).over(w).cast("bigint"))
    cells = (
        tiered.groupBy("source", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .localCheckpoint(eager=True)  # 4·|sources| rows, reused E·3 times
    )

    epoch_allocs = []
    for e in range(RAMP_EPOCHS):
        ramp = F.lit(RAMP_EPOCHS - 1 - e) + F.lit(e) * F.col("bucket")
        weighted = cells.select(
            "source",
            "bucket",
            (F.col("n_docs") * ramp).cast("bigint").alias("weight"),
        )
        tot = weighted.agg(F.sum("weight").alias("w_total"))
        alloc = weighted.crossJoin(F.broadcast(tot)).select(
            "source",
            "bucket",
            F.expr(f"({CURRICULUM_BUDGET} * weight) div w_total").alias(
                "base_alloc"
            ),
            F.expr(f"({CURRICULUM_BUDGET} * weight) % w_total").alias("rem"),
        )
        alloc = alloc.localCheckpoint(eager=True)
        row = alloc.agg(
            (F.lit(CURRICULUM_BUDGET) - F.sum("base_alloc")).alias("lo")
        ).first()
        leftover = int(row["lo"] or 0)
        winners = (
            alloc.orderBy(F.desc("rem"), F.asc("source"), F.asc("bucket"))
            .limit(leftover)
            .select("source", "bucket", F.lit(1).alias("bonus"))
        )
        epoch_allocs.append(
            alloc.join(F.broadcast(winners), ["source", "bucket"], "left")
            .select(
                F.lit(e).cast("bigint").alias("epoch"),
                "source",
                "bucket",
                (F.col("base_alloc") + F.coalesce("bonus", F.lit(0)))
                .cast("bigint")
                .alias("alloc"),
            )
        )

    allocs = epoch_allocs[0]
    for df in epoch_allocs[1:]:
        allocs = allocs.unionByName(df)

    lag_w = Window.partitionBy("source", "bucket").orderBy("epoch")
    moved = allocs.withColumn(
        "cell_move",
        F.abs(F.col("alloc") - F.coalesce(F.lag("alloc").over(lag_w), F.col("alloc"))),
    )
    per_source = allocs.groupBy("epoch", "source").agg(
        F.sum("alloc").alias("src_alloc")
    )
    src_lag_w = Window.partitionBy("source").orderBy("epoch")
    src_moved = per_source.withColumn(
        "src_move",
        F.abs(
            F.col("src_alloc")
            - F.coalesce(F.lag("src_alloc").over(src_lag_w), F.col("src_alloc"))
        ),
    )
    cell_side = moved.groupBy("epoch").agg(
        F.sum("alloc").cast("bigint").alias("total_alloc"),
        F.sum(
            F.when(F.col("bucket") == N_QUALITY_BUCKETS, F.col("alloc")).otherwise(0)
        )
        .cast("bigint")
        .alias("top_tier_alloc"),
        F.sum("cell_move").cast("bigint").alias("l1_cell_moves"),
    )
    src_side = src_moved.groupBy("epoch").agg(
        F.sum("src_move").cast("bigint").alias("l1_source_moves")
    )
    return (
        cell_side.join(src_side, "epoch")
        .select(
            "epoch",
            "total_alloc",
            "top_tier_alloc",
            F.round(F.col("top_tier_alloc") / F.col("total_alloc"), 4).alias(
                "top_tier_share"
            ),
            "l1_cell_moves",
            "l1_source_moves",
        )
        .orderBy("epoch")
    )


QUERIES = {
    "curriculum_ramp_drift_audit": curriculum_ramp_drift_audit,
}


def _oracles_r15() -> dict[str, str]:
    from elastic_stream_spark.operators.curation import CURRICULUM_BUDGET

    B = CURRICULUM_BUDGET
    E = RAMP_EPOCHS
    return {
        "curriculum_ramp_drift_audit": f"""
        WITH per_doc AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS n_tok,
                 len(list_filter(string_split(lower(text), ' '),
                                 x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS stop_hits,
                 (length(text) - len(string_split(lower(text), ' ')) + 1)
                   * 1.0 / len(string_split(lower(text), ' ')) AS mean_len
          FROM documents
        ), scored AS (
          SELECT source, doc_id,
                 round(
                   (CASE WHEN n_tok >= 30 THEN 0.4 ELSE 0.1 END)
                 + (CASE WHEN stop_hits * 1.0 / n_tok >= 0.02
                          AND stop_hits * 1.0 / n_tok <= 0.4 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN mean_len >= 3 AND mean_len <= 8 THEN 0.3 ELSE 0.0 END)
                 , 4) AS q
          FROM per_doc
        ), tiered AS (
          SELECT source,
                 CAST(ntile(4) OVER (
                   PARTITION BY source ORDER BY q, doc_id) AS BIGINT) AS bucket
          FROM scored
        ), cells AS (
          SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs
          FROM tiered GROUP BY source, bucket
        ), epochs AS (
          SELECT unnest(generate_series(0, {E - 1})) AS epoch
        ), weighted AS (
          SELECT e.epoch, c.source, c.bucket,
                 CAST(c.n_docs * (({E - 1} - e.epoch) + e.epoch * c.bucket)
                      AS BIGINT) AS weight
          FROM cells c CROSS JOIN epochs e
        ), alloc0 AS (
          SELECT epoch, source, bucket, weight,
                 ({B} * weight) // sum(weight) OVER (PARTITION BY epoch)
                   AS base_alloc,
                 ({B} * weight) % sum(weight) OVER (PARTITION BY epoch)
                   AS rem
          FROM weighted
        ), ranked AS (
          SELECT *,
                 row_number() OVER (PARTITION BY epoch
                                    ORDER BY rem DESC, source, bucket) AS rk,
                 {B} - sum(base_alloc) OVER (PARTITION BY epoch) AS leftover
          FROM alloc0
        ), allocs AS (
          SELECT epoch, source, bucket,
                 CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                      AS BIGINT) AS alloc
          FROM ranked
        ), moved AS (
          SELECT epoch, source, bucket, alloc,
                 abs(alloc - coalesce(lag(alloc) OVER (
                   PARTITION BY source, bucket ORDER BY epoch), alloc))
                   AS cell_move
          FROM allocs
        ), per_source AS (
          SELECT epoch, source, sum(alloc) AS src_alloc
          FROM allocs GROUP BY epoch, source
        ), src_moved AS (
          SELECT epoch, source,
                 abs(src_alloc - coalesce(lag(src_alloc) OVER (
                   PARTITION BY source ORDER BY epoch), src_alloc))
                   AS src_move
          FROM per_source
        ), cell_side AS (
          SELECT epoch,
                 CAST(sum(alloc) AS BIGINT) AS total_alloc,
                 CAST(sum(CASE WHEN bucket = 4 THEN alloc ELSE 0 END)
                      AS BIGINT) AS top_tier_alloc,
                 CAST(sum(cell_move) AS BIGINT) AS l1_cell_moves
          FROM moved GROUP BY epoch
        ), src_side AS (
          SELECT epoch, CAST(sum(src_move) AS BIGINT) AS l1_source_moves
          FROM src_moved GROUP BY epoch
        )
        SELECT c.epoch, c.total_alloc, c.top_tier_alloc,
               round(c.top_tier_alloc * 1.0 / c.total_alloc, 4)
                 AS top_tier_share,
               c.l1_cell_moves, s.l1_source_moves
        FROM cell_side c JOIN src_side s ON c.epoch = s.epoch
        ORDER BY c.epoch
        """,
    }


ORACLES = _oracles_r15()
