"""Third post-saturation staged operator (r16+ candidate queue).

Same staging protocol as ``staged_r14.py``/``staged_r15.py``: built,
DuckDB-oracled, comparator-verified at all three fixture scales,
registered only when a gate slot frees (the rotation is permanently
saturated at 150 — see operators/__init__.py).  Kept out of
``operators/__init__`` so the rotation invariants in
``tests/test_registry.py`` keep holding.

Reference framing: no reference-engine counterpart (the opcode enum
components/protocol/fbs/rpc.fbs:111-182 is stream ops only); this is
the fuzzy decontamination pass a training-data pipeline runs beside the
exact one — ``decontaminate_ngrams`` (curation.py) flags verbatim
5-gram overlap with the eval holdout, but paraphrase-level leakage
(reordered sentences, light edits, boilerplate-wrapped copies) shares
few exact 5-grams while keeping shingle-set Jaccard high.  This is the
standard MinHash complement (the near-dedup literature's
train-vs-benchmark contamination check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def decontaminate_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs NEAR-DUPLICATING the eval holdout: MinHash(16) +
    LSH(8×2) candidates restricted to train×eval pairs, exact-Jaccard
    verified at ≥ 0.8 — the fuzzy scrub list, one row per contaminated
    training doc with its eval-match count and worst (highest) Jaccard.

    Same eval-split convention as ``decontaminate_ngrams``
    (``doc_id % EVAL_MOD == 0``, the deterministic 10% holdout) and the
    SAME signature family / threshold as ``dedup_minhash_lsh``, so the
    band-recall argument transfers verbatim: at the fixture's planted
    near-dup similarity (j ≥ 0.9) recall is 1-(1-j²)^8 > 0.999998 and
    the verified output equals the brute-force oracle.

    Plan (100 TB): the minhash aggregation is ONE shuffle over the
    shingle table (shared shape with the dedup family); the band join
    keys train bands against EVAL bands only — the eval holdout is a
    fixed benchmark set (thousands of docs at any corpus size), so its
    band table broadcasts and the candidate set is ∝ true contamination,
    never a corpus self-join; verification then touches only candidate
    pairs' shingle sets (work ∝ |candidates|, array_intersect in place,
    integer-ratio threshold — no float gate).  Strictly cheaper than
    ``dedup_minhash_lsh`` at every stage."""
    from elastic_stream_spark.operators.curation import EVAL_MOD
    from elastic_stream_spark.operators.dedup import (
        JACCARD_DEN,
        JACCARD_NUM,
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_K,
        _doc_shingles,
    )
    from elastic_stream_spark.functions.materialize import materialize

    sh = _doc_shingles(spark, sf_dir)
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"m{i}")
            for i in range(MINHASH_K)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(
                    *[F.col(f"m{band * LSH_ROWS + r}") for r in range(LSH_ROWS)]
                ).alias("bucket"),
            )
            for band in range(LSH_BANDS)
        ]
    )
    bands = materialize(
        mh.select("doc_id", F.explode(band_structs).alias("bb")).select(
            "doc_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
        # materialized: train and eval sides both read this table;
        # without it each side recomputes the 16-minhash aggregation
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    train_b = bands.where(~is_eval).select(
        F.col("doc_id").alias("doc_id"), "band", "bucket"
    )
    eval_b = bands.where(is_eval).select(
        F.col("doc_id").alias("eval_doc"), "band", "bucket"
    )
    # the eval side is corpus-size-independent at real scale: broadcast
    # is the intended physical join, stated rather than left to stats
    candidates = (
        train_b.join(F.broadcast(eval_b), ["band", "bucket"])
        .select("doc_id", "eval_doc")
        .distinct()
    )
    # exact-Jaccard verification over candidate pairs only (the
    # cross-set form of dedup._verify_jaccard: same set-collect, same
    # integer-ratio gate, same unrounded int/int division)
    sets_ = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s"))
    st = sets_.select(F.col("doc_id").alias("doc_id"), F.col("s").alias("s_t"))
    se = sets_.select(F.col("doc_id").alias("eval_doc"), F.col("s").alias("s_e"))
    pairs = (
        candidates.join(st, "doc_id")
        .join(F.broadcast(se), "eval_doc")
        .withColumn("common", F.size(F.array_intersect("s_t", "s_e")))
        .withColumn("na", F.size("s_t"))
        .withColumn("nb", F.size("s_e"))
    )
    union_sz = F.col("na") + F.col("nb") - F.col("common")
    verified = pairs.where(
        F.col("common") * JACCARD_DEN >= JACCARD_NUM * union_sz
    ).select("doc_id", "eval_doc", (F.col("common") / union_sz).alias("jaccard"))
    return (
        verified.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_eval_dups"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "decontaminate_neardup": decontaminate_neardup,
}


def _oracles_r16() -> dict[str, str]:
    from elastic_stream_spark.operators.curation import EVAL_MOD
    from elastic_stream_spark.operators.dedup import (
        JACCARD_DEN,
        JACCARD_NUM,
        SHINGLE_N,
    )

    # brute-force train×eval shingle join (the oracle does not replicate
    # minhash — band recall ≈ 1 at the fixture's similarity levels makes
    # the verified LSH output equal the exhaustive answer, the same
    # argument the committed dedup_minhash_lsh oracle rests on)
    return {
        "decontaminate_neardup": f"""
            WITH toks AS (
              SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
            ), sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(t) - {SHINGLE_N - 1}),
                       i -> array_to_string(t[i:i+{SHINGLE_N - 1}], ' ')))) AS shingle
              FROM toks WHERE len(t) >= {SHINGLE_N}
            ), sizes AS (
              SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
            ), pairs AS (
              SELECT a.doc_id AS train_doc, b.doc_id AS eval_doc,
                     count(*) AS common
              FROM sh a JOIN sh b ON a.shingle = b.shingle
              WHERE a.doc_id % {EVAL_MOD} != 0 AND b.doc_id % {EVAL_MOD} = 0
              GROUP BY train_doc, eval_doc
            ), verified AS (
              SELECT train_doc, eval_doc,
                     common * 1.0 / (sa.n_shingles + sb.n_shingles - common)
                       AS jaccard
              FROM pairs
              JOIN sizes sa ON train_doc = sa.doc_id
              JOIN sizes sb ON eval_doc = sb.doc_id
              WHERE common * {JACCARD_DEN}
                    >= {JACCARD_NUM} * (sa.n_shingles + sb.n_shingles - common)
            )
            SELECT train_doc AS doc_id,
                   count(*) AS n_eval_dups,
                   max(jaccard) AS max_jaccard
            FROM verified GROUP BY train_doc ORDER BY doc_id
        """,
    }


ORACLES = _oracles_r16()
