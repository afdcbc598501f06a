"""Empirical scaling curves: time each headline operator at three scale
factors (sf0.001 → sf0.01 → sf0.1, 100× data spread) and fit the log-log
slope of wall time vs scale.

Interpretation (written into SCALE.md):
- slope ≈ 0     → overhead-bound at these sizes (fixture far too small to
                  stress the plan; fine);
- slope ≈ 1     → data-bound and LINEAR — the plan's cost is ∝ input, the
                  shape that survives a 1000-executor 100 TB run;
- slope ≥ 1.5   → super-linear growth — flagged loudly; either the
                  operator is intentionally quadratic at fixture scale
                  (``dedup_embedding``, which has a documented LSH scale
                  path) or something is wrong.

The slope is fit on the LAST segment (sf0.01 → sf0.1) where data begins
to dominate overhead; the full three-point series is also reported.

Usage: python tools/scale_probe.py [out_md]   (default SCALE.md)
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]

# The sweep covers EVERY registry query (derived at runtime from the
# gate registry — a static list drifted: r7's covered 85 of 124).
def _probe_names():
    from elastic_stream_spark.operators import GATE_ORDER

    return list(GATE_ORDER)


PROBE: list[str] = []  # filled in main() from the live registry


# Documents-corpus amplification: replica k rewrites every word with a
# _rk suffix, so intra-replica dup structure is IDENTICAL per replica and
# cross-replica n-gram/shingle overlap is exactly zero — the true pair
# set grows LINEARLY in the amplification factor, which is what makes the
# measured slope attributable to the plan, not to a quadratic blow-up of
# the answer itself.  The 160× point (800k docs — one decade past the
# 16×/80k point) runs for the dedup/CC family only (AMP_DECADE_PROBE):
# the sf0.1 curves are overhead-bound, and only this decade separates
# linear from super-linear for the pair-generating plans.
AMP_FACTORS = [1, 4, 16]
AMP_DECADE_FACTOR = 160
AMP_PROBE = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "pipeline_keep_list",
    "decontaminate_ngrams",
    "text_token_stats",
    "text_pii_redact",
    "text_repetition",
    "pipeline_pack_sequences",
    "pipeline_curation_verdict",
]
AMP_DECADE_PROBE = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "pipeline_keep_list",
]


def build_amp_dir(spark, base_sf_dir: str, factor: int, root: str) -> str:
    """Materialize an amplified documents.parquet (factor × rows) under
    ``root``, symlinking every other table from ``base_sf_dir``.  One
    explode-based job (a factor-way union plan chokes analysis at 160×)."""
    from pyspark.sql import functions as F

    out = os.path.join(root, f"amp{factor}x")
    if os.path.isdir(out):
        return out
    os.makedirs(out)
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        os.symlink(f"{base_sf_dir}/{t}.parquet", f"{out}/{t}.parquet")
    docs = spark.read.parquet(f"{base_sf_dir}/documents.parquet")
    n = docs.count()
    amp = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("k"),
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
    ).select(
        (F.col("doc_id") + F.col("k") * n).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split("text", " "),
                lambda w: F.concat(w, F.lit("_r"), F.col("k").cast("string")),
            ),
            " ",
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    amp.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def main() -> None:
    out_md = sys.argv[1] if len(sys.argv) > 1 else "SCALE.md"
    from elastic_stream_spark.operators import all_queries
    from elastic_stream_spark.session import get_spark
    from elastic_stream_spark.sources.envelope import TABLES, load_table

    spark = get_spark("scale_probe")
    qs = all_queries()
    PROBE[:] = _probe_names()
    # time the way a consumer pays: count() lets Catalyst prune per-row
    # projections (bench.py _force_count rationale) — same action here
    from bench import _force_count

    # warm-up every sf dir (JVM, codegen, page cache) before any timing
    for sf_dir, _ in SFS:
        for t in TABLES:
            load_table(spark, sf_dir, t).count()

    results: dict[str, list[float]] = {name: [] for name in PROBE}
    for sf_dir, sf in SFS:
        for name in PROBE:
            fn = qs[name]
            best = None
            for _ in range(3):  # best-of-3: host I/O stalls intermittently
                t0 = time.time()
                _force_count(fn(spark, sf_dir))
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            results[name].append(round(best, 3))
            print(f"# sf{sf} {name}: {best:.3f}s", file=sys.stderr, flush=True)

    lines = [
        "# SCALE — measured scaling curves (wall time vs scale factor)",
        "",
        "Generated by `tools/scale_probe.py` on local[32]; best-of-3 per",
        "point, warm caches, FULL output evaluation forced (bench.py",
        "_force_count — count() alone lets Catalyst prune projections).  `slope` = log10(t_sf0.1 / t_sf0.01) — the",
        "data-dominated segment (100× total spread across the series).",
        "Slope ≈ 0: overhead-bound at fixture size.  Slope ≈ 1: linear in",
        "data — the shape that survives 100 TB.  Slope ≥ 1.5: super-linear,",
        "flagged.",
        "",
        "| operator | sf0.001 s | sf0.01 s | sf0.1 s | slope(0.01→0.1) | verdict |",
        "|---|---|---|---|---|---|",
    ]
    flagged = []
    for name in PROBE:
        t1, t2, t3 = results[name]
        slope = math.log10(max(t3, 1e-3) / max(t2, 1e-3))
        if slope >= 1.5:
            verdict = "SUPER-LINEAR — flagged"
            flagged.append(name)
        elif slope >= 0.75:
            verdict = "~linear (data-bound)"
        else:
            verdict = "overhead-bound"
        lines.append(
            f"| {name} | {t1:.3f} | {t2:.3f} | {t3:.3f} | {slope:+.2f} | {verdict} |"
        )
    lines += [
        "",
        f"Flagged super-linear: {', '.join(flagged) if flagged else 'none'}.",
        "",
        "The all-pairs `dedup_embedding` baseline is no longer registered",
        "(retired from the gate in r4; guard-protected function remains in",
        "`operators/dedup.py`); the registered 100 TB embedding-dedup path",
        "is `dedup_embedding_lsh` (bucketed candidates, measured above).",
        "",
    ]

    # ---- amplified-corpus probe: push the text/dedup family into the
    # data-dominated regime (sf0.1 documents × 1/4/16 = 5k → 80k docs,
    # dup truth-set growing linearly by construction)
    import shutil
    import tempfile

    amp_root = tempfile.mkdtemp(
        prefix="esspark-amp-", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    base = SFS[-1][0]
    # Full memo eviction between timed runs (r10): the amp/decade
    # batteries measure ALGORITHMIC scaling, so every run must pay the
    # complete pipeline.  Pre-r10, only the SQL cache was cleared — the
    # pair/CC session memos (localCheckpoint) survived into runs 2..n,
    # so a leg's "best" mixed full-compute and memo-serve depending on
    # which memos happened to be alive.  That is exactly the
    # inconsistent-baseline artifact behind the recurring
    # dedup_ngram_jaccard decade flag (r9/r10 isolated re-measures in
    # SCALE.extra.md), fixed at the source here.
    from elastic_stream_spark.functions.materialize import (
        evict_all,
        unpersist_materialized,
    )

    def _evict_session_memos():
        # every session memo, not only the pair/CC ones: release their
        # localCheckpoint blocks and directories too, so runs 2..n neither
        # serve a memo nor inherit its pinned storage.  BLOCKING
        # unpersists: async removal of the 160×-leg multi-GB checkpoint
        # blocks otherwise overlaps — and taxes — the next timed run (the
        # r11 first-pass decade leg measured 127 s vs 92 s for exactly
        # this reason)
        spark.catalog.clearCache()
        unpersist_materialized(spark, blocking=True)
        evict_all(blocking=True)

    amp_dirs = [build_amp_dir(spark, base, f, amp_root) for f in AMP_FACTORS]
    amp_results: dict[str, list[float]] = {name: [] for name in AMP_PROBE}
    for d, f in zip(amp_dirs, AMP_FACTORS):
        spark.read.parquet(f"{d}/documents.parquet").count()  # warm
        for name in AMP_PROBE:
            fn = qs[name]
            best = None
            for _ in range(3):
                _evict_session_memos()
                t0 = time.time()
                fn(spark, d).count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            amp_results[name].append(round(best, 3))
            print(f"# amp{f}x {name}: {best:.3f}s", file=sys.stderr, flush=True)

    # ---- decade point: 160× = 800k docs, dedup/CC family only,
    # best-of-2 (each pass is tens of seconds — a host stall is visible
    # as spread, not hidden)
    d160 = build_amp_dir(spark, base, AMP_DECADE_FACTOR, amp_root)
    spark.read.parquet(f"{d160}/documents.parquet").count()  # warm
    decade_results: dict[str, float] = {}
    for name in AMP_DECADE_PROBE:
        fn = qs[name]
        best = None
        for _ in range(2):
            _evict_session_memos()
            t0 = time.time()
            fn(spark, d160).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        decade_results[name] = round(best, 3)
        print(
            f"# amp{AMP_DECADE_FACTOR}x {name}: {best:.3f}s",
            file=sys.stderr,
            flush=True,
        )
    shutil.rmtree(amp_root, ignore_errors=True)

    n_docs = [5000 * f for f in AMP_FACTORS]
    lines += [
        "## Amplified corpus (documents × 1/4/16, dup truth-set linear by construction)",
        "",
        "Each 4× step should cost ≤ ~4× for a linear operator: slope =",
        "log4(t_16x / t_4x).  Corpus sizes: "
        + ", ".join(f"{n:,} docs" for n in n_docs)
        + ".  Since r10 every timed run evicts the session memos",
        "(pair/CC localCheckpoints, materialized indexes, SQL cache), so",
        "each run pays the complete pipeline — legs are baseline-",
        "consistent by construction.",
        "",
        "| operator | 1× s | 4× s | 16× s | slope(4×→16×) | verdict |",
        "|---|---|---|---|---|---|",
    ]
    amp_flagged = []
    for name in AMP_PROBE:
        t1, t2, t3 = amp_results[name]
        slope = math.log(max(t3, 1e-3) / max(t2, 1e-3)) / math.log(4)
        if slope >= 1.5:
            verdict = "SUPER-LINEAR — flagged"
            amp_flagged.append(name)
        elif slope >= 0.6:
            verdict = "~linear (data-bound)"
        else:
            verdict = "sub-linear / overhead-bound"
        lines.append(
            f"| {name} | {t1:.3f} | {t2:.3f} | {t3:.3f} | {slope:+.2f} | {verdict} |"
        )
    lines += [
        "",
        f"Flagged super-linear: {', '.join(amp_flagged) if amp_flagged else 'none'}.",
        "",
    ]

    # ---- decade table: 80k → 800k docs (10×), the segment that actually
    # separates linear from n·log n / n² for the pair-generating plans
    lines += [
        "## Decade probe: dedup/CC family at 800k docs (16× → 160×, 10× data)",
        "",
        "slope = log10(t_160x / t_16x); linear ⇒ ≈ +1.0, quadratic ⇒ +2.0.",
        "Best-of-2 at the 160× point; session memos evicted per run",
        "(same discipline as the amp battery, r10).",
        "",
        "| operator | 16× (80k docs) s | 160× (800k docs) s | slope | verdict |",
        "|---|---|---|---|---|",
    ]
    decade_flagged = []
    for name in AMP_DECADE_PROBE:
        t16 = amp_results[name][-1]
        t160 = decade_results[name]
        slope = math.log10(max(t160, 1e-3) / max(t16, 1e-3))
        if slope >= 1.3:
            verdict = "SUPER-LINEAR — flagged"
            decade_flagged.append(name)
        elif slope >= 0.5:
            verdict = "~linear (data-bound)"
        else:
            verdict = "sub-linear / overhead-bound"
        lines.append(
            f"| {name} | {t16:.3f} | {t160:.3f} | {slope:+.2f} | {verdict} |"
        )
    lines += [
        "",
        f"Flagged super-linear: {', '.join(decade_flagged) if decade_flagged else 'none'}.",
        "",
    ]

    # ---- embedding-LSH decade: corpus × 1/16/160 (2.25k → 360k vectors)
    # with k_bits following log2(n) so per-bucket load stays ~constant —
    # the production discipline that keeps hyperplane-LSH linear (at
    # FIXED bits, per-bucket load grows ∝ n and candidate pairs ∝ n²,
    # which is a tuning error, not a plan property)
    emb_lines = _emb_lsh_probe(spark, base)
    lines += emb_lines

    # ---- committed extension sections (deep-dive measurements recorded
    # once, e.g. the r7 pair-generation decade extension, live in
    # SCALE.extra.md so a SCALE.md regeneration never loses them)
    extra_path = os.path.join(os.path.dirname(out_md) or ".", "SCALE.extra.md")
    if os.path.exists(extra_path):
        with open(extra_path) as f:
            lines += [f.read()]

    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md}", file=sys.stderr)
    spark.stop()


EMB_AMP = [(1, 12), (16, 16), (160, 19)]  # (factor, k_bits): load ≈ 0.55-0.69/bucket


def _amp_embeddings(spark, base_sf_dir: str, factor: int):
    """Amplified unit-vector corpus: replica k applies a deterministic
    per-coordinate sign-flip pattern (hash-seeded), so replicas keep unit
    norm, pairwise replica cosines sit at background level (no quadratic
    blow-up of the true pair set), and the corpus grows ∝ factor."""
    from pyspark.sql import functions as F

    from elastic_stream_spark.functions.vectorfns import unit

    emb = spark.read.parquet(f"{base_sf_dir}/embeddings.parquet").select(
        "vec_id", unit(F.col("embedding")).alias("u")
    )
    n = emb.count()
    if factor == 1:
        return emb.repartition(32).localCheckpoint(eager=True), n
    amp = emb.select(
        F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("k"), "vec_id", "u"
    ).select(
        (F.col("vec_id") + F.col("k") * n).alias("vec_id"),
        F.transform(
            "u",
            lambda x, i: x
            * F.when(
                F.pmod(F.xxhash64(F.col("k"), i), 2) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        ).alias("u"),
    )
    return amp.repartition(32).localCheckpoint(eager=True), n * factor


def _emb_lsh_probe(spark, base_sf_dir: str) -> list[str]:
    import gc

    from pyspark.sql import functions as F

    from elastic_stream_spark.operators.similarity import lsh_verified_pairs

    dim = int(
        spark.read.parquet(f"{base_sf_dir}/embeddings.parquet")
        .select(F.size("embedding").alias("d"))
        .first()["d"]
    )
    rows = []
    series = []
    for factor, bits in EMB_AMP:
        corpus, n = _amp_embeddings(spark, base_sf_dir, factor)
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.time()
            lsh_verified_pairs(corpus, dim, 0.85, k_bits=bits, n_tables=24).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        series.append((factor, bits, n, round(best, 3)))
        print(
            f"# emb-lsh {factor}x (n={n}, bits={bits}): {best:.3f}s",
            file=sys.stderr,
            flush=True,
        )
        del corpus
        gc.collect()
    slope = math.log10(max(series[2][3], 1e-3) / max(series[1][3], 1e-3))
    rows += [
        "## Embedding-LSH decade: corpus × 1/16/160 with k_bits ∝ log2(n)",
        "",
        "`lsh_verified_pairs` (the dedup_embedding_lsh engine) on a",
        "sign-flip-amplified unit corpus; per-bucket load held ≈ constant",
        "by raising k_bits with corpus size (12/16/19 bits), the standard",
        "LSH scaling discipline.  slope = log10(t_160x / t_16x).",
        "",
        "| factor | vectors | k_bits | best s |",
        "|---|---|---|---|",
    ]
    for factor, bits, n, t in series:
        rows.append(f"| {factor}× | {n:,} | {bits} | {t:.3f} |")
    verdict = "SUPER-LINEAR — flagged" if slope >= 1.3 else (
        "~linear (data-bound)" if slope >= 0.5 else "sub-linear / overhead-bound"
    )
    rows += ["", f"slope(16×→160×) = {slope:+.2f} → {verdict}.", ""]
    return rows


if __name__ == "__main__":
    main()
