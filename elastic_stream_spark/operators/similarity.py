"""Similarity search over the ``embeddings`` table (north-star).

- ``sim_topk_bruteforce`` — exact cosine top-k: the correctness baseline.
  Vectors are L2-normalized once per row (cosine → single dot per pair;
  higher-order fns are interpreted, so per-pair work is kept minimal),
  the query side is broadcast, the corpus side keeps the balanced scan
  layout, top-k via ranking window on the query key.  At 100 TB the
  same plan holds for a bounded query set: broadcast queries ×
  partitioned corpus scan = embarrassingly parallel, one shuffle on
  query_id for the top-k.

- ``sim_ann_ivf`` — the scale path for top-k: IVF (inverted-file) index
  with SAMPLED-KMEANS centroids (the faiss recipe: train k-means on a
  bounded deterministic sample driver-side, broadcast the centroids,
  assign distributed).  NLIST ∝ √n; candidates ∝ corpus·NPROBE/NLIST
  instead of the whole corpus.  The registered gate form probes every
  cell (nprobe = nlist ⇒ EXACT top-k, hash-checked against the DuckDB
  oracle); the approximate serving form (``sim_ann_ivf_approx``,
  nprobe = nlist/2) keeps its recall ≥ 0.8 pytest contract, and the
  clustered-fixture gates demonstrate the ≥4× pruning.

- ``sim_ann_lsh`` — the scale path for near-duplicate PAIRS at tight
  thresholds: random-hyperplane LSH.  Collision probability per bit is
  1 − θ/π, so bucketing separates pairs only when the duplicate angle is
  well below background (cosine ≳ 0.8).  The fixture's planted embedding
  dups sit at cosine 0.45–0.51 against a 0.38 background — angles LSH
  cannot distinguish — so at fixture scale the verified output is the
  exact pair set, and the PRUNING property is asserted in tests on
  planted high-cosine dups (recall ≥ 0.9 with a small candidate
  fraction).  Signatures are computed in one numpy matmul per Arrow
  batch (``mapInPandas``), buckets join is a plain equi-join Catalyst
  shuffles on the bucket key.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from elastic_stream_spark.functions.materialize import (
    SessionMemo,
    materialize,
    remove_dir,
)
from elastic_stream_spark.functions.vectorfns import dot, unit
from elastic_stream_spark.sources.envelope import load_table, load_table_balanced

N_QUERIES = 50  # query set: vec_id < 50
TOP_K = 5

# IVF knobs (≙ faiss IVF defaults scaled to corpus size)
IVF_MIN_NLIST = 16
IVF_TRAIN_PER_CELL = 40  # sample size = NLIST * this, capped
IVF_KMEANS_ITERS = 10

# LSH knobs: k bits per table / L tables — tuned for cosine ≥ 0.8 dups
LSH_BITS = 12
LSH_TABLES = 16
LSH_SEED = 7

# Planted-twin derivation for the LSH-dedup gate query: vec_id < TWIN_N
# get a twin at id + TWIN_ID_BASE, perturbed by TWIN_EPS on one coordinate
# (k = vec_id mod dim) and re-normalized ⇒ cosine(twin, base) ≈
# 1/sqrt(1+eps²) ± one component ≈ 0.97, far above the 0.51 background.
# Recall argument at θ = arccos(.97): p_bit = 1-θ/π ≈ 0.922, per-table
# (12 bits) ≈ 0.38, miss over 24 tables ≈ (1-.38)^24 ≈ 1e-5 — the
# LSH-verified pair set provably equals the exact pair set on this
# fixture, which is what lets the driver hash-check it against DuckDB.
TWIN_N = 30
TWIN_ID_BASE = 1_000_000
TWIN_EPS = 0.25
LSH_DEDUP_THRESHOLD = 0.85
LSH_DEDUP_TABLES = 24


def _unit_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # balanced: the single-split fixture would serialize signature /
    # scoring stages onto one core
    return load_table_balanced(spark, sf_dir, "embeddings").select(
        "vec_id", unit(F.col("embedding")).alias("u")
    )


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each query vector (vec_id < 50),
    excluding self."""
    emb = _unit_emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    # no explicit repartition: _unit_emb already balances the fixture's
    # single-split parquet (load_table_balanced) — a second exchange here
    # would just re-shuffle the corpus
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("u").alias("nu")
    )
    scored = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(dot(F.col("qu"), F.col("nu")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------- IVF

_CENTROIDS = SessionMemo()


def train_ivf(
    emb: DataFrame,
    nlist: int | None = None,
    nprobe: int | None = None,
    seed: int = 0,
) -> tuple[int, int, list[list[float]]]:
    """(nlist, nprobe, centroids) — k-means on a bounded deterministic
    sample of ``emb`` (columns vec_id, u), driver-side (the
    coordinator-trains/broadcast pattern every IVF build uses; the sample
    is O(nlist), independent of corpus size).

    ``nlist``/``nprobe`` are the standard user knobs (faiss convention):
    nlist ∝ √n cells by default; nprobe cells scanned per query, so the
    candidate fraction is ≈ nprobe/nlist on balanced cells — asserted in
    tests/test_operators.py on a clustered planted fixture."""
    import numpy as np

    n = emb.count()
    if nlist is None:
        nlist = max(4, min(4096, int(math.isqrt(n))))
    if nprobe is None:
        # The driver fixture's embeddings are near-uniform on the sphere
        # (no cluster structure), where IVF recall ≈ fraction of corpus
        # scanned — probing half the cells buys ~0.85 recall (measured).
        # Real corpora cluster; production tunings use nprobe ≈
        # nlist/16..nlist/4 (the clustered-fixture test runs at 1/4).
        nprobe = max(4, (nlist + 1) // 2)
    nprobe = min(nprobe, nlist)
    sample_size = min(n, nlist * IVF_TRAIN_PER_CELL)
    # deterministic hash-gated sample (NOT ``vec_id % stride`` — an
    # arithmetic stride aliases with vec_id-periodic corpus structure;
    # see the same fix in train_pq)
    stride = max(1, n // sample_size)
    sample = (
        emb.where(F.pmod(F.xxhash64("vec_id"), F.lit(stride)) == 0)
        .orderBy("vec_id")
        .limit(sample_size)
        .collect()
    )
    if len(sample) < min(nlist, n):
        # the hash gate's yield is binomial (~n/stride expected); an
        # unlucky corpus could under-sample below nlist and degenerate
        # k-means — fall back to a stride-free deterministic take
        sample = emb.orderBy("vec_id").limit(sample_size).collect()
    assert len(sample) >= min(nlist, n), (len(sample), nlist, n)
    X = np.array([r["u"] for r in sample], dtype=np.float64)
    rng = np.random.default_rng(seed)  # fixed seed: deterministic build
    centers = X[rng.choice(len(X), size=min(nlist, len(X)), replace=False)]
    for _ in range(IVF_KMEANS_ITERS):
        # cosine assignment (unit vectors): nearest = max dot
        assign = np.argmax(X @ centers.T, axis=1)
        for c in range(len(centers)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    centers[c] = m / norm
    return nlist, nprobe, centers.tolist()


def _train_centroids(
    spark: SparkSession,
    sf_dir: str,
    nlist: int | None = None,
    nprobe: int | None = None,
) -> tuple[int, int, list[list[float]]]:
    return _CENTROIDS.get(
        spark,
        (sf_dir, nlist, nprobe),
        lambda: train_ivf(_unit_emb(spark, sf_dir), nlist, nprobe),
    )


def ivf_assign(
    emb: DataFrame, centroids: list[list[float]], spill: int = 1
) -> DataFrame:
    """Corpus → nearest-centroid cell (the IVF index build): MAP-ONLY
    Arrow-batched argmax-dot against the closure-captured centroid
    matrix (tiny: nlist × dim), one numpy matmul per batch — no join, no
    shuffle.  Ties break toward the lower cell id, matching the probe
    side's (sim DESC, cell ASC) ordering.  The previous formulation
    (broadcast nested-loop join + row_number window partitioned by
    vec_id) shuffled nlist × |corpus| scored rows just to pick a
    per-vector max — a full-data exchange this stage never needed.
    Returns (vec_id, u, cell).

    ``spill > 1``: index each vector into its top-``spill`` cells
    (SPANN-style boundary replication — see ivf_pq_encode_corpus);
    spill=1 reduces to the argmax via the same stable argsort."""
    import numpy as np
    import pandas as pd

    C = [list(map(float, c)) for c in centroids]
    a = min(spill, len(C))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        CT = np.array(C, dtype=np.float64).T  # dim × nlist
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["u"].tolist(), dtype=np.float64)
            sims = X @ CT  # B × nlist
            if a == 1:
                # ties → argmax picks the lowest cell
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "u": pdf["u"],
                        "cell": sims.argmax(1).astype(np.int32),
                    }
                )
            else:
                cells = np.argsort(-sims, axis=1, kind="stable")[:, :a]
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy().repeat(a),
                        "u": [u for u in pdf["u"] for _ in range(a)],
                        "cell": cells.reshape(-1).astype(np.int32),
                    }
                )

    return emb.select("vec_id", "u").mapInPandas(
        assign, schema="vec_id BIGINT, u ARRAY<DOUBLE>, cell INT"
    )


def _bounded_query_rows(queries: DataFrame) -> list:
    """Driver-side collect of a probe-query set, REFUSING an unbounded
    one (r15 VERDICT item 5 generalized in r16): the probe paths ship
    query vectors through literals/closures, which is only valid for a
    bounded probe set.  Deliberately a parallel collect, never a
    ``limit(cap+1)`` pre-fetch (executeTake's sequential partition
    ramping — measured 5.3 vs 4.3 s on sim_ann_ivf_pq at sf0.1);
    ``spark.driver.maxResultSize`` stays the hard backstop."""
    qrows = queries.select("query_id", "qu").collect()
    if len(qrows) > IVF_PQ_MAX_PROBE_QUERIES:
        raise ValueError(
            f"probe set has {len(qrows)} query vectors "
            f"(> {IVF_PQ_MAX_PROBE_QUERIES}); the IVF probe paths ship "
            "query vectors via literals/closures, which is only valid "
            "for a bounded probe set — slice the queries or raise "
            "IVF_PQ_MAX_PROBE_QUERIES deliberately."
        )
    return qrows


def _probe_cell_rows(
    qrows: list, centroids: list[list[float]], nprobe: int
) -> list[tuple]:
    """[(query_id, qu, cell)] — each collected query row's ``nprobe``
    nearest cells, scored through the SAME numpy float64 matmul the
    corpus-side ``ivf_assign`` uses, so build-side and probe-side cell
    arithmetic can never disagree on a near-tie vector.  Ties break
    toward the lower cell id (stable argsort), matching ivf_assign's
    argmax."""
    import numpy as np

    C = [list(map(float, c)) for c in centroids]
    npr = min(nprobe, len(C))
    if not qrows:
        return []
    CT = np.array(C, dtype=np.float64).T  # dim × nlist
    qus = [[float(x) for x in r["qu"]] for r in qrows]
    X = np.array(qus, dtype=np.float64)
    sims = X @ CT  # Q × nlist
    order = np.argsort(-sims, axis=1, kind="stable")[:, :npr]
    return [
        (int(r["query_id"]), qu, int(c))
        for r, qu, row in zip(qrows, qus, order)
        for c in row
    ]


def ivf_probe_cells(
    queries: DataFrame, centroids: list[list[float]], nprobe: int
) -> DataFrame:
    """(query_id, qu, cell) — each query's ``nprobe`` nearest cells as a
    driver-computed LITERAL DataFrame (r16): the probe set is bounded by
    contract (``_bounded_query_rows`` enforces it), so ranking
    ≤ cap × nlist dot products belongs on the driver — the previous
    ``mapInPandas`` form made every consumer's broadcast build
    re-evaluate the queries subtree (usually a corpus scan) plus a
    Python map stage for ≤ 50 rows of work.  Same numpy float64 ops as
    before (see ``_probe_cell_rows``), so cell choices are unchanged;
    output is nprobe rows per query — tiny, callers broadcast it into
    the candidate join."""
    rows = _probe_cell_rows(_bounded_query_rows(queries), centroids, nprobe)
    return queries.sparkSession.createDataFrame(
        rows, schema="query_id bigint, qu array<double>, cell int"
    )


def ivf_candidates(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    spill: int = 1,
) -> DataFrame:
    """(query_id, qu, vec_id, u) candidate pairs: each query scores only
    the corpus vectors assigned to its ``nprobe`` nearest cells —
    candidate fraction ≈ nprobe/nlist on balanced cells (asserted in
    tests).  ``queries`` needs columns (query_id, qu).  ``spill > 1``
    replicates boundary vectors into their top-``spill`` cells
    (ivf_assign), so the same (query, vector) pair can arrive via two
    cells — deduped here by key (one hash aggregate over the candidate
    set, ∝ nprobe/nlist of the corpus, NOT the corpus)."""
    assigned = ivf_assign(emb, centroids, spill)
    probes = ivf_probe_cells(queries, centroids, nprobe)
    # no repartition before the broadcast join: hashing 8 distinct cell
    # ids into 32 partitions would CONCENTRATE the corpus onto ≤ nlist
    # cores; the map-only assignment inherits the balanced input layout
    out = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qu", "vec_id", "u")
    )
    if spill > 1:
        out = out.dropDuplicates(["query_id", "vec_id"])
    return out


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    k: int = TOP_K,
    spill: int = 1,
) -> DataFrame:
    """Approximate cosine top-k over the IVF index: score candidates from
    the probed cells, rank per query."""
    scored = ivf_candidates(emb, queries, centroids, nprobe, spill).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot(F.col("qu"), F.col("u")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# Clustered-fixture IVF gate: the driver's embeddings are near-uniform on
# the sphere (no cluster structure), where probing few cells necessarily costs
# recall.  IVF exists for CLUSTERED corpora, so the gate derives one
# deterministically from the driver table — vector = unit(e_c + EPS·u)
# with c = vec_id mod NLIST pulls every vector toward one of NLIST
# orthogonal axis directions (intra-cluster cosine ≈ 1/(1+EPS²) ≈ 0.92,
# inter-cluster ≈ EPS²·u·u' ≈ 0) — and probes nprobe/nlist = 1/4 of the
# cells: ≥4× candidate pruning at recall ≥ 0.8, both asserted in
# tests/test_operators.py on this exact derivation.
IVF_CLUSTERED_NLIST = 8
IVF_CLUSTERED_NPROBE = 2  # nprobe/nlist = 1/4
IVF_CLUSTERED_EPS = 0.3


def clustered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, u) — deterministic planted-cluster derivation of the
    driver's embeddings (pure column expressions; no randomness)."""
    emb = _unit_emb(spark, sf_dir)
    c = (F.col("vec_id") % IVF_CLUSTERED_NLIST).cast("int")
    pulled = F.transform(
        F.col("u"),
        lambda x, i: x * F.lit(IVF_CLUSTERED_EPS)
        + F.when(i == c, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    return emb.select("vec_id", unit(pulled).alias("u"))


def planted_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The clustered fixture's quantizer in CLOSED FORM: the NLIST axis
    unit vectors e_c the corpus was pulled toward.  For every corpus
    vector v = unit(EPS·u + e_c), dot(v, e_c) ≥ (1-EPS)/√(1+EPS²) ≈ 0.67
    while dot(v, e_j) = EPS·u_j/√(1+EPS²) ≤ EPS for j ≠ c, so nearest-
    centroid assignment is EXACTLY c = vec_id mod NLIST at any corpus
    size.  The r5-sf0.1 full-gate run proved why this matters: kmeans-
    trained centroids (train_ivf) recover the planted clusters at
    sf≤0.01 but can split/merge them at sf0.1, breaking the gate's
    IVF == exact-top-k equality — which must hold by CONSTRUCTION, not
    by training luck.  The trained path stays exercised by sim_ann_ivf
    and the pytest recall/pruning assertions (faiss likewise accepts an
    externally supplied coarse quantizer)."""
    dim = _emb_dim(spark, sf_dir)
    return [
        [1.0 if i == c else 0.0 for i in range(dim)]
        for c in range(IVF_CLUSTERED_NLIST)
    ]


def sim_ann_ivf_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF on the planted-cluster corpus at
    nprobe/nlist = 1/4 — the registry's demonstration that the IVF plan
    prunes ≥4× where its premise (clustered data) holds.  Rows-only
    driver check (approximate); pruning fraction + recall vs brute force
    asserted in tests on the same derivation."""
    corpus = clustered_corpus(spark, sf_dir)
    centroids = planted_centroids(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    return ivf_topk(corpus, queries, centroids, IVF_CLUSTERED_NPROBE)


def sim_ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    nlist: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Top-5 via the full IVF machinery — train (sampled k-means),
    assign (map-only Arrow argmax), probe, candidate join, rank — at
    ``nprobe = nlist`` by default: probing EVERY cell IS exact top-k
    (each corpus vector lands in exactly one cell and every cell is
    scanned, so the candidate set is the whole corpus minus self —
    identical scoring/rounding/tie-breaks to brute force), which makes
    the registered gate form hash-checkable against the exact DuckDB
    oracle.  The driver fixture is near-uniform on the sphere, where any
    nprobe < nlist is honestly approximate — that serving path stays
    exercised by ``sim_ann_ivf_approx`` (pytest recall ≥ 0.8) and by the
    clustered-fixture gate queries, which demonstrate ≥4× pruning where
    IVF's premise (clustered data) holds."""
    nlist, trained_nprobe, centroids = _train_centroids(spark, sf_dir, nlist, nprobe)
    if nprobe is None:
        nprobe = nlist  # exhaustive probe: exact by construction
    emb = _unit_emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    return ivf_topk(emb, queries, centroids, nprobe)


def sim_ann_ivf_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate IVF serving form on the driver fixture: trained
    quantizer, nprobe = nlist/2 (the train_ivf default for uniform data
    — probing half the cells buys ≈ 0.85 recall, measured).  Not in the
    gate registry (approximate ⇒ no hash oracle); its recall-vs-brute-
    force contract is asserted in tests/test_operators.py."""
    nlist, nprobe, centroids = _train_centroids(spark, sf_dir)
    emb = _unit_emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    return ivf_topk(emb, queries, centroids, nprobe)


# Boundary-spill refinement (r10 VERDICT item 7): on near-uniform data
# the recall an nprobe < nlist probe loses is CELL loss — true neighbors
# whose single assigned cell went unprobed — which no amount of
# re-ranking inside the probed cells can recover.  Indexing each corpus
# vector into its top-IVF_SPILL cells (SPANN-style boundary
# replication) attacks exactly that term at UNCHANGED nprobe: a
# neighbor is now missed only if ALL its spill cells go unprobed
# (miss ≈ p^spill for independent cells).  Measured at nprobe = nlist/2
# on the driver fixture (exact-scored candidates): spill 1 → 2 → 3
# gives recall@5 0.892 → 0.968 → 1.0 at sf0.1 (0.848 → 0.96 → 0.988 at
# sf0.01) — three assignments close the boundary on this near-uniform
# corpus, the hard case where every cell border carries mass.  Index
# cost: 3× the 8-byte codes (still ~21× smaller than raw vectors);
# candidates stay ∝ nprobe/nlist.
IVF_SPILL = 3


def sim_ann_ivf_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The uniform serving form with boundary spill: trained quantizer,
    nprobe = nlist/2 (unchanged from ``sim_ann_ivf_approx``), corpus
    indexed into its top-``IVF_SPILL`` cells, exact cosine scoring.
    Candidates stay ∝ nprobe/nlist (the spilled copies add ≈
    nprobe/nlist of the spill mass, deduped by key before scoring).
    Not in the gate registry (approximate ⇒ recall contract in pytest +
    RECALL.json, like sim_ann_ivf_approx)."""
    nlist, nprobe, centroids = _train_centroids(spark, sf_dir)
    emb = _unit_emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    return ivf_topk(emb, queries, centroids, nprobe, spill=IVF_SPILL)


# ------------------------------------------------------------- IVF-PQ

PQ_M = 8  # subquantizers (dim 64 → 8-dim subvectors)
PQ_K = 16  # codes per subquantizer (4-bit) → 8 bytes/vector
PQ_REFINE = 8  # exact re-rank depth = k · PQ_REFINE (shortlist 40 for k=5)
# Hard ceiling on ivf_pq_topk's probe set: the ADC kernel captures the
# query vectors in the task closure (one bounded driver collect instead
# of duplicating a 64-double payload onto every candidate row — r15),
# which is only sound for an eval-sized probe set.  All registered
# callers pass ≤ N_QUERIES (50); the cap leaves generous headroom while
# guaranteeing a future caller can never turn the collect into a
# driver-side materialization of an unbounded DataFrame.
IVF_PQ_MAX_PROBE_QUERIES = 10_000
PQ_TRAIN_SAMPLE = 1000
PQ_KMEANS_ITERS = 10


def train_pq(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    seed: int = 0,
    sample_size: int = PQ_TRAIN_SAMPLE,
) -> list[list[list[float]]]:
    """``codebooks[m][k][dsub]`` — per-subvector k-means on a bounded
    deterministic driver-side sample (the faiss PQ training recipe; the
    sample is O(k·m), independent of corpus size)."""
    import numpy as np

    n = emb.count()
    stride = max(1, n // min(n, sample_size))
    # hash-gated sample, NOT ``vec_id % stride``: arithmetic strides alias
    # with any vec_id-periodic structure in the corpus (at sf0.1 the twin
    # fixture hit exactly this — n=2250 → stride 2 → only even vec_ids →
    # only the even planted clusters trained → odd-cluster vectors
    # quantized to garbage and the ADC shortlist dropped their twins)
    rows = (
        emb.where(F.pmod(F.xxhash64("vec_id"), F.lit(stride)) == 0)
        .orderBy("vec_id")
        .limit(sample_size)
        .collect()
    )
    if len(rows) < min(k, n):
        # under-sampled below the per-subspace codebook size (see the
        # same guard in train_ivf): stride-free deterministic take
        rows = emb.orderBy("vec_id").limit(sample_size).collect()
    assert len(rows) >= min(k, n), (len(rows), k, n)
    X = np.array([r["u"] for r in rows], dtype=np.float64)
    dsub = X.shape[1] // m
    rng = np.random.default_rng(seed)
    books = []
    for mi in range(m):
        S = X[:, mi * dsub : (mi + 1) * dsub]
        C = S[rng.choice(len(S), size=min(k, len(S)), replace=False)].copy()
        for _ in range(PQ_KMEANS_ITERS):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            for c in range(len(C)):
                members = S[a == c]
                if len(members):
                    C[c] = members.mean(0)
        books.append(C.tolist())
    return books


def pq_encode(emb: DataFrame, codebooks: list) -> DataFrame:
    """(vec_id, code ARRAY<INT>) — Arrow-batched nearest-code assignment
    per subvector; the encoded corpus is what a 100 TB index stores
    (8 bytes/vector here vs 512 for the raw float64 array)."""
    import numpy as np
    import pandas as pd

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = [np.array(b) for b in codebooks]
        m = len(B)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["u"].tolist(), dtype=np.float64)
            dsub = X.shape[1] // m
            codes = np.empty((len(X), m), dtype=np.int32)
            for mi in range(m):
                S = X[:, mi * dsub : (mi + 1) * dsub]
                d2 = ((S[:, None, :] - B[mi][None, :, :]) ** 2).sum(-1)
                codes[:, mi] = d2.argmin(1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "code": list(codes.tolist())}
            )

    return emb.select("vec_id", "u").mapInPandas(
        enc, schema="vec_id BIGINT, code ARRAY<INT>"
    )


def ivf_pq_encode_corpus(
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list,
    spill: int = 1,
) -> DataFrame:
    """(vec_id, cell, code) — the IVF-PQ INDEX: cell assignment and PQ
    encoding FUSED into one map-only Arrow pass over the corpus (no
    join, no shuffle; an earlier two-pass formulation joined two
    full-corpus map outputs on vec_id for no consumer that needed it).
    This table is what a 100 TB deployment STORES (8-byte codes, 64×
    smaller than the raw vectors): ``ivf_pq_build`` writes it once,
    serving reads it — faiss's write_index/read_index split.

    ``spill > 1`` indexes each vector into its top-``spill`` cells
    (SPANN-style boundary replication): a query probing ``nprobe``
    cells then also finds neighbors that sit just across a cell
    boundary — the recall lever that does NOT touch nprobe — at the
    cost of a ``spill``× larger codes table (codes are 8 bytes/vector,
    so 2× of 1/64th of the raw corpus).  Still map-only; ties and the
    spill=1 case reduce to the old argmax via stable argsort."""
    import numpy as np
    import pandas as pd

    def _assign_encode(batches: "Iterator[pd.DataFrame]"):
        B = [np.array(b) for b in codebooks]
        m = len(B)
        CT = np.array(centroids, dtype=np.float64).T  # dim × nlist
        a = min(spill, CT.shape[1])
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["u"].tolist(), dtype=np.float64)
            sims = X @ CT  # B × nlist
            # top-a by (sim DESC, cell ASC) — same tie convention as
            # ivf_assign/ivf_probe_cells; a=1 keeps the argmax of the
            # pre-spill implementation (identical result — stable
            # argsort top-1 — but also byte-identical gate-path code)
            if a == 1:
                cells = sims.argmax(1).reshape(-1, 1)
            else:
                cells = np.argsort(-sims, axis=1, kind="stable")[:, :a]
            dsub = X.shape[1] // m
            codes_np = np.empty((len(X), m), dtype=np.int32)
            for mi in range(m):
                S = X[:, mi * dsub : (mi + 1) * dsub]
                d2 = ((S[:, None, :] - B[mi][None, :, :]) ** 2).sum(-1)
                codes_np[:, mi] = d2.argmin(1)
            codes_list = codes_np.tolist()
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(a),
                    "cell": cells.reshape(-1).astype(np.int32),
                    "code": [c for c in codes_list for _ in range(a)]
                    if a > 1
                    else codes_list,
                }
            )

    return emb.select("vec_id", "u").mapInPandas(
        _assign_encode, schema="vec_id BIGINT, cell INT, code ARRAY<INT>"
    )


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    codebooks: list,
    k: int = TOP_K,
    refine: int = PQ_REFINE,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with asymmetric-distance scoring + exact re-rank (the
    standard faiss serving path): candidates come from the ``nprobe``
    probed cells as PQ CODES only — the scoring join never moves the raw
    vectors, which is the memory/shuffle story at 100 TB — each query
    group builds its m×k dot-product lookup table once and scores every
    candidate with m table adds, then the top k·refine shortlist joins
    back to the raw vectors for an exact cosine re-rank.

    ``codes``: a pre-built (vec_id, cell, code) index table (the
    build/serve split — pass the parquet written by ``ivf_pq_build``);
    defaults to encoding ``emb`` inline (build-and-query in one job)."""
    import numpy as np
    import pandas as pd

    cand = (
        codes
        if codes is not None
        else ivf_pq_encode_corpus(emb, centroids, codebooks)
    )
    # the closure-captured query vectors are a DRIVER-side collect: it
    # is only sound because the probe set is bounded — every registered
    # caller passes ≤ N_QUERIES probe vectors, and _bounded_query_rows
    # refuses a contract-breaking caller (r15 VERDICT item 5).
    qrows = _bounded_query_rows(queries)
    qvecs = {r["query_id"]: [float(x) for x in r["qu"]] for r in qrows}
    # probe-side cell scoring on the ALREADY-collected query rows,
    # through the same numpy float64 ops as ivf_assign (mixed arithmetic
    # could flip near-ties).  r16: the previous broadcast of the
    # mapInPandas probe-cell table re-evaluated the whole queries
    # subtree (a corpus scan) plus a Python map stage per build; the
    # (query_id, cell) pairs are now a literal (≤ queries × nprobe
    # rows).  Verified output-identical vs the DuckDB oracles at
    # sf0.001/0.01/0.1 for the registered callers.
    probes = queries.sparkSession.createDataFrame(
        [
            (qid, cell)
            for qid, _, cell in _probe_cell_rows(qrows, centroids, nprobe)
        ],
        schema="query_id bigint, cell int",
    )
    # the candidate rows carry ONLY (query_id, vec_id, code): the query
    # vector is per-QUERY state and the ADC group ships ∝ CANDIDATES
    # rows, so attaching qu as a column duplicated a 64-double payload
    # onto every candidate crossing the Python boundary (r15 — guide
    # §2.3/§4.1: shuffle keys and codes, move per-query payloads once).
    cands = cand.join(F.broadcast(probes), "cell").select(
        "query_id", "vec_id", "code"
    )
    top_n = k * refine

    def adc(pdf: pd.DataFrame) -> pd.DataFrame:
        B = [np.array(b) for b in codebooks]
        m = len(B)
        # a spill-indexed corpus (ivf_pq_encode_corpus spill>1) can hand
        # the same vector in via two probed cells; its PQ code is
        # cell-independent, so dedupe by vec_id before scoring (in-batch
        # pandas — no extra shuffle)
        pdf = pdf.drop_duplicates(subset=["vec_id"])
        q = np.array(qvecs[pdf["query_id"].iloc[0]], dtype=np.float64)
        dsub = len(q) // m
        # LUT[mi][code] = q_mi · c_mi,code (unit vectors ⇒ cosine adds)
        lut = np.stack([B[mi] @ q[mi * dsub : (mi + 1) * dsub] for mi in range(m)])
        codes_np = np.array(pdf["code"].tolist(), dtype=np.int64)
        approx = lut[np.arange(m)[None, :], codes_np].sum(1)
        # deterministic shortlist: by (-approx, vec_id)
        order = np.lexsort((pdf["vec_id"].to_numpy(), -approx))[:top_n]
        return pdf.iloc[order][["query_id", "vec_id"]]

    short = cands.groupBy("query_id").applyInPandas(
        adc, schema="query_id BIGINT, vec_id BIGINT"
    )
    ua = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("u").alias("nu"))
    qs = queries.select("query_id", "qu")
    rer = (
        short.withColumnRenamed("vec_id", "neighbor_id")
        .join(ua, "neighbor_id")
        .join(F.broadcast(qs), "query_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("qu"), F.col("nu")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


_PQ_BOOKS = SessionMemo()


# PQ gate fixture: the clustered corpus's intra-cluster cosines pack
# within ~1e-3 of each other, finer than 8×16-code ADC can rank, so a
# 40-deep shortlist can drop true top-5 members (measured: ~13/250 rows
# at sf0.01) — top-5 there is honestly approximate.  The gate query
# instead plants, per query, PQT_N_TWINS near-twins at DISTINCT cosines
# ≈ 0.993–0.997 (one-coordinate bump eps = PQT_EPS + j·PQT_EPS_STEP,
# re-normalized) against the ≤ ~0.96 intra-cluster background.  A twin
# quantizes to (nearly) the query's own PQ code, so its ADC score sits
# at the top with a margin ≫ quantization noise: the 40-deep shortlist
# provably retains all 5 twins while still pruning ~90 % of the probed
# cells' candidates, and the exact re-rank makes the output EQUAL to
# exact top-5 — hash-checkable against the DuckDB oracle that derives
# the identical corpus (pure column expressions, no randomness).
PQT_N_TWINS = TOP_K
PQT_ID_BASE = 2_000_000
PQT_EPS = 0.08
PQT_EPS_STEP = 0.01


def pq_twin_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clustered_corpus ∪ per-query planted twins (see PQT_* above) —
    the fixture on which IVF-PQ top-5 is exact by construction."""
    corpus = clustered_corpus(spark, sf_dir)
    qs = corpus.where(F.col("vec_id") < N_QUERIES).select(
        "vec_id", "u", F.explode(F.array([F.lit(i) for i in range(PQT_N_TWINS)])).alias("j")
    )
    k = ((F.col("vec_id") * PQT_N_TWINS + F.col("j")) % F.size("u")).cast("int")
    eps = F.lit(PQT_EPS) + F.col("j").cast("double") * F.lit(PQT_EPS_STEP)
    perturbed = F.transform(
        F.col("u"), lambda x, i: x + F.when(i == k, eps).otherwise(F.lit(0.0))
    )
    # two-step select ON PURPOSE: aliasing the twin id as "vec_id" in the
    # same select would make Spark's lateral-column-alias resolution bind
    # the vec_id reference inside ``perturbed`` to the NEW twin id (bump
    # lands at (twin_id·5+j) % dim — caught by the DuckDB oracle), so the
    # perturbation is applied while vec_id still names the query vector
    twins = qs.select("vec_id", "j", unit(perturbed).alias("u")).select(
        (F.col("vec_id") * PQT_N_TWINS + F.col("j") + PQT_ID_BASE).alias("vec_id"),
        "u",
    )
    return corpus.unionByName(twins)


def _twin_pq_books(spark: SparkSession, sf_dir: str) -> list:
    """Session-memoized PQ codebooks for the planted-twin corpus (the
    bounded driver-side k-means sample; shared by the inline query and
    the index build)."""
    return _PQ_BOOKS.get(
        spark,
        (sf_dir, "clustered-twin-pq", PQ_M, PQ_K),
        lambda: train_pq(pq_twin_corpus(spark, sf_dir)),
    )


def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 via IVF-PQ on the planted-twin clustered corpus:
    nprobe/nlist = 1/4 cell pruning AND 64× vector compression (8-byte
    codes in the scoring join), ADC shortlist 8× shallower than the
    candidate set, exact re-rank.  On this fixture the output EQUALS
    exact top-5 (each query's 5 twins separate from the background by
    ≈ 0.04 cosine — far above ADC noise; asserted in tests), so the
    driver hash-checks it against the DuckDB exact-top-5 oracle."""
    corpus = pq_twin_corpus(spark, sf_dir)
    centroids = planted_centroids(spark, sf_dir)
    books = _twin_pq_books(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    return ivf_pq_topk(corpus, queries, centroids, IVF_CLUSTERED_NPROBE, books)


# ------------------------------------------------- IVF-PQ build/serve

def ivf_pq_build(
    spark: SparkSession,
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list,
    index_dir: str,
    spill: int = 1,
) -> str:
    """Persist the IVF-PQ index (faiss ``write_index`` analogue): the
    encoded corpus as parquet — (vec_id, cell, code), written
    partitioned-by-cell so a serving probe scans only its nprobe cell
    directories (partition pruning = the inverted-list seek) — plus the
    quantizer (centroids + codebooks + params) as JSON.  At 100 TB the
    codes table + quantizer ARE the stored index: built once by this
    one map-only job, served many times; re-encoding the corpus per
    query (what the inline form does) is the cost this split removes.

    ``spill > 1`` persists the boundary-spill index (each vector coded
    into its top-``spill`` cells — the r11 cell-loss fix, making the
    refined uniform serving path servable from a persisted index); the
    value is recorded in the quantizer so ``ivf_pq_append`` encodes
    every later batch identically."""
    import json as _json
    import os as _os
    import shutil as _shutil

    codes_dir = _os.path.join(index_dir, "codes")
    # a REBUILD invalidates every prior append: clear the batch markers,
    # else a restarted stream whose fresh checkpoint reuses batch ids
    # 0..k would see stale markers and silently skip real appends
    # (review finding, r12)
    _shutil.rmtree(_os.path.join(index_dir, "append-markers"), ignore_errors=True)
    ivf_pq_encode_corpus(emb, centroids, codebooks, spill=spill).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(codes_dir)
    quant = {
        "version": 1,
        "metric": "cosine-unit",
        "nlist": len(centroids),
        "m": len(codebooks),
        "k": len(codebooks[0]),
        "spill": spill,
        "centroids": centroids,
        "codebooks": codebooks,
    }
    tmp = _os.path.join(index_dir, ".quantizer.tmp")
    with open(tmp, "w") as f:
        _json.dump(quant, f)
    _os.replace(tmp, _os.path.join(index_dir, "quantizer.json"))
    return index_dir


def ivf_pq_append(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    batch_id: int | None = None,
) -> str:
    """Incremental ingest into a persisted IVF-PQ index (faiss ``add``
    on a trained index): encode the NEW batch with the index's frozen
    quantizer (centroids + codebooks from ``quantizer.json``) and append
    its (vec_id, cell, code) rows to the cell-partitioned codes parquet.

    The quantizer is deliberately NOT retrained — that is the faiss
    contract (train once on a representative sample, add forever), and
    it is what makes ingest map-only: assignment + PQ encoding is one
    Arrow pass over the new batch, the append touches only the cell
    partitions the batch lands in, and serving reads stay partition-
    pruned.  A streaming deployment runs exactly this function inside
    ``foreachBatch`` — each micro-batch of new embeddings becomes one
    appended ingest, visible to the next serving scan; callers own
    vec_id uniqueness across batches (the stream's offset is the natural
    id, as in streaming/sink.py).

    Retried micro-batches (r12): pass Spark's ``batch_id`` and a replay
    becomes a no-op — a marker file per batch id is written AFTER the
    append commits, so a batch whose checkpoint commit was lost is
    re-applied at most once.  The one remaining crash window (append
    committed, marker lost) duplicates that batch's code rows, which is
    a storage-bloat concern only, never a correctness one: the ADC
    scorer dedups candidates by vec_id in-batch (the same dedup the
    spill index needs — ``ivf_pq_topk``), and the exact re-rank scores
    each neighbor id once.  The parquet job commit itself is
    all-or-nothing to readers (task files live under ``_temporary``
    until job commit), so a torn append leaves no visible partials.

    Durability scope (r13): the marker tmp file is fsynced before the
    rename and the markers directory after it (mirroring
    ``KVStore._write_file``), so the marker can never reach disk as an
    empty/torn file.  The no-SKIP guarantee (marker present ⇒ append
    visible) is exact for process crashes; under power loss it
    additionally relies on the parquet data files being durable, which
    Spark's local committer does not fsync — so the power-loss scope is
    "at most one duplicated batch OR one skipped batch per crash",
    while process-crash replay remains exactly-once-or-duplicated,
    never skipped."""
    import json as _json
    import os as _os

    marker = (
        _os.path.join(index_dir, "append-markers", f"{batch_id}.json")
        if batch_id is not None
        else None
    )
    if marker is not None and _os.path.exists(marker):
        return index_dir  # replayed micro-batch — already applied
    quant = ivf_pq_quantizer(index_dir)
    ivf_pq_encode_corpus(
        emb,
        quant["centroids"],
        quant["codebooks"],
        spill=quant.get("spill", 1),
    ).write.mode("append").partitionBy("cell").parquet(
        _os.path.join(index_dir, "codes")
    )
    if marker is not None:
        _os.makedirs(_os.path.dirname(marker), exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({"batch_id": batch_id, "state": "committed"}, f)
            f.flush()
            _os.fsync(f.fileno())
        _os.replace(tmp, marker)
        # the tmp fsync above guarantees a marker is never READ torn or
        # empty after a crash (a half-written marker would fail the
        # restart's json load); the directory fsync makes the rename
        # itself durable, mirroring KVStore._write_file.  Neither can
        # order the marker AFTER parquet data Spark never fsyncs — the
        # power-loss scope stays exactly as the docstring states (a
        # durable marker with lost data is a skipped batch; a lost
        # marker with durable data is a duplicate the scorer tolerates)
        dfd = _os.open(_os.path.dirname(marker), _os.O_RDONLY)
        try:
            _os.fsync(dfd)
        finally:
            _os.close(dfd)
    return index_dir


def ivf_pq_quantizer(index_dir: str) -> dict:
    """The persisted quantizer record (centroids, codebooks, nlist/m/k
    params, spill) — the frozen state every append/serve must share."""
    import json as _json
    import os as _os

    with open(_os.path.join(index_dir, "quantizer.json")) as f:
        return _json.load(f)


def ivf_pq_load(index_dir: str) -> tuple[list, list]:
    """(centroids, codebooks) from a persisted index (``read_index``)."""
    quant = ivf_pq_quantizer(index_dir)
    return quant["centroids"], quant["codebooks"]


_PQ_INDEX = SessionMemo(remove_dir)


def _twin_pq_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once/serve-many: the planted-twin corpus's persisted index,
    built on first use per (session, sf_dir); rebuilt if its directory
    vanished."""
    import os as _os
    import tempfile as _tempfile

    def build() -> str:
        d = _tempfile.mkdtemp(prefix="esspark-ivfpq-")
        ivf_pq_build(
            spark,
            pq_twin_corpus(spark, sf_dir),
            planted_centroids(spark, sf_dir),
            _twin_pq_books(spark, sf_dir),
            d,
        )
        return d

    return _PQ_INDEX.get(
        spark,
        (sf_dir,),
        build,
        valid=lambda d: _os.path.exists(_os.path.join(d, "quantizer.json")),
    )


def sim_ann_ivf_pq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING form of ``sim_ann_ivf_pq``: reads the persisted index
    (codes parquet partitioned by cell + quantizer JSON; built once per
    session by ``ivf_pq_build``) instead of re-training/re-encoding the
    corpus per invocation — the build/serve split every production ANN
    deployment runs (faiss write_index/read_index).  The probed cells
    prune at the parquet partition level; ADC scoring, shortlist and
    exact re-rank are identical to the inline form, so the output equals
    exact top-5 on this fixture and shares its DuckDB oracle."""
    idx = _twin_pq_index_dir(spark, sf_dir)
    import os as _os

    centroids, books = ivf_pq_load(idx)
    codes = spark.read.parquet(_os.path.join(idx, "codes")).select(
        "vec_id", F.col("cell").cast("int").alias("cell"), "code"
    )
    corpus = pq_twin_corpus(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    return ivf_pq_topk(
        corpus, queries, centroids, IVF_CLUSTERED_NPROBE, books, codes=codes
    )


# The refined uniform serving path quantizes at faiss's DEFAULT
# granularity — 8 bits (256 codes) per subquantizer, still 8
# bytes/vector — where the twin-fixture gates keep the coarser 4-bit
# books (their margins don't need more).  Near-uniform 64-d data is
# PQ's worst case: true-neighbor cosines (~0.45) sit ~0.07 above
# background, comparable to 4-bit ADC noise, so the serving shortlist
# must go deeper than the twin fixture's 8× — measured at sf0.1,
# k·64 = 320 exact re-ranks per query (a constant: corpus-size-
# independent, ~7× below the candidate count there, and squarely in
# faiss's customary 100-1000 re-rank band) lifts recall@5 to 0.992.
PQ_K_REFINED = 256
PQ_REFINE_SERVE = 64


def _uniform_pq_books(spark: SparkSession, sf_dir: str) -> list:
    """Session-memoized PQ codebooks trained on the RAW driver fixture
    (the uniform corpus — vs ``_twin_pq_books``' planted-twin corpus),
    at the 8-bit serving granularity (PQ_K_REFINED)."""
    return _PQ_BOOKS.get(
        spark,
        (sf_dir, "uniform-pq", PQ_M, PQ_K_REFINED),
        lambda: train_pq(_unit_emb(spark, sf_dir), k=PQ_K_REFINED),
    )


def sim_ann_ivf_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REFINED uniform IVF-PQ serving path (r10 VERDICT item 7):
    trained coarse quantizer at nprobe = nlist/2 (unchanged from
    ``sim_ann_ivf_approx``), boundary-spill codes index
    (``IVF_SPILL = 3`` — the cell-loss fix), 8-bit PQ codebooks
    (``PQ_K_REFINED``), ADC shortlist of k · PQ_REFINE_SERVE
    candidates, exact cosine re-rank of the shortlist (the
    PQ-quantization-noise fix).  Together the refinements take
    uniform-fixture recall@5 from 0.892 (plain IVF, same nprobe) to
    0.992 at sf0.1 / 0.988 at sf0.01 measured (RECALL.json), while the
    scoring join still moves 8-byte codes ∝ nprobe/nlist of the corpus
    and the re-rank join moves O(k · refine) raw vectors per query —
    corpus-size-independent.  Not in the gate registry (approximate ⇒
    recall contract in pytest + RECALL.json, not a hash oracle — the
    sim_ann_ivf_approx precedent)."""
    nlist, nprobe, centroids = _train_centroids(spark, sf_dir)
    emb = _unit_emb(spark, sf_dir)
    books = _uniform_pq_books(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    codes = ivf_pq_encode_corpus(emb, centroids, books, spill=IVF_SPILL)
    return ivf_pq_topk(
        emb,
        queries,
        centroids,
        nprobe,
        books,
        refine=PQ_REFINE_SERVE,
        codes=codes,
    )


# Post-append replay fixture for the REFINED uniform serving paths
# (r12; r11 VERDICT item 4): RECALL.json previously pinned post-append
# recall only for the pre-refinement twin-fixture IVF-PQ path.  These
# twins are appended AFTER a uniform-corpus index/quantizer is frozen;
# at cosine ≈ 0.99 against the ~0.45 uniform background they displace
# UA_TWINS of each query's exact top-5, so a serving path that fails to
# see (stale codes) or place (frozen quantizer can't assign) appended
# vectors loses that fraction of recall outright.
UA_TWINS = 2
UA_ID_BASE = 4_000_000
UA_EPS = 0.1
UA_EPS_STEP = 0.02


def append_twin_batch(
    corpus: DataFrame,
    twins: int,
    id_base: int,
    eps0: float,
    eps_step: float,
) -> DataFrame:
    """Per-query near-twin batch over any (vec_id, u) corpus: for each
    query vector (``vec_id < N_QUERIES``) emit ``twins`` copies with one
    coordinate bumped by ``eps0 + j·eps_step`` and re-normalized, ids
    offset above ``id_base``.  One builder for every post-append replay
    fixture (the uniform and clustered-twin probes previously carried
    near-identical inline copies — review finding, r12)."""
    aq = corpus.where(F.col("vec_id") < N_QUERIES).select(
        "vec_id",
        "u",
        F.explode(F.array([F.lit(i) for i in range(twins)])).alias("j"),
    )
    kcol = ((F.col("vec_id") * twins + F.col("j")) % F.size("u")).cast("int")
    eps = F.lit(eps0) + F.col("j").cast("double") * F.lit(eps_step)
    bumped = F.transform(
        F.col("u"), lambda x, i: x + F.when(i == kcol, eps).otherwise(F.lit(0.0))
    )
    # two-step select: same lateral-alias trap as pq_twin_corpus
    return aq.select("vec_id", "j", unit(bumped).alias("u")).select(
        (F.col("vec_id") * twins + F.col("j") + id_base).alias("vec_id"),
        "u",
    )


def uniform_append_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query near-twins of the uniform fixture's query vectors
    (one-coordinate bump ``UA_EPS + j·UA_EPS_STEP``, re-normalized),
    ids above ``UA_ID_BASE`` — the batch ``ivf_pq_append`` ingests in
    the post-append recall replay (tools/recall_probe.py,
    tests/test_operators.py::test_refined_post_append_recall)."""
    return append_twin_batch(
        _unit_emb(spark, sf_dir), UA_TWINS, UA_ID_BASE, UA_EPS, UA_EPS_STEP
    )


# ---------------------------------------------------------- SemDeDup

# Semantic-dedup threshold on the planted-twin clustered corpus: measured
# margins at both gate scales (tools fixture probe, r6) — background
# within-cell pair cosine tops out at 0.961 while every planted-group
# pair (query↔twin and twin↔twin) sits at ≥ 0.9867 — so 0.975 splits
# them with ≈ 0.012 margin on each side, 4 orders of magnitude above the
# 1e-6 rounding granularity.  The kept set is therefore exact by
# construction: each query keeps itself (min id of its group) and drops
# its 5 twins; no background vector is touched.
SEMDEDUP_T = 0.975


def semantic_dedup_keep(
    corpus: DataFrame, centroids: list[list[float]], threshold: float
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the corpus
    with the IVF coarse quantizer, then drop within-cluster semantic
    near-duplicates — keep a vector only if NO lower-id vector in its
    cell has cosine ≥ threshold (the greedy min-id keep rule curation
    pipelines use).  Returns (vec_id, cell, keep) for every vector.

    Plan: map-only cell assignment (``ivf_assign``) → one shuffle on the
    cell key → per-cell Arrow batch, where the pairwise cosines are ONE
    numpy matmul (vectors are unit) and the keep mask is a lower-triangle
    any().  Pairwise work is Σ n_c² over CELLS, never corpus² — the whole
    point of clustering first; at 100 TB nlist ∝ √n keeps cells bounded
    (and an oversized cell would be sub-split by the quantizer refit,
    the standard SemDeDup recipe), so per-task memory is O(cell²) with
    cells in the thousands."""
    import numpy as np
    import pandas as pd

    assigned = ivf_assign(corpus, centroids)

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        U = np.array(pdf["u"].tolist(), dtype=np.float64)
        S = np.round(U @ U.T, 6)
        dup = np.tril(S >= threshold, k=-1).any(axis=1)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "cell": pdf["cell"], "keep": ~dup}
        )

    return assigned.groupBy("cell").applyInPandas(
        dedup_cell, schema="vec_id BIGINT, cell INT, keep BOOLEAN"
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered SemDeDup gate query: IVF-cell clustering + within-cell
    semantic near-dup pruning at cosine ≥ 0.975 on the planted-twin
    clustered corpus (see SEMDEDUP_T for the margin argument).  Each
    query vector keeps itself and sheds its 5 planted twins; the DuckDB
    oracle derives the identical corpus in SQL, takes the closed-form
    cell (= base vec_id mod nlist — proven exact for this fixture,
    see planted_centroids), and applies the same keep rule via a
    within-cell EXISTS."""
    corpus = pq_twin_corpus(spark, sf_dir)
    centroids = planted_centroids(spark, sf_dir)
    return semantic_dedup_keep(corpus, centroids, SEMDEDUP_T).orderBy("vec_id")


# --------------------------------------------------------------- LSH

def lsh_buckets(
    emb: DataFrame,
    dim: int,
    k_bits: int = LSH_BITS,
    n_tables: int = LSH_TABLES,
    seed: int = LSH_SEED,
) -> DataFrame:
    """(vec_id, table, bucket) random-hyperplane signatures.  One numpy
    matmul per Arrow batch computes all ``n_tables × k_bits`` bits; each
    table's bits pack into a long bucket id.  Hyperplanes are seeded —
    every executor regenerates the identical planes (tiny: dim×bits)."""
    import numpy as np
    import pandas as pd

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((dim, n_tables * k_bits))
        weights = (1 << np.arange(k_bits, dtype=np.int64))
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["u"].tolist(), dtype=np.float64)
            bits = (X @ planes) > 0  # B × (tables*bits)
            bits = bits.reshape(len(pdf), n_tables, k_bits)
            buckets = (bits * weights).sum(axis=2)  # B × tables
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(n_tables),
                    "table": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "bucket": buckets.reshape(-1),
                }
            )
            yield out

    return emb.select("vec_id", "u").mapInPandas(
        signatures, schema="vec_id BIGINT, table INT, bucket BIGINT"
    )


def ann_lsh_candidates(
    emb: DataFrame,
    dim: int,
    k_bits: int = LSH_BITS,
    n_tables: int = LSH_TABLES,
    seed: int = LSH_SEED,
) -> DataFrame:
    """Distinct candidate pairs (vec_a < vec_b) sharing an LSH bucket in
    any table — the pruned pair space for tight-threshold embedding
    dedup.  The bucket self-join is an equi-join on (table, bucket):
    Catalyst shuffles both sides on the key, candidates ∝ collisions."""
    # materialized: both sides of the bucket self-join read the signature
    # table, and its lineage is the Arrow mapInPandas matmul — compute the
    # Python stage once, join the cached result
    sigs = materialize(lsh_buckets(emb, dim, k_bits, n_tables, seed))
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )


def lsh_verified_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float,
    k_bits: int = LSH_BITS,
    n_tables: int = LSH_TABLES,
    seed: int = LSH_SEED,
) -> DataFrame:
    """LSH candidates → exact-cosine verification ≥ threshold.  Work ∝
    candidates: each side of the candidate pair joins back to its unit
    vector, one dot per pair."""
    cand = ann_lsh_candidates(emb, dim, k_bits, n_tables, seed)
    ua = emb.select(F.col("vec_id").alias("vec_a"), F.col("u").alias("ua"))
    ub = emb.select(F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"))
    return (
        cand.join(ua, "vec_a")
        .join(ub, "vec_b")
        .select(
            "vec_a", "vec_b", F.round(dot(F.col("ua"), F.col("ub")), 6).alias("cosine")
        )
        .where(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def planted_twin_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ deterministic planted twins (see TWIN_* constants) —
    the tight-threshold near-dup fixture the LSH dedup contract holds on.
    Pure column expressions (transform/when), so the DuckDB oracle derives
    the identical corpus."""
    emb = _unit_emb(spark, sf_dir)
    k = (F.col("vec_id") % F.size("u")).cast("int")
    perturbed = F.transform(
        F.col("u"),
        lambda x, i: x + F.when(i == k, F.lit(TWIN_EPS)).otherwise(F.lit(0.0)),
    )
    twins = emb.where(F.col("vec_id") < TWIN_N).select(
        (F.col("vec_id") + TWIN_ID_BASE).alias("vec_id"),
        unit(perturbed).alias("u"),
    )
    return emb.unionByName(twins)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ 0.85 via hyperplane-LSH
    bucketing + exact verify — the 100 TB embedding-dedup path, exercised
    at a threshold where the LSH contract holds (planted twins at ≈ 0.97;
    recall argument at TWIN_* above).  The plan is the bucket equi-join —
    candidates ∝ collisions — with NO all-pairs join anywhere; contrast
    ``dedup_embedding`` (exact, fixture-honest at its loose 0.45
    threshold, quadratic)."""
    corpus = planted_twin_corpus(spark, sf_dir)
    dim = _emb_dim(spark, sf_dir)
    return lsh_verified_pairs(
        corpus, dim, LSH_DEDUP_THRESHOLD, n_tables=LSH_DEDUP_TABLES
    )


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    row = load_table(spark, sf_dir, "embeddings").select(
        F.size("embedding").alias("d")
    ).first()
    return int(row["d"])


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics: member count and mean cosine of
    members to their label centroid — the cluster-cohesion profile an
    embedding-curation pipeline computes before IVF training.

    Formulated in LONG form (posexplode to (vec_id, label, pos, val))
    on purpose: element-wise centroid means become a plain
    ``groupBy(label, pos).avg`` — partial-aggregable, no array state in
    the aggregation, and the same shape DuckDB can express with a
    lateral ``generate_series`` — so the op is oracle-checkable AND the
    100 TB plan is two shuffles (label·dim keys, then label).  Dots and
    norms come from the same long table; no vector is ever collected.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).withColumnRenamed("pos", "pos").withColumnRenamed("col", "val")
    cent = emb.groupBy("label", "pos").agg(F.avg("val").alias("cval"))
    joined = emb.join(cent, ["label", "pos"])
    per_vec = joined.groupBy("vec_id", "label").agg(
        F.sum(F.col("val") * F.col("cval")).alias("dot"),
        F.sum(F.col("val") * F.col("val")).alias("n2v"),
    )
    cnorm = cent.groupBy("label").agg(F.sum(F.col("cval") * F.col("cval")).alias("n2c"))
    cos = F.col("dot") / F.sqrt(F.col("n2v") * F.col("n2c"))
    return (
        per_vec.join(cnorm, "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg(cos), 4).alias("avg_cos_to_centroid"),
            F.round(F.min(cos), 4).alias("min_cos_to_centroid"),
        )
        .orderBy("label")
    )


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding coordinate covariance in long form (i ≤ j, d(d+1)/2
    rows) — the whitening / PCA-prep statistic an embedding pipeline
    computes before training an (O)PQ quantizer: cov(i,j) =
    E[x_i·x_j] − E[x_i]·E[x_j].

    Plan: each row expands to its upper-triangle coordinate products via
    a nested higher-order transform (pure projection — deliberately NOT
    a self-join of the long (vec_id, i, x) table, which would shuffle
    n·d rows twice), then ONE map-side-combinable groupBy on the (i, j)
    key; the d first moments aggregate separately and broadcast into the
    2080-row result.  Reducer state is O(d²) partials regardless of n —
    the textbook one-pass distributed covariance, linear at 100 TB.
    The DuckDB oracle uses the equivalent long-form self-join (oracle
    clarity over oracle scalability)."""
    emb = load_table_balanced(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("e")
    )
    pairs = emb.select(
        F.explode(
            F.expr(
                "flatten(transform(e, (xi, i) ->"
                " transform(slice(e, i + 1, size(e) - i), (xj, j0) ->"
                " struct(i AS i, i + j0 AS j, xi * xj AS p))))"
            )
        ).alias("pp")
    ).select(
        F.col("pp.i").alias("i"), F.col("pp.j").alias("j"), F.col("pp.p").alias("p")
    )
    second = pairs.groupBy("i", "j").agg(F.avg("p").alias("exixj"))
    m = (
        emb.select(F.posexplode("e"))
        .withColumnRenamed("pos", "i")
        .withColumnRenamed("col", "x")
        .groupBy("i")
        .agg(F.avg("x").alias("mu"))
    )
    mi = m.select("i", F.col("mu").alias("mu_i"))
    mj = m.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))
    return (
        second.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            # + 0.0 normalizes IEEE negative zero: a cov in (-5e-7, 0)
            # rounds to -0.0 in DuckDB (C round keeps the sign) but +0.0
            # in Spark (BigDecimal rounding drops it) — canonical-string
            # comparison would flag the equal value
            (
                F.round(F.col("exixj") - F.col("mu_i") * F.col("mu_j"), 6)
                + F.lit(0.0)
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


INT8_MAX = 127  # symmetric int8 quantization range


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit — the storage-compression step an
    embedding pipeline applies before shipping vectors to a serving
    index (4× smaller than float32; the faiss ``SQ8`` scheme): each
    vector gets a symmetric per-vector scale ``max|x| / 127``, every
    coordinate rounds to the nearest of 255 levels, and the operator
    reports per-label reconstruction quality (mean relative L2 error,
    worst absolute L2 error, mean scale).

    Plan: quantize + dequantize + error are ONE map-only pass of array
    expressions (``aggregate``/``transform`` fold entirely inside
    whole-stage codegen — no Python, no explode, no shuffle), then a
    map-side-combinable groupBy on label.  At 100 TB the production form
    writes the int8 codes alongside this audit in the same single scan;
    nothing here grows with corpus size except the linear scan itself.

    Portability: rounding is ``floor(v + 0.5)`` in BOTH engines (no
    engine-specific HALF_UP question); per-vector folds are sequential
    left-to-right in both (Spark ``aggregate``, DuckDB ``list_sum`` over
    the list order), so per-vector errors are bit-identical and the
    cross-engine max() agrees exactly; 6-decimal rounding absorbs the
    label-level avg() summation-order noise."""
    emb = load_table_balanced(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    scaled = emb.withColumn(
        "sc",
        F.expr("aggregate(e, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))")
        / F.lit(float(INT8_MAX)),
    )
    err2 = F.expr(
        "aggregate(e, CAST(0.0 AS DOUBLE),"
        " (a, x) -> a + pow(x - floor(x / sc + 0.5) * sc, 2))"
    )
    norm2 = F.expr("aggregate(e, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)")
    per_vec = scaled.select(
        "label",
        F.col("sc").alias("scale"),
        F.sqrt(err2 / norm2).alias("rel_err"),
        F.sqrt(err2).alias("l2_err"),
    )
    return (
        per_vec.groupBy(F.col("label").cast("bigint").alias("label"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
            F.round(F.avg("rel_err"), 6).alias("avg_rel_err"),
            F.round(F.max("l2_err"), 6).alias("max_l2_err"),
        )
        .orderBy("label")
    )


RP_K = 16  # random-projection output dimensionality


def _rp_sign(i: int, j: int) -> float:
    """Deterministic ±1 sign for input coordinate ``i`` / output
    coordinate ``j``: +1 iff the first hex digit of ``md5("i_j")`` is in
    0–7 (the top bit of the first nibble — an unbiased coin).  md5 is
    md5 in every engine, so the DuckDB oracle derives the identical
    matrix from ``generate_series`` with no side-channel."""
    import hashlib

    h = hashlib.md5(f"{i}_{j}".encode()).hexdigest()
    return 1.0 if h[0] < "8" else -1.0


def emb_random_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a
    deterministic dense ±1 projection (Achlioptas 2003, "Database-
    friendly random projections"): y_j = Σ_i x_i · s(i,j) for RP_K
    output coordinates, long-form output (vec_id, out_dim, proj).

    The projection matrix is a *function*, not data: s(i,j) = ±1 from
    ``md5(i_j)`` (see ``_rp_sign``), folded into the plan as literal
    sign arrays, so the whole operator is ONE map-only whole-stage-
    codegen projection — no shuffle, no join, no Python, and at 100 TB
    it streams the corpus exactly once with zero driver state.  This is
    the front half of every LSH / coarse-quantizer pipeline (the
    hyperplane signatures in dedup_embedding_lsh are the sign-only
    special case); the reference engine stores opaque payloads
    (components/model/src/record.rs) and has no embedding plane — this
    extends SURVEY.md §2.9's pipeline family.

    The d first coordinates are cast to double before the fold;
    rounding to 6 decimals absorbs the oracle's different (group-by)
    summation order — 64-term double sums agree far beyond 1e-6.
    """
    emb = load_table_balanced(spark, sf_dir, "embeddings")
    d = len(emb.select("embedding").head()[0])
    e = F.col("embedding").cast("array<double>")
    cols = []
    for j in range(RP_K):
        signs = F.array(*[F.lit(_rp_sign(i, j)) for i in range(d)])
        cols.append(
            F.struct(
                F.lit(j).cast("int").alias("out_dim"),
                (
                    F.round(
                        F.aggregate(
                            F.zip_with(e, signs, lambda x, s: x * s),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        ),
                        6,
                    )
                    + F.lit(0.0)  # IEEE −0.0 normalization (see emb_covariance)
                ).alias("proj"),
            )
        )
    return (
        emb.select("vec_id", F.explode(F.array(*cols)).alias("p"))
        .select("vec_id", F.col("p.out_dim").alias("out_dim"), F.col("p.proj").alias("proj"))
        .orderBy("vec_id", "out_dim")
    )


# NOTE on thresholds: at the fixture's loose 0.45 near-dup threshold the
# dup/background angles are indistinguishable for hyperplane hashing
# (collision prob 0.648 vs 0.623/bit), so ``dedup_embedding`` stays exact
# there.  The LSH path enters the gate at a threshold where its contract
# HOLDS — ``dedup_embedding_lsh`` over the planted-twin corpus (cosine
# ≈ 0.97 twins, ≥ 0.85 threshold), hash-checked against the exact DuckDB
# pair set; pruning is additionally asserted in tests/test_operators.py
# (recall ≥ 0.9 with candidates < 35% of all pairs).

# Shared oracle fragment: the planted-cluster corpus derived in pure SQL —
# identical to clustered_corpus() (unit-normalize, pull toward axis
# vec_id % NLIST, re-normalize).  DuckDB list lambdas index 1-based.
_CLUSTERED_CORPUS_SQL = f"""
  base AS (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_sum(list_transform(
                        CAST(embedding AS DOUBLE[]), y -> y * y)))) AS u
    FROM embeddings
  ), pulled AS (
    SELECT vec_id,
           list_transform(u, (x, i) -> x * {IVF_CLUSTERED_EPS}
               + CASE WHEN i - 1 = vec_id % {IVF_CLUSTERED_NLIST}
                      THEN 1.0 ELSE 0.0 END) AS p
    FROM base
  ), corpus AS (
    SELECT vec_id,
           list_transform(p, x -> x / sqrt(list_sum(list_transform(
                        p, y -> y * y)))) AS u
    FROM pulled
  )
"""

def _exact_topk_sql(tbl: str) -> str:
    """Exact cosine top-k over CTE ``tbl`` (vec_id, u) for queries
    vec_id < N_QUERIES — same rounding + tie-break as the Spark side."""
    return f"""
  scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.u, c.u), 6) AS cosine
    FROM {tbl} q JOIN {tbl} c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {N_QUERIES}
  )
  SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
  )
  WHERE rank <= {TOP_K}
  ORDER BY query_id, rank
"""


NORM_TAIL_FRAC = 0.01  # flag the bottom/top 1% of vectors by L2 norm


def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-hygiene audit: the vectors whose L2 norm sits in the
    extreme ``NORM_TAIL_FRAC`` tails of the corpus distribution —
    near-zero norms (dead/failed encodes, cosine-unstable) and
    oversized norms (outlier inputs that dominate dot-product
    retrieval).  The standard pre-index sanity filter for an embedding
    store.

    Plan: one map-only pass computes the norm (sequential
    ``aggregate`` fold over the double-cast array — bit-identical
    across engines, the ``emb_quantize_int8`` contract), then the two
    tails are RANK-based top-k / bottom-k via ``orderBy().limit(k)``
    (per-partition heaps + driver merge, k = ceil(frac·n)) — NOT an
    exact-percentile aggregate, which would buffer every norm in one
    reducer at corpus scale.  Ties at the cut break by vec_id, so the
    selected set is deterministic in both engines."""
    import math

    emb = load_table_balanced(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    norm = F.sqrt(
        F.expr("aggregate(e, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)")
    )
    d = emb.select("vec_id", "label", norm.alias("nrm"))
    k = math.ceil(NORM_TAIL_FRAC * d.count())
    low = (
        d.orderBy(F.asc("nrm"), F.asc("vec_id"))
        .limit(k)
        .withColumn("tail", F.lit("low"))
    )
    high = (
        d.orderBy(F.desc("nrm"), F.asc("vec_id"))
        .limit(k)
        .withColumn("tail", F.lit("high"))
    )
    return (
        low.unionByName(high)
        .select(
            "vec_id", "label", F.round("nrm", 6).alias("l2_norm"), "tail"
        )
        .orderBy("tail", "vec_id")
    )


QUERIES = {
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_ann_ivf_clustered": sim_ann_ivf_clustered,
    "sim_ann_ivf_pq": sim_ann_ivf_pq,
    "sim_ann_ivf_pq_served": sim_ann_ivf_pq_served,
    "dedup_semantic": dedup_semantic,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "emb_label_centroids": emb_label_centroids,
    "emb_covariance": emb_covariance,
    "emb_random_project": emb_random_project,
    "emb_quantize_int8": emb_quantize_int8,
    "emb_norm_outliers": emb_norm_outliers,
}

# Exact cosine top-5 on the raw embeddings table — the oracle for BOTH
# sim_topk_bruteforce and the registered sim_ann_ivf gate form: IVF at
# nprobe = nlist scans every cell, so its output equals exact top-k by
# construction (see sim_ann_ivf docstring).
_EXACT_TOPK_RAW_SQL = f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cosine
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""

# Shared oracle fragment: the planted-twin corpus (clustered corpus ∪
# per-query twins) in pure SQL — identical to pq_twin_corpus().  Ends at
# CTE ``allv(vec_id, u)``; requires _CLUSTERED_CORPUS_SQL before it.
_PQ_TWIN_SQL = f"""
        twins AS (
          SELECT c.vec_id * {PQT_N_TWINS} + j.j + {PQT_ID_BASE} AS vec_id,
                 list_transform(c.u, (x, i) -> x
                     + CASE WHEN i - 1 = (c.vec_id * {PQT_N_TWINS} + j.j) % len(c.u)
                            THEN {PQT_EPS} + j.j * {PQT_EPS_STEP} ELSE 0.0 END) AS p
          FROM corpus c
          CROSS JOIN (SELECT unnest(generate_series(0, {PQT_N_TWINS - 1})) AS j) j
          WHERE c.vec_id < {N_QUERIES}
        ), allv AS (
          SELECT vec_id, u FROM corpus
          UNION ALL
          SELECT vec_id,
                 list_transform(p, x -> x / sqrt(list_sum(list_transform(
                              p, y -> y * y)))) AS u
          FROM twins
        )
"""

ORACLES = {
    "sim_topk_bruteforce": _EXACT_TOPK_RAW_SQL,
    "sim_ann_ivf": _EXACT_TOPK_RAW_SQL,
    # On the planted-cluster fixtures below, IVF@nprobe=2 and
    # IVF-PQ-with-exact-re-rank EQUAL exact top-k by construction
    # (asserted in tests/test_operators.py), so both get full
    # exact-top-5 oracles.
    "sim_ann_ivf_clustered": f"""
        WITH {_CLUSTERED_CORPUS_SQL},
        {_exact_topk_sql("corpus")}
    """,
    "sim_ann_ivf_pq": f"""
        WITH {_CLUSTERED_CORPUS_SQL},
        {_PQ_TWIN_SQL},
        {_exact_topk_sql("allv")}
    """,
    # The serving form reads the persisted index instead of re-encoding,
    # but scores/ranks identically — same exact-top-5 oracle.
    "sim_ann_ivf_pq_served": f"""
        WITH {_CLUSTERED_CORPUS_SQL},
        {_PQ_TWIN_SQL},
        {_exact_topk_sql("allv")}
    """,
    # SemDeDup over the same planted-twin corpus: closed-form cell
    # (= base vec_id mod nlist — exact for this fixture, argument at
    # planted_centroids), within-cell near-dup pairs at cosine ≥ 0.975,
    # greedy min-id keep rule.  Margin argument at SEMDEDUP_T.
    "dedup_semantic": f"""
        WITH {_CLUSTERED_CORPUS_SQL},
        {_PQ_TWIN_SQL},
        cellv AS (
          SELECT vec_id, u,
                 CAST(CASE WHEN vec_id >= {PQT_ID_BASE}
                           THEN ((vec_id - {PQT_ID_BASE}) // {PQT_N_TWINS})
                                  % {IVF_CLUSTERED_NLIST}
                           ELSE vec_id % {IVF_CLUSTERED_NLIST} END AS INT)
                   AS cell
          FROM allv
        ),
        dups AS (
          SELECT DISTINCT b.vec_id
          FROM cellv a JOIN cellv b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.u, b.u), 6) >= {SEMDEDUP_T}
        )
        SELECT c.vec_id, c.cell, d.vec_id IS NULL AS keep
        FROM cellv c LEFT JOIN dups d ON c.vec_id = d.vec_id
        ORDER BY c.vec_id
    """,
    "dedup_embedding_lsh": f"""
        WITH base AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                     x -> x / sqrt(list_sum(list_transform(
                              CAST(embedding AS DOUBLE[]), y -> y * y)))) AS u
          FROM embeddings
        ), perturbed AS (
          SELECT vec_id AS orig_id,
                 list_transform(u, (x, i) ->
                     x + CASE WHEN i - 1 = orig_id % len(u)
                              THEN {TWIN_EPS} ELSE 0.0 END) AS p
          FROM base WHERE vec_id < {TWIN_N}
        ), twins AS (
          SELECT orig_id + {TWIN_ID_BASE} AS vec_id,
                 list_transform(p, x -> x / sqrt(list_sum(list_transform(
                              p, y -> y * y)))) AS u
          FROM perturbed
        ), corpus AS (
          SELECT vec_id, u FROM base
          UNION ALL
          SELECT vec_id, u FROM twins
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.u, b.u), 6) AS cosine
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.u, b.u), 6) >= {LSH_DEDUP_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
    "emb_covariance": """
        WITH long0 AS (
          SELECT vec_id,
                 unnest(generate_series(1, len(embedding))) AS pos,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings
        ), long AS (
          SELECT vec_id, pos - 1 AS i, x FROM long0
        ), second AS (
          SELECT a.i AS i, b.i AS j, avg(a.x * b.x) AS exixj
          FROM long a JOIN long b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY a.i, b.i
        ), mu AS (
          SELECT i, avg(x) AS mu FROM long GROUP BY i
        )
        SELECT CAST(s.i AS INT) AS i, CAST(s.j AS INT) AS j,
               round(s.exixj - mi.mu * mj.mu, 6) + 0.0 AS cov
        FROM second s
        JOIN mu mi ON s.i = mi.i
        JOIN mu mj ON s.j = mj.i
        ORDER BY i, j
    """,
    "emb_label_centroids": """
        WITH long AS (
          SELECT vec_id, label,
                 unnest(generate_series(1, len(embedding))) AS pos,
                 unnest(CAST(embedding AS DOUBLE[])) AS val
          FROM embeddings
        ), cent AS (
          SELECT label, pos, avg(val) AS cval FROM long GROUP BY label, pos
        ), per_vec AS (
          SELECT l.vec_id, l.label,
                 sum(l.val * c.cval) AS dot,
                 sum(l.val * l.val) AS n2v
          FROM long l JOIN cent c ON l.label = c.label AND l.pos = c.pos
          GROUP BY l.vec_id, l.label
        ), cnorm AS (
          SELECT label, sum(cval * cval) AS n2c FROM cent GROUP BY label
        )
        SELECT p.label, count(*) AS n_vectors,
               round(avg(p.dot / sqrt(p.n2v * n.n2c)), 4) AS avg_cos_to_centroid,
               round(min(p.dot / sqrt(p.n2v * n.n2c)), 4) AS min_cos_to_centroid
        FROM per_vec p JOIN cnorm n ON p.label = n.label
        GROUP BY p.label
        ORDER BY p.label
    """,
    "emb_random_project": f"""
        WITH dims AS (
          SELECT max(len(embedding)) AS d FROM embeddings
        ), signs AS (
          SELECT ii.i AS i, jj.j AS j,
                 CASE WHEN substr(md5(CAST(ii.i AS VARCHAR) || '_'
                                       || CAST(jj.j AS VARCHAR)), 1, 1) < '8'
                      THEN 1.0 ELSE -1.0 END AS s
          FROM (SELECT unnest(generate_series(0, (SELECT d FROM dims) - 1)) AS i) ii
          CROSS JOIN (SELECT unnest(generate_series(0, {RP_K} - 1)) AS j) jj
        ), long0 AS (
          SELECT vec_id,
                 unnest(generate_series(1, len(embedding))) AS pos,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings
        )
        SELECT l.vec_id, CAST(s.j AS INT) AS out_dim,
               round(sum(l.x * s.s), 6) + 0.0 AS proj
        FROM long0 l JOIN signs s ON l.pos - 1 = s.i
        GROUP BY l.vec_id, s.j
        ORDER BY l.vec_id, out_dim
    """,
    "emb_quantize_int8": f"""
        WITH v AS (
          SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), s AS (
          SELECT label, e,
                 list_max(list_transform(e, x -> abs(x))) / {INT8_MAX} AS sc
          FROM v
        ), per_vec AS (
          SELECT label, sc,
                 sqrt(list_sum(list_transform(e,
                     x -> pow(x - floor(x / sc + 0.5) * sc, 2)))
                   / list_sum(list_transform(e, x -> x * x))) AS rel_err,
                 sqrt(list_sum(list_transform(e,
                     x -> pow(x - floor(x / sc + 0.5) * sc, 2)))) AS l2_err
          FROM s
        )
        SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
               round(avg(sc), 6) AS avg_scale,
               round(avg(rel_err), 6) AS avg_rel_err,
               round(max(l2_err), 6) AS max_l2_err
        FROM per_vec GROUP BY label ORDER BY label
    """,
    "emb_norm_outliers": f"""
        WITH v AS (
          SELECT vec_id, label,
                 sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x))) AS nrm
          FROM embeddings
        ), n AS (
          SELECT CAST(ceil({NORM_TAIL_FRAC} * count(*)) AS BIGINT) AS k
          FROM v
        ), low AS (
          SELECT vec_id, label, nrm, 'low' AS tail,
                 row_number() OVER (ORDER BY nrm ASC, vec_id ASC) AS rk
          FROM v
        ), high AS (
          SELECT vec_id, label, nrm, 'high' AS tail,
                 row_number() OVER (ORDER BY nrm DESC, vec_id ASC) AS rk
          FROM v
        )
        SELECT vec_id, label, round(nrm, 6) AS l2_norm, tail
        FROM (SELECT * FROM low UNION ALL SELECT * FROM high) t
        CROSS JOIN n
        WHERE rk <= k
        ORDER BY tail, vec_id
    """,
}
