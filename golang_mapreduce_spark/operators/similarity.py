"""Similarity search over the ``embeddings`` table (array<float>, dim 64)
— the ANN extension surface (BASELINE.json north star).

Everything stays JVM-side: dot products are ``aggregate``/``zip_with``
higher-order functions, no Python in the hot path.  Cosine values are
rounded to 6 dp before any ranking/thresholding; both engines' fold
orders differ by ≤1e-14, far inside the rounding quantum, so rankings are
engine-identical (ties then break on vec_id).

Scale paths:
* brute-force top-k  — O(Q×N) with the Q query vectors broadcast;
  correct baseline, linear per query.  Fine for Q small at any N.
* IVF top-k          — coarse quantization: assign every vector to its
  nearest centroid once (the big O(N×C) pass, still broadcast-joined),
  then probe only the top-P centroid partitions per query.  At 100 TB
  the assignment is the write-path (store cluster as a partition
  column); queries touch P/C of the data.
* blocked near-dup   — all-pairs cosine restricted to equality blocks
  (here: label); the generic embedding-dedup blocking is LSH or IVF
  cluster equality.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from golang_mapreduce_spark.caching import with_shared_caches
from golang_mapreduce_spark.sources.fixtures import load_table

TOP_K = 5
N_QUERIES = 8          # query set: vec_id < 8
EMB_DIM = 64


def centroid_step(n: int) -> int:
    """Modulus for the ``vec_id % step == 0`` centroid family, sized so
    the family holds ~sqrt(n) members: with C = sqrt(N) centroids the
    assignment pass costs N·C = N^1.5 instead of the N²/const a FIXED
    step degrades to (a fixed step grows C linearly with N — measured
    7-8× superlinear wall on the 10× bench before this was adaptive, see
    SCALE.md).  ceil-division in exact integer arithmetic; the oracle
    computes the identical value as
    (COUNT(*) + floor(sqrt(COUNT(*))) - 1) // floor(sqrt(COUNT(*)))."""
    if n <= 0:
        return 1
    fs = math.isqrt(n)
    return max(1, -(-n // fs))


def ivf_n_probe(n_cent: int) -> int:
    """Probed clusters per query: a fixed ~10% of the centroid count
    (min 2), so recall stays roughly constant as C grows with sqrt(N)
    instead of decaying like a fixed probe count would."""
    return max(2, n_cent // 10)


#: shared oracle CTE fragment (expects an ``emb(vec_id, emb)`` CTE in
#: scope): the adaptive centroid family, integer-exact mirror of
#: centroid_step().
_CENT_CTES = """stepc AS (
  SELECT GREATEST(1,
           (COUNT(*) + CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) - 1)
           // CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS st
  FROM emb
),
cent AS (
  SELECT vec_id AS cid, emb AS c_emb FROM emb
  WHERE vec_id % (SELECT st FROM stepc) = 0
)"""

#: SQL mirror of ivf_n_probe()
_N_PROBE_SQL = "(SELECT GREATEST(2, COUNT(*) // 10) FROM cent)"
NEARDUP_COS = 0.30   # fixture embeddings are near-random; 0.30 ≈ top percentile


def _cos(a: str, b: str) -> F.Column:
    """Rounded cosine between two array<double> columns (deterministic:
    aggregate() folds left-to-right).  NULLIF guards the zero-vector
    case: a real corpus contains zero embeddings (empty docs, failed
    embed calls), and under ANSI mode a bare 0/0 would fail the whole
    job instead of yielding a NULL similarity that ranking ignores.
    The fixtures contain no zero vectors, so oracle parity is
    unaffected."""
    dot = F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    na = F.expr(f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v))")
    nb = F.expr(f"sqrt(aggregate({b}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v))")
    return F.round(dot / F.nullif(na * nb, F.lit(0.0)), 6)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for each query vector (vec_id < 8) against the
    full collection.  The tiny query side is broadcast; the big side
    streams — one scan, no shuffle of the collection."""
    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
        )
    )
    scored = (
        emb.join(q, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos("q_emb", "emb").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return scored.select(
        "query_id", "neighbor_id", "sim", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= TOP_K)


KNN_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]), 6) AS sim
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def _centroids(emb: DataFrame) -> DataFrame:
    """Deterministic coarse centroids: every ``centroid_step(N)``-th
    vector is a centroid row (data-derived; pyspark.ml KMeans|| centroids
    slot into the same shape, see tests/test_kmeans_ivf.py).  ~sqrt(N)
    rows by construction, so every join on it broadcasts it; the hint sits
    at the join, not here, because a hint on a relation that is counted or
    collected only logs a HintErrorLogger warning.  The count() is one
    cheap metadata-backed job and at production scale the step is computed
    once at ingest, not per query."""
    step = centroid_step(emb.count())
    return emb.where(F.col("vec_id") % step == 0).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("c_emb")
    )


def _probe_walk(q: DataFrame, cent: DataFrame, rank_col: str = "prn") -> DataFrame:
    """THE query→centroid probe walk, shared by every IVF-family
    operator: score each (query, centroid) pair with the rounded cosine
    and rank per query by (csim DESC, cid ASC) — exactly the ordering
    every IVF oracle's ``probes``/``walk`` CTE mirrors (``ROW_NUMBER()
    OVER (PARTITION BY query_id ORDER BY ROUND(...) DESC, cid)``).

    Returns (query_id, q_emb, cid, c_emb, csim, <rank_col>); callers cut
    at their probe budget and project what they carry — Catalyst prunes
    the untouched columns below the window, so carrying the full width
    here costs nothing (verified in the round-15 plan audit).

    Factored in round 15 (VERDICT r14 #3): five hand-synced copies of an
    oracle-mirrored ordering were the highest-odds future-correctness
    bug in the tree — one divergent edit would break parity silently
    until the sweep.  ``cent`` is the ~sqrt(N) centroid table
    (_centroids), broadcast here, so the join is a BroadcastNestedLoop
    over queries × C rows — bounded by the query batch, never the
    collection."""
    pw = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cid"))
    return (
        q.join(F.broadcast(cent))
        .select(
            "query_id", "q_emb", "cid", "c_emb",
            _cos("q_emb", "c_emb").alias("csim"),
        )
        .withColumn(rank_col, F.row_number().over(pw))
    )


#: Candidates kept beyond n_probe by the BLAS assignment pass: the JVM
#: final rank orders on ROUNDED sim (6 dp) while the batch-local cut
#: orders on raw sim, so slack absorbs raw-vs-rounded disagreements
#: inside one 1e-6 bucket at the cut (same argument as KNN_BATCH_SLACK;
#: here every candidate centroid for a vector lives in ONE batch, so
#: the slack only has to cover rounding-tie reorderings, never
#: cross-batch loss).
ASSIGN_SLACK = 16


def _ivf_assign(emb: DataFrame, cent: DataFrame, n_probe: int = 1) -> DataFrame:
    """Assignment pass: top-``n_probe`` nearest centroids per vector.
    At scale this runs once at ingest and `cluster` is written as a
    partition column; n_probe > 1 multi-assigns boundary vectors for
    dedup recall.

    The N x C similarity matrix is ONE BLAS matmul per Arrow batch
    (the centroid table is ~sqrt(N) rows by construction — the same
    bound that justified broadcasting it), emitting only each vector's
    local top-(n_probe + ASSIGN_SLACK) centroids by raw sim; the final
    rank re-orders those candidates JVM-side by (round(sim, 6) DESC,
    cid ASC), exactly the oracle's ordering — float64 BLAS and the JVM
    fold differ by <=1e-14, far inside the rounding quantum
    (tests/test_knn_batched.py pins the equivalent argument for the
    KNN path; tests/test_kmeans_ivf.py and the IVF oracles pin this
    one).  vs the previous pure-JVM form this removes the interpreted
    higher-order-function fold over all N x C pairs AND shrinks the
    ranking shuffle from N x C rows to N x (n_probe + slack): at 10x
    bench scale that is 11.2M shuffled rows down to 0.85M, and the
    scoring itself drops from ~716M interpreted fold steps to one
    50000 x 64 @ 64 x 224 matmul per batch.

    Zero-norm vectors (possible in a real corpus: empty docs, failed
    embed calls) emit no candidates and receive no cluster — defined
    drop semantics, vs the legacy path's accidental
    smallest-cid-on-all-NULL assignment.  The fixtures contain none, so
    oracle parity is unaffected either way."""
    import numpy as np

    rows = sorted(cent.collect(), key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    C = np.array([r["c_emb"] for r in rows], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    Cn = C / np.where(cn == 0.0, 1.0, cn)
    limit = min(n_probe + ASSIGN_SLACK, len(rows))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            V = np.array(list(pdf["emb"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            vn = np.linalg.norm(V, axis=1, keepdims=True)
            nz = vn[:, 0] > 0.0
            Vn = V / np.where(vn == 0.0, 1.0, vn)
            sims = Vn @ Cn.T  # (batch, C)
            # stable argsort over ascending-cid columns: raw-sim ties
            # keep ascending cid, the JVM/oracle tie order
            order = np.argsort(-sims, axis=1, kind="stable")[:, :limit]
            keep = np.flatnonzero(nz)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids[keep], limit),
                    "cid": cids[order[keep]].reshape(-1),
                    "csim_raw": np.take_along_axis(
                        sims[keep], order[keep], axis=1
                    ).reshape(-1),
                }
            )

    cand = emb.select("vec_id", "emb").mapInPandas(
        score, schema="vec_id long, cid long, csim_raw double"
    )
    aw = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round(F.col("csim_raw"), 6)), F.asc("cid")
    )
    chosen = (
        cand.withColumn("arn", F.row_number().over(aw))
        .where(F.col("arn") <= n_probe)
        .select("vec_id", F.col("cid").alias("cluster"))
    )
    return emb.select("vec_id", "emb").join(chosen, "vec_id")


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-5: assign vectors to deterministic coarse
    centroids (the adaptive ~sqrt(N) family, centroid_step), probe
    ~10% of the centroids per query, brute-force only inside probed
    clusters.

    Deterministic by construction (centroids are data rows, similarities
    rounded, ties broken by id), so the oracle replicates the algorithm
    exactly — recall vs the brute-force baseline is asserted in tests.
    At scale, `cluster` becomes a partition column written once at ingest;
    a query reads only its probed partitions (partition pruning).

    The probe relation is queries × n_probe rows — bounded by the query
    batch, never the collection — so it is explicitly BROADCAST into the
    probed-cluster join: the big assigned-collection side streams through
    a BroadcastHashJoin with no shuffle/sort of its own.  Left to AQE
    this join planned as a SortMergeJoin that sorted the entire assigned
    collection per query batch (VERDICT r13 #1 measured 2 SMJs surviving
    the AQE final plan); ivf_ce_retrieval proved the broadcast form
    (similarity.py:3269) and this retrofits it — plan-pinned 0-SMJ in
    tests/test_plan_quality_round14.py."""
    emb = _emb(spark, sf_dir)
    cent = _centroids(emb)
    assign = _ivf_assign(emb, cent)
    # probe pass: top-n_probe centroids per query vector (~10% of C)
    n_probe = ivf_n_probe(cent.count())
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    probes = (
        _probe_walk(q, cent)
        .where(F.col("prn") <= n_probe)
        .select("query_id", "q_emb", F.col("cid").alias("cluster"))
    )
    # search only probed clusters — probes broadcast (docstring above)
    scored = (
        F.broadcast(probes).join(assign, "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos("q_emb", "emb").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return scored.select(
        "query_id", "neighbor_id", "sim", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= TOP_K)


ANN_IVF_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
assign AS (
  SELECT vec_id, emb, cid AS cluster FROM (
    SELECT e.vec_id, e.emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.emb, c.c_emb), 6) DESC,
                                       c.cid) AS arn
    FROM emb e CROSS JOIN cent c
  ) WHERE arn = 1
),
probes AS (
  SELECT query_id, q_emb, cid AS cluster FROM (
    SELECT q.vec_id AS query_id, q.emb AS q_emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND(list_cosine_similarity(q.emb, c.c_emb), 6) DESC,
                                       c.cid) AS prn
    FROM emb q CROSS JOIN cent c
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE prn <= {_N_PROBE_SQL}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(p.q_emb, a.emb), 6) AS sim
  FROM probes p JOIN assign a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


#: ann_ivf_adaptive probes clusters (nearest-centroid order) until this
#: fraction of the COLLECTION's assigned vectors has been covered.
PROBE_MASS = 0.2


def ann_ivf_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with per-query MASS-adaptive probing: instead of a fixed
    probe count, each query walks its centroids in similarity order and
    probes until the probed clusters' total member count reaches
    ceil({PROBE_MASS} × N).  Under skewed cluster sizes (real embedding
    distributions are never balanced) a fixed n_probe over-scans queries
    that hit giant clusters and starves queries whose nearest clusters
    are tiny; mass-based probing fixes the scan budget per query — the
    per-query work is ~{PROBE_MASS}·N candidate scorings no matter how
    the quantizer's cells are shaped.

    Deterministic: cluster sizes come from the (deterministic) assignment
    pass; the probe walk orders by (rounded csim DESC, cid), and the
    running mass uses an exclusive window frame, so the cluster that
    crosses the threshold is always included.  Scale: sizes are C rows
    (broadcast); the walk is a window over queries × C rows; the search
    join is identical to ann_ivf_topk's probed-cluster join — including
    the explicit probe broadcast (queries × probed-clusters rows, bounded
    by the query batch), so the assigned collection streams through a
    BroadcastHashJoin instead of the SMJ AQE picked (VERDICT r13 #1).
    The assignment relation feeds THREE consumers (size census, mass
    target, probed search), so it is persisted once — one BLAS pass
    instead of three; at 100 TB it is the ingest-time partition layout
    and this cache is free (``_gmrs_shared_caches`` lifecycle)."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir)
    cent = _centroids(emb)
    assign = _ivf_assign(emb, cent).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = F.broadcast(
        assign.groupBy("cluster").agg(F.count("*").alias("csize"))
    )
    total = F.broadcast(
        assign.agg(F.expr("CAST(ceil(count(*) * " + str(PROBE_MASS) + ") AS BIGINT)").alias("target"))
    )
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    # prn is the walk's (csim DESC, cid ASC) rank, so ordering the
    # running mass by it walks the clusters in the same order
    pw = (
        Window.partitionBy("query_id")
        .orderBy("prn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    probes = (
        _probe_walk(q, cent)
        .join(sizes, F.col("cid") == F.col("cluster"), "left")
        .select(
            "query_id",
            "q_emb",
            "cid",
            "prn",
            F.coalesce(F.col("csize"), F.lit(0)).alias("csz"),
        )
        .withColumn("mass_before", F.coalesce(F.sum("csz").over(pw), F.lit(0)))
        .crossJoin(total)
        .where(F.col("mass_before") < F.col("target"))
        .select("query_id", "q_emb", F.col("cid").alias("cluster"))
    )
    scored = (
        F.broadcast(probes).join(assign, "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos("q_emb", "emb").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    out = scored.select(
        "query_id", "neighbor_id", "sim", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= TOP_K)
    return with_shared_caches(out, assign)


ANN_IVF_ADAPTIVE_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
assign AS (
  SELECT vec_id, emb, cid AS cluster FROM (
    SELECT e.vec_id, e.emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.emb, c.c_emb), 6) DESC,
                                       c.cid) AS arn
    FROM emb e CROSS JOIN cent c
  ) WHERE arn = 1
),
sizes AS (
  SELECT cluster, COUNT(*) AS csize FROM assign GROUP BY cluster
),
tot AS (
  SELECT CAST(ceil(COUNT(*) * {PROBE_MASS}) AS BIGINT) AS target FROM assign
),
walk AS (
  SELECT q.vec_id AS query_id, q.emb AS q_emb, c.cid,
         ROUND(list_cosine_similarity(q.emb, c.c_emb), 6) AS csim,
         COALESCE(s.csize, 0) AS csz
  FROM emb q CROSS JOIN cent c
  LEFT JOIN sizes s ON s.cluster = c.cid
  WHERE q.vec_id < {N_QUERIES}
),
probes AS (
  SELECT query_id, q_emb, cid AS cluster FROM (
    SELECT query_id, q_emb, cid,
           COALESCE(SUM(csz) OVER (PARTITION BY query_id
                                   ORDER BY csim DESC, cid
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0) AS mass_before
    FROM walk
  ) WHERE mass_before < (SELECT target FROM tot)
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(p.q_emb, a.emb), 6) AS sim
  FROM probes p JOIN assign a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def _cluster_pair_scores(assign: DataFrame, min_cos: float = NEARDUP_COS) -> DataFrame:
    """Within-cluster pair cosine scores: one BLAS gram matrix per
    cluster group (applyInPandas), emitting only pairs at or above
    ``min_cos`` (default NEARDUP_COS; minus one rounding quantum of
    guard — the JVM filter on the ROUNDED value is the binding one).
    Output: (cluster, vec_a, vec_b, cos_raw) with vec_a < vec_b.

    vs the previous self-join + interpreted per-pair fold this removes
    O(pairs x dim) interpreted steps AND the shuffle of O(pairs) array
    rows — the shuffle now carries each vector once (the groupBy), and
    pairs leave the Python worker only if they pass the threshold.
    Per-group memory is O(m x dim + m^2) floats for a cluster of m
    members — the same O(m^2) the join materialized as rows; a skewed
    mega-cluster is a problem for EITHER form and is what the ~sqrt(N)
    centroid family keeps balanced.  Duplicate pairs scored in two
    groups (multi-probe) produce bit-identical cos_raw (same contiguous
    dot order), so DISTINCT downstream is safe.  Zero-norm vectors emit
    no pairs (the JVM fold gave them NULL sims, which the >= filter
    dropped identically)."""
    import numpy as np

    def pairs(key, pdf):
        import pandas as pd

        V = np.array(list(pdf["emb"]), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        nrm = np.linalg.norm(V, axis=1, keepdims=True)
        nz = nrm[:, 0] > 0.0
        Vn = V / np.where(nrm == 0.0, 1.0, nrm)
        sims = Vn @ Vn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = (sims[iu, ju] >= min_cos - 1e-6) & nz[iu] & nz[ju]
        ia, jb = iu[keep], ju[keep]
        return pd.DataFrame(
            {
                "cluster": np.full(ia.size, key[0], dtype=np.int64),
                "vec_a": np.minimum(ids[ia], ids[jb]),
                "vec_b": np.maximum(ids[ia], ids[jb]),
                "cos_raw": sims[ia, jb],
            }
        )

    return assign.groupBy("cluster").applyInPandas(
        pairs, schema="cluster long, vec_a long, vec_b long, cos_raw double"
    )


def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by IVF cluster id:
    reuse the coarse-quantizer assignment pass, then restrict the
    all-pairs cosine to within-cluster pairs (one BLAS gram matrix per
    cluster; final values rounded JVM-side like knn_numpy_batched).

    Scale story: with C ∝ sqrt(N) centroids, the within-block pair
    product is O(N²/C) = O(N^1.5) worst-case and near-linear when
    clusters are balanced — unlike blocking on a fixed-cardinality
    attribute (label: 10 blocks ⇒ O(N²/10), quadratic).  Near-identical
    vectors share a nearest centroid except on Voronoi boundaries;
    multi-probe assignment (top-2 clusters per vector) is the standard
    recall patch and composes with this same shape."""
    emb = _emb(spark, sf_dir)
    assign = _ivf_assign(emb, _centroids(emb))
    return (
        _cluster_pair_scores(assign)
        .select(
            "cluster", "vec_a", "vec_b",
            F.round(F.col("cos_raw"), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= NEARDUP_COS)
    )


#: Shared CTE block: embeddings cast + ~sqrt(N) centroids + single-probe
#: IVF assignment — the blocking stage every cluster-restricted oracle
#: (emb_neardup_pairs, semantic_dedup_keep) builds on.
EMB_ASSIGN_CTES = f"""emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
assign AS (
  SELECT vec_id, emb, cid AS cluster FROM (
    SELECT e.vec_id, e.emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.emb, c.c_emb), 6) DESC,
                                       c.cid) AS arn
    FROM emb e CROSS JOIN cent c
  ) WHERE arn = 1
)"""

EMB_NEARDUP_SQL = f"""
WITH {EMB_ASSIGN_CTES}
SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
FROM assign a
JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) >= {NEARDUP_COS}
"""


#: Per-batch candidates kept beyond TOP_K by the batched KNN: the global
#: top-k ranks on ROUNDED sim (6 dp) while the batch-local cut ranks on
#: raw sim, so slack absorbs raw-order/rounded-order disagreements inside
#: one 1e-6 bucket at the cut.  27 + TOP_K(5) = 32 per query per batch.
KNN_BATCH_SLACK = 27


def knn_batched_scored(
    spark: SparkSession,
    sf_dir: str,
    exhaustive: bool = False,
    dims: int | None = None,
) -> DataFrame:
    """Candidate stream for knn_numpy_batched: cosine sims computed as one
    BLAS matrix multiply per Arrow batch, emitting only each batch's local
    top-(TOP_K+KNN_BATCH_SLACK) per query (raw-sim desc, id asc —
    deterministic under ties) unless ``exhaustive=True``.

    The local cut is what survives 100×: the downstream global top-k
    shuffle receives O(batches × queries × (k+slack)) rows instead of
    O(N × queries) — at 10^9 vectors × 8 queries that is ~10^5 rows/query
    vs 8×10^9.  Exactness vs the exhaustive path: the global rank orders
    by (round(sim,6) DESC, id ASC); the local cut orders by raw sim.  Any
    globally-ranked candidate is, within its batch, raw-ordered below
    only candidates with ≥ its rounded sim, so it is dropped only if
    >slack batch-mates occupy its 1e-6 rounding bucket at the cut — with
    64-dim float64 sims that needs adversarial near-ties
    (exact-duplicate vectors are safe: equal raw sims cut by id, keeping
    the globally-preferred smaller ids).  tests/test_knn_batched.py pins
    result equality with knn_bruteforce and the emission bound."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    if dims is not None:  # matryoshka truncation: score on a dim prefix
        Q = Q[:, :dims]
    # zero-norm mask (same semantics as _ivf_assign): a query whose
    # (possibly truncated) vector is all-zero emits no candidates rather
    # than NaN sims — truncation makes zero prefixes likelier than
    # full-dim zero vectors.
    q_norms = np.linalg.norm(Q, axis=1, keepdims=True)
    q_nz = q_norms[:, 0] > 0
    q_ids, Q, q_norms = q_ids[q_nz], Q[q_nz], q_norms[q_nz]
    Qn = Q / q_norms if Q.shape[0] else Q
    limit = TOP_K + KNN_BATCH_SLACK

    def score(batches):
        import pandas as pd

        for pdf in batches:
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            if dims is not None:
                V = V[:, :dims]
            ids = pdf["vec_id"].to_numpy()
            v_norms = np.linalg.norm(V, axis=1, keepdims=True)
            v_nz = v_norms[:, 0] > 0
            if not v_nz.all():  # drop zero-norm rows: no defined cosine
                V, ids, v_norms = V[v_nz], ids[v_nz], v_norms[v_nz]
            if V.shape[0] == 0 or Qn.shape[0] == 0:
                continue
            Vn = V / v_norms
            sims = Vn @ Qn.T  # (batch, n_queries)
            n, m = sims.shape
            if exhaustive:
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(q_ids, n),
                        "neighbor_id": np.tile(ids, m),
                        "sim_raw": sims.T.reshape(-1),
                    }
                )
                continue
            qcol, ncol, scol = [], [], []
            for j in range(m):
                valid = np.flatnonzero(ids != q_ids[j])
                # total order (raw sim desc, id asc): lexsort's LAST key
                # is primary; deterministic even with duplicate sims
                order = valid[np.lexsort((ids[valid], -sims[valid, j]))]
                keep = order[:limit]
                qcol.append(np.full(keep.size, q_ids[j], dtype=np.int64))
                ncol.append(ids[keep])
                scol.append(sims[keep, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qcol),
                    "neighbor_id": np.concatenate(ncol),
                    "sim_raw": np.concatenate(scol),
                }
            )

    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(score, schema="query_id long, neighbor_id long, sim_raw double")
        .where(F.col("neighbor_id") != F.col("query_id"))
    )


def knn_numpy_batched(
    spark: SparkSession, sf_dir: str, exhaustive: bool = False
) -> DataFrame:
    """Brute-force cosine top-5 via per-Arrow-batch BLAS scoring with a
    batch-local top-(k+slack) cut before the global top-k shuffle (see
    knn_batched_scored) — the vectorized-Python scale path for wide
    fan-out scoring.  ``exhaustive=True`` restores the emit-every-pair
    behavior (shuffle O(N×Q) rows; only for auditing the cut).

    Produces exactly the same result as knn_bruteforce (same oracle): raw
    float64 sims come back from numpy and the 6 dp rounding happens
    JVM-side so the rounding rule matches the oracle.  The 8×64 query
    matrix is collected once (bounded, id-filtered) and shipped in the
    UDF closure — the moral equivalent of a broadcast variable."""
    scored = knn_batched_scored(spark, sf_dir, exhaustive=exhaustive).select(
        "query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return scored.select(
        "query_id", "neighbor_id", "sim", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= TOP_K)


def emb_neardup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with multi-probe assignment: every vector joins
    its top-2 nearest clusters, so near-identical vectors split by a
    Voronoi boundary still collide in at least one shared cluster — the
    standard recall patch over single-assignment blocking at 2× the
    assignment fan-out (pair product still O(N²/C) per cluster).  Pairs
    sharing both clusters dedupe via DISTINCT on the scored row."""
    emb = _emb(spark, sf_dir)
    assign = _ivf_assign(emb, _centroids(emb), n_probe=2)
    return (
        _cluster_pair_scores(assign)
        .select(
            "vec_a", "vec_b", F.round(F.col("cos_raw"), 6).alias("cos_sim")
        )
        .where(F.col("cos_sim") >= NEARDUP_COS)
        .distinct()
    )


EMB_NEARDUP_MULTIPROBE_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
assign AS (
  SELECT vec_id, emb, cid AS cluster FROM (
    SELECT e.vec_id, e.emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.emb, c.c_emb), 6) DESC,
                                       c.cid) AS arn
    FROM emb e CROSS JOIN cent c
  ) WHERE arn <= 2
)
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
FROM assign a
JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) >= {NEARDUP_COS}
"""


# --- product quantization ----------------------------------------------

PQ_SUBSPACES = 8          # 64 dims -> 8 subvectors of 8
PQ_SUBDIM = 8


def _sub(col: str, s: int) -> str:
    """SQL slice of subspace s (1-indexed slice, length PQ_SUBDIM)."""
    return f"slice({col}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"


def _l2sq(a: str, b: str) -> str:
    """Rounded squared L2 between two array<double> SQL expressions."""
    return (
        f"round(aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6)"
    )


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: split each 64-dim vector into 8
    subvectors and store only the id of the nearest codebook entry per
    subspace — 8 small ints instead of 256 float bytes (the compression
    that lets a 100 TB collection's codes fit in memory).

    Codebooks are data-derived and deterministic (the same adaptive
    ~sqrt(N) centroid family the IVF quantizer uses, one codebook per
    subspace); assignment
    ties break on code id, distances rounded at 6 dp, so the oracle
    replicates encoding exactly.  One broadcast join + per-row argmin —
    no shuffle of the collection."""
    emb = _emb(spark, sf_dir)
    return _pq_codes_from(emb, _centroids(emb))


#: Candidate codes kept per (vector, subspace) beyond the argmin by the
#: BLAS encoder — same rounded-vs-raw slack argument as ASSIGN_SLACK
#: (all candidates for a (vector, subspace) live in one batch).
PQ_CODE_SLACK = 8


def _pq_codes_from(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """PQ encoding against an already-built centroid family — shared by
    pq_codes and pq_adc_topk so the ADC query derives the family (and
    its sizing count job) exactly once.

    Per Arrow batch, each subspace's (batch x C) squared-L2 table is one
    vectorized direct-difference reduction (NOT the ||v||^2 - 2v.c +
    ||c||^2 expansion, whose cancellation error near d=0 — exactly the
    argmin region — would be ~1e-13 instead of ~1e-15); only the
    (1 + PQ_CODE_SLACK) best candidate codes per (vector, subspace) are
    emitted, and the JVM picks the final code by the oracle's ordering
    (rounded d ASC, cid ASC).  vs the previous pure-JVM form this
    removes the N x C interpreted fold (11M wide rows at the 10x bench)
    and shrinks the aggregate input to N x {PQ_SUBSPACES} x 9 narrow
    rows."""
    import numpy as np

    rows = sorted(cent.collect(), key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    C = np.array([r["c_emb"] for r in rows], dtype=np.float64)
    limit = min(1 + PQ_CODE_SLACK, len(rows))

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            V = np.array(list(pdf["emb"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            n = len(ids)
            out_v, out_s, out_c, out_d = [], [], [], []
            for s in range(PQ_SUBSPACES):
                lo, hi = s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM
                # direct diff keeps absolute error ~1e-15 even at d ~ 0
                d = ((V[:, None, lo:hi] - C[None, :, lo:hi]) ** 2).sum(axis=2)
                order = np.argsort(d, axis=1, kind="stable")[:, :limit]
                out_v.append(np.repeat(ids, limit))
                out_s.append(np.full(n * limit, s, dtype=np.int64))
                out_c.append(cids[order].reshape(-1))
                out_d.append(np.take_along_axis(d, order, axis=1).reshape(-1))
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_v),
                    "sub": np.concatenate(out_s),
                    "cid": np.concatenate(out_c),
                    "d_raw": np.concatenate(out_d),
                }
            )

    cand = emb.select("vec_id", "emb").mapInPandas(
        encode, schema="vec_id long, sub int, cid long, d_raw double"
    )
    aggs = [
        F.expr(
            f"min_by(cid, struct(round(d_raw, 6), cid))"
            f" FILTER (WHERE sub = {s})"
        ).alias(f"code{s}")
        for s in range(PQ_SUBSPACES)
    ]
    return cand.groupBy("vec_id").agg(*aggs)


def _sql_l2sq(s: int, a: str = "e.emb", b: str = "c.c_emb") -> str:
    """DuckDB rounded squared L2 on subspace s of two DOUBLE[] columns."""
    return (
        f"round(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> ({a}[{s * PQ_SUBDIM} + i] - {b}[{s * PQ_SUBDIM} + i])"
        f" * ({a}[{s * PQ_SUBDIM} + i] - {b}[{s * PQ_SUBDIM} + i]))), 6)"
    )


#: shared oracle CTEs: emb, cent, and codes = (vec_id, sub, code)
_PQ_BASE_CTES = f"""
emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
subdist AS (
{" UNION ALL ".join(
    f'''  SELECT e.vec_id, {s} AS sub, c.cid, {_sql_l2sq(s)} AS d
  FROM emb e CROSS JOIN cent c'''
    for s in range(PQ_SUBSPACES))}
),
codes AS (
  SELECT vec_id, sub, cid AS code FROM (
    SELECT vec_id, sub, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn
    FROM subdist
  ) WHERE rn = 1
)"""


PQ_CODES_SQL = f"""
WITH {_PQ_BASE_CTES}
SELECT vec_id,
       {", ".join(f"MAX(CASE WHEN sub = {s} THEN code END) AS code{s}" for s in range(PQ_SUBSPACES))}
FROM codes
GROUP BY vec_id
"""


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-5: queries stay exact, the collection is
    its PQ codes; approx distance = Σ_s ||q_s − codebook[code_s]||².
    At scale the per-query sub-distance table (C×8 floats) is the
    broadcast — the collection side touches only its 8-int codes, never
    the original vectors.  Here the LUT join is expressed relationally:
    codes unpivot to (vec_id, sub, code), join the broadcast per-query
    LUT on (sub, code), then one groupBy sums the 8 partial distances."""
    emb = _emb(spark, sf_dir)
    cent = _centroids(emb)
    codes = _pq_codes_from(emb, cent)
    code_rows = codes.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.expr(f"struct({s} AS sub, code{s} AS code)")
                    for s in range(PQ_SUBSPACES)
                ]
            )
        ).alias("sc"),
    ).select("vec_id", F.col("sc.sub").alias("sub"), F.col("sc.code").alias("code"))

    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    lut = F.broadcast(
        q.join(F.broadcast(cent)).select(
            "query_id",
            F.col("cid").alias("code"),
            F.explode(
                F.array(
                    *[
                        F.expr(
                            f"struct({s} AS sub, {_l2sq(_sub('q_emb', s), _sub('c_emb', s))} AS d)"
                        )
                        for s in range(PQ_SUBSPACES)
                    ]
                )
            ).alias("sd"),
        ).select("query_id", "code", F.col("sd.sub").alias("sub"), F.col("sd.d").alias("d"))
    )
    # d values are 6-dp-rounded: sum them exactly as integer micro-units
    # so the total is independent of partial-agg addition order
    scored = (
        code_rows.join(lut, ["sub", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(round(d * 1000000) AS BIGINT)) AS DOUBLE) / 1000000"
            ).alias("approx_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("neighbor_id"))
    return scored.select(
        "query_id", "neighbor_id", "approx_dist", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= TOP_K)


PQ_ADC_SQL = f"""
WITH {_PQ_BASE_CTES},
q AS (
  SELECT vec_id AS query_id, emb AS q_emb FROM emb WHERE vec_id < {N_QUERIES}
),
lut AS (
{" UNION ALL ".join(
    f'''  SELECT q.query_id, c.cid AS code, {s} AS sub, {_sql_l2sq(s, "q.q_emb")} AS d
  FROM q CROSS JOIN cent c'''
    for s in range(PQ_SUBSPACES))}
),
scored AS (
  SELECT l.query_id, cr.vec_id AS neighbor_id,
         CAST(CAST(SUM(CAST(round(l.d * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000 AS approx_dist
  FROM codes cr
  JOIN lut l ON l.sub = cr.sub AND l.code = cr.code
  WHERE cr.vec_id <> l.query_id
  GROUP BY l.query_id, cr.vec_id
)
SELECT query_id, neighbor_id, approx_dist, rank FROM (
  SELECT query_id, neighbor_id, approx_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY approx_dist, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def _l2sq_full(a: str, b: str) -> F.Column:
    """Rounded squared L2 between two full array<double> columns
    (deterministic: aggregate() folds left-to-right)."""
    return F.expr(
        f"round(aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6)"
    )


def pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (residual) quantized top-5 — the IVFADC composition:
    level 1 is the coarse quantizer (each vector's nearest centroid),
    level 2 quantizes the RESIDUAL emb − centroid against a residual
    codebook, and queries rank neighbors by the reconstruction distance
    ||q − (centroid + residual_code)||².  Residuals are far smaller than
    raw vectors, so the same codebook budget quantizes them much more
    accurately than one-level PQ — the standard recall-per-byte upgrade.

    Both codebooks are deterministic data-derived families: level 1 is
    the adaptive ~sqrt(N) centroid family (vec_id % step == 0), level 2
    is the RESIDUALS of the offset family (vec_id % step == 1), so both
    engines build identical codebooks.  Encoding ties break on codebook
    id; distances round at 6 dp.

    Scale shape: both codebooks are ~sqrt(N) rows (broadcast); encoding
    is one broadcast join + per-row argmin at ingest (codes persist, 1
    long per level per vector); a query probes its top-n_probe clusters
    and builds a (probed clusters × residual codes) reconstruction LUT —
    O(sqrt(N) · n_probe) entries, broadcast — so the collection side
    touches only its two code longs, never raw vectors."""
    from pyspark.storagelevel import StorageLevel

    # The residual relation feeds THREE consumers — the codebook collect
    # at build time, the encoding mapInPandas, and the codebook side of
    # the reconstruction LUT — so without the persist the BLAS
    # assignment pass executes three times (the round-14 audit's one
    # unconfirmed row: 8 scans / 3 MapInPandas, all the same subtree).
    # Persist it once (ids + cluster + 64 doubles per row); at 100 TB
    # both levels' codes are the ingest-time artifact anyway
    # (``_gmrs_shared_caches`` lifecycle, VERDICT r14 #6).
    emb = _emb(spark, sf_dir)
    cent = _centroids(emb)
    assign = _ivf_assign(emb, cent)
    resid = (
        assign.join(F.broadcast(cent), F.col("cluster") == F.col("cid"))
        .select(
            "vec_id",
            "cluster",
            F.expr("zip_with(emb, c_emb, (x, y) -> x - y)").alias("r_emb"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rbook = resid.where(F.col("vec_id") % centroid_step(emb.count()) == 1).select(
        F.col("vec_id").alias("rid"), F.col("r_emb").alias("rb_emb")
    )
    # Residual encoding, BLAS form (same structure as _pq_codes_from but
    # full 64-dim distances): the codebook is ~sqrt(N) rows (collected —
    # the same bound that justified broadcasting it); each Arrow batch
    # computes its (batch x R) squared-L2 table by CHUNKED direct
    # difference (chunking bounds the (batch, chunk, 64) intermediate at
    # ~80 MB; the expansion identity would be cheaper but loses ~1e-13
    # to cancellation exactly at the d ~ 0 argmin region), emits the
    # (1 + PQ_CODE_SLACK) best candidate codes per vector, and the JVM
    # picks the final code by the oracle's (rounded d ASC, rid ASC).
    import numpy as np

    rb_rows = sorted(rbook.collect(), key=lambda r: r["rid"])
    rids = np.array([r["rid"] for r in rb_rows], dtype=np.int64)
    RB = np.array([r["rb_emb"] for r in rb_rows], dtype=np.float64)
    limit = min(1 + PQ_CODE_SLACK, len(rb_rows))

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            V = np.array(list(pdf["r_emb"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            clus = pdf["cluster"].to_numpy()
            d = np.empty((len(ids), len(rids)))
            for j in range(0, len(rids), 16):
                d[:, j : j + 16] = (
                    (V[:, None, :] - RB[None, j : j + 16, :]) ** 2
                ).sum(axis=2)
            order = np.argsort(d, axis=1, kind="stable")[:, :limit]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, limit),
                    "cluster": np.repeat(clus, limit),
                    "rid": rids[order].reshape(-1),
                    "d_raw": np.take_along_axis(d, order, axis=1).reshape(-1),
                }
            )

    codes = (
        resid.mapInPandas(
            encode, schema="vec_id long, cluster long, rid long, d_raw double"
        )
        .groupBy("vec_id", "cluster")
        .agg(F.expr("min_by(rid, struct(round(d_raw, 6), rid))").alias("code"))
    )
    # probe pass: top-n_probe clusters per query (the shared walk)
    n_probe = ivf_n_probe(cent.count())
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    probed = _probe_walk(q, cent).where(F.col("prn") <= n_probe)
    # reconstruction LUT: one distance per (query, probed cluster, code)
    lut = F.broadcast(
        probed.join(F.broadcast(rbook))
        .select(
            "query_id",
            F.col("cid").alias("cluster"),
            F.col("rid").alias("code"),
            _l2sq_full(
                "q_emb", "zip_with(c_emb, rb_emb, (x, y) -> x + y)"
            ).alias("d"),
        )
    )
    scored = (
        codes.join(lut, ["cluster", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("d").alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    out = scored.select(
        "query_id", "neighbor_id", "approx_dist",
        F.row_number().over(w).alias("rank"),
    ).where(F.col("rank") <= TOP_K)
    return with_shared_caches(out, resid)


def _sql_l2sq_full(a: str, b: str) -> str:
    """DuckDB rounded squared L2 over two full DOUBLE[] expressions."""
    return (
        f"round(list_sum(list_transform(range(1, {EMB_DIM} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
    )


PQ_RESIDUAL_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
assign AS (
  SELECT vec_id, emb, cluster, c_emb FROM (
    SELECT e.vec_id, e.emb, c.cid AS cluster, c.c_emb,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.emb, c.c_emb), 6) DESC,
                                       c.cid) AS arn
    FROM emb e CROSS JOIN cent c
  ) WHERE arn = 1
),
resid AS (
  SELECT vec_id, cluster,
         list_transform(range(1, {EMB_DIM} + 1), i -> emb[i] - c_emb[i]) AS r_emb
  FROM assign
),
rbook AS (
  SELECT vec_id AS rid, r_emb AS rb_emb FROM resid
  WHERE vec_id % (SELECT st FROM stepc) = 1
),
codes AS (
  SELECT vec_id, cluster, rid AS code FROM (
    SELECT r.vec_id, r.cluster, b.rid,
           ROW_NUMBER() OVER (PARTITION BY r.vec_id
                              ORDER BY {_sql_l2sq_full("r.r_emb", "b.rb_emb")}, b.rid) AS rn
    FROM resid r CROSS JOIN rbook b
  ) WHERE rn = 1
),
probed AS (
  SELECT query_id, q_emb, cid, c_emb FROM (
    SELECT q.vec_id AS query_id, q.emb AS q_emb, c.cid, c.c_emb,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND(list_cosine_similarity(q.emb, c.c_emb), 6) DESC,
                                       c.cid) AS prn
    FROM emb q CROSS JOIN cent c
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE prn <= {_N_PROBE_SQL}
),
lut AS (
  SELECT p.query_id, p.cid AS cluster, b.rid AS code,
         {_sql_l2sq_full("p.q_emb",
                         f"list_transform(range(1, {EMB_DIM} + 1), j -> p.c_emb[j] + b.rb_emb[j])")} AS d
  FROM probed p CROSS JOIN rbook b
),
scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, l.d AS approx_dist
  FROM codes c
  JOIN lut l ON l.cluster = c.cluster AND l.code = c.code
  WHERE c.vec_id <> l.query_id
)
SELECT query_id, neighbor_id, approx_dist, rank FROM (
  SELECT query_id, neighbor_id, approx_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY approx_dist, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, long format (label, dim, centroid_val)
    — the class-centroid primitive behind IVF init, nearest-centroid
    classification, and embedding-drift monitoring.

    posexplode fans each vector into (label, dim, val) — narrow, no
    shuffle — then one partial-agg groupBy(label, dim) whose shuffle
    carries labels × dims rows total regardless of corpus size.  The
    per-dim sums are exact DECIMAL(28,12) (float inputs widen to ~12
    significant digits; decimal addition is fold-order invariant), so
    the mean is bit-identical across engines and partitionings;
    `+ 0.0` normalizes a rounded -0.0.  At 100 TB this is THE shape for
    any per-group vector mean: never collect vectors, explode + sum."""
    e = _emb(spark, sf_dir)
    return (
        e.select("label", F.posexplode("emb").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.count("*").alias("n"),
            F.expr("SUM(CAST(v AS DECIMAL(28,12)))").alias("s"),
        )
        .select(
            "label",
            "dim",
            "n",
            F.expr("ROUND(CAST(s AS DOUBLE) / n, 6) + 0.0").alias("centroid_val"),
        )
    )


LABEL_CENTROIDS_SQL = """
WITH expl AS (
  SELECT label, u.dim - 1 AS dim, u.v
  FROM embeddings,
       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                       generate_subscripts(embedding, 1) AS dim) u
)
SELECT label, dim, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) + 0.0
         AS centroid_val
FROM expl
GROUP BY label, dim
"""


def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification confusion matrix: assign every
    vector to its closest per-label centroid (squared L2) and count
    (true_label, pred_label) cells — the cheap embedding-quality probe
    run after any re-embedding at scale.

    The ROUNDED centroids from :func:`label_centroids` are the shared
    classifier parameters (6-dp values identical across engines), and
    the distance sums are exact DECIMAL(38,18) so per-vector argmins are
    deterministic; ties break on pred_label.  Shape: the centroid table
    (labels × dims) broadcasts; the exploded vector stream joins it on
    dim and partial-aggregates to (vec, candidate-label) — shuffle rows
    = |vectors| × |labels|, never |vectors|²."""
    cent = label_centroids(spark, sf_dir).select(
        F.col("label").alias("pred_label"), "dim", "centroid_val"
    )
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", F.posexplode("emb").alias("dim", "v")
    )
    d2 = (
        e.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "pred_label")
        .agg(
            F.expr(
                "ROUND(CAST(SUM(CAST((v - centroid_val) * (v - centroid_val)"
                " AS DECIMAL(38,18))) AS DOUBLE), 6)"
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "pred_label")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy(F.col("label").alias("true_label"), "pred_label")
        .agg(F.count("*").alias("n_vecs"))
    )


NEAREST_CENTROID_SQL = f"""
WITH cent AS (
  {LABEL_CENTROIDS_SQL.strip()}
),
expl AS (
  SELECT vec_id, label, u.dim - 1 AS dim, u.v
  FROM embeddings,
       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                       generate_subscripts(embedding, 1) AS dim) u
),
d2 AS (
  SELECT e.vec_id, e.label AS true_label, c.label AS pred_label,
         ROUND(CAST(SUM(CAST((e.v - c.centroid_val) * (e.v - c.centroid_val)
                             AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
  FROM expl e JOIN cent c ON e.dim = c.dim
  GROUP BY e.vec_id, e.label, c.label
),
pred AS (
  SELECT vec_id, true_label, pred_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2, pred_label) AS rn
  FROM d2
)
SELECT true_label, pred_label, COUNT(*) AS n_vecs
FROM pred WHERE rn = 1
GROUP BY true_label, pred_label
"""


#: Random-hyperplane LSH: number of sign bits (2^6 = 64 buckets over the
#: 2000-vector fixture, ~30 candidates per bucket).  Plane weights are
#: md5-derived rationals computed ONCE in python and inlined as literals
#: into both engines — bit-identical by construction.
RP_PLANES = 6


def _rp_weights() -> list[tuple[int, int, float]]:
    import hashlib

    out = []
    for p in range(RP_PLANES):
        for d in range(EMB_DIM):
            h = int(hashlib.md5(f"rp:{p}:{d}".encode()).hexdigest()[:8], 16)
            out.append((p, d, (h % 2001 - 1000) / 1000.0))
    return out


def lsh_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k via random-hyperplane LSH bucketing — the
    LSH-bucketed alternative to the IVF scale path: bucket = the sign
    pattern of {RP_PLANES} fixed hyperplane projections, candidates =
    same-bucket vectors only, then exact cosine rerank.

    Projections are exact DECIMAL(38,18) dot products (3-dp plane
    weights × double components — fold-order invariant), so bucket ids
    are deterministic in both engines.  Scale: bucketing is one narrow
    projection pass + a (vec, plane)-keyed partial agg; the search join
    is bucket-equality, never all-pairs; recall grows with multi-probe
    (flip one bit) exactly like IVF's nprobe — same recipe, no learned
    centroids to maintain."""
    planes = F.broadcast(
        spark.createDataFrame(_rp_weights(), "p int, d int, w double")
    )
    e = _emb(spark, sf_dir)
    expl = e.select("vec_id", F.posexplode("emb").alias("d", "v"))
    dots = (
        expl.join(planes, "d")
        .groupBy("vec_id", "p")
        .agg(F.expr("SUM(CAST(v * w AS DECIMAL(38,18)))").alias("dot"))
    )
    buckets = dots.groupBy("vec_id").agg(
        F.expr(
            "CAST(SUM(CASE WHEN dot > 0 THEN CAST(shiftleft(1, p) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END) AS BIGINT)"
        ).alias("bucket")
    )
    eb = e.join(buckets, "vec_id")
    q = eb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        "bucket",
    )
    cand = eb.join(F.broadcast(q), "bucket").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos("q_emb", "emb").alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return scored.select(
        "query_id", "neighbor_id", "sim", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= TOP_K)


def _rp_values_sql() -> str:
    return ", ".join(f"({p}, {d}, {w!r})" for p, d, w in _rp_weights())


LSH_RP_SQL = f"""
WITH planes(p, d, w) AS (
  VALUES {_rp_values_sql()}
),
emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
expl AS (
  SELECT vec_id, u.dim - 1 AS d, u.v
  FROM embeddings,
       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                       generate_subscripts(embedding, 1) AS dim) u
),
dots AS (
  SELECT e.vec_id, pl.p,
         SUM(CAST(e.v * CAST(pl.w AS DOUBLE) AS DECIMAL(38,18))) AS dot
  FROM expl e JOIN planes pl ON e.d = pl.d
  GROUP BY e.vec_id, pl.p
),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
           AS bucket
  FROM dots GROUP BY vec_id
),
eb AS (
  SELECT e.vec_id, e.emb, b.bucket FROM emb e JOIN buckets b USING (vec_id)
),
q AS (
  SELECT vec_id AS query_id, emb AS q_emb, bucket
  FROM eb WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.q_emb, c.emb), 6) AS sim
  FROM q JOIN eb c USING (bucket)
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against exact brute force, per query —
    the number that decides whether an ANN config ships.  Joins the two
    top-k sets on (query, neighbor); a query whose probed clusters
    missed every true neighbor still appears (recall 0) via the left
    join.  Scale: both sides are top-k outputs (queries × k rows), so
    the recall join is trivially small no matter the collection size —
    the expensive part is the exact side, which is why production runs
    it on a sampled query set (the N_QUERIES bound here).

    The exact top-k feeds TWO consumers (the hit join and the per-query
    denominator), and before round 15 that meant the whole brute-force
    collection scan executed twice per action (the round-14 full-registry
    plan audit: 8 scans / 2 SMJs); it is now persisted once — queries × k
    rows, the cheapest possible cache — and the two downstream joins
    broadcast their bounded sides, so nothing in the plan sorts
    (VERDICT r14 #2c; ``_gmrs_shared_caches`` lifecycle).  The shared
    (vec_id, emb, label) projection is persisted too — the recall-audit
    treatment (quant_tier_recall's docstring): the cache manager
    substitutes it into both sides' internal ``_emb`` calls by
    canonical-plan matching, so the exact AND approximate subtrees read
    the embeddings parquet once between them."""
    from pyspark.storagelevel import StorageLevel

    shared_emb = _emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    exact = (
        knn_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    approx = ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("h"))
    )
    ks = exact.groupBy("query_id").agg(F.count("*").alias("k"))
    nh = F.coalesce(F.col("h"), F.lit(0))
    out = (
        ks.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            nh.cast("long").alias("n_hits"),
            F.round(nh.cast("double") / F.col("k"), 6).alias("recall_at_k"),
        )
    )
    return with_shared_caches(out, shared_emb, exact)


ANN_RECALL_SQL = f"""
WITH exact_k AS (
  {KNN_SQL.strip()}
),
approx_k AS (
  {ANN_IVF_SQL.strip()}
),
hits AS (
  SELECT e.query_id, COUNT(*) AS h
  FROM exact_k e JOIN approx_k a USING (query_id, neighbor_id)
  GROUP BY e.query_id
),
ks AS (
  SELECT query_id, COUNT(*) AS k FROM exact_k GROUP BY query_id
)
SELECT ks.query_id,
       CAST(COALESCE(h, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h, 0) AS DOUBLE) / k, 6) AS recall_at_k
FROM ks LEFT JOIN hits USING (query_id)
"""


def _int8_coded(emb: DataFrame) -> DataFrame:
    """Affine per-dimension int8 coding of the collection (global
    min/max → codes in [0, 255]) — shared by int8_quant_topk and the
    IVF composition.  One reduction to a broadcast 1-row stats table,
    then a narrow map over the collection."""
    stats = (
        emb.select(F.posexplode("emb").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)"
            ).alias("mins"),
            F.expr(
                "transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)"
            ).alias("maxs"),
        )
    )
    qcode = F.expr(
        "zip_with(emb, sequence(0, size(emb) - 1), (x, i) -> "
        "CASE WHEN maxs[i] = mins[i] THEN CAST(0 AS BIGINT) "
        "ELSE least(CAST(255 AS BIGINT), CAST(floor("
        "(x - mins[i]) / (maxs[i] - mins[i]) * 255) AS BIGINT)) END)"
    )
    return emb.crossJoin(F.broadcast(stats)).select("vec_id", qcode.alias("code"))


def int8_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized exact top-5: every embedding is affine-coded to
    per-dimension 8-bit integers (global per-dim min/max → code in
    [0, 255]), and neighbor ranking runs entirely in integer L2 over the
    codes.  This is the int8 compression tier between raw floats and PQ:
    4× smaller vectors, SIMD-friendly integer distance, no codebook.

    Determinism: min/max are exact float reductions, the affine map is
    evaluated in IEEE double identically by both engines, floor() makes
    the code integer-exact, and distances are integer sums with id
    tie-break — so the oracle reproduces the ranking bit-for-bit.

    Scale shape: the stats pass is one partial-agg'd reduction to 64
    rows; quantization is a map over the collection against the
    broadcast 1-row stats; ranking is the same broadcast-queries scan as
    knn_bruteforce with per-partition top-k before the final window.  At
    100 TB the codes (64 B/vector) are what you persist; raw floats are
    read once at ingest."""
    emb = _emb(spark, sf_dir)
    coded = _int8_coded(emb)
    q = F.broadcast(
        coded.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("code").alias("q_code")
        )
    )
    idist = F.expr(
        "aggregate(zip_with(q_code, code, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    scored = coded.join(q, F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), idist.alias("qdist")
    )
    w = Window.partitionBy("query_id").orderBy("qdist", "neighbor_id")
    return scored.select(
        "query_id", "neighbor_id", "qdist", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= TOP_K)


INT8_QUANT_SQL = f"""
WITH pv AS (
  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
),
stats AS (
  SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM pv GROUP BY pos
),
qv AS (
  SELECT vec_id, pos,
         CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
              ELSE LEAST(CAST(255 AS BIGINT),
                         CAST(floor((val - mn) / (mx - mn) * 255) AS BIGINT))
         END AS q
  FROM pv JOIN stats USING (pos)
),
dist AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS qdist
  FROM qv a JOIN qv b USING (pos)
  WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, qdist, rank FROM (
  SELECT query_id, neighbor_id, qdist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY qdist, neighbor_id) AS rank
  FROM dist
)
WHERE rank <= {TOP_K}
"""


def ivf_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × int8 composition — the memory-tier stack a production ANN
    index actually runs: the coarse quantizer prunes WHICH vectors are
    scored (probe top-n_probe clusters, exactly ann_ivf_topk's shape),
    and the int8 codes decide HOW they are scored (integer L2 over
    4×-compressed codes, exactly int8_quant_topk's metric).  Probing is
    done with raw query vectors against the broadcast centroids; the
    collection side stores (cluster, code) — its raw floats are read
    only at ingest.

    Scale: combines the two components' stories — partition pruning by
    cluster id cuts candidates to ~n_probe/C of N, and each candidate
    costs an integer SIMD distance over 64 bytes instead of 512.  Both
    composition inputs are already driver-certified separately, so this
    query pins that their composition stays exact (same oracle recipe,
    composed CTEs).  The probe relation (queries × n_probe rows) and
    the query-code table both BROADCAST into the candidate join, so the
    only remaining shuffle join is assign⋈coded on vec_id — N×N but
    co-partitionable at ingest (cluster+codes written side by side);
    pre-retrofit AQE planned the probes join as a SortMergeJoin that
    sorted the whole coded collection (VERDICT r13 #1).  The coded
    relation feeds TWO consumers (the collection side and the
    broadcast query codes), so it is persisted once — its own
    docstring's "the codes ARE what you persist" story made literal:
    one stats reduction + one coding map instead of two of each
    (``_gmrs_shared_caches`` lifecycle)."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir)
    cent = _centroids(emb)
    assign = _ivf_assign(emb, cent).select("vec_id", "cluster")
    coded = _int8_coded(emb).persist(StorageLevel.MEMORY_AND_DISK)
    cassign = assign.join(coded, "vec_id")
    n_probe = ivf_n_probe(cent.count())
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    probes = (
        _probe_walk(q, cent)
        .where(F.col("prn") <= n_probe)
        .select("query_id", F.col("cid").alias("cluster"))
    )
    q_codes = F.broadcast(
        coded.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("code").alias("q_code")
        )
    )
    idist = F.expr(
        "aggregate(zip_with(q_code, code, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    scored = (
        F.broadcast(probes).join(cassign, "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(q_codes, "query_id")
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), idist.alias("qdist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("qdist", "neighbor_id")
    out = scored.select(
        "query_id", "neighbor_id", "qdist", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= TOP_K)
    return with_shared_caches(out, coded)


IVF_INT8_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
assign AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.emb, c.c_emb), 6) DESC,
                                       c.cid) AS arn
    FROM emb e CROSS JOIN cent c
  ) WHERE arn = 1
),
pv AS (
  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
),
stats AS (
  SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM pv GROUP BY pos
),
qv AS (
  SELECT vec_id, pos,
         CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
              ELSE LEAST(CAST(255 AS BIGINT),
                         CAST(floor((val - mn) / (mx - mn) * 255) AS BIGINT))
         END AS q
  FROM pv JOIN stats USING (pos)
),
probes AS (
  SELECT query_id, cid AS cluster FROM (
    SELECT q.vec_id AS query_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND(list_cosine_similarity(q.emb, c.c_emb), 6) DESC,
                                       c.cid) AS prn
    FROM emb q CROSS JOIN cent c
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE prn <= {_N_PROBE_SQL}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a USING (cluster)
  WHERE a.vec_id <> p.query_id
),
dist AS (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         CAST(SUM((qa.q - qb.q) * (qa.q - qb.q)) AS BIGINT) AS qdist
  FROM cand c
  JOIN qv qa ON qa.vec_id = c.query_id
  JOIN qv qb ON qb.vec_id = c.vec_id AND qb.pos = qa.pos
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, neighbor_id, qdist, rank FROM (
  SELECT query_id, neighbor_id, qdist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY qdist, neighbor_id) AS rank
  FROM dist
)
WHERE rank <= {TOP_K}
"""


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding training: for each query
    vector, the top-{TOP_K} most similar vectors with a DIFFERENT label
    — the highest-value negatives a contrastive trainer can sample
    (random negatives are trivially separable; hard ones carry the
    gradient).  Same broadcast-queries single-scan shape as
    knn_bruteforce with the label predicate applied before ranking, so
    at scale it composes with the IVF probe exactly like the positive
    path does."""
    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("label").alias("q_label"),
        )
    )
    scored = (
        emb.join(
            q,
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("q_label")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            _cos("q_emb", "emb").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neg_id"))
    return scored.select(
        "query_id", "neg_id", "neg_label", "sim",
        F.row_number().over(w).alias("rank"),
    ).where(F.col("rank") <= TOP_K)


HARD_NEGATIVES_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neg_id, e.label AS neg_label,
         ROUND(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]), 6) AS sim
  FROM q JOIN embeddings e
    ON e.vec_id <> q.query_id AND e.label <> q.q_label
)
SELECT query_id, neg_id, neg_label, sim, rank FROM (
  SELECT query_id, neg_id, neg_label, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neg_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution profile of the embedding collection
    (count, exact mean, sample std, min, max) — the drift monitor and
    whitening input an embedding pipeline recomputes after every
    re-embed; also exactly the stats table int8 quantization consumes.

    Exactness: per-dim sums accumulate as DECIMAL(28,12) /
    DECIMAL(38,18) (fold-order invariant), mirroring label_centroids'
    discipline, so means/stds are bit-identical across engines and
    partitionings.  One narrow posexplode + one partial-agg'd exchange
    carrying dims × (two decimals + two doubles)."""
    e = _emb(spark, sf_dir)
    return (
        e.select(F.posexplode("emb").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.expr("SUM(CAST(v AS DECIMAL(28,12)))").alias("s1"),
            F.expr("SUM(CAST(v * v AS DECIMAL(38,18)))").alias("s2"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .select(
            "dim",
            "n",
            F.expr("ROUND(CAST(s1 AS DOUBLE) / n, 6) + 0.0").alias("dim_mean"),
            F.expr(
                "ROUND(SQRT(GREATEST((CAST(s2 AS DOUBLE)"
                " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)"
                " / NULLIF(n - 1, 0), 0.0)), 6)"
            ).alias("dim_std"),
            F.round(F.col("mn"), 6).alias("dim_min"),
            F.round(F.col("mx"), 6).alias("dim_max"),
        )
    )


EMBEDDING_DIM_STATS_SQL = """
WITH expl AS (
  SELECT u.dim - 1 AS dim, CAST(u.v AS DOUBLE) AS v
  FROM embeddings,
       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                       generate_subscripts(embedding, 1) AS dim) u
)
SELECT dim, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) + 0.0
         AS dim_mean,
       ROUND(SQRT(GREATEST((CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)
                            - CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                              * CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                              / COUNT(*))
                           / NULLIF(COUNT(*) - 1, 0), 0.0)), 6) AS dim_std,
       ROUND(MIN(v), 6) AS dim_min,
       ROUND(MAX(v), 6) AS dim_max
FROM expl
GROUP BY dim
"""


OUTLIER_TOP = 3


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection: the {OUTLIER_TOP} vectors FARTHEST from
    their own label's centroid, per label — the mislabeled-example
    candidates a training pipeline surfaces for relabeling/dropping
    after every re-embed (high centroid distance within your own class
    is the classic noisy-label signal).

    Reuses label_centroids' exact rounded centroids; distances are
    DECIMAL(38,18)-exact sums (deterministic argsort), ties break on
    vec_id.  Shape: the centroid table broadcasts, the exploded vector
    stream partial-aggregates to one distance row per vector, and the
    top-k window runs per label."""
    cent = label_centroids(spark, sf_dir).select(
        F.col("label").alias("c_label"), "dim", "centroid_val"
    )
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", F.posexplode("emb").alias("dim", "v")
    )
    d2 = (
        e.join(
            F.broadcast(cent),
            (F.col("label") == F.col("c_label")) & (e.dim == cent.dim),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.expr(
                "ROUND(CAST(SUM(CAST((v - centroid_val) * (v - centroid_val)"
                " AS DECIMAL(38,18))) AS DOUBLE), 6)"
            ).alias("d2")
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2"), F.asc("vec_id"))
    return (
        d2.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= OUTLIER_TOP)
        .select("label", "vec_id", "d2", "rank")
    )


EMBEDDING_OUTLIERS_SQL = f"""
WITH cent AS (
  {LABEL_CENTROIDS_SQL.strip()}
),
expl AS (
  SELECT vec_id, label, u.dim - 1 AS dim, u.v
  FROM embeddings,
       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                       generate_subscripts(embedding, 1) AS dim) u
),
d2 AS (
  SELECT e.vec_id, e.label,
         ROUND(CAST(SUM(CAST((e.v - c.centroid_val) * (e.v - c.centroid_val)
                             AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
  FROM expl e JOIN cent c ON e.label = c.label AND e.dim = c.dim
  GROUP BY e.vec_id, e.label
)
SELECT label, vec_id, d2, rank FROM (
  SELECT label, vec_id, d2,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS rank
  FROM d2
)
WHERE rank <= {OUTLIER_TOP}
"""


#: Votes per query for the kNN classifier — larger than TOP_K so the
#: majority is meaningful over the 10-label fixture space.
VOTE_K = 15


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label classifier: predict each query vector's label as the
    majority label among its {VOTE_K} exact nearest neighbors — the
    label-propagation / weak-annotation primitive a training pipeline
    uses to label unlabeled data from a labeled seed set.

    Output: (query_id, true_label, predicted_label, votes) — comparing
    true vs predicted is the self-consistency audit (cf. the
    nearest-centroid confusion matrix, which does the same at centroid
    granularity).

    Scale shape: identical to knn_bruteforce — the query side broadcasts
    and the collection streams through one scan; the vote is a tiny
    groupBy over Q×{VOTE_K} rows.  Ties break on the smaller label id so
    the prediction is deterministic cross-engine."""
    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("label").alias("true_label"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    neigh = (
        emb.join(q, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
            _cos("q_emb", "emb").alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= VOTE_K)
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("n_label")
    )
    return (
        neigh.groupBy("query_id", "true_label", "n_label")
        .agg(F.count("*").alias("votes"))
        .withColumn("vrn", F.row_number().over(vw))
        .where(F.col("vrn") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("n_label").alias("predicted_label"),
            "votes",
        )
    )


KNN_LABEL_VOTE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb, label AS true_label
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
neigh AS (
  SELECT query_id, true_label, n_label FROM (
    SELECT q.query_id, q.true_label, e.label AS n_label,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]), 6) DESC,
                      e.vec_id) AS rank
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  ) WHERE rank <= {VOTE_K}
)
SELECT query_id, true_label, n_label AS predicted_label, votes FROM (
  SELECT query_id, true_label, n_label, COUNT(*) AS votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY COUNT(*) DESC, n_label) AS vrn
  FROM neigh
  GROUP BY query_id, true_label, n_label
)
WHERE vrn = 1
"""


#: Matryoshka evaluation: rank by the first MRL_DIM of EMB_DIM
#: dimensions and measure what survives vs the full-dimension truth.
MRL_DIM = 16


def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval audit: rank top-{TOP_K} by cosine
    over only the first {MRL_DIM} of {EMB_DIM} dims, then report per
    query how much of the full-dimension exact top-{TOP_K} it recovers —
    the acceptance gate for serving matryoshka-truncated embeddings
    (store/search {MRL_DIM} floats, keep the full vector only for
    re-ranking).

    Scale shape: both ranking passes run through knn_batched_scored —
    one BLAS matmul per Arrow batch with a batch-local top-(k+slack)
    cut, the truncated side on the first {MRL_DIM} dims (at rest, a
    column of truncated vectors — or parquet byte-range reads — makes
    the 4x byte saving real I/O); the recall join is queries x k rows.
    Results are identical to the _cos window form (the
    knn_batched_scored exactness argument; knn_numpy_batched ==
    knn_bruteforce is test-pinned), so the oracle keeps the
    straightforward windowed shape."""

    def topk(dims):
        scored = knn_batched_scored(spark, sf_dir, dims=dims).select(
            "query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    trunc_k = topk(MRL_DIM)
    exact = topk(None)
    hits = (
        exact.join(trunc_k, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("h"))
    )
    ks = exact.groupBy("query_id").agg(F.count("*").alias("k"))
    nh = F.coalesce(F.col("h"), F.lit(0))
    return ks.join(hits, "query_id", "left").select(
        "query_id",
        nh.cast("long").alias("n_hits"),
        F.round(nh.cast("double") / F.col("k"), 6).alias("recall_at_k"),
    )


MATRYOSHKA_SQL = f"""
WITH exact_k AS (
  {KNN_SQL.strip()}
),
tq AS (
  SELECT vec_id AS query_id, (embedding::DOUBLE[])[1:{MRL_DIM}] AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
trunc_k AS (
  SELECT query_id, neighbor_id FROM (
    SELECT tq.query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY tq.query_id
             ORDER BY ROUND(list_cosine_similarity(
                        tq.q_emb, (e.embedding::DOUBLE[])[1:{MRL_DIM}]), 6) DESC,
                      e.vec_id) AS rank
    FROM tq JOIN embeddings e ON e.vec_id <> tq.query_id
  ) WHERE rank <= {TOP_K}
),
hits AS (
  SELECT e.query_id, COUNT(*) AS h
  FROM exact_k e JOIN trunc_k t USING (query_id, neighbor_id)
  GROUP BY e.query_id
),
ks AS (
  SELECT query_id, COUNT(*) AS k FROM exact_k GROUP BY query_id
)
SELECT ks.query_id,
       CAST(COALESCE(h, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h, 0) AS DOUBLE) / k, 6) AS recall_at_k
FROM ks LEFT JOIN hits USING (query_id)
"""


#: 0.05-wide cosine bins for the threshold-tuning curve.
CURVE_BINS = 20


def _cluster_pair_hist(assign: DataFrame) -> DataFrame:
    """Per-cluster cosine-bin histogram computed INSIDE the gram-matrix
    worker: each applyInPandas group emits at most {CURVE_BINS}+1
    (cos_bin, n_pairs) rows instead of one row per qualifying pair.
    This is the difference between the curve scaling like the blocked
    pair product's OUTPUT (O(pairs above floor) rows across the Arrow
    boundary — at the 100x replicated probe that was ~2e8 rows and the
    job did not finish in 18 minutes) and scaling like its COMPUTE
    (the gram matmul, with O(clusters × bins) rows leaving Python —
    the same run completes in seconds).

    Parity with the pair-level form: the bin is floor(round_half_up(
    cos, 6) × {CURVE_BINS}) for rounded cos >= 0, where half-up
    rounding of the non-negative float64 cosine is floor(x·1e6 + 0.5)
    — the same value the JVM's ROUND(HALF_UP) and DuckDB's ROUND
    produce; BLAS and the engines' cosine folds differ by <= 1e-14,
    far inside the 1e-6 quantum (the standing BLAS-path argument;
    tests pin the curve against the raw-pair oracle at two SFs)."""
    import numpy as np

    def hist(key, pdf):
        import pandas as pd

        V = np.array(list(pdf["emb"]), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        nrm = np.linalg.norm(V, axis=1, keepdims=True)
        nz = nrm[:, 0] > 0.0
        Vn = V / np.where(nrm == 0.0, 1.0, nrm)
        sims = Vn @ Vn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        cs = sims[iu, ju]
        ok = nz[iu] & nz[ju]
        # half-up 6-dp rounding (valid for cs >= -0.5e-6; more-negative
        # pairs are dropped by the >= 0 filter either way)
        rounded = np.floor(cs * 1e6 + 0.5) / 1e6
        keep = ok & (rounded >= 0.0)
        bins = np.minimum(
            np.floor(rounded[keep] * CURVE_BINS).astype(np.int64), CURVE_BINS
        )
        b, n = np.unique(bins, return_counts=True)
        return pd.DataFrame({"cos_bin": b.astype(np.int32), "n_pairs": n})

    return assign.groupBy("cluster").applyInPandas(
        hist, schema="cos_bin int, n_pairs long"
    )


def emb_cos_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning curve for the semantic-dedup family — the
    calibration chart that justifies (or re-tunes) NEARDUP_COS, exactly
    as minhash_calibration justifies the MinHash threshold: bin every
    within-cluster pair cosine (>= 0) into 0.05-wide bins and report
    per-bin pair counts plus the cumulative pairs at-or-above each bin
    — i.e. how many "duplicates" each candidate threshold would
    declare.  Run after every embedding-model or centroid refresh; a
    threshold on the curve's steep shoulder is unstable, one past the
    knee is safe.

    Scale shape: the same blocked BLAS gram pass as emb_neardup_pairs,
    but the histogram is folded INSIDE the worker
    (:func:`_cluster_pair_hist`) — O(clusters × bins) rows ever leave
    Python, so the curve costs the gram compute, not the pair output
    (the pair-level form did not finish the 100x probe; this one runs
    in seconds).  The final aggregate and cumulative window run over
    <= {CURVE_BINS}+1 rows."""
    emb = _emb(spark, sf_dir)
    assign = _ivf_assign(emb, _centroids(emb))
    bins = (
        _cluster_pair_hist(assign)
        .groupBy("cos_bin")
        .agg(F.sum("n_pairs").cast("bigint").alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.desc("cos_bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return bins.select(
        "cos_bin",
        F.round(F.col("cos_bin") / CURVE_BINS, 6).alias("bin_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("n_at_or_above"),
    )


EMB_COS_CURVE_SQL = f"""
WITH {EMB_ASSIGN_CTES},
p AS (
  SELECT ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cs
  FROM assign a
  JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) >= 0.0
),
bins AS (
  SELECT CAST(FLOOR(cs * {CURVE_BINS}) AS INT) AS cos_bin,
         COUNT(*) AS n_pairs
  FROM p GROUP BY 1
)
SELECT cos_bin,
       ROUND(CAST(cos_bin AS DOUBLE) / {CURVE_BINS}, 6) AS bin_lo,
       n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY cos_bin DESC ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_at_or_above
FROM bins
"""


def ivf_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health diagnostics: per coarse cluster, its member
    count and the mean/min cosine of members to their centroid — the
    balance/coherence table that decides when to re-train centroids or
    re-shard partitions (a skewed or incoherent cluster is exactly what
    degrades both ANN recall and SemDeDup blocking).  At 100 TB this is
    the table you chart after every centroid refresh.

    Scale shape: the assignment is the shared BLAS pass against
    broadcast ~sqrt(N) centroids; the member→centroid cosine is one
    JVM fold per vector against its OWN centroid only (N cosines, not
    N×C — the broadcast join is on cluster id); the rollup is one
    partial-agg'd exchange with ~sqrt(N) output rows.  Mean cosine sums
    exact DECIMAL(18,6) over the rounded values — partition-order
    independent, the established avg convention."""
    emb = _emb(spark, sf_dir)
    cent = _centroids(emb)
    assign = _ivf_assign(emb, cent)
    c = cent.select(F.col("cid").alias("cluster"), "c_emb")
    scored = assign.join(F.broadcast(c), "cluster").select(
        "cluster", _cos("emb", "c_emb").alias("cos_c")
    )
    return scored.groupBy("cluster").agg(
        F.count("*").alias("n_vecs"),
        F.expr(
            "round(CAST(SUM(CAST(cos_c AS DECIMAL(18,6))) AS DOUBLE)"
            " / COUNT(*), 6)"
        ).alias("avg_cos"),
        F.min("cos_c").alias("min_cos"),
    )


IVF_CLUSTER_STATS_SQL = f"""
WITH {EMB_ASSIGN_CTES}
SELECT a.cluster,
       COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(ROUND(list_cosine_similarity(a.emb, c.c_emb), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_cos,
       MIN(ROUND(list_cosine_similarity(a.emb, c.c_emb), 6)) AS min_cos
FROM assign a JOIN cent c ON c.cid = a.cluster
GROUP BY a.cluster
"""


def kmeans_refine_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement step over the IVF coarse quantizer: assign
    every vector to its nearest centroid (the shared BLAS pass), then
    recompute each centroid as its members' mean and report the
    per-cluster L2 drift — the "should we retrain the index"
    convergence readout, and the building block a full k-means trainer
    iterates (ivf_cluster_stats charts coherence; this measures how far
    the quantizer is from its own data's optimum).

    Scale shape: the mean is computed per (cluster, dim) via posexplode
    + one partial-agg'd exchange — the distributed way to average
    vectors when rows × dims no longer fit a single aggregate buffer;
    output is ~sqrt(N) rows.  Cross-engine determinism: per-value sums
    are exact DECIMAL(28,14); the drift's per-dim squared differences
    are rounded to 12 dp and decimal-summed, so the only float ops
    divide/sqrt engine-identical doubles."""
    emb = _emb(spark, sf_dir)
    cent = _centroids(emb)
    assign = _ivf_assign(emb, cent)
    dims = assign.select(
        "cluster", F.posexplode("emb").alias("dim", "val")
    )
    means = dims.groupBy("cluster", "dim").agg(
        (
            F.sum(F.col("val").cast("decimal(28,14)")).cast("double")
            / F.count("*")
        ).alias("new_v"),
        F.count("*").alias("n"),
    )
    old = cent.select(
        F.col("cid").alias("cluster"), F.posexplode("c_emb").alias("dim", "old_v")
    )
    j = means.join(F.broadcast(old), ["cluster", "dim"])
    sq = F.round(
        (F.col("new_v") - F.col("old_v")) * (F.col("new_v") - F.col("old_v")), 12
    ).cast("decimal(24,12)")
    return j.groupBy("cluster").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.round(F.sqrt(F.sum(sq).cast("double")), 6).alias("drift_l2"),
    )


KMEANS_REFINE_SQL = f"""
WITH {EMB_ASSIGN_CTES},
dims AS (
  SELECT cluster, i - 1 AS dim, emb[i] AS val
  FROM assign, UNNEST(generate_series(1, len(emb))) AS g(i)
),
means AS (
  SELECT cluster, dim,
         CAST(SUM(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS new_v,
         COUNT(*) AS n
  FROM dims GROUP BY cluster, dim
),
old AS (
  SELECT cid AS cluster, i - 1 AS dim, c_emb[i] AS old_v
  FROM cent, UNNEST(generate_series(1, len(c_emb))) AS g(i)
)
SELECT m.cluster,
       CAST(MAX(m.n) AS BIGINT) AS n_vecs,
       ROUND(sqrt(CAST(SUM(CAST(ROUND((m.new_v - o.old_v) * (m.new_v - o.old_v), 12)
                                AS DECIMAL(24,12))) AS DOUBLE)), 6) AS drift_l2
FROM means m JOIN old o ON o.cluster = m.cluster AND o.dim = m.dim
GROUP BY m.cluster
"""


#: Hamming candidates kept per query before the exact re-rank.
BINARY_CAND = 4 * TOP_K


def binary_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval over 1-BIT sign quantization — the most
    compressed tier of the quantization ladder (float64 512 B → int8
    64 B → sign bits 8 B per vector): pack each embedding's signs into
    two 32-bit words, take the {BINARY_CAND} Hamming-nearest candidates
    per query (two XOR+popcounts per comparison — the SIMD-friendliest
    distance there is), then re-rank ONLY the candidates by exact cosine
    over the raw vectors.  This is the classic bit-index + rerank shape
    (Charikar 2002 sign-random-projection simhash, here with identity
    projections since dims are already decorrelated): at 100 TB the bit
    index is the only thing that stays memory-resident (1.25 GB per
    billion vectors), and raw floats are fetched for ~{BINARY_CAND}
    rows per query by id.

    Determinism / oracle: the bit packing is integer-exact (sum of
    distinct powers of two over sign tests), Hamming is an integer, and
    both stages tie-break on neighbor_id — so candidates and final
    ranking reproduce bit-for-bit in DuckDB.  Recall vs exact kNN is
    approximate BY DESIGN (that is the compression trade); the output
    itself is deterministic."""
    emb = _emb(spark, sf_dir)

    def pack(lo_bit: int, hi_bit: int, shift_base: int) -> F.Column:
        return F.expr(
            f"aggregate(sequence({lo_bit}, {hi_bit}), CAST(0 AS BIGINT), "
            f"(s, j) -> s + CASE WHEN element_at(emb, j) >= 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), j - {shift_base}) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )

    bits = emb.select(
        "vec_id", "emb",
        pack(1, 32, 1).alias("blo"),
        pack(33, EMB_DIM, 33).alias("bhi"),
    )
    qb = F.broadcast(
        bits.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("blo").alias("q_lo"),
            F.col("bhi").alias("q_hi"),
        )
    )
    # stage 1: the big scan touches ONLY the 8-byte bit codes
    ham = F.expr("bit_count(q_lo ^ blo) + bit_count(q_hi ^ bhi)").cast("int")
    scored = (
        bits.select("vec_id", "blo", "bhi")
        .join(qb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), ham.alias("hamming")
        )
    )
    cw = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cand = scored.withColumn("crn", F.row_number().over(cw)).where(
        F.col("crn") <= BINARY_CAND
    )
    # stage 2: raw floats are fetched by id for candidates only
    qe = F.broadcast(
        emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
        )
    )
    rer = (
        F.broadcast(cand)
        .join(emb.select(F.col("vec_id").alias("neighbor_id"), "emb"), "neighbor_id")
        .join(qe, "query_id")
        .select("query_id", "neighbor_id", "hamming", _cos("q_emb", "emb").alias("sim"))
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        rer.select(
            "query_id", "neighbor_id", "hamming", "sim",
            F.row_number().over(rw).alias("rank"),
        )
        .where(F.col("rank") <= TOP_K)
    )


BINARY_QUANT_SQL = f"""
WITH bits AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         CAST(list_sum(list_transform(range(1, 33),
              j -> CASE WHEN embedding[j] >= 0
                   THEN CAST(1 AS BIGINT) << (j - 1) ELSE CAST(0 AS BIGINT) END))
           AS BIGINT) AS blo,
         CAST(list_sum(list_transform(range(33, {EMB_DIM} + 1),
              j -> CASE WHEN embedding[j] >= 0
                   THEN CAST(1 AS BIGINT) << (j - 33) ELSE CAST(0 AS BIGINT) END))
           AS BIGINT) AS bhi
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.blo, b.blo)) + bit_count(xor(q.bhi, b.bhi)) AS INT)
           AS hamming,
         ROUND(list_cosine_similarity(q.emb, b.emb), 6) AS sim
  FROM bits q JOIN bits b ON b.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT query_id, neighbor_id, hamming, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS crn
  FROM scored
)
SELECT query_id, neighbor_id, hamming, sim, rank FROM (
  SELECT query_id, neighbor_id, hamming, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM cand WHERE crn <= {BINARY_CAND}
)
WHERE rank <= {TOP_K}
"""


def quant_tier_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE compression-tier decision table: recall@{TOP_K} against
    exact brute-force kNN for every quantized retrieval tier the engine
    ships — IVF (prune WHICH vectors are scored), int8 (4× smaller
    codes), PQ-ADC (64× smaller), and 1-bit sign codes (512× smaller) —
    in one relation.  ann_recall_at_k audits one index per query; this
    is the cross-tier summary a platform team reads to pick the
    memory/recall point before building the production index.

    Scale shape: each tier is its already-certified top-k operator
    (queries × k rows), so the recall joins and the final aggregate are
    trivially small regardless of collection size — the expensive parts
    are the tier scans themselves, each with its own documented scale
    story.  The exact side is the one brute-force pass, shared across
    all four comparisons.  The five tier subtrees all project the SAME
    (vec_id, emb, label) relation, so it is persisted once here and
    Spark's cache manager substitutes the InMemoryRelation into every
    tier's plan by canonical-plan matching — 17 parquet scans → 1 at
    sf0.1, wall 13.4 s → 4.2 s measured (VERDICT r13 #4); lifecycle
    follows the minhash_pairs_from convention (``_gmrs_shared_caches``
    handle + harness-owned clearCache)."""
    from functools import reduce

    from pyspark.storagelevel import StorageLevel

    shared_emb = _emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    truth = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    tiers = [
        ("ivf", ann_ivf_topk),
        ("int8", int8_quant_topk),
        ("pq_adc", pq_adc_topk),
        ("binary", binary_quant_topk),
    ]
    parts = [
        fn(spark, sf_dir).select(
            F.lit(name).alias("tier"), "query_id", "neighbor_id"
        )
        for name, fn in tiers
    ]
    allt = reduce(lambda a, b: a.unionByName(b), parts)
    hit = truth.withColumn("is_hit", F.lit(1))
    j = allt.join(hit, ["query_id", "neighbor_id"], "left")
    nh = F.sum(F.coalesce("is_hit", F.lit(0)))
    out = j.groupBy("tier").agg(
        F.count("*").alias("n_returned"),
        nh.cast("bigint").alias("n_hits"),
        F.round(nh.cast("double") / F.count("*"), 6).alias("recall_at_k"),
    )
    # tier fns used here (ann_ivf_topk / int8_quant_topk / pq_adc_topk /
    # binary_quant_topk) persist nothing of their own; shared_emb is the
    # only cache this op registers
    return with_shared_caches(out, shared_emb)


QUANT_TIER_RECALL_SQL = f"""
WITH truth AS (
  {KNN_SQL.strip()}
),
ivf_k AS (
  {ANN_IVF_SQL.strip()}
),
int8_k AS (
  {INT8_QUANT_SQL.strip()}
),
pq_k AS (
  {PQ_ADC_SQL.strip()}
),
bin_k AS (
  {BINARY_QUANT_SQL.strip()}
),
allt AS (
  SELECT 'ivf' AS tier, query_id, neighbor_id FROM ivf_k
  UNION ALL SELECT 'int8', query_id, neighbor_id FROM int8_k
  UNION ALL SELECT 'pq_adc', query_id, neighbor_id FROM pq_k
  UNION ALL SELECT 'binary', query_id, neighbor_id FROM bin_k
)
SELECT a.tier,
       COUNT(*) AS n_returned,
       CAST(SUM(CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_hits,
       ROUND(CAST(SUM(CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END)
                  AS DOUBLE) / COUNT(*), 6) AS recall_at_k
FROM allt a
LEFT JOIN truth t
  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
GROUP BY a.tier
"""


#: IDCG@5 with binary relevance: sum_{i=1..5} 1/log2(i+1), embedded as
#: the same double literal in the Spark plan and the oracle so the
#: normalization divisor is bit-identical in both engines.
IDCG_AT_K = 2.9484591188793923


def ann_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sensitive retrieval quality per quantization tier: MRR@k
    and NDCG@k (binary relevance against the exact brute-force top-k)
    for IVF / int8 / PQ-ADC / 1-bit codes — quant_tier_recall says how
    MANY true neighbors each tier returns; this says WHERE it puts
    them, which is what the serving layer actually pays for (a tier
    that buries every true hit at rank 5 recalls as well as one that
    leads with them, but ranks far worse).

    Determinism: per-hit reciprocal-rank and DCG contributions are
    doubles rounded to 9 dp and cast to DECIMAL(19,9), so both
    aggregation levels (per-query min/sum, per-tier sum) are exact and
    order-free; the only remaining float ops divide engine-identical
    doubles (the embedded IDCG literal).

    Scale shape: identical to quant_tier_recall — each tier is its
    certified top-k operator (queries x k rows), so everything after
    the tier scans is constant-size; the shared (vec_id, emb, label)
    projection is persisted once (see quant_tier_recall's docstring —
    17 scans → 1, wall 13.4 s → 4.2 s measured at sf0.1, VERDICT r13
    #4) with the standing ``_gmrs_shared_caches`` lifecycle."""
    from functools import reduce

    from pyspark.storagelevel import StorageLevel

    shared_emb = _emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    truth = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    tiers = [
        ("ivf", ann_ivf_topk),
        ("int8", int8_quant_topk),
        ("pq_adc", pq_adc_topk),
        ("binary", binary_quant_topk),
    ]
    parts = [
        fn(spark, sf_dir).select(
            F.lit(name).alias("tier"), "query_id", "neighbor_id", "rank"
        )
        for name, fn in tiers
    ]
    allt = reduce(lambda a, b: a.unionByName(b), parts)
    hit = truth.withColumn("is_hit", F.lit(1))
    j = allt.join(hit, ["query_id", "neighbor_id"], "left")
    per_q = j.groupBy("tier", "query_id").agg(
        F.min(F.when(F.col("is_hit") == 1, F.col("rank"))).alias("first_hit"),
        F.sum(
            F.when(
                F.col("is_hit") == 1,
                F.round(F.lit(1.0) / F.log2(F.col("rank") + 1), 9).cast(
                    "decimal(19,9)"
                ),
            )
        ).alias("dcg_dec"),
    )
    rr_dec = F.when(
        F.col("first_hit").isNotNull(),
        F.round(F.lit(1.0) / F.col("first_hit"), 9).cast("decimal(19,9)"),
    )
    out = per_q.groupBy("tier").agg(
        F.round(
            F.sum(rr_dec).cast("double") / F.lit(float(N_QUERIES)), 6
        ).alias("mrr_at_k"),
        F.round(
            F.sum("dcg_dec").cast("double")
            / F.lit(float(N_QUERIES) * IDCG_AT_K),
            6,
        ).alias("ndcg_at_k"),
    )
    return with_shared_caches(out, shared_emb)


ANN_RANK_QUALITY_SQL = f"""
WITH truth AS (
  {KNN_SQL.strip()}
),
ivf_k AS (
  {ANN_IVF_SQL.strip()}
),
int8_k AS (
  {INT8_QUANT_SQL.strip()}
),
pq_k AS (
  {PQ_ADC_SQL.strip()}
),
bin_k AS (
  {BINARY_QUANT_SQL.strip()}
),
allt AS (
  SELECT 'ivf' AS tier, query_id, neighbor_id, rank FROM ivf_k
  UNION ALL SELECT 'int8', query_id, neighbor_id, rank FROM int8_k
  UNION ALL SELECT 'pq_adc', query_id, neighbor_id, rank FROM pq_k
  UNION ALL SELECT 'binary', query_id, neighbor_id, rank FROM bin_k
),
j AS (
  SELECT a.tier, a.query_id, a.rank,
         CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS is_hit
  FROM allt a
  LEFT JOIN truth t
    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
),
per_q AS (
  SELECT tier, query_id,
         MIN(CASE WHEN is_hit = 1 THEN rank END) AS first_hit,
         SUM(CASE WHEN is_hit = 1
                  THEN CAST(ROUND(1.0 / log2(rank + 1), 9) AS DECIMAL(19,9))
             END) AS dcg_dec
  FROM j
  GROUP BY tier, query_id
)
SELECT tier,
       ROUND(CAST(SUM(CASE WHEN first_hit IS NOT NULL
                           THEN CAST(ROUND(1.0 / first_hit, 9) AS DECIMAL(19,9))
                      END) AS DOUBLE) / {float(N_QUERIES)}, 6) AS mrr_at_k,
       ROUND(CAST(SUM(dcg_dec) AS DOUBLE) / {float(N_QUERIES) * IDCG_AT_K!r}, 6)
         AS ndcg_at_k
FROM per_q
GROUP BY tier
"""


#: margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
#: Parallel Corpus Mining with Multilingual Sentence Embeddings"):
#: neighborhood size for the ratio-margin denominator.
BITEXT_K = 4
#: source query set: even vec_ids below 2*N_QUERIES (8 vectors, the
#: established broadcastable query-batch convention).
BITEXT_SRC_LIM = 2 * N_QUERIES


def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining: for each source vector (the
    "language X" batch — even vec_ids below 2*N_QUERIES) find its best match among
    target vectors (odd vec_ids, "language Y") scored by the RATIO
    margin, cosine normalized by the mean of both directions' k-NN
    neighborhoods — raw cosine alone over-selects hub vectors; the
    margin is what made large-scale bitext mining (CCMatrix/WikiMatrix)
    precise.  margin = sim(x,y) / ((avgK(x->Y) + avgK(y->X)) / 2).

    Determinism: per-pair cosines are rounded to 6 dp (shared _cos),
    then carried as DECIMAL(10,6) so both neighborhood sums are EXACT —
    the only float ops after that are one division of engine-identical
    doubles, then the final 6-dp round.

    Scale shape: the source batch is broadcast (knn_bruteforce's shape),
    so the target side streams in one scan; both rank windows partition
    on small keys (8 sources / per-target over 8 sims).  Mining a FULL
    corpus against another replaces the exhaustive scored relation with
    ANN candidates per direction (IVF here, FAISS in the paper) — the
    margin formula and this plan's window/aggregate tail are unchanged;
    only the candidate source swaps, exactly like the IVF/LSH swap-ins
    elsewhere in this module."""
    emb = _emb(spark, sf_dir)
    src = F.broadcast(
        emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < BITEXT_SRC_LIM))
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"))
    )
    tgt = emb.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("pair_id"), F.col("emb").alias("t_emb")
    )
    scored = tgt.join(src, F.lit(True)).select(
        "query_id",
        "pair_id",
        _cos("q_emb", "t_emb").alias("sim"),
    )
    wx = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("pair_id"))
    wy = Window.partitionBy("pair_id").orderBy(F.desc("sim"), F.asc("query_id"))
    ranked = scored.select(
        "query_id",
        "pair_id",
        "sim",
        F.col("sim").cast("decimal(10,6)").alias("sim_dec"),
        F.row_number().over(wx).alias("rank_x"),
        F.row_number().over(wy).alias("rank_y"),
    )
    sum_x = F.sum(
        F.when(F.col("rank_x") <= BITEXT_K, F.col("sim_dec"))
    ).over(Window.partitionBy("query_id"))
    sum_y = F.sum(
        F.when(F.col("rank_y") <= BITEXT_K, F.col("sim_dec"))
    ).over(Window.partitionBy("pair_id"))
    denom = (sum_x + sum_y).cast("double")
    return (
        ranked.select(
            "query_id",
            "pair_id",
            "sim",
            "rank_x",
            F.round(
                F.col("sim") * F.lit(2.0 * BITEXT_K) / F.nullif(denom, F.lit(0.0)), 6
            ).alias("margin"),
        )
        .where(F.col("rank_x") == 1)
        .select("query_id", "pair_id", "sim", "margin")
    )


BITEXT_MARGIN_SQL = f"""
WITH src AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < {BITEXT_SRC_LIM}
),
tgt AS (
  SELECT vec_id AS pair_id, embedding::DOUBLE[] AS t_emb
  FROM embeddings WHERE vec_id % 2 = 1
),
scored AS (
  SELECT s.query_id, t.pair_id,
         ROUND(list_cosine_similarity(s.q_emb, t.t_emb), 6) AS sim
  FROM src s CROSS JOIN tgt t
),
ranked AS (
  SELECT query_id, pair_id, sim,
         CAST(sim AS DECIMAL(10,6)) AS sim_dec,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, pair_id) AS rank_x,
         ROW_NUMBER() OVER (PARTITION BY pair_id ORDER BY sim DESC, query_id) AS rank_y
  FROM scored
),
margins AS (
  SELECT query_id, pair_id, sim, rank_x,
         ROUND(sim * {2.0 * BITEXT_K}
               / NULLIF(CAST(SUM(CASE WHEN rank_x <= {BITEXT_K} THEN sim_dec END)
                               OVER (PARTITION BY query_id)
                           + SUM(CASE WHEN rank_y <= {BITEXT_K} THEN sim_dec END)
                               OVER (PARTITION BY pair_id) AS DOUBLE), 0.0),
               6) AS margin
  FROM ranked
)
SELECT query_id, pair_id, sim, margin
FROM margins WHERE rank_x = 1
"""


# --- centroid drift by label (round 9) ------------------------------------

def centroid_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift check: split the collection into two halves by
    vec_id parity (the stand-in for "yesterday's batch vs today's"),
    compute each label's per-half centroid, and report the cosine
    between the halves' centroids — the one-number-per-class alarm a
    retrieval/serving pipeline watches for embedding-model or upstream
    -data drift.  Cosine ~1.0 means the class geometry is stable;
    a dip localizes WHICH class moved.

    Scale shape: one posexplode into (label, half, dim) with partial
    aggregation — the same distributed-vector-mean shape as
    kmeans_refine_centroids — then the dot/norm products join two
    |labels| x dims relations on (label, dim): tiny at any collection
    size.  No all-pairs anything; linear in collection mass.

    Cross-engine determinism: per-dim sums are 9-dp DECIMAL (exact,
    order-free); each centroid component is the sum/count double
    division rounded to 6 dp and cast DECIMAL(12,6); the dot and norm
    accumulations multiply those decimals exactly (25,12 products) so
    the final cosine divides engine-identical doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).cast("int").alias("half"),
            F.posexplode("embedding").alias("dim", "v"),
        )
        .groupBy("label", "half", "dim")
        .agg(
            F.sum(
                F.round(F.col("v").cast("double"), 9).cast("decimal(19,9)")
            ).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "label",
            "half",
            "dim",
            "n",
            F.round(F.col("s").cast("double") / F.col("n"), 6)
            .cast("decimal(12,6)")
            .alias("c"),
        )
    )
    a = comp.where(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("ca"), F.col("n").alias("n_a")
    )
    b = comp.where(F.col("half") == 1).select(
        "label", "dim", F.col("c").alias("cb"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("na2"),
            F.sum(F.col("cb") * F.col("cb")).alias("nb2"),
        )
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
                6,
            ).alias("centroid_cosine"),
        )
    )


CENTROID_DRIFT_SQL = """
WITH expl AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS half, u.dim - 1 AS dim,
         CAST(u.v AS DOUBLE) AS v
  FROM embeddings,
       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                       generate_subscripts(embedding, 1) AS dim) u
),
comp AS (
  SELECT label, half, dim, COUNT(*) AS n,
         CAST(ROUND(CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(19,9))) AS DOUBLE)
                    / COUNT(*), 6) AS DECIMAL(12,6)) AS c
  FROM expl GROUP BY label, half, dim
)
SELECT a.label,
       CAST(MAX(a.n) AS BIGINT) AS n_a,
       CAST(MAX(b.n) AS BIGINT) AS n_b,
       ROUND(CAST(SUM(a.c * b.c) AS DOUBLE)
             / (SQRT(CAST(SUM(a.c * a.c) AS DOUBLE))
                * SQRT(CAST(SUM(b.c * b.c) AS DOUBLE))), 6)
         AS centroid_cosine
FROM comp a
JOIN comp b ON b.label = a.label AND b.dim = a.dim AND b.half = 1
WHERE a.half = 0
GROUP BY a.label
"""



# --- power iteration for the dominant direction (round 9, batch 2) --------

def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed power-iteration step for the collection's
    dominant direction: starting from the deterministic all-ones
    vector, u = X·1 (per-row sums), then w = Xᵀu (per-dim weighted
    sums), normalized to unit length — the building block of PCA
    whitening / spectral embedding-health checks, expressed entirely as
    DataFrame aggregates (the matrix is never materialized, only two
    linear passes).  Iterating this converges to the top singular
    direction; one step already separates a dominant-variance corpus
    from an isotropic one (embedding_outliers' complement: WHERE the
    mass points, not who deviates).

    Scale shape: pass 1 is posexplode → per-vec_id exact DECIMAL sums
    (partial-agg'd, shuffle keyed on vec_id); pass 2 re-joins u to the
    exploded relation on vec_id (both sides hash-partition) and
    partial-aggs per dim into d rows.  Linear in collection mass, d
    rows out at any scale.

    Cross-engine determinism: row sums are 9-dp DECIMAL (exact,
    order-free) cast to double (engine-identical); per-dim products of
    identical doubles are rounded to 9 dp and DECIMAL-summed; the final
    normalization divides identical doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    expl = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "dim", F.col("v").cast("double").alias("v"))
    u = expl.groupBy("vec_id").agg(
        F.sum(F.round("v", 9).cast("decimal(19,9)"))
        .cast("double")
        .alias("u")
    )
    w = (
        expl.join(u, "vec_id")
        .groupBy("dim")
        .agg(
            F.sum(
                F.round(F.col("v") * F.col("u"), 9).cast("decimal(25,9)")
            ).cast("double").alias("w")
        )
    )
    norm = w.agg(
        F.sqrt(
            F.sum(
                (F.round("w", 6).cast("decimal(18,6)")
                 * F.round("w", 6).cast("decimal(18,6)"))
            ).cast("double")
        ).alias("nrm")
    )
    return w.crossJoin(F.broadcast(norm)).select(
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("w") / F.col("nrm"), 6).alias("component"),
    )


POWER_ITERATION_SQL = """
WITH expl AS (
  SELECT vec_id, u.dim - 1 AS dim, CAST(u.v AS DOUBLE) AS v
  FROM embeddings,
       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                       generate_subscripts(embedding, 1) AS dim) u
),
uvec AS (
  SELECT vec_id,
         CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(19,9))) AS DOUBLE) AS u
  FROM expl GROUP BY vec_id
),
w AS (
  SELECT dim,
         CAST(SUM(CAST(ROUND(e.v * uvec.u, 9) AS DECIMAL(25,9))) AS DOUBLE) AS w
  FROM expl e JOIN uvec USING (vec_id)
  GROUP BY dim
),
nrm AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(w, 6) AS DECIMAL(18,6))
                       * CAST(ROUND(w, 6) AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
  FROM w
)
SELECT CAST(dim AS INT) AS dim, ROUND(w.w / nrm.nrm, 6) AS component
FROM w, nrm
"""



# --- greedy k-center coreset selection (round 9, batch 7) ------------------

KCENTER_K = 6


def coreset_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection — Gonzalez
    1985, the 2-approximation every diversity-aware data-curation
    pipeline reaches for: start from the min-vec_id vector, then
    {KCENTER_K - 1} times pick the vector FARTHEST (squared L2, 6-dp
    rounded, min-vec_id tie-break) from the already-selected set.  The
    output (selection rank, vec_id, distance at selection) is both the
    coreset and its coverage-radius curve: the distance column is the
    k-center objective after each pick, the number that says when
    adding more coreset points stops buying coverage.

    Iterative-algorithm shape: K-1 rounds of one broadcast cross join
    (|selected| <= {KCENTER_K} rows) + one partial-agg'd per-vector MIN
    + one TakeOrdered(1) — each round's driver traffic is ONE row
    (bounded by construction, the clusters_from convergence-scalar
    convention).  Linear in collection mass per round at any scale.

    Cross-engine determinism: pair distances round to 6 dp before the
    MIN, so argmax comparisons happen on engine-identical doubles with
    a total (distance DESC, vec_id ASC) order.  Already-selected
    centers are anti-joined out of each round's candidate pool
    (ADVICE r9): on a degenerate collection where every remaining
    point coincides with a center (all min_d = 0) the argmax would
    otherwise re-select an existing center, breaking the
    'farthest UNSELECTED vector' contract with duplicate members."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    first_rows = emb.orderBy("vec_id").limit(1).collect()
    if not first_rows:
        # empty collection: 0-row coreset, same as the oracle's empty c0.
        return spark.createDataFrame(
            [], "center_rank int, vec_id long, dist_at_selection double"
        )
    first = first_rows[0]
    selected = [(0, int(first["vec_id"]), None, list(first["emb"]))]
    for rank in range(1, KCENTER_K):
        centers = spark.createDataFrame(
            [(vid, e) for _, vid, _, e in selected],
            "c_id long, c_emb array<double>",
        )
        sel_ids = [vid for _, vid, _, _ in selected]
        dists = (
            emb.where(~F.col("vec_id").isin(sel_ids))
            .join(F.broadcast(centers))
            .select("vec_id", "emb", _l2sq_full("emb", "c_emb").alias("d"))
            .groupBy("vec_id", "emb")
            .agg(F.min("d").alias("min_d"))
        )
        nxt_rows = (
            dists.orderBy(F.desc("min_d"), F.asc("vec_id")).limit(1).collect()
        )
        if not nxt_rows:
            # collection smaller than KCENTER_K: the anti-join emptied the
            # pool — emit the shorter coreset, matching the oracle's
            # fewer-rows behavior instead of IndexError (ADVICE r10).
            break
        nxt = nxt_rows[0]
        selected.append(
            (rank, int(nxt["vec_id"]), float(nxt["min_d"]), list(nxt["emb"]))
        )
    return spark.createDataFrame(
        [(r, v, d) for r, v, d, _ in selected],
        "center_rank int, vec_id long, dist_at_selection double",
    )


def _kcenter_sql() -> str:
    dist = _sql_l2sq_full("e.emb", "c.emb")
    steps = []
    prev_centers = "SELECT vec_id, emb FROM c0"
    finals = ["SELECT 0 AS center_rank, vec_id, CAST(NULL AS DOUBLE) "
              "AS dist_at_selection FROM c0"]
    for i in range(1, KCENTER_K):
        steps.append(f"""cents{i} AS (
  {prev_centers}
),
d{i} AS (
  SELECT e.vec_id, e.emb, MIN({dist}) AS min_d
  FROM emb e, cents{i} c
  WHERE e.vec_id NOT IN (SELECT vec_id FROM cents{i})
  GROUP BY e.vec_id, e.emb
),
c{i} AS (
  SELECT vec_id, emb, min_d FROM d{i}
  ORDER BY min_d DESC, vec_id ASC LIMIT 1
)""")
        prev_centers += (
            "\n  UNION ALL SELECT vec_id, emb FROM c" + str(i)
        )
        finals.append(f"SELECT {i}, vec_id, min_d FROM c{i}")
    steps_sql = ",\n".join(steps)
    finals_sql = "\nUNION ALL ".join(finals)
    return f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
c0 AS (
  SELECT vec_id, emb FROM emb ORDER BY vec_id LIMIT 1
),
{steps_sql}
{finals_sql}
"""



# --- per-dim clip calibration via binned CDF (round 10) --------------------

CLIP_LOW_PCT = 1    # clip below the per-dim 1st percentile ...
CLIP_HIGH_PCT = 99  # ... and above the 99th
CLIP_BIN_DP = 3     # CDF bins: values rounded to 3 dp


def embedding_clip_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension clip bounds for quantization calibration: the
    [p{CLIP_LOW_PCT}, p{CLIP_HIGH_PCT}] value range of every embedding
    dimension plus the mass that clipping discards — the table an int8
    quantizer consumes when min/max calibration (embedding_dim_stats)
    is too outlier-sensitive; percentile clipping is the standard fix.

    Scale shape: exact per-dim percentiles would sort per dimension
    (O(N/d) memory per group at 100 TB — the reason this does NOT use
    percentile()).  Instead values round to {CLIP_BIN_DP} dp and the
    quantile is read off the binned CDF: the (dim, bin) relation is
    bounded by dims × value-range·10^{CLIP_BIN_DP} REGARDLESS of
    collection size, counts partial-aggregate map-side, and the
    cumulative sum runs per dim over that bounded relation.  The bound
    is the smallest bin whose cumulative count reaches the target —
    integer arithmetic (100·cum >= pct·n), no float thresholds.
    Clipped mass is then one semi-arithmetic pass over the same bins.
    Bin quantization means bounds are exact at {CLIP_BIN_DP} dp — the
    honest contract for calibration (a quantizer cannot use more
    precision than its own grid anyway)."""
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir)
    bins = (
        e.select(F.posexplode("emb").alias("dim", "v"))
        .groupBy("dim", F.round("v", CLIP_BIN_DP).alias("v3"))
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy("dim")
        .orderBy("v3")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = bins.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("dim"))
    )
    lo = (
        cdf.where(100 * F.col("cum") >= CLIP_LOW_PCT * F.col("n"))
        .groupBy("dim")
        .agg(F.min("v3").alias("q_lo"))
    )
    hi = (
        cdf.where(100 * F.col("cum") >= CLIP_HIGH_PCT * F.col("n"))
        .groupBy("dim")
        .agg(F.min("v3").alias("q_hi"))
    )
    return (
        bins.join(lo, "dim")
        .join(hi, "dim")
        .groupBy("dim", "q_lo", "q_hi")
        .agg(
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum(
                F.when(
                    (F.col("v3") < F.col("q_lo")) | (F.col("v3") > F.col("q_hi")),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("n_clipped"),
        )
        .select(
            "dim",
            "n",
            F.round("q_lo", 6).alias("q_lo"),
            F.round("q_hi", 6).alias("q_hi"),
            F.round(F.col("q_hi") - F.col("q_lo"), 6).alias("clip_width"),
            F.round(F.col("n_clipped") / F.col("n"), 6).alias("clipped_frac"),
        )
    )


CLIP_CALIBRATION_SQL = f"""
WITH expl AS (
  SELECT u.dim - 1 AS dim, CAST(u.v AS DOUBLE) AS v
  FROM embeddings,
       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                       generate_subscripts(embedding, 1) AS dim) u
),
bins AS MATERIALIZED (
  SELECT dim, ROUND(v, {CLIP_BIN_DP}) AS v3, COUNT(*) AS cnt
  FROM expl GROUP BY dim, ROUND(v, {CLIP_BIN_DP})
),
cdf AS MATERIALIZED (
  SELECT dim, v3, cnt,
         SUM(cnt) OVER (PARTITION BY dim ORDER BY v3
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY dim) AS n
  FROM bins
),
lo AS (
  SELECT dim, MIN(v3) AS q_lo FROM cdf
  WHERE 100 * cum >= {CLIP_LOW_PCT} * n GROUP BY dim
),
hi AS (
  SELECT dim, MIN(v3) AS q_hi FROM cdf
  WHERE 100 * cum >= {CLIP_HIGH_PCT} * n GROUP BY dim
)
SELECT CAST(b.dim AS INT) AS dim,
       CAST(SUM(cnt) AS BIGINT) AS n,
       ROUND(q_lo, 6) AS q_lo,
       ROUND(q_hi, 6) AS q_hi,
       ROUND(q_hi - q_lo, 6) AS clip_width,
       ROUND(CAST(SUM(CASE WHEN v3 < q_lo OR v3 > q_hi THEN cnt ELSE 0 END)
                  AS DOUBLE) / SUM(cnt), 6) AS clipped_frac
FROM bins b JOIN lo ON b.dim = lo.dim JOIN hi ON b.dim = hi.dim
GROUP BY b.dim, q_lo, q_hi
"""


#: Candidate-pool depth the pair-joint reranker rescores per query —
#: 4x TOP_K, the classic retrieve-wide / rerank-narrow ratio.
RERANK_POOL = 20


def crossencoder_rerank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieve-then-RERANK audit with a PAIR-JOINT scorer —
    the cross-encoder serving shape (Nogueira & Cho 2019, "Passage
    Re-ranking with BERT": bi-encoder retrieval feeding a pairwise
    reranker over a bounded pool; VERDICT r11 #3's first candidate):
    stage 1 is the certified bi-encoder retriever (exact cosine, the
    knn_bruteforce dataflow) taking the top {RERANK_POOL} candidates
    per query; stage 2 rescores ONLY those pairs with a scorer that is
    a function of the (query, doc) pair jointly and cannot be
    factorized into two independent vector encodings — here a signed
    soft-Jaccard over dimensions, sum(min(|q_j|,|d_j|) where signs
    agree) / sum(max(|q_j|,|d_j|)) — the sandbox stand-in for a
    cross-encoder forward pass (deterministic, engine-mirrorable; a
    real model slots in behind the same queries x pool contract).  The
    audit row per query is what a retrieval team reads to size the
    reranker's effect: pool footrule (total |bi_rank - ce_rank|
    displacement), top-{TOP_K} overlap between the two orderings, how
    many docs the reranker promoted into the top {TOP_K} from below,
    and where the reranker's #1 sat in the bi-encoder order.

    Scale shape: stage 1 is the retriever's documented story (brute
    force here; IVF/PQ at 100 TB — any certified top-k op yields the
    pool); stage 2 touches exactly queries x {RERANK_POOL} pairs — the
    expensive scorer never sees the collection — and the audit is a
    per-query aggregate over those {RERANK_POOL} rows.  This is why
    cross-encoders are deployable at all: the pair cost is bounded by
    the pool, not the corpus.

    Determinism: both orderings rank on 6-dp-rounded scores with
    neighbor_id tie-breaks (the family convention); the ce score's
    fold order over dims 1..{EMB_DIM} is identical in both engines;
    footrule/overlap/promotion are integer-exact."""
    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
        )
    )
    scored = emb.join(q, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "q_emb",
        "emb",
        _cos("q_emb", "emb").alias("bi_sim"),
    )
    bw = Window.partitionBy("query_id").orderBy(
        F.desc("bi_sim"), F.asc("neighbor_id")
    )
    pool = scored.withColumn("bi_rank", F.row_number().over(bw)).where(
        F.col("bi_rank") <= RERANK_POOL
    )
    num = F.expr(
        "aggregate(zip_with(q_emb, emb, (x, y) -> "
        "CASE WHEN (x >= CAST(0.0 AS DOUBLE)) = (y >= CAST(0.0 AS DOUBLE)) "
        "THEN least(abs(x), abs(y)) ELSE CAST(0.0 AS DOUBLE) END), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    den = F.expr(
        "aggregate(zip_with(q_emb, emb, (x, y) -> greatest(abs(x), abs(y))), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    ce = pool.select(
        "query_id",
        "neighbor_id",
        "bi_rank",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("ce_score"),
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("ce_score"), F.asc("neighbor_id")
    )
    rr = ce.withColumn("ce_rank", F.row_number().over(rw))
    k = F.lit(TOP_K)
    return rr.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("pool_n"),
        F.sum(F.abs(F.col("bi_rank") - F.col("ce_rank")))
        .cast("bigint")
        .alias("footrule"),
        F.sum(((F.col("bi_rank") <= k) & (F.col("ce_rank") <= k)).cast("int"))
        .cast("bigint")
        .alias("overlap_at_k"),
        F.sum(((F.col("bi_rank") > k) & (F.col("ce_rank") <= k)).cast("int"))
        .cast("bigint")
        .alias("promoted_into_k"),
        F.max(F.when(F.col("ce_rank") == 1, F.col("bi_rank")))
        .cast("int")
        .alias("top1_bi_rank"),
    )


CE_RERANK_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, emb AS q_emb FROM emb
  WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, q.q_emb, e.emb,
         ROUND(list_cosine_similarity(q.q_emb, e.emb), 6) AS bi_sim
  FROM q JOIN emb e ON e.vec_id <> q.query_id
),
pool AS (
  SELECT query_id, neighbor_id, q_emb, emb,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY bi_sim DESC, neighbor_id) AS bi_rank
  FROM scored
),
ce AS (
  SELECT query_id, neighbor_id, bi_rank,
         ROUND(
           list_sum(list_transform(range(1, {EMB_DIM} + 1),
             j -> CASE WHEN (q_emb[j] >= CAST(0.0 AS DOUBLE))
                         = (emb[j] >= CAST(0.0 AS DOUBLE))
                  THEN LEAST(abs(q_emb[j]), abs(emb[j]))
                  ELSE CAST(0.0 AS DOUBLE) END))
           / NULLIF(list_sum(list_transform(range(1, {EMB_DIM} + 1),
             j -> GREATEST(abs(q_emb[j]), abs(emb[j])))),
             CAST(0.0 AS DOUBLE)), 6) AS ce_score
  FROM pool WHERE bi_rank <= {RERANK_POOL}
),
rr AS (
  SELECT query_id, neighbor_id, bi_rank,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ce_score DESC, neighbor_id) AS ce_rank
  FROM ce
)
SELECT query_id,
       CAST(COUNT(*) AS BIGINT) AS pool_n,
       CAST(SUM(abs(bi_rank - ce_rank)) AS BIGINT) AS footrule,
       CAST(SUM(CASE WHEN bi_rank <= {TOP_K} AND ce_rank <= {TOP_K}
                THEN 1 ELSE 0 END) AS BIGINT) AS overlap_at_k,
       CAST(SUM(CASE WHEN bi_rank > {TOP_K} AND ce_rank <= {TOP_K}
                THEN 1 ELSE 0 END) AS BIGINT) AS promoted_into_k,
       CAST(MAX(CASE WHEN ce_rank = 1 THEN bi_rank END) AS INT)
         AS top1_bi_rank
FROM rr
GROUP BY query_id
"""


def ivf_ce_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end two-stage retrieval: the IVF retriever feeds the
    pair-joint reranker and the op returns the DEPLOYABLE result table
    — final top-{TOP_K} per query under the reranker's order, with
    both stages' scores and ranks on every row (VERDICT r12 #3's
    second candidate: "an IVF+rerank composed retrieval op closing the
    loop between ann_ivf_topk and crossencoder_rerank_audit").

    Stage 1 is ann_ivf_topk's certified dataflow widened from top-5 to
    a top-{RERANK_POOL} candidate pool: the adaptive ~sqrt(N) centroid
    family (centroid_step), the BLAS assignment pass, ~10% of
    centroids probed per query, candidates scored only inside probed
    clusters.  Stage 2 is crossencoder_rerank_audit's pair-joint
    scorer (signed soft-Jaccard over dims — the cross-encoder
    stand-in; a real model slots in behind the same queries × pool
    contract) over EXACTLY those pool rows.  Unlike the audit op,
    which aggregates rank displacement per query, this emits the
    ranked rows a serving layer returns: (query, neighbor, bi_sim,
    bi_rank, ce_score, ce_rank ≤ {TOP_K}).

    Scale shape: stage 1 reads P/C of the collection per query
    (partition-pruned at 100 TB with `cluster` as a partition column);
    stage 2 touches queries × min({RERANK_POOL}, pool) pairs — the
    expensive scorer is bounded by the pool, never the corpus; the
    final cut is a window over those same rows.  The pool can be
    SMALLER than {RERANK_POOL} when the probed clusters hold fewer
    candidates — exactly IVF's recall trade — so pool exhaustion
    surfaces here as ce_rank rows < {TOP_K}, not as silent padding.

    Determinism: both ranks order on 6-dp-rounded scores with
    neighbor_id tie-breaks; centroids/probes/assignment are the
    certified ann_ivf_topk machinery (similarity.py:244); the ce fold
    order is dim 1..{EMB_DIM} in both engines."""
    emb = _emb(spark, sf_dir)
    cent = _centroids(emb)
    assign = _ivf_assign(emb, cent)
    n_probe = ivf_n_probe(cent.count())
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    probes = (
        _probe_walk(q, cent)
        .where(F.col("prn") <= n_probe)
        .select("query_id", "q_emb", F.col("cid").alias("cluster"))
    )
    # the probe relation is queries x n_probe rows (bounded by the
    # query batch, never the collection) — broadcast it so the big
    # assigned-collection side streams through a hash join with no
    # shuffle/sort of its own (the one plan improvement over composing
    # ann_ivf_topk verbatim, which leaves this join to AQE)
    scored = (
        F.broadcast(probes).join(assign, "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "q_emb",
            "emb",
            _cos("q_emb", "emb").alias("bi_sim"),
        )
    )
    bw = Window.partitionBy("query_id").orderBy(
        F.desc("bi_sim"), F.asc("neighbor_id")
    )
    pool = scored.withColumn("bi_rank", F.row_number().over(bw)).where(
        F.col("bi_rank") <= RERANK_POOL
    )
    num = F.expr(
        "aggregate(zip_with(q_emb, emb, (x, y) -> "
        "CASE WHEN (x >= CAST(0.0 AS DOUBLE)) = (y >= CAST(0.0 AS DOUBLE)) "
        "THEN least(abs(x), abs(y)) ELSE CAST(0.0 AS DOUBLE) END), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    den = F.expr(
        "aggregate(zip_with(q_emb, emb, (x, y) -> greatest(abs(x), abs(y))), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    ce = pool.select(
        "query_id",
        "neighbor_id",
        "bi_sim",
        "bi_rank",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("ce_score"),
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("ce_score"), F.asc("neighbor_id")
    )
    return (
        ce.withColumn("ce_rank", F.row_number().over(rw))
        .where(F.col("ce_rank") <= TOP_K)
        .select("query_id", "neighbor_id", "bi_sim", "bi_rank", "ce_score", "ce_rank")
    )


IVF_CE_RETRIEVAL_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
assign AS (
  SELECT vec_id, emb, cid AS cluster FROM (
    SELECT e.vec_id, e.emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.emb, c.c_emb), 6) DESC,
                                       c.cid) AS arn
    FROM emb e CROSS JOIN cent c
  ) WHERE arn = 1
),
probes AS (
  SELECT query_id, q_emb, cid AS cluster FROM (
    SELECT q.vec_id AS query_id, q.emb AS q_emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND(list_cosine_similarity(q.emb, c.c_emb), 6) DESC,
                                       c.cid) AS prn
    FROM emb q CROSS JOIN cent c
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE prn <= {_N_PROBE_SQL}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.q_emb, a.emb,
         ROUND(list_cosine_similarity(p.q_emb, a.emb), 6) AS bi_sim
  FROM probes p JOIN assign a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id
),
pool AS (
  SELECT query_id, neighbor_id, q_emb, emb, bi_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY bi_sim DESC, neighbor_id) AS bi_rank
  FROM scored
),
ce AS (
  SELECT query_id, neighbor_id, bi_sim, bi_rank,
         ROUND(
           list_sum(list_transform(range(1, {EMB_DIM} + 1),
             j -> CASE WHEN (q_emb[j] >= CAST(0.0 AS DOUBLE))
                         = (emb[j] >= CAST(0.0 AS DOUBLE))
                  THEN LEAST(abs(q_emb[j]), abs(emb[j]))
                  ELSE CAST(0.0 AS DOUBLE) END))
           / NULLIF(list_sum(list_transform(range(1, {EMB_DIM} + 1),
             j -> GREATEST(abs(q_emb[j]), abs(emb[j])))),
             CAST(0.0 AS DOUBLE)), 6) AS ce_score
  FROM pool WHERE bi_rank <= {RERANK_POOL}
)
SELECT query_id, neighbor_id, bi_sim, bi_rank, ce_score, ce_rank FROM (
  SELECT query_id, neighbor_id, bi_sim, bi_rank, ce_score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ce_score DESC, neighbor_id) AS ce_rank
  FROM ce
)
WHERE ce_rank <= {TOP_K}
"""


def ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe-budget tuning table for the IVF family: for EVERY
    possible probe count n_probe = 1..C, the recall@{TOP_K} the index
    would achieve against exact brute-force truth and the average
    fraction of the collection a query would scan — the
    latency/recall trade curve a serving team reads to pick n_probe
    BEFORE committing to the ivf_n_probe default (which is marked on
    its row).  Composes only certified machinery: knn_bruteforce's
    truth (similarity.py:101), the ~sqrt(N) centroid family
    (_centroids), and the BLAS assignment pass (_ivf_assign).

    The trick that makes the WHOLE curve one pass instead of C
    re-searches: a true neighbor n of query q enters the probed set
    exactly when n_probe reaches the probe rank of n's assigned
    cluster in q's centroid walk — so the full curve is the cumulative
    distribution of that "needed probe rank" over truth pairs, and the
    scan cost is the cumulative cluster-size sum over the same walk.
    Both cumulations are windows over the queries × C walk relation
    (bounded: C ≈ sqrt(N)); both grand totals are unpartitioned-window
    sums over C-row relations, never an agg + crossJoin back against
    the collection (the user_activity_power_law discipline,
    analytics.py:485).

    Scale shape: two collection-scale passes only — the brute-force
    truth scan (the oracle the curve is measured against; at 100 TB a
    sampled query batch bounds it) and ONE BLAS assignment pass: the
    ints-only (vec_id, cluster) relation is persisted so its two
    consumers (the size census and the truth join) share a single
    MapInPandas execution (at ingest, `cluster` is a partition
    column and this relation is free).  truth (queries × {TOP_K}
    rows), the walk, the C-row size census, and the C-row hit
    histogram are all explicitly broadcast, so NO join in the plan
    sorts anything — the collection side streams BroadcastHashJoin,
    exactly the retrofitted probes⋈assign shape; everything
    downstream is queries × C rows.

    Determinism: the walk orders by (6-dp-rounded csim DESC, cid ASC)
    — the certified probe ordering; recall divides by the exact truth
    size {N_QUERIES}×{TOP_K}; fractions round to 6 dp."""
    from pyspark.storagelevel import StorageLevel

    # the emb projection feeds FOUR subtrees (truth, query walk,
    # centroid table, assignment input) — persist it once, exactly the
    # recall-audit treatment; the cache manager substitutes it into
    # knn_bruteforce's internal _emb call by canonical-plan matching
    emb = _emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    cent = _centroids(emb)
    # ints-only assignment, persisted: two consumers below, one BLAS pass
    assign_ids = (
        _ivf_assign(emb, cent)
        .select("vec_id", "cluster")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_probe_default = ivf_n_probe(cent.count())
    truth = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    walk = _probe_walk(q, cent, rank_col="pr").select("query_id", "cid", "pr")
    sizes = assign_ids.groupBy("cluster").agg(F.count("*").alias("csize"))
    # rows a query pays at probe rank pr, summed over queries: the
    # C-row skeleton every curve row hangs off (each query walks every
    # centroid, so pr = 1..C is complete by construction)
    skel = (
        walk.join(F.broadcast(sizes), walk.cid == sizes.cluster, "left")
        .select("pr", F.coalesce("csize", F.lit(0)).alias("csz"))
        .groupBy("pr")
        .agg(F.sum("csz").alias("rows_at_pr"))
    )
    # needed probe rank per truth pair: broadcast the queries × TOP_K
    # truth into the assignment join (collection streams), then attach
    # the walk rank of the neighbor's cluster
    needed = (
        F.broadcast(truth)
        .join(assign_ids, truth.neighbor_id == F.col("vec_id"))
        .join(
            F.broadcast(walk),
            (truth.query_id == walk.query_id) & (F.col("cluster") == walk.cid),
        )
        .select("pr")
    )
    hits = needed.groupBy("pr").agg(F.count("*").alias("n_hits"))
    cw = Window.orderBy("pr")  # single partition over C rows — bounded
    tw = Window.partitionBy()
    curve = (
        skel.join(F.broadcast(hits), "pr", "left")
        .select("pr", "rows_at_pr", F.coalesce("n_hits", F.lit(0)).alias("nh"))
        .withColumn("hits_cum", F.sum("nh").over(cw))
        .withColumn("rows_cum", F.sum("rows_at_pr").over(cw))
        .withColumn("rows_total", F.sum("rows_at_pr").over(tw))
    )
    out = curve.select(
        F.col("pr").alias("n_probe"),
        F.col("hits_cum").cast("bigint").alias("hits_cum"),
        F.round(
            F.col("hits_cum").cast("double") / F.lit(float(N_QUERIES * TOP_K)), 6
        ).alias("recall_at_k"),
        F.round(
            F.col("rows_cum").cast("double") / F.col("rows_total").cast("double"), 6
        ).alias("avg_scan_frac"),
        (F.col("pr") == F.lit(n_probe_default)).alias("is_engine_default"),
    )
    return with_shared_caches(out, emb, assign_ids)


IVF_PROBE_RECALL_CURVE_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
assign AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.emb, c.c_emb), 6) DESC,
                                       c.cid) AS arn
    FROM emb e CROSS JOIN cent c
  ) WHERE arn = 1
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    {KNN_SQL.strip()}
  )
),
walk AS (
  SELECT q.vec_id AS query_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY ROUND(list_cosine_similarity(q.emb, c.c_emb), 6) DESC,
                                     c.cid) AS pr
  FROM emb q CROSS JOIN cent c
  WHERE q.vec_id < {N_QUERIES}
),
sizes AS (
  SELECT cluster, COUNT(*) AS csize FROM assign GROUP BY cluster
),
skel AS (
  SELECT w.pr, SUM(COALESCE(s.csize, 0)) AS rows_at_pr
  FROM walk w LEFT JOIN sizes s ON s.cluster = w.cid
  GROUP BY w.pr
),
needed AS (
  SELECT w.pr
  FROM truth t
  JOIN assign a ON a.vec_id = t.neighbor_id
  JOIN walk w ON w.query_id = t.query_id AND w.cid = a.cluster
),
hits AS (
  SELECT pr, COUNT(*) AS n_hits FROM needed GROUP BY pr
),
curve AS (
  SELECT sk.pr,
         SUM(COALESCE(h.n_hits, 0)) OVER (ORDER BY sk.pr) AS hits_cum,
         SUM(sk.rows_at_pr) OVER (ORDER BY sk.pr) AS rows_cum,
         SUM(sk.rows_at_pr) OVER () AS rows_total
  FROM skel sk LEFT JOIN hits h ON h.pr = sk.pr
)
SELECT pr AS n_probe,
       CAST(hits_cum AS BIGINT) AS hits_cum,
       ROUND(CAST(hits_cum AS DOUBLE) / {float(N_QUERIES * TOP_K)!r}, 6)
         AS recall_at_k,
       ROUND(CAST(rows_cum AS DOUBLE) / CAST(rows_total AS DOUBLE), 6)
         AS avg_scan_frac,
       pr = {_N_PROBE_SQL} AS is_engine_default
FROM curve
"""


#: ivf_mass_recall_curve: mass-budget grid — fractions f = g/20 for
#: g = 1..20 (0.05 .. 1.00).  Targets are the EXACT integer
#: ceil(f·N) = (N·g + 19) DIV 20, so both engines' probe-stop
#: comparisons are over identical integers (the lsh_threshold_sweep
#: integer-grid discipline); PROBE_MASS = 0.2 is g = 4.
MASS_GRID_N = 20


def ivf_mass_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PROBE_MASS tuning table for the mass-adaptive prober
    (ann_ivf_adaptive): for every mass budget f = g/20, g = 1..20, the
    recall@{TOP_K} the adaptive index would achieve against exact
    brute-force truth and the average fraction of the collection a
    query would scan — the trade curve that prices a PROBE_MASS change
    BEFORE committing to it.  Completes the tuning-table family:
    lsh_threshold_sweep tunes the LSH threshold,
    ivf_probe_recall_curve tunes the fixed probe count, this tunes the
    adaptive mass budget (its row g = {PROBE_MASS}·20 is marked as the
    engine default).

    One pass, not 20 re-searches (the ivf_probe_recall_curve trick
    adapted to mass budgets): under the adaptive rule a query probes
    its walk while the EXCLUSIVE running member count stays below
    ceil(f·N), so a true neighbor n of query q is found at budget f
    exactly when the mass BEFORE n's cluster in q's walk is < ceil(f·N)
    — the curve is a comparison of each truth pair's "needed mass"
    against the 20 integer targets, and the scan cost at f is the
    cumulative mass through the last probed cluster, i.e. the SMALLEST
    inclusive running mass ≥ the target (running mass is monotone in
    probe rank).  Targets are exact integers ((N·g + 19) DIV 20), so
    every comparison is integer-vs-integer in both engines.

    Scale shape: two collection-scale passes — the brute-force truth
    scan and ONE BLAS assignment (ints-only relation persisted for its
    two consumers, exactly ivf_probe_recall_curve's shape); everything
    downstream is queries × C walk rows theta-joined against a
    broadcast 20-row grid.  The shared emb projection is persisted
    (the recall-audit treatment), truth/sizes/hits broadcast, nothing
    sorts (``_gmrs_shared_caches`` lifecycle)."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    cent = _centroids(emb)
    assign_ids = (
        _ivf_assign(emb, cent)
        .select("vec_id", "cluster")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_total = F.broadcast(assign_ids.agg(F.count("*").alias("n_vec")))
    truth = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    sizes = assign_ids.groupBy("cluster").agg(F.count("*").alias("csize"))
    cw = (
        Window.partitionBy("query_id")
        .orderBy("pr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = (
        _probe_walk(q, cent, rank_col="pr")
        .join(F.broadcast(sizes), F.col("cid") == sizes.cluster, "left")
        .select(
            "query_id", "cid", "pr",
            F.coalesce("csize", F.lit(0)).alias("csz"),
        )
        .withColumn("m_after", F.sum("csz").over(cw))
        .withColumn("m_before", F.col("m_after") - F.col("csz"))
    )
    grid = F.broadcast(
        spark.range(1, MASS_GRID_N + 1).select(F.col("id").alias("g"))
        .crossJoin(n_total)
        .select(
            "g",
            F.expr(f"(n_vec * g + {MASS_GRID_N - 1}) DIV {MASS_GRID_N}")
            .alias("target"),
            F.col("n_vec"),
        )
    )
    # needed mass per truth pair: m_before of the neighbor's cluster in
    # the query's walk (truth is queries × k rows — broadcast)
    needed = (
        F.broadcast(truth)
        .join(assign_ids, truth.neighbor_id == F.col("vec_id"))
        .join(
            F.broadcast(walk),
            (truth.query_id == walk.query_id) & (F.col("cluster") == walk.cid),
        )
        .select("m_before")
    )
    hits = grid.join(needed, needed.m_before < F.col("target"), "left").groupBy(
        "g", "target", "n_vec"
    ).agg(F.count("m_before").alias("n_hits"))
    # scan cost: smallest inclusive running mass >= target, per query —
    # the walk always reaches it (total walk mass = N >= every target)
    scanned = (
        walk.join(F.broadcast(grid.select("g", "target")),
                  F.col("m_after") >= F.col("target"))
        .groupBy("query_id", "g")
        .agg(F.min("m_after").alias("rows_scanned"))
        .groupBy("g")
        .agg(F.sum("rows_scanned").alias("rows_all_q"))
    )
    out = (
        hits.join(F.broadcast(scanned), "g")
        .select(
            F.round(F.col("g").cast("double") / F.lit(float(MASS_GRID_N)), 2)
            .alias("mass_frac"),
            F.col("target").cast("bigint").alias("target_rows"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.round(
                F.col("n_hits").cast("double") / F.lit(float(N_QUERIES * TOP_K)),
                6,
            ).alias("recall_at_k"),
            F.round(
                F.col("rows_all_q").cast("double")
                / (F.lit(float(N_QUERIES)) * F.col("n_vec").cast("double")),
                6,
            ).alias("avg_scan_frac"),
            (F.col("g") == F.lit(int(round(PROBE_MASS * MASS_GRID_N))))
            .alias("is_engine_default"),
        )
    )
    return with_shared_caches(out, emb, assign_ids)


IVF_MASS_RECALL_CURVE_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
{_CENT_CTES},
assign AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.emb, c.c_emb), 6) DESC,
                                       c.cid) AS arn
    FROM emb e CROSS JOIN cent c
  ) WHERE arn = 1
),
nt AS (
  SELECT COUNT(*) AS n_vec FROM assign
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    {KNN_SQL.strip()}
  )
),
sizes AS (
  SELECT cluster, COUNT(*) AS csize FROM assign GROUP BY cluster
),
walk AS (
  SELECT query_id, cid, pr, csz,
         SUM(csz) OVER (PARTITION BY query_id ORDER BY pr) AS m_after,
         SUM(csz) OVER (PARTITION BY query_id ORDER BY pr) - csz AS m_before
  FROM (
    SELECT q.vec_id AS query_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND(list_cosine_similarity(q.emb, c.c_emb), 6) DESC,
                                       c.cid) AS pr,
           COALESCE(s.csize, 0) AS csz
    FROM emb q CROSS JOIN cent c
    LEFT JOIN sizes s ON s.cluster = c.cid
    WHERE q.vec_id < {N_QUERIES}
  )
),
grid AS (
  SELECT g, (n_vec * g + {MASS_GRID_N - 1}) // {MASS_GRID_N} AS target, n_vec
  FROM UNNEST(generate_series(1, {MASS_GRID_N})) AS t(g), nt
),
needed AS (
  SELECT w.m_before
  FROM truth t
  JOIN assign a ON a.vec_id = t.neighbor_id
  JOIN walk w ON w.query_id = t.query_id AND w.cid = a.cluster
),
hits AS (
  SELECT g.g, g.target, g.n_vec, COUNT(n.m_before) AS n_hits
  FROM grid g LEFT JOIN needed n ON n.m_before < g.target
  GROUP BY g.g, g.target, g.n_vec
),
scanned AS (
  SELECT g, SUM(rows_scanned) AS rows_all_q FROM (
    SELECT w.query_id, g.g, MIN(w.m_after) AS rows_scanned
    FROM walk w JOIN grid g ON w.m_after >= g.target
    GROUP BY w.query_id, g.g
  ) GROUP BY g
)
SELECT ROUND(CAST(h.g AS DOUBLE) / {MASS_GRID_N}, 2) AS mass_frac,
       CAST(h.target AS BIGINT) AS target_rows,
       CAST(h.n_hits AS BIGINT) AS n_hits,
       ROUND(CAST(h.n_hits AS DOUBLE) / {float(N_QUERIES * TOP_K)!r}, 6)
         AS recall_at_k,
       ROUND(CAST(s.rows_all_q AS DOUBLE)
             / ({float(N_QUERIES)!r} * CAST(h.n_vec AS DOUBLE)), 6)
         AS avg_scan_frac,
       h.g = {int(round(PROBE_MASS * MASS_GRID_N))} AS is_engine_default
FROM hits h JOIN scanned s ON s.g = h.g
"""


QUERIES = {
    "label_centroids": label_centroids,
    "nearest_centroid_confusion": nearest_centroid_confusion,
    "ann_recall_at_k": ann_recall_at_k,
    "lsh_rp_topk": lsh_rp_topk,
    "knn_bruteforce": knn_bruteforce,
    "knn_numpy_batched": knn_numpy_batched,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_adaptive": ann_ivf_adaptive,
    "emb_neardup_pairs": emb_neardup_pairs,
    "emb_neardup_multiprobe": emb_neardup_multiprobe,
    "pq_codes": pq_codes,
    "pq_adc_topk": pq_adc_topk,
    "pq_residual_topk": pq_residual_topk,
    "int8_quant_topk": int8_quant_topk,
    "ivf_int8_topk": ivf_int8_topk,
    "hard_negative_mining": hard_negative_mining,
    "embedding_dim_stats": embedding_dim_stats,
    "embedding_clip_calibration": embedding_clip_calibration,
    "centroid_drift_by_label": centroid_drift_by_label,
    "embedding_power_iteration": embedding_power_iteration,
    "coreset_kcenter_select": coreset_kcenter_select,
    "embedding_outliers": embedding_outliers,
    "knn_label_vote": knn_label_vote,
    "matryoshka_recall": matryoshka_recall,
    "ivf_cluster_stats": ivf_cluster_stats,
    "emb_cos_threshold_curve": emb_cos_threshold_curve,
    "binary_quant_topk": binary_quant_topk,
    "quant_tier_recall": quant_tier_recall,
    "ann_rank_quality": ann_rank_quality,
    "kmeans_refine_centroids": kmeans_refine_centroids,
    "bitext_margin_pairs": bitext_margin_pairs,
    "crossencoder_rerank_audit": crossencoder_rerank_audit,
    "ivf_ce_retrieval": ivf_ce_retrieval,
    "ivf_probe_recall_curve": ivf_probe_recall_curve,
    "ivf_mass_recall_curve": ivf_mass_recall_curve,
}

ORACLES = {
    "label_centroids": LABEL_CENTROIDS_SQL,
    "nearest_centroid_confusion": NEAREST_CENTROID_SQL,
    "ann_recall_at_k": ANN_RECALL_SQL,
    "lsh_rp_topk": LSH_RP_SQL,
    "knn_bruteforce": KNN_SQL,
    "knn_numpy_batched": KNN_SQL,  # must equal the JVM brute force exactly
    "ann_ivf_topk": ANN_IVF_SQL,
    "ann_ivf_adaptive": ANN_IVF_ADAPTIVE_SQL,
    "emb_neardup_pairs": EMB_NEARDUP_SQL,
    "emb_neardup_multiprobe": EMB_NEARDUP_MULTIPROBE_SQL,
    "pq_codes": PQ_CODES_SQL,
    "pq_adc_topk": PQ_ADC_SQL,
    "pq_residual_topk": PQ_RESIDUAL_SQL,
    "int8_quant_topk": INT8_QUANT_SQL,
    "ivf_int8_topk": IVF_INT8_SQL,
    "hard_negative_mining": HARD_NEGATIVES_SQL,
    "embedding_dim_stats": EMBEDDING_DIM_STATS_SQL,
    "embedding_clip_calibration": CLIP_CALIBRATION_SQL,
    "centroid_drift_by_label": CENTROID_DRIFT_SQL,
    "embedding_power_iteration": POWER_ITERATION_SQL,
    "coreset_kcenter_select": _kcenter_sql(),
    "embedding_outliers": EMBEDDING_OUTLIERS_SQL,
    "knn_label_vote": KNN_LABEL_VOTE_SQL,
    "matryoshka_recall": MATRYOSHKA_SQL,
    "ivf_cluster_stats": IVF_CLUSTER_STATS_SQL,
    "emb_cos_threshold_curve": EMB_COS_CURVE_SQL,
    "binary_quant_topk": BINARY_QUANT_SQL,
    "quant_tier_recall": QUANT_TIER_RECALL_SQL,
    "ann_rank_quality": ANN_RANK_QUALITY_SQL,
    "kmeans_refine_centroids": KMEANS_REFINE_SQL,
    "bitext_margin_pairs": BITEXT_MARGIN_SQL,
    "crossencoder_rerank_audit": CE_RERANK_SQL,
    "ivf_ce_retrieval": IVF_CE_RETRIEVAL_SQL,
    "ivf_probe_recall_curve": IVF_PROBE_RECALL_CURVE_SQL,
    "ivf_mass_recall_curve": IVF_MASS_RECALL_CURVE_SQL,
}
