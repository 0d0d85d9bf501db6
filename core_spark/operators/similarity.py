"""Similarity search over embedding columns (array<float>).

- ``cosine`` / ``dot``: JVM-side zip_with + aggregate — no UDF, stays in
  whole-stage codegen.
- ``brute_force_topk``: exact top-k neighbors for a small query set. The
  query side is broadcast, so the big side is scanned once with no shuffle;
  per-query top-k via window row_number. This is the correctness baseline.
- ``lsh_topk``: scale path 1 — multi-table random-hyperplane (sign) LSH;
  only pairs sharing a bucket in some table are scored. At 10^12 vectors
  the per-table bucket join replaces the broadcast-scan's full scoring
  pass; planes are tiny driver-computed constants (deterministic seed).
- ``ivf_topk``: scale path 2 — IVF: deterministic spherical-k-means
  centroids (driver-trained on a bounded hash-ordered sample), corpus
  tagged with its inverted-list id, queries probe their n_probe nearest
  lists. Exact cosine on candidates => exact precision, recall ~ probe
  coverage.
- ``cosine_near_dup_pairs``: embedding near-duplicate detection for the
  dedup pipeline (pairs above a cosine threshold, banded by LSH bucket).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session shuffle width: broadcast pair
    joins inherit the probe side's file-partition count (1 for a one-file
    table), so the scoring pass must be spread explicitly."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    try:
        n = int(raw)
    except ValueError:  # e.g. "auto" under AQE-managed platforms
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k for each query id (queries drawn from the corpus).

    Deterministic ranking: (rounded cosine desc, candidate id asc) so ties
    resolve identically in any engine. Self-matches excluded.
    """
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    queries = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = _spread(base).crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _rank_topk(scored, k, round_digits)


def _rank_topk(cand: DataFrame, k: int, round_digits: int = 6) -> DataFrame:
    """(query_id, vec_id, vec, qvec) candidates -> deterministic cosine
    top-k per query: (rounded cosine desc, candidate id asc) tie-break.
    One definition shared by the exact/LSH/IVF paths so the ranking
    contract cannot drift between them."""
    sim = F.round(cosine(F.col("vec"), F.col("qvec")), round_digits)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_classify(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 5,
) -> DataFrame:
    """K-nearest-neighbor majority-vote classification over the embedding
    corpus — the engine's distributed form of the reference's
    KNearestNeighbors component (forecasting/spark/k_nearest_neighbors.py:22;
    SURVEY §2.11), recast from its fit/predict pandas shape to a single
    broadcast-scan plan: exact cosine top-k (one pass over the corpus, query
    side broadcast, zero shuffle on the big side) → per-(query, label) vote
    count → deterministic arg-max (votes desc, label asc).

    Output: query_id, predicted_label, votes, true_label, correct. At
    corpus scale the top-k stage swaps for :func:`lsh_topk`/:func:`ivf_topk`
    unchanged — voting is downstream of whichever candidate generator runs.
    """
    topk = brute_force_topk(
        df, query_ids, k=k, id_col=id_col, vec_col=vec_col, round_digits=round_digits
    )
    labels = df.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).cast("long").alias("nbr_label")
    )
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("query_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("nbr_label"))
    pred = (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("query_id", F.col("nbr_label").alias("predicted_label"), "votes")
    )
    truth = df.select(
        F.col(id_col).alias("query_id"), F.col(label_col).cast("long").alias("true_label")
    )
    return pred.join(truth, "query_id").withColumn(
        "correct", (F.col("predicted_label") == F.col("true_label")).cast("int")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side constants, ~KBs)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def make_lsh_buckets_udf(planes: list[list[float]], bits_per_table: int):
    """All per-table sign-LSH buckets of a vector in ONE Arrow matmul.

    A Column-expression form costs O(n_planes * dim) Catalyst nodes
    (72 planes x 64 dims ~ a 4.6k-node interpreted expression tree — measured
    ~5x slower end-to-end); here each Arrow batch is a single (n, dim) x
    (dim, n_planes) matmul, sign-thresholded and bit-packed per table.
    Bit j of a table's bucket is 1 iff vec . plane_j > 0 (plane j within
    the table).
    """
    from pyspark.sql import types as T

    P = np.asarray(planes, dtype=np.float64)  # (n_tables * bits, dim)
    n_tables = P.shape[0] // bits_per_table
    weights = (1 << np.arange(bits_per_table)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        X = np.vstack(vs.to_numpy())
        S = (X @ P.T) > 0
        B = (S.reshape(len(X), n_tables, bits_per_table) * weights).sum(axis=2)
        return pd.Series(list(B))

    return buckets


def lsh_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_tables: int = 12,
    bits_per_table: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: ``n_tables`` independent
    ``bits_per_table``-bit hash tables; a vector is a candidate if it shares
    the query's bucket in ANY table (the classic L-tables construction — a
    true near neighbor only has to collide once, so recall compounds as
    1-(1-p^b)^L instead of the single-table p^b).

    Scale shape: each table's membership is an equi-join on
    (table, bucket) — with n_tables=12 over 6-bit buckets a query touches
    ~L/2^b = 18.75% of the corpus, and the per-table keys are 16 bytes.
    Recall vs brute force asserted in tests.
    """
    planes = _hyperplanes(dim, n_tables * bits_per_table, seed)
    buckets_udf = make_lsh_buckets_udf(planes, bits_per_table)
    base = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("vec"),
        )
        .withColumn("bkts", buckets_udf(F.col("vec")))
        .select("vec_id", "vec", F.posexplode("bkts").alias("t", "b"))
    )
    queries = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("t").alias("qt"),
        F.col("b").alias("qb"),
    )
    cand = (
        _spread(base)
        .join(
            F.broadcast(queries),
            (F.col("t") == F.col("qt"))
            & (F.col("b") == F.col("qb"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "qvec", "vec_id", "vec")
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _rank_topk(cand, k)


def train_ivf_centroids(
    df: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 2048,
    iters: int = 8,
) -> np.ndarray:
    """Deterministic spherical k-means centroids from a hash-ordered sample.

    The centroid model is tiny (n_lists x dim floats) and is computed on the
    driver from a bounded sample — the same driver-side-stats pattern the
    reference uses for normalization (normalization_zscore.py:49-50). The
    sample is the ``sample_n`` rows with smallest xxhash64(id): deterministic,
    engine-independent, and a distributed top-k (no full sort) in Spark.
    """
    rows = (
        df.select(
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(sample_n)
        .collect()
    )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = Xn[:n_lists].copy()
    for _ in range(iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for j in range(n_lists):
            members = Xn[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def make_ivf_udfs(centroids: np.ndarray):
    """(assign_udf, probes_udf(n_probe)) over the broadcast centroid matrix.

    Vectorized: each Arrow batch of embeddings becomes one (batch, dim)
    matmul against centroids^T — no per-row Python beyond the vstack.
    """
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)

    def _scores(vs: pd.Series) -> np.ndarray:
        X = np.vstack(vs.to_numpy())
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return Xn @ C.T

    @F.pandas_udf(T.IntegerType())
    def assign_list(vs: pd.Series) -> pd.Series:
        return pd.Series(np.argmax(_scores(vs), axis=1).astype(np.int32))

    def probes_udf(n_probe: int):
        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def probe_lists(vs: pd.Series) -> pd.Series:
            s = _scores(vs)
            top = np.argsort(-s, axis=1)[:, :n_probe].astype(np.int32)
            return pd.Series(list(top))

        return probe_lists

    return assign_list, probes_udf


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 2048,
) -> DataFrame:
    """IVF approximate top-k: exact cosine, scored only inside the query's
    ``n_probe`` nearest inverted lists.

    Scale shape (the 100 TB path): the corpus is scanned once to tag each
    vector with its list id; candidate generation is a broadcast equi-join
    on ``list_id`` (queries x n_probe rows, KBs), so the only wide shuffle
    is the final per-query top-k — candidates are ~n_probe/n_lists of the
    corpus instead of all of it. Recall vs brute force is asserted in tests
    (test_similarity_ivf).
    """
    C = train_ivf_centroids(
        df, n_lists=n_lists, id_col=id_col, vec_col=vec_col, sample_n=sample_n
    )
    assign_list, probes_udf = make_ivf_udfs(C)
    base = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("list_id", assign_list(F.col("vec")))
    queries = (
        base.filter(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.explode(probes_udf(n_probe)(F.col("vec"))).alias("probe"),
        )
    )
    cand = _spread(base).join(
        F.broadcast(queries),
        (F.col("list_id") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")),
    )
    return _rank_topk(cand, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 7,
    exact: bool = False,
) -> DataFrame:
    """Pairs with cosine >= threshold. exact=True scores all id<id pairs
    (oracle mode, small inputs); default blocks by MULTI-TABLE sign-LSH —
    a pair is a candidate if it collides in ANY of n_tables independent
    n_planes-bit tables. A single 8-bit table collides threshold-boundary
    pairs with only p = (1 - arccos(0.95)/pi)^8 ~= 0.43; the 8-table OR
    lifts recall to 1 - (1-0.43)^8 ~= 0.99 while background pairs stay at
    ~n_tables/2^n_planes ~= 3% of the quadratic. Precision stays exact —
    every candidate is re-scored with true cosine. Candidate generation is
    ids-only (16-byte shuffle rows, same posture as minhash_lsh_pairs);
    vectors re-join onto the (small) candidate set for scoring."""
    # norms are per-vector, not per-pair: precompute once so each pair
    # evaluates a single dot-product fold instead of three
    base = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    if exact:
        a = _spread(base).alias("a")
        b = base.alias("b")
        # guarded projection barrier (see dedup.ngram_jaccard_pairs): the
        # dot product evaluates exactly once per pair, in a projection,
        # never inside the join condition
        dp = F.when(F.spark_partition_id() >= 0, dot(F.col("a.vec"), F.col("b.vec")))
        paired = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            (F.col("a.nrm") * F.col("b.nrm")).alias("nn"),
            dp.alias("dp"),
        )
        sim = F.round(F.col("dp") / F.col("nn"), 6)
        return (
            paired.select("vec_id_a", "vec_id_b", sim.alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold)
        )
    planes = _hyperplanes(dim, n_tables * n_planes, seed)
    buckets_udf = make_lsh_buckets_udf(planes, n_planes)
    banded = _spread(base).select(
        "vec_id", F.posexplode(buckets_udf(F.col("vec"))).alias("tbl", "bucket")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
        .dropDuplicates(["vec_id_a", "vec_id_b"])  # multi-table collisions
    )
    sides = base
    pairs = cand.join(
        sides.select(
            F.col("vec_id").alias("vec_id_a"),
            F.col("vec").alias("vec_a"),
            F.col("nrm").alias("nrm_a"),
        ),
        "vec_id_a",
    ).join(
        sides.select(
            F.col("vec_id").alias("vec_id_b"),
            F.col("vec").alias("vec_b"),
            F.col("nrm").alias("nrm_b"),
        ),
        "vec_id_b",
    )
    dp = F.when(F.spark_partition_id() >= 0, dot(F.col("vec_a"), F.col("vec_b")))
    scored = pairs.select(
        "vec_id_a",
        "vec_id_b",
        F.round(dp / (F.col("nrm_a") * F.col("nrm_b")), 6).alias("cosine_sim"),
    )
    return scored.filter(F.col("cosine_sim") >= threshold)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 2048,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare cosine only
    WITHIN each cluster, and group everything above the threshold under one
    keeper (min id reachable through near-dup edges).

    Returns one row per document that belongs to a semantic-dup group:
    (vec_id, keeper_id, group_size); dedup = drop rows where
    ``vec_id != keeper_id``.

    Scale posture: clustering makes the pair join an equi-join on
    ``list_id`` — with L balanced lists the candidate count drops from
    O(N^2) to O(N^2/L), and the join shuffles (id, list_id, vector) rows
    partitioned by list. The centroid model is a driver-trained constant
    (train_ivf_centroids: bounded hash-ordered sample, deterministic), so
    re-runs are reproducible. Precision is exact (every candidate pair is
    re-scored with true cosine); recall misses only near-dup pairs split
    across cluster boundaries — SemDeDup's own approximation, mitigated by
    raising n_lists more slowly than corpus size. Keeper selection reuses
    dedup_components (min-label propagation, O(diameter) ids-only rounds).
    """
    from .dedup import dedup_components

    centroids = train_ivf_centroids(
        df, n_lists=n_lists, id_col=id_col, vec_col=vec_col, sample_n=sample_n
    )
    assign_udf, _ = make_ivf_udfs(centroids)
    base = (
        _spread(df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")))
        .withColumn("list_id", assign_udf(F.col("vec")))
        .withColumn("nrm", norm(F.col("vec")))
        .persist()  # both sides of the within-list pair join
    )
    a, b = base.alias("a"), base.alias("b")
    dp = F.when(F.spark_partition_id() >= 0, dot(F.col("a.vec"), F.col("b.vec")))
    pairs = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            (dp / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    comps = dedup_components(pairs, "vec_id_a", "vec_id_b")
    out = comps.select(
        F.col("doc_id").alias("vec_id"),
        F.col("component_id").alias("keeper_id"),
        "group_size",
    ).localCheckpoint(eager=True)
    # the component fixpoint above is materialized, so the cached
    # (id, list_id, vector) blocks can be released now instead of leaking
    # for the session lifetime (repeated calls would fill storage memory)
    base.unpersist()
    return out
