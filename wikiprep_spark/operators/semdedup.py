"""SemDeDup: semantic deduplication via embedding clustering.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale through
semantic deduplication"): cluster the corpus embeddings with k-means, then
look for near-duplicate PAIRS only inside each cluster — the cross-cluster
pair space (the quadratic part) is never materialized.  Within a cluster,
items are ordered by similarity to the centroid and an item is dropped if
any EARLIER item in that ordering is within ``eps`` cosine of it (the
upper-triangular matrix walk of the paper's released implementation,
expressed relationally).

Everything is deterministic and relational, so the driver's DuckDB oracle
re-derives the full decision surface independently:

- centroids = the ``n_clusters`` corpus vectors with the smallest
  md5('sem:' || vec_id) — md5 exists verbatim in both engines (the IVF
  path's xxhash64 seeds have no DuckDB twin; these do).  A k-means
  refinement (operators/similarity.ivf_kmeans_refine) can replace the
  seeds without touching the decision logic, at the cost of the oracle
  becoming literal-pinned.
- assignment = argmax cosine over the LITERAL centroid array — a pure
  projection on the frame that carries the vectors (zero join): the first
  entry of similarity._centroid_ranking, the IVF coarse quantizer, whose
  ascending (-cosine, centroid id) sort breaks ties to the lower id.
- the within-cluster order is (centroid_cosine DESC, vec_id ASC) on the
  UNROUNDED cosine — identical left-to-right double folds make it
  bit-identical across engines (same contract as sim_cosine_topk).

Scale shape: one window shuffle on cluster_id for the ranking, one
cluster-keyed self-join for the pair test.  With n_clusters scaled so
clusters stay small (the paper uses 100k clusters for LAION), the pair
join's per-key fanout is bounded by the cluster size; a ``max_cluster``
guard excludes degenerate clusters from the pair step (conservative:
their members are all KEPT, never silently dropped), with the same
observability contract as the LSH hub-bucket guard (dedup.lsh_candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from wikiprep_spark.operators.similarity import (
    _centroid_ranking, _cosine, _vectors,
)


def semdedup_seed_centroids(emb: DataFrame, n_clusters: int = 16,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> list:
    """The n_clusters corpus vectors with the smallest md5('sem:'||id) —
    a deterministic pseudo-random sample reproducible in any engine with
    md5.  orderBy().limit(n) compiles to TakeOrderedAndProject (no global
    sort); driver pulls n_clusters rows only."""
    seeds = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.concat(F.lit("sem:"),
                                F.col(id_col).cast("string"))))
        .limit(n_clusters)
        .collect()
    )
    return [(i, [float(x) for x in r[vec_col]])
            for i, r in enumerate(seeds)]


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 16,
    eps: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list | None = None,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup decisions for every vector.

    Output: (vec_id, cluster_id, cluster_rank, centroid_cos rounded 6,
    is_duplicate) — is_duplicate is true iff some cluster-mate EARLIER in
    the (centroid_cos DESC, vec_id ASC) order is within ``eps`` cosine.
    ``max_cluster`` (optional) exempts clusters larger than the bound from
    the pair test: every member is kept and the cluster is left for a
    higher-n_clusters rerun — a documented conservative underestimate,
    like the LSH max_bucket guard.
    """
    from wikiprep_spark.operators.spread import spread_small_scan

    if centroids is None:
        centroids = semdedup_seed_centroids(
            emb, n_clusters, id_col, vec_col)
    # spread a one-task scan (operators/spread.py) so the quantizer
    # projection parallelizes; hoist the row norm once per vector and
    # reuse it for the quantizer AND the pair test below (bit-identical).
    # The nearest centroid is the first of the ranking: its ``-neg`` is
    # the centroid cosine, and ties sort to the lower centroid id.
    assigned = _vectors(
        spread_small_scan(emb), id_col, vec_col, ("vec_id", "v", "_n"),
    ).select(
        "vec_id", "v", "_n",
        F.element_at(_centroid_ranking(centroids, "v", "_n"), 1)
        .alias("bc"),
    ).select(
        "vec_id", "v", "_n",
        F.col("bc.centroid").alias("cluster_id"),
        (-F.col("bc.neg")).alias("centroid_cos"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("centroid_cos"), F.asc("vec_id"))
    # ranked feeds FOUR consumers (cluster sizes, both pair-test sides,
    # the final output join) — materialize once instead of re-running the
    # quantizer + window chain per consumer (the pagerank/triangles
    # pattern)
    ranked = assigned.withColumn(
        "cluster_rank", F.row_number().over(w).cast("long")
    ).localCheckpoint()
    # the guard exempts oversized clusters from the PAIR TEST only —
    # their members all stay in the output, flagged kept (conservative)
    pairable = ranked
    if max_cluster is not None:
        sizes = ranked.groupBy("cluster_id").agg(
            F.count("*").alias("csize"))
        pairable = ranked.join(F.broadcast(sizes), "cluster_id").where(
            F.col("csize") <= max_cluster).drop("csize")
    # the oriented pair test: j earlier than i in the cluster order;
    # norms ride per VECTOR, not per pair (bit-identical hoist)
    early = pairable.select(
        F.col("cluster_id").alias("cluster_id"),
        F.col("cluster_rank").alias("rj"),
        F.col("v").alias("vj"),
        F.col("_n").alias("nj"),
    )
    late = pairable.select(
        "cluster_id", "vec_id",
        F.col("cluster_rank").alias("ri"),
        F.col("v").alias("vi"),
        F.col("_n").alias("ni"),
    )
    pair_cos = _cosine(F.col("vi"), F.col("vj"), F.col("ni"), F.col("nj"))
    dropped = (
        late.join(early, "cluster_id")
        .where(F.col("rj") < F.col("ri"))
        .where(pair_cos >= F.lit(float(eps)))
        .select("vec_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        ranked.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "cluster_rank",
            F.round("centroid_cos", 6).alias("centroid_cos"),
            F.coalesce("is_dup", F.lit(False)).alias("is_duplicate"),
        )
    )
