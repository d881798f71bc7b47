"""SemDeDup-style semantic deduplication (Abbas et al. 2023,
arXiv:2303.09540): k-means-cluster the embedding space, find
near-duplicate pairs ONLY within each cluster, and keep one
representative per duplicate group — the member most peripheral to
its cluster centroid (low centroid-similarity examples carry the
most marginal information; the paper's keep rule).

This is the sixth dedup tier (after exact / ngram / MinHash /
SimHash / LSH-gated cosine, ``operators/dedup.py``): where tier 5
answers "which vectors are near-duplicates anywhere in the corpus",
SemDeDup trades that global guarantee for a partition-friendly
O(n·d·k + Σ|cluster|²) cost model and a *semantic* keep rule.

Scale design (the reason each stage looks the way it does):

* centroid training is a bounded, seeded, order-stable sample
  (``similarity.train_ivf_centroids`` — one small collect at any
  corpus size, Lloyd iterations on a few-MB matrix);
* assignment is one vectorized Arrow matmul per batch
  (``similarity.ivf_assign``) — no shuffle;
* centroid similarity is computed JVM-side (left-fold
  ``F.aggregate`` dot against a broadcast 16-row centroid table) so
  the value is bit-identical at any parallelism and mirrors exactly
  in the numpy golden;
* the pair stage is an in-array expansion per cluster (one
  aggregation — a self-join would duplicate the assignment-UDF
  subtree per alias), capped at ``cluster_cap`` members by smallest
  id: at 10^12 docs a degenerate mega-cluster costs recall, never
  reducer memory;
* duplicate groups are transitive closures (large-star/small-star
  connected components) so keep/drop decisions are consistent when
  a~b and b~c but a!~c.

The reference repo has no dedup surface (it is a Turtle parser,
``/root/reference``); this operator is part of the training-data
pipeline family the brief adds on top (SURVEY.md §2.2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from turtle_spark.operators.skew import capped_block_pairs, pin, spread
from turtle_spark.operators.similarity import (
    _dot,
    _norm,
    ivf_assign,
    train_ivf_centroids,
)

__all__ = ["semantic_dedup", "semantic_pairs"]


def _with_cluster_and_csim(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign each vector to its nearest centroid and attach the
    centroid cosine similarity.

    The cluster id comes from the Arrow-batched argmax
    (``ivf_assign``); the *similarity value* is recomputed JVM-side
    as a left-fold dot against a broadcast centroid table — numpy's
    BLAS matmul and a sequential fold can differ in the last ulp,
    and the keep rule sorts by this value, so the engine pins the
    fold order the golden can replicate exactly.

    The input is ``spread()`` first: a small embeddings parquet scans
    as one partition, which would run the assignment UDF and every
    downstream fold on a single core (no-op at cluster scale, where
    the scan already has a partition per core).
    """
    embeddings = spread(embeddings)
    spark = embeddings.sparkSession
    cents64 = centroids.astype(np.float64)
    cent_rows = pd.DataFrame(
        {
            "cluster": list(range(len(cents64))),
            "_cent": [list(map(float, c)) for c in cents64],
        }
    )
    cent_df = spark.createDataFrame(cent_rows)
    assigned = ivf_assign(embeddings, centroids, n_probe=1, vec_col=vec_col)
    # each vector's norm is computed ONCE here and reused by every
    # pair it appears in (same float64 value as recomputing per pair,
    # so the goldens are unaffected; the pair stage does ~2 members'
    # worth of fold work per pair otherwise)
    return (
        assigned.join(F.broadcast(cent_df), "cluster")
        .withColumn("_vnorm", _norm(F.col(vec_col)))
        .withColumn(
            "csim",
            F.round(
                _dot(F.col(vec_col), F.col("_cent"))
                / (F.col("_vnorm") * _norm(F.col("_cent"))),
                6,
            ),
        )
        .drop("_cent")
    )


def _cluster_pairs(
    assigned: DataFrame,
    threshold: float,
    cluster_cap: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Capped within-cluster pair expansion + exact cosine filter:
    (cluster, id1, id2, cosine) with id1 < id2, cosine >= threshold.

    ``cluster_cap`` keeps each cluster to its smallest ids
    (``skew.capped_block_pairs``), so a degenerate mega-cluster stays
    bounded — dropped candidates cost recall only.
    """
    member = F.struct(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col("_vnorm").alias("n"),
    )
    cosine = F.round(
        _dot(F.col("x.v"), F.col("y.v")) / (F.col("x.n") * F.col("y.n")), 6
    )
    return (
        capped_block_pairs(assigned, ["cluster"], member, id_col, cluster_cap)
        .withColumn("cosine", cosine)
        .where(F.col("cosine") >= threshold)
        .select("cluster", F.col("x.id").alias("id1"), F.col("y.id").alias("id2"), "cosine")
    )


def semantic_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_clusters: int = 16,
    cluster_cap: int = 4096,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-cluster near-duplicate pairs:
    (id1, id2, cosine, cluster) with id1 < id2, cosine >= threshold.

    A pair split across two clusters is NOT examined — that is
    SemDeDup's deliberate trade (the cross-cluster miss probability
    falls as near-duplicates land in the same cell); callers who
    need the global guarantee use ``dedup.embedding_near_duplicates``.
    """
    cents = train_ivf_centroids(
        embeddings, n_centroids=n_clusters, seed=seed,
        vec_col=vec_col, id_col=id_col,
    )
    assigned = _with_cluster_and_csim(embeddings, cents, id_col, vec_col)
    return _cluster_pairs(assigned, threshold, cluster_cap, id_col, vec_col).select(
        "id1", "id2", "cosine", "cluster"
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_clusters: int = 16,
    cluster_cap: int = 4096,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup keep/drop decisions for every vector that belongs to
    a within-cluster near-duplicate group.

    Returns (id_col, component, keep_id, csim, kept): ``component``
    is the connected near-dup group (min member id), ``keep_id`` the
    member the group retains — LOWEST centroid similarity wins, id
    ascending as the tie-break (deterministic at any parallelism
    because ``csim`` is a fold-ordered, rounded double).  Vectors
    with no near-duplicate don't appear (nothing to decide); callers
    left-join and coalesce.
    """
    from turtle_spark.operators.cc import connected_components

    cents = train_ivf_centroids(
        embeddings, n_centroids=n_clusters, seed=seed,
        vec_col=vec_col, id_col=id_col,
    )
    # referenced by both the pair stage and the csim join-back — pin
    # so the assignment UDF subtree evaluates once
    assigned = pin(_with_cluster_and_csim(embeddings, cents, id_col, vec_col))

    edges = _cluster_pairs(
        assigned, threshold, cluster_cap, id_col, vec_col
    ).select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    comps = connected_components(edges)
    nodes = comps.join(
        assigned.select(F.col(id_col).alias("node"), "csim"), "node"
    )
    keep = nodes.groupBy("component").agg(
        F.min(F.struct("csim", "node")).alias("_k")
    ).select("component", F.col("_k.node").alias("keep_id"))
    return (
        nodes.join(keep, "component")
        .select(
            F.col("node").alias(id_col),
            "component",
            "keep_id",
            "csim",
            (F.col("node") == F.col("keep_id")).alias("kept"),
        )
    )
