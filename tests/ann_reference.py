"""Join/window reference forms of the ANN operators.

operators/similarity.py runs every exact and IVF top-k, and every cell
assignment, as ONE in-task ``mapInArrow`` pass over a collected probe
panel / centroid set.  The functions here state the same operators
relationally — broadcast joins, per-vid windows, candidate joins, the
snapped-cosine pandas UDF — so tests can pin the in-task kernels
against them row for row.  They are references, not production paths:
each broadcasts the whole probe or centroid table and runs several
exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from business_intelligence_and_data_warehouse_spark.operators.similarity import (
    _as_prefix,
    _cosine,
    _normed,
    _pairs_topk_window,
    cosine_pairs,
    dot_dec_batch,
)


def nearest_centroids(
    vectors_n: DataFrame, centroids_n: DataFrame, n: int
) -> DataFrame:
    """(vid, cvid) of each vector's n nearest centroids by snapped
    cosine, ranked (cosine DESC NULLS LAST, cvid ASC).  Both inputs are
    normed (vid, vec, norm) tables; the centroid side is broadcast and
    each corpus row keeps its top n through a per-vid window."""
    c = _as_prefix(vectors_n, "c")
    p = _as_prefix(centroids_n, "q")
    scored = c.join(F.broadcast(p)).select(
        F.col("cid").alias("vid"),
        F.col("qid").alias("cvid"),
        _cosine(
            dot_dec_batch(F.col("qvec"), F.col("cvec")),
            F.col("qnorm"),
            F.col("cnorm"),
        ).alias("cosine"),
    )
    w = W.partitionBy("vid").orderBy(F.desc("cosine"), F.col("cvid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("vid", "cvid")
    )


def assign_cells(vectors_n: DataFrame, centroids_n: DataFrame) -> DataFrame:
    """(vid, vec, norm, cvid): each vector joined to its nearest
    centroid — the relational form of an index's cell table."""
    return vectors_n.join(nearest_centroids(vectors_n, centroids_n, 1), "vid")


def brute_force_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k as a broadcast probe × corpus pair join, per-pair
    snapped cosine, and a per-probe window."""
    pairs = cosine_pairs(probes, vectors, id_col, vec_col).filter(
        F.col("qid") != F.col("cid")
    )
    return _pairs_topk_window(pairs, k)


def ivf_topk(
    cells: DataFrame,
    probes: DataFrame,
    centroids_n: DataFrame,
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a cell table (vid, vec, norm, cvid): each probe's
    ``nprobe`` nearest cells by window, candidates by a cell join,
    exact snapped cosine per candidate pair, per-probe window."""
    probes_n = _normed(probes, id_col, vec_col)
    probe_cells = nearest_centroids(probes_n, centroids_n, nprobe)
    candidates = (
        probe_cells.withColumnRenamed("vid", "qid")
        .join(cells.select("cvid", F.col("vid").alias("cid")), "cvid")
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )
    q = _as_prefix(probes_n, "q").select("qid", "qvec", "qnorm")
    c = _as_prefix(cells.select("vid", "vec", "norm"), "c")
    pairs = (
        candidates.join(q, "qid")
        .join(c, "cid")
        .select(
            "qid",
            "cid",
            _cosine(
                dot_dec_batch(F.col("qvec"), F.col("cvec")),
                F.col("qnorm"),
                F.col("cnorm"),
            ).alias("cosine"),
        )
    )
    return _pairs_topk_window(pairs, k)
