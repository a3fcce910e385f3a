"""Join/window reference forms of the ANN operators.

operators/similarity.py runs every top-k — snapped cosine (exact and
IVF), snapped squared L2, int8 integer dot, sign-bit Hamming and PQ /
IVF-PQ asymmetric distance — and every cell assignment and PQ encode
as ONE in-task ``mapInArrow`` pass over a collected probe panel,
centroid set or codebook.  The functions here state the same
operators relationally — broadcast probe joins, per-pair pandas UDFs
(snapped cosine, snapped squared L2, integer dot), packed sign words
with ``bit_count``, exploded subspace/codebook rows, the broadcast ADC
distance table, candidate joins and per-probe windows — so tests can
pin the in-task kernels against them row for row.  They are
references, not production paths: each broadcasts the whole probe,
centroid or codebook table and runs several exchanges.

The hyperplane-LSH references key their bands the packed way: every
sign bit of a vector in one BIGINT signature, each band sliced out of
it with integer ``div``/``%`` (:func:`hyperplane_signatures`,
:func:`_band_rows`).  The operators key each band directly from its
own hyperplanes (``banded_hyperplane_keys``); the two must agree bit
for bit wherever the signature fits one word.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from business_intelligence_and_data_warehouse_spark.operators.similarity import (
    DOT_SCALE,
    _as_prefix,
    _cosine,
    _hyperplane_matrix,
    _normed,
    _pairs_topk_window,
    cosine_pairs,
    dot_dec_batch,
    quantize_int8,
)


def pair_cosine(
    pairs: DataFrame, probes_n: DataFrame, corpus_n: DataFrame
) -> DataFrame:
    """``pairs`` (qid, cid, ...) plus each pair's exact snapped
    ``cosine``: qid joined to the normed probe table, cid to the normed
    corpus table, one per-pair dot product."""
    return (
        pairs.join(_as_prefix(probes_n, "q"), "qid")
        .join(_as_prefix(corpus_n, "c"), "cid")
        .select(
            *pairs.columns,
            _cosine(
                dot_dec_batch(F.col("qvec"), F.col("cvec")),
                F.col("qnorm"),
                F.col("cnorm"),
            ).alias("cosine"),
        )
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
    return _pairs_topk_window(pairs, k, F.desc("cosine"))


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
    pairs = pair_cosine(candidates, probes_n, cells.select("vid", "vec", "norm"))
    return _pairs_topk_window(pairs, k, F.desc("cosine"))


def l2_dec_batch(a: Column, b: Column) -> Column:
    """Snapped squared-L2 distance of two array columns as a scaled
    BIGINT, one pandas UDF call per Arrow batch of pairs."""

    @pandas_udf("long")
    def l2_udf(av: pd.Series, bv: pd.Series) -> pd.Series:
        if len(av) == 0:
            return pd.Series([], dtype="int64")
        am = np.stack(av.to_numpy()).astype(np.float64)
        bm = np.stack(bv.to_numpy()).astype(np.float64)
        d = am - bm
        return pd.Series(np.floor(d * d * DOT_SCALE).astype(np.int64).sum(axis=1))

    return l2_udf(a, b)


def brute_force_l2_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 top-k: broadcast probe join, per-pair snapped
    L2 UDF, per-probe window (dist ASC, cid)."""
    p = probes.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    c = vectors.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    pairs = c.join(F.broadcast(p)).filter(F.col("qid") != F.col("cid")).select(
        "qid",
        "cid",
        (l2_dec_batch(F.col("qvec"), F.col("cvec")).cast("double") / DOT_SCALE).alias(
            "dist"
        ),
    )
    return _pairs_topk_window(pairs, k, F.col("dist"))


def quantized_ip_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """int8 inner-product top-k: both sides quantized by
    ``quantize_int8`` (rows with a NULL or zero scale dropped), a
    broadcast probe join, a per-pair integer-dot UDF, per-probe window
    (dot_q DESC, cid)."""
    nonzero = F.col("scale").isNotNull() & (F.col("scale") != 0)
    qc = (
        quantize_int8(vectors, id_col, vec_col)
        .filter(nonzero)
        .select(F.col("vid").alias("cid"), F.col("qvec").alias("cq"))
    )
    qp = (
        quantize_int8(probes, id_col, vec_col)
        .filter(nonzero)
        .select(F.col("vid").alias("qid"), F.col("qvec").alias("pq"))
    )

    @pandas_udf("long")
    def qdot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        am = np.stack(a.to_numpy()).astype(np.int64)
        bm = np.stack(b.to_numpy()).astype(np.int64)
        return pd.Series((am * bm).sum(axis=1))

    pairs = (
        qc.join(F.broadcast(qp))
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", qdot_udf(F.col("pq"), F.col("cq")).alias("dot_q"))
    )
    return _pairs_topk_window(pairs, k, F.desc("dot_q"))


def sign_pack(
    vectors: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """1-bit quantization as packed words: each dimension's sign
    (x >= 0) is one bit, 32 bits per BIGINT word — (vid, w0, w1, ...)
    for ``dim`` dims, packed map-side by a higher-order aggregate."""
    if dim % 32 != 0:
        raise ValueError(f"dim={dim} must be a multiple of 32")
    words = [
        F.expr(
            f"aggregate(transform(slice({vec_col}, {w * 32 + 1}, 32),"
            " (x, i) -> IF(x >= 0, shiftleft(CAST(1 AS BIGINT), i),"
            " CAST(0 AS BIGINT))),"
            " CAST(0 AS BIGINT), (a, b) -> a + b)"
        ).alias(f"w{w}")
        for w in range(dim // 32)
    ]
    return vectors.select(F.col(id_col).alias("vid"), *words)


def hamming_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit Hamming top-k: packed words on both sides, a broadcast
    probe join scored by ``bit_count(xor)``, a per-probe window
    (hamming, cid), then the shortlist joined back to the probe and
    corpus vectors for the snapped-cosine annotation."""
    n_words = dim // 32
    c = sign_pack(vectors, dim, id_col, vec_col)
    p = sign_pack(probes, dim, id_col, vec_col).select(
        F.col("vid").alias("qid"),
        *[F.col(f"w{w}").alias(f"pw{w}") for w in range(n_words)],
    )
    hamming = None
    for w in range(n_words):
        t = F.bit_count(F.col(f"w{w}").bitwiseXOR(F.col(f"pw{w}")))
        hamming = t if hamming is None else hamming + t
    pairs = (
        c.join(F.broadcast(p))
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", F.col("vid").alias("cid"), hamming.alias("hamming"))
    )
    w_rank = W.partitionBy("qid").orderBy("hamming", "cid")
    short = pairs.withColumn("rank", F.row_number().over(w_rank).cast("int")).filter(
        F.col("rank") <= k
    )
    return pair_cosine(
        short, _normed(probes, id_col, vec_col), _normed(vectors, id_col, vec_col)
    ).select(
        F.col("qid").alias("query_id"),
        F.col("cid").alias("neighbor_id"),
        "hamming",
        "rank",
        "cosine",
    )


def _subspace_rows(
    vectors: DataFrame, num_subspaces: int, subdim: int, id_col: str, vec_col: str
) -> DataFrame:
    """(vid, j, sub) — each vector split into its m subspace slices by
    one inline explode."""
    return vectors.select(
        F.col(id_col).alias("vid"),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(F.col(vec_col), j * subdim + 1, subdim).alias("sub"),
                    )
                    for j in range(num_subspaces)
                ]
            )
        ),
    )


def pq_tables(
    vectors: DataFrame,
    probes: DataFrame,
    dim: int,
    num_subspaces: int,
    codebook_stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(codes, dtable): the corpus encode (vid, j, code) — each
    subspace slice joined to every codebook slice, snapped L2 per
    pair, the (d, code)-first row per (vid, j) — and the probe
    distance table (qid, j, code, dd), the probe slices joined to the
    broadcast codebook slices.  The codebook is the rows
    ``id % codebook_stride == 0``."""
    subdim = dim // num_subspaces
    cb = _subspace_rows(
        vectors.filter(F.col(id_col) % codebook_stride == 0),
        num_subspaces, subdim, id_col, vec_col,
    ).select(F.col("vid").alias("code"), "j", F.col("sub").alias("csub"))
    sub = _subspace_rows(vectors, num_subspaces, subdim, id_col, vec_col)
    enc = sub.join(F.broadcast(cb), "j").select(
        "vid", "j", "code", l2_dec_batch(F.col("sub"), F.col("csub")).alias("d")
    )
    w = W.partitionBy("vid", "j").orderBy("d", "code")
    codes = (
        enc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", "j", "code")
    )
    psub = _subspace_rows(probes, num_subspaces, subdim, id_col, vec_col)
    dtable = psub.join(F.broadcast(cb), "j").select(
        F.col("vid").alias("qid"),
        "j",
        "code",
        l2_dec_batch(F.col("sub"), F.col("csub")).alias("dd"),
    )
    return codes, dtable


def _adc_ranked(scored: DataFrame, k: int) -> DataFrame:
    """Per-probe window over summed ADC lookups (approx_dist, vid)."""
    approx = scored.groupBy("qid", "vid").agg(
        (F.sum("dd").cast("double") / DOT_SCALE).alias("approx_dist")
    )
    return _pairs_topk_window(
        approx.withColumnRenamed("vid", "cid"), k, F.col("approx_dist")
    )


def pq_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    dim: int,
    num_subspaces: int,
    codebook_stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC top-k: the code table joined to the broadcast probe
    distance table on (j, code), summed per (probe, vector), per-probe
    window."""
    codes, dtable = pq_tables(
        vectors, probes, dim, num_subspaces, codebook_stride, id_col, vec_col
    )
    scored = codes.join(F.broadcast(dtable), ["j", "code"]).filter(
        F.col("vid") != F.col("qid")
    )
    return _adc_ranked(scored, k)


def ivf_pq_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    dim: int,
    num_subspaces: int,
    centroid_stride: int,
    codebook_stride: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k: IVF candidates (stride centroids, window-ranked
    nearest cells, a cell join), joined to their codes and the probe
    distance table, summed, per-probe window, and each survivor joined
    back to the probe and corpus vectors for its snapped cosine."""
    corpus_n = _normed(vectors, id_col, vec_col)
    cents_n = corpus_n.filter(F.col("vid") % centroid_stride == 0)
    probe_cells = nearest_centroids(
        _normed(probes, id_col, vec_col), cents_n, nprobe
    ).withColumnRenamed("vid", "qid")
    cand = (
        probe_cells.join(assign_cells(corpus_n, cents_n).select("vid", "cvid"), "cvid")
        .filter(F.col("qid") != F.col("vid"))
        .select("qid", "vid")
        .distinct()
    )
    codes, dtable = pq_tables(
        vectors, probes, dim, num_subspaces, codebook_stride, id_col, vec_col
    )
    scored = cand.join(codes, "vid").join(F.broadcast(dtable), ["qid", "j", "code"])
    ranked = _adc_ranked(scored, k).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("cid"),
        "rank",
        "approx_dist",
    )
    return pair_cosine(ranked, _normed(probes, id_col, vec_col), corpus_n).select(
        F.col("qid").alias("query_id"),
        F.col("cid").alias("neighbor_id"),
        "rank",
        "approx_dist",
        "cosine",
    )


def hyperplane_signatures(
    vectors: DataFrame,
    num_bits: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, sig): ``num_bits`` (<= 63) sign-of-dot-product bits per
    vector packed into one BIGINT, bit b = plane b — the float32 batch
    widened to float64, floor-snapped to int64 and multiplied against
    the integer hyperplane matrix exactly."""

    @pandas_udf("long")
    def sig_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int64")
        mat = np.stack(emb.to_numpy())
        q = np.floor(mat.astype(np.float64) * DOT_SCALE).astype(np.int64)
        dots = q @ _hyperplane_matrix(q.shape[1], num_bits)
        weights = np.uint64(1) << np.arange(num_bits, dtype=np.uint64)
        sig = ((dots > 0).astype(np.uint64) * weights).sum(axis=1)
        return pd.Series(sig.astype(np.int64))

    return vectors.select(
        F.col(id_col).alias("vid"), sig_udf(F.col(vec_col)).alias("sig")
    )


def _band_rows(
    sigs: DataFrame, num_bits: int, bands: int, key_bits: int | None = None
) -> DataFrame:
    """(vid, band, key): band b of a (vid, sig) table is its bits
    b·r .. b·r + r - 1 (r = num_bits // bands), sliced with integer
    ``sig div 2^(b·r) % 2^r`` (float division would corrupt signatures
    wider than 53 bits) and masked to its low ``key_bits`` bits."""
    r = num_bits // bands

    def key(b):
        k = F.expr(f"sig div {2 ** (b * r)}") % (2**r)
        return k % (2**key_bits) if key_bits is not None and key_bits < r else k

    return sigs.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), key(b).alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("vid", "bk.band", "bk.key")


def lsh_ann_pairs(
    vectors: DataFrame,
    num_bits: int,
    bands: int,
    min_cosine: float,
    key_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded hyperplane-LSH pairs: packed band keys, a distinct
    (band, key) self-join with vid < vid, the snapped-cosine verify
    against the inline-normed vectors, pairs >= ``min_cosine``."""
    sigs = hyperplane_signatures(vectors, num_bits, id_col, vec_col)
    rows = _band_rows(sigs, num_bits, bands, key_bits)
    x, y = rows.alias("x"), rows.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.vid") < F.col("y.vid")),
        )
        .select(F.col("x.vid").alias("qid"), F.col("y.vid").alias("cid"))
        .distinct()
    )
    normed = _normed(vectors, id_col, vec_col)
    return (
        pair_cosine(candidates, normed, normed)
        .filter(F.col("cosine") >= min_cosine)
        .select(F.col("qid").alias("vec_a"), F.col("cid").alias("vec_b"), "cosine")
    )


def lsh_ann_probe(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    num_bits: int,
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe-panel hyperplane-LSH top-k: packed band keys of both
    sides, the broadcast probe keys joined to the corpus keys,
    self-matches dropped, snapped-cosine verify, per-probe window."""
    corpus, panel = (
        _band_rows(
            hyperplane_signatures(df, num_bits, id_col, vec_col), num_bits, bands
        )
        for df in (vectors, probes)
    )
    candidates = (
        corpus.join(
            F.broadcast(panel.withColumnRenamed("vid", "qid")), ["band", "key"]
        )
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", F.col("vid").alias("cid"))
        .distinct()
    )
    pairs = pair_cosine(
        candidates, _normed(probes, id_col, vec_col), _normed(vectors, id_col, vec_col)
    )
    return _pairs_topk_window(pairs, k, F.desc("cosine"))
