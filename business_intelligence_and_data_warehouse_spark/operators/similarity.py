"""Similarity search over embedding columns (array<float>).

Three paths:
* brute-force cosine top-k — the exact baseline; the probe panel is
  held in every task and scored against each corpus row in one pass,
  per-batch top-k survivors then one window rank;
* hyperplane-LSH bucketed ANN — the scale path for similarity *joins*:
  random-hyperplane sign bits, banded OR-blocking, verify candidates
  only;
* IVF (inverted-file) top-k — the scale path for *query* workloads: a
  small deterministic centroid set partitions the corpus into cells
  (each vector assigned to its nearest centroid); a probe scans only
  its nprobe nearest cells, so per-query cost is corpus/cells × nprobe
  instead of the full corpus.

Float determinism: every dot-product term is snapped to an integer —
``FLOOR(x*y*1e6)`` summed as BIGINT — so the sum is exact and
order-independent, and Spark and an oracle engine get bit-identical
cosines (summing raw doubles mismatches on ~100% of pairs; see
plans/queries.py docstring for the theory). The parity chain is pure
IEEE arithmetic: float→double widening, double multiply, and floor
are each bit-identical in every engine — no repr-vs-binary rounding
mode is involved (unlike double→decimal casts). Snapping costs ~1e-6
absolute cosine error — identically in every engine, so rankings stay
consistent. The long sums stay far under 2^53, so the final cast back
to double is exact.

Scale notes:
* dot products, norms, and LSH signatures are computed ARRAY-NATIVE
  (`zip_with`/`transform` + `aggregate` higher-order functions) — one
  row per vector, evaluated map-side in the JVM with NO shuffle and no
  64×-wider exploded element table. The only shuffles left are the
  joins/windows that are semantically required (candidate blocking,
  per-query top-k). On a 1000-executor cluster this is the difference
  between shuffling corpus×dim rows and shuffling corpus rows.
* hyperplanes are generated arithmetically from (bit, position) — no
  stored model state, identical on every executor, nothing to
  broadcast.
* `element_table`/`norms` remain available as the long-form
  building blocks (they define the oracle-SQL formulation).
"""

from __future__ import annotations

import math
import re
import sys

import numpy as np
import pandas as pd
import pyarrow as _pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.functions import pandas_udf

from ..session import local_frame

try:
    # Ship worker-side functions BY VALUE (see operators/multimodal.py:
    # the driver may import this package from a sys.path entry Python
    # workers don't have; by-value pickling makes the pandas_udf
    # closures self-contained — their globals are numpy/pandas only).
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover - older cloudpickle
    pass

# quantization scale: FLOOR(term * 1e6) — products here are < 1, so
# scaled terms are < 1e6 and even 1e5-dim sums stay far under 2^53
DOT_SCALE = 1e6


def element_table(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, pos 1-based, value double) long form of the vectors — the
    shape the DuckDB oracles compute over."""
    return vectors.select(
        F.col(id_col).alias("vid"), F.posexplode(vec_col).alias("pos", "val")
    ).select("vid", (F.col("pos") + 1).alias("pos"), F.col("val").cast("double").alias("val"))


def norms(elements: DataFrame) -> DataFrame:
    """(id, l2 norm) from the long form (oracle-parity building block)."""
    return elements.groupBy("vid").agg(
        F.sqrt(
            F.sum(F.floor(F.col("val") * F.col("val") * DOT_SCALE)).cast("double")
            / DOT_SCALE
        ).alias("norm")
    )


def dot_dec(a: Column, b: Column) -> Column:
    """Deterministic dot product of two array columns: each pairwise
    product floor-quantized to a scaled BIGINT, summed exactly
    (integer addition is associative), returned as double. The whole
    chain — float→double widen, IEEE multiply, floor — is bit-identical
    in every engine, and the primitive long terms keep the interpreted
    higher-order aggregate cheap (no per-term BigDecimal)."""
    return (
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: F.floor(x.cast("double") * y.cast("double") * DOT_SCALE),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
        / DOT_SCALE
    )


def norm_dec(a: Column) -> Column:
    """Deterministic L2 norm of an array column (same snapping as
    :func:`dot_dec` over the self-products)."""
    return F.sqrt(dot_dec(a, a))


def dot_dec_batch(a: Column, b: Column) -> Column:
    """Arrow-batched twin of :func:`dot_dec` for pair-scoring hot loops
    (|pairs| x dim work): float32 -> float64 widen, IEEE multiply,
    floor to scaled int64, exact integer row-sum — the same snapped
    value, computed as one vectorized numpy pass per Arrow batch
    instead of an interpreted higher-order `aggregate` lambda per row.
    """

    @pandas_udf("double")
    def dot_udf(av: pd.Series, bv: pd.Series) -> pd.Series:
        if len(av) == 0:
            return pd.Series([], dtype="float64")
        am = np.stack(av.to_numpy()).astype(np.float64)
        bm = np.stack(bv.to_numpy()).astype(np.float64)
        d = np.floor(am * bm * DOT_SCALE).astype(np.int64).sum(axis=1)
        return pd.Series(d / DOT_SCALE)

    return dot_udf(a, b)


def _cosine(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot / F.nullif(norm_a * norm_b, F.lit(0.0))


def _with_norm(
    vectors: DataFrame, id_col: str, vec_col: str, prefix: str
) -> DataFrame:
    """(<prefix>id, <prefix>vec, <prefix>norm) — norm computed map-side."""
    return vectors.select(
        F.col(id_col).alias(f"{prefix}id"),
        F.col(vec_col).alias(f"{prefix}vec"),
        norm_dec(F.col(vec_col)).alias(f"{prefix}norm"),
    )


def cosine_pairs(
    probes: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, cid, cosine) for the full probe × corpus set (self-pairs
    NOT excluded). The probe side is broadcast; each corpus row
    computes its |probes| cosines map-side — no shuffle at all."""
    p = _with_norm(probes, id_col, vec_col, "q")
    c = _with_norm(corpus, id_col, vec_col, "c")
    return c.join(F.broadcast(p)).select(
        "qid",
        "cid",
        _cosine(
            dot_dec_batch(F.col("qvec"), F.col("cvec")),
            F.col("qnorm"),
            F.col("cnorm"),
        ).alias("cosine"),
    )


def mmr_select(
    vectors: DataFrame,
    query_vec: list[float],
    k: int,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Greedy maximal-marginal-relevance selection: pick ``k`` vectors
    maximizing ``lam·rel − (1−lam)·max_sim_to_selected``, where ``rel``
    is snapped cosine to ``query_vec`` — the standard diverse-subset
    primitive (Carbonell & Goldstein '98) a training-data pipeline
    uses for few-shot/eval-set construction and coreset-style pruning
    (``lam→0`` degenerates to farthest-point / k-center selection).

    Returns (rank, id_col, relevance, max_sim_selected, mmr_score) —
    one row per pick, in selection order.

    Scale shape (100 TB): greedy MMR is INHERENTLY sequential — each
    pick changes the next scores — so, like the BPE trainer, the loop
    has k synchronization points.  What this implementation moves per
    step is one MAP-SIDE corpus pass (dots against ≤k LITERAL selected
    vectors via `zip_with`/`aggregate`, a running `greatest`, no
    shuffle at all) plus a top-1 reduce; driver state is k rows.  Cost
    is O(k · corpus · dim) total with embarrassing parallelism — the
    same passes-over-data shape as k-center coreset selection in any
    engine.

    Determinism / oracle parity: relevance and pair similarities use
    the snapped dot (`FLOOR(x·y·1e6)` summed exact); the selected-set
    max is a max over identical doubles (order-independent); ties
    break (score DESC, id ASC).  ``lam`` should be a dyadic rational
    (0.5, 0.25, 0.75) so ``1 − lam`` is exact in every engine — the
    registry query uses 0.5.  The query vector's norm is computed
    driver-side with the IDENTICAL float ops (floor/sum/DOT_SCALE/
    sqrt), so the literal matches the engines' own arithmetic to the
    bit.  Zero-norm candidates are EXCLUDED (cosine is undefined for
    them — without the filter a NULL score crashed the pick loop, r11
    review finding; the oracle applies the same ``norm > 0`` filter);
    a zero-norm QUERY vector raises up front."""
    from .caching import pin

    spark = vectors.sparkSession
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    qnorm = math.sqrt(
        sum(
            math.floor(float(x) * float(x) * DOT_SCALE) for x in query_vec
        ) / DOT_SCALE
    )
    if qnorm == 0.0:
        raise ValueError("mmr_select: query vector has zero norm")
    base = _normed(vectors, id_col, vec_col).filter(F.col("norm") > 0)
    if exclude_ids:
        base = base.filter(~F.col("vid").isin(exclude_ids))
    base = pin(
        base.withColumn(
            "rel", _cosine(dot_dec(F.col("vec"), qlit), F.lit(qnorm), F.col("norm"))
        )
    )
    selected: list[dict] = []
    for rank in range(1, k + 1):
        cand = base
        if selected:
            cand = cand.filter(
                ~F.col("vid").isin([s["vid"] for s in selected])
            )
            sims = [
                _cosine(
                    dot_dec(
                        F.col("vec"),
                        F.array(*[F.lit(float(x)) for x in s["vec"]]),
                    ),
                    F.lit(s["norm"]),
                    F.col("norm"),
                )
                for s in selected
            ]
            maxsim = F.greatest(*sims) if len(sims) > 1 else sims[0]
        else:
            maxsim = F.lit(0.0)
        scored = cand.withColumn("maxsim", maxsim).withColumn(
            "score",
            F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("maxsim"),
        )
        top = scored.orderBy(F.desc("score"), F.col("vid")).limit(1).collect()
        if not top:
            break
        r = top[0]
        selected.append(
            {
                "rank": rank,
                "vid": int(r["vid"]),
                "vec": list(r["vec"]),
                "norm": float(r["norm"]),
                "rel": float(r["rel"]),
                "maxsim": float(r["maxsim"]),
                "score": float(r["score"]),
            }
        )
    return local_frame(
        spark,
        [
            (s["rank"], s["vid"], s["rel"], s["maxsim"], s["score"])
            for s in selected
        ],
        [
            ("rank", _pa.int32()),
            (id_col, _pa.int64()),
            ("relevance", _pa.float64()),
            ("max_sim_selected", _pa.float64()),
            ("mmr_score", _pa.float64()),
        ],
    )


def clustered_corpus(
    ids: DataFrame,
    dim: int = 16,
    centers: int = 32,
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic CLUSTERED embedding corpus derived arithmetically
    from an id column — the structure real text/image embeddings have
    (neighbors concentrate in few directions), as opposed to the
    testdata's uniform-sphere vectors, which are the IVF worst case
    (SCALE.md round-11 nprobe study: uniform 64-dim data needs a ~0.7
    cell fraction for recall ≥0.9 at every N; clustered data holds
    0.93+ at a FIXED nprobe).

    Closed form so a SQL oracle regenerates it bit-identically (the
    hyperplane-family discipline — integer arithmetic through the
    prime 1013, one exact double division at the end, no RNG state):

    * center(vid)   = (vid·2654435761) % 1013 % centers
    * ccomp(c, pos) = ((c·40503 + pos·69069 + 17) % 1013) − 506
    * ncomp(vid, pos) = ((vid·97 + pos·31 + 7) % 151) − 75
    * component     = (ccomp·7 + ncomp·30) / 1000.0  (exact: int → double)

    The center term spans ±3.5 per coordinate with the noise term at
    ±2.25 (64% of the center scale — substantial): clusters stay
    clusters because identity, not tightness, is what separates them
    in cosine space.  Returns (id_col, embedding array<double>); double,
    not float, because the oracle's regenerated values must match to
    the bit and a float round-trip would not."""
    c = (F.col(id_col) * F.lit(2654435761)) % 1013 % centers
    comps = []
    for pos in range(dim):
        ccomp = (c * 40503 + pos * 69069 + 17) % 1013 - 506
        ncomp = (F.col(id_col) * 97 + pos * 31 + 7) % 151 - 75
        comps.append((ccomp * 7 + ncomp * 30).cast("double") / F.lit(1000.0))
    return ids.select(F.col(id_col), F.array(*comps).alias("embedding"))


def cosine_for_pairs(
    pairs: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine for an explicit (qid, cid) pair set — cost is
    O(|pairs| × dim), independent of corpus size (the verify step of
    every LSH/blocking pipeline). Joins are on vector id only (narrow
    rows); the dot product itself is a map-side array aggregate."""
    q = _with_norm(vectors, id_col, vec_col, "q")
    c = _with_norm(vectors, id_col, vec_col, "c")
    return (
        pairs.join(q, "qid")
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


def brute_force_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest (cosine) corpus vectors per probe vector.

    Deterministic ranking: cosine DESC, then corpus id ASC as the
    tiebreaker. Self-matches (same id) are excluded.

    The probe set is collected once to the driver and held in every
    task (:func:`_panel_topk`): one corpus pass scores each row against
    every probe, with no probe×corpus pair fan-out through a join."""
    panel = _collect_normed(_normed(probes, id_col, vec_col))
    return _panel_topk(_normed(vectors, id_col, vec_col), panel, k)


def matryoshka_topk(
    vectors: DataFrame,
    probes: DataFrame,
    d: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over the FIRST ``d`` dimensions of the embeddings —
    the Matryoshka-representation search pattern (Kusupati et al.,
    "Matryoshka Representation Learning"): embeddings trained so that
    prefixes are themselves valid lower-dimensional embeddings let the
    search read a d-dim prefix at 1/(dim/d) of the dot-product cost
    and memory bandwidth. Cosine over the truncated prefix
    renormalizes implicitly (the norm is the prefix norm), so this is
    `brute_force_topk` on sliced arrays — same snapped determinism,
    same in-task probe-panel plan, d/dim of the arithmetic.

    At 100 TB this is a first-pass retriever: prefix top-k' (k' > k)
    shortlists candidates, the full-dim rerank touches only k' rows
    per probe (compose with `cosine_for_pairs`).

    ``d`` must be a real prefix: d < 1 raises immediately, and a
    vector shorter than d fails in-scan (``raise_error``) — a silent
    slice-to-whatever would make a recall report against the full-dim
    top-k read 1.0 and "validate" a shortlist that never truncated.
    """
    if d < 1:
        raise ValueError(f"matryoshka prefix width must be >= 1, got {d}")

    def trunc(df: DataFrame) -> DataFrame:
        vec = F.col(vec_col)
        guarded = F.when(F.size(vec) >= d, F.slice(vec, 1, d)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"matryoshka_topk: prefix width {d} exceeds "
                        "embedding width "
                    ),
                    F.size(vec).cast("string"),
                )
            ).cast(df.schema[vec_col].dataType)
        )
        return df.select(F.col(id_col), guarded.alias(vec_col))

    return brute_force_topk(trunc(vectors), trunc(probes), k, id_col, vec_col)


def l2_dec_batch(a: Column, b: Column) -> Column:
    """Snapped squared-L2 distance between two array columns, as a
    scaled BIGINT: per-element ``FLOOR((x-y)^2 * 1e6)`` summed exactly
    (the :func:`dot_dec` determinism argument applied to differences —
    float32→float64 widen and subtract are exact, the square is one
    IEEE multiply). Arrow-batched for the encode/ADC hot loops."""

    @pandas_udf("long")
    def l2_udf(av: pd.Series, bv: pd.Series) -> pd.Series:
        if len(av) == 0:
            return pd.Series([], dtype="int64")
        am = np.stack(av.to_numpy()).astype(np.float64)
        bm = np.stack(bv.to_numpy()).astype(np.float64)
        d = (am - bm)
        return pd.Series(np.floor(d * d * DOT_SCALE).astype(np.int64).sum(axis=1))

    return l2_udf(a, b)


# ---------------------------------------------------------------------------
# product quantization (PQ) + asymmetric-distance top-k
# ---------------------------------------------------------------------------

def _subspace_rows(
    vectors: DataFrame,
    num_subspaces: int,
    subdim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vid, j, sub) — the vector split into its m subspace slices,
    built map-side with one inline explode (bounded fan-out m)."""
    return vectors.select(
        F.col(id_col).alias("vid"),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(
                            F.col(vec_col), j * subdim + 1, subdim
                        ).alias("sub"),
                    )
                    for j in range(num_subspaces)
                ]
            )
        ),
    )


# Per-process memo of MATERIALIZED corpus code tables, keyed by
# (applicationId, caller tag, dim, m, stride, id_col, vec_col).  The
# four PQ-family registry queries (sim_ann_pq, sim_ann_ivfpq,
# sim_ann_ivfpq_fixed, sim_pq_recall_report) all encode the SAME
# corpus under the SAME fixed-256 codebook; without this each paid the
# full encode pass (~36s of the sf0.1 battery tail sat in the family,
# r9 verdict item 5).  The encode is deterministic in (corpus, params)
# — reuse cannot change a row — and the memo lives on DISK (not the
# pin ledger, which release_pinned clears at every query boundary), in
# dirs removed at interpreter exit.  This is the r4 shared-tokenize
# pattern applied across the family: build once, read many.
_PQ_CODES_MEMO: dict[tuple, str] = {}


def _pq_memo_dir() -> str:
    from .caching import scratch_dir

    return scratch_dir("bidw_artifact_memo")


def _corpus_fingerprint(df: DataFrame, id_col: str, vec_col: str) -> tuple:
    """(row_count, 64-bit content digest) of a vector corpus — the
    content-aware component of every artifact-memo key.

    The r10 memo keys were (applicationId, tag, params) only: a
    same-tag call against a DIFFERENT corpus (filtered, rewritten
    in-place, regenerated testdata) silently served stale
    codes/centroids/index for the rest of the process (r10 verdict
    item 3 / advisor finding).  The digest is the ingest sink's exact
    content-address form and folds BOTH ids and embedding values in:
    an in-place vector rewrite under the same ids changes the key too.

    Two commutative (partitioning/row-order independent) folds are
    combined, because either alone has a structured blind spot (r11
    advisor finding):

    * ``bit_xor(xxhash64(id, vec))`` is SELF-CANCELING — any row
      appearing an even number of times XORs to zero, so two corpora
      of equal count differing only in even-multiplicity duplicated
      rows collide;
    * an additive fold (``sum(xxhash64)`` mod 2^64) sees multiplicity
      (k copies contribute k·h) but is weaker against crafted
      id-swaps that preserve the sum.

    The additive fold is spread by an odd (hence invertible mod 2^64)
    multiplier before XOR-combining — without it every 1-row corpus
    would digest to ``h ^ h = 0`` and all singleton batches would
    share one content address.  The sum is exact: decimal(38,0)
    accumulation holds |sum| < 2^63·n up to n ~ 1e19 rows, then a
    driver-side mod.  Cost is unchanged — one column-pruned agg scan
    of (id, vec) per memo call, O(corpus) with a tiny constant, vs
    the O(corpus × params) build the memo avoids; at the x1000 ramp
    corpus (~2M × 64 floats) the scan is sub-second."""
    h = f"xxhash64({id_col}, {vec_col})"
    fp_agg = df.agg(
        F.expr(f"bit_xor({h})").alias("x"),
        F.expr(f"sum(cast({h} as decimal(38,0)))").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    row = fp_agg.collect()[0]
    mask = 0xFFFFFFFFFFFFFFFF
    xor_fold = (row["x"] or 0) & mask
    add_fold = int(row["s"] or 0) & mask
    digest = xor_fold ^ ((add_fold * 0x9E3779B97F4A7C15) & mask)
    return (row["n"], digest)


def _pq_encode_batched(
    vectors: DataFrame,
    cb_rows,
    num_subspaces: int,
    subdim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vid, j, code) corpus encode as ONE ``mapInArrow`` pass: each
    task holds the collected codebook as numpy arrays and computes all
    ``num_subspaces`` snapped-L2 argmins per vector in vectorized
    chunks — ``FLOOR((x-y)^2 * 1e6)`` int64 sums, tie -> smaller code,
    with N rows crossing the Python boundary instead of N·m·K joined
    (subspace, codebook) rows.  An empty codebook encodes nothing.

    Parity notes: float32 -> float64 widening is exact (Spark's Row
    collect widens FloatType the same way numpy's astype does);
    codebook rows are sorted by code ascending so numpy's
    first-minimum argmin IS the oracle's ``min(struct(d, code))``
    tie-break."""
    import numpy as _np
    import pyarrow as _pa

    m = num_subspaces
    ordered = sorted(cb_rows, key=lambda r: r["code"])
    code_ids = _np.array([r["code"] for r in ordered], dtype=_np.int64)
    cbm = _np.array([list(r["v"]) for r in ordered], dtype=_np.float64)

    src = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )

    def encode(batches):
        if not len(code_ids):
            return
        cb_sub = [
            _np.ascontiguousarray(cbm[:, j * subdim:(j + 1) * subdim])
            for j in range(m)
        ]
        for batch in batches:
            vids = batch.column("vid").to_numpy(zero_copy_only=False)
            n_rows = len(vids)
            if n_rows == 0:
                continue
            # flatten() honors list offsets (embedding cells are
            # non-null fixed-dim by contract), so the reshape is safe
            x = (
                batch.column("vec")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n_rows, -1)
                .astype(_np.float64)
            )
            out_codes = _np.empty((n_rows, m), dtype=_np.int64)
            # chunk rows so the (rows, K, subdim) temp stays ~tens of MB
            step = max(1, (8 << 20) // max(1, len(code_ids) * subdim * 8))
            for lo in range(0, n_rows, step):
                hi = min(n_rows, lo + step)
                for j in range(m):
                    d = (
                        x[lo:hi, None, j * subdim:(j + 1) * subdim]
                        - cb_sub[j][None, :, :]
                    )
                    dist = (
                        _np.floor(d * d * DOT_SCALE)
                        .astype(_np.int64)
                        .sum(axis=2)
                    )
                    out_codes[lo:hi, j] = code_ids[dist.argmin(axis=1)]
            yield _pa.record_batch(
                {
                    "vid": _np.repeat(vids, m),
                    "j": _np.tile(
                        _np.arange(m, dtype=_np.int32), n_rows
                    ),
                    "code": out_codes.reshape(-1),
                }
            )

    return src.mapInArrow(encode, "vid long, j int, code long")


def _pq_codes(
    vectors: DataFrame,
    probes: DataFrame,
    dim: int,
    num_subspaces: int,
    codebook_stride: int,
    id_col: str,
    vec_col: str,
    codes_tag: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(codes, dtable) — the two PQ artifacts :func:`pq_topk` and
    :func:`ivf_pq_topk` share: ``codes`` is the encoded corpus
    (vid, j, code), ``dtable`` the probe-to-codebook subdistance
    lookup (qid, j, code, dd as scaled BIGINT).

    ``codebook_stride`` picks the codebook as ``vid % stride == 0``.
    The codebook is collected once and held in every encode task
    (:func:`_pq_encode_batched`), and the encode scores every corpus
    subspace against every entry, so the codebook size MUST be
    bounded (callers default to ~256 entries by
    sizing stride = N/256): a stride fixed as the corpus grows makes
    the codebook N/stride entries and the encode pass O(N²·m/stride)
    — measured as a 4 GiB-heap OOM at 60k vectors (x30 ramp data) in
    the round-8 scale ramp, the same structural quadratic the trained
    √N coarse quantizer fixed for IVF cells.  The flip side at TOY
    corpora: 256 entries exceed N/old-stride below N=6400, so the
    bench SF pays a measured constant factor (~2.8× on sim_ann_pq at
    2000 vectors, interleaved best-of-2: 3.7s vs 10.3s) for the corpus-independent codebook — the same
    honest trade as the recall-targeted 0.7·√N probe budget."""
    if dim % num_subspaces != 0:
        raise ValueError(
            f"dim {dim} not divisible by num_subspaces {num_subspaces}"
        )
    subdim = dim // num_subspaces
    cb_src = vectors.filter(F.col(id_col) % codebook_stride == 0).select(
        F.col(id_col).alias("code"), F.col(vec_col).alias("v")
    )
    cb = cb_src.select(
        "code",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(
                            F.col("v"), j * subdim + 1, subdim
                        ).alias("csub"),
                    )
                    for j in range(num_subspaces)
                ]
            )
        ),
    )
    # encode: nearest code per (vector, subspace), tie -> smaller code,
    # as ONE vectorized numpy pass per Arrow batch — N corpus rows cross
    # the Python boundary instead of N·m·K (subspace, codebook) pairs
    codes = _pq_encode_batched(
        vectors, cb_src.collect(), num_subspaces, subdim, id_col, vec_col
    )
    if codes_tag is not None:
        # serve the corpus encode from the per-process parquet memo:
        # first caller in a session materializes it, the rest of the
        # PQ family reads N·m narrow rows instead of re-running the
        # encode pass
        spark = vectors.sparkSession
        key = (
            spark.sparkContext.applicationId,
            codes_tag,
            _corpus_fingerprint(vectors, id_col, vec_col),
            dim,
            num_subspaces,
            codebook_stride,
            id_col,
            vec_col,
        )
        path = _PQ_CODES_MEMO.get(key)
        if path is None:
            path = _pq_memo_dir()
            codes.write.mode("overwrite").parquet(path)
            _PQ_CODES_MEMO[key] = path
        codes = spark.read.parquet(path)
    # ADC lookup table: probe-to-codebook subdistances (P * m * K rows)
    psub = _subspace_rows(probes, num_subspaces, subdim, id_col, vec_col)
    dtable = psub.join(F.broadcast(cb), "j").select(
        F.col("vid").alias("qid"),
        "j",
        "code",
        l2_dec_batch(F.col("sub"), F.col("csub")).alias("dd"),
    )
    return codes, dtable


def pq_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    dim: int,
    num_subspaces: int = 8,
    centroid_stride: int | None = None,
    codebook_size: int = 256,
    n: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_tag: str | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product Quantization
    for Nearest Neighbor Search"): split each vector into m subspaces,
    encode every corpus vector as its nearest codebook entry PER
    SUBSPACE (m small codes instead of dim floats), and answer queries
    by asymmetric distance computation — the query stays full
    precision, the corpus is read as codes, and the approximate
    distance is the sum of m table lookups.

    Codebooks are a deterministic stride subset sized to
    ``codebook_size`` entries (stride = N/``codebook_size``, the
    production FIXED-SIZE rule — FAISS's 256 codes per subspace):
    the encode pass stays O(N·m·256) as the corpus grows.  Passing
    ``centroid_stride`` pins the stride directly instead (unit tests
    use stride 1 for the lossless-codebook identity); a FIXED stride
    makes the codebook N/stride entries and the encode quadratic —
    the round-8 ramp OOM, see :func:`_pq_codes`.  ``n`` short-circuits
    the corpus count when the caller already knows it.  ``codes_tag``
    (a stable corpus identity, e.g. the sf_dir) opts the corpus encode
    into the per-process parquet memo so a family of queries over the
    same corpus shares ONE encode pass (see ``_PQ_CODES_MEMO``).

    Output: (query_id, neighbor_id, rank, approx_dist) — approx
    squared-L2, ascending, ties on neighbor id. Distances snap
    per-element (``FLOOR((x-y)^2 * 1e6)`` summed as BIGINT), so
    encode assignments and ADC ranks are bit-identical cross-engine.

    Scale design: this is the MEMORY-BANDWIDTH answer to ANN — after
    encode, a corpus vector is m codes (8 bytes at m=8), so the scan
    side of a query reads ~dim*4/m/1 fewer bytes than brute force.
    The encode pass is the only corpus-wide work: one map-side Arrow
    pass against the collected codebook (:func:`_pq_encode_batched`).
    ADC joins the (P·m·K)-row distance table — tiny for bounded probe
    sets — as a broadcast against the code table, then one
    groupBy(qid, vid) partial-aggregated sum. No corpus self-join
    anywhere.
    """
    if centroid_stride is None:
        if n is None:
            n = vectors.count()
        centroid_stride = max(1, n // codebook_size)
    codes, dtable = _pq_codes(
        vectors, probes, dim, num_subspaces, centroid_stride, id_col, vec_col,
        codes_tag=codes_tag,
    )
    approx = (
        codes.join(F.broadcast(dtable), ["j", "code"])
        .groupBy("qid", "vid")
        .agg((F.sum("dd").cast("double") / DOT_SCALE).alias("approx_dist"))
        .filter(F.col("vid") != F.col("qid"))
    )
    w = W.partitionBy("qid").orderBy("approx_dist", F.col("vid"))
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("neighbor_id"),
            "rank",
            "approx_dist",
        )
    )


def ivf_pq_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    dim: int,
    num_subspaces: int = 8,
    centroid_stride: int = 25,
    nprobe: int = 4,
    codebook_size: int | None = None,
    n: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_tag: str | None = None,
) -> DataFrame:
    """IVF-PQ (the FAISS ``IVFADC`` architecture): coarse cells prune
    WHICH vectors a probe scores, PQ codes make each score a table
    lookup — the composition that serves billion-vector corpora,
    because per-query cost becomes (nprobe/cells of the corpus) rows
    × (m lookups each) with the corpus stored as m-byte codes.

    Candidate generation is exactly :func:`ivf_topk`'s (cosine cell
    assignment, nprobe nearest cells per probe); scoring is exactly
    :func:`pq_topk`'s ADC (snapped squared-L2 over stride codebooks)
    restricted to the candidates — both halves reuse the factored
    machinery (`_ivf_candidates`, `_pq_codes`), so the composition
    cannot drift from its parts. The metric mix (cosine cells, L2
    scoring) is an approximation on unnormalized vectors — rerank the
    top-k' with :func:`cosine_for_pairs` when exact cosine order
    matters, as FAISS users rerank ADC shortlists.

    Output contract matches :func:`pq_topk`; a probe returns at most
    min(k, candidates-in-its-cells) rows.
    """
    cand = _ivf_candidates(
        vectors, probes, centroid_stride, nprobe, id_col, vec_col
    ).select("qid", F.col("cid").alias("vid"))
    # cells and codebook are DIFFERENT knobs: centroid_stride shapes
    # the coarse cells; codebook_size (when given) pins a bounded
    # ~256-entry codebook per subspace so the encode pass stays linear
    # in the corpus (see _pq_codes) instead of inheriting the cell
    # stride
    cb_stride = centroid_stride
    if codebook_size is not None:
        if n is None:
            n = vectors.count()
        cb_stride = max(1, n // codebook_size)
    codes, dtable = _pq_codes(
        vectors, probes, dim, num_subspaces, cb_stride, id_col, vec_col,
        codes_tag=codes_tag,
    )
    scored = (
        cand.join(codes, "vid")
        .join(F.broadcast(dtable), ["qid", "j", "code"])
        .groupBy("qid", "vid")
        .agg((F.sum("dd").cast("double") / DOT_SCALE).alias("approx_dist"))
    )
    w = W.partitionBy("qid").orderBy("approx_dist", F.col("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("neighbor_id"),
            "rank",
            "approx_dist",
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate top-k
# ---------------------------------------------------------------------------

def _normed(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, vec, norm) — the reusable normed form of a vector table.
    Prefix views for join sides are pure renames on top, so a persisted
    normed table serves every consumer from one cache."""
    return vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm_dec(F.col(vec_col)).alias("norm"),
    )


def _as_prefix(normed: DataFrame, prefix: str) -> DataFrame:
    return normed.select(
        F.col("vid").alias(f"{prefix}id"),
        F.col("vec").alias(f"{prefix}vec"),
        F.col("norm").alias(f"{prefix}norm"),
    )


def _cosine_for_pairs_normed(pairs: DataFrame, normed: DataFrame) -> DataFrame:
    """:func:`cosine_for_pairs` over a pre-normed (and typically
    persisted) vector table — both join sides are renames of the same
    cached table, so the norm pass runs exactly once."""
    q = _as_prefix(normed, "q").select("qid", "qvec", "qnorm")
    c = _as_prefix(normed, "c").select("cid", "cvec", "cnorm")
    return (
        pairs.join(q, "qid")
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


# ---------------------------------------------------------------------------
# Collected-panel Arrow scorers.  A probe batch is a small panel by
# design (every registered query probes a FIXED 50-id panel or the 1%
# ``vec_id % 100 == 0`` stride), and a centroid set is bounded by its
# quantizer (√N trained cells; N/stride for the stride quantizer, whose
# growth is its documented scale limit) — so both are collected ONCE to
# the driver and held inside every task.  Each ANN operator is then ONE
# corpus-side mapInArrow pass: each scanned row crosses the Arrow
# boundary once, is assigned and scored against the in-task centroids
# and panel with the identical snapped-numpy arithmetic
# `dot_dec_batch` uses, and only per-batch top-k survivors flow into
# the final exact rank.  A relational form of the same operators
# (broadcast joins + windows) would broadcast the very same panel and
# centroid rows, so it bounds nothing this path does not; it lives in
# tests/ann_reference.py as the parity reference.
# ---------------------------------------------------------------------------

# float64 terms (probes × rows × dim) one numpy scoring step holds:
# ~8 MB of temporaries whatever the panel size
_TILE_TERMS = 1 << 20


def _collect_normed(normed: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one driver copy of a probe panel or centroid set: a normed
    (vid, vec, norm) table collected in one job, as (ids, float64 vec
    matrix, norms) sorted by vid ascending.  float32→float64 widen is
    exact, so the matrix replays the JVM values bit for bit."""
    rows = sorted(
        normed.select("vid", "vec", "norm").collect(), key=lambda r: r["vid"]
    )
    ids = np.array([int(r["vid"]) for r in rows], dtype=np.int64)
    vecs = np.array([list(r["vec"]) for r in rows], dtype=np.float64)
    norms = np.array([float(r["norm"]) for r in rows], dtype=np.float64)
    return ids, vecs, norms


def _snapped_cos_block(
    qmat: np.ndarray, qnorms: np.ndarray, cmat: np.ndarray, cnorms: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(cosine, isnull), shape (probes, rows), of probe rows against a
    vector block — the same value chain as
    ``_cosine(dot_dec_batch(...), qnorm, cnorm)``: float64 IEEE
    multiply, floor to scaled int64, exact integer row sum, double
    divide, NULL where the norm product is exactly 0."""
    d = (
        np.floor(cmat[None, :, :] * qmat[:, None, :] * DOT_SCALE)
        .astype(np.int64)
        .sum(axis=2)
        / DOT_SCALE
    )
    prod = qnorms[:, None] * cnorms[None, :]
    isnull = prod == 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = d / prod
    return cos, isnull


def _numpy_probe_cells(
    qids: np.ndarray,
    qmat: np.ndarray,
    qnorms: np.ndarray,
    cvids: np.ndarray,
    cmat: np.ndarray,
    cnorms: np.ndarray,
    nprobe: int,
) -> dict[int, list[int]]:
    """{probe id -> its nprobe nearest cell ids}: snapped cosine, rank
    by (cosine DESC NULLS LAST, cvid ASC), first nprobe rows.
    ``cvids`` must be ascending (``_collect_normed`` guarantees it), so a
    stable sort on descending filled cosine IS that order.  Parity with
    the window form is pinned by tests/test_pipeline.py."""
    out: dict[int, list[int]] = {}
    for i in range(len(qids)):
        cos, isnull = _snapped_cos_block(
            qmat[i:i + 1], qnorms[i:i + 1], cmat, cnorms
        )
        filled = np.where(isnull[0], -np.inf, cos[0])
        order = np.argsort(-filled, kind="stable")
        out[int(qids[i])] = [int(c) for c in cvids[order[:nprobe]]]
    return out


def _cell_probes(panel, cents, nprobe: int) -> dict[int, np.ndarray]:
    """{cell id -> indices of the panel probes whose ``nprobe`` nearest
    centroids include it} — the probe→cell map every IVF pass shares.
    Empty when either the panel or the centroid set is."""
    qids = panel[0]
    if not len(qids) or not len(cents[0]):
        return {}
    probe_cells = _numpy_probe_cells(*panel, *cents, nprobe)
    out: dict[int, list[int]] = {}
    for i, qid in enumerate(qids):
        for cv in probe_cells[int(qid)]:
            out.setdefault(cv, []).append(i)
    return {c: np.array(p, dtype=np.int64) for c, p in out.items()}


def _assign_block(
    cm: np.ndarray,
    cn: np.ndarray,
    cvids: np.ndarray,
    cmat: np.ndarray,
    cnorms: np.ndarray,
) -> np.ndarray:
    """Nearest-centroid id per row of a corpus block: iterate
    centroids in ASCENDING cvid with a strict > update, so ties keep
    the earlier (smaller) cvid; NULL cosines (norm product 0) fill -inf
    so an all-NULL row keeps the initial smallest cvid — exactly the
    oracle's ``row_number() OVER (ORDER BY cosine DESC, cvid) = 1``.
    Parity is pinned end-to-end in tests/test_pipeline.py."""
    best = np.full(len(cm), -np.inf)
    bestc = np.full(len(cm), cvids[0], dtype=np.int64)
    for j in range(len(cvids)):
        cos, isnull = _snapped_cos_block(
            cmat[j:j + 1], cnorms[j:j + 1], cm, cn
        )
        filled = np.where(isnull[0], -np.inf, cos[0])
        upd = filled > best
        best = np.where(upd, filled, best)
        bestc[upd] = cvids[j]
    return bestc


def _batch_normed(batch) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vid, float64 (rows, dim) vec matrix, norm) arrays of one Arrow
    batch of a normed table — flatten() honors list offsets (embedding
    cells are non-null fixed-dim by contract), so the reshape is safe;
    the widen is exact."""
    vec = (
        batch.column("vec")
        .flatten()
        .to_numpy(zero_copy_only=False)
        .reshape(batch.num_rows, -1)
        .astype(np.float64)
    )
    return (
        batch.column("vid").to_numpy(zero_copy_only=False),
        vec,
        batch.column("norm").to_numpy(zero_copy_only=False),
    )


def _probed_groups(batch, cm, cn, cell_probes, cents):
    """[(row indices, probe indices)] of one Arrow batch: its rows
    grouped by cell — the batch's ``cvid`` column, or an in-task
    assignment against ``cents`` when given — each group paired with
    the probes that probe its cell."""
    if not cell_probes:
        return []
    cv = (
        _assign_block(cm, cn, *cents)
        if cents is not None
        else batch.column("cvid").to_numpy(zero_copy_only=False)
    )
    groups = []
    for cell in np.unique(cv):
        pidx = cell_probes.get(int(cell))
        if pidx is not None:
            groups.append((np.nonzero(cv == cell)[0], pidx))
    return groups


def _assign_cells_arrow(corpus_n: DataFrame, cents) -> DataFrame:
    """(vid, vec, norm, cvid) — the corpus with its nearest-centroid
    assignment attached IN-TASK (one MapInArrow pass, no join, no
    assignment groupBy): the row batch passes through untouched with
    one appended int64 column.  No centroids, no rows."""

    def assign(batches):
        import pyarrow as _pa

        if not len(cents[0]):
            return
        for batch in batches:
            if batch.num_rows == 0:
                continue
            _, cm, cn = _batch_normed(batch)
            yield batch.append_column(
                "cvid", _pa.array(_assign_block(cm, cn, *cents), type=_pa.int64())
            )

    src = corpus_n.select("vid", "vec", "norm")
    out_type = dict(src.dtypes)["vec"]
    return src.mapInArrow(
        assign, f"vid long, vec {out_type}, norm double, cvid long"
    )


def _panel_candidates_arrow(
    corpus_n: DataFrame, panel, cents, nprobe: int
) -> DataFrame:
    """(qid, cid) IVF candidate pairs in ONE corpus pass: in-task
    assignment + the in-task probe→cell map, self-matches excluded.
    One cell per vid makes the pairs structurally unique (the
    disjointness contract is pinned in tests/test_pipeline.py)."""
    qids = panel[0]
    cell_probes = _cell_probes(panel, cents, nprobe)

    def gen(batches):
        import pyarrow as _pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            cid, cm, cn = _batch_normed(batch)
            oq, oc = [], []
            for rows, pidx in _probed_groups(batch, cm, cn, cell_probes, cents):
                qs, cs = np.unique(qids[pidx]), cid[rows]
                pairs_q = np.repeat(qs, len(cs))
                pairs_c = np.tile(cs, len(qs))
                m = pairs_q != pairs_c
                oq.append(pairs_q[m])
                oc.append(pairs_c[m])
            if oq:
                yield _pa.record_batch(
                    {
                        "qid": _pa.array(np.concatenate(oq), type=_pa.int64()),
                        "cid": _pa.array(np.concatenate(oc), type=_pa.int64()),
                    }
                )

    return corpus_n.select("vid", "vec", "norm").mapInArrow(
        gen, "qid long, cid long"
    )


def _tile_topk(panel, pidx, cid, cm, cn, k: int):
    """Per-probe top-k survivors (qid, cid, cosine, isnull arrays) of
    the probes ``pidx`` against one row block, self-matches excluded,
    under the exact final order (cosine DESC NULLS LAST, cid ASC).

    Probes are scored in tiles of at most ``_TILE_TERMS`` float64
    terms (one probe per tile once a single probe's block exceeds it),
    so task memory stays flat however large the panel.  Keeping only
    per-tile survivors is lossless: under a total order the global
    top-k of a union is the top-k of its parts' top-k's, and the final
    window re-ranks exactly."""
    qids, qmat, qnorms = panel
    pstep = max(1, _TILE_TERMS // max(1, cm.size))
    out = []
    for lo in range(0, len(pidx), pstep):
        p = pidx[lo:lo + pstep]
        cos, isnull = _snapped_cos_block(qmat[p], qnorms[p], cm, cn)
        q = np.repeat(qids[p], len(cid))
        c = np.tile(cid, len(p))
        m = q != c
        q, c = q[m], c[m]
        cos, isnull = cos.ravel()[m], isnull.ravel()[m]
        filled = np.where(isnull, -np.inf, cos)
        order = np.lexsort((c, -filled, q))
        qs = q[order]
        pos = np.arange(len(order))
        starts = np.maximum.accumulate(
            np.where(np.r_[True, qs[1:] != qs[:-1]], pos, 0)
        )
        keep = order[pos - starts < k]
        out.append((q[keep], c[keep], cos[keep], isnull[keep]))
    return out


def _panel_topk(
    scan: DataFrame, panel, k: int, cell_probes=None, cents=None
) -> DataFrame:
    """Exact per-probe top-k of a collected probe panel in ONE
    MapInArrow pass over ``scan`` (vid, vec, norm[, cvid]) — the one
    in-task scorer brute-force and IVF top-k share.  They differ only
    in where a scanned row's cell comes from:

    * ``cell_probes`` None — no cells: every probe scores every row;
    * ``cents`` given — the row's nearest centroid, assigned in-task
      (ties → smaller cvid, all-NULL → smallest cvid);
    * otherwise — the scan's ``cvid`` column (a prebuilt index).

    With cells, a row is scored only by the probes that probe its
    cell (``cell_probes``, from :func:`_cell_probes`).  Output
    (query_id, neighbor_id, rank, cosine), self-matches excluded,
    ranked (cosine DESC, neighbor_id ASC)."""
    every = np.arange(len(panel[0]))
    cols = ["vid", "vec", "norm"]
    if cell_probes is not None and cents is None:
        cols.append("cvid")

    def score(batches):
        import pyarrow as _pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            cid, cm, cn = _batch_normed(batch)
            groups = (
                [(slice(None), every)]
                if cell_probes is None
                else _probed_groups(batch, cm, cn, cell_probes, cents)
            )
            kept = []
            for rows, pidx in groups:
                kept += _tile_topk(panel, pidx, cid[rows], cm[rows], cn[rows], k)
            if kept:
                q, c, cos, isnull = (np.concatenate(a) for a in zip(*kept))
                yield _pa.record_batch(
                    {
                        "qid": _pa.array(q, type=_pa.int64()),
                        "cid": _pa.array(c, type=_pa.int64()),
                        "cosine": _pa.array(
                            np.where(isnull, 0.0, cos),
                            type=_pa.float64(),
                            mask=isnull,
                        ),
                    }
                )

    pairs = scan.select(*cols).mapInArrow(
        score, "qid long, cid long, cosine double"
    )
    return _pairs_topk_window(pairs, k)


def _pairs_topk_window(pairs: DataFrame, k: int) -> DataFrame:
    """The shared exact final rank: (query_id, neighbor_id, rank,
    cosine), rank = row_number over (cosine DESC, cid) per qid."""
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.col("cid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            "rank",
            "cosine",
        )
    )


def _ivf_candidates(
    vectors: DataFrame,
    probes: DataFrame,
    centroid_stride: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(qid, cid) — the IVF candidate-generation core :func:`ivf_pq_topk`
    scores with ADC: stride centroids, cell assignment, nprobe probe
    cells, unique (qid, cid) pairs with self-matches excluded — the
    same cells :func:`ivf_topk` scans, mirroring the shared
    `_O_IVF_CAND` oracle fragment.  Panel and centroids are collected
    once and the candidates come out of ONE in-task corpus pass
    (:func:`_panel_candidates_arrow`)."""
    from .caching import pin

    corpus_n = pin(_normed(vectors, id_col, vec_col))
    cents = _collect_normed(corpus_n.filter(F.col("vid") % centroid_stride == 0))
    panel = _collect_normed(_normed(probes, id_col, vec_col))
    return _panel_candidates_arrow(corpus_n, panel, cents, nprobe)


def ivf_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    centroid_stride: int = 25,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: centroids are the deterministic corpus
    subset ``id % centroid_stride == 0`` (a fixed coarse quantizer —
    the Spark analogue of IVF training on a uniform sample); every
    corpus vector lands in exactly one cell (nearest centroid), and a
    probe searches only its ``nprobe`` nearest cells exactly.

    Same output contract as :func:`brute_force_topk`
    (query_id, neighbor_id, rank, cosine; self-matches excluded), but
    per-probe work is ~nprobe/cells of the corpus. Note the stride
    quantizer's centroid count grows as corpus/stride, making the
    assign pass quadratic at scale — the PRODUCTION path is
    :func:`ivf_topk_trained`, whose Lloyd-trained quantizer sizes
    cells ≈ √N (the measured 2.6×-at-x10 fix, SCALE.md); this
    fixed-stride form stays registered as the simpler scale-ramp
    subject.

    The normed corpus is persisted ONCE and consumed by both the
    centroid collect and the scoring pass — without the pin each
    re-derives the map-side norm over the whole corpus.  Centroids and
    probe panel are collected once and held in-task, so the whole
    search is :func:`_panel_topk` — ONE MapInArrow pass over the pinned
    corpus (in-task assignment + panel scoring), no join, no per-pair
    vector shuffle.
    """
    from .caching import pin

    corpus_n = pin(_normed(vectors, id_col, vec_col))
    cents = _collect_normed(corpus_n.filter(F.col("vid") % centroid_stride == 0))
    panel = _collect_normed(_normed(probes, id_col, vec_col))
    return _panel_topk(
        corpus_n, panel, k, _cell_probes(panel, cents, nprobe), cents
    )


def _centroid_arrays(cq: DataFrame) -> DataFrame:
    """(vid, vec, norm) array form of a long-form QUANTIZED centroid
    table (cvid, pos, cq BIGINT on the 1e6 grid) — the normed shape
    :func:`_collect_normed` reads.  Component values are
    ``cq / 1e6`` doubles: both engines derive them with the same IEEE
    long→double divide, so the arrays (and every downstream snapped
    dot) replay bit-identically in the SQL oracle."""
    arr = (
        cq.select(
            "cvid",
            "pos",
            (F.col("cq").cast("double") / F.lit(DOT_SCALE)).alias("cval"),
        )
        .groupBy("cvid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s.cval,
            ).alias("vec")
        )
    )
    return arr.select(
        F.col("cvid").alias("vid"), "vec", norm_dec(F.col("vec")).alias("norm")
    )


def _lloyd_update_arrow(corpus_n: DataFrame, cents) -> DataFrame:
    """One Lloyd update as in-task assignment + PARTIAL per-cell sums
    (guide §2.3 — aggregate before the exchange): each task assigns its
    corpus rows to the collected centroids (`_assign_block`),
    accumulates exact int64 component sums + member counts per cell
    across ALL its batches, and emits one cells×dim partial block — so
    the shuffle carries tasks×cells×dim tiny rows, never a corpus-wide
    (vid, pos) join.  The final floor(SUM/COUNT) runs over exact sums,
    so it is order-independent and matches the oracle's per-cell mean
    byte for byte.  ``cents`` must be non-empty."""

    def agg(batches):
        import pyarrow as _pa

        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            _, cm, cn = _batch_normed(batch)
            bestc = _assign_block(cm, cn, *cents)
            # the same floor(val·1e6) quantization the exploded elq
            # table carried — exact int64 sums are order-independent
            q = np.floor(cm * DOT_SCALE).astype(np.int64)
            for cell in np.unique(bestc):
                rows = bestc == cell
                c = int(cell)
                if c in sums:
                    sums[c] += q[rows].sum(axis=0)
                    counts[c] += int(rows.sum())
                else:
                    sums[c] = q[rows].sum(axis=0)
                    counts[c] = int(rows.sum())
        if sums:
            cells = sorted(sums)
            dim = len(sums[cells[0]])
            yield _pa.record_batch(
                {
                    "cvid": np.repeat(
                        np.array(cells, dtype=np.int64), dim
                    ),
                    "pos": np.tile(
                        np.arange(1, dim + 1, dtype=np.int32), len(cells)
                    ),
                    "psum": np.concatenate([sums[c] for c in cells]),
                    "pcnt": np.repeat(
                        np.array(
                            [counts[c] for c in cells], dtype=np.int64
                        ),
                        dim,
                    ),
                }
            )

    partials = corpus_n.select("vid", "vec", "norm").mapInArrow(
        agg, "cvid long, pos int, psum long, pcnt long"
    )
    return partials.groupBy("cvid", "pos").agg(
        F.floor(
            F.sum("psum").cast("double") / F.sum("pcnt").cast("double")
        )
        .cast("long")
        .alias("cq")
    )


def train_ivf_centroids(
    vectors: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_n: DataFrame | None = None,
    n: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd-trained coarse quantizer with ≈√N cells —
    the PRODUCTION centroid builder (the stride quantizer's centroid
    count grows as corpus/stride; √N cells keep both the in-task
    centroid copy and the O(N·cells) assign pass bounded, measured 2.6× faster at
    x10 in SCALE.md).  Returns the trained centroid set in normed
    array form (vid, vec, norm), the shape every IVF pass collects.

    Every arithmetic step is snapped so a SQL oracle replays the
    trained centroids bit for bit — unlike ``pyspark.ml`` KMeans
    (RNG init, order-dependent float sums, hence rows-only checks):

    * seeds: every ``stride``-th TRAINING vector in vid RANK order
      (``stride = floor(N / floor(sqrt(N)))``), i.e. rows where
      ``(row_number() over vid − 1) % stride == 0`` — exactly
      ``ceil(N/stride) ≈ √N`` seeds for ANY id structure.  (A raw
      ``vid % stride == 0`` rule silently returns ZERO seeds when the
      training ids and the stride share a factor — e.g. training on
      the ``vid % 3 != 0`` split with a stride divisible by 3, the
      round-8 incremental-ingest configuration — and misweights
      sparse/hashed id spaces generally.)  The rank window is one
      vocabulary-sized pass inside the trainer, which at 100 TB runs
      on a bounded sample anyway (see below);
    * assignment: snapped-cosine argmax (ties → smaller centroid id),
      the same in-task assignment as serving (`_assign_block`);
    * update: per (cell, pos), ``cq = FLOOR(SUM(q)/COUNT)`` over the
      members' floor-quantized components ``q = FLOOR(val·1e6)`` —
      exact BIGINT sums, one correctly-rounded double divide, so
      means are order-independent and engine-identical.

    The corpus size ``N`` is one driver-side scalar count; each of the
    ``iters`` Lloyd rounds collects the current ≈√N centroids (one
    job) and runs :func:`_lloyd_update_arrow` — one corpus pass of
    in-task assignment + partial per-cell sums, then a (cell, pos)-keyed
    aggregate of those partials — at 100 TB train on a bounded sample
    (pass ``vectors.sample(...)``; assignment quality needs only
    representative density, not every row).  Cells that empty out
    during an update simply drop (k only ever shrinks by ties).
    """
    from .caching import pin

    if n is None:
        n = vectors.count()
    k0 = max(1, math.floor(math.sqrt(n)))
    stride = max(1, math.floor(n / k0))
    if corpus_n is None:
        corpus_n = pin(_normed(vectors, id_col, vec_col))
    seed_ids = (
        corpus_n.select("vid")
        .distinct()
        .withColumn("rn", F.row_number().over(W.orderBy("vid")))
        .filter((F.col("rn") - 1) % stride == 0)
        .select("vid")
    )
    # seeds quantize the SAME floor(val·1e6) components the Lloyd
    # update sums, so every round's means are exact integer arithmetic
    cq = (
        corpus_n.join(F.broadcast(seed_ids), "vid")
        .select(
            F.col("vid").alias("cvid"),
            F.posexplode("vec").alias("pos0", "val"),
        )
        .select(
            "cvid",
            (F.col("pos0") + 1).alias("pos"),
            F.floor(F.col("val").cast("double") * DOT_SCALE)
            .cast("long")
            .alias("cq"),
        )
    )
    for _ in range(iters):
        cents = _collect_normed(_centroid_arrays(cq))
        if not len(cents[0]):
            break
        cq = _lloyd_update_arrow(corpus_n, cents)
    return _centroid_arrays(cq)


def ivf_topk_trained(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    nprobe: int | None = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe_frac: float | None = None,
    n: int | None = None,
) -> DataFrame:
    """IVF approximate top-k with the TRAINED √N-cell quantizer
    (:func:`train_ivf_centroids`) — the production one-shot form.
    Same output contract as :func:`ivf_topk` (query_id, neighbor_id,
    rank, cosine; self-matches excluded); per-probe work is
    ~nprobe·√N corpus rows, and the in-task centroid copy stays
    √N-sized at any corpus scale (the structural fix to the stride quantizer's
    corpus/stride centroid growth).

    ``nprobe_frac`` overrides ``nprobe`` with ``ceil(frac · √N)`` — a
    RECALL-TARGETED probe budget that holds the searched fraction of
    cells (hence the recall, on stationary data) constant as the
    corpus grows, instead of letting a fixed nprobe dilute.  The
    measured sf0.01 curve (SCALE.md round 8) on the synthetic
    UNIFORM-SPHERE embeddings: recall@10 = 0.58 at 4/23 cells, 0.90
    at 12/23, 0.98 at 16/23 — structureless data has no cheap cells
    to skip (every direction is equally populated), so honest recall
    costs a large cell fraction HERE, while clustered production
    embeddings concentrate neighbors in few cells and need far
    smaller fractions.  The knob is the contract; the curve is the
    evidence.  Multi-decade proof (SCALE.md round-11 nprobe study,
    tools/nprobe_recall_study.py): on the uniform ramp corpus the
    ~0.7 fraction stays necessary to N=60k (recall at frac 0.35 never
    exceeds 0.87), while on a 256-cluster corpus the SAME engine holds
    recall 0.93+ with a FIXED nprobe=8 as N grows 30x — candidates
    O(sqrt N), the production scale path.

    ``n`` short-circuits the corpus count when the caller already
    knows it (a memoized ``table_count`` or a fingerprint row count) —
    one fewer count job per invocation, same value by contract.

    The trained centroids and the probe panel are collected once and
    held in-task: the search is ONE MapInArrow pass over the pinned
    corpus (:func:`_panel_topk` — in-task assignment + panel scoring)."""
    from .caching import pin

    if n is None:
        n = vectors.count()
    if nprobe_frac is not None:
        nprobe = math.ceil(nprobe_frac * max(1, math.floor(math.sqrt(n))))
    assert nprobe is not None
    corpus_n = pin(_normed(vectors, id_col, vec_col))
    cents = _collect_normed(
        train_ivf_centroids(
            vectors, iters=iters, id_col=id_col, vec_col=vec_col,
            corpus_n=corpus_n, n=n,
        )
    )
    panel = _collect_normed(_normed(probes, id_col, vec_col))
    return _panel_topk(
        corpus_n, panel, k, _cell_probes(panel, cents, nprobe), cents
    )


def build_ivf_index(
    vectors: DataFrame,
    index_dir: str,
    centroid_stride: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_n: DataFrame | None = None,
) -> None:
    """BUILD-ONCE half of the production ANN lifecycle: write the
    normed corpus with its cell assignment to ``index_dir``/cells,
    PARTITIONED ON DISK BY CELL, plus the normed centroid set to
    ``index_dir``/centroids.

    :func:`ivf_topk` recomputes assignment per query — right for a
    one-shot; a serving workload builds the index once and probes it
    many times.  Partitioning the cell table by ``cvid`` is the load-
    bearing choice: a probe's scan prunes to its ``nprobe`` cell
    directories (a static partition filter on the probed cell ids,
    see :func:`ivf_probe_index`), so probe cost is O(corpus · nprobe / cells) **in IO**, not
    just in compute — at 100 TB that is the difference between reading
    ~a few hundred GB and the whole corpus per probe batch.

    ``centroids_n`` (a normed (vid, vec, norm) table, e.g. from
    :func:`train_ivf_centroids`) overrides the stride quantizer —
    the production build passes trained √N cells so the on-disk
    partition count stays √N-sized at any corpus scale."""
    from .caching import pin

    corpus_n = pin(_normed(vectors, id_col, vec_col))
    cents_n = (
        centroids_n
        if centroids_n is not None
        else corpus_n.filter(F.col("vid") % centroid_stride == 0)
    )
    # the collected centroids assign IN-TASK — one corpus pass straight
    # into the partitioned write, no join and no exchange
    (
        _assign_cells_arrow(corpus_n, _collect_normed(cents_n))
        # `src` labels the LOAD that wrote each row: 'base' for the
        # initial build, one label per append — the second partition
        # level that makes incremental ingest idempotent (see
        # ivf_index_append).  Probes prune on cvid exactly as before.
        .withColumn("src", F.lit("base"))
        .write.mode("overwrite")
        .partitionBy("cvid", "src")
        .parquet(index_dir + "/cells")
    )
    cents_n.write.mode("overwrite").parquet(index_dir + "/centroids")
    _record_load(index_dir, "base", reset=True)


def _is_driver_local(path: str) -> bool:
    """Scheme-qualified paths (hdfs://, s3a://...) are written by Spark
    but invisible to the driver's local filesystem APIs — the same
    test compact_parquet applies before os.rename."""
    import re

    return not re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path)


def _load_seq_path(index_dir: str) -> str:
    return index_dir.rstrip("/") + "/loads.json"


def _read_load_seq(index_dir: str) -> dict[str, int]:
    """{src label -> monotonic append sequence} for an IVF index.
    Absent for indexes written before the sequence existed — callers
    fall back to file mtimes for any unlisted label (legacy order)."""
    import json
    import os

    p = _load_seq_path(index_dir)
    if not os.path.exists(p):
        return {}
    with open(p, encoding="utf-8") as fh:
        return {k: int(v) for k, v in json.load(fh).items()}


def _record_load(index_dir: str, label: str, reset: bool = False) -> None:
    """Assign ``label`` the next append sequence number (write-tmp +
    atomic replace; appends are sequential — foreachBatch delivers
    batches one at a time, and batch append is a maintenance op).

    The sequence is the EXPLICIT delivery order :func:`compact_ivf_index`
    keeps a vid's latest vector by.  Before r11 delivery order was
    recovered from parquet file mtimes, which any copy/restore path
    that drops mtimes (rsync without -t, tar/object-store round trips)
    silently reorders — flipping compaction winners toward stale
    vectors (r10 advisor finding).  A redelivered stable label keeps
    its original sequence: the dynamic partition overwrite rewrites
    the same bytes, so its position in delivery order must not move.

    Scheme-qualified index paths (a cluster's hdfs://, s3a://) are
    SKIPPED — the sequence file is driver-local I/O, and failing here
    after the cells write landed would abort an otherwise-successful
    append (r11 review finding).  Such indexes order compaction by the
    mtime fallback, the pre-r11 behavior; on object stores the real
    answer is a table format's own log."""
    import json
    import os

    if not _is_driver_local(index_dir):
        return
    seqs = {} if reset else _read_load_seq(index_dir)
    if label in seqs:
        return
    seqs[label] = max(seqs.values(), default=-1) + 1
    p = _load_seq_path(index_dir)
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(seqs, fh)
    os.replace(tmp, p)


#: Current content-addressed ingest label format (streaming sink).
#: ``v2-`` marks the r12 digest formula (xor fold combined with the
#: multiplied additive fold, :func:`_corpus_fingerprint`); earlier
#: streams wrote 16-hex xor-only labels (r10/r11) or 12-hex
#: ``xxhash64(id)`` labels (pre-r10), none of which a resumed stream
#: can reproduce under the current formula.
_INGEST_LABEL_RE = re.compile(r"^v2-[0-9a-f]{16}-\d+$")


def assert_ingest_label_compat(index_dir: str) -> None:
    """Refuse to start a content-addressed ingest stream over an index
    carrying labels the CURRENT digest formula cannot reproduce.

    The streaming sink's exactly-once story is that a redelivered
    batch recomputes the SAME label and dynamic-partition-overwrites
    its own partitions.  That breaks whenever the on-disk labels came
    from a different formula (pre-r10 12-hex, r10/r11 xor-only
    16-hex) or from batch-mode ``ivf_index_append(src=None)`` uuid
    labels: redelivery mints a NEW label and appends duplicate vids.
    Until r12 a docstring warned; nothing stopped the caller (r11
    verdict item 5).  Now any label that is neither ``base`` (the
    compacted re-base partition) nor current-format raises, naming
    the offenders and the fix — :func:`compact_ivf_index` is
    idempotent, rebases every load into ``src=base``, and so both
    heals existing duplicates and clears this check.

    Labels are collected from ``loads.json`` AND the on-disk ``src=``
    partition dirs (either alone can be stale after a torn
    copy/restore).  Scheme-qualified paths (hdfs://, s3a://) skip the
    walk — driver-local I/O doesn't apply; such indexes also carry no
    loads.json, so the guard is a no-op there and the docstring
    migration note remains the contract."""
    import os

    labels: set[str] = set(_read_load_seq(index_dir))
    if _is_driver_local(index_dir):
        cells = index_dir.rstrip("/") + "/cells"
        for dirpath, _dirs, _files in os.walk(cells):
            base = os.path.basename(dirpath)
            if base.startswith("src="):
                labels.add(base[len("src="):])
    bad = sorted(
        l for l in labels if l != "base" and not _INGEST_LABEL_RE.match(l)
    )
    if bad:
        raise RuntimeError(
            f"ANN index at {index_dir!r} carries load labels the current "
            f"content-address formula cannot reproduce: {bad}. Resuming a "
            "content-addressed ingest stream over them would append "
            "duplicate vids on redelivery instead of overwriting. Run "
            "operators.similarity.compact_ivf_index(spark, index_dir) "
            "once (idempotent; rebases every load into src=base), then "
            "start the stream."
        )


def trained_centroids_cached(
    vectors: DataFrame,
    tag: str,
    iters: int = 2,
    corpus_n: DataFrame | None = None,
    n: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fingerprint: tuple | None = None,
) -> DataFrame:
    """:func:`train_ivf_centroids` behind the per-process parquet memo
    (same mechanism as ``_PQ_CODES_MEMO``): the first caller in a
    session trains and materializes the √N centroid set; later callers
    with the same (tag, iters) read ~√N rows instead of re-running
    the Lloyd rounds.  Training is deterministic in (corpus, iters) —
    snapped arithmetic, rank-ordered seeds — so reuse cannot change a
    centroid (the registry's IVF family re-verified hash-identical).
    ``tag`` names the TRAINING corpus (e.g. ``f"{sf_dir}|full"`` vs
    ``f"{sf_dir}|mod3"`` for the incremental split); the key also
    folds in the corpus content fingerprint, so a same-tag call with
    different data retrains instead of serving stale centroids
    (``fingerprint`` lets a caller that also builds the index pass the
    one it already computed — one corpus scan per query, not two)."""
    spark = vectors.sparkSession
    if fingerprint is None:
        fingerprint = _corpus_fingerprint(vectors, id_col, vec_col)
    key = (
        "ivf_cents",
        spark.sparkContext.applicationId,
        tag,
        fingerprint,
        iters,
        id_col,
        vec_col,
    )
    path = _PQ_CODES_MEMO.get(key)
    if path is None:
        cents = train_ivf_centroids(
            vectors, iters=iters, corpus_n=corpus_n, n=n,
            id_col=id_col, vec_col=vec_col,
        )
        path = _pq_memo_dir()
        cents.write.mode("overwrite").parquet(path)
        _PQ_CODES_MEMO[key] = path
    return spark.read.parquet(path)


def build_ivf_index_cached(
    vectors: DataFrame,
    tag: str,
    centroids_n: DataFrame,
    index_dir: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_key: str = "iters2",
    fingerprint: tuple | None = None,
) -> str:
    """:func:`build_ivf_index` behind the per-process memo.  The first
    caller builds the cell-partitioned index once; later same-tag
    callers either probe the memoized directory directly
    (``index_dir=None`` — READ-ONLY use) or get a fresh byte-identical
    copy at ``index_dir`` to MUTATE (append/ingest lifecycles), so a
    query's appends never leak into the shared base.  Returns the
    directory to use.  The build is deterministic in
    (corpus, centroids), so the copy equals a fresh build.

    ``centroids_key`` must identify HOW ``centroids_n`` was produced
    (e.g. ``f"iters{n}"`` for the trained quantizer) — the memo key
    cannot see the centroid DataFrame's contents, and two same-tag
    callers with differently-trained centroids must not share an
    index (cell assignment depends on the centroid set)."""
    import os
    import shutil

    spark = vectors.sparkSession
    if fingerprint is None:
        fingerprint = _corpus_fingerprint(vectors, id_col, vec_col)
    key = (
        "ivf_index",
        spark.sparkContext.applicationId,
        tag,
        fingerprint,
        centroids_key,
        id_col,
        vec_col,
    )
    base = _PQ_CODES_MEMO.get(key)
    if base is None:
        base = _pq_memo_dir()
        build_ivf_index(
            vectors, base, id_col=id_col, vec_col=vec_col,
            centroids_n=centroids_n,
        )
        _PQ_CODES_MEMO[key] = base
    if index_dir is None:
        return base
    # FRESH copy semantics: a previously-mutated index_dir (appended
    # loads from an earlier lifecycle run) must not bleed into the new
    # copy — dirs_exist_ok alone MERGES, leaving stale src=<label>
    # partitions beside a reset loads.json, which would flip later
    # compaction winners toward stale base rows (r11 review finding)
    if os.path.exists(index_dir):
        shutil.rmtree(index_dir)
    shutil.copytree(base, index_dir)
    return index_dir


def ivf_probe_index(
    spark,
    index_dir: str,
    probes: DataFrame,
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PROBE-MANY half: same output contract as :func:`ivf_topk`
    (query_id, neighbor_id, rank, cosine; self-matches excluded), but
    against a prebuilt :func:`build_ivf_index`.  The centroid set and
    the probe panel are collected once; the probe→cell choice runs in
    driver numpy (:func:`_cell_probes`), the cells scan is STATICALLY
    pruned to the probed cell partitions (PartitionFilters — no
    dynamic-pruning subquery job), and one MapInArrow pass
    (:func:`_panel_topk`) scores each cell row against exactly the
    probes that probed its cell.  Zero joins; the only exchange is the
    final tiny rank (plan-gated in tests/test_plans.py)."""
    cents = _collect_normed(spark.read.parquet(index_dir + "/centroids"))
    panel = _collect_normed(_normed(probes, id_col, vec_col))
    cell_probes = _cell_probes(panel, cents, nprobe)
    if cell_probes:
        cells = spark.read.parquet(index_dir + "/cells").filter(
            F.col("cvid").isin(sorted(cell_probes))
        )
    else:
        # no probed cell (no probes, or no centroids): nothing to scan —
        # and an index built over no centroids has no cell files for
        # Spark to infer a schema from
        cells = spark.createDataFrame(
            [], "vid long, vec array<double>, norm double, cvid long"
        )
    return _panel_topk(cells, panel, k, cell_probes)


def ivf_index_append(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src: str | None = None,
) -> None:
    """INGEST half of the production ANN lifecycle: assign a new batch
    to the EXISTING centroid set and append it to the partitioned cell
    table — the inverted-file ``add()`` analogue (FAISS
    add-after-train).

    The append never reads, rewrites, or re-sorts existing cells: cost
    is one O(batch · cells) in-task assignment against the collected
    centroids (the same pass the build uses) plus one cell-partitioned parquet append, so
    continuously-arriving embeddings ingest at BATCH cost while every
    previously-indexed byte stays in place.  Centroids are frozen, not
    retrained — assignment depends only on the centroid set, so
    append-then-probe is bit-identical to building the index over the
    union corpus against the same centroids (property-tested in
    tests/test_pipeline.py).  When drift accumulates, retraining is a
    REBUILD lifecycle decision, exactly as for any inverted file.

    Caller contract: new ids must be disjoint from ids already in the
    index (a duplicate vid would appear twice in its cell and
    double-count as a probe candidate) — the same contract as the
    incremental dedup index.

    ``src`` is the load label that becomes the second partition level
    under each cell.  ``None`` (the default) mints a fresh label and
    plain-appends — the at-least-once batch form.  A STABLE label
    (e.g. the streaming sink's ``lineage-batchid``) switches to
    dynamic partition overwrite: a redelivered batch rewrites exactly
    the (cvid, src) partitions it wrote the first time — assignment
    is deterministic given the frozen centroids, so replay converges
    to the same bytes and the ingest is exactly-once WITHOUT a ledger
    or any rewrite of other loads' data.
    """
    import uuid as _uuid

    cents = _collect_normed(spark.read.parquet(index_dir + "/centroids"))
    label = src if src is not None else _uuid.uuid4().hex[:12]
    (
        _assign_cells_arrow(_normed(new_vectors, id_col, vec_col), cents)
        .withColumn("src", F.lit(label))
        .write.mode("append" if src is None else "overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cvid", "src")
        .parquet(index_dir + "/cells")
    )
    # after the cells land: a failed write must not consume a sequence
    # slot; a redelivered stable label keeps its original slot (no-op)
    _record_load(index_dir, label)


def compact_ivf_index(spark, index_dir: str) -> tuple[int, int]:
    """Vid-level compaction of a :func:`build_ivf_index` cell table:
    keep exactly ONE row per vid and re-base every load into a single
    fresh ``src`` partition, preserving the ``cvid`` partitioning that
    probes prune on.

    This is the maintenance pass that closes the streaming ingest's
    one documented duplication corner (streaming/sinks.py
    run_ann_ingest_stream): if a fresh-checkpoint restart re-splits
    the source into DIFFERENT micro-batch boundaries, partially-
    overlapping batches carry new content digests and their vids land
    twice (possibly in different cells, if the vector changed between
    deliveries).  The winner per vid is the LATEST-DELIVERED load:
    load labels are content digests with no delivery-order meaning,
    so delivery order comes from the index's explicit append sequence
    (``loads.json``, written by :func:`ivf_index_append` /
    :func:`build_ivf_index` — survives any copy/restore path, unlike
    the pre-r11 file-mtime proxy, which rsync-without-``-t`` or a
    tar/object-store round trip silently reorders).  Labels absent
    from the sequence (indexes written before it existed) fall back
    to max file mtime under their ``src=`` partition dirs — one
    bounded driver-side listing, the same planning pass any compaction
    runs.  Sequence, then mtime, then label, then cvid break ties, so
    repeated compaction is deterministic and
    idempotent.  Cost is one shuffle over the cell table, i.e. the
    O(state) rewrite the incremental ingest avoids per-batch; run it
    as a maintenance window job, exactly like compact_parquet
    (sources/warehouse.py), whose stage-and-swap rename mechanics
    this reuses.

    Returns (rows_before, rows_after).
    """
    import os
    import shutil

    cells_path = index_dir.rstrip("/") + "/cells"
    # delivery order: explicit append sequence first; mtime only as
    # the legacy fallback for labels the sequence has never seen
    # (bounded: one stat pass over the index's partition dirs)
    load_seq = _read_load_seq(index_dir)
    load_mtime: dict[str, float] = {}
    for dirpath, _dirs, files in os.walk(cells_path):
        base = os.path.basename(dirpath)
        if not base.startswith("src="):
            continue
        label = base[len("src="):]
        for f in files:
            if f.endswith(".parquet"):
                m = os.path.getmtime(os.path.join(dirpath, f))
                if m > load_mtime.get(label, -1.0):
                    load_mtime[label] = m
    # MIXED state (r11 advisor finding): a NON-empty sequence that is
    # missing some on-disk label means the loads.json and the cells
    # tree were snapshotted/restored out of step (torn copy, sequence
    # dropped for some appends).  Ranking listed labels by sequence
    # while pinning unlisted ones at -1 would make a NEWER unlisted
    # append lose to every recorded label — a case pure-mtime order
    # gets right.  A half-trustworthy sequence is untrustworthy:
    # fall back to full-mtime ordering for the WHOLE index and warn.
    unlisted = sorted(l for l in load_mtime if l not in load_seq)
    if load_seq and unlisted:
        import warnings

        warnings.warn(
            f"compact_ivf_index({index_dir!r}): loads.json is non-empty "
            f"but missing on-disk labels {unlisted}; the append sequence "
            "and the cells tree are out of step (torn copy/restore?). "
            "Falling back to file-mtime delivery order for the whole "
            "index.",
            stacklevel=2,
        )
        load_seq = {}
    order = local_frame(
        spark,
        [
            (lbl, int(load_seq.get(lbl, -1)), float(m))
            for lbl, m in load_mtime.items()
        ],
        [
            ("src", _pa.string()),
            ("__load_seq", _pa.int64()),
            ("__load_mtime", _pa.float64()),
        ],
    )
    cells = spark.read.parquet(cells_path).join(F.broadcast(order), "src")
    before = cells.count()
    w = W.partitionBy("vid").orderBy(
        F.desc("__load_seq"), F.desc("__load_mtime"), F.desc("src"),
        F.desc("cvid"),
    )
    compacted = (
        cells.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__load_seq", "__load_mtime")
        .withColumn("src", F.lit("base"))
    )
    tmp = cells_path + f"__compact_{_uuid_hex()}"
    try:
        compacted.write.mode("overwrite").partitionBy("cvid", "src").parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    old = cells_path + f"__old_{_uuid_hex()}"
    try:
        os.rename(cells_path, old)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, cells_path)
    except BaseException:
        os.rename(old, cells_path)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)
    # everything now lives under src=base: restart the append sequence
    # from it so the next append sorts strictly after the compacted set
    _record_load(index_dir, "base", reset=True)
    return before, spark.read.parquet(cells_path).count()


def _uuid_hex() -> str:
    import uuid

    return uuid.uuid4().hex[:8]


# ---------------------------------------------------------------------------
# Hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplane_params(bit: int) -> tuple[int, int]:
    """(offset, stride) of hyperplane ``bit`` in the mod-1013 cycle —
    THE single source of the hyperplane family, consumed by the Spark
    column form, the numpy matrix form, and the SQL-oracle generator
    so the three can never drift.

    Component ``i`` of plane ``bit`` is ``((c + i·s) % 1013 % 19) − 9``
    (1-based i).  Two design rules, both ramp lessons:

    * reduce through the prime 1013 BEFORE the final % 19 — reducing
      ``(c + i·B) % 19`` directly collapses to arithmetic mod 19,
      leaving at most 19 DISTINCT hyperplanes in the whole family
      (bits repeat, band keys skew: measured max bucket 1252 vs mean
      25 at 60k vectors, 63M candidate pairs where uniform keys
      predict <1M);
    * give each bit its OWN stride ``s = (B + bit·C) % 1013`` — with a
      shared stride every plane is a shift of one 1013-cycle, which
      still left 10 duplicate planes in 60 and a 676-max bucket tail.
      Distinct strides make the planes independent cycles: 60/60
      distinct, max bucket ~20-37 on 20k random vectors.
    """
    c = bit * 2654435761 % 1013
    s = (2246822519 + bit * 1986436133) % 1013
    if s == 0:  # a zero stride would make the plane constant
        # bit-dependent nonzero fallback: substituting a shared
        # constant here would recreate the shared-stride shifted-cycle
        # duplication documented above if two fallback bits ever
        # coexist (none occur for bits 0-119 today; this keeps the
        # family duplicate-free for ANY future bit budget)
        s = 1 + (bit % 1012)
    return c, s


def _hyperplane_matrix(dim: int, num_bits: int) -> np.ndarray:
    """(dim, num_bits) int64 hyperplane components in [-9, 9] —
    ``(c + pos * s) % 1013 % 19 - 9`` with (c, s) from
    :func:`hyperplane_params` and 1-based positions: deterministic
    across engines and executors, no stored model (all operands
    positive, so numpy `%` equals the SQL oracle's `%`)."""
    pos = np.arange(1, dim + 1, dtype=np.int64)[:, None]
    cs = np.array(
        [hyperplane_params(b) for b in range(num_bits)], dtype=np.int64
    )
    return (cs[:, 0][None, :] + pos * cs[:, 1][None, :]) % 1013 % 19 - 9


def hyperplane_signatures(
    vectors: DataFrame,
    num_bits: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """num_bits sign-of-dot-product bits per vector, as one integer.

    Computed as ONE Arrow-batched matrix multiply per batch: the
    float32 batch widens to float64 (exact), floor-quantizes to scaled
    int64 (the same `FLOOR(x*1e6)` snap as :func:`dot_dec`), and
    multiplies against the deterministic (dim × num_bits) hyperplane
    matrix in int64 — bit-identical to evaluating the per-bit integer
    aggregates one at a time (which is how the DuckDB oracle states
    it), but a single BLAS pass instead of num_bits interpreted
    higher-order-function traversals per row. Map-side, no shuffle; the
    hyperplane matrix is rebuilt from (bit, position) arithmetic inside
    each task — nothing to broadcast.
    """

    @pandas_udf("long")
    def sig_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int64")
        mat = np.stack(emb.to_numpy())
        q = np.floor(mat.astype(np.float64) * DOT_SCALE).astype(np.int64)
        h = _hyperplane_matrix(q.shape[1], num_bits)
        dots = q @ h  # int64, exact: |term| <= 9e6, dim 64 << 2^63
        weights = np.uint64(1) << np.arange(num_bits, dtype=np.uint64)
        sig = ((dots > 0).astype(np.uint64) * weights).sum(axis=1)
        return pd.Series(sig.astype(np.int64))

    return vectors.select(
        F.col(id_col).alias("vid"), sig_udf(F.col(vec_col)).alias("sig")
    )


def _band_rows(
    sigs: DataFrame, num_bits: int, bands: int, key_bits: int | None = None
) -> DataFrame:
    """(vid, band, key) banded slices of a (vid, sig) signature table —
    one map-side explode of bounded fan-out ``bands``; shared by the
    symmetric pair join and the probe-panel form so the band layout
    cannot drift between them.

    ``key_bits`` masks each band key to its LOW key_bits bits — the
    size-aware resolution knob (see :func:`lsh_key_bits`).  The slice
    uses integer ``div``, not float division: a double round-trips
    longs only below 2^53, so float division silently corrupts keys
    for signatures wider than 53 bits."""
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


def lsh_key_bits(n: int, seg_bits: int = 15, target_log2: int = 3) -> int:
    """Band-key width for ~2^``target_log2`` expected vectors per
    bucket: the smallest w with 2^w ≥ N / 2^target_log2, clamped to
    the band segment width.

    THE fixed-width LSH failure mode, measured in the round-8 ramp:
    with a fixed key space (10-bit bands), random band collisions
    produce ~N²·bands/2^w candidate pairs — ``sim_ann_lsh`` fit
    exponent 2.85 between x10 and x30 (9.3s → 213s).  (Two layers:
    most of that 2.85 was the DEGENERATE hyperplane family — see
    :func:`hyperplane_params`; with full-rank planes the fixed-key
    form re-measures at 1.28, the residual being this key-space
    quadratic, which sizing removes: the sized form fits 0.52 out to
    x100.)  Growing w with log2(N) holds expected bucket occupancy
    (hence candidate count per vector) CONSTANT, making candidate
    generation linear; the per-pair recall at a given cosine follows
    1-(1-p^w)^bands and decreases as w grows — the standard LSH
    cost/recall dial, spent here on keeping cost linear (production
    sizes the total bit budget to its similarity threshold).

    Exact integer arithmetic only (bit_length), so the SQL oracle
    replays it as LENGTH(BIN(N-1)) with no float-log boundary risk.
    """
    return max(1, min(seg_bits, (max(n, 1) - 1).bit_length() - target_log2))


def banded_hyperplane_keys(
    vectors: DataFrame,
    bands: int = 4,
    bits_per_band: int = 30,
    key_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, band, key): each band's key computed DIRECTLY from its
    own ``bits_per_band`` hyperplanes (plane index band·r + j), in one
    Arrow matrix multiply per batch — no packed-signature word, so the
    per-band key width is not capped by what fits in one BIGINT.

    This is the ceiling :func:`_band_rows` has: a packed 60-bit long
    gives 4 bands at most 15 key bits each, and once the corpus passes
    ~2^18 vectors the size-aware width clamps and bucket occupancy —
    hence candidate cost — grows linearly again (measured: the
    15-bit-capped sized form jumped 8.4s at x100 → 125.8s at x300
    when N=600k outgrew 2^15 keys).  30-bit bands hold occupancy
    constant out to ~2^33 vectors — billions, the 100 TB regime.
    ``key_bits`` masks each key to its low bits (pass
    :func:`lsh_key_bits`(N, seg_bits=bits_per_band))."""
    nb = bands * bits_per_band

    @pandas_udf("array<long>")
    def keys_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        mat = np.stack(emb.to_numpy())
        q = np.floor(mat.astype(np.float64) * DOT_SCALE).astype(np.int64)
        h = _hyperplane_matrix(q.shape[1], nb)
        bits = (q @ h) > 0  # (n, bands*r)
        w = np.uint64(1) << np.arange(bits_per_band, dtype=np.uint64)
        keys = np.stack(
            [
                (
                    bits[:, b * bits_per_band : (b + 1) * bits_per_band]
                    .astype(np.uint64)
                    @ w
                ).astype(np.int64)
                for b in range(bands)
            ],
            axis=1,
        )
        return pd.Series(list(keys))

    rows = vectors.select(
        F.col(id_col).alias("vid"),
        F.posexplode(keys_udf(F.col(vec_col))).alias("band", "key"),
    )
    if key_bits is not None and key_bits < bits_per_band:
        rows = rows.withColumn("key", F.col("key") % (2**key_bits))
    return rows


def banded_ann_pairs(
    vectors: DataFrame,
    bands: int = 4,
    bits_per_band: int = 30,
    key_bits: int | None = None,
    min_cosine: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-neighbor pairs via per-band direct hyperplane keys + exact
    verify — the UNCAPPED production form of :func:`lsh_ann_pairs`
    (see :func:`banded_hyperplane_keys` for why the packed-long form
    stops scaling at ~2^18 vectors)."""
    from .caching import pin

    band_rows = pin(
        banded_hyperplane_keys(
            vectors, bands, bits_per_band, key_bits, id_col, vec_col
        )
    )
    x, y = band_rows.alias("x"), band_rows.alias("y")
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
    corpus_n = pin(_normed(vectors, id_col, vec_col))
    pairs = _cosine_for_pairs_normed(candidates, corpus_n)
    return pairs.filter(F.col("cosine") >= min_cosine).select(
        F.col("qid").alias("vec_a"), F.col("cid").alias("vec_b"), "cosine"
    )


def banded_ann_stats(
    vectors: DataFrame,
    bands: int = 4,
    bits_per_band: int = 30,
    key_bits: int | None = None,
    min_cosine: float = 0.4,
    n: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row scale-audit report for the sized banded LSH: the
    PAIR-NORMALIZED invariant the round-9 ramp analysis showed is the
    honest scale metric (SCALE.md "pair-normalized cost") — wall-clock
    exponents are distorted by integer key-width quantization, while
    candidate volume per vector should stay ~bounded at every corpus
    size if the sizing works.

    (n_vectors, key_bits, candidate_pairs, verified_pairs,
    pairs_per_vector): candidate/verified counts share ONE pinned key
    table and ONE pinned candidate set with the production pair join
    (two consumers through different exchanges — the pin rule), so the
    report costs one extra aggregate over what `banded_ann_pairs`
    already does, and a monitoring job can alert on pairs_per_vector
    drifting above the (4, 8]·bands·occupancy envelope without
    materializing a single pair row downstream."""
    from .caching import pin

    if n is None:
        n = vectors.count()
    if key_bits is None:
        key_bits = lsh_key_bits(n, bits_per_band)
    band_rows = pin(
        banded_hyperplane_keys(
            vectors, bands, bits_per_band, key_bits, id_col, vec_col
        )
    )
    x, y = band_rows.alias("x"), band_rows.alias("y")
    candidates = pin(
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.vid") < F.col("y.vid")),
        )
        .select(F.col("x.vid").alias("qid"), F.col("y.vid").alias("cid"))
        .distinct()
    )
    corpus_n = pin(_normed(vectors, id_col, vec_col))
    verified = _cosine_for_pairs_normed(candidates, corpus_n).filter(
        F.col("cosine") >= min_cosine
    )
    cagg = candidates.agg(
        F.count(F.lit(1)).cast("long").alias("candidate_pairs")
    )
    vagg = verified.agg(
        F.count(F.lit(1)).cast("long").alias("verified_pairs")
    )
    return cagg.crossJoin(F.broadcast(vagg)).select(
        F.lit(n).cast("long").alias("n_vectors"),
        F.lit(key_bits).cast("int").alias("key_bits"),
        "candidate_pairs",
        "verified_pairs",
        (
            F.col("candidate_pairs").cast("double")
            / F.lit(float(n))
        ).alias("pairs_per_vector"),
    )


def lsh_ann_pairs(
    vectors: DataFrame,
    num_bits: int = 32,
    bands: int = 4,
    min_cosine: float = 0.4,
    key_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-neighbor pairs via banded hyperplane LSH + exact verify.

    Candidates = pairs agreeing on all bits of at least one band
    (num_bits/bands bits each); verification computes the exact
    (decimal-snapped) cosine and keeps pairs >= min_cosine. Recall
    follows 1-(1-p^r)^b with p = 1 - angle/pi.

    ``key_bits`` masks each band key to its low bits — pass
    :func:`lsh_key_bits`(N) to hold bucket occupancy (and therefore
    candidate cost) constant as the corpus grows; a FIXED key space
    is quadratic in N by random collisions alone (measured exponent
    2.85 in the round-8 ramp, see lsh_key_bits).
    """
    # One row per vector (vid + long sig), but its lineage is the Arrow
    # signature UDF — persist so the self-join below doesn't run the
    # UDF once per join side.
    from .caching import pin

    sigs = pin(hyperplane_signatures(vectors, num_bits, id_col, vec_col))
    band_rows = _band_rows(sigs, num_bits, bands, key_bits)
    x = band_rows.alias("x")
    y = band_rows.alias("y")
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
    # verify against ONE persisted normed table (both join sides are
    # renames over the same cache — the norm pass runs once, not twice)
    corpus_n = pin(_normed(vectors, id_col, vec_col))
    pairs = _cosine_for_pairs_normed(candidates, corpus_n)
    return pairs.filter(F.col("cosine") >= min_cosine).select(
        F.col("qid").alias("vec_a"), F.col("cid").alias("vec_b"), "cosine"
    )


def lsh_ann_probe(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    num_bits: int = 40,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe-panel hyperplane-LSH top-k — the SERVING form of
    :func:`lsh_ann_pairs`: a fixed probe set queries the corpus
    instead of the corpus self-joining, so per-batch cost is
    O(|probes| · bucket occupancy), independent of corpus-pair count.

    Candidates = corpus vectors sharing at least one band key with
    the probe (self-matches excluded); scoring is the exact snapped
    cosine over candidates only; output contract matches
    :func:`ivf_topk` (query_id, neighbor_id, rank, cosine), with at
    most min(k, candidates) rows per probe — an empty bucket panel
    returns fewer, by design (LSH prunes, it does not backfill).

    Plan shape at 100 TB: corpus signatures are one Arrow map pass;
    the probe panel's band keys are tiny and BROADCAST against them,
    so candidate generation never shuffles the corpus; only the
    candidate pairs (bounded by bucket occupancy) reach the verify
    join."""
    from .caching import pin

    sigs = pin(hyperplane_signatures(vectors, num_bits, id_col, vec_col))
    corpus_bands = _band_rows(sigs, num_bits, bands)
    probe_bands = _band_rows(
        hyperplane_signatures(probes, num_bits, id_col, vec_col),
        num_bits,
        bands,
    ).select(F.col("vid").alias("qid"), "band", "key")
    candidates = (
        corpus_bands.join(F.broadcast(probe_bands), ["band", "key"])
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", F.col("vid").alias("cid"))
        .distinct()
    )
    corpus_n = pin(_normed(vectors, id_col, vec_col))
    # r13 measured-NEGATIVE (do not re-try): scoring these candidates
    # with an in-task panel (`_pairs_panel_score`, since removed) ran
    # 1.09-1.12x SLOWER co-measured at sf0.1 with flat controls — the
    # sized-key contract bounds candidates to O(panel·occupancy), so
    # the per-pair bytes saved are CONSTANT and never amortize the
    # extra panel-collect job, at any scale.  The join verify stays.
    pairs = _cosine_for_pairs_normed(candidates, corpus_n)
    return _pairs_topk_window(pairs, k)


# ---------------------------------------------------------------------------
# int8 scalar quantization (the memory/bandwidth scale path: 4x smaller
# vectors, integer dot products)
# ---------------------------------------------------------------------------

Q_LEVELS = 127


def quantize_int8(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vid, scale, qvec, n_saturated): symmetric per-vector int8
    quantization, q = floor(x / scale_max * 127).

    Floor (not round) keeps the mapping bit-identical cross-engine —
    round() tie-breaking differs between engines on doubles. Entirely
    map-side array math; at 100 TB this is the projection that makes
    a billion-vector index fit executor memory (64 B/vec at dim 64
    instead of 256 B).
    """
    vmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            x.cast("double") / F.nullif(F.col("vmax"), F.lit(0.0)) * Q_LEVELS
        ).cast("int"),
    )
    return (
        vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias(vec_col))
        .withColumn("vmax", vmax)
        .select(
            "vid",
            F.col("vmax").alias("scale"),
            q.alias("qvec"),
        )
        .withColumn(
            "n_saturated",
            F.size(
                F.filter(F.col("qvec"), lambda v: (v == Q_LEVELS) | (v == -Q_LEVELS))
            ),
        )
    )


def quantized_ip_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k corpus vectors per probe by INTEGER inner product over the
    int8-quantized vectors (pure-integer scoring: no float parity
    concerns at all, and the physical analogue of int8-SIMD ANN
    scoring). Probe side broadcast; ranking ties break on corpus id.

    All-zero (or null) vectors quantize to NULL elements (the
    symmetric scale divides by vmax, NULLIF-guarded), which would make
    the Arrow batch an object array and crash ``np.stack`` — they
    carry no direction anyway, so both sides drop rows with
    scale 0/NULL before the pair join (the oracle applies the same
    predicate)."""
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

    scored = (
        qc.join(F.broadcast(qp))
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", qdot_udf(F.col("pq"), F.col("cq")).alias("dot_q"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("dot_q"), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            "rank",
            "dot_q",
        )
    )


def semantic_dedup_pairs(
    vectors: DataFrame,
    centroid_stride: int = 25,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-then-dedup semantic near-duplicate pairs (the
    SemDeDup-shaped pipeline, Abbas et al. 2023, arXiv:2303.09540):
    assign every vector to its nearest centroid cell, score exact
    cosine only WITHIN cells, and emit pairs >= threshold
    (vec_a < vec_b). Pairs straddling a cell boundary are the accepted
    recall loss — that locality assumption is what keeps the WITHIN-
    CELL pair term linear: stride-derived centroids give constant
    expected cell population (~centroid_stride), so pair count is
    O(n · stride), not O(n²).

    Honest scale caveat: the stride centroid set itself grows as
    n/stride, so the ASSIGN pass here is O(n²/stride) and the collected
    centroid copy is unbounded — fine at test scale and for the DuckDB
    oracle, but a 100 TB run must swap in a BOUNDED centroid set:
    :func:`train_ivf_centroids` (the oracle-replayable Lloyd trainer
    that fixed exactly this for :func:`ivf_topk` — √N cells make
    assignment O(n·√n) with a √N-row in-task copy), or
    analytics/predictive.kmeans_embedding_clusters when oracle parity
    isn't needed. Everything downstream of `assign` is unchanged
    either way.

    Plan shape: one persisted normed corpus feeds the centroid
    collect, the in-task cell assignment, and the pair verify (same single-norm-pass rule
    as :func:`ivf_topk`); the within-cell self-join shuffles on the
    cell id (hot-cell caveat and its sub-clustering fix as documented
    for blocking in operators/dedup.py).
    """
    from .caching import pin

    corpus_n = pin(_normed(vectors, id_col, vec_col))
    cents = _collect_normed(corpus_n.filter(F.col("vid") % centroid_stride == 0))
    # both self-join sides read the SAME exchange of this subtree
    # (ReuseExchange), so no pin — the measured same-exchange rule
    assign = _assign_cells_arrow(corpus_n, cents).select("vid", "cvid")
    a, b = assign.alias("a"), assign.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cvid") == F.col("b.cvid"))
        & (F.col("a.vid") < F.col("b.vid")),
    ).select(F.col("a.vid").alias("qid"), F.col("b.vid").alias("cid"))
    scored = _cosine_for_pairs_normed(pairs, corpus_n)
    return scored.filter(F.col("cosine") >= threshold).select(
        F.col("qid").alias("vec_a"), F.col("cid").alias("vec_b"), "cosine"
    )


def brute_force_l2_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 top-k (snapped, ascending, ties on id) — the
    same-metric exact baseline for the PQ/ADC family (cosine top-k is
    the wrong yardstick for an L2 quantizer; recall must compare like
    with like). Broadcast-probe map-side pass, no shuffle before the
    per-probe rank."""
    p = probes.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    c = vectors.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    pairs = c.join(F.broadcast(p)).filter(F.col("qid") != F.col("cid")).select(
        "qid",
        "cid",
        (
            l2_dec_batch(F.col("qvec"), F.col("cvec")).cast("double")
            / DOT_SCALE
        ).alias("dist"),
    )
    w = W.partitionBy("qid").orderBy("dist", F.col("cid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            "rank",
            "dist",
        )
    )


# ---------------------------------------------------------------------------
# 1-bit (sign) quantization + packed Hamming top-k
# ---------------------------------------------------------------------------

_SIGN_WORD_BITS = 32


def sign_pack(
    vectors: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """1-bit quantization: each dimension's sign packs into one bit,
    32 bits per BIGINT word — (vid, w0, w1, ...) for ``dim`` dims.

    The extreme end of the quantization ladder (float32 -> int8 ->
    1 bit): a 64-dim vector becomes 8 BYTES, and distance becomes two
    XOR+popcounts — pure integer ops, bit-identical cross-engine, and
    a ~32x memory-bandwidth cut over float scans. Packing is a
    map-side HOF over the bound array (bounded 32-element lambdas;
    sub-word shifts only, so no sign-bit overflow), no shuffle.
    """
    if dim % _SIGN_WORD_BITS != 0:
        raise ValueError(f"dim={dim} must be a multiple of {_SIGN_WORD_BITS}")
    words = [
        F.expr(
            f"aggregate(transform(slice({vec_col}, {w * _SIGN_WORD_BITS + 1},"
            f" {_SIGN_WORD_BITS}),"
            " (x, i) -> IF(x >= 0, shiftleft(CAST(1 AS BIGINT), i),"
            " CAST(0 AS BIGINT))),"
            " CAST(0 AS BIGINT), (a, b) -> a + b)"
        ).alias(f"w{w}")
        for w in range(dim // _SIGN_WORD_BITS)
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
    """Top-k nearest corpus vectors per probe under packed sign-bit
    Hamming distance, with the exact cosine of each surfaced pair as
    the rerank annotation (the standard binary-quantization serving
    shape: Hamming shortlist, float rerank).

    Plan: both sides pack map-side; the |probes| packed rows broadcast
    (the brute-force-cosine join shape at ~1/32 the bytes); ranking is
    a per-probe window; the cosine rerank joins the k*|probes|
    shortlist back through ``cosine_for_pairs`` — O(shortlist), not
    O(corpus). Ordering: hamming ASC, corpus id ASC (total order).
    """
    n_words = dim // _SIGN_WORD_BITS
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
    short = (
        pairs.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
    )
    return (
        cosine_for_pairs(short.select("qid", "cid"), vectors, id_col, vec_col)
        .join(short, ["qid", "cid"])
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            "hamming",
            "rank",
            "cosine",
        )
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (deterministic ±1 signs)
# ---------------------------------------------------------------------------

def random_projection(
    vectors: DataFrame,
    d_out: int = 16,
    d_in: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project each vector onto ``d_out`` dimensions with a dense
    ±1 sign matrix (Achlioptas' database-friendly JL variant) —
    dimensionality reduction for cheaper downstream ANN/dedup passes.

    Output long form: (vid, j 0-based output dim, proj BIGINT) where
    ``proj = Σ_i FLOOR(val_i · 1e6) · sign(i, j)`` — elements are
    snapped ONCE to integers, so every projected coordinate is an
    exact integer sum, bit-identical across engines and layouts
    (divide by 1e6·sqrt(d_out) for the JL-scaled float view; kept
    integer here the way the quantized-IP family keeps scores).

    The sign matrix is ARITHMETIC, not stored state: sign(i, j) = +1
    iff the first hex digit of md5("i_j") < 8 — the same
    hyperplane-free determinism as the LSH operators, so a 100 TB run
    ships no matrix, and any shard (or another engine) regenerates
    the identical projection.

    Plan: element long-form (map-side posexplode) joins the
    BROADCAST d_in×d_out sign table on the input position, then one
    partial-aggregated shuffle on (vid, j). Fan-out is d_out per
    element — linear, no vector-vector pairs anywhere.
    """
    from .split import _hex_val

    spark = vectors.sparkSession
    signs = (
        spark.range(d_in)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(
            spark.range(d_out).select(F.col("id").cast("int").alias("j"))
        )
        .select(
            "i",
            "j",
            F.when(
                _hex_val(
                    F.substring(
                        F.md5(F.concat_ws("_", F.col("i"), F.col("j"))), 1, 1
                    )
                )
                < 8,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("sign"),
        )
    )
    # dimension guard: the position join would silently TRUNCATE a
    # vector longer than d_in (and partially project a shorter one) —
    # fail the job instead of corrupting the projection
    # (assert_true returns NULL when the condition holds, so the
    # filter keeps every valid row and cannot be pruned away)
    checked = vectors.filter(
        F.assert_true(
            F.size(F.col(vec_col)) == d_in,
            F.concat(
                F.lit(f"random_projection: expected {d_in}-dim vectors, got "),
                F.size(F.col(vec_col)).cast("string"),
            ),
        ).isNull()
    )
    el = element_table(checked, id_col, vec_col).select(
        "vid",
        (F.col("pos") - 1).alias("i"),
        F.floor(F.col("val") * DOT_SCALE).cast("long").alias("e"),
    )
    return (
        el.join(F.broadcast(signs), "i")
        .groupBy("vid", "j")
        .agg(F.sum(F.col("e") * F.col("sign")).alias("proj"))
    )


def ivf_assignment_drift(
    spark,
    index_dir: str,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """REBUILD-DECISION metric for the incremental IVF lifecycle: how
    far has the index drifted from what a fresh train over TODAY's
    corpus would build?

    The ingest path appends against FROZEN centroids
    (:func:`ivf_index_append` — the FAISS add-after-train contract),
    so assignment quality decays as the corpus distribution moves away
    from the training snapshot.  Retraining is a REBUILD lifecycle
    decision; this report is the measurement that decision reads:

    * retrain √N Lloyd centroids over the CURRENT indexed corpus
      (same deterministic trainer serving uses);
    * re-assign every indexed vector to the retrained cells
      (one in-task assignment pass, the index-build plan shape);
    * count the vectors whose retrained cell population differs from
      their frozen cell population — computed as a CELL-PAIR
      confusion table so the metric is stable under arbitrary
      centroid RENUMBERING (cells have no identity across trainings;
      comparing raw cvid labels would report ~100% drift for a
      bit-identical re-train).  A vector "moved" if its
      (frozen cell, retrained cell) pair is not the dominant mapping
      of its frozen cell — the standard clustering-agreement view
      (one row per frozen cell keeps its majority image).

    Returns ONE row: (n_vectors, n_cells_frozen, n_cells_retrained,
    n_moved, drift_frac).  Everything is exact integer arithmetic
    over the snapped-cosine assignments, so the report is
    deterministic and SQL-replayable (registered as an oracled query
    in round 11; pytest-pinned now).

    Scale: the retrain is the trainer's documented bounded cost (√N
    cells, iters in-task assign passes); the confusion table is
    cells×cells AT MOST and in practice near-diagonal; nothing
    corpus-sized shuffles except the one (cell,cell) keyed count.
    """
    cells = spark.read.parquet(index_dir.rstrip("/") + "/cells").select(
        "vid", "vec", "norm", F.col("cvid").alias("frozen_cvid")
    )
    corpus_n = cells.select("vid", "vec", "norm")
    n = corpus_n.count()
    # retrain over the CURRENT corpus: corpus_n is already normed, and
    # train_ivf_centroids normalizes internally from raw vectors — feed
    # it the raw-shaped frame it expects
    raw = corpus_n.select(
        F.col("vid").alias(id_col), F.col("vec").alias(vec_col)
    )
    cents2 = train_ivf_centroids(
        raw, iters=iters, id_col=id_col, vec_col=vec_col, n=n
    )
    assign2 = _assign_cells_arrow(corpus_n, _collect_normed(cents2)).select(
        "vid", F.col("cvid").alias("retrained_cvid")
    )
    pairs = cells.select("vid", "frozen_cvid").join(assign2, "vid")
    confusion = pairs.groupBy("frozen_cvid", "retrained_cvid").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    # majority image per frozen cell (ties -> smaller retrained id,
    # deterministic); everything outside the majority mapping "moved"
    w = W.partitionBy("frozen_cvid").orderBy(
        F.desc("n_pair"), F.col("retrained_cvid")
    )
    kept = (
        confusion.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.sum("n_pair").alias("n_kept"))
    )
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("frozen_cvid").alias("n_cells_frozen"),
        F.countDistinct("retrained_cvid").alias("n_cells_retrained"),
    )
    return (
        stats.crossJoin(F.broadcast(kept))
        .select(
            "n_vectors",
            "n_cells_frozen",
            "n_cells_retrained",
            (F.col("n_vectors") - F.col("n_kept")).alias("n_moved"),
            (
                (F.col("n_vectors") - F.col("n_kept")).cast("double")
                / F.col("n_vectors")
            ).alias("drift_frac"),
        )
    )
