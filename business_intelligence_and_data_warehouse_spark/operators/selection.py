"""Statistical data-selection scores for training-corpus curation.

Two published score families the curation funnel composes with the
dedup/quality operators:

* :func:`bigram_lm_scores` — CCNet-style language-model scoring
  (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  Datasets from Web Crawl Data"): score every document by a smoothed
  bigram LM *trained on the corpus itself*, so fluency is measured
  against the corpus's own distribution with no external model
  artifact. Low scores mark gibberish / boilerplate / outlier docs.

* :func:`dsir_weights` — hashed n-gram importance weights (Xie et
  al., "Data Selection for Language Models via Importance Resampling",
  DSIR). Token features hash into a fixed bucket space; a document's
  weight is the log-likelihood ratio of its bucket counts under the
  TARGET distribution vs the SOURCE (whole-corpus) distribution.
  Selecting top-weight documents reshapes the corpus toward the
  target domain without training a classifier.

Engine-parity design (both scores are driver-oracle-checked):
log-probability terms are snapped per term — ``FLOOR(ln(...)*1e6)``
over INTEGER count arguments, summed as BIGINT — so the aggregate is
exact integer addition and the only float ops (one ``ln`` per distinct
count pair, one final division) are deterministic IEEE double ops
identical across engines (the dot-product snap rule of
operators/similarity.py applied to log space).

Scale design (100 TB):
* every count table is a hash-keyed groupBy with map-side partial
  aggregation; bigram/unigram keys are uniformly distributed except
  for stop-word unigrams — the c1 join key is Zipf-skewed, which AQE
  skew-join splitting handles (session default; see SCALE.md);
* DSIR's per-bucket statistics table has exactly ``num_buckets`` rows
  regardless of corpus size — it broadcasts, making the weight
  computation one narrow groupBy(doc, bucket) shuffle plus map-side
  joins (the paper's own motivation for hashing: fixed-size
  sufficient statistics);
* nothing collects to the driver; the corpus-total scalars ride a
  broadcast cross join (the q1b scalar idiom, plans/queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, tokens_ws
from .caching import pin
from .dedup import token_table
from .split import _hex_val

LOG_SCALE = 1_000_000  # FLOOR(ln * 1e6) — the log-space snap


def _log_term(num: Column, den: Column) -> Column:
    """``FLOOR((ln(num) - ln(den)) * 1e6)`` as BIGINT over integer-
    valued arguments — the per-term snap that keeps log-prob sums
    exact integer arithmetic."""
    return F.floor(
        (F.log(num.cast("double")) - F.log(den.cast("double")))
        * F.lit(float(LOG_SCALE))
    ).cast("long")


# ---------------------------------------------------------------------------
# corpus-trained bigram LM scoring (CCNet-style)
# ---------------------------------------------------------------------------

def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, lm_score) — mean add-one-smoothed bigram
    log-probability per document under the corpus's own bigram LM.

    ``lm_score = mean over positions i of
    ln((c(w_i, w_{i+1}) + 1) / (c(w_i) + V))`` where the counts are
    corpus-wide token-occurrence counts and V is the distinct-unigram
    vocabulary size. Documents with fewer than 2 tokens score NULL
    (no bigram evidence), mirroring SQL aggregate semantics.

    Plan shape: bigram and unigram positions explode map-side from one
    PINNED tokenize pass (three subtrees read it: the bigram positions
    twice (count pass + scored join) plus the unigram explode, and
    without the pin each re-runs the normalize regex over the corpus);
    two count groupBys (bigram-keyed, unigram-keyed); positions join
    the count tables on those keys and aggregate back to one row per
    document. The
    unigram join key is Zipf-skewed — AQE skew splitting is the
    mitigation at scale, not salting, since the skew is
    data-dependent and the join is a plain equi-join.
    Pin A/B (sf0.1, interleaved best-of-3): 1.15s pinned vs 1.36s not.
    """
    toks = pin(token_table(docs, id_col, text_col))
    # (doc_id, w1, bg) bigram positions, built map-side so w1 (the
    # conditioning unigram) rides along without re-splitting bg later
    pos = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.concat_ws(
                            " ", F.slice("toks", i, 2)
                        ).alias("bg"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))
        ).alias("p")
    ).select("doc_id", "p.w1", "p.bg")
    uni = toks.select("doc_id", F.explode("toks").alias("w"))
    c2 = pos.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    vocab = c1.agg(F.count(F.lit(1)).alias("v"))  # 1 row -> broadcast
    scored = (
        pos.join(c2, "bg")
        .join(c1, pos.w1 == c1.w)
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            _log_term(F.col("c2") + 1, F.col("c1") + F.col("v")).alias(
                "term"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        (
            F.sum("term").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(float(LOG_SCALE))
        ).alias("lm_score"),
    )


# ---------------------------------------------------------------------------
# temperature-weighted multinomial source mixing (mT5-style)
# ---------------------------------------------------------------------------

def temperature_mixture(
    docs: DataFrame,
    stratum_col: str = "source",
    alpha: float = 0.5,
    budget: int = 200,
) -> DataFrame:
    """Per-stratum temperature-weighted sampling plan — the
    multinomial mixing rule of the T5/mT5 papers: sample stratum s
    with probability proportional to ``p_s^alpha`` (alpha = 1/T),
    which upweights small strata relative to raw proportions and
    caps the dominance of the largest ones.

    Output per stratum: (stratum, n_docs, p_raw, q_temp, target_docs,
    sample_rate) where q_temp is the normalized tempered share and
    sample_rate = min(1, q_temp * budget / n_docs) is the per-doc
    keep rate that realizes the plan (feed it to
    :func:`~..operators.split.mixture_sample` as the rates dict).

    Parity: the tempered weights snap per-stratum
    (``FLOOR(pow(p, alpha) * 1e9)`` as BIGINT) so the normalizing
    total is an exact integer sum; every later ratio is a single
    IEEE double division, identical across engines. Plan shape: one
    stratum groupBy + a broadcast 1-row total — the stats table is
    |strata| rows whatever the corpus size.
    """
    counts = docs.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = counts.agg(F.sum("n_docs").alias("n_total"))
    w = counts.crossJoin(F.broadcast(totals)).select(
        "stratum",
        "n_docs",
        "n_total",
        F.floor(
            F.pow(
                F.col("n_docs").cast("double")
                / F.col("n_total").cast("double"),
                F.lit(alpha),
            )
            * F.lit(1e9)
        ).cast("long").alias("w"),
    )
    wtot = w.agg(F.sum("w").alias("w_total"))
    return (
        w.crossJoin(F.broadcast(wtot))
        .select(
            "stratum",
            "n_docs",
            (
                F.col("n_docs").cast("double")
                / F.col("n_total").cast("double")
            ).alias("p_raw"),
            (
                F.col("w").cast("double") / F.col("w_total").cast("double")
            ).alias("q_temp"),
        )
        .withColumn(
            "target_docs", F.col("q_temp") * F.lit(float(budget))
        )
        .withColumn(
            "sample_rate",
            F.least(
                F.lit(1.0),
                F.col("target_docs") / F.col("n_docs").cast("double"),
            ),
        )
    )


# ---------------------------------------------------------------------------
# DSIR hashed-n-gram importance weights
# ---------------------------------------------------------------------------

def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    num_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, dsir_logweight) — per-document hashed-unigram
    importance weight toward the rows where ``is_target`` holds.

    Features are token occurrences hashed into ``num_buckets`` buckets
    (first two md5 hex digits mod num_buckets — the portable
    hash_bucket arithmetic of operators/split.py). With smoothed
    bucket distributions p (target) and q (source = whole corpus),

    ``dsir_logweight = sum over doc tokens of
    ln(p(bucket)) - ln(q(bucket))``

    where ``p(b) = (tc_b + 1) / (t_tot + B)`` and q likewise — the
    add-one-smoothed multinomial likelihood ratio of the DSIR paper.
    The bucket-statistics table has exactly ``num_buckets`` rows
    whatever the corpus size (hashing makes the sufficient statistics
    fixed-size), so it broadcasts and the per-document weight costs
    one groupBy(doc, bucket) shuffle + one groupBy(doc).

    ``is_target`` must be a column over ``docs``'s columns (e.g.
    ``F.col("lang") == "en"``); target rows also contribute to the
    source distribution, matching the paper's raw/target split.

    The bucketed-occurrence table is PINNED — the
    bucket-statistics aggregate and the per-document counts both read
    it, and it is far narrower than the corpus text (doc id + bool +
    one int per token), so caching it beats re-running the
    normalize+tokenize+md5 scan per consumer (sf0.1 interleaved
    best-of-3: 0.95s pinned vs 1.91s not — the largest pin win in the
    selection family).
    """
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        is_target.alias("is_t"),
        F.explode(tokens_ws(normalize_text(F.col(text_col)))).alias("w"),
    ).withColumn("hx", F.md5(F.col("w"))).select(
        "doc_id",
        "is_t",
        (
            (_hex_val(F.substring("hx", 1, 1)) * 16
             + _hex_val(F.substring("hx", 2, 1)))
            % num_buckets
        ).alias("b"),
    )
    occ = pin(occ)
    stats = occ.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("tc"),
        F.count(F.lit(1)).alias("sc"),
    )
    totals = stats.agg(
        F.sum("tc").alias("t_tot"), F.sum("sc").alias("s_tot")
    )
    lr = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                _log_term(
                    F.col("tc") + 1, F.col("t_tot") + F.lit(num_buckets)
                )
                - _log_term(
                    F.col("sc") + 1, F.col("s_tot") + F.lit(num_buckets)
                )
            ).alias("lr"),
        )
    )
    per_bucket = occ.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per_bucket.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("int").alias("n_tokens"),
            (
                F.sum(F.col("n") * F.col("lr")).cast("double")
                / F.lit(float(LOG_SCALE))
            ).alias("dsir_logweight"),
        )
    )
