"""Round-5 data-selection / substring-dedup registry queries.

Seven published training-data-pipeline techniques not covered by the
earlier dedup/quality/similarity families:

* ``dedup_repeated_ngrams`` — cross-document repeated k-gram spans
  (Lee et al., substring-level dedup) with exact interval-merged
  coverage;
* ``text_substring_trim`` — the matching TRANSFORM: drop every token
  covered by a duplicated span and re-assemble the text;
* ``corpus_temperature_mixture`` — mT5-style temperature-weighted
  multinomial source mixing plan;
* ``search_hybrid_rrf`` — reciprocal-rank fusion of the BM25 and
  dense-embedding retrievers;
* ``text_lm_perplexity`` — CCNet-style corpus-self-trained bigram LM
  scoring;
* ``dsir_importance_weights`` — DSIR hashed-n-gram importance weights
  toward a target domain;
* ``sim_matryoshka_topk`` — truncated-prefix (Matryoshka) embedding
  search with per-query recall against the full-dimension exact
  top-k.

All follow the established parity rules: md5-only hashing, integer
counts, and log/pow/dot terms snapped per-term to scaled BIGINT
before summation (see operators/selection.py and
operators/similarity.py docstrings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import repeated_ngram_report
from ..operators.selection import bigram_lm_scores, dsir_weights
from ..operators.similarity import brute_force_topk, matryoshka_topk
from ..sources.testdata import load_table, table_count
from .pipeline_queries import (
    _O_ELEMENTS,
    _O_HEXV,
    _O_IVF_CAND,
    _O_NORM,
    _O_PANEL_PRED,
    _o_ivf_cand,
    _panel_filter,
)
from .queries import query_fn

# ---------------------------------------------------------------------------
# cross-document repeated n-gram spans (k = 5, df >= 2)
# ---------------------------------------------------------------------------

_RN_K = 5

# shared CTE chain ending in `dp` (doc_id, i, e duplicated-span
# intervals) — used by the repeated-ngram report AND the trim oracle
_O_DUP_SPANS = f"""
toks AS (SELECT doc_id, string_split({_O_NORM}, ' ') t FROM documents),
base AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens, t FROM toks),
pos AS (
  SELECT doc_id, unnest(range(1, len(t) - {_RN_K} + 2)) AS i, t
  FROM toks WHERE len(t) >= {_RN_K}
),
grams AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
         md5(array_to_string(t[i:i+{_RN_K - 1}], ' ')) AS gh
  FROM pos
),
docgram AS (SELECT DISTINCT doc_id, gh FROM grams),
dup AS (SELECT gh FROM docgram GROUP BY gh HAVING COUNT(*) >= 2),
dp AS (SELECT doc_id, i, i + {_RN_K - 1} AS e FROM grams JOIN dup USING (gh))
"""


@query_fn(
    "dedup_repeated_ngrams",
    oracle=f"""
WITH {_O_DUP_SPANS},
m AS (
  SELECT doc_id, i, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
  FROM dp
),
isl AS (
  SELECT doc_id, i, e,
         SUM(CASE WHEN pe IS NULL OR i > pe THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM m
),
icov AS (
  SELECT doc_id, isl_id, MAX(e) - MIN(i) + 1 AS cov, COUNT(*) AS np
  FROM isl GROUP BY 1, 2
),
perdoc AS (
  SELECT doc_id, SUM(cov) AS covered, SUM(np) AS ndup FROM icov GROUP BY 1
)
SELECT b.doc_id, b.n_tokens,
  CAST(GREATEST(b.n_tokens - {_RN_K - 1}, 0) AS INTEGER) AS n_grams,
  CAST(COALESCE(ndup, 0) AS INTEGER) AS n_dup_grams,
  CAST(COALESCE(covered, 0) AS INTEGER) AS covered_tokens,
  CASE WHEN b.n_tokens - {_RN_K - 1} > 0
       THEN CAST(COALESCE(ndup, 0) AS DOUBLE)
            / CAST(b.n_tokens - {_RN_K - 1} AS DOUBLE)
       ELSE 0.0e0 END AS dup_gram_share,
  CAST(COALESCE(covered, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
    AS dup_token_share,
  (CAST(COALESCE(covered, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE))
    >= 0.5e0 AS is_substring_dup
FROM base b LEFT JOIN perdoc USING (doc_id)
ORDER BY doc_id
""",
)
def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-document repeated 5-gram span coverage
    (operators/dedup.repeated_ngram_report)."""
    docs = load_table(spark, sf_dir, "documents")
    return repeated_ngram_report(docs, k=_RN_K, min_docs=2).orderBy("doc_id")


# ---------------------------------------------------------------------------
# corpus-self-trained bigram LM scoring (CCNet-style)
# ---------------------------------------------------------------------------

@query_fn(
    "text_lm_perplexity",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split({_O_NORM}, ' ') t FROM documents),
pos AS (
  SELECT doc_id, unnest(range(1, len(t))) AS i, t
  FROM toks WHERE len(t) >= 2
),
bg AS (
  SELECT doc_id, t[CAST(i AS INTEGER)] AS w1,
         array_to_string(t[i:i+1], ' ') AS bg
  FROM pos
),
c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
uni AS (SELECT unnest(t) AS w FROM toks),
c1 AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY w),
v AS (SELECT COUNT(*) AS v FROM c1),
terms AS (
  SELECT doc_id,
    CAST(FLOOR((ln(CAST(c2 + 1 AS DOUBLE)) - ln(CAST(c1 + v AS DOUBLE)))
               * 1e6) AS BIGINT) AS term
  FROM bg JOIN c2 USING (bg) JOIN c1 ON bg.w1 = c1.w CROSS JOIN v
)
SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
  CAST(SUM(term) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6 AS lm_score
FROM terms GROUP BY doc_id
ORDER BY doc_id
""",
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean smoothed bigram log-probability per document under the
    corpus's own bigram LM (operators/selection.bigram_lm_scores)."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# DSIR hashed-unigram importance weights (target = lang 'en')
# ---------------------------------------------------------------------------

_DSIR_B = 64


@query_fn(
    "dsir_importance_weights",
    oracle=f"""
WITH occ0 AS (
  SELECT doc_id, lang, unnest(string_split({_O_NORM}, ' ')) AS w
  FROM documents
),
occ AS (
  SELECT doc_id, (lang = 'en') AS is_t, md5(w) AS hx FROM occ0
),
buck AS (
  SELECT doc_id, is_t,
         ({_O_HEXV.format(i=1)} * 16 + {_O_HEXV.format(i=2)}) % {_DSIR_B}
           AS b
  FROM occ
),
stats AS (
  SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc, COUNT(*) AS sc
  FROM buck GROUP BY b
),
tot AS (SELECT SUM(tc) AS t_tot, SUM(sc) AS s_tot FROM stats),
lr AS (
  SELECT b,
    CAST(FLOOR((ln(CAST(tc + 1 AS DOUBLE))
                - ln(CAST(t_tot + {_DSIR_B} AS DOUBLE))) * 1e6) AS BIGINT)
  - CAST(FLOOR((ln(CAST(sc + 1 AS DOUBLE))
                - ln(CAST(s_tot + {_DSIR_B} AS DOUBLE))) * 1e6) AS BIGINT)
      AS lr
  FROM stats CROSS JOIN tot
),
pb AS (SELECT doc_id, b, COUNT(*) AS n FROM buck GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(n) AS INTEGER) AS n_tokens,
       CAST(SUM(n * lr) AS DOUBLE) / 1e6 AS dsir_logweight
FROM pb JOIN lr USING (b) GROUP BY doc_id
ORDER BY doc_id
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-unigram log importance weights toward the English
    slice of the corpus (operators/selection.dsir_weights)."""
    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(
        docs, F.col("lang") == "en", num_buckets=_DSIR_B
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Matryoshka truncated-prefix search + recall report (d = 16 of 64)
# ---------------------------------------------------------------------------

_MK_D = 16
_MK_K = 10

_O_TOPK_TMPL = """
dots{sfx} AS (
  SELECT p.vid AS qid, c.vid AS cid,
         CAST(SUM(CAST(FLOOR(p.val * c.val * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
           AS dot
  FROM pel{sfx} p JOIN el{sfx} c ON p.pos = c.pos
  GROUP BY 1, 2
),
cos{sfx} AS (
  SELECT qid, cid, dot / NULLIF(nq.norm * nc.norm, 0.0) AS cosine
  FROM dots{sfx}
  JOIN nrm{sfx} nq ON nq.vid = qid
  JOIN nrm{sfx} nc ON nc.vid = cid
  WHERE qid <> cid
),
top{sfx} AS (
  SELECT qid, cid
  FROM (
    SELECT qid, cid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, cid) AS rnk
    FROM cos{sfx}
  ) WHERE rnk <= {k}
)
"""


@query_fn(
    "sim_matryoshka_topk",
    oracle=f"""
WITH {_O_ELEMENTS},
pel AS (SELECT * FROM el WHERE vid % 100 = 0),
eld AS (SELECT * FROM el WHERE pos <= {_MK_D}),
nrmd AS (
  SELECT vid,
         sqrt(CAST(SUM(CAST(FLOOR(val * val * 1e6) AS BIGINT)) AS DOUBLE)
              / 1e6) AS norm
  FROM eld GROUP BY vid
),
peld AS (SELECT * FROM eld WHERE vid % 100 = 0),
{_O_TOPK_TMPL.format(sfx="", k=_MK_K).strip().rstrip()},
{_O_TOPK_TMPL.format(sfx="d", k=_MK_K).strip().rstrip()}
SELECT t.qid AS query_id,
       CAST(COUNT(td.cid) AS INTEGER) AS n_overlap,
       CAST(COUNT(td.cid) AS DOUBLE) / {_MK_K} AS recall
FROM top t
LEFT JOIN topd td ON td.qid = t.qid AND td.cid = t.cid
GROUP BY t.qid
ORDER BY query_id
""",
)
def sim_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall of the 16-dim Matryoshka-prefix top-10 against
    the exact 64-dim top-10 (operators/similarity.matryoshka_topk) —
    the measured answer to "how much of the ranking does the cheap
    prefix pass preserve"."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    full = brute_force_topk(emb, probes, _MK_K)
    trunc = matryoshka_topk(emb, probes, _MK_D, _MK_K)
    overlap = (
        full.join(
            trunc.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        full.select("query_id")
        .distinct()
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("int").alias("n_overlap"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.lit(float(_MK_K))
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# substring-dedup TRANSFORM: trim cross-document duplicated spans
# ---------------------------------------------------------------------------

@query_fn(
    "text_substring_trim",
    oracle=f"""
WITH {_O_DUP_SPANS},
cov AS (
  SELECT DISTINCT doc_id, tt FROM (
    SELECT doc_id, unnest(range(i, e + 1)) AS tt FROM dp
  )
),
tp AS (
  SELECT doc_id, CAST(tt AS INTEGER) AS tt, t[CAST(tt AS INTEGER)] AS w
  FROM (SELECT doc_id, unnest(range(1, len(t) + 1)) AS tt, t FROM base)
),
kept AS (
  SELECT tp.doc_id, tp.tt, tp.w
  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.tt = tp.tt
  WHERE cov.tt IS NULL
),
reb AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(w, ' ' ORDER BY tt) AS trimmed_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
  CAST(COALESCE(n_kept, 0) AS INTEGER) AS n_kept,
  CAST(b.n_tokens - COALESCE(n_kept, 0) AS INTEGER) AS n_removed,
  COALESCE(trimmed_text, '') AS trimmed_text
FROM base b LEFT JOIN reb USING (doc_id)
ORDER BY doc_id
""",
)
def text_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove cross-document duplicated 5-gram spans from every doc
    (operators/dedup.trim_repeated_spans) — the transform half of
    substring-level dedup."""
    from ..operators.dedup import trim_repeated_spans

    docs = load_table(spark, sf_dir, "documents")
    return trim_repeated_spans(docs, k=_RN_K, min_docs=2).orderBy("doc_id")


# ---------------------------------------------------------------------------
# temperature-weighted multinomial source mixing (alpha = 0.5)
# ---------------------------------------------------------------------------

_TM_BUDGET = 200


@query_fn(
    "corpus_temperature_mixture",
    oracle=f"""
WITH counts AS (
  SELECT source AS stratum, COUNT(*) AS n_docs FROM documents GROUP BY 1
),
tot AS (SELECT SUM(n_docs) AS n_total FROM counts),
w AS (
  SELECT stratum, n_docs, n_total,
    CAST(FLOOR(power(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE),
                     0.5e0) * 1e9) AS BIGINT) AS w
  FROM counts CROSS JOIN tot
),
wt AS (SELECT SUM(w) AS w_total FROM w)
SELECT stratum, n_docs,
  CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS p_raw,
  CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE) AS q_temp,
  (CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE)) * {_TM_BUDGET}.0e0
    AS target_docs,
  LEAST(1.0e0,
        ((CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE)) * {_TM_BUDGET}.0e0)
        / CAST(n_docs AS DOUBLE)) AS sample_rate
FROM w CROSS JOIN wt
ORDER BY stratum
""",
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-weighted (alpha = 0.5) sampling plan
    (operators/selection.temperature_mixture)."""
    from ..operators.selection import temperature_mixture

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture(
        docs, "source", alpha=0.5, budget=_TM_BUDGET
    ).orderBy("stratum")


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 + embedding reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_TERMS = ("join", "hash", "scan")
_RRF_LIST_K = 20
_RRF_K = 60
_RRF_TOP = 10


@query_fn(
    "search_hybrid_rrf",
    oracle=f"""
WITH toked AS (
  SELECT doc_id, string_split({_O_NORM}, ' ') AS t FROM documents
),
bmbase AS (SELECT doc_id, len(t) AS dl, t FROM toked),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM bmbase
),
tf AS (
  SELECT doc_id, dl, tok AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(t) AS tok FROM bmbase)
  WHERE tok IN {_RRF_TERMS!r}
  GROUP BY 1, 2, 3
),
dfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         CAST(FLOOR(
           ((s.n_docs - d.df + 0.5e0) / (d.df + 0.5e0))
           * ((CAST(tf.tf AS DOUBLE) * (1.2e0 + 1e0))
              / (CAST(tf.tf AS DOUBLE)
                 + 1.2e0 * ((1e0 - 0.75e0)
                            + (0.75e0 * CAST(tf.dl AS DOUBLE)) / s.avgdl)))
           * 1e9) AS BIGINT) AS ts
  FROM tf JOIN dfs d ON d.term = tf.term CROSS JOIN stats s
),
bmtop AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_a
  FROM (
    SELECT doc_id, CAST(SUM(ts) AS DOUBLE) / 1e9 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT {_RRF_LIST_K}
  )
),
{_O_ELEMENTS},
pel0 AS (SELECT * FROM el WHERE vid = 0),
dots AS (
  SELECT c.vid AS cid,
         CAST(SUM(CAST(FLOOR(p.val * c.val * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
           AS dot
  FROM pel0 p JOIN el c ON p.pos = c.pos
  GROUP BY 1
),
cos AS (
  SELECT cid, dot / NULLIF(nq.norm * nc.norm, 0.0) AS cosine
  FROM dots
  JOIN nrm nq ON nq.vid = 0
  JOIN nrm nc ON nc.vid = cid
  WHERE cid <> 0
),
emtop AS (
  SELECT cid AS doc_id,
         ROW_NUMBER() OVER (ORDER BY cosine DESC, cid) AS rank_b
  FROM (SELECT cid, cosine FROM cos ORDER BY cosine DESC, cid
        LIMIT {_RRF_LIST_K})
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
  CAST(COALESCE(rank_a, 0) AS INTEGER) AS rank_a,
  CAST(COALESCE(rank_b, 0) AS INTEGER) AS rank_b,
  COALESCE(1.0e0 / ({_RRF_K} + rank_a), 0.0e0)
    + COALESCE(1.0e0 / ({_RRF_K} + rank_b), 0.0e0) AS rrf_score
FROM bmtop a FULL OUTER JOIN emtop b ON a.doc_id = b.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOP}
""",
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 top-20 (query bag 'join
    hash scan') with the embedding top-20 around probe vector 0 —
    vec_id aligns 1:1 with doc_id in the testdata, standing in for a
    corpus with both a lexical index and a dense index
    (operators/search.rrf_fuse)."""
    from pyspark.sql import Window as W

    from ..operators.search import bm25_topk, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, _RRF_TERMS, k=_RRF_LIST_K).withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), "doc_id"))
        .cast("int"),
    )
    dense = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), _RRF_LIST_K
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    fused = rrf_fuse(
        bm, dense, id_col="doc_id", k_rrf=_RRF_K, topk=_RRF_TOP
    )
    return fused.select(
        F.col("id").alias("doc_id"), "rank_a", "rank_b", "rrf_score"
    )


# ---------------------------------------------------------------------------
# product quantization + asymmetric-distance top-k (m = 8, stride 25)
# ---------------------------------------------------------------------------

_PQ_M = 8
_PQ_SD = 8  # 64 dims / 8 subspaces
_PQ_CB = 256  # fixed codebook entries per subspace (the FAISS rule)
# coarse-CELL stride for the scaling-probe ramp form sim_ann_ivfpq
# only (must equal pipeline_queries._IVF_STRIDE — its oracle replays
# cells through the shared _O_IVF_CAND fragment); no longer a
# codebook knob anywhere
_PQ_STRIDE = 25
_PQ_K = 10

# size-derived PQ codebook parameter: stride = N/256 keeps the
# codebook ~256 entries at ANY corpus scale, so the encode join is
# O(N·m·256).  The r1–r7 stride-25 codebook grew as N/25 and made the
# encode quadratic — a measured 4 GiB-heap OOM at 60k vectors (x30
# ramp data) in the round-8 ramp (operators/similarity._pq_encoded).
_O_CBPAR = """
cbpar AS (
  SELECT GREATEST(1, CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) / 256) AS BIGINT))
    AS cbstride
  FROM embeddings
)
"""


# PQ encode + probe-distance-table CTE chain, shared by sim_ann_pq and
# the IVF-PQ compositions — parameterized on the probe predicate so
# the fixed-panel serving variant replays through the SAME fragment;
# the codebook stride comes from the cbpar CTE (prepend _O_CBPAR)
def _o_pq_codes(probe_pred: str) -> str:
    return f"""
sub AS (
  SELECT vid, CAST((pos - 1) // {_PQ_SD} AS INTEGER) AS j, pos, val FROM el
),
cb AS (
  SELECT vid AS code, CAST((pos - 1) // {_PQ_SD} AS INTEGER) AS j, pos, val
  FROM el WHERE vid % (SELECT cbstride FROM cbpar) = 0
),
enc AS (
  SELECT s.vid, s.j, c.code,
         SUM(CAST(FLOOR((s.val - c.val) * (s.val - c.val) * 1e6) AS BIGINT))
           AS d
  FROM sub s JOIN cb c ON c.j = s.j AND c.pos = s.pos
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vid, j, code FROM (
    SELECT vid, j, code,
           ROW_NUMBER() OVER (PARTITION BY vid, j ORDER BY d, code) AS rn
    FROM enc
  ) WHERE rn = 1
),
dt AS (
  SELECT s.vid AS qid, s.j, c.code,
         SUM(CAST(FLOOR((s.val - c.val) * (s.val - c.val) * 1e6) AS BIGINT))
           AS dd
  FROM sub s JOIN cb c ON c.j = s.j AND c.pos = s.pos
  WHERE {probe_pred}
  GROUP BY 1, 2, 3
)
"""


_O_PQ_CODES = _o_pq_codes("s.vid % 100 = 0")
_O_PQ_PANEL_PRED = "s.vid % 10 = 0 AND s.vid < 500"


@query_fn(
    "sim_ann_pq",
    oracle=f"""
WITH {_O_ELEMENTS},
{_O_CBPAR.strip()},
{_O_PQ_CODES.strip()},
ax AS (
  SELECT qid, vid, CAST(SUM(dd) AS DOUBLE) / 1e6 AS approx_dist
  FROM codes JOIN dt USING (j, code)
  GROUP BY 1, 2
)
SELECT qid AS query_id, vid AS neighbor_id,
       CAST(rnk AS INTEGER) AS rank, approx_dist
FROM (
  SELECT qid, vid, approx_dist,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY approx_dist, vid) AS rnk
  FROM ax WHERE vid <> qid
)
WHERE rnk <= {_PQ_K}
ORDER BY query_id, rank
""",
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 (8 subspaces of 8 dims, stride
    codebooks) — operators/similarity.pq_topk."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_topk(
        emb,
        probes,
        k=_PQ_K,
        dim=64,
        num_subspaces=_PQ_M,
        codebook_size=_PQ_CB,
        n=table_count(spark, sf_dir, "embeddings"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# IVF-PQ composition (FAISS IVFADC): cell-pruned candidates, ADC scores
# ---------------------------------------------------------------------------

@query_fn(
    "sim_ann_ivfpq",
    oracle=f"""
WITH {_O_ELEMENTS},
{_O_CBPAR.strip()},
{_O_IVF_CAND.strip()},
{_O_PQ_CODES.strip()},
ax AS (
  SELECT c.qid, c.cid AS vid,
         CAST(SUM(dd) AS DOUBLE) / 1e6 AS approx_dist
  FROM cand c
  JOIN codes ON codes.vid = c.cid
  JOIN dt ON dt.qid = c.qid AND dt.j = codes.j AND dt.code = codes.code
  GROUP BY 1, 2
)
SELECT qid AS query_id, vid AS neighbor_id,
       CAST(rnk AS INTEGER) AS rank, approx_dist
FROM (
  SELECT qid, vid, approx_dist,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY approx_dist, vid) AS rnk
  FROM ax
)
WHERE rnk <= {_PQ_K}
ORDER BY query_id, rank
""",
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IVFADC) top-10: IVF cell pruning composed with PQ
    asymmetric-distance scoring (operators/similarity.ivf_pq_topk)."""
    from ..operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_pq_topk(
        emb,
        probes,
        k=_PQ_K,
        dim=64,
        num_subspaces=_PQ_M,
        centroid_stride=_PQ_STRIDE,
        nprobe=4,
        codebook_size=_PQ_CB,
        n=table_count(spark, sf_dir, "embeddings"),
    ).select("query_id", "neighbor_id", "rank", "approx_dist").orderBy(
        "query_id", "rank"
    )


# size-derived IVF cell parameters for the PRODUCTION serving form:
# ~√N cells (stride = N/⌊√N⌋) and the recall-targeted probe budget
# ceil(0.7·√N) — the same sizing the trained IVF uses, so the coarse
# assign pass is O(N^1.5) instead of the fixed stride's O(N²/25)
_O_CPAR = """
cpar AS (
  SELECT CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
              / FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)))) AS BIGINT) AS cstride,
         CAST(CEIL(0.7 * FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))))
              AS BIGINT) AS nprobe
  FROM embeddings
)
"""


@query_fn(
    "sim_ann_ivfpq_fixed",
    oracle=f"""
WITH {_O_ELEMENTS},
{_O_CBPAR.strip()},
{_O_CPAR.strip()},
{_o_ivf_cand(
    _O_PANEL_PRED,
    "(SELECT cstride FROM cpar)",
    "(SELECT nprobe FROM cpar)",
).strip()},
{_o_pq_codes(_O_PQ_PANEL_PRED).strip()},
ax AS (
  SELECT c.qid, c.cid AS vid,
         CAST(SUM(dd) AS DOUBLE) / 1e6 AS approx_dist
  FROM cand c
  JOIN codes ON codes.vid = c.cid
  JOIN dt ON dt.qid = c.qid AND dt.j = codes.j AND dt.code = codes.code
  GROUP BY 1, 2
)
SELECT qid AS query_id, vid AS neighbor_id,
       CAST(rnk AS INTEGER) AS rank, approx_dist
FROM (
  SELECT qid, vid, approx_dist,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY approx_dist, vid) AS rnk
  FROM ax
)
WHERE rnk <= {_PQ_K}
ORDER BY query_id, rank
""",
)
def sim_ann_ivfpq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ in full PRODUCTION shape: FIXED 50-id probe panel
    (constant probe batch, so battery timings measure per-probe cost
    instead of conflating corpus and probe growth), ~√N coarse cells
    with the recall-targeted ceil(0.7·√N) probe budget, and the
    bounded 256-entry codebook — every knob sized so no pass exceeds
    O(N^1.5).  The scaling-probe stride-cell sim_ann_ivfpq stays
    registered for the ramp and oracle-history comparability.

    Ramp-exponent note (r11): with the 0.7·√N budget this query's ADC
    candidate width is ~0.7·N per probe, so its fixed-panel exponent
    tends toward 1.0 BY CONSTRUCTION on the uniform ramp corpus —
    measured as inherent to that corpus at the 0.9+ recall bar, not a
    plan defect (SCALE.md round-11 nprobe study: uniform data needs
    the ~0.7 cell fraction at every N; clustered data holds recall
    0.93+ at FIXED nprobe=8, candidates O(√N) — the production
    setting on real embeddings)."""
    import math

    from ..operators.similarity import ivf_pq_topk
    from .pipeline_queries import _trained_nprobe

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_count(spark, sf_dir, "embeddings")
    k0 = max(1, math.floor(math.sqrt(n)))
    probes = emb.filter(_panel_filter())
    return ivf_pq_topk(
        emb,
        probes,
        k=_PQ_K,
        dim=64,
        num_subspaces=_PQ_M,
        centroid_stride=max(1, math.floor(n / k0)),
        nprobe=_trained_nprobe(n),
        codebook_size=_PQ_CB,
        n=n,
    ).select("query_id", "neighbor_id", "rank", "approx_dist").orderBy(
        "query_id", "rank"
    )


# ADC shortlist width for the rerank stage: 3·k — the FAISS-practice
# ratio (shortlist a few × k by table lookups, then pay exact math on
# that bounded set only)
_PQ_RERANK = 3 * _PQ_K


@query_fn(
    "sim_ann_ivfpq_rerank",
    oracle=f"""
WITH {_O_ELEMENTS},
{_O_CBPAR.strip()},
{_O_CPAR.strip()},
{_o_ivf_cand(
    _O_PANEL_PRED,
    "(SELECT cstride FROM cpar)",
    "(SELECT nprobe FROM cpar)",
).strip()},
{_o_pq_codes(_O_PQ_PANEL_PRED).strip()},
ax AS (
  SELECT c.qid, c.cid AS vid,
         CAST(SUM(dd) AS DOUBLE) / 1e6 AS approx_dist
  FROM cand c
  JOIN codes ON codes.vid = c.cid
  JOIN dt ON dt.qid = c.qid AND dt.j = codes.j AND dt.code = codes.code
  GROUP BY 1, 2
),
sl AS (
  SELECT qid, vid FROM (
    SELECT qid, vid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY approx_dist, vid) AS rnk
    FROM ax
  ) WHERE rnk <= {_PQ_RERANK}
),
rdots AS (
  SELECT sl.qid, sl.vid AS cid,
         CAST(SUM(CAST(FLOOR(a.val * b.val * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
           AS dot
  FROM sl
  JOIN el a ON a.vid = sl.qid
  JOIN el b ON b.vid = sl.vid AND b.pos = a.pos
  GROUP BY 1, 2
),
rcos AS (
  SELECT qid, cid, dot / NULLIF(nq.norm * nc.norm, 0.0) AS cosine
  FROM rdots
  JOIN nrm nq ON nq.vid = qid
  JOIN nrm nc ON nc.vid = cid
)
SELECT qid AS query_id, cid AS neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, cid)
            AS INTEGER) AS rank,
       cosine
FROM rcos
QUALIFY rank <= {_PQ_K}
ORDER BY query_id, rank
""",
)
def sim_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with EXACT RERANK — the full FAISS production serving
    shape the other ANN docstrings reference: ADC table lookups
    shortlist 3·k candidates per probe (cheap, approximate, metric-
    mixed), then exact snapped-cosine reranks ONLY the shortlist —
    each ADC task computes its survivors' cosine in the same pass
    (operators/similarity.ivf_pq_topk), so the rerank is one window
    over the shortlist, O(probes · 3k · dim) and independent of corpus
    size.  The rerank repairs both ADC
    quantization error and the cosine-vs-L2 metric mix on
    unnormalized vectors, at a cost that stays constant as the corpus
    grows — the reason every production IVFADC deployment reranks.

    Shares the memoized PQ family encode and the fixed
    50-probe panel, so the battery timing isolates the rerank stage's
    marginal cost over sim_ann_ivfpq_fixed."""
    import math

    from pyspark.sql import Window as W

    from ..operators.similarity import ivf_pq_topk
    from .pipeline_queries import _trained_nprobe

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_count(spark, sf_dir, "embeddings")
    k0 = max(1, math.floor(math.sqrt(n)))
    probes = emb.filter(_panel_filter())
    shortlist = ivf_pq_topk(
        emb,
        probes,
        k=_PQ_RERANK,
        dim=64,
        num_subspaces=_PQ_M,
        centroid_stride=max(1, math.floor(n / k0)),
        nprobe=_trained_nprobe(n),
        codebook_size=_PQ_CB,
        n=n,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        shortlist.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _PQ_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# multimodal audio: REAL WAV decode with a closed-form oracle
# ---------------------------------------------------------------------------

@query_fn(
    "multimodal_audio_features",
    oracle="""
SELECT doc_id,
  CAST(8000 AS INTEGER) AS sample_rate,
  CAST(100 + doc_id % 50 AS INTEGER) AS n_samples,
  CAST(100 + doc_id % 50 AS DOUBLE) / 8000.0e0 AS duration_s,
  CAST(1000 + (doc_id % 100) * 10 AS DOUBLE) AS rms,
  CAST(1000 + (doc_id % 100) * 10 AS INTEGER) AS peak,
  CASE WHEN (100 + doc_id % 50) % 2 = 1
       THEN CAST(1000 + (doc_id % 100) * 10 AS DOUBLE)
            / CAST(100 + doc_id % 50 AS DOUBLE)
       ELSE 0.0e0 END AS mean_amp
FROM documents
ORDER BY doc_id
""",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the Spark multimodal plumbing:
    deterministic square-wave WAV payloads (operators/multimodal.
    synth_audio_blobs) stream through the Arrow-batched WAV extractor
    (stdlib ``wave`` decode + numpy energy features), and because the
    generator is closed-form the decoded features hash-match a pure
    arithmetic DuckDB oracle — the decode path itself is
    oracle-verified, not just the plumbing."""
    from ..operators.multimodal import (
        AUDIO_FEATURE_SCHEMA,
        _audio_features,
        extract_features,
        synth_audio_blobs,
    )

    docs = load_table(spark, sf_dir, "documents")
    blobs = synth_audio_blobs(docs)
    return extract_features(
        blobs, extractor=_audio_features, schema=AUDIO_FEATURE_SCHEMA
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# PQ recall report: measured recall@k of ADC vs the exact-L2 baseline
# ---------------------------------------------------------------------------

@query_fn(
    "sim_pq_recall_report",
    oracle=f"""
WITH {_O_ELEMENTS},
{_O_CBPAR.strip()},
pel AS (SELECT * FROM el WHERE vid % 100 = 0),
bdist AS (
  SELECT p.vid AS qid, c.vid AS cid,
         CAST(SUM(CAST(FLOOR((p.val - c.val) * (p.val - c.val) * 1e6)
                       AS BIGINT)) AS DOUBLE) / 1e6 AS dist
  FROM pel p JOIN el c ON p.pos = c.pos AND p.vid <> c.vid
  GROUP BY 1, 2
),
bt AS (
  SELECT qid, cid FROM bdist
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dist, cid)
    <= {_PQ_K}
),
{_O_PQ_CODES.strip()},
ax AS (
  SELECT dt.qid, codes.vid,
         CAST(SUM(dd) AS DOUBLE) / 1e6 AS approx_dist
  FROM codes
  JOIN dt ON dt.j = codes.j AND dt.code = codes.code
  WHERE codes.vid <> dt.qid
  GROUP BY 1, 2
),
pt AS (
  SELECT qid, vid AS cid FROM ax
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY approx_dist, vid)
    <= {_PQ_K}
)
SELECT CAST(COUNT(DISTINCT bt.qid) AS BIGINT) AS n_probes,
       CAST({_PQ_K} AS INTEGER) AS k,
       CAST(COUNT(pt.cid) AS BIGINT) AS n_hits,
       CAST(COUNT(*) AS BIGINT) AS n_expected,
       COUNT(pt.cid) * 1.0e0 / COUNT(*) AS recall_at_k
FROM bt LEFT JOIN pt ON pt.qid = bt.qid AND pt.cid = bt.cid
""",
)
def sim_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEST-SCALE ACCURACY COMPANION to ``sim_ann_pq`` (the production
    path the bench times): MEASURED recall@10 of PQ/ADC against the
    exact squared-L2 brute-force baseline (same metric, so the report
    isolates quantization error — the accuracy side of the m/stride
    knobs).  The brute-force truth side runs at validation SFs / on a
    sample only.  One row: (n_probes, k, n_hits, n_expected,
    recall_at_k)."""
    from ..operators.similarity import brute_force_l2_topk, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    # the exact subtree has two consumers (hit semi-join + the
    # n_probes aggregate) but they read IDENTICAL exchanges up through
    # the per-probe rank window, so ReuseExchange already shares the
    # distance pass — a pin measured as pure overhead
    # (sf0.1 interleaved best-of-3: 4.33s unpinned vs 5.24s pinned),
    # the same negative result as the MinHash band join
    exact = brute_force_l2_topk(emb, probes, _PQ_K).select(
        "query_id", "neighbor_id"
    )
    approx = pq_topk(
        emb, probes, k=_PQ_K, dim=64,
        num_subspaces=_PQ_M, codebook_size=_PQ_CB,
        n=table_count(spark, sf_dir, "embeddings"),
    ).select("query_id", "neighbor_id")
    hit = exact.join(
        approx, ["query_id", "neighbor_id"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        exact.agg(
            F.countDistinct("query_id").alias("n_probes"),
            F.count(F.lit(1)).alias("n_expected"),
        )
        .crossJoin(F.broadcast(hit))
        .select(
            "n_probes",
            F.lit(_PQ_K).cast("int").alias("k"),
            F.col("n_hits").cast("long").alias("n_hits"),
            "n_expected",
            (
                F.col("n_hits") * F.lit(1.0) / F.col("n_expected")
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# 1-bit (sign) quantization + packed Hamming top-k, cosine-reranked
# ---------------------------------------------------------------------------


@query_fn(
    "sim_binary_hamming",
    oracle=f"""
WITH {_O_ELEMENTS},
words AS (
  SELECT vid, CAST((pos - 1) // 32 AS INTEGER) AS w,
         CAST(SUM(CASE WHEN val >= 0
                       THEN (CAST(1 AS BIGINT) << ((pos - 1) % 32))
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS word
  FROM el GROUP BY 1, 2
),
packed AS (
  SELECT vid,
         MAX(CASE WHEN w = 0 THEN word END) AS w0,
         MAX(CASE WHEN w = 1 THEN word END) AS w1
  FROM words GROUP BY vid
),
pr AS (SELECT * FROM packed WHERE vid % 100 = 0),
ham AS (
  SELECT pr.vid AS qid, c.vid AS cid,
         CAST(bit_count(xor(pr.w0, c.w0))
              + bit_count(xor(pr.w1, c.w1)) AS INTEGER) AS hamming
  FROM pr JOIN packed c ON c.vid != pr.vid
),
short AS (
  SELECT qid, cid, hamming,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, cid)
              AS INTEGER) AS rank
  FROM ham QUALIFY rank <= 10
),
dots AS (
  SELECT s.qid, s.cid,
         CAST(SUM(CAST(FLOOR(a.val * b.val * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
           AS dot
  FROM short s
  JOIN el a ON a.vid = s.qid
  JOIN el b ON b.vid = s.cid AND b.pos = a.pos
  GROUP BY 1, 2
)
SELECT s.qid AS query_id, s.cid AS neighbor_id, s.hamming, s.rank,
       d.dot / NULLIF(nq.norm * nc.norm, 0.0e0) AS cosine
FROM short s
JOIN dots d ON d.qid = s.qid AND d.cid = s.cid
JOIN nrm nq ON nq.vid = s.qid
JOIN nrm nc ON nc.vid = s.cid
ORDER BY query_id, rank
""",
)
def sim_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign quantization + Hamming top-10 with exact cosine
    rerank annotation: a 64-dim float vector becomes 64 sign bits (8
    bytes — a ~32x bandwidth cut over float scans) and distance
    becomes a count of differing bits, pure integer ops that
    hash-match cross-engine with no snapping at all
    (operators/similarity.hamming_topk; the oracle packs the bits into
    two BIGINT words and XOR+popcounts them)."""
    from ..operators.similarity import hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return hamming_topk(emb, probes, k=10).orderBy("query_id", "rank")

# ---------------------------------------------------------------------------
# maximal duplicated passages (adjacency-merged spans, k = 5, df >= 2)
# ---------------------------------------------------------------------------


@query_fn(
    "dedup_max_dup_spans",
    oracle=f"""
WITH {_O_DUP_SPANS},
m AS (
  SELECT doc_id, i, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
  FROM dp
),
isl AS (
  SELECT doc_id, i, e,
         SUM(CASE WHEN pe IS NULL OR i > pe + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM m
),
spans AS (
  SELECT doc_id, CAST(MIN(i) AS INTEGER) AS span_start,
         CAST(MAX(e) AS INTEGER) AS span_end
  FROM isl GROUP BY doc_id, isl_id
)
SELECT s.doc_id, span_start, span_end,
       CAST(span_end - span_start + 1 AS INTEGER) AS span_len,
       array_to_string(t[span_start:span_end], ' ') AS span_text
FROM spans s JOIN toks USING (doc_id)
ORDER BY doc_id, span_start
""",
)
def dedup_max_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated passages (adjacency-merged spans of
    cross-document repeated 5-grams) with the passage text —
    operators/dedup.maximal_dup_spans; every row's maximality is
    property-pinned in tests."""
    from ..operators.dedup import maximal_dup_spans

    docs = load_table(spark, sf_dir, "documents")
    return maximal_dup_spans(docs, k=_RN_K, min_docs=2).orderBy(
        "doc_id", "span_start"
    )

# ---------------------------------------------------------------------------
# per-domain token quotas (C4/RefinedWeb-style volume caps)
# ---------------------------------------------------------------------------

_QUOTA_CAP = 800


@query_fn(
    "corpus_domain_quota",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split({_O_NORM}, ' ')) AS INTEGER) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
),
b AS (
  SELECT doc_id, source, n_tokens,
         ({_O_HEXV.format(i=1)} * 256
          + {_O_HEXV.format(i=2)} * 16
          + {_O_HEXV.format(i=3)}) AS bucket
  FROM d
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY bucket, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM b
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {_QUOTA_CAP}
ORDER BY doc_id
""",
)
def corpus_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token caps (≤ 800 tokens per domain) with
    deterministic smallest-hash retention
    (operators/split.domain_token_quota) — the volume-control half of
    the mixing story whose rate half is ``corpus_temperature_mixture``:
    temperature weights decide how much of each domain you WANT,
    quotas bound how much any domain may SUPPLY."""
    from ..operators.dedup import token_table
    from ..operators.split import domain_token_quota

    docs = load_table(spark, sf_dir, "documents")
    toks = token_table(docs).select(
        "doc_id", F.size("toks").cast("int").alias("n_tokens")
    )
    d = docs.select("doc_id", "source").join(toks, "doc_id")
    return domain_token_quota(d, cap_tokens=_QUOTA_CAP).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# MMR diversity selection (r11): greedy maximal marginal relevance
# ---------------------------------------------------------------------------

_MMR_K = 10


def _o_mmr_level(t: int) -> str:
    """One greedy MMR step as CTEs: dots of every candidate against
    the cumulative selected set, per-candidate max similarity, argmax
    of 0.5·rel − 0.5·maxsim (ties → smaller vid), selected-set union —
    the same materialized-ladder idiom as the BPE and Lloyd oracles."""
    return f"""
d{t} AS MATERIALIZED (
  SELECT b.vid AS cid, a.vid AS sid,
         CAST(SUM(CAST(FLOOR(a.val * b.val * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
           AS dot
  FROM el a JOIN el b ON b.pos = a.pos AND b.vid != 0
  WHERE a.vid IN (SELECT vid FROM selu{t - 1})
  GROUP BY 1, 2
),
mx{t} AS MATERIALIZED (
  SELECT d.cid AS vid,
         MAX(d.dot / NULLIF(ns.norm * nc.norm, 0.0)) AS maxsim
  FROM d{t} d
  JOIN nrm ns ON ns.vid = d.sid
  JOIN nrm nc ON nc.vid = d.cid
  GROUP BY 1
),
s{t} AS MATERIALIZED (
  SELECT r.vid, r.rel, m.maxsim,
         0.5e0 * r.rel - 0.5e0 * m.maxsim AS score, {t} AS rnk
  FROM relt r JOIN mx{t} m ON m.vid = r.vid
  WHERE r.vid NOT IN (SELECT vid FROM selu{t - 1})
  QUALIFY row_number() OVER (ORDER BY score DESC, r.vid) = 1
),
selu{t} AS MATERIALIZED (SELECT vid FROM selu{t - 1} UNION ALL SELECT vid FROM s{t})"""


# local MATERIALIZED twin of _O_ELEMENTS: the greedy ladder references
# el/nrm/selu at every level, and DuckDB's default CTE inlining is
# exponential in reference count (the BPE-ladder lesson) — without
# MATERIALIZED the sf0.001 run exhausts file handles re-opening the
# parquet per inlined reference
_O_MMR_ELEMENTS = _O_ELEMENTS.strip().replace(
    "el AS (", "el AS MATERIALIZED (", 1
).replace("nrm AS (", "nrm AS MATERIALIZED (", 1)
# fail HERE if _O_ELEMENTS was reformatted and the surgery no-opped —
# the alternative is a distant DuckDB file-handle exhaustion (r11
# review finding).  Explicit raise, not assert: python -O strips
# asserts, which is exactly the configuration where the distant
# failure would silently return (r11 advisor finding).
for _marker in ("el AS MATERIALIZED (", "nrm AS MATERIALIZED ("):
    if _marker not in _O_MMR_ELEMENTS:
        raise RuntimeError(
            f"MMR oracle CTE surgery no-opped: {_marker!r} not found — "
            "_O_ELEMENTS was reformatted; fix the replace() targets in "
            "_O_MMR_ELEMENTS or the DuckDB run will exhaust file handles"
        )

_O_MMR = f"""
WITH {_O_MMR_ELEMENTS},
q AS MATERIALIZED (SELECT pos, val FROM el WHERE vid = 0),
qn AS (
  SELECT sqrt(CAST(SUM(CAST(FLOOR(val * val * 1e6) AS BIGINT)) AS DOUBLE) / 1e6)
    AS norm
  FROM q
),
relt AS MATERIALIZED (
  SELECT c.vid,
         (CAST(SUM(CAST(FLOOR(q.val * c.val * 1e6) AS BIGINT)) AS DOUBLE) / 1e6)
           / NULLIF((SELECT norm FROM qn) * n.norm, 0.0) AS rel
  FROM q JOIN el c ON c.pos = q.pos AND c.vid != 0
  JOIN nrm n ON n.vid = c.vid
  WHERE n.norm > 0
  GROUP BY c.vid, n.norm
),
s1 AS MATERIALIZED (
  SELECT vid, rel, 0.0e0 AS maxsim,
         0.5e0 * rel - 0.5e0 * 0.0e0 AS score, 1 AS rnk
  FROM relt
  QUALIFY row_number() OVER
    (ORDER BY 0.5e0 * rel - 0.5e0 * 0.0e0 DESC, vid) = 1
),
selu1 AS MATERIALIZED (SELECT vid FROM s1),
{",".join(_o_mmr_level(t).strip() for t in range(2, _MMR_K + 1))}
SELECT CAST(rnk AS INTEGER) AS rank, CAST(vid AS BIGINT) AS vec_id,
       rel AS relevance, maxsim AS max_sim_selected, score AS mmr_score
FROM ({" UNION ALL ".join(f"SELECT * FROM s{t}" for t in range(1, _MMR_K + 1))})
ORDER BY rank
"""


@query_fn("mmr_diverse_select", oracle=_O_MMR)
def mmr_diverse_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximal-marginal-relevance selection of 10 vectors
    against the vec_id-0 query embedding at λ=0.5
    (operators/similarity.mmr_select) — the diverse-subset primitive
    for few-shot/eval-set construction and coreset-style pruning.
    The oracle replays all ten greedy steps as a materialized CTE
    ladder (per-step candidate×selected snapped-cosine max, argmax
    with (score DESC, vid) ties) — decision-by-decision, like the BPE
    and Lloyd ladders, so the sequential greedy itself is
    hash-verified, not just the final set."""
    from ..operators.similarity import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).head()
    if qrow is None:
        raise ValueError(
            "mmr_diverse_select: query anchor vec_id=0 missing from "
            f"{sf_dir}/embeddings.parquet"
        )
    qvec = list(qrow["embedding"])
    return mmr_select(
        emb, qvec, k=_MMR_K, lam=0.5, exclude_ids=[0]
    ).orderBy("rank")
