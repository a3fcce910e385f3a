"""Tokenizer-prep & projection registry queries (round 5, batch 4):
vocabulary coverage, character-entropy quality scoring, and
Johnson–Lindenstrauss random projection.

All three extend the LLM-pipeline surface (the reference has no text
or embedding layer): vocab/OOV is the measurement pass before fixing
a tokenizer vocabulary, char entropy is the compression-proxy quality
filter of Gopher/RefinedWeb-class curation, and the ±1 JL projection
is the cheap dimensionality cut ahead of ANN/dedup passes. Each is
hash-exact: OOV counts are integers, entropy uses the per-term
log-snap (operators/selection.py), and projections are exact integer
sums over once-snapped elements with an arithmetic sign matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .pipeline_queries import _O_ELEMENTS, _O_HEXV, _O_NORM
from .queries import query_fn

# ---------------------------------------------------------------------------
# vocabulary coverage / OOV-rate report
# ---------------------------------------------------------------------------

_VOCAB_V = 500


@query_fn(
    "corpus_vocab_coverage",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split({_O_NORM}, ' ') AS t FROM documents
),
occ AS (SELECT doc_id, unnest(t) AS w FROM toks),
dfreq AS (
  SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM occ GROUP BY 1
),
vocab AS (SELECT w FROM dfreq ORDER BY df DESC, w LIMIT {_VOCAB_V}),
scored AS (
  SELECT o.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM occ o LEFT JOIN vocab v ON o.w = v.w
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""",
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus-induced top-500
    document-frequency vocabulary (ties broken by token, so the
    boundary cut is deterministic) — the coverage measurement a
    tokenizer-prep pass runs before fixing a vocab. The induced vocab
    is V rows and BROADCASTS to the scoring scan; the corpus is never
    reshuffled to be scored (operators/vocab.py).

    The occurrence table is the ONE corpus scan both the induction
    aggregate and the scoring join read (unlike exchanges —
    ReuseExchange cannot share them), so it is pinned: sf0.1
    interleaved best-of-3 measured pinned 0.77s vs unpinned 1.00s.
    """
    from ..operators.caching import pin
    from ..operators.vocab import (
        induce_vocab_from_occ,
        occurrences,
        oov_report_from_occ,
    )

    docs = load_table(spark, sf_dir, "documents")
    occ = pin(occurrences(docs))
    return oov_report_from_occ(
        occ, induce_vocab_from_occ(occ, _VOCAB_V)
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# character-entropy quality filter
# ---------------------------------------------------------------------------

_ENT_MIN = 3.0


@query_fn(
    "text_char_entropy",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, {_O_NORM} AS t FROM documents
),
chars AS (
  SELECT doc_id, unnest(string_split(t, '')) AS c FROM norm
),
counts AS (
  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n_c
  FROM chars GROUP BY 1, 2
),
tot AS (
  SELECT doc_id, n_c,
         CAST(SUM(n_c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM counts
),
terms AS (
  SELECT doc_id, n,
         CAST(FLOOR((ln(CAST(n AS DOUBLE)) - ln(CAST(n_c AS DOUBLE)))
                    * 1e6) AS BIGINT) * n_c AS t
  FROM tot
)
SELECT doc_id,
       n AS n_chars,
       CAST(SUM(t) AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS entropy,
       (CAST(SUM(t) AS DOUBLE) / CAST(n AS DOUBLE) / 1e6) >= {_ENT_MIN}e0
         AS pass_entropy
FROM terms
GROUP BY doc_id, n
ORDER BY doc_id
""",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy (nats) per document with the
    low-entropy drop flag — the compression-ratio proxy filter.
    Per-character log terms are FLOOR-snapped to integers before the
    weighted sum, so the entropy is exact integer arithmetic divided
    once (operators/corpus_quality.py char_entropy_stats)."""
    from ..operators.corpus_quality import char_entropy_stats

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy_stats(docs, _ENT_MIN).orderBy("doc_id")


# ---------------------------------------------------------------------------
# JL random projection
# ---------------------------------------------------------------------------

_RP_DOUT = 16


@query_fn(
    "embedding_random_projection",
    oracle=f"""
WITH {_O_ELEMENTS},
sgn AS (
  SELECT i, j, hx FROM (
    SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j,
           md5(CAST(i.i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)) AS hx
    FROM range(0, 64) i(i) CROSS JOIN range(0, {_RP_DOUT}) j(j)
  )
),
signs AS (
  SELECT i, j,
         CASE WHEN {_O_HEXV.format(i=1)} < 8 THEN 1 ELSE -1 END AS sign
  FROM sgn
),
ei AS (
  SELECT vid, CAST(pos - 1 AS INTEGER) AS i,
         CAST(FLOOR(val * 1e6) AS BIGINT) AS e
  FROM el
)
SELECT vid AS vec_id, j, CAST(SUM(e * sign) AS BIGINT) AS proj
FROM ei JOIN signs USING (i)
GROUP BY 1, 2
ORDER BY vec_id, j
""",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64→16-dim ±1 random projection of the embedding corpus
    (Achlioptas JL), long form (vec_id, j, proj) with exact integer
    coordinates. The sign matrix is arithmetic (md5 hex digit), so no
    matrix state ships anywhere and any engine regenerates the
    identical projection (operators/similarity.py random_projection)."""
    from ..operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        random_projection(emb, _RP_DOUT)
        .select(F.col("vid").alias("vec_id"), "j", "proj")
        .orderBy("vec_id", "j")
    )

# ---------------------------------------------------------------------------
# BPE iteration-1 merge statistics (tokenizer training prep)
# ---------------------------------------------------------------------------

_BPE_TOP = 20


@query_fn(
    "bpe_top_pairs",
    oracle=f"""
WITH toks AS (
  SELECT string_split({_O_NORM}, ' ') AS t FROM documents
),
words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
),
pos AS (
  SELECT w, freq, unnest(range(1, len(w))) AS i
  FROM words WHERE len(w) >= 2
),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
         substr(w, CAST(i AS INTEGER) + 1, 1) AS b,
         CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM pos GROUP BY 1, 2
),
ranked AS (
  SELECT a, b, pair_count,
         CAST(row_number() OVER (ORDER BY pair_count DESC, a, b)
              AS INTEGER) AS rank
  FROM pairs
)
SELECT a, b, pair_count, rank, rank = 1 AS is_selected_merge
FROM ranked WHERE rank <= {_BPE_TOP}
ORDER BY rank
""",
)
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iteration-1 BPE merge statistics: the top adjacent character
    pairs over the corpus word-frequency table, rank 1 being the pair
    a BPE trainer would merge first (Sennrich-style; the full trainer
    is operators/vocab.bpe_train, property-tested against a
    pure-Python reference).

    Scale shape: the corpus is scanned ONCE into the (word, freq)
    vocabulary table; pair counting and every later merge iteration
    run over word TYPES weighted by frequency — vocabulary-sized work,
    never corpus-sized.
    """
    from pyspark.sql import Window as W

    from ..operators.vocab import bpe_pair_counts, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    pairs = bpe_pair_counts(word_frequencies(docs))
    w = W.orderBy(F.desc("pair_count"), "a", "b")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BPE_TOP)
        .select(
            "a", "b", "pair_count", "rank",
            (F.col("rank") == 1).alias("is_selected_merge"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# full BPE: train N merges, then encode the corpus with them
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def _bpe_doc_stats(docs: DataFrame, encoded: DataFrame) -> DataFrame:
    """Per-document (n_words, n_chars, n_tokens, compression_ratio)
    under a trained tokenizer's encoded word map ``encoded``
    (w0 = original word, w = its symbol string after every merge).

    Scale shape: the word map is VOCABULARY-sized, so it broadcasts to
    the one (doc_id, w) occurrence scan and per-doc stats are one
    aggregate — documents are never re-segmented.  At 100 TB that is
    one corpus scan for the word table and one for the occurrence
    join.  Exactness: token/char counts are integers; the ratio is one
    int/int IEEE division, identical in both engines."""
    from ..operators.vocab import occurrences

    encmap = encoded.select(
        F.col("w0").alias("w"), F.length("w").alias("n_sym")
    )
    return (
        occurrences(docs)
        .join(F.broadcast(encmap), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("n_chars"),
            F.sum("n_sym").alias("n_tokens"),
            (
                F.sum(F.length("w")) / F.sum("n_sym")
            ).alias("compression_ratio"),
        )
        .orderBy("doc_id")
    )


def _o_bpe_ctes(n: int, offset: int = 0, materialized: bool = False) -> str:
    """DuckDB replay of the BPE trainer (operators/vocab.bpe_train):
    iteration i counts adjacent symbol pairs over the CURRENT
    re-segmentation of the (word, freq) vocabulary, picks the top pair
    (count desc, then a, b — the trainer's tie-break), and re-segments
    by literal replace with the rank-i private-use symbol.  The
    trainer updates its counts incrementally where this replay
    recounts every level in full; the decisions are the same.
    Because every symbol is exactly one character, greedy
    left-to-right merge IS non-overlapping string replace in both
    engines.

    ``materialized`` emits AS MATERIALIZED on every CTE — REQUIRED for
    deep ladders: each level references w{i-1} twice (p{i} and w{i}),
    so DuckDB's default CTE inlining doubles the plan per level (2^n
    copies — fine at 8, impossible at 200+); materialization makes the
    replay linear in n.  ``offset`` shifts symbol allocation the same
    way bpe_train's symbol_offset does."""
    from ..operators.vocab import bpe_new_symbol

    mat = " MATERIALIZED" if materialized else ""
    parts = [
        f"""w0 AS{mat} (
  SELECT w, w AS enc, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split({_O_NORM}, ' ')) AS w FROM documents)
  GROUP BY 1
)"""
    ]
    for i in range(1, n + 1):
        parts.append(f"""p{i} AS{mat} (
  SELECT substr(enc, CAST(i AS INTEGER), 1) AS a,
         substr(enc, CAST(i AS INTEGER) + 1, 1) AS b,
         CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT enc, freq, unnest(range(1, len(enc))) AS i
        FROM w{i - 1} WHERE len(enc) >= 2)
  GROUP BY 1, 2
)""")
        parts.append(
            f"m{i} AS{mat} (SELECT a, b, pair_count FROM p{i} "
            f"ORDER BY pair_count DESC, a, b LIMIT 1)"
        )
        # Vocabulary-collapse guard: if fewer than i merges exist,
        # m{i} is empty and the bare scalar subquery would be NULL —
        # replace(enc, NULL, sym) nulls every word.  COALESCE to the
        # EMPTY STRING: DuckDB's replace(s, '', x) treats an empty
        # needle as a no-op and returns s unchanged (verified on 1.0.0;
        # note this differs from e.g. Python's str.replace, which would
        # interleave x between every character), so the iteration
        # passes words through untouched, mirroring the trainer's
        # loop break.  ('' rather than a sentinel PUA char: under a
        # symbol offset ANY PUA codepoint can be a live merge symbol,
        # so a sentinel would false-replace past exhaustion.)  Kept as
        # ONE scalar subquery: with default inlining each extra
        # reference to w{i-1} per level multiplies the plan (a CASE
        # form with a second subquery made the 8-level chain 3^8
        # copies and hung); deep ladders additionally need
        # materialized=True (see docstring).
        parts.append(
            f"w{i} AS{mat} (SELECT w, replace(enc, "
            f"COALESCE((SELECT a || b FROM m{i}), ''), "
            f"'{bpe_new_symbol(i, offset)}') AS enc, freq FROM w{i - 1})"
        )
    return ",\n".join(parts)


def _bpe_merge_rows(n: int | None = None, offset: int = 0):
    from ..operators.vocab import bpe_new_symbol

    return "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS rank, a, b, "
        f"'{bpe_new_symbol(i, offset)}' AS new_symbol, pair_count FROM m{i}"
        for i in range(1, (n if n is not None else _BPE_MERGES) + 1)
    )


@query_fn(
    "bpe_train_merges",
    oracle=f"""
WITH {_o_bpe_ctes(_BPE_MERGES)}
SELECT * FROM (
{_bpe_merge_rows()}
)
ORDER BY rank
""",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE merge list itself: N=8 (a, b) -> new_symbol
    merges in training order with their pair counts — the artifact a
    tokenizer ships.  The trainer (operators/vocab.bpe_train) scans
    the corpus once and runs the Sennrich loop over word types; the
    oracle replays the SAME N iterations as chained CTEs, so the merge
    decisions (including tie-breaks) hash-match across engines.
    Integer counts and single-character symbols throughout — nothing
    float-dependent.
    """
    from ..operators.vocab import bpe_train, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(word_frequencies(docs), _BPE_MERGES)
    return spark.createDataFrame(
        merges, "rank int, a string, b string, new_symbol string, pair_count bigint"
    ).orderBy("rank")


@query_fn(
    "bpe_encode_corpus",
    oracle=f"""
WITH {_o_bpe_ctes(_BPE_MERGES)},
occ AS (
  SELECT doc_id, unnest(string_split({_O_NORM}, ' ')) AS w FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(o.w)) AS BIGINT) AS n_chars,
       CAST(SUM(len(e.enc)) AS BIGINT) AS n_tokens,
       CAST(SUM(len(o.w)) AS BIGINT) / CAST(SUM(len(e.enc)) AS BIGINT)
         AS compression_ratio
FROM occ o JOIN w{_BPE_MERGES} e USING (w)
GROUP BY doc_id
ORDER BY doc_id
""",
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode every document with the trained
    8-merge BPE and report per-doc token counts + compression ratio —
    the step that turns tokenizer prep into an actual distributed
    encoder.

    Scale shape: training touches the corpus once (see ``bpe_train``);
    encoding never re-segments documents at all (see
    :func:`_bpe_doc_stats`) — the merge loop costs corpus nothing.
    """
    from ..operators.vocab import bpe_train, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    _merges, encoded = bpe_train(word_frequencies(docs), _BPE_MERGES)
    return _bpe_doc_stats(docs, encoded)


# ---------------------------------------------------------------------------
# production-budget BPE: 32k merge budget, driver-side trainer
# ---------------------------------------------------------------------------

# The budget a production tokenizer ships with.  At test SFs the
# synthetic corpus EXHAUSTS (every word type collapses to one symbol)
# long before the budget — measured 89 merges at sf0.01 — so the query
# proves budget capacity + early termination, not 32k actual ranks.
_BPE_BIG_BUDGET = 32_000
# Symbol offset placing early ranks at the BMP-PUA tail: rank 51
# allocates U+F8FF's successor U+F0000 (plane 15), so the oracled run
# crosses the BMP -> supplementary boundary and the replay exercises
# len/substr/replace over surrogate-pair codepoints in BOTH engines —
# the exact parity risk the lifted 137,468-merge budget introduces.
_BPE_BIG_OFFSET = 6_350
# Oracle replay-ladder depth: must exceed merges-to-exhaustion on the
# driver's corpus (~2.5x headroom over the measured 89).  If a future
# testdata generation grows the vocabulary past this, the mismatch is
# LOUD (oracle returns _BPE_BIG_LEVELS rows, Spark returns more) —
# raise the constant, never silently truncate the Spark side.
_BPE_BIG_LEVELS = 220


@query_fn(
    "bpe_train_32k",
    oracle=f"""
WITH {_o_bpe_ctes(_BPE_BIG_LEVELS, offset=_BPE_BIG_OFFSET, materialized=True)}
SELECT * FROM (
{_bpe_merge_rows(_BPE_BIG_LEVELS, offset=_BPE_BIG_OFFSET)}
)
ORDER BY rank
""",
)
def bpe_train_32k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training at a PRODUCTION merge budget (32,000) — the merge
    list a real tokenizer would ship, trained by the driver-side
    incremental trainer (operators/vocab.bpe_train): one
    distributed corpus scan into the vocabulary-sized (word, freq)
    table, then the classic lazy-heap pair-count loop over word types,
    with symbols allocated from rank 6,351 so the run crosses the
    BMP-PUA -> plane-15 boundary (the lifted symbol space's parity
    risk, exercised under the hash oracle).

    The oracle replays the SAME training as a 220-level materialized
    CTE ladder (one pair-count + argmax + re-segment per level;
    AS MATERIALIZED keeps DuckDB's plan linear in depth where default
    inlining is exponential).  Beyond vocabulary exhaustion both
    sides terminate identically: the trainer's loop stops, and
    each exhausted oracle level's empty argmax COALESCEs to a no-op
    replace and contributes no merge row.  Decision parity (counts,
    tie-breaks, greedy replace, supplementary-symbol collation) is
    additionally property-pinned against the pure-Python trainer in
    tests/test_tokenizer_prep.py."""
    from ..operators.vocab import bpe_train, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(
        word_frequencies(docs), _BPE_BIG_BUDGET, symbol_offset=_BPE_BIG_OFFSET
    )
    return spark.createDataFrame(
        merges,
        "rank int, a string, b string, new_symbol string, pair_count bigint",
    ).orderBy("rank")


# Shared by bpe_encode_32k and bpe_encode_indexed: the artifact
# lifecycle MUST NOT change a token, so both queries replay against
# the identical oracle.
_O_BPE_ENCODE_32K = f"""
WITH {_o_bpe_ctes(_BPE_BIG_LEVELS, offset=_BPE_BIG_OFFSET, materialized=True)},
occ AS (
  SELECT doc_id, unnest(string_split({_O_NORM}, ' ')) AS w FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(o.w)) AS BIGINT) AS n_chars,
       CAST(SUM(len(e.enc)) AS BIGINT) AS n_tokens,
       CAST(SUM(len(o.w)) AS BIGINT) / CAST(SUM(len(e.enc)) AS BIGINT)
         AS compression_ratio
FROM occ o JOIN w{_BPE_BIG_LEVELS} e USING (w)
GROUP BY doc_id
ORDER BY doc_id
"""


@query_fn("bpe_encode_32k", oracle=_O_BPE_ENCODE_32K)
def bpe_encode_32k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoding under the PRODUCTION-budget tokenizer: train to
    the 32,000-merge budget with the driver-side trainer (to
    vocabulary exhaustion at test SFs), then score every document's
    token counts and compression ratio against the fully-trained merge
    list — the tokenizer-application half of `bpe_train_32k`, with the
    word→symbol-string map BROADCAST to the one occurrence scan
    exactly as `bpe_encode_corpus` does (training costs the corpus one
    scan; encoding never re-segments documents at all).

    len() over the encoded symbol strings counts supplementary-plane
    symbols as single characters in BOTH engines (the lifted symbol
    space's parity contract, pinned in tests) — at full exhaustion
    every word is ONE symbol, so n_tokens == n_words and the
    compression ratio degenerates to avg word length, which the hash
    oracle checks exactly rather than assumes."""
    from ..operators.vocab import bpe_train, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    _merges, encoded = bpe_train(
        word_frequencies(docs), _BPE_BIG_BUDGET, symbol_offset=_BPE_BIG_OFFSET
    )
    return _bpe_doc_stats(docs, encoded)


@query_fn("bpe_encode_indexed", oracle=_O_BPE_ENCODE_32K)
def bpe_encode_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-artifact form of `bpe_encode_32k`: train the
    32k-budget tokenizer once, SAVE it with
    operators/vocab.save_bpe_tokenizer (merge list + encoded word map
    + validated build-params meta — the ``build_ivf_index`` /
    ``build_dedup_index`` lifecycle applied to the tokenizer), then
    encode the corpus FROM THE LOADED ARTIFACT, never touching a
    trainer on the apply side.

    The oracle is bit-identical to `bpe_encode_32k`'s by construction
    — persisting and reloading the tokenizer may not change a token.
    The returned plan is the production encode shape, pytest-gated in
    tests/test_tokenizer_prep.py: ONE documents scan joined (broadcast)
    against the vocabulary-sized words parquet of the artifact — no
    training jobs, no corpus-sized shuffle other than the per-doc
    aggregate."""
    from ..operators.vocab import (
        bpe_train,
        load_bpe_tokenizer,
        save_bpe_tokenizer,
        word_frequencies,
    )
    from .streaming_queries import _fresh_result_dir

    docs = load_table(spark, sf_dir, "documents")
    tok_dir = _fresh_result_dir("bpe_tokenizer_32k")
    merges, encoded = bpe_train(
        word_frequencies(docs), _BPE_BIG_BUDGET, symbol_offset=_BPE_BIG_OFFSET
    )
    save_bpe_tokenizer(
        merges, encoded, tok_dir, _BPE_BIG_BUDGET, symbol_offset=_BPE_BIG_OFFSET
    )
    _merges, words, _meta = load_bpe_tokenizer(spark, tok_dir)
    return _bpe_doc_stats(docs, words)
