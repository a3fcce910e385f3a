"""Corpus-level quality and hygiene operators for training-data
pipelines: n-gram repetition filtering (Gopher-style) and benchmark
contamination detection.

Reference parity: the reference (a BI warehouse) has no corpus
surface; these belong to the LLM-data-pipeline extension mandate
alongside operators/dedup.py and operators/curation.py.

Scale design (100 TB):

* Repetition stats shuffle on (doc_id, gram) — a key that is unique
  per document times a bounded gram vocabulary, so partial (map-side)
  aggregation collapses each document's gram counts before the
  exchange; the second aggregate is a per-doc max over already-tiny
  groups. No self-joins, no windows over the corpus.
* Contamination NEVER shuffles the training corpus: the benchmark
  (eval) shingle set is small by construction — benchmark suites are
  MBs against a 100 TB corpus — so it is broadcast to the train scan,
  which emits only matching shingles (map-side semi-join). The
  distinct on the matches is bounded by the benchmark shingle count,
  not the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.text import normalize_text, shingles_of_tokens, tokens_ws


def _gram_top_counts(toked: DataFrame, k: int) -> DataFrame:
    """(doc_id, top{k}_count) — occurrences of the single most frequent
    k-gram per document (NOT set-deduped: repetition needs raw
    frequencies, unlike the dedup shingle table)."""
    grams = toked.select(
        "doc_id", F.explode(shingles_of_tokens(F.col("toks"), k)).alias("g")
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy("doc_id").agg(F.max("c").alias(f"top{k}_count"))


def repetition_stats(
    docs: DataFrame,
    max_top2_frac: float = 0.20,
    max_top3_frac: float = 0.18,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram repetition features + keep/drop flag.

    The Gopher-rule family: a document whose most frequent 2-gram
    (3-gram) covers more than `max_top2_frac` (`max_top3_frac`) of its
    tokens is machine-generated boilerplate with high probability.
    Fractions are token-coverage: top-k-gram count × k / n_tokens.

    Documents with fewer than k tokens have no k-grams and count as
    fraction 0 (they pass; length floors are a separate filter).
    """
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_ws(normalize_text(F.col(text_col))).alias("toks"),
    )
    base = toked.select("doc_id", F.size("toks").alias("n_tokens"))
    top2 = _gram_top_counts(toked, 2)
    top3 = _gram_top_counts(toked, 3)
    n = F.col("n_tokens").cast("double")
    frac2 = F.coalesce(F.col("top2_count"), F.lit(0)) * 2 / n
    frac3 = F.coalesce(F.col("top3_count"), F.lit(0)) * 3 / n
    return (
        base.join(top2, "doc_id", "left")
        .join(top3, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("top2_count"), F.lit(0)).alias("top2_count"),
            frac2.alias("top2_frac"),
            F.coalesce(F.col("top3_count"), F.lit(0)).alias("top3_count"),
            frac3.alias("top3_frac"),
            (
                (frac2 <= F.lit(max_top2_frac)) & (frac3 <= F.lit(max_top3_frac))
            ).alias("pass_repetition"),
        )
    )


def contamination_check(
    docs: DataFrame,
    eval_stride: int = 25,
    k: int = 5,
    flag_threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination rates: for each eval document, the
    fraction of its distinct k-token shingles that appear anywhere in
    the training split.

    The eval split is the deterministic subset ``id % eval_stride == 0``
    (standing in for a benchmark suite); everything else is train.
    Documents with fewer than k tokens have no shingles and are not
    scored.

    Plan shape: eval shingles are broadcast against the train scan
    (map-side semi-join emitting only hits), so the training corpus is
    never shuffled — the only exchanges are over sets bounded by the
    benchmark size.
    """
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_ws(normalize_text(F.col(text_col))).alias("toks"),
    )
    sh = toked.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_of_tokens(F.col("toks"), k))
        ).alias("s"),
    )
    is_eval = F.col("doc_id") % eval_stride == 0
    eval_sh = sh.filter(is_eval)
    train_sh = sh.filter(~is_eval)
    hit_set = (
        train_sh.join(
            F.broadcast(eval_sh.select("s").distinct()), "s", "left_semi"
        )
        .select("s")
        .distinct()
    )
    scored = eval_sh.join(
        F.broadcast(hit_set.withColumn("hit", F.lit(1))), "s", "left"
    )
    rate: Column = F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        rate.alias("contamination_rate"),
        (rate >= F.lit(flag_threshold)).alias("flag_contaminated"),
    )


def char_entropy_stats(
    docs: DataFrame,
    min_entropy: float = 3.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) over the
    normalized text, plus a low-entropy drop flag — the cheap
    compression-ratio proxy of Gopher/RefinedWeb-class quality
    filtering (repetitive machine junk compresses well = low char
    entropy; natural English sits near ~4 nats/char).

    (doc_id, n_chars, entropy, pass_entropy).

    Exactness: H = Σ_c (n_c/n)·ln(n/n_c) is computed with the
    log-space snap (operators/selection.py): each per-character term
    ``FLOOR((ln n − ln n_c)·1e6)`` is a BIGINT over integer counts, so
    the weighted sum is exact integer arithmetic and the final
    division is one deterministic float op — layout- and
    engine-independent (same recipe as ``text_lm_perplexity``).

    Scale: the char-frequency aggregate keys on (doc, char) — bounded
    by alphabet size per doc, partial-aggregated map-side; per-doc
    totals come from a window over the counts table (alphabet-sized),
    never a second corpus scan.
    """
    from .selection import LOG_SCALE, _log_term

    chars = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), "")).alias("c"),
    )
    counts = chars.groupBy("doc_id", "c").agg(
        F.count(F.lit(1)).alias("n_c")
    )
    w = W.partitionBy("doc_id")
    terms = counts.withColumn("n", F.sum("n_c").over(w)).select(
        "doc_id",
        "n",
        (_log_term(F.col("n"), F.col("n_c")) * F.col("n_c")).alias("t"),
    )
    ent = F.col("t_sum").cast("double") / F.col("n") / F.lit(
        float(LOG_SCALE)
    )
    return (
        terms.groupBy("doc_id", "n")
        .agg(F.sum("t").alias("t_sum"))
        .select(
            "doc_id",
            F.col("n").alias("n_chars"),
            ent.alias("entropy"),
            (ent >= F.lit(min_entropy)).alias("pass_entropy"),
        )
    )


def contamination_bloom_report(
    docs: DataFrame,
    eval_stride: int = 25,
    k: int = 5,
    flag_threshold: float = 0.2,
    m_bits: int = 1 << 18,
    n_hashes: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train-side decontamination THROUGH a Bloom filter over the eval
    split's shingles, with exact verification of the positives and
    per-document false-positive accounting.

    Same eval/train framing as :func:`contamination_check`, but
    membership is asked of an O(m_bits) bitmap instead of the eval
    shingle set: at 100 TB a benchmark suite's shingles are GBs while
    the bloom stays kilobytes — and no-false-negatives means the
    exact verify join only has to confirm bloom-POSITIVE shingles, so
    the result is exact while the expensive membership join is pruned
    by the filter (the runtime-filter shape). ``n_false_positives``
    is the honesty meter for the m/k sizing.

    (doc_id, n_shingles, n_bloom_hits, n_true_hits,
    n_false_positives, flag_contaminated) — one row per train doc
    with ≥ 1 shingle.

    The per-doc shingle table feeds three consumers through unlike
    paths (eval-set distinct → bloom build, eval-set broadcast for
    the verify, train probe), so it is pinned — the re-derived
    subtree is the corpus tokenize, which is scan-bound at crawl
    scale. Measured sf0.1 interleaved best-of-3: pinned 2.17s vs
    unpinned 2.08s — a wash warm at this SF (same as the multi-signal
    tokens pin), kept because at crawl scale the two saved corpus
    scans dominate.
    """
    from .caching import eager_pin, pin
    from .sketches import bloom_build, bloom_probe

    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_ws(normalize_text(F.col(text_col))).alias("toks"),
    )
    sh = pin(
        toked.select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles_of_tokens(F.col("toks"), k))
            ).alias("s"),
        )
    )
    is_eval = F.col("doc_id") % eval_stride == 0
    eval_set = sh.filter(is_eval).select("s").distinct()
    # the bitmap is ≤ m/32 rows but each of the k probe joins
    # broadcasts its own ALIASED copy (renamed columns -> non-identical
    # plans -> no broadcast-exchange reuse), so without a pin the
    # bloom-build aggregate executes once PER PROBE JOIN per probed
    # materialization — the kilobyte table is always pinned, and
    # EAGERLY (r13): AQE submits the k broadcast builds concurrently,
    # so a lazy pin raced — all four builds found the cache cold and
    # each re-ran the full eval-side build aggregate (4× the eval
    # corpus scan at 100 TB); one bounded materialization job turns
    # them into cache reads
    bloom = eager_pin(bloom_build(eval_set, "s", m_bits, n_hashes))
    probed = bloom_probe(
        sh.filter(~is_eval), "s", bloom, m_bits, n_hashes, "bloom_hit"
    )
    # the exact verify touches ONLY the bloom-positive slice — the
    # runtime-filter shape this operator exists for: the slice is
    # |true hits| + |false positives| rows, so at scale the verify
    # join's probe side is benchmark-sized, not corpus-sized, and can
    # be a plain shuffle join when the eval set outgrows broadcast
    # (no false negatives means nothing is lost by the pruning).
    # probed feeds BOTH the totals aggregate and the verify slice, and
    # its k word-joins re-execute per consumer without a pin (measured
    # sf0.1 interleaved best-of-3: unpinned 8.1s vs pinned 3.3s vs the
    # unpruned single-pass 2.9s — the pruned shape costs ~15% here and
    # wins at scale where the verify join dominates).
    probed = pin(probed)
    totals = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
    )
    true_hits = (
        probed.filter(F.col("bloom_hit"))
        .join(F.broadcast(eval_set), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_true_hits"))
    )
    th = F.coalesce(F.col("n_true_hits"), F.lit(0))
    return totals.join(true_hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        "n_bloom_hits",
        th.alias("n_true_hits"),
        (F.col("n_bloom_hits") - th).alias("n_false_positives"),
        (
            th.cast("double") / F.col("n_shingles")
            >= F.lit(flag_threshold)
        ).alias("flag_contaminated"),
    )


def boilerplate_chunks(
    docs: DataFrame,
    chunk_tokens: int = 20,
    min_doc_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Repeated-segment (boilerplate) detection and removal: split each
    document into fixed-size token chunks, hash them, and strip every
    chunk that appears in >= `min_doc_df` DISTINCT documents (headers,
    footers, licence blocks, mirrored passages — the segment-level
    complement of whole-doc dedup; cf. the paragraph filters of
    RefinedWeb/Gopher-class curation pipelines).

    Output: (doc_id, n_chunks, n_boilerplate, clean_text) — clean_text
    is the surviving chunks rejoined in order ('' when everything was
    boilerplate).

    Scale design (100 TB):
    * chunking is ARRAY-NATIVE and map-side (transform over a
      sequence of slice()s — no explode until the chunk table, whose
      rows are corpus_tokens/chunk_tokens, ~20x smaller than a token
      table);
    * the doc-frequency aggregate shuffles the chunk table once on
      the chunk hash with map-side partial aggregation;
    * the boilerplate hash set (df >= threshold) is tiny by
      construction — boilerplate is repeated content — and broadcasts
      back as a LEFT ANTI, so the reconstruction shuffle keys on
      doc_id only.
    """
    k = int(chunk_tokens)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_ws(normalize_text(F.col(text_col))).alias("toks"),
    ).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, cast(ceil(size(toks)/{k}.0) as int) - 1),"
            f" i -> array_join(slice(toks, i*{k}+1, {k}), ' '))"
        ).alias("chunks"),
    )
    # seg feeds three consumers through DIFFERENT paths (the hash-df
    # aggregate, the anti-join probe side, the per-doc totals), so the
    # tokenize+chunk pipeline is pinned — ReuseExchange cannot share
    # map-side work across unlike exchanges (SCALE.md refined rule)
    from .caching import pin

    seg = pin(
        base.select(
            "doc_id",
            F.size("chunks").alias("n_chunks"),
            F.posexplode("chunks").alias("chunk_idx", "chunk_text"),
        ).withColumn("h", F.md5("chunk_text"))
    )
    boiler = (
        seg.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("doc_df"))
        .filter(F.col("doc_df") >= min_doc_df)
        .select("h")
    )
    kept = seg.join(F.broadcast(boiler), "h", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda s: s.chunk_text,
            ),
        ).alias("clean_text"),
    )
    # every document has >= 1 chunk row, so per-doc totals come from
    # seg itself — no third scan of the corpus
    totals = seg.groupBy("doc_id").agg(F.first("n_chunks").alias("n_chunks"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_chunks").cast("int").alias("n_chunks"),
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_boilerplate"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping fixed-size token windows per document — the
    retrieval/embedding chunking pass of a RAG or embedding-index
    pipeline: (doc_id, chunk_idx, chunk_text, n_tokens, chunk_hash).

    Windows start every ``chunk_tokens - overlap`` tokens; the last
    window may be short; a document shorter than one window yields
    exactly one chunk. Chunk count = max(1, ceil((n - overlap) /
    stride)), so every token belongs to at least one chunk and
    consecutive chunks share ``overlap`` tokens.

    Entirely MAP-SIDE (array slice + inline explode — no shuffle at
    all until a downstream consumer aggregates), so chunking 100 TB is
    a pure scan: the fan-out is rows × chunks-per-doc with no exchange.
    """
    c, o = int(chunk_tokens), int(overlap)
    if not 0 <= o < c:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {o}, {c}")
    s = c - o
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_ws(normalize_text(F.col(text_col))).alias("toks"),
    ).select("doc_id", "toks", F.size("toks").alias("n"))
    k = F.greatest(
        F.lit(1),
        F.ceil((F.col("n") - F.lit(o)) / F.lit(s)).cast("int"),
    )
    chunk_structs = F.expr(
        f"transform(sequence(0, k - 1), i -> struct("
        f"i AS chunk_idx,"
        f" array_join(slice(toks, i*{s}+1, {c}), ' ') AS chunk_text,"
        f" least({c}, n - i*{s}) AS n_tokens))"
    )
    return (
        base.withColumn("k", k)
        .select("doc_id", F.inline(chunk_structs))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "chunk_text",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.md5("chunk_text").alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# cross-corpus segment ("line") dedup — the C4 recipe
# ---------------------------------------------------------------------------


def line_dedup(
    docs: DataFrame,
    seg_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-corpus line dedup: segment every document into
    fixed-width token "lines", keep only the FIRST occurrence of each
    distinct segment corpus-wide (order = (doc_id, position)), and
    re-assemble each document from its surviving segments.

    (C4 deduplicates three-sentence spans across the whole corpus;
    the testdata has no sentence boundaries, so the fixed token window
    is the deterministic stand-in — the pipeline shape is identical.)

    Returns (doc_id, clean_text, n_segments, n_removed) for EVERY
    input document (a fully-duplicated document survives with empty
    text and n_removed = n_segments — the caller decides whether to
    drop it).

    Scale design: segmentation is a map-side `transform` over the
    bound token array (no shuffle, linear fan-out of ~len/seg_tokens
    rows per doc); keep-first is ONE window over the md5(segment) key
    (narrow rows: hash + doc + position); re-assembly sorts each
    document's own kept segments map-side (`array_sort` over collected
    structs, bounded by document length — never a global sort). Total:
    two exchanges (segment-hash window, per-doc gather).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_ws(normalize_text(F.col(text_col))).alias("t"),
    )
    # >= 1 segment even for an empty/whitespace doc: sequence(0, -1)
    # would COUNT DOWN (negative default step), not produce empty
    n_segs = F.greatest(
        F.ceil(F.size("t") / F.lit(seg_tokens)).cast("int"), F.lit(1)
    )
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("t"), i * seg_tokens + 1, seg_tokens)
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    w = W.partitionBy(F.md5(F.col("seg"))).orderBy("doc_id", "seg_idx")
    marked = segs.withColumn(
        "kept", F.row_number().over(w) == F.lit(1)
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_segments"),
            F.sum((~F.col("kept")).cast("int")).cast("int").alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"),
                                F.struct(
                                    F.col("seg_idx").alias("i"),
                                    F.col("seg").alias("s"),
                                ),
                            )
                        )
                    ),
                    lambda st: st["s"],
                ),
            ).alias("clean_text"),
        )
    )
