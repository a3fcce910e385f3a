"""End-to-end training-corpus curation pipeline.

Composes the pipeline stages a large-scale LLM-data curation job runs
over a raw document table, in the canonical order (cheap, selective,
map-side filters first; the shuffle-heavy near-dup stage last, over
the smallest surviving set):

1. language filter   — marker-word argmax language ID == target
2. quality filter    — composite quality score + minimum token count
3. exact dedup       — keep the minimum doc_id per normalized-content
                       md5 (hash-groupBy; uniform shuffle key)
4. near-dup removal  — MinHash-LSH verified Jaccard pairs over the
                       survivors; every pair drops its HIGHER doc_id

The drop rule in stage 4 is the deterministic "keep first" heuristic:
a document is removed iff it near-matches ANY lower-id document
(whether or not that document itself survived the rule). For a
duplicate chain a < b < c this keeps exactly `a` — the same result as
connected-components with min-id canonicalization — without an
iterative union-find, so the whole pipeline stays a single declarative
plan.

Scale notes (100 TB):
* stages 1-3 are one logical pass: language ID is the only join
  (exploded tokens vs a broadcast marker table) and exact dedup is one
  window over the content-hash shuffle; everything else is map-side
  column math on bound token arrays (see SCALE.md on HOF staging).
* stage 4 inherits the MinHash-LSH design (banded candidates, linear
  emission, verify-candidates-only) and runs only on the documents
  that survived stages 1-3 — on real corpora the cheap filters drop
  30-60% of bytes before anything quadratic-ish can see them.
* the funnel is computed from stage FLAGS in one aggregate (plus the
  near-dup count), not by re-counting materialized intermediates.

Reference parity: the reference has no corpus-curation surface (it is
a BI warehouse); this operator family belongs to the LLM-data-pipeline
extension mandate alongside operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.text import (
    EN_STOPWORDS,
    LANG_MARKERS,
    lang_marker_hits,
    lang_pred_from_hits,
    normalize_text,
    punct_ratio,
    tokens_ws,
)
from .dedup import minhash_lsh_dedup

STAGES = ("0_input", "1_lang", "2_quality", "3_exact_dedup", "4_near_dedup")


def flag_stages(
    docs: DataFrame,
    target_lang: str = "en",
    min_quality: float = 0.55,
    min_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document stage-survival flags for stages 1-3 (language,
    quality, exact dedup) plus the curation features themselves.

    Returns every input document with: lang_pred, n_tokens, quality,
    pass_lang, pass_quality, pass_exact. Flags are cumulative
    (pass_quality implies pass_lang, ...).

    Everything up to exact dedup is MAP-SIDE: language ID is an argmax
    over per-language marker-hit counts computed by `F.filter` array
    traversals (no explode, no join, no per-doc window — the marker
    sets are compile-time constants), and the quality features are
    array math over the bound token column (SCALE.md HOF rule). The
    only shuffle in stages 1-3 is the content-hash window of exact
    dedup — and the derived norm/toks columns (each as wide as the
    document itself) are PROJECTED OUT before that window, so the
    exchange carries text + a hash + scalars, not 3x the corpus
    bytes."""
    if target_lang not in LANG_MARKERS:
        # lang_pred can only ever be a LANG_MARKERS key or 'und', so an
        # unsupported/typo'd target silently produced an EMPTY curated
        # corpus with no error (r10 review finding)
        raise ValueError(
            f"target_lang {target_lang!r} is not detectable; supported: "
            f"{sorted(LANG_MARKERS)}"
        )
    langs = sorted(LANG_MARKERS)
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        normalize_text(F.col(text_col)).alias("norm"),
    ).withColumn("toks", tokens_ws(F.col("norm")))
    # stage the per-language hit counts as bound columns so the argmax
    # CASE chain reads scalars instead of re-running the array scans
    hits = toked.select(
        "*",
        *[
            lang_marker_hits(F.col("toks"), lang).alias(f"hits_{lang}")
            for lang in langs
        ],
    )
    lang_pred, _ = lang_pred_from_hits(
        {lang: F.col(f"hits_{lang}") for lang in langs}
    )
    n = F.greatest(F.size("toks"), F.lit(1))
    # the stopword-ratio quality term uses the TARGET language's list:
    # hardwired EN stopwords deflated quality ~0.1-0.2 for every
    # non-English target (Portuguese text contains almost no English
    # stopwords), failing borderline legitimate docs (r10 review
    # finding).  'en' keeps the richer EN_STOPWORDS list (the oracled
    # default); other targets use their marker vocabulary.
    stop_set = EN_STOPWORDS if target_lang == "en" else LANG_MARKERS[target_lang]
    stop_ratio = F.size(F.filter(F.col("toks"), lambda t: t.isin(*stop_set))) * 1.0 / n
    uniq = F.size(F.array_distinct(F.col("toks"))) * 1.0 / n
    punct = punct_ratio(F.col("text"))
    base = (
        hits.withColumn("lang_pred", lang_pred)
        .withColumn("n_tokens", F.size("toks"))
        .withColumn(
            "quality", 0.4 * uniq + 0.4 * (1.0 - punct) + 0.2 * stop_ratio
        )
        .drop(*[f"hits_{lang}" for lang in langs])
    )
    flagged = (
        base.withColumn("pass_lang", F.col("lang_pred") == target_lang)
        .withColumn(
            "pass_quality",
            F.col("pass_lang")
            & (F.col("quality") >= min_quality)
            & (F.col("n_tokens") >= min_tokens),
        )
        # stage the content hash, then DROP the wide derived columns
        # before the window shuffle below
        .withColumn("content_h", F.md5(F.col("norm")))
        .drop("norm", "toks")
    )
    # exact dedup among quality survivors: keep the min surviving
    # doc_id per content hash — one window over the hash shuffle, no
    # second scan.  PRECONDITION: doc ids are unique (a double-loaded
    # id would tie with itself and both rows would pass).  Scale note:
    # the window partitions on content_h over ALL rows of a hash
    # (including quality failures), so a corpus with millions of
    # identical junk documents funnels them into one partition —
    # boilerplate-strip upstream, or pre-aggregate min-id per hash
    # among survivors and join back, when that shape appears.
    kept = F.min(F.when(F.col("pass_quality"), F.col("doc_id"))).over(
        W.partitionBy(F.col("content_h"))
    )
    return flagged.withColumn(
        "pass_exact", F.col("pass_quality") & (F.col("doc_id") == kept)
    ).drop("content_h")


def curate_corpus(
    docs: DataFrame,
    target_lang: str = "en",
    min_quality: float = 0.55,
    min_tokens: int = 16,
    jaccard_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Run the full curation pipeline; returns (curated, funnel).

    curated: (doc_id, lang_pred, n_tokens int, quality) — documents
    surviving all four stages, one row each.
    funnel:  (stage, n_docs) — documents remaining after each stage,
    5 rows ('0_input' .. '4_near_dedup').

    The exact-dedup survivor set is not persisted: when a caller
    collects ONE of the two outputs, every survivor consumer lands in
    a single plan and ReuseExchange shares the flag pipeline's
    content-hash exchange (an explicit persist measured ~25% slower).
    Driving curated AND funnel as separate actions recomputes the flag
    lineage once per action."""
    flagged = flag_stages(
        docs, target_lang, min_quality, min_tokens, id_col, text_col
    )
    survivors = flagged.filter(F.col("pass_exact")).select(
        "doc_id", "text", "lang_pred", "n_tokens", "quality"
    )
    # LSH geometry travels WITH the threshold: at (b=4, r=2) the
    # candidate probability is 1-(1-J^r)^b ~= 68% at J=0.5 and only
    # ~31% at J=0.3 — misses are DETERMINISTIC (fixed md5
    # permutations), so a caller lowering the threshold must widen
    # bands/rows too; the knobs are exposed for exactly that
    # (r10 review finding)
    pairs = minhash_lsh_dedup(
        survivors.select("doc_id", "text"),
        k=k,
        bands=bands,
        rows_per_band=rows_per_band,
        threshold=jaccard_threshold,
    )
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    curated = survivors.join(dropped, "doc_id", "left_anti").select(
        "doc_id",
        "lang_pred",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "quality",
    )
    stage_counts = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        # coalesce: SUM over an EMPTY corpus is NULL while COUNT is 0,
        # which broke the (stage, n_docs) count contract on stages 1-3
        F.coalesce(
            F.sum(F.col("pass_lang").cast("long")), F.lit(0)
        ).alias("n1"),
        F.coalesce(
            F.sum(F.col("pass_quality").cast("long")), F.lit(0)
        ).alias("n2"),
        F.coalesce(
            F.sum(F.col("pass_exact").cast("long")), F.lit(0)
        ).alias("n3"),
    )
    final_count = curated.agg(F.count(F.lit(1)).alias("n4"))
    # two 1-row aggregates -> scalar cross join (broadcast, no shuffle)
    funnel = (
        stage_counts.crossJoin(F.broadcast(final_count))
        .select(
            F.expr(
                "stack(5, '0_input', n0, '1_lang', n1, '2_quality', n2, "
                "'3_exact_dedup', n3, '4_near_dedup', n4) AS (stage, n_docs)"
            )
        )
    )
    return curated, funnel
