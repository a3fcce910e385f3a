"""Vocabulary induction, out-of-vocabulary reporting and BPE — the
tokenizer-prep pass of a training-data pipeline.

Reference parity: the reference has no text surface; this belongs to
the LLM-pipeline extension mandate (before training a tokenizer or
fixing a vocab, you measure corpus coverage: which V words cover the
token stream, and which documents are OOV-heavy — a strong
foreign-language / garbage signal).

Scale design (100 TB): the document-frequency aggregate shuffles the
token table once with map-side partial aggregation (key space is the
vocabulary, not the corpus); the induced top-V table is small by
construction (V rows) so the OOV scoring pass is a BROADCAST left
join on the token stream — the corpus is never reshuffled to be
scored, only its per-doc aggregate shuffles on doc_id. The top-V cut
is a global sort of the distinct-token table (vocabulary-sized, not
corpus-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, tokens_ws
from ..session import local_frame


def occurrences(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, w) one row per token OCCURRENCE (not distinct) — the
    ONE corpus scan both the induction and the scoring pass read;
    callers running both should pin it (the shared-tokenize rule,
    SCALE.md) rather than let each consumer re-derive the corpus
    normalize+split."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_ws(normalize_text(F.col(text_col))).alias("toks"),
    ).select("doc_id", F.explode("toks").alias("w"))


def induce_vocab_from_occ(occ: DataFrame, v: int = 500) -> DataFrame:
    """Top ``v`` tokens by DOCUMENT frequency from an occurrence table
    (ties broken by token asc — fully deterministic): (w, df)."""
    dfreq = occ.groupBy("w").agg(
        F.countDistinct("doc_id").alias("df")
    )
    return dfreq.orderBy(F.desc("df"), "w").limit(v)


def oov_report_from_occ(occ: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-document OOV stats against ``vocab`` (a (w, ...) table)
    from an occurrence table: (doc_id, n_tokens, n_oov, oov_rate)."""
    scored = occ.join(
        F.broadcast(vocab.select("w").withColumn("_in", F.lit(1))),
        "w",
        "left",
    )
    oov = F.col("_in").isNull().cast("long")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(oov).alias("n_oov"),
        (F.sum(oov).cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )


def word_frequencies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(w, freq) corpus occurrence counts per distinct word — the BPE
    working set: one partial-aggregated shuffle keyed on the
    vocabulary, after which every merge iteration runs over WORD TYPES
    weighted by frequency, never over the corpus again (the classic
    Sennrich/GPT-2 trainer shape; at 100 TB the corpus is scanned once
    and the iterative phase touches only the vocabulary table)."""
    return (
        docs.select(
            tokens_ws(normalize_text(F.col(text_col))).alias("toks")
        )
        .select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, pair_count) adjacent-symbol pair statistics over a
    (w, freq) word-frequency table — iteration-1 BPE merge counts,
    symbols = single characters.

    Character pairs are read positionally (``substring`` over an
    exploded index sequence — portable to any SQL engine, no
    empty-separator split semantics to disagree on); each word type
    contributes its pairs weighted by corpus frequency. The aggregate
    is keyed on the pair alphabet — tiny — with map-side partials.
    """
    pairs = words.filter(F.length("w") >= 2).select(
        "freq",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        F.col("w"),
    )
    return (
        pairs.select(
            F.substring(F.col("w"), F.col("i").cast("int"), 1).alias("a"),
            F.substring(F.col("w"), F.col("i").cast("int") + 1, 1).alias("b"),
            "freq",
        )
        .groupBy("a", "b")
        .agg(F.sum("freq").alias("pair_count"))
    )


# ---------------------------------------------------------------------------
# full BPE: train a merge list
# ---------------------------------------------------------------------------

# New symbols live in the Unicode PRIVATE-USE blocks, allocated in
# rank order across three ranges:
#
#   ranks      1..6400     -> U+E000..U+F8FF    (BMP PUA, 6,400)
#   ranks   6401..71,934   -> U+F0000..U+FFFFD  (plane 15 PUA, 65,534)
#   ranks 71,935..137,468  -> U+100000..U+10FFFD (plane 16 PUA, 65,534)
#
# (U+xFFFE/U+xFFFF noncharacters are excluded from the supplementary
# blocks.)  The first 6,400 ranks keep their round-7 BMP codepoints,
# so every previously-trained merge list replays bit-for-bit; the
# supplementary planes lift the merge budget to 137,468 — past the
# 32k-100k vocabularies production tokenizers ship.  Supplementary
# codepoints are surrogate PAIRS in UTF-16 but single CODEPOINTS
# everywhere this engine's string semantics live: Spark SQL
# (UTF8String counts/indexes UTF-8 codepoints), DuckDB, and Python
# all agree that len/substr/replace treat one such symbol as ONE
# character (verified empirically; pytest pins it) — which is the
# whole contract: every symbol (initial char or merged pair) being
# EXACTLY ONE character makes greedy left-to-right merging equal to a
# plain literal ``replace`` in any engine (both Spark's ``replace``
# and DuckDB's scan left-to-right over non-overlapping occurrences,
# the Sennrich trainer's semantics).
#
# normalize_text only lowercases and collapses whitespace — it does
# NOT strip private-use characters, so the trainer VALIDATES the
# contract instead of assuming it: bpe_train raises if any input word
# carries a PUA codepoint (a word containing one would silently
# collide with merge symbols and corrupt every pair count
# downstream).
BPE_SYMBOL_BASE = 0xE000
_BMP_MERGES = 0xF8FF - BPE_SYMBOL_BASE + 1  # 6,400
_PLANE_MERGES = 0xFFFD + 1  # 65,534 usable codepoints per PUA-A/B plane
BPE_MAX_MERGES = _BMP_MERGES + 2 * _PLANE_MERGES  # 137,468


def bpe_new_symbol(rank: int, offset: int = 0) -> str:
    """The single private-use character standing for merge ``rank``
    (1-based; ``offset`` shifts the allocation, for reserving lower
    symbol space or exercising a block boundary) — deterministic, so
    any engine regenerates the same symbol table from the same merge
    ranks.  Bounded to the three PUA blocks: a rank beyond them would
    walk into assigned codepoints and could collide with corpus
    text."""
    r = rank + offset
    if rank < 1 or r > BPE_MAX_MERGES:
        raise ValueError(
            f"BPE merge rank {rank}+{offset} outside the private-use "
            f"symbol space (1..{BPE_MAX_MERGES})"
        )
    if r <= _BMP_MERGES:
        return chr(BPE_SYMBOL_BASE + r - 1)
    if r <= _BMP_MERGES + _PLANE_MERGES:
        return chr(0xF0000 + r - _BMP_MERGES - 1)
    return chr(0x100000 + r - _BMP_MERGES - _PLANE_MERGES - 1)


def bpe_train(
    words: DataFrame, n_merges: int, symbol_offset: int = 0
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges over a (w, freq) word table and
    return ``(merges, encoded_words)``: merges as
    (rank, a, b, new_symbol, pair_count) in training order, and the
    word table with ``w`` carrying the fully re-segmented symbol
    string (one char per symbol) plus the original word in ``w0``.
    Training stops early once every word is a single symbol.

    Scale shape (100 TB): the corpus-sized work is ONE distributed
    scan aggregating the corpus into the vocabulary-sized
    (word-type, freq) table (``word_frequencies``).  That table is
    then collected: word TYPES number in the millions even for
    web-scale corpora (bounded by the vocabulary, not the corpus),
    which is the same single-node working set every production BPE
    trainer uses (Sennrich's subword-nmt, HuggingFace tokenizers both
    train over aggregated counts on one machine).  The merge loop
    itself is inherently sequential — each decision feeds the next
    re-segmentation — so it runs driver-side with the classic
    incremental algorithm: a lazy max-heap over pair counts and
    per-merge updates restricted to the words containing the merged
    pair, O(touched chars) per merge instead of a full recount.  A
    per-merge Spark job would pay one scheduling round per merge
    (SCALE.md: 664 s vs 10.8 s at x100).

    Decisions (property-pinned against the pure-Python trainer in
    tests/test_tokenizer_prep.py, and replayed by the DuckDB oracle's
    CTE ladder): pair counts weight every adjacent position (including
    overlapping, e.g. "aaa" counts (a,a) twice) by word frequency;
    ties break (count desc, a asc, b asc) — Python tuple comparison
    over codepoints equals both engines' binary string collation,
    including for supplementary-plane symbols, because UTF-8 byte
    order is codepoint order; re-segmentation is Python's
    non-overlapping left-to-right ``str.replace``, the same semantics
    as Spark's and DuckDB's ``replace``.

    Contract guards: ``n_merges + symbol_offset`` must fit the
    private-use symbol space (≤ 137,468 — BMP PUA plus supplementary
    planes 15/16), and no input word may contain a private-use
    codepoint (it would collide with merge symbols and corrupt pair
    counts); both raise ``ValueError``, the second with an offending
    sample.
    """
    import heapq
    import re
    from collections import Counter

    import pyarrow as pa

    if n_merges + symbol_offset > BPE_MAX_MERGES:
        raise ValueError(
            f"n_merges={n_merges}+offset {symbol_offset} exceeds the "
            f"{BPE_MAX_MERGES}-symbol private-use space (BMP PUA + "
            "planes 15/16); larger vocabularies need a multi-char "
            "symbol encoding"
        )
    spark = words.sparkSession
    # vocabulary-sized bounded collect (word TYPES, not the corpus) —
    # the trainer's whole working set; see the scale note above
    rows = words.select("w", "freq").collect()
    taint_re = re.compile(
        "[\uE000-\uF8FF"
        "\U000F0000-\U000FFFFD"
        "\U00100000-\U0010FFFD]"
    )
    bad = [r.w for r in rows if taint_re.search(r.w)][:3]
    if bad:
        raise ValueError(
            "BPE input words contain private-use codepoints (the merge "
            f"symbol alphabet); pre-strip them: {bad!r}"
        )
    work = [[r.w, int(r.freq)] for r in rows]
    counts: Counter = Counter()
    occur: dict[tuple[str, str], set[int]] = {}
    for idx, (s, f) in enumerate(work):
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            counts[p] += f
            occur.setdefault(p, set()).add(idx)
    # lazy-invalidation heap: stale entries (count changed since push)
    # are skipped on pop by re-checking against the live counter
    heap = [(-c, a, b) for (a, b), c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, str, int]] = []
    rank = 0
    while rank < n_merges and heap:
        negc, a, b = heapq.heappop(heap)
        c = counts.get((a, b), 0)
        if c <= 0 or -negc != c:
            continue
        rank += 1
        new = bpe_new_symbol(rank, symbol_offset)
        merges.append((rank, a, b, new, c))
        ab = a + b
        touched: Counter = Counter()
        for idx in list(occur.get((a, b), ())):
            s, f = work[idx]
            if ab not in s:  # stale occurrence (pair merged away)
                continue
            ns = s.replace(ab, new)
            for i in range(len(s) - 1):
                touched[(s[i], s[i + 1])] -= f
            for i in range(len(ns) - 1):
                p = (ns[i], ns[i + 1])
                touched[p] += f
                occur.setdefault(p, set()).add(idx)
            work[idx][0] = ns
        for p, d in touched.items():
            if d:
                counts[p] += d
                heapq.heappush(heap, (-counts[p], p[0], p[1]))
        counts[(a, b)] = 0
    encoded = local_frame(
        spark,
        [(r.w, seg, f) for r, (seg, f) in zip(rows, work)],
        [("w0", pa.string()), ("w", pa.string()), ("freq", pa.int64())],
    )
    return merges, encoded


# ---------------------------------------------------------------------------
# tokenizer artifact lifecycle: train once, persist, apply many
# ---------------------------------------------------------------------------

_BPE_ARTIFACT_VERSION = 1


def merges_frame(spark, merges: list[tuple]) -> DataFrame:
    """The trained merge list as a (rank, a, b, new_symbol, pair_count)
    DataFrame, in training order."""
    import pyarrow as pa

    return local_frame(
        spark,
        merges,
        [
            ("rank", pa.int32()),
            ("a", pa.string()),
            ("b", pa.string()),
            ("new_symbol", pa.string()),
            ("pair_count", pa.int64()),
        ],
    )


def save_bpe_tokenizer(
    merges: list[tuple[int, str, str, str, int]],
    encoded: DataFrame,
    tokenizer_dir: str,
    budget: int,
    symbol_offset: int = 0,
) -> None:
    """Persist a trained BPE tokenizer as a reusable on-disk artifact —
    the train-once half of the production lifecycle, mirroring
    ``build_ivf_index`` / ``build_dedup_index``: training scans the
    corpus once; every later encode run loads this artifact instead of
    retraining.

    Layout under ``tokenizer_dir``:

    * ``merges/`` — parquet (rank, a, b, new_symbol, pair_count), the
      shippable merge list in training order (what HuggingFace's
      ``merges.txt`` carries);
    * ``words/`` — parquet (w0, w, freq): the fully re-segmented
      training vocabulary, i.e. the word → symbol-string ENCODED MAP.
      Encoding a corpus is one broadcast join of this
      vocabulary-sized table against the occurrence scan — no
      training jobs on the apply side;
    * ``meta.json`` — build params validated at load (format version,
      budget, symbol_offset, n_merges, n_words).

    The artifact is self-describing and engine-portable (parquet +
    JSON); ``load_bpe_tokenizer`` refuses artifacts whose meta is
    missing, from an unknown format version, or inconsistent with the
    stored merge table — the same fail-loud posture as the dedup
    index's meta check.
    """
    import json as _json
    import os as _os

    spark = encoded.sparkSession
    merges_df = merges_frame(spark, merges or [])
    merges_df.coalesce(1).write.mode("overwrite").parquet(
        tokenizer_dir.rstrip("/") + "/merges"
    )
    encoded.select("w0", "w", "freq").write.mode("overwrite").parquet(
        tokenizer_dir.rstrip("/") + "/words"
    )
    n_words = spark.read.parquet(tokenizer_dir.rstrip("/") + "/words").count()
    meta = {
        "format_version": _BPE_ARTIFACT_VERSION,
        "kind": "bpe_tokenizer",
        "budget": budget,
        "symbol_offset": symbol_offset,
        "n_merges": len(merges),
        "n_words": n_words,
    }
    with open(
        _os.path.join(tokenizer_dir, "meta.json"), "w", encoding="utf-8"
    ) as f:
        _json.dump(meta, f, indent=1, sort_keys=True)
        f.write("\n")


def load_bpe_tokenizer(
    spark, tokenizer_dir: str
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame, dict]:
    """Load a :func:`save_bpe_tokenizer` artifact and return
    ``(merges, encoded_words, meta)`` with the same shapes
    :func:`bpe_train` returns — the apply-many half: callers
    broadcast-join ``encoded_words`` (w0 → w symbol string) against
    their occurrence scan and never touch a trainer.

    Fail-loud validation: missing/unreadable ``meta.json``, an unknown
    ``format_version``, a non-tokenizer ``kind``, or a merge table
    whose row count disagrees with the recorded ``n_merges`` all raise
    ``ValueError`` — a half-written or foreign directory must never
    silently encode a corpus with the wrong vocabulary.
    """
    import json as _json
    import os as _os

    meta_path = _os.path.join(tokenizer_dir, "meta.json")
    try:
        with open(meta_path, encoding="utf-8") as f:
            meta = _json.load(f)
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"not a BPE tokenizer artifact (meta.json unreadable at "
            f"{tokenizer_dir}): {exc}"
        ) from exc
    if meta.get("kind") != "bpe_tokenizer":
        raise ValueError(
            f"artifact at {tokenizer_dir} is kind={meta.get('kind')!r}, "
            "not a bpe_tokenizer"
        )
    if meta.get("format_version") != _BPE_ARTIFACT_VERSION:
        raise ValueError(
            f"unsupported tokenizer format_version "
            f"{meta.get('format_version')!r} (engine supports "
            f"{_BPE_ARTIFACT_VERSION})"
        )
    # bounded collect: the merge LIST (<= the 137,468-symbol budget),
    # the same vocabulary-sized driver working set the trainer holds
    merges_df = spark.read.parquet(tokenizer_dir.rstrip("/") + "/merges")
    merges_rows = merges_df.orderBy("rank").collect()
    if len(merges_rows) != meta.get("n_merges"):
        raise ValueError(
            f"tokenizer artifact corrupt: merges table has "
            f"{len(merges_rows)} rows, meta records {meta.get('n_merges')}"
        )
    merges = [
        (int(r.rank), r.a, r.b, r.new_symbol, int(r.pair_count))
        for r in merges_rows
    ]
    encoded = spark.read.parquet(tokenizer_dir.rstrip("/") + "/words")
    return merges, encoded, meta
