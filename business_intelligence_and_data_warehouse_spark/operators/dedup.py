"""Deduplication operators for large-scale document pipelines.

Five dedup families, each expressed as DataFrame compositions (no
Python row path):

* exact           — hash-groupBy over normalized text (md5)
* MinHash + LSH   — shingle -> per-band min-hash -> band-bucket join
                    -> verified Jaccard
* SimHash         — token-majority bit signature + Hamming-ball join
* n-gram Jaccard  — shingle-set similarity join with a document-
                    frequency cap (prefix-filter style) on the join key
* embedding cosine— near-duplicate pairs over an embedding column
                    (see operators/similarity.py for the math)

Scale design (100 TB):
* the only shuffles are keyed on content hashes / shingles / band
  signatures — uniformly distributed by construction;
* the shingle self-join is the classic quadratic trap: a stop-shingle
  appearing in f documents contributes f^2 candidate pairs. The
  `max_df` cap drops shingles with document frequency > max_df from
  CANDIDATE GENERATION only (standard prefix-filtering); verification
  still uses the full shingle sets, so precision is exact and only
  recall of pathologically-common-content pairs is affected.
* MinHash banding keeps candidate generation linear: a document emits
  exactly `bands` (band, signature) rows.

Hashing uses md5 (engine-portable, oracle-checkable). At production
scale xxhash64 halves the hash cost where cross-engine verification is
not needed.

Persist discipline: under the per-invocation cache ledger
(``caching.pin``), ReuseExchange already shares identical single-plan
exchanges, so an unconditional persist measured 10-25% pure overhead
across the dedup battery at sf0.1.  A table is pinned only where its
consumers read DIFFERENT exchanges or the re-derived subtree is
scan-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W_
from pyspark.sql import functions as F

from .caching import pin
from ..functions.text import (
    fingerprint_md5,
    normalize_text,
    shingles_of_tokens,
    tokens_ws,
)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct normalized text: the minimum id is kept as
    the canonical document, with the duplicate count."""
    return (
        docs.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).alias("n_duplicates"),
        )
    )


# ---------------------------------------------------------------------------
# shingle machinery shared by Jaccard + MinHash
# ---------------------------------------------------------------------------

def shingle_table(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) pairs — DISTINCT per document (set semantics).

    The per-document dedup happens map-side with ``array_distinct``
    BEFORE the explode: a ``.distinct()`` after the explode would
    shuffle the full (doc, shingle) table — by far the widest
    intermediate in every dedup pipeline — to deduplicate rows that
    can only collide within one document anyway. The token array is
    projected into its own column first so the shingle lambda reads a
    bound attribute instead of re-running normalize+split per shingle.
    """
    return shingles_from_tokens(token_table(docs, id_col, text_col), k)


def token_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, toks array) — the ONE normalize+tokenize pass every
    dedup signal derives from.  Pin this when feeding several signals
    (see :func:`multi_signal_dedup`): at 100 TB the corpus scan +
    normalize is the dominant shared cost, and re-running it per
    signal triples the widest stage."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_ws(normalize_text(F.col(text_col))).alias("toks"),
    )


def shingles_from_tokens(toks: DataFrame, k: int) -> DataFrame:
    """(doc_id, shingle) from a pre-tokenized (doc_id, toks) table."""
    return toks.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_of_tokens(F.col("toks"), k))).alias("s"),
    )


def _capped_overlap(shingles: DataFrame, max_df: int | None) -> DataFrame:
    """Every doc pair (doc_a < doc_b) sharing a shingle under the
    df cap, with its common count ``n_common`` and both set sizes
    (``sa.n``, ``sb.n``) over the same capped vocabulary — the shared
    body of :func:`jaccard_pairs` and :func:`containment_pairs`, which
    each project and filter their own measure."""
    shingles, _stop = _df_capped(shingles, max_df)
    # The capped shingle table feeds the size aggregate AND both sides
    # of the candidate self-join. The self-join sides share one
    # exchange via ReuseExchange, but the sizes aggregate's exchange
    # DIFFERS — so unlike the MinHash path the persist pays here
    # (interleaved A/B at sf0.1: pinned ~2.9s vs unpinned ~3.3s).
    shingles = pin(shingles)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return common.join(sa, F.col("doc_a") == F.col("sa.doc_id")).join(
        sb, F.col("doc_b") == F.col("sb.doc_id")
    )


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float,
    max_df: int | None = 50,
) -> DataFrame:
    """Document pairs with shingle-set Jaccard >= threshold.

    Candidate pairs come from a self-join on shingles whose document
    frequency is <= max_df (bounds the quadratic blow-up); the Jaccard
    value itself is exact: |A ∩ B| over the CAPPED shingle vocabulary
    is counted in the join, and set sizes use the same capped
    vocabulary so the measure stays a true Jaccard on the filtered
    space. Integer counts -> exact doubles, engine-parity safe.

    The cap is applied as a broadcast LEFT ANTI join against the
    *stop-shingle* set (df > max_df). Broadcasting the kept vocabulary
    would ship nearly the entire distinct-shingle set (billions of
    rows at corpus scale — broadcast OOM); the stop set is bounded by
    the number of pathologically common shingles, which shrinks as
    max_df grows. Identical semantics, opposite — and tiny —
    broadcast side.
    """
    return (
        _capped_overlap(shingles, max_df)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(shingles: DataFrame, num_hashes: int) -> DataFrame:
    """num_hashes min-hash values per document.

    Hash family: DISJOINT 8-hex-digit (32-bit) slices of md5 digests —
    4 independent hash functions per digest evaluation, so the
    dominant CPU pass of the pipeline (hashing every (doc, shingle)
    row) runs num_hashes/4 times, not num_hashes times (2 digests for
    the default 8 hashes — a 4× hashing cut vs the salted-per-hash
    form; md5 bits are independent across slice ranges). Past 4 hashes
    per digest, additional salted digests are sliced the same way.

    Slice width matters: a 16-bit slice min degenerates once documents
    carry shingle counts approaching 2^16 (most large docs would share
    min 0, re-creating hot band buckets); 32-bit slices push that
    regime to ~4B shingles per document — beyond any real document.
    The min is lexicographic over fixed-width hex — identical to the
    32-bit integer min, and bit-identical across engines.
    """
    n_digests = (num_hashes + 3) // 4
    staged = shingles.select(
        "doc_id",
        *[
            (
                F.md5(F.col("s"))
                if d == 0
                else F.md5(F.concat(F.lit(f"{d}|"), F.col("s")))
            ).alias(f"d{d}")
            for d in range(n_digests)
        ],
    )
    mins = [
        F.min(
            F.substring(F.col(f"d{h // 4}"), (h % 4) * 8 + 1, 8)
        ).alias(f"mh{h}")
        for h in range(num_hashes)
    ]
    return staged.groupBy("doc_id").agg(*mins)


def minhash_lsh_candidates(
    shingles: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Candidate pairs from banded MinHash signatures.

    A document emits `bands` (band, signature) rows where the signature
    concatenates `rows_per_band` min-hashes; any shared band signature
    makes a candidate pair. Collision probability 1-(1-J^r)^b.
    """
    # One narrow row per doc derived through the signature
    # aggregation; the band self-join's two sides are identical
    # exchanges that ReuseExchange shares within the plan, so it
    # stays unpinned.
    sigs = minhash_signatures(shingles, bands * rows_per_band)
    band_rows = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")
    x = band_rows.alias("x")
    y = band_rows.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_for_pairs(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for an explicit (doc_a, doc_b) pair
    set — cost is O(|pairs| × shingles-per-doc), independent of how
    common any shingle is in the corpus (the verify step of every
    LSH/blocking pipeline; never all-pairs)."""
    a = shingles.alias("a")
    b = shingles.alias("b")
    common = (
        pairs.join(a, pairs.doc_a == F.col("a.doc_id"))
        .join(b, (pairs.doc_b == F.col("b.doc_id")) & (F.col("a.s") == F.col("b.s")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> band join ->
    verify ONLY the candidate pairs with exact Jaccard >= threshold.

    Verification is per-candidate (``jaccard_for_pairs``), never the
    all-pairs shingle self-join — a stop-shingle shared by f documents
    would otherwise contribute f² verify rows regardless of banding.

    The shingle table is not pinned: the band self-join sides and the
    verify join read IDENTICAL exchanges of the shingle/signature
    subtrees, which ReuseExchange shares, so a persist measured
    ~15-20% slower at sf0.1 under the cache ledger (interleaved A/B:
    unpinned ~1.7s vs pinned ~2.0s).
    """
    shingles = shingle_table(docs, k, id_col, text_col)
    candidates = minhash_lsh_candidates(shingles, bands, rows_per_band)
    return jaccard_for_pairs(candidates, shingles).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    shingles: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = 50,
) -> DataFrame:
    """Document pairs where the SMALLER document's shingle set is
    mostly contained in the other: max-containment
    C(A,B) = |A ∩ B| / min(|A|, |B|) >= threshold — the asymmetric
    near-dup signal symmetric Jaccard misses (a page quoting a whole
    short document scores J = |A|/|B| ≈ small, but C = 1.0), the
    quote/subset detector of substring-aware curation (registered as
    the oracle-checked `dedup_containment` query; semantics also
    pinned in tests/test_pipeline.py).

    Output: (doc_a, doc_b, n_common, containment, jaccard) with
    doc_a < doc_b — both measures off ONE common-count join so callers
    can threshold either.  Same df-capped blocking as
    :func:`jaccard_pairs` (:func:`_capped_overlap`: the cap bounds the
    quadratic; the measure is exact on the capped vocabulary; integer
    counts -> exact doubles both engines)."""
    return (
        _capped_overlap(shingles, max_df)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common") / F.least(F.col("sa.n"), F.col("sb.n"))
            ).alias("containment"),
            (
                F.col("n_common")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    docs: DataFrame,
    num_bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Term-frequency-weighted SimHash signature (num_bits <= 32,
    one bit per md5 hex digit).

    Each token votes +tf/-tf per bit according to one bit of its md5;
    the signature takes the majority sign per bit. Near-duplicate
    documents differ in few bits (Hamming distance).  Tokenizes the
    raw documents, then computes every signature in one in-task Arrow
    pass (:func:`simhash_from_tokens`) — no exchange.
    """
    return simhash_from_tokens(
        token_table(docs, id_col, text_col), num_bits
    )


def simhash_from_tokens(toks_table: DataFrame, num_bits: int = 32) -> DataFrame:
    """SimHash signatures from a pre-tokenized (doc_id, toks) table —
    the shared-tokenize entry point (:func:`simhash` wraps it for raw
    documents).

    ``num_bits`` is capped at 32: the vote bits read the high bit of
    each md5 hex nibble, so bits past 32 would read PAST the digest —
    silently degenerate signatures whose downstream blocking join
    collapses into hot buckets (r10 review finding: fail loud
    instead).

    r13: computed as ONE in-task Arrow pass — a document's tokens are
    already together in its array cell, so tf counting, the md5 vote
    bits, the ±tf vote sums and the sign bits all happen in the task
    (zero exchanges; was explode → (doc, tok) tf exchange → md5+conv →
    (doc) vote exchange).  A per-task token→bits memo hashes each
    distinct token once per task, where the JVM form re-hashed it once
    per (doc, token).  Bit parity with the SQL-oracle form: vote bit j
    IS the high bit of hex digit j of md5(token) — hashlib md5 over
    the token's UTF-8 bytes is the same digest F.md5 computes, and the
    integer vote sums are exact in any order.  A document with an
    EMPTY token array stays absent from the output, exactly as the
    exploded form dropped it.  Parity with the retired JVM form
    (tests/dedup_reference.py) is pinned in tests/test_pipeline.py."""
    if not 1 <= num_bits <= 32:
        raise ValueError(
            f"num_bits must be in [1, 32] (md5-nibble vote bits), "
            f"got {num_bits}"
        )

    def sig(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        n_nib = num_bits
        memo: dict[str, np.ndarray] = {}

        def pm1(tok: str) -> np.ndarray:
            got = memo.get(tok)
            if got is None:
                dg = np.frombuffer(
                    hashlib.md5(tok.encode("utf-8")).digest(), np.uint8
                )[: (n_nib + 1) // 2]
                nibs = np.empty(len(dg) * 2, dtype=np.int64)
                nibs[0::2] = dg >> 4
                nibs[1::2] = dg & 15
                got = ((nibs[:n_nib] >> 3) & 1) * 2 - 1
                memo[tok] = got
            return got

        weights = (1 << np.arange(num_bits, dtype=np.int64))
        for batch in batches:
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            toks_col = batch.column("toks").to_pylist()
            out_ids, out_sigs = [], []
            for i in range(len(ids)):
                toks_i = toks_col[i]
                if not toks_i:
                    continue
                votes = np.zeros(num_bits, dtype=np.int64)
                tf: dict[str, int] = {}
                for t in toks_i:
                    tf[t] = tf.get(t, 0) + 1
                for t, c in tf.items():
                    votes += pm1(t) * c
                out_ids.append(ids[i])
                out_sigs.append(int(weights[votes > 0].sum()))
            if out_ids:
                yield pa.record_batch(
                    {
                        "doc_id": pa.array(out_ids, type=pa.int64()),
                        "simhash": pa.array(out_sigs, type=pa.int64()),
                    }
                )

    out = toks_table.select("doc_id", "toks").mapInArrow(
        sig, "doc_id long, simhash long"
    )
    # The Arrow pass inherits the scan's partitioning.  When that is
    # narrower than the cluster (one small parquet file locally), the
    # downstream blocking join's whole map side would serialize on the
    # same few tasks — measured 3.1-3.3 s vs 1.7-1.8 s at sf0.1 for
    # simhash_pairs_from_sigs.  A keyed repartition of the NARROW
    # (doc_id, simhash) rows restores parallelism; at scale the scan
    # already has >= cores partitions and this branch is a no-op
    # (scale-adaptive, not a local[32] constant).
    sc = toks_table.sparkSession.sparkContext
    if out.rdd.getNumPartitions() < sc.defaultParallelism:
        out = out.repartition("doc_id")
    return out


def simhash_near_dups(
    docs: DataFrame,
    num_bits: int = 32,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_blocks: int = 4,
) -> DataFrame:
    """Pairs of documents within a Hamming ball of the SimHash.

    Candidate generation is TWO-LEVEL pigeonhole blocking. Level 1:
    a pair within Hamming distance d <= num_blocks - 1 shares at least
    one exact `num_bits/num_blocks`-bit block (d differing bits touch
    at most d blocks). Level 2: given a shared block j, the <= d
    remaining diffs all lie in the COMPLEMENT bits, so splitting that
    complement into `max_hamming + 1` sub-blocks pigeonholes again —
    the pair also shares at least one exact sub-block of the
    complement. Joining on (block j, block value, sub s, sub value)
    is therefore still EXACT for d <= max_hamming while keying on
    block+sub bits together (14 effective bits at the 32-bit/4-block
    defaults vs 8 for single-level).

    Why the second level matters at scale: SimHash bits are majority
    votes over token hashes, so a homogeneous corpus (one dominant
    vocabulary — exactly what a crawl shard looks like) concentrates
    block values; measured on the sf0.1 corpus one 8-bit block value
    covered 65% of documents, making the single-level join
    quasi-quadratic (6.4M candidate rows from 5k docs). Sub-blocking
    the complement divides the hot bucket by the sub-block's
    selectivity while never losing a pair. Each document still emits
    a fixed num_blocks × (max_hamming + 1) rows — linear.

    The Hamming filter runs BEFORE the pair distinct, so the distinct
    (needed because a pair can match several block/sub combos)
    deduplicates only true near-dups, not the full candidate stream.
    """
    # The signature table is tiny (one row per doc: id + long) but its
    # lineage is the whole tokenize/tf/vote pipeline, and unlike the
    # MinHash band join the two sides here explode DIFFERENT column
    # sets (block vs complement sub-block), so their exchanges are NOT
    # identical and ReuseExchange cannot share them — measured: pinned
    # ~3.0s vs unpinned ~5.0s at sf0.1. Block+sub rows are emitted in
    # a single map-side pass (inline explode), not a union over the
    # same subtree.
    if max_hamming > num_blocks - 1:
        # validate BEFORE the pin: raising after it would leak
        # a ledger-registered persist that lingers until the next query
        raise ValueError(
            f"pigeonhole blocking with {num_blocks} blocks is only exact "
            f"for max_hamming <= {num_blocks - 1}, got {max_hamming}"
        )
    sigs = pin(simhash(docs, num_bits, id_col, text_col))
    return simhash_pairs_from_sigs(sigs, num_bits, max_hamming, num_blocks)


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    num_bits: int = 32,
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """The blocked Hamming-ball pair join over an existing
    (doc_id, simhash) signature table — factored out so shared-
    tokenize pipelines (:func:`multi_signal_dedup`) can feed it
    without re-tokenizing.  See :func:`simhash_near_dups` for the
    two-level pigeonhole design notes; callers pin ``sigs`` (its two
    explode sides exchange on different keys)."""
    if max_hamming > num_blocks - 1:
        raise ValueError(
            f"pigeonhole blocking with {num_blocks} blocks is only exact "
            f"for max_hamming <= {num_blocks - 1}, got {max_hamming}"
        )
    width = num_bits // num_blocks
    n_sub = max_hamming + 1
    sub_width = max((num_bits - width) // n_sub, 1)
    sig = F.col("simhash")

    def _block_val(j: int) -> Column:
        return (sig / F.lit(2 ** (j * width))).cast("long") % (2**width)

    def _comp_val(j: int) -> Column:
        """The (num_bits - width) complement bits with block j removed,
        re-packed contiguously (low part + shifted-down high part)."""
        low = sig % (2 ** (j * width))
        high = (sig / F.lit(2 ** ((j + 1) * width))).cast("long")
        return (high * F.lit(2 ** (j * width)) + low).cast("long")

    block_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("blk"),
                _block_val(j).alias("block"),
                F.lit(s).alias("sub"),
                (
                    (_comp_val(j) / F.lit(2 ** (s * sub_width))).cast("long")
                    % (2**sub_width)
                ).alias("subval"),
            )
            for j in range(num_blocks)
            for s in range(n_sub)
        ]
    )
    blocks = sigs.select("doc_id", "simhash", F.inline(block_structs))
    x = blocks.alias("x")
    y = blocks.alias("y")
    return (
        x.join(
            y,
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.block") == F.col("y.block"))
            & (F.col("x.sub") == F.col("y.sub"))
            & (F.col("x.subval") == F.col("y.subval"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# multi-signal report: ONE tokenize pass, three dedup signals
# ---------------------------------------------------------------------------

def multi_signal_dedup(
    docs: DataFrame,
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    num_bits: int = 32,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document dedup report combining the three text signals —
    exact content hash, MinHash-LSH verified Jaccard, SimHash Hamming
    ball — computed off ONE pinned normalize+tokenize pass.

    (doc_id, content_hash, n_exact_copies, is_canonical,
    n_near_dup_neighbors, n_hamming_neighbors).

    This is the 100-TB shape of running the dedup family: the corpus
    scan + normalize + tokenize is the dominant shared cost, and the
    standalone operators each repeat it — a real curation run computes
    the token table once and derives shingles (MinHash/Jaccard side)
    and token TF votes (SimHash side) and the content hash from the
    same blocks.  Each
    signal's own shuffle/blocking design is unchanged (the per-signal
    operators are called on the shared tables, not reimplemented).

    Measured at sf0.1 (interleaved same-context A/B, warm best-of-3,
    late r4 after the _degree explode fix): composite 5.3s vs 6.75s
    for exact+minhash+simhash back-to-back — 1.27x at this SF, where
    the shared scan is cheap; at crawl scale the composite's two
    saved corpus scans+normalizes dominate.  The tokens pin itself
    was a wash warm (2.0 pinned vs 2.1 unpinned best-of-3) but stays:
    at crawl scale the re-derived subtree is scan-bound.
    """
    if max_hamming > 3:
        # the SimHash stage runs with the default 4 blocks; validate
        # BEFORE the pins below, or the raise would leak two ledger-
        # registered persists until the next query (r10 review finding)
        raise ValueError(
            "multi_signal_dedup's SimHash stage uses 4 pigeonhole "
            f"blocks (exact for max_hamming <= 3), got {max_hamming}"
        )
    toks = pin(
        token_table(docs, id_col, text_col).withColumn(
            "content_hash", _content_hash()
        )
    )
    # exact groups from the shared token array (concat_ws(" ", toks)
    # rebuilds exactly the normalized text: normalize collapses all
    # whitespace runs to single spaces before the split)
    exg = toks.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("n_exact_copies"),
        F.min("doc_id").alias("keeper"),
    )
    shingles = shingles_from_tokens(toks, k)
    candidates = minhash_lsh_candidates(shingles, bands, rows_per_band)
    near = jaccard_for_pairs(candidates, shingles).filter(
        F.col("jaccard") >= threshold
    )
    sigs = pin(simhash_from_tokens(toks, num_bits))
    ham = simhash_pairs_from_sigs(sigs, num_bits, max_hamming)

    def _degree(pairs: DataFrame, alias: str) -> DataFrame:
        # explode both endpoints map-side: ONE consumer of the pair
        # subtree. The union-of-two-projections form read `pairs`
        # through two branches, and the near-pair pipeline ends in a
        # join+filter with NO trailing exchange — each branch re-ran
        # the whole verify join (measured at sf0.1: composite 8.3s
        # union-degree vs 4.7s explode-degree, 1.8x).
        return (
            pairs.select(
                F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
            )
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    nd = _degree(near, "n_near_dup_neighbors")
    hd = _degree(ham, "n_hamming_neighbors")
    return (
        toks.select("doc_id", "content_hash")
        .join(exg, "content_hash")
        .join(nd, "doc_id", "left")
        .join(hd, "doc_id", "left")
        .select(
            "doc_id",
            "content_hash",
            "n_exact_copies",
            (F.col("doc_id") == F.col("keeper")).alias("is_canonical"),
            F.coalesce("n_near_dup_neighbors", F.lit(0)).alias(
                "n_near_dup_neighbors"
            ),
            F.coalesce("n_hamming_neighbors", F.lit(0)).alias(
                "n_hamming_neighbors"
            ),
        )
    )


# ---------------------------------------------------------------------------
# cross-document repeated n-gram spans (substring-level dedup signal)
# ---------------------------------------------------------------------------

def _cross_doc_dup_positions(
    toks: DataFrame, k: int, min_docs: int
) -> DataFrame:
    """(doc_id, i, e) — 1-based [i, e] token intervals of every k-gram
    position whose gram occurs in >= min_docs DISTINCT documents.

    Shared core of :func:`repeated_ngram_report` (coverage metrics)
    and :func:`trim_repeated_spans` (span removal). Grams are
    md5-hashed map-side BEFORE any shuffle; document frequency counts
    per-doc-DISTINCT grams (``array_distinct`` map-side), so within-doc
    repeats never count as cross-doc duplication. ``posexplode`` drops
    docs shorter than k tokens — callers re-join them from the token
    base.
    """
    pos = toks.select(
        "doc_id",
        F.posexplode(shingles_of_tokens(F.col("toks"), k)).alias("i0", "g"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), F.md5("g").alias("gh"))
    docgram = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_of_tokens(F.col("toks"), k))
        ).alias("g"),
    ).select("doc_id", F.md5("g").alias("gh"))
    dup = (
        docgram.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gh")
    )
    return pos.join(dup, "gh").select(
        "doc_id", "i", (F.col("i") + k - 1).alias("e")
    )


def repeated_ngram_report(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    flag_share: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document report of content covered by k-grams that repeat
    ACROSS documents — the substring-level dedup signal of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better": unlike
    whole-document Jaccard/MinHash (which miss a long quote embedded
    in an otherwise-unique page), this finds the duplicated SPANS.

    Output per document: (doc_id, n_tokens, n_grams, n_dup_grams,
    covered_tokens, dup_gram_share, dup_token_share, is_substring_dup).
    ``covered_tokens`` is the size of the union of the [i, i+k-1]
    token intervals whose k-gram occurs in >= min_docs distinct
    documents — overlapping spans are merged exactly (sort-by-start +
    running-max-end island windows), so a fully-duplicated doc reports
    coverage = n_tokens, never more.

    Scale design: grams are md5-hashed BEFORE any shuffle (32-byte
    keys, uniform); document frequency counts per-doc-DISTINCT grams
    (``array_distinct`` map-side, so a within-doc repeat is not a
    cross-doc dup); the duplicated-gram set joins back to the
    positional table on the hash — both sides hash-keyed, no skew by
    construction. The island merge runs in doc-partitioned windows,
    and both follow-up groupBys reuse that partitioning (no extra
    exchange). Per-doc cost is linear in tokens; nothing is quadratic
    in corpus size. The token table is PINNED — three consumers read
    it (positional grams, per-doc distinct grams, the doc base) and
    each would otherwise re-run the normalize scan
    (sf0.1 interleaved best-of-3: 1.77s pinned vs 2.54s not).
    """
    toks = pin(token_table(docs, id_col, text_col))
    base = toks.select("doc_id", F.size("toks").cast("int").alias("n_tokens"))
    dp = _cross_doc_dup_positions(toks, k, min_docs)
    w_prev = (
        W_.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(W_.unboundedPreceding, -1)
    )
    w_run = (
        W_.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(W_.unboundedPreceding, 0)
    )
    islands = (
        dp.withColumn("pe", F.max("e").over(w_prev))
        .withColumn(
            "new_isl",
            F.when(
                F.col("pe").isNull() | (F.col("i") > F.col("pe")), 1
            ).otherwise(0),
        )
        .withColumn("isl", F.sum("new_isl").over(w_run))
        .groupBy("doc_id", "isl")
        .agg(
            (F.max("e") - F.min("i") + 1).alias("cov"),
            F.count(F.lit(1)).alias("np"),
        )
    )
    per_doc = islands.groupBy("doc_id").agg(
        F.sum("cov").cast("int").alias("covered_tokens"),
        F.sum("np").cast("int").alias("n_dup_grams"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.greatest(
                F.col("n_tokens") - F.lit(k - 1), F.lit(0)
            ).cast("int").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("int").alias(
                "n_dup_grams"
            ),
            F.coalesce("covered_tokens", F.lit(0)).cast("int").alias(
                "covered_tokens"
            ),
        )
        .withColumn(
            "dup_gram_share",
            F.when(
                F.col("n_grams") > 0,
                F.col("n_dup_grams").cast("double")
                / F.col("n_grams").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "dup_token_share",
            # same degenerate-row guard as dup_gram_share: a NULL/empty
            # doc must report 0.0, not NULL/-0.0 (and is_substring_dup
            # must stay boolean, never NULL)
            F.when(
                F.col("n_tokens") > 0,
                F.col("covered_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "is_substring_dup", F.col("dup_token_share") >= F.lit(flag_share)
        )
    )


def trim_repeated_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove cross-document duplicated k-gram spans from every
    document — the TRANSFORM half of Lee et al.'s substring dedup
    (:func:`repeated_ngram_report` is the report half; this actually
    drops the duplicated tokens and re-assembles the text).

    Output: (doc_id, n_tokens, n_kept, n_removed, trimmed_text) where
    trimmed_text is the normalized document with every token covered
    by a duplicated span removed, remaining tokens in original order
    (an exact duplicate trims to the empty string).

    Scale design: the covered-position set explodes each duplicated
    interval into its k positions (bounded fan-out, k rows per dup
    gram) and deduplicates on (doc, position) — a narrow two-int key.
    Token removal is a LEFT ANTI join on that key; reassembly sorts
    each document's surviving (position, token) pairs inside a
    per-doc aggregate (``array_sort`` over the collected structs — the
    sort is per-document, never a global order-by). Cost is linear in
    corpus tokens; the per-doc collect is bounded by document length,
    the same bound `documents.text` itself already imposes on a row.
    Four consumers read the token table (base, positional grams,
    distinct grams, the position-word explode) — it is PINNED so the
    corpus normalize scan runs once (sf0.1 interleaved best-of-3:
    2.35s pinned vs 2.93s not).
    """
    toks = pin(token_table(docs, id_col, text_col))
    base = toks.select("doc_id", F.size("toks").cast("int").alias("n_tokens"))
    dp = _cross_doc_dup_positions(toks, k, min_docs)
    covered = dp.select(
        "doc_id", F.explode(F.sequence("i", "e")).alias("t")
    ).distinct()
    posw = toks.select(
        "doc_id", F.posexplode("toks").alias("t0", "w")
    ).select("doc_id", (F.col("t0") + 1).alias("t"), "w")
    kept = posw.join(covered, ["doc_id", "t"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "w"))),
                lambda s: s["w"],
            ),
        ).alias("trimmed_text"),
    )
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
            (
                F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))
            ).cast("int").alias("n_removed"),
            F.coalesce("trimmed_text", F.lit("")).alias("trimmed_text"),
        )
    )


def maximal_dup_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MAXIMAL duplicated passages per document — one row per maximal
    contiguous run of tokens covered by cross-document duplicated
    k-grams: (doc_id, span_start, span_end, span_len, span_text).

    :func:`repeated_ngram_report`'s islands merge OVERLAPPING
    intervals (enough for exact coverage totals) but split a
    contiguous covered run where two duplicated grams are exactly
    adjacent (positions p and p+k: intervals [p, p+k-1], [p+k,
    p+2k-1] touch without overlapping).  Spans here merge on
    ADJACENCY (a new span starts only when i > prev_end + 1), so
    every reported row is a whole duplicated passage, maximal in the
    strict sense: the token before ``span_start`` and after
    ``span_end`` are NOT covered by any duplicated gram
    (property-pinned in tests/test_selection.py).

    :func:`trim_repeated_spans` is unaffected — it removes the
    covered-position UNION, which equals the union of these maximal
    spans; this operator exists to hand the passages themselves to
    curation review / attribution, the span-level artifact Lee et
    al.'s substring dedup reports.

    Scale shape matches the report: md5-hashed grams pre-shuffle,
    doc-partitioned island windows, span text re-assembled by a
    ``slice`` of the pinned token array (never a global sort).
    """
    toks = pin(token_table(docs, id_col, text_col))
    dp = _cross_doc_dup_positions(toks, k, min_docs)
    w_prev = (
        W_.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(W_.unboundedPreceding, -1)
    )
    w_run = (
        W_.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(W_.unboundedPreceding, 0)
    )
    spans = (
        dp.withColumn("pe", F.max("e").over(w_prev))
        .withColumn(
            "new_isl",
            F.when(
                F.col("pe").isNull() | (F.col("i") > F.col("pe") + 1), 1
            ).otherwise(0),
        )
        .withColumn("isl", F.sum("new_isl").over(w_run))
        .groupBy("doc_id", "isl")
        .agg(
            F.min("i").cast("int").alias("span_start"),
            F.max("e").cast("int").alias("span_end"),
        )
        .drop("isl")
    )
    return spans.join(toks, "doc_id").select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("toks"),
                F.col("span_start"),
                F.col("span_end") - F.col("span_start") + 1,
            ),
        ).alias("span_text"),
    )


# ---------------------------------------------------------------------------
# exact-duplicate RESOLUTION: keep the best copy, not the first
# ---------------------------------------------------------------------------

def _content_hash() -> Column:
    """NULL-safe content hash over the shared token array: NULL text
    (NULL toks) hashes to NULL — never equal to anything in a join,
    exactly like fingerprint_md5(NULL) in exact_dedup.  concat_ws
    treats a NULL array as '' , so the unguarded form hashed NULL-text
    docs identically to EMPTY docs and the exact tiers disagreed on
    the same corpus (r10 review finding)."""
    return F.when(
        F.col("toks").isNull(), F.lit(None).cast("string")
    ).otherwise(F.md5(F.concat_ws(" ", "toks")))


def _df_capped(
    shingles: DataFrame, max_df: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """(capped shingles, stop set or None) — THE df-cap stop-shingle
    block (was copy-pasted at four sites; one copy means a cap change
    cannot drift between the batch, incremental, and indexed paths)."""
    if max_df is None:
        return shingles, None
    freq = shingles.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    stop = freq.filter(F.col("df") > max_df).select("s")
    return shingles.join(F.broadcast(stop), "s", "left_anti"), stop


def _best_near_match(
    sh_new: DataFrame,
    sh_ex: DataFrame,
    sizes_new: DataFrame,
    sizes_ex: DataFrame,
    threshold: float,
) -> DataFrame:
    """Per-new-doc best near-duplicate: common-shingle count join ->
    exact-arithmetic Jaccard -> threshold -> one row per doc_id
    (jaccard desc, match_id asc).  ONE copy shared by incremental_dedup
    and probe_dedup_index — the registered lifecycle contract is that
    the indexed path must not change a single verdict, so the scoring
    pipeline must not be able to drift between them (r10 review
    finding).  ``sizes_ex`` carries (match_id, n_ex)."""
    common = (
        sh_new.alias("a")
        .join(sh_ex.alias("b"), F.col("a.s") == F.col("b.s"))
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("match_id"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = (
        common.join(sizes_new, "doc_id")
        .join(sizes_ex, "match_id")
        .select(
            "doc_id",
            "match_id",
            (
                F.col("c") / (F.col("n_new") + F.col("n_ex") - F.col("c"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = W_.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _verdict_frame(exact: DataFrame, best: DataFrame) -> DataFrame:
    """exact-tier left join + the three-way verdict projection shared
    by the incremental and indexed classifiers."""
    return exact.join(best, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("exact_match_id").isNotNull(), F.lit("exact_dup"))
        .when(F.col("match_id").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("novel"))
        .alias("verdict"),
        F.coalesce("exact_match_id", "match_id").alias("match_id"),
        F.when(F.col("exact_match_id").isNull(), F.col("jaccard")).alias(
            "jaccard"
        ),
    )


def keep_best_dedup(
    docs: DataFrame,
    score: Column,
    priority: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per distinct normalized text, keeping the BEST copy.

    `exact_dedup` keeps the minimum id — fine for counting, wrong for
    curation: when the same document arrives from several sources, the
    pipeline should keep the copy with the highest quality ``score``
    (ties broken by ascending source ``priority``, then id).  Output:
    (content_hash, n_copies, n_sources, kept_id, kept_priority,
    dropped_ids) where dropped_ids is a stable comma-joined list.

    ``n_sources`` counts DISTINCT PRIORITY VALUES among the copies —
    a true source count only when the caller's source → priority
    mapping is injective; two sources that map to the same priority
    tier count once (the registered query derives priority from the
    source id injectively, so there it IS the source count).

    Scale: one shuffle on content_hash (uniform by construction); the
    rank is a window over groups whose size equals the duplicate
    multiplicity (bounded, typically tiny), and the dropped-id list
    aggregates within the same partitioning, so the whole resolution
    is a single exchange.  ``score``/``priority`` are evaluated
    map-side before the shuffle.
    """
    scored = docs.select(
        F.col(id_col).alias("_id"),
        fingerprint_md5(F.col(text_col)).alias("content_hash"),
        score.alias("_score"),
        priority.alias("_prio"),
    )
    w = W_.partitionBy("content_hash").orderBy(
        F.col("_score").desc(), F.col("_prio").asc(), F.col("_id").asc()
    )
    ranked = scored.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("_prio").alias("n_sources"),
            F.max(F.when(F.col("_rn") == 1, F.col("_id"))).alias("kept_id"),
            F.max(F.when(F.col("_rn") == 1, F.col("_prio"))).alias(
                "kept_priority"
            ),
            F.concat_ws(
                ",",
                F.sort_array(
                    F.collect_list(F.when(F.col("_rn") > 1, F.col("_id")))
                ),
            ).alias("dropped_ids"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup: classify a NEW batch against the standing corpus
# ---------------------------------------------------------------------------

def incremental_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per NEW document: ``(doc_id, verdict, match_id, jaccard)`` with
    verdict ``exact_dup`` (normalized text already in the corpus,
    match = smallest matching corpus id), ``near_dup`` (best corpus
    neighbor with shingle Jaccard >= threshold; ``exact_dup`` takes
    precedence and nulls the score), or ``novel``.

    The daily-crawl contract: the batch is classified against the
    standing corpus WITHOUT re-pairing the corpus against itself —
    the join is asymmetric (batch shingles x corpus shingles), so per-
    load cost is O(|batch| x blocking), not O(|corpus|^2) and not even
    O(|corpus| log |corpus|) beyond the one corpus-side scan.

    Blocking: the stop-shingle df-cap is computed over the CORPUS side
    only, so a batch's verdicts do not depend on what else happened to
    arrive in the same batch (stable under batch re-partitioning), and
    the per-shingle fan-out is bounded by max_df exactly as in
    :func:`jaccard_pairs`. Sizes on both sides use the capped
    vocabulary, keeping the score a true Jaccard on the filtered
    space. At 100 TB the corpus shingle table is the dominant cost:
    materialize it as a bucketed table (bucketed on ``s``) to amortize
    across loads (:func:`build_dedup_index`).

    Determinism: integer counts -> exact double division; best match
    breaks score ties on smallest corpus id via row_number.
    """
    # ONE normalize+tokenize pass per side: the content hash re-derives
    # the normalized text from the token array (concat_ws(" ", toks)
    # inverts the whitespace-collapsing tokenization exactly — the
    # multi_signal_dedup identity) so the exact tier and the shingle
    # tier share the scan instead of each re-running the regex
    # normalize over the corpus (the module's one-tokenize-pass rule).
    # The pin makes the sharing REAL at execution, not just in the
    # lineage: the corpus side has 4 consumers (hash groups, df cap,
    # candidate join, sizes), and unpinned each re-scans+normalizes —
    # free under a warm local page cache (A/B: 2.24s vs 2.28s warm at
    # sf0.1) but 2.8x on the cold first pass (7.7s vs 2.7s), which is
    # the crawl-scale shape.
    toks_new = pin(token_table(new_docs, id_col, text_col))
    toks_ex = pin(token_table(existing_docs, id_col, text_col))
    new_h = toks_new.select("doc_id", _content_hash().alias("content_hash"))
    ex_canon = (
        toks_ex.select(
            _content_hash().alias("content_hash"),
            F.col("doc_id").alias("_m"),
        )
        .groupBy("content_hash")
        .agg(F.min("_m").alias("exact_match_id"))
    )
    exact = new_h.join(ex_canon, "content_hash", "left").select(
        "doc_id", "exact_match_id"
    )

    sh_new = shingles_from_tokens(toks_new, k)
    sh_ex = shingles_from_tokens(toks_ex, k)
    if max_df is not None:
        # the cap is derived from the CORPUS side only (the batch must
        # not shift the stop set), then applied to both sides
        sh_ex, stop = _df_capped(sh_ex, max_df)
        sh_new = sh_new.join(F.broadcast(stop), "s", "left_anti")
    sizes_new = sh_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    sizes_ex = (
        sh_ex.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_ex"))
        .withColumnRenamed("doc_id", "match_id")
    )
    best = _best_near_match(sh_new, sh_ex, sizes_new, sizes_ex, threshold)
    return _verdict_frame(exact, best)


def build_dedup_index(
    docs: DataFrame,
    index_dir: str,
    *,
    k: int = 3,
    max_df: int | None = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """BUILD-ONCE half of the production incremental-dedup lifecycle:
    materialize the standing corpus's dedup index to ``index_dir`` —
    ``hashes`` (content_hash -> smallest owning doc id), ``shingles``
    (df-capped (doc_id, s), written clustered by shingle), ``sizes``
    (per-doc capped-vocabulary shingle counts), ``stop`` (the
    df>max_df shingles the probe side must also drop), and a one-row
    ``meta`` pinning (k, max_df) so a probe with mismatched
    parameters fails loudly instead of silently scoring a different
    Jaccard space.

    :func:`incremental_dedup` recomputes all of this per batch —
    right for a one-shot; a daily-ingest pipeline builds the index
    once per corpus snapshot and probes it per batch, so the corpus
    scan+normalize+shingle cost is paid once, not once per load.
    ``shingles`` is repartitioned by ``s`` at write so probe-side
    shingle joins read s-clustered files; on a catalog-backed
    deployment write it ``bucketBy(s)`` (sources/warehouse.py) and
    the probe join shuffles ONLY the batch side.
    """
    toks = pin(token_table(docs, id_col, text_col))
    (
        toks.select(
            _content_hash().alias("content_hash"),
            F.col("doc_id").alias("_m"),
        )
        .groupBy("content_hash")
        .agg(F.min("_m").alias("exact_match_id"))
        .write.mode("overwrite")
        .parquet(index_dir + "/hashes")
    )
    sh = shingles_from_tokens(toks, k)
    if max_df is not None:
        sh, stop = _df_capped(sh, max_df)
        stop.write.mode("overwrite").parquet(index_dir + "/stop")
    else:
        stop_schema = "s string"
        docs.sparkSession.createDataFrame([], stop_schema).write.mode(
            "overwrite"
        ).parquet(index_dir + "/stop")
    sh = pin(sh)
    sh.repartition("s").write.mode("overwrite").parquet(
        index_dir + "/shingles"
    )
    (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_ex"))
        .write.mode("overwrite")
        .parquet(index_dir + "/sizes")
    )
    docs.sparkSession.createDataFrame(
        [(int(k), -1 if max_df is None else int(max_df))],
        "k int, max_df int",
    ).write.mode("overwrite").parquet(index_dir + "/meta")


def probe_dedup_index(
    new_docs: DataFrame,
    spark,
    index_dir: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PROBE-MANY half: classify a batch against a prebuilt
    :func:`build_dedup_index` with the SAME output contract as
    :func:`incremental_dedup` (doc_id, verdict, match_id, jaccard).

    Per-load cost touches the batch (tokenize once, pinned) plus
    index READS — never a corpus re-scan, never a corpus re-shingle.
    The stop-shingle set comes from the index, so batch verdicts stay
    stable regardless of batch composition, and (k, max_df) are
    validated against the index's recorded build parameters.
    """
    meta = spark.read.parquet(index_dir + "/meta").collect()[0]
    want_df = -1 if max_df is None else int(max_df)
    if (meta["k"], meta["max_df"]) != (int(k), want_df):
        raise ValueError(
            f"index built with (k={meta['k']}, max_df={meta['max_df']}), "
            f"probe asked (k={k}, max_df={want_df}) — rebuild or match"
        )
    eh = spark.read.parquet(index_dir + "/hashes")
    shc_ex = spark.read.parquet(index_dir + "/shingles")
    sizes_ex = spark.read.parquet(index_dir + "/sizes").withColumnRenamed(
        "doc_id", "match_id"
    )
    stop = spark.read.parquet(index_dir + "/stop")

    toks_new = pin(token_table(new_docs, id_col, text_col))
    new_h = toks_new.select("doc_id", _content_hash().alias("content_hash"))
    exact = new_h.join(eh, "content_hash", "left").select(
        "doc_id", "exact_match_id"
    )
    sh_new = shingles_from_tokens(toks_new, k).join(
        F.broadcast(stop), "s", "left_anti"
    )
    sizes_new = sh_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    best = _best_near_match(sh_new, shc_ex, sizes_new, sizes_ex, threshold)
    return _verdict_frame(exact, best)
