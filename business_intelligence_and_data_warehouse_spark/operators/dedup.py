"""Deduplication operators for large-scale document pipelines.

Five dedup families:

* exact           — hash-groupBy over normalized text (md5)
* MinHash + LSH   — per-document band keys -> band-key self-join ->
                    exact Jaccard of the candidate pairs
* SimHash         — token-majority bit signature + pigeonhole-key
                    self-join -> Hamming filter
* n-gram Jaccard  — shingle-set similarity join with a document-
                    frequency cap (prefix-filter style) on the join key
* embedding cosine— near-duplicate pairs over an embedding column
                    (see operators/similarity.py for the math)

The MinHash and SimHash signatures come from ONE in-task Arrow pass
over each document's token array (:func:`doc_signatures`): a
document's tokens already sit together in one cell, so shingling,
hashing and the signature minima are per-row work, not a shuffle.  The
df-capped n-gram family needs corpus-wide shingle document
frequencies, which no per-document pass can supply, so it stays on
exploded (doc, shingle) rows.

Scale design (100 TB):
* the only shuffles are keyed on content hashes / shingles / band and
  block keys — uniformly distributed by construction;
* the shingle self-join is the classic quadratic trap: a stop-shingle
  appearing in f documents contributes f^2 candidate pairs. The
  `max_df` cap drops shingles with document frequency > max_df from
  CANDIDATE GENERATION only (standard prefix-filtering); verification
  still uses the full shingle sets, so precision is exact and only
  recall of pathologically-common-content pairs is affected.
* MinHash banding keeps candidate generation linear: a document emits
  exactly `bands` band keys.

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

from collections import Counter

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W_
from pyspark.sql import functions as F

from ..session import local_frame
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
# shingle machinery of the df-capped Jaccard family
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
# per-document signatures: ONE Arrow pass for MinHash and SimHash
# ---------------------------------------------------------------------------

def doc_signatures(
    toks_table: DataFrame,
    *,
    k: int | None = None,
    bands: int = 4,
    rows_per_band: int = 2,
    num_bits: int | None = None,
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """Every per-document dedup signature of a (doc_id, toks) table in
    ONE in-task ``mapInArrow`` pass — no exchange.  A document's tokens
    already sit together in its array cell, so shingling, hashing and
    the signature minima are per-row work, not a shuffle.

    One row per input document:

    * ``k`` set — ``sh``: the DISTINCT k-shingles (space-joined tokens;
      empty when the document has fewer than k tokens), and ``mh``: the
      ``bands`` MinHash band keys (NULL without shingles).  Band key b
      is the 4-byte big-endian ``b`` followed by the band's
      ``rows_per_band`` minima, 4 bytes each.  Hash h is the 32-bit
      word ``h % 4`` of md5(s) (``h < 4``) or of md5(f"{h // 4}|" + s):
      four hash functions per digest, and the integer minimum of a
      word is the minimum of its 8-hex slice, so the keys are
      bit-identical to the SQL oracle's ``min(substr(md5(s), ...))``.
      32-bit words keep the minimum non-degenerate for any real
      per-document shingle count (16-bit minima collapse toward 0 near
      2^16 shingles and re-create hot band buckets).
    * ``num_bits`` set — ``simhash``: the tf-weighted SimHash (vote bit
      j is the high bit of hex digit j of md5(token); the signature bit
      is set where the vote sum is > 0), and ``hk``: its two-level
      pigeonhole keys (see :func:`simhash_near_dups`), each
      (block j, block value, sub-block s, sub-block value) packed into
      one long.  Both are NULL for a NULL or empty token array.
      ``num_bits`` is capped at 32: the vote bits read md5 hex nibbles,
      and bits past 32 would read past the digest.

    Consumers pair documents by self-joining the exploded key column
    (:func:`_key_pairs`).  Parity with the exploded JVM forms is pinned
    in tests/test_pipeline.py against tests/dedup_reference.py.

    The pass keeps its input's partitioning.  It does not probe it: on
    a shuffled input ``rdd.getNumPartitions()`` runs the input's
    shuffle stages while the plan is being built.
    """
    if num_bits is not None and not 1 <= num_bits <= 32:
        raise ValueError(
            f"num_bits must be in [1, 32] (md5-nibble vote bits), "
            f"got {num_bits}"
        )
    if max_hamming > num_blocks - 1:
        raise ValueError(
            f"pigeonhole blocking with {num_blocks} blocks is only exact "
            f"for max_hamming <= {num_blocks - 1}, got {max_hamming}"
        )
    n_hashes = bands * rows_per_band
    width = (num_bits or 0) // num_blocks
    n_sub = max_hamming + 1
    sub_width = max(((num_bits or 0) - width) // n_sub, 1)

    def sign(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        salts = [b""] + [
            f"{d}|".encode() for d in range(1, (n_hashes + 3) // 4)
        ]
        votes_of: dict[str, np.ndarray] = {}
        weights = 1 << np.arange(num_bits or 0, dtype=np.int64)

        def votes(tok: str) -> np.ndarray:
            got = votes_of.get(tok)
            if got is None:
                dg = np.frombuffer(
                    md5(tok.encode("utf-8")).digest(), np.uint8
                )[: (num_bits + 1) // 2]
                nibs = np.empty(len(dg) * 2, dtype=np.int64)
                nibs[0::2] = dg >> 4
                nibs[1::2] = dg & 15
                got = ((nibs[:num_bits] >> 3) & 1) * 2 - 1
                votes_of[tok] = got
            return got

        def band_keys(sh: list[str]) -> list[bytes] | None:
            if not sh:
                return None
            words = np.frombuffer(
                b"".join(
                    md5(salt + e).digest()
                    for e in (s.encode("utf-8") for s in sh)
                    for salt in salts
                ),
                ">u4",
            ).reshape(len(sh), -1)
            # a reduction returns native byte order: back to big-endian
            mins = words[:, :n_hashes].min(axis=0).astype(">u4")
            r = rows_per_band
            return [
                b.to_bytes(4, "big") + mins[b * r : (b + 1) * r].tobytes()
                for b in range(bands)
            ]

        def hamming_keys(sig: int) -> list[int]:
            out = []
            for j in range(num_blocks):
                block = (sig >> (j * width)) & ((1 << width) - 1)
                comp = ((sig >> ((j + 1) * width)) << (j * width)) | (
                    sig & ((1 << (j * width)) - 1)
                )
                for s in range(n_sub):
                    sub = (comp >> (s * sub_width)) & ((1 << sub_width) - 1)
                    out.append(
                        (((j * n_sub + s) << width | block) << sub_width) | sub
                    )
            return out

        for batch in batches:
            toks_col = batch.column("toks").to_pylist()
            cols = {"doc_id": batch.column("doc_id").cast(pa.int64())}
            if k is not None:
                shs = [
                    list(
                        dict.fromkeys(
                            " ".join(t[i : i + k])
                            for i in range(len(t) - k + 1)
                        )
                    )
                    if t and len(t) >= k
                    else []
                    for t in toks_col
                ]
                cols["sh"] = pa.array(shs, pa.list_(pa.string()))
                cols["mh"] = pa.array(
                    [band_keys(sh) for sh in shs], pa.list_(pa.binary())
                )
            if num_bits is not None:
                sigs, keys = [], []
                for t in toks_col:
                    if not t:
                        sigs.append(None)
                        keys.append(None)
                        continue
                    v = np.zeros(num_bits, dtype=np.int64)
                    for tok, c in Counter(t).items():
                        v += votes(tok) * c
                    sig = int(weights[v > 0].sum())
                    sigs.append(sig)
                    keys.append(hamming_keys(sig))
                cols["simhash"] = pa.array(sigs, pa.int64())
                cols["hk"] = pa.array(keys, pa.list_(pa.int64()))
            yield pa.record_batch(cols)

    schema = ["doc_id long"]
    if k is not None:
        schema += ["sh array<string>", "mh array<binary>"]
    if num_bits is not None:
        schema += ["simhash long", "hk array<long>"]
    return toks_table.select("doc_id", "toks").mapInArrow(
        sign, ", ".join(schema)
    )


def _key_pairs(sigs: DataFrame, keys: str, *payload: str) -> DataFrame:
    """Each document pair (x.doc_id < y.doc_id) sharing a key of the
    ``keys`` array, ONCE: a pair is kept only at the first key position
    where the two arrays agree, so no pair distinct (and its exchange)
    follows.  ``x.<col>`` / ``y.<col>`` carry ``payload``.

    The join runs on one key column, and the ``merge`` hint fixes its
    strategy: both sides are the same exchange, and left to itself AQE
    broadcasts whichever side's stage has finished when it re-plans,
    so the build side flipped from run to run and each flip compiled
    new join code.  A sort-merge join has no build side and spills a
    hot key instead of holding it in one hash map, at any scale."""
    rows = sigs.select(
        "doc_id", keys, *payload, F.posexplode(keys).alias("_pos", "_key")
    )
    x = rows.alias("x")
    y = rows.alias("y").hint("merge")
    # equal keys sit at equal positions (each key embeds its band or
    # block index); reading _pos on BOTH sides keeps the two sides'
    # columns identical, so they share one exchange
    return x.join(
        y,
        (F.col("x._key") == F.col("y._key"))
        & (F.col("x.doc_id") < F.col("y.doc_id"))
        & ~F.arrays_overlap(
            F.slice(F.col(f"x.{keys}"), 1, F.col("x._pos")),
            F.slice(F.col(f"y.{keys}"), 1, F.col("y._pos")),
        ),
    )


def minhash_band_pairs(sigs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every MinHash candidate pair — a
    shared band key — with its EXACT shingle-set Jaccard
    |A ∩ B| / (|A| + |B| - |A ∩ B|) over the two ``sh`` arrays
    (integer sizes -> exact doubles, engine-parity safe).  A candidate
    sharing no shingle scores 0."""
    common = F.size(F.array_intersect("x.sh", "y.sh"))
    return _key_pairs(sigs, "mh", "sh").select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        (
            common / (F.size("x.sh") + F.size("y.sh") - common)
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_lsh_dedup(
    docs: DataFrame,
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup pairs (doc_a, doc_b, jaccard), doc_a < doc_b,
    with exact shingle-set Jaccard >= threshold.

    Each document emits `bands` band keys, each over `rows_per_band`
    min-hashes (:func:`doc_signatures`); any shared band key makes a
    candidate pair (collision probability 1-(1-J^r)^b), and ONLY the
    candidates are verified, over the pair's two shingle arrays — never
    the all-pairs shingle self-join, where a stop-shingle shared by f
    documents would contribute f² rows regardless of banding.  One
    exchange: the band-key self-join.
    """
    sigs = doc_signatures(
        token_table(docs, id_col, text_col),
        k=k,
        bands=bands,
        rows_per_band=rows_per_band,
    )
    return minhash_band_pairs(sigs).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    docs: DataFrame,
    num_bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Term-frequency-weighted SimHash signature (doc_id, simhash),
    num_bits <= 32, one bit per md5 hex digit.

    Each token votes +tf/-tf per bit according to one bit of its md5;
    the signature takes the majority sign per bit. Near-duplicate
    documents differ in few bits (Hamming distance).  Computed in the
    one Arrow pass of :func:`doc_signatures`; a document with an empty
    or NULL token array has no signature and no row.
    """
    return (
        doc_signatures(token_table(docs, id_col, text_col), num_bits=num_bits)
        .filter(F.col("simhash").isNotNull())
        .select("doc_id", "simhash")
    )


def simhash_near_dups(
    docs: DataFrame,
    num_bits: int = 32,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_blocks: int = 4,
) -> DataFrame:
    """Pairs of documents (doc_a, doc_b, hamming) within a Hamming ball
    of the SimHash.

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
    selectivity while never losing a pair. Each document emits a fixed
    num_blocks × (max_hamming + 1) keys — linear — packed one long each
    by :func:`doc_signatures`, so the candidate join is one self-join
    on one key column.
    """
    sigs = doc_signatures(
        token_table(docs, id_col, text_col),
        num_bits=num_bits,
        max_hamming=max_hamming,
        num_blocks=num_blocks,
    )
    return _hamming_pairs(sigs, max_hamming)


def _hamming_pairs(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """(doc_a, doc_b, hamming) for the pairs sharing a pigeonhole key
    and within ``max_hamming`` bits."""
    return (
        _key_pairs(sigs, "hk", "simhash")
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
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
    standalone operators each repeat it.  Here the token table is
    computed once; the content hash comes from it, and ONE
    :func:`doc_signatures` pass derives both the MinHash band keys and
    the SimHash keys from it.  The pair sets are exactly those of
    :func:`minhash_lsh_dedup` and :func:`simhash_near_dups`.
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
    # pinned: the band-key and the Hamming-key self-joins read it
    # through two different exchanges, and each would re-run the
    # Python pass
    sigs = pin(
        doc_signatures(
            toks,
            k=k,
            bands=bands,
            rows_per_band=rows_per_band,
            num_bits=num_bits,
            max_hamming=max_hamming,
        )
    )
    near = minhash_band_pairs(sigs).filter(F.col("jaccard") >= threshold)
    ham = _hamming_pairs(sigs, max_hamming)
    # both pair sets are duplicate-free, so one aggregate over both
    # endpoints of both sets counts each document's two degrees
    degrees = (
        near.select("doc_a", "doc_b", F.lit(True).alias("_near"))
        .unionByName(ham.select("doc_a", "doc_b", F.lit(False).alias("_near")))
        .select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"), "_near")
        .groupBy("doc_id")
        .agg(
            F.count(F.when(F.col("_near"), 1)).alias("n_near_dup_neighbors"),
            F.count(F.when(~F.col("_near"), 1)).alias("n_hamming_neighbors"),
        )
    )
    # exact groups from the shared token array (concat_ws(" ", toks)
    # rebuilds exactly the normalized text: normalize collapses all
    # whitespace runs to single spaces before the split), as a window
    # rather than a group aggregate joined back: AQE broadcast
    # whichever side of that join finished first, so its build side
    # flipped between runs.  The degree join is pinned to sort-merge
    # for the same reason.  NULL text has no content hash and no row.
    group = W_.partitionBy("content_hash")
    return (
        toks.filter(F.col("content_hash").isNotNull())
        .select(
            "doc_id",
            "content_hash",
            F.count(F.lit(1)).over(group).alias("n_exact_copies"),
            (F.col("doc_id") == F.min("doc_id").over(group)).alias(
                "is_canonical"
            ),
        )
        .join(degrees.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            "content_hash",
            "n_exact_copies",
            "is_canonical",
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
        local_frame(docs.sparkSession, [], [("s", pa.string())]).write.mode(
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
    local_frame(
        docs.sparkSession,
        [(int(k), -1 if max_df is None else int(max_df))],
        [("k", pa.int32()), ("max_df", pa.int32())],
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
