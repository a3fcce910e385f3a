"""Reference forms of the MinHash and SimHash signature passes.

operators/dedup.doc_signatures computes every per-document dedup
signature — distinct shingles, MinHash band keys, SimHash and its
pigeonhole keys — in ONE in-task ``mapInArrow`` pass, and the package
pairs documents with one self-join per key column.  The functions here
state the same signatures and pair sets the way the package used to:
exploded (doc, shingle) rows hashed in the JVM and grouped per
document, banded struct explodes, an exploded two-way shingle join for
verification, the standalone Arrow SimHash pass and its exploded JVM
twin, and the struct-explode Hamming-block join.  They are also the
shapes the SQL oracles replay, so tests pin the kernel against them.
They are references, not production paths: they run several exchanges
where the kernel runs none.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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


def simhash_from_tokens(toks_table: DataFrame, num_bits: int = 32) -> DataFrame:
    """The standalone in-task Arrow SimHash pass: (doc_id, simhash) per
    document with a non-empty token array.  Vote bit j is the high bit
    of hex digit j of md5(token); a per-task memo hashes each distinct
    token once."""
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

    return toks_table.select("doc_id", "toks").mapInArrow(
        sig, "doc_id long, simhash long"
    )


def simhash_from_tokens_jvm(
    toks_table: DataFrame, num_bits: int = 32
) -> DataFrame:
    """The retired exploded-JVM signature pass: explode -> (doc, tok)
    tf exchange -> md5 vote bits -> (doc) vote exchange."""
    if not 1 <= num_bits <= 32:
        raise ValueError(
            f"num_bits must be in [1, 32] (md5-nibble vote bits), "
            f"got {num_bits}"
        )
    toks = toks_table.select("doc_id", F.explode("toks").alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # Stage the digest as a bound column so the num_bits vote
    # expressions share ONE md5 evaluation per (doc, token) row instead
    # of hashing the token once per bit (the HOF-staging rule, SCALE.md).
    tf = tf.withColumn("h", F.md5(F.col("tok")))
    # Stage the digest's hex as FOUR 32-bit integer slices, then read
    # each vote bit with shiftright+AND: integer ops per bit instead of
    # a per-bit substring + UTF8 string compare — bit-identical
    # signatures (hex digit j's high bit == bit (7 - j%8)*4 + 3 of
    # slice j//8), measured ~1.7x faster on the cold first run at
    # sf0.1 (4.9s -> 2.9s; warm 2.4 -> 2.2).
    for k in range((num_bits + 7) // 8):
        tf = tf.withColumn(
            f"_s{k}",
            F.conv(F.substring("h", k * 8 + 1, 8), 16, 10).cast("long"),
        )
    votes = []
    for j in range(num_bits):
        k, pos = j // 8, (7 - j % 8) * 4 + 3
        bit = F.shiftright(F.col(f"_s{k}"), pos).bitwiseAND(F.lit(1))
        votes.append(F.sum((bit * 2 - 1) * F.col("tf")).alias(f"v{j}"))
    sums = tf.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(num_bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sums.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    num_bits: int = 32,
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """The struct-explode two-level pigeonhole join over a
    (doc_id, simhash) table: 16 (blk, block, sub, subval) structs per
    document at the defaults, a four-column equi-join, the Hamming
    filter, then a pair distinct."""
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
