"""Relational reference form of the SimHash signature pass.

operators/dedup.simhash_from_tokens computes SimHash signatures as ONE
in-task ``mapInArrow`` pass.  The function here states the same
signature relationally — an exploded token table, a tf aggregate and
per-bit vote sums over md5 hex slices — which is also the bit layout
the SQL oracles replay, so tests can pin the Arrow pass against it.
It is a reference, not a production path: it runs two exchanges where
the Arrow pass runs none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
