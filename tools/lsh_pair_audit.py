"""LSH pair-normalized cost audit (VERDICT r8 item 4).

The scale ramp's wall-clock exponent for `sim_ann_lsh_sized` mixes
three things: corpus growth, the INTEGER quantization of the sized key
width w (expected bucket occupancy N/2^w oscillates in (4, 8] as w
steps), and the exact-verify stage whose cost is proportional to
CANDIDATE PAIRS, not vectors.  The honest scale metric is therefore
cost per candidate pair — this tool records, per multiplier, in ONE
co-measured session:

  * N, w = lsh_key_bits(N), expected occupancy N/2^w
  * the DIRECT candidate-pair count (the banded self-join before
    verify, counted through the same pinned key table)
  * the full-query wall (lsh_ann_pairs end-to-end, noop sink)
  * wall / pair — the pair-normalized cost that should stay ~flat
    across decades if candidate generation + verify are linear in
    their true workload

plus an optional reducer-count A/B at the largest multiplier (pass
--reducers 64,256,1024) to measure how much of the wall is
shuffle/spill pressure at the verify join's reducer width — the
round-8 x1000 analysis attributed ~2x residual to 136 reducers;
this measures instead of asserting.

Usage:
    PYTHONPATH=. python tools/lsh_pair_audit.py 10,30,100,300,1000
    PYTHONPATH=. python tools/lsh_pair_audit.py 1000 --reducers 64,256,1024
"""

from __future__ import annotations

import json
import os
import sys
import time

BASE = "/root/testdata/sf0.1"
OUT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaleramp"
)

_BANDS, _R, _MIN_COS = 4, 30, 0.4


def _dir_of(m: int) -> str:
    d = BASE if m == 1 else os.path.join(OUT_ROOT, f"x{m}")
    if not os.path.isdir(d):
        raise SystemExit(f"missing {d}; run scale_ramp.py gen {m} first")
    return d


def main() -> None:
    mults = [int(x) for x in sys.argv[1].split(",")]
    reducers = None
    if "--reducers" in sys.argv:
        reducers = [
            int(x)
            for x in sys.argv[sys.argv.index("--reducers") + 1].split(",")
        ]

    from business_intelligence_and_data_warehouse_spark.operators.caching import (
        pin,
        release_pinned,
    )
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        _lsh_candidates,
        banded_hyperplane_keys,
        lsh_ann_pairs,
        lsh_key_bits,
    )
    from business_intelligence_and_data_warehouse_spark.session import (
        get_spark,
        shuffle_partitions_for,
    )

    biggest = max(mults)
    base_bytes = sum(
        os.path.getsize(os.path.join(BASE, f)) for f in os.listdir(BASE)
    )
    spark = get_spark(
        app_name="lsh-pair-audit",
        shuffle_partitions=shuffle_partitions_for(base_bytes * biggest, 32),
    )

    for m in mults:
        d = _dir_of(m)
        emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        n = emb.count()
        w = lsh_key_bits(n, _R)
        release_pinned()
        spark.catalog.clearCache()

        # direct candidate count through the production query's key
        # table and candidate self-join (pinned, so the count's key
        # build is measured once, not re-derived)
        band_rows = pin(banded_hyperplane_keys(emb, _BANDS, _R, w))
        t0 = time.perf_counter()
        n_pairs = _lsh_candidates(band_rows).count()
        t_cand = time.perf_counter() - t0

        t0 = time.perf_counter()
        lsh_ann_pairs(
            emb, bands=_BANDS, bits_per_band=_R, key_bits=w,
            min_cosine=_MIN_COS,
        ).write.format("noop").mode("overwrite").save()
        t_query = time.perf_counter() - t0

        print(
            json.dumps(
                {
                    "mult": m,
                    "n_vectors": n,
                    "key_bits": w,
                    "expected_occupancy": round(n / 2**w, 2),
                    "candidate_pairs": n_pairs,
                    "t_candidates_s": round(t_cand, 2),
                    "t_query_s": round(t_query, 2),
                    "us_per_pair": round(t_query * 1e6 / max(n_pairs, 1), 3),
                }
            ),
            flush=True,
        )

    if reducers:
        m = biggest
        d = _dir_of(m)
        emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        n = emb.count()
        w = lsh_key_bits(n, _R)
        for r in reducers:
            release_pinned()
            spark.catalog.clearCache()
            spark.conf.set("spark.sql.shuffle.partitions", str(r))
            t0 = time.perf_counter()
            lsh_ann_pairs(
                emb, bands=_BANDS, bits_per_band=_R, key_bits=w,
                min_cosine=_MIN_COS,
            ).write.format("noop").mode("overwrite").save()
            print(
                json.dumps(
                    {
                        "reducer_ab": {
                            "mult": m,
                            "shuffle_partitions": r,
                            "t_query_s": round(time.perf_counter() - t0, 2),
                        }
                    }
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
