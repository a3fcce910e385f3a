"""Randomized property tests for the round-5 sketch/layout/top-k
operators — Python references drive Hypothesis-generated inputs
through the Spark implementations.

Each property is the operator's load-bearing contract: z-key
injectivity (files can't merge distant points), Bloom
no-false-negatives (the exact-verify pruning is only sound without
them), CMS/HLL never-undercount/merge laws, and top-k equivalence to
the window form on arbitrary data including ties.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from business_intelligence_and_data_warehouse_spark.operators.layout import (
    zorder_key,
)
from business_intelligence_and_data_warehouse_spark.operators.sketches import (
    bloom_build,
    bloom_probe,
    cms_build,
    cms_estimate,
)
from business_intelligence_and_data_warehouse_spark.operators.topk import (
    topk_per_group,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _zorder_reference(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


@settings(**_SETTINGS)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1023),
            st.integers(min_value=0, max_value=1023),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_zorder_matches_reference_and_is_injective(spark, pts):
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], 10).alias("z")
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == _zorder_reference(x, y, 10)
    # injective on the domain: distinct points -> distinct z
    assert len(set(got.values())) == len(set(pts))


@settings(**_SETTINGS)
@given(
    members=st.lists(
        st.text(
            alphabet="abcdefghij0123456789", min_size=1, max_size=12
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_bloom_never_misses_a_member(spark, members):
    df = spark.createDataFrame([(m,) for m in members], ["key"])
    bloom = bloom_build(df, "key")
    probed = bloom_probe(df, "key", bloom).collect()
    assert all(r.bloom_positive for r in probed)


@settings(**_SETTINGS)
@given(
    stream=st.lists(
        st.integers(min_value=0, max_value=25), min_size=1, max_size=120
    )
)
def test_cms_point_estimates_never_undercount(spark, stream):
    df = spark.createDataFrame([(str(v),) for v in stream], ["key"])
    cms = cms_build(df, "key", depth=3, width=64)
    exact = df.groupBy("key").agg(F.count(F.lit(1)).alias("exact"))
    rows = cms_estimate(exact, "key", cms, depth=3, width=64).collect()
    truth = {}
    for v in stream:
        truth[str(v)] = truth.get(str(v), 0) + 1
    assert {r.key: r.exact for r in rows} == truth
    assert all(r.est_count >= r.exact for r in rows)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # group
            st.integers(min_value=-50, max_value=50),  # value (ties!)
            st.integers(min_value=0, max_value=10**6),  # unique-ish id
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_topk_matches_python_reference_with_ties(spark, rows, k):
    # dedupe ids so the tie-break column is a key
    seen, uniq = set(), []
    for g, v, i in rows:
        if i not in seen:
            seen.add(i)
            uniq.append((g, v, i))
    df = spark.createDataFrame(uniq, "g int, v int, id int")
    got = sorted(
        (r.g, r.rank, r.v, r.id)
        for r in topk_per_group(df, ["g"], "v", "id", k).collect()
    )
    ref = []
    by_g: dict[int, list] = {}
    for g, v, i in uniq:
        by_g.setdefault(g, []).append((v, i))
    for g, items in by_g.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        for rank, (v, i) in enumerate(items[:k], start=1):
            ref.append((g, rank, v, i))
    assert got == sorted(ref)


def _py_rho16(v: int) -> int:
    """Reference: leading-zero rank of a 16-bit window (17 if zero)."""
    return 17 if v == 0 else 17 - v.bit_length()


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=65535), min_size=1, max_size=50
    )
)
def test_hll_rho_ladder_matches_bit_length_reference(spark, vals):
    from business_intelligence_and_data_warehouse_spark.operators.sketches import (
        _rho16,
    )

    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {
        r.v: r.rho
        for r in df.select("v", _rho16(F.col("v")).alias("rho")).collect()
    }
    for v in set(vals):
        assert got[v] == _py_rho16(v), v


@settings(**_SETTINGS)
@given(
    n=st.integers(min_value=1, max_value=12),
    d_out=st.sampled_from([4, 8]),
)
def test_random_projection_signs_match_python_md5(spark, n, d_out):
    """The arithmetic sign matrix is the whole 'no shipped state'
    claim: any engine (here: plain Python hashlib) must regenerate the
    identical projection."""
    import hashlib

    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        random_projection,
    )

    vecs = [
        (i, [((i * 7 + j * 3) % 13) / 13.0 for j in range(64)])
        for i in range(n)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        (r.vid, r.j): r.proj
        for r in random_projection(df, d_out=d_out).collect()
    }

    def sign(i, j):
        h = hashlib.md5(f"{i}_{j}".encode()).hexdigest()
        return 1 if int(h[0], 16) < 8 else -1

    import math

    for vid, emb in vecs:
        e = [math.floor(x * 1e6) for x in emb]
        for j in range(d_out):
            want = sum(e[i] * sign(i, j) for i in range(64))
            assert got[(vid, j)] == want, (vid, j)


# ---------------------------------------------------------------------------
# round-6 operators: quantile sketch, domain quota, counting IVM
# ---------------------------------------------------------------------------


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=1, max_value=20),
)
def test_quantile_sketch_matches_python_bottom_k(spark, vals, k):
    """Sketch content == the k md5-smallest rows computed in Python,
    and the estimate at q=0.5 == the type-1 median of that sample."""
    import hashlib
    import math

    from business_intelligence_and_data_warehouse_spark.operators.sketches import (
        quantile_sketch_build,
        quantile_sketch_quantiles,
    )

    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, value double")
    sk = quantile_sketch_build(df, "value", F.col("id"), k=k)
    got = sorted((r.priority, r.value) for r in sk.collect())
    ref = sorted(
        (hashlib.md5(str(i).encode()).hexdigest(), v) for i, v in rows
    )[:k]
    assert got == sorted(ref)

    est = quantile_sketch_quantiles(sk, (0.5,)).collect()
    n = min(k, len(rows))
    want_rank = max(math.ceil(0.5 * n), 1)
    by_value = sorted(ref, key=lambda t: (t[1], t[0]))
    assert est[0].est == by_value[want_rank - 1][1]


@settings(**_SETTINGS)
@given(
    toks=st.lists(st.integers(min_value=1, max_value=30), min_size=0, max_size=50),
    cap=st.integers(min_value=1, max_value=300),
)
def test_domain_quota_greedy_prefix_property(spark, toks, cap):
    """Kept set == the greedy hash-ordered prefix whose running total
    stays within the cap, computed independently in Python."""
    import hashlib

    from business_intelligence_and_data_warehouse_spark.operators.split import (
        domain_token_quota,
    )

    rows = [(i, "d", t) for i, t in enumerate(toks)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    kept = sorted(r.doc_id for r in domain_token_quota(df, cap).collect())

    def bucket(i):
        hx = hashlib.md5(str(i).encode()).hexdigest()
        return int(hx[:3], 16)

    total, want = 0, []
    for i, _, t in sorted(rows, key=lambda r: (bucket(r[0]), r[0])):
        total += t
        if total > cap:
            break
        want.append(i)
    assert kept == sorted(want)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12).map(
            lambda cs: " ".join(cs)
        ),
        min_size=2,
        max_size=8,
    )
)
def test_containment_matches_python_set_reference(spark, docs):
    """containment == |A∩B| / min(|A|,|B|) over the per-doc DISTINCT
    3-shingle sets, computed independently in Python (uncapped)."""
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        containment_pairs,
        shingle_table,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.containment)
        for r in containment_pairs(
            shingle_table(df, 3), threshold=0.0, max_df=None
        ).collect()
    }

    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: shingles(t) for i, t in rows}
    for (ia, ta) in rows:
        for (ib, tb) in rows:
            if ia >= ib or not sets[ia] or not sets[ib]:
                continue
            inter = len(sets[ia] & sets[ib])
            if inter == 0:
                assert (ia, ib) not in got
                continue
            n, c = got[(ia, ib)]
            assert n == inter
            assert c == inter / min(len(sets[ia]), len(sets[ib]))
