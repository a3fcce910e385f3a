"""Behavioral tests for the round-5 data-selection operators:
repeated n-gram spans (interval merge exactness), the corpus bigram
LM score (closed-form parity), DSIR weights (closed-form parity and
target-shift direction), and Matryoshka prefix top-k."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from business_intelligence_and_data_warehouse_spark.operators.dedup import (
    repeated_ngram_report,
)
from business_intelligence_and_data_warehouse_spark.operators.selection import (
    bigram_lm_scores,
    dsir_weights,
)
from business_intelligence_and_data_warehouse_spark.operators.similarity import (
    brute_force_topk,
    matryoshka_topk,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# repeated_ngram_report
# ---------------------------------------------------------------------------

def test_repeated_ngrams_exact_copy_fully_covered(spark):
    text = "a b c d e f g h"
    out = {
        r.doc_id: r
        for r in repeated_ngram_report(
            _docs(spark, [(1, text), (2, text), (3, "p q r s t u v w")]),
            k=5,
        ).collect()
    }
    # docs 1/2 are exact copies: every 5-gram repeats, coverage = all
    for d in (1, 2):
        assert out[d].n_grams == 4
        assert out[d].n_dup_grams == 4
        assert out[d].covered_tokens == 8
        assert out[d].dup_token_share == 1.0
        assert out[d].is_substring_dup
    # doc 3 shares nothing
    assert out[3].n_dup_grams == 0
    assert out[3].covered_tokens == 0
    assert not out[3].is_substring_dup


def test_repeated_ngrams_interval_merge_counts_overlap_once(spark):
    # doc 2 embeds doc 1's 6-token span: span grams overlap and must
    # merge to ONE 6-token island, not 2 * 5 tokens
    span = "q w e r t y"
    out = {
        r.doc_id: r
        for r in repeated_ngram_report(
            _docs(
                spark,
                [(1, span), (2, f"zz xx {span} cc vv"), (3, "m n b v c x")],
            ),
            k=5,
        ).collect()
    }
    # doc 1: 6 tokens, 2 grams, both duplicated, covered = 6 (merged)
    assert out[1].n_grams == 2
    assert out[1].n_dup_grams == 2
    assert out[1].covered_tokens == 6
    # doc 2: same two grams duplicated at offset 3..4, still 6 covered
    assert out[2].n_dup_grams == 2
    assert out[2].covered_tokens == 6
    assert out[2].n_tokens == 10
    assert out[2].dup_token_share == 0.6


def test_repeated_ngrams_within_doc_repeat_is_not_cross_doc(spark):
    # the 5-gram repeats INSIDE doc 1 only -> df counts distinct docs,
    # so nothing is flagged
    text = "a b c d e a b c d e"
    out = repeated_ngram_report(
        _docs(spark, [(1, text), (2, "k l m n o p")]), k=5
    ).collect()
    assert all(r.n_dup_grams == 0 for r in out)


def test_repeated_ngrams_short_docs_report_zero(spark):
    out = {
        r.doc_id: r
        for r in repeated_ngram_report(
            _docs(spark, [(1, "a b"), (2, "a b")]), k=5
        ).collect()
    }
    assert out[1].n_tokens == 2
    assert out[1].n_grams == 0
    assert out[1].covered_tokens == 0
    assert out[1].dup_gram_share == 0.0


# ---------------------------------------------------------------------------
# bigram_lm_scores
# ---------------------------------------------------------------------------

def _py_bigram_score(corpus: dict[int, str], doc_id: int) -> tuple[int, float]:
    """Closed-form reference of the snapped score."""
    from collections import Counter

    c2: Counter = Counter()
    c1: Counter = Counter()
    for text in corpus.values():
        toks = text.split()
        c1.update(toks)
        c2.update(zip(toks, toks[1:]))
    v = len(c1)
    toks = corpus[doc_id].split()
    terms = [
        math.floor(
            (math.log(c2[(a, b)] + 1) - math.log(c1[a] + v)) * 1e6
        )
        for a, b in zip(toks, toks[1:])
    ]
    return len(terms), sum(terms) / len(terms) / 1e6


def test_bigram_lm_matches_closed_form(spark):
    corpus = {
        1: "the cat sat on the mat",
        2: "the cat sat on the hat",
        3: "xyzzy plugh xyzzy plugh grue",
    }
    out = {
        r.doc_id: r
        for r in bigram_lm_scores(
            _docs(spark, list(corpus.items()))
        ).collect()
    }
    for d in corpus:
        n, score = _py_bigram_score(corpus, d)
        assert out[d].n_bigrams == n
        assert out[d].lm_score == pytest.approx(score, abs=0)
    # repeated common bigrams score higher than one-off gibberish
    assert out[1].lm_score > out[3].lm_score


def test_bigram_lm_drops_single_token_docs(spark):
    out = bigram_lm_scores(_docs(spark, [(1, "solo"), (2, "a b")])).collect()
    assert {r.doc_id for r in out} == {2}


# ---------------------------------------------------------------------------
# dsir_weights
# ---------------------------------------------------------------------------

def test_dsir_prefers_target_like_docs(spark):
    # target docs use one vocabulary, the rest another; a new doc in
    # target vocabulary must outweigh a doc in off-target vocabulary
    rows = [
        (i, "alpha beta gamma delta epsilon zeta", "en")
        for i in range(10)
    ] + [
        (i + 10, "uno dos tres cuatro cinco seis", "es")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r.dsir_logweight
        for r in dsir_weights(docs, F.col("lang") == "en").collect()
    }
    assert out[0] > out[10]
    # weights are per-token sums over identical docs -> identical
    assert out[0] == out[5]
    assert out[10] == out[15]


def test_dsir_matches_closed_form(spark):
    import hashlib

    rows = [(1, "aa bb cc", "en"), (2, "bb cc dd", "fr"), (3, "aa aa ee", "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    B = 64
    tc: dict[int, int] = {}
    sc: dict[int, int] = {}

    def bucket(w: str) -> int:
        hx = hashlib.md5(w.encode()).hexdigest()
        return (int(hx[0], 16) * 16 + int(hx[1], 16)) % B

    for _, text, lang in rows:
        for w in text.split():
            b = bucket(w)
            sc[b] = sc.get(b, 0) + 1
            if lang == "en":
                tc[b] = tc.get(b, 0) + 1
    t_tot, s_tot = sum(tc.values()), sum(sc.values())
    expected = {}
    for doc_id, text, _ in rows:
        w_sum = 0
        for w in text.split():
            b = bucket(w)
            w_sum += math.floor(
                (math.log(tc.get(b, 0) + 1) - math.log(t_tot + B)) * 1e6
            ) - math.floor(
                (math.log(sc.get(b, 0) + 1) - math.log(s_tot + B)) * 1e6
            )
        expected[doc_id] = w_sum / 1e6
    out = {
        r.doc_id: r.dsir_logweight
        for r in dsir_weights(docs, F.col("lang") == "en", num_buckets=B).collect()
    }
    assert out == expected


# ---------------------------------------------------------------------------
# matryoshka_topk
# ---------------------------------------------------------------------------

def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_matryoshka_equals_bruteforce_on_prefix(spark):
    rows = [
        (i, [float(i % 3), float((i * 7) % 5), float(i % 2), float(i)])
        for i in range(20)
    ]
    vecs = _vecs(spark, rows)
    probes = vecs.filter(F.col("vec_id") < 2)
    got = matryoshka_topk(vecs, probes, d=2, k=5).collect()
    manual = brute_force_topk(
        _vecs(spark, [(i, v[:2]) for i, v in rows]),
        _vecs(spark, [(i, v[:2]) for i, v in rows if i < 2]),
        k=5,
    ).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(
        [(r.query_id, r.rank, r.neighbor_id, r.cosine) for r in got]
    ) == sorted(
        [(r.query_id, r.rank, r.neighbor_id, r.cosine) for r in manual]
    )


def test_matryoshka_full_width_is_identity(spark):
    rows = [(i, [float((i * 3 + j) % 7) for j in range(4)]) for i in range(15)]
    vecs = _vecs(spark, rows)
    probes = vecs.filter(F.col("vec_id") == 0)
    full = brute_force_topk(vecs, probes, k=6).collect()
    mat = matryoshka_topk(vecs, probes, d=4, k=6).collect()
    assert [(r.neighbor_id, r.cosine) for r in full] == [
        (r.neighbor_id, r.cosine) for r in mat
    ]


# ---------------------------------------------------------------------------
# trim_repeated_spans
# ---------------------------------------------------------------------------

def test_trim_removes_duplicated_span_keeps_rest(spark):
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        trim_repeated_spans,
    )

    span = "q w e r t y"
    out = {
        r.doc_id: r
        for r in trim_repeated_spans(
            _docs(
                spark,
                [(1, span), (2, f"zz xx {span} cc vv"), (3, "m n b v c x")],
            ),
            k=5,
        ).collect()
    }
    # doc 1 is entirely a duplicated span -> empty
    assert out[1].n_kept == 0
    assert out[1].trimmed_text == ""
    # doc 2 keeps its unique frame around the span, order preserved
    assert out[2].trimmed_text == "zz xx cc vv"
    assert out[2].n_removed == 6
    # doc 3 untouched
    assert out[3].trimmed_text == "m n b v c x"
    assert out[3].n_removed == 0


def test_trim_short_docs_pass_through(spark):
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        trim_repeated_spans,
    )

    out = {
        r.doc_id: r
        for r in trim_repeated_spans(
            _docs(spark, [(1, "a b"), (2, "a b")]), k=5
        ).collect()
    }
    assert out[1].trimmed_text == "a b"
    assert out[1].n_removed == 0


# ---------------------------------------------------------------------------
# temperature_mixture
# ---------------------------------------------------------------------------

def test_temperature_mixture_flattens_toward_small_strata(spark):
    from business_intelligence_and_data_warehouse_spark.operators.selection import (
        temperature_mixture,
    )

    rows = [(i, "x", "big") for i in range(90)] + [
        (i + 90, "x", "small") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.stratum: r
        for r in temperature_mixture(docs, "source", 0.5, budget=50).collect()
    }
    # alpha = 0.5: tempered shares are 3:1 instead of 9:1
    assert out["big"].p_raw == 0.9
    assert out["small"].p_raw == pytest.approx(0.1)
    assert out["big"].q_temp == pytest.approx(0.75, abs=1e-6)
    assert out["small"].q_temp == pytest.approx(0.25, abs=1e-6)
    # q_temp sums to ~1, rates within [0, 1]
    assert sum(r.q_temp for r in out.values()) == pytest.approx(1.0, abs=1e-9)
    for r in out.values():
        assert 0.0 <= r.sample_rate <= 1.0
    # realized expectation: big keeps 50*0.75 of 90 -> rate < 1;
    # small needs 12.5 of 10 -> capped at 1
    assert out["small"].sample_rate == 1.0
    assert out["big"].sample_rate == pytest.approx(37.5 / 90, abs=1e-6)


# ---------------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------------

def test_rrf_fuse_agreement_beats_single_list(spark):
    from business_intelligence_and_data_warehouse_spark.operators.search import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(2, 1), (4, 2), (1, 3)], "doc_id long, rank int"
    )
    out = rrf_fuse(a, b, topk=4).collect()
    ranked = [r.id for r in out]
    # docs 1 and 2 appear in both lists -> outrank single-list 3 and 4
    assert set(ranked[:2]) == {1, 2}
    by_id = {r.id: r for r in out}
    assert by_id[1].rrf_score == pytest.approx(1 / 61 + 1 / 63)
    assert by_id[2].rrf_score == pytest.approx(1 / 62 + 1 / 61)
    # absent rank encodes as 0, not NULL
    assert by_id[3].rank_b == 0
    assert by_id[4].rank_a == 0
    assert by_id[3].rrf_score == pytest.approx(1 / 63)


# ---------------------------------------------------------------------------
# pq_topk
# ---------------------------------------------------------------------------

def test_pq_full_codebook_recovers_exact_l2_ranking(spark):
    # stride 1 => every vector is its own code in every subspace, so
    # encode is lossless and ADC distance == exact squared L2
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        pq_topk,
    )

    rows = [
        (i, [float((i * 3 + j * 5) % 11) for j in range(8)])
        for i in range(12)
    ]
    vecs = _vecs(spark, rows)
    probes = vecs.filter(F.col("vec_id") == 0)
    out = pq_topk(
        vecs, probes, k=5, dim=8, num_subspaces=2, centroid_stride=1
    ).collect()
    import math

    def sl2(a, b):
        return sum(
            math.floor((x - y) * (x - y) * 1e6) for x, y in zip(a, b)
        ) / 1e6

    q = rows[0][1]
    exact = sorted(
        ((sl2(q, v), i) for i, v in rows if i != 0)
    )[:5]
    got = [(r.approx_dist, r.neighbor_id) for r in sorted(out, key=lambda r: r.rank)]
    assert got == [(d, i) for d, i in exact]


def test_pq_empty_codebook_returns_empty_not_crash(spark):
    """r12 advisor (low): a stride that selects NO codebook rows (no
    id % stride == 0) must route to the join path and yield an empty
    result — the batched encoder would build a 1-D zero-row codebook
    matrix and raise IndexError in every task."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        pq_topk,
    )

    rows = [
        (i, [float((i * 3 + j * 5) % 11) for j in range(8)])
        for i in range(1, 6)  # ids 1..5: none divisible by stride 100
    ]
    vecs = _vecs(spark, rows)
    probes = vecs.filter(F.col("vec_id") == 1)
    out = pq_topk(
        vecs, probes, k=3, dim=8, num_subspaces=2, centroid_stride=100
    ).collect()
    assert out == []


def test_pq_codes_are_nearest_codebook_entries(spark):
    # coarse codebook: vectors cluster tightly around two codebook
    # entries; ADC must rank the same-cluster neighbor first
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        pq_topk,
    )

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),   # code A
        (2, [10.0, 10.0, 10.0, 10.0]),  # code B (stride 2 -> codes 0, 2)
        (1, [0.1, 0.1, 0.1, 0.1]),   # near A
        (3, [9.9, 9.9, 10.1, 10.0]),  # near B
    ]
    vecs = _vecs(spark, rows)
    probes = vecs.filter(F.col("vec_id") == 1)
    out = sorted(
        pq_topk(
            vecs, probes, k=3, dim=4, num_subspaces=2, centroid_stride=2
        ).collect(),
        key=lambda r: r.rank,
    )
    # doc 0 (its own cluster's code) must outrank the far cluster
    assert out[0].neighbor_id == 0
    assert {r.neighbor_id for r in out} == {0, 2, 3}


def test_artifact_memo_keys_are_content_aware(spark):
    """r10 advisor finding / verdict item 3: the artifact-memo keys
    were (applicationId, tag, params) only — a same-tag call against a
    DIFFERENT corpus (filtered, or rewritten in place under the same
    ids) silently served stale codes/centroids for the rest of the
    process.  The key now folds in a bit_xor(xxhash64(id, vec))
    content fingerprint, so an in-place embedding rewrite under the
    SAME ids must re-encode/retrain, not replay."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        pq_topk,
        train_ivf_centroids,
        trained_centroids_cached,
    )
    from . import ann_reference as ref

    rows_a = [
        (i, [float((i * 3 + j * 5) % 11) for j in range(8)])
        for i in range(12)
    ]
    # the "rewritten corpus": same ids, different embedding values
    rows_b = [
        (i, [float((i * 7 + j * 2) % 13) for j in range(8)])
        for i in range(12)
    ]
    va, vb = _vecs(spark, rows_a), _vecs(spark, rows_b)
    tag = "memo-staleness-regression"

    # populate the PQ codes memo with corpus A ...
    pq_topk(
        va, va.filter(F.col("vec_id") == 0), k=5, dim=8,
        num_subspaces=2, centroid_stride=1,
    ).collect()
    # ... then query corpus B (same ids, same parameters): results
    # must equal the relational encode of B, not A's stale codes
    probe_b = vb.filter(F.col("vec_id") == 0)
    got = sorted(
        (r.neighbor_id, r.approx_dist)
        for r in pq_topk(
            vb, probe_b, k=5, dim=8, num_subspaces=2, centroid_stride=1,
        ).collect()
    )
    want = sorted(
        (r.neighbor_id, r.approx_dist)
        for r in ref.pq_topk(vb, probe_b, 5, 8, 2, 1).collect()
    )
    assert got == want

    # same contract for the trained-centroid memo
    ca = trained_centroids_cached(va, tag=tag, iters=1)
    cb = trained_centroids_cached(vb, tag=tag, iters=1)
    fresh_b = train_ivf_centroids(vb, iters=1)
    as_set = lambda df: {  # noqa: E731
        (r.vid, tuple(r.vec)) for r in df.collect()
    }
    assert as_set(cb) == as_set(fresh_b)
    assert as_set(ca) != as_set(cb)


def test_clustered_corpus_ivf_perfect_recall_at_fixed_nprobe(spark, sf_dir):
    """The r11 clustered-data serving claim as a sharp invariant: on
    the deterministic 32-cluster corpus, trained-IVF@nprobe=8 recall
    is exactly 1.0 at every SF — same-cluster points dominate cosine
    top-10 and the probe's own cluster cells are always among its 8
    nearest, even at 64% relative noise (structure, not tightness, is
    what makes cells skippable; the uniform corpus needs a ~0.7 cell
    fraction for 0.9 — sim_ann_recall_trained).  A future IVF change
    that breaks assignment/probing subtly shows up here as < 1.0."""
    from business_intelligence_and_data_warehouse_spark.plans.queries import (
        QUERIES,
    )

    row = QUERIES["sim_ann_clustered_recall"](spark, sf_dir).collect()[0]
    assert row.nprobe == 8
    assert row.n_expected == row.n_probes * row.k
    assert row.recall_at_k == 1.0


def test_pq_rejects_indivisible_dim(spark):
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        pq_topk,
    )

    vecs = _vecs(spark, [(0, [1.0, 2.0, 3.0])])
    with pytest.raises(ValueError, match="divisible"):
        pq_topk(vecs, vecs, k=1, dim=3, num_subspaces=2)


# ---------------------------------------------------------------------------
# round-5 review-fix guards
# ---------------------------------------------------------------------------

def test_matryoshka_rejects_bad_prefix_widths(spark):
    vecs = _vecs(spark, [(0, [1.0, 2.0]), (1, [2.0, 1.0])])
    with pytest.raises(ValueError, match=">= 1"):
        matryoshka_topk(vecs, vecs, d=0, k=1)
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    with pytest.raises((PySparkRuntimeError, SparkRuntimeException, Exception)):
        matryoshka_topk(vecs, vecs, d=5, k=1).collect()


def test_rrf_rejects_zero_based_ranks(spark):
    from business_intelligence_and_data_warehouse_spark.operators.search import (
        rrf_fuse,
    )

    a = spark.createDataFrame([(1, 0), (2, 1)], "doc_id long, rank int")
    b = spark.createDataFrame([(1, 1)], "doc_id long, rank int")
    with pytest.raises(Exception, match="1-based"):
        rrf_fuse(a, b, topk=2).collect()


def test_compact_parquet_cleans_staging_on_first_rename_failure(spark, tmp_path):
    import os

    from business_intelligence_and_data_warehouse_spark.sources.warehouse import (
        compact_parquet,
    )

    src = str(tmp_path / "data")
    spark.range(100).write.parquet(src)
    real_rename = os.rename
    calls = {"n": 0}

    def failing_rename(a, b):
        calls["n"] += 1
        if calls["n"] == 1:  # first rename = path -> old
            raise OSError("simulated concurrent yank")
        return real_rename(a, b)

    import unittest.mock as mock

    with mock.patch("os.rename", side_effect=failing_rename):
        with pytest.raises(OSError, match="simulated"):
            compact_parquet(spark, src, target_files=1)
    # original intact, no __compact_ staging dir leaked
    assert spark.read.parquet(src).count() == 100
    leftovers = [p for p in os.listdir(tmp_path) if "__compact_" in p or "__old_" in p]
    assert leftovers == []


# ---------------------------------------------------------------------------
# ivf_pq_topk
# ---------------------------------------------------------------------------

def test_ivfpq_is_pq_restricted_to_ivf_candidates(spark):
    # with nprobe = number of cells, IVF prunes nothing and IVF-PQ
    # must equal plain PQ exactly
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        ivf_pq_topk,
        pq_topk,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 13) for j in range(8)])
        for i in range(20)
    ]
    vecs = _vecs(spark, rows)
    probes = vecs.filter(F.col("vec_id") < 2)
    full_cells = ivf_pq_topk(
        vecs, probes, k=5, dim=8, num_subspaces=2,
        centroid_stride=5, nprobe=4,  # 4 cells (ids 0,5,10,15) = all
    ).collect()
    plain = pq_topk(
        vecs, probes, k=5, dim=8, num_subspaces=2, centroid_stride=5
    ).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.approx_dist)
    assert sorted(map(key, full_cells)) == sorted(map(key, plain))


def test_ivfpq_prunes_to_probed_cells(spark):
    # two well-separated clusters; nprobe=1 must keep candidates inside
    # the probe's own cluster cell
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        ivf_pq_topk,
    )

    rows = [(i, [float(i % 2 * 100 + j) for j in range(4)]) for i in range(10)]
    vecs = _vecs(spark, rows)
    probes = vecs.filter(F.col("vec_id") == 3)  # odd cluster (~100)
    out = ivf_pq_topk(
        vecs, probes, k=9, dim=4, num_subspaces=2,
        centroid_stride=5, nprobe=1,  # cells at ids 0 (even), 5 (odd)
    ).collect()
    assert out, "probe found no candidates"
    assert all(r.neighbor_id % 2 == 1 for r in out)


# ---------------------------------------------------------------------------
# WAV codec + audio extractor
# ---------------------------------------------------------------------------

def test_wav_roundtrip_and_features(spark):
    import struct

    from business_intelligence_and_data_warehouse_spark.operators.multimodal import (
        AUDIO_FEATURE_SCHEMA,
        _audio_features,
        decode_wav,
        encode_wav,
        extract_features,
    )

    pcm = struct.pack("<4h", 500, -500, 500, -500)
    payload = encode_wav(8000, pcm)
    nch, width, rate, n, frames = decode_wav(payload)
    assert (nch, width, rate, n) == (1, 2, 8000, 4)
    assert frames == pcm

    blobs = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"not a wav"))],
        "doc_id long, payload binary",
    )
    out = {
        r.doc_id: r
        for r in extract_features(
            blobs, extractor=_audio_features, schema=AUDIO_FEATURE_SCHEMA
        ).collect()
    }
    assert out[1].rms == 500.0
    assert out[1].peak == 500
    assert out[1].mean_amp == 0.0
    assert out[1].duration_s == 4 / 8000
    # corrupt payload takes the (-1, nan) row, does not kill the batch
    assert out[2].n_samples == -1
    assert out[2].peak == -1


def test_maximal_dup_spans_are_maximal_and_exactly_cover(spark, sf_dir):
    """Every reported span is a maximal contiguous covered run: all
    positions inside are covered by a duplicated k-gram interval, and
    the positions immediately before/after are not.  The covered set
    is recomputed over an INDEPENDENT path (interval explode +
    distinct), so the island-window chaining is cross-checked."""
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        _cross_doc_dup_positions,
        maximal_dup_spans,
        token_table,
    )
    from business_intelligence_and_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(300)
    k = 5
    spans = maximal_dup_spans(docs, k=k, min_docs=2).collect()
    toks = token_table(docs)
    covered_rows = (
        _cross_doc_dup_positions(toks, k, 2)
        .select("doc_id", F.explode(F.sequence("i", "e")).alias("t"))
        .distinct()
        .collect()
    )
    covered: dict[int, set[int]] = {}
    for r in covered_rows:
        covered.setdefault(r.doc_id, set()).add(r.t)
    assert spans, "expected at least one duplicated span in the corpus"
    seen: dict[int, set[int]] = {}
    for s in spans:
        cv = covered.get(s.doc_id, set())
        inside = set(range(s.span_start, s.span_end + 1))
        assert inside <= cv, f"span not fully covered: {s}"
        assert s.span_start - 1 not in cv, f"span extends left: {s}"
        assert s.span_end + 1 not in cv, f"span extends right: {s}"
        assert s.span_len == s.span_end - s.span_start + 1
        assert len(s.span_text.split(" ")) == s.span_len
        overlap = seen.setdefault(s.doc_id, set()) & inside
        assert not overlap, f"spans overlap within doc: {s}"
        seen[s.doc_id] |= inside
    # spans exactly partition the covered set
    for doc_id, cv in covered.items():
        assert seen.get(doc_id, set()) == cv


def test_domain_token_quota_invariances(spark):
    """Per-domain greedy hash-prefix: kept set respects the cap, is
    ordered by hash priority, and is INVARIANT to rows added in other
    domains (the incremental-corpus property the operator promises)."""
    from business_intelligence_and_data_warehouse_spark.operators.split import (
        domain_token_quota,
        hash_bucket,
    )

    rows = [(i, f"dom{i % 3}", 10 + (i % 7)) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    cap = 60
    kept = domain_token_quota(df, cap_tokens=cap).collect()
    by_dom: dict[str, list] = {}
    for r in kept:
        by_dom.setdefault(r.source, []).append(r)
    assert set(by_dom) == {"dom0", "dom1", "dom2"}
    for dom, rs in by_dom.items():
        assert max(r.cum_tokens for r in rs) <= cap
        # greedy prefix: replay in python off the same hash buckets
        all_dom = (
            df.filter(F.col("source") == dom)
            .withColumn("bucket", hash_bucket(F.col("doc_id")))
            .collect()
        )
        total, expect = 0, []
        for r in sorted(all_dom, key=lambda r: (r.bucket, r.doc_id)):
            total += r.n_tokens
            if total > cap:
                break
            expect.append(r.doc_id)
        assert sorted(r.doc_id for r in rs) == sorted(expect)
    # other-domain invariance: add rows only to dom0; dom1/dom2 unchanged
    extra = spark.createDataFrame(
        [(1000 + i, "dom0", 10) for i in range(30)],
        "doc_id long, source string, n_tokens int",
    )
    kept2 = domain_token_quota(df.unionByName(extra), cap_tokens=cap).collect()
    for dom in ("dom1", "dom2"):
        assert sorted(r.doc_id for r in kept2 if r.source == dom) == sorted(
            r.doc_id for r in by_dom[dom]
        )


def test_mmr_select_degeneracies_and_contract(spark):
    """MMR property pins: lam=1 degenerates to pure relevance top-k
    (identical order to brute_force_topk against the query); picks are
    distinct and ranks sequential; lam=0 is farthest-point — its
    second pick has strictly lower similarity to the first pick than
    lam=1's second pick (on a corpus built to separate the two)."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        brute_force_topk,
        mmr_select,
    )

    rows = [
        (
            i,
            [
                float((i * 7 + j * 3) % 13) if j == 0 else
                float((i * 5 + j) % 11) if j == 1 else
                float((i + j * 2) % 7) if j == 2 else
                float(i % 4)
                for j in range(4)
            ],
        )
        for i in range(24)
    ]
    vecs = _vecs(spark, rows)
    qvec = rows[0][1]

    rel_only = mmr_select(vecs, qvec, k=5, lam=1.0, exclude_ids=[0]).collect()
    ranks = [r.rank for r in rel_only]
    ids = [r.vec_id for r in rel_only]
    assert ranks == [1, 2, 3, 4, 5]
    assert len(set(ids)) == 5
    brute = brute_force_topk(
        vecs, vecs.filter(F.col("vec_id") == 0), 5
    ).orderBy("rank").collect()
    assert ids == [r.neighbor_id for r in brute]
    # first pick never pays a diversity penalty
    assert rel_only[0].max_sim_selected == 0.0

    diverse = mmr_select(vecs, qvec, k=5, lam=0.0, exclude_ids=[0]).collect()
    assert len({r.vec_id for r in diverse}) == 5
    # under pure-diversity, the 2nd..5th picks' max-sim-to-selected is
    # never above the relevance-only run's (farthest-point property)
    for d, r in zip(diverse[1:], rel_only[1:]):
        assert d.max_sim_selected <= r.max_sim_selected + 1e-12

    # r11 review repro: a zero-norm candidate must be EXCLUDED (its
    # cosine is undefined; the NULL score crashed the pick loop), and
    # a zero-norm query raises up front instead of NULLing every rel
    withzero = _vecs(
        spark,
        [(1, [0.9, 0.1]), (2, [0.1, 0.9]), (3, [0.0, 0.0])],
    )
    picks = mmr_select(withzero, [1.0, 0.0], k=3, lam=0.5).collect()
    assert [r.vec_id for r in picks] == [1, 2]  # vid 3 excluded, loop ends
    with pytest.raises(ValueError, match="zero norm"):
        mmr_select(withzero, [0.0, 0.0], k=2)
