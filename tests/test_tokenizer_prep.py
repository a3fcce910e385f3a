"""Semantics tests for the tokenizer-prep operators: vocabulary
induction/OOV, char entropy, JL random projection, and the BPE trainer
and tokenizer artifact."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from business_intelligence_and_data_warehouse_spark.operators.corpus_quality import (
    char_entropy_stats,
)
from business_intelligence_and_data_warehouse_spark.operators.similarity import (
    random_projection,
)
from business_intelligence_and_data_warehouse_spark.operators.vocab import (
    induce_vocab_from_occ,
    occurrences,
    oov_report_from_occ,
)
from business_intelligence_and_data_warehouse_spark.sources.testdata import (
    load_table,
)


def test_vocab_cut_is_deterministic_at_the_df_boundary(spark):
    # 6 tokens, all df=1 -> the v=3 cut must be decided by token order,
    # not partition luck
    docs = spark.createDataFrame(
        [(1, "zeta"), (2, "alpha"), (3, "mid"), (4, "beta"), (5, "q"), (6, "x")],
        ["doc_id", "text"],
    )
    got = [r.w for r in induce_vocab_from_occ(occurrences(docs), 3).collect()]
    assert got == ["alpha", "beta", "mid"]


def test_oov_counts_occurrences_not_types(spark):
    docs = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "bb cc cc cc")], ["doc_id", "text"]
    )
    vocab = spark.createDataFrame([("aa",), ("bb",)], ["w"])
    rows = {
        r.doc_id: r
        for r in oov_report_from_occ(occurrences(docs), vocab).collect()
    }
    assert rows[1].n_tokens == 3 and rows[1].n_oov == 0
    # cc occurs 3 times -> 3 OOV occurrences, not 1 OOV type
    assert rows[2].n_tokens == 4 and rows[2].n_oov == 3
    assert rows[2].oov_rate == 0.75


def test_char_entropy_known_values(spark):
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in char_entropy_stats(docs).collect()}
    # single symbol -> exactly 0
    assert rows[1].entropy == 0.0
    # uniform over 2 symbols -> ln 2 (within the 1e-6 snap grid)
    assert abs(rows[2].entropy - math.log(2)) < 2e-6
    # uniform over 4 symbols -> ln 4
    assert abs(rows[3].entropy - math.log(4)) < 2e-6
    assert not rows[1].pass_entropy and not rows[3].pass_entropy


def test_random_projection_shape_and_linearity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    proj = random_projection(emb, d_out=8)
    rows = proj.collect()
    ids = {r.vid for r in rows}
    assert len(rows) == len(ids) * 8
    # projection of 2x the vector == 2x the projection, up to the
    # one-time element snap: FLOOR(2v*1e6) vs 2*FLOOR(v*1e6) differ by
    # at most 1 per element -> 64 per coordinate
    doubled = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x * 2).alias("embedding"),
    )
    p2 = {
        (r.vid, r.j): r.proj
        for r in random_projection(doubled, d_out=8).collect()
    }
    for r in rows:
        assert abs(p2[(r.vid, r.j)] - 2 * r.proj) <= 64


def test_random_projection_preserves_norms_in_expectation(spark, sf_dir):
    """The JL property itself: for a ±1 sign matrix,
    E[‖proj‖²] = d_out · ‖e‖² per vector (e = the snapped elements),
    with chi-square-like concentration (sd ≈ √(2/d_out) ≈ 35% at
    d_out=16). Check every sampled vector lands within generous ~4σ
    multiplicative bounds, and the ensemble mean lands much tighter.

    (Pairwise-distance RANK preservation is deliberately not asserted:
    this corpus's random embeddings have concentrated pairwise
    distances, so ranks under 25% JL distortion are noise.)"""
    emb = load_table(spark, sf_dir, "embeddings").limit(30)
    orig = {
        r.vec_id: r.embedding
        for r in emb.select("vec_id", "embedding").collect()
    }
    proj = {}
    for r in random_projection(emb, d_out=16).collect():
        proj.setdefault(r.vid, [0] * 16)[r.j] = r.proj
    ratios = []
    for vid, v in orig.items():
        e2 = sum(math.floor(x * 1e6) ** 2 for x in v)
        p2 = sum(x * x for x in proj[vid])
        ratios.append(p2 / (16 * e2))
    assert all(0.2 <= r <= 4.0 for r in ratios), sorted(ratios)[:3]
    mean = sum(ratios) / len(ratios)
    assert 0.7 <= mean <= 1.4, mean


def test_bpe_two_iterations_converge_with_python_trainer(spark):
    """Two BPE iterations (count -> pick -> re-segment -> count): the
    Spark pair counts must match a pure-Python count on the same tiny
    corpus before and after the first merge."""
    from collections import Counter

    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        bpe_new_symbol,
        bpe_pair_counts,
        word_frequencies,
    )

    texts = ["low lower lowest low low", "new newer newest new"]
    docs = spark.createDataFrame(
        list(enumerate(texts, 1)), "doc_id long, text string"
    )
    words = word_frequencies(docs)

    # python reference
    freqs = Counter(w for t in texts for w in t.split())
    enc = {w: w for w in freqs}

    def py_counts():
        c = Counter()
        for w, f in freqs.items():
            for x, y in zip(enc[w], enc[w][1:]):
                c[(x, y)] += f
        return dict(c)

    def got_counts(table):
        return {
            (r.a, r.b): r.pair_count
            for r in bpe_pair_counts(table).collect()
        }

    # iteration 1: compare counts, merge the best pair
    want1 = py_counts()
    assert got_counts(words) == want1
    (a1, b1), _ = min(want1.items(), key=lambda kv: (-kv[1], kv[0]))
    sym = bpe_new_symbol(1)
    enc = {w: e.replace(a1 + b1, sym) for w, e in enc.items()}

    # iteration 2: counts over the re-segmented symbols must agree
    merged = words.withColumn(
        "w", F.replace(F.col("w"), F.lit(a1 + b1), F.lit(sym))
    )
    assert got_counts(merged) == py_counts()


def _py_bpe_train(freqs: dict[str, int], n: int, symbol_offset: int = 0):
    """Pure-Python Sennrich BPE trainer: count adjacent symbol pairs
    over (word, freq), merge the top pair (count desc, then a, b) via
    greedy left-to-right str.replace, repeat — a full recount per
    merge, the parity subject for the package's incremental trainer.
    Single-char symbols throughout (merged symbols get private-use
    chars, allocated like the package's), so replace IS the greedy
    merge."""
    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        bpe_new_symbol,
    )

    enc = {w: w for w in freqs}
    merges = []
    for rank in range(1, n + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, f in freqs.items():
            e = enc[w]
            for i in range(len(e) - 1):
                p = (e[i], e[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        new = bpe_new_symbol(rank, symbol_offset)
        merges.append((rank, a, b, new, cnt))
        enc = {w: e.replace(a + b, new) for w, e in enc.items()}
    return merges, enc


def test_bpe_full_train_and_encode_match_python_trainer(spark, sf_dir):
    """End-to-end: 8 merge iterations + the corpus encode must match the pure-Python trainer on the REAL documents table —
    merge list, per-word re-segmentation, and per-doc token counts."""
    from collections import Counter

    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        bpe_train,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    texts = [r.text for r in docs.select("text").collect()]
    norm = [" ".join(t.lower().split()) for t in texts]
    freqs = Counter(w for t in norm for w in t.split())

    want_merges, want_enc = _py_bpe_train(dict(freqs), 8)
    got_merges, got_words = bpe_train(word_frequencies(docs), 8)
    assert got_merges == want_merges

    got_enc = {r.w0: r.w for r in got_words.collect()}
    assert got_enc == want_enc

    # token counts compress: every merge shortens some word
    assert sum(len(e) for e in got_enc.values()) < sum(
        len(w) for w in got_enc
    )


import pytest as _pytest


@_pytest.mark.parametrize("seed", [7, 42, 99, 1234])
def test_bpe_trainer_matches_python_on_random_corpora(spark, seed):
    """Seeded random corpora (adversarial shapes: ties, overlapping
    pairs, repeated chars, shared prefixes, single-char words) — the
    trainer must track the Python reference exactly, merges AND
    encodings."""
    import random

    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        bpe_train,
        word_frequencies,
    )

    rng = random.Random(seed)
    alphabet = "abcde"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8)))
        for _ in range(60)
    ] + ["aaaa", "ababab", "a", "aa"]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(3, 20)))
        for _ in range(30)
    ]
    from collections import Counter

    freqs = Counter(w for t in texts for w in t.split())
    want_merges, want_enc = _py_bpe_train(dict(freqs), 6)

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got_merges, got_words = bpe_train(word_frequencies(docs), 6)
    assert got_merges == want_merges
    assert {r.w0: r.w for r in got_words.collect()} == want_enc


def test_bpe_oracle_survives_vocabulary_collapse():
    """If the vocabulary runs out of pairs before all 8 merges, later
    oracle iterations must pass words through unchanged (an empty
    merge pick must NOT null every encoding via replace(enc, NULL, x))
    — mirroring the trainer's loop stop."""
    import duckdb
    import pandas as pd

    from business_intelligence_and_data_warehouse_spark.plans.queries import (
        ORACLES,
    )

    con = duckdb.connect()
    df = pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a aa a aa", "aa a"],
         "lang": ["en", "en"], "source": ["s1", "s1"],
         "n_chars": [9, 4]}
    )
    con.register("documents", df)
    got = con.execute(ORACLES["bpe_encode_corpus"]).df()
    # one merge exists ((a,a) -> private symbol); afterwards every
    # word is a single symbol and iterations 2..8 are no-ops
    assert got["n_tokens"].notna().all()
    rows = {int(r.doc_id): r for r in got.itertuples()}
    # doc 1: words a aa a aa -> tokens 1+1+1+1 = 4; chars 1+2+1+2 = 6
    assert rows[1].n_tokens == 4 and rows[1].n_chars == 6
    assert rows[2].n_tokens == 2 and rows[2].n_chars == 3

    merges = con.execute(ORACLES["bpe_train_merges"]).df()
    assert len(merges) == 1  # ranks 2..8 contribute no rows
    con.close()


def test_bpe_train_breaks_on_vocabulary_collapse(spark):
    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        bpe_train,
        word_frequencies,
    )

    docs = spark.createDataFrame(
        [(1, "a aa a aa"), (2, "aa a")], "doc_id long, text string"
    )
    merges, words = bpe_train(word_frequencies(docs), 8)
    assert len(merges) == 1
    assert merges[0][1:3] == ("a", "a")
    got = {r.w0: r.w for r in words.collect()}
    assert got == {"a": "a", "aa": merges[0][3]}

    # an empty corpus trains nothing and keeps the word-map schema
    merges, words = bpe_train(word_frequencies(docs.limit(0)), 8)
    assert merges == [] and words.count() == 0
    assert words.schema.simpleString() == (
        "struct<w0:string,w:string,freq:bigint>"
    )


def test_bpe_symbol_space_guards(spark):
    """ADVICE r7 + round-9 budget lift: the merge-symbol alphabet is
    the BMP private-use block (6,400) extended through supplementary
    PUA planes 15/16 (65,534 each; noncharacters excluded) — 137,468
    ranks total.  The trainer must reject budgets past the space and
    corpora that already contain PUA characters from ANY of the three
    blocks (U+F8FF appears in real Apple-originated text), instead of
    silently corrupting pair counts."""
    import pytest

    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        BPE_MAX_MERGES,
        bpe_new_symbol,
        bpe_train,
        word_frequencies,
    )

    assert BPE_MAX_MERGES == 137_468
    assert bpe_new_symbol(1) == ""
    # block boundaries: BMP tail -> plane-15 head -> plane-15 tail
    # (noncharacters skipped) -> plane-16 head -> plane-16 tail
    assert bpe_new_symbol(6400) == ""
    assert bpe_new_symbol(6401) == "󰀀"
    assert bpe_new_symbol(6400 + 65_534) == "󿿽"
    assert bpe_new_symbol(6400 + 65_534 + 1) == "􀀀"
    assert bpe_new_symbol(BPE_MAX_MERGES) == "􏿽"
    # offset shifts allocation but the combined rank obeys the cap
    assert bpe_new_symbol(1, offset=6400) == "󰀀"
    with pytest.raises(ValueError):
        bpe_new_symbol(BPE_MAX_MERGES + 1)
    with pytest.raises(ValueError):
        bpe_new_symbol(1, offset=BPE_MAX_MERGES)
    with pytest.raises(ValueError):
        bpe_new_symbol(0)

    clean = spark.createDataFrame(
        [(1, "a aa a aa")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(word_frequencies(clean), BPE_MAX_MERGES + 1)

    tainted = spark.createDataFrame(
        [(1, "ok ok"), (2, "badword ok")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="private-use"):
        bpe_train(word_frequencies(tainted), 4)


def test_bpe_batched_trainer_self_pair_terminates_batch(spark):
    """Self-pair corpora: a merge (x,x)->Z over a symbol run of >= 3
    creates pairs (Z,x)/(Z,Z) whose counts derive from the merged
    pair's OWN count, so they can outrank every other remaining pair —
    {'xxx':100,'pq':60} must pick (Z,x,100) at rank 2, not (p,q,60);
    'xxxx' exercises the created (Z,Z) pair.  (These corpora once
    broke a batched trainer; the incremental trainer's per-merge count
    updates must get them right too.)"""
    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        bpe_train,
    )

    for freqs, n in [
        ({"xxx": 100, "pq": 60}, 2),
        ({"xxxx": 50, "ab": 30, "cd": 20}, 3),
        ({"aaab": 40, "bb": 35, "cd": 30}, 4),
    ]:
        wf = spark.createDataFrame(
            list(freqs.items()), "w string, freq bigint"
        )
        got_merges, got_words = bpe_train(wf, n)
        want_merges, want_enc = _py_bpe_train(freqs, n)
        assert got_merges == want_merges, freqs
        assert {r.w0: r.w for r in got_words.collect()} == want_enc, freqs


def test_bpe_trainer_equals_python_at_ramp_depth(spark):
    """The oracle ladder validates BPE training to sf0.01 exhaustion
    (~89 merges); this pin trains to full vocabulary exhaustion on a
    ramp corpus (x100: 3,273 merges) and asserts the merge list equals
    the pure-Python recount trainer's rank-by-rank — same pairs, same
    symbols, same counts — plus identical final encodings.

    Ramp-marked: needs the multi-GB `.scaleramp` corpora and minutes
    of full per-merge recounts in the reference, so it only runs when
    SPARK_GRAFT_RAMP_TESTS=1 (dir/budget overridable via
    SPARK_GRAFT_BPE_RAMP_DIR / _BUDGET)."""
    import os
    import time

    import pytest

    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        bpe_train,
        word_frequencies,
    )

    if not os.environ.get("SPARK_GRAFT_RAMP_TESTS"):
        pytest.skip("ramp-scale pin; set SPARK_GRAFT_RAMP_TESTS=1 to run")
    ramp = os.environ.get(
        "SPARK_GRAFT_BPE_RAMP_DIR",
        os.path.join(os.path.dirname(__file__), "..", ".scaleramp", "x100"),
    )
    if not os.path.isdir(ramp):
        pytest.skip(f"ramp corpus missing: {ramp} (tools/scale_ramp.py gen)")
    budget = int(os.environ.get("SPARK_GRAFT_BPE_RAMP_BUDGET", "32000"))
    docs = spark.read.parquet(os.path.join(ramp, "documents.parquet"))
    wf = word_frequencies(docs)

    t0 = time.perf_counter()
    got_merges, got_words = bpe_train(wf, budget, symbol_offset=6350)
    t_got = time.perf_counter() - t0
    freqs = {r.w: int(r.freq) for r in wf.collect()}
    t0 = time.perf_counter()
    want_merges, want_enc = _py_bpe_train(freqs, budget, symbol_offset=6350)
    t_want = time.perf_counter() - t0

    depth = len(want_merges)
    assert depth >= 1000, f"corpus exhausted at {depth} < 1000 ranks"
    # rank-by-rank: first divergence (if any) reported precisely
    for r_got, r_want in zip(got_merges, want_merges):
        assert r_got == r_want, f"diverged at rank {r_want[0]}: {r_got} != {r_want}"
    assert len(got_merges) == depth
    assert {r.w0: r.w for r in got_words.collect()} == want_enc
    print(
        f"BPE depth-equality: {depth} ranks identical "
        f"(trainer {t_got:.1f}s, Python reference {t_want:.1f}s)"
    )


def test_bpe_supplementary_symbols_cross_engine(spark):
    """Symbol allocation straddling the BMP -> plane-15 boundary
    (offset 6,398: ranks 1-2 take the last BMP PUA codepoints, ranks
    3+ take supplementary ones).  The trainer must match the Python
    reference across the boundary, and Spark must count the
    re-encoded symbol strings' supplementary symbols as ONE character
    each."""
    from pyspark.sql import functions as F

    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        bpe_train,
        word_frequencies,
    )

    texts = ["abcd abcd abcd ab", "abc cd ab abcd"]
    docs = spark.createDataFrame(
        list(enumerate(texts, 1)), "doc_id long, text string"
    )
    got_merges, got_words = bpe_train(
        word_frequencies(docs), 4, symbol_offset=6_398
    )
    freqs: dict[str, int] = {}
    for w in " ".join(texts).split():
        freqs[w] = freqs.get(w, 0) + 1
    want_merges, want_enc = _py_bpe_train(freqs, 4, symbol_offset=6_398)
    assert got_merges == want_merges
    assert len(got_merges) == 4
    cps = [ord(m[3]) for m in got_merges]
    assert cps[0] == 0xF8FE and cps[1] == 0xF8FF  # BMP tail
    assert cps[2] == 0xF0000 and cps[3] == 0xF0001  # plane-15 head
    got_map = {r.w0: r.w for r in got_words.collect()}
    assert got_map == want_enc
    # 'abcd' collapses under 4 merges into symbols including
    # supplementary ones; Spark must measure its symbol string by
    # codepoints (JVM-side length == Python len)
    jvm_lens = {
        r.w0: r.n for r in got_words.select(
            "w0", F.length("w").alias("n")
        ).collect()
    }
    assert jvm_lens == {w0: len(w) for w0, w in got_map.items()}
    assert any(ord(c) >= 0xF0000 for w in got_map.values() for c in w)


def test_supplementary_codepoint_semantics(spark):
    """The engine-parity assumption behind the 137,468-merge budget:
    Spark SQL's len/substr/replace treat a supplementary-plane
    codepoint (a surrogate PAIR in UTF-16) as exactly ONE character,
    matching DuckDB and Python.  Pinned here so a Spark upgrade that
    switched string semantics to UTF-16 units would fail loudly."""
    import duckdb

    from pyspark.sql import functions as F

    s15, s16 = "\U000F0000", "\U0010FFFD"
    df = spark.createDataFrame([(s15 + "a" + s16,)], "s string")
    row = df.select(
        F.length("s").alias("n"),
        F.substring("s", 1, 1).alias("h"),
        F.substring("s", 3, 1).alias("t"),
        F.replace("s", F.lit(s15 + "a"), F.lit("x")).alias("r"),
    ).collect()[0]
    assert (row.n, row.h, row.t, row.r) == (3, s15, s16, "x" + s16)
    con = duckdb.connect()
    got = con.execute(
        "SELECT len(?), substr(?, 1, 1), substr(?, 3, 1), replace(?, ?, 'x')",
        [s15 + "a" + s16] * 4 + [s15 + "a"],
    ).fetchone()
    con.close()
    assert got == (3, s15, s16, "x" + s16)


def test_bpe_tokenizer_artifact_roundtrip(spark, tmp_path):
    """save_bpe_tokenizer/load_bpe_tokenizer: the persisted artifact
    must round-trip the merge list and encoded word map EXACTLY (the
    lifecycle may not change a token), and load must fail loud on a
    missing/foreign/corrupt directory — the build_ivf_index /
    build_dedup_index meta discipline applied to the tokenizer."""
    import json
    import os

    import pytest

    from business_intelligence_and_data_warehouse_spark.operators.vocab import (
        bpe_train,
        load_bpe_tokenizer,
        save_bpe_tokenizer,
        word_frequencies,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id long, text string",
    )
    merges, encoded = bpe_train(word_frequencies(docs), 12)
    tok_dir = str(tmp_path / "tok")
    save_bpe_tokenizer(merges, encoded, tok_dir, budget=12)

    m2, enc2, meta = load_bpe_tokenizer(spark, tok_dir)
    assert m2 == merges
    assert meta["budget"] == 12 and meta["n_merges"] == len(merges)
    orig = {(r.w0, r.w) for r in encoded.collect()}
    assert {(r.w0, r.w) for r in enc2.collect()} == orig

    # fail-loud: not an artifact
    with pytest.raises(ValueError, match="meta.json unreadable"):
        load_bpe_tokenizer(spark, str(tmp_path / "nope"))
    # fail-loud: wrong kind
    other = str(tmp_path / "other")
    os.makedirs(other)
    json.dump({"kind": "ivf_index"}, open(other + "/meta.json", "w"))
    with pytest.raises(ValueError, match="kind"):
        load_bpe_tokenizer(spark, other)
    # fail-loud: meta/merges row-count disagreement
    meta_path = os.path.join(tok_dir, "meta.json")
    m = json.load(open(meta_path))
    m["n_merges"] = len(merges) + 1
    json.dump(m, open(meta_path, "w"))
    with pytest.raises(ValueError, match="corrupt"):
        load_bpe_tokenizer(spark, tok_dir)


def test_bpe_encode_indexed_plan_is_pure_apply(spark):
    """The persisted-artifact encode's RETURNED plan must be the
    production apply shape: exactly ONE documents scan, the artifact's
    words parquet broadcast to it, and no training anywhere in the
    plan — encoding from the artifact never re-derives the tokenizer."""
    import re

    from business_intelligence_and_data_warehouse_spark.plans.queries import (
        QUERIES,
    )

    df = QUERIES["bpe_encode_indexed"](spark, "/root/testdata/sf0.001")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert plan.count("documents.parquet") == 1, plan
    assert "bpe_tokenizer_32k" in plan, plan  # reads the artifact...
    assert len(re.findall(r"\n\(\d+\) BroadcastExchange", plan)) == 1, plan
    # ...and nothing else: the only two scans are documents + artifact
    scans = re.findall(r"\n\(\d+\) Scan parquet", plan)
    assert len(scans) == 2, plan
    assert "BatchEvalPython" not in plan
