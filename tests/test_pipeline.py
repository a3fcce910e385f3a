"""Semantics tests for the LLM-pipeline operators on crafted inputs
(the DuckDB oracles check engine parity; these check the operators do
the right THING)."""

from __future__ import annotations

from pyspark.sql import functions as F

from business_intelligence_and_data_warehouse_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_dedup,
    shingle_table,
    simhash,
    simhash_near_dups,
)
from business_intelligence_and_data_warehouse_spark.operators.multimodal import (
    attach_blob,
    extract_features,
)
from business_intelligence_and_data_warehouse_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalizes(spark):
    docs = _docs(
        spark,
        [
            (1, "Hello   World"),
            (2, "hello world"),
            (3, "HELLO\tWORLD "),
            (4, "different entirely"),
        ],
    )
    out = exact_dedup(docs).collect()
    by_kept = {r.kept_id: r.n_duplicates for r in out}
    assert by_kept == {1: 3, 4: 1}


def test_jaccard_identical_and_disjoint(spark):
    base = "a b c d e f g h i j"
    docs = _docs(spark, [(1, base), (2, base), (3, "z y x w v u t s r q")])
    sh = shingle_table(docs, 3)
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(sh, 0.1, None).collect()}
    assert pairs == {(1, 2): 1.0}  # identical docs; disjoint doc absent


def test_minhash_lsh_finds_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(39)) + " CHANGED"
    other = " ".join(f"v{i}" for i in range(40))
    docs = _docs(spark, [(1, base), (2, near), (3, other)])
    out = {(r.doc_a, r.doc_b) for r in minhash_lsh_dedup(docs, threshold=0.5).collect()}
    assert (1, 2) in out
    assert all(3 not in p for p in out)


def test_simhash_similarity_ordering(spark):
    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(48)) + " x y"
    far = " ".join(f"zz{i}" for i in range(50))
    sigs = {r.doc_id: r.simhash for r in simhash(_docs(spark, [(1, base), (2, near), (3, far)])).collect()}
    ham = lambda a, b: bin(sigs[a] ^ sigs[b]).count("1")
    assert ham(1, 2) < ham(1, 3)
    # identical docs -> identical signature -> hamming 0 pair survives
    dups = simhash_near_dups(_docs(spark, [(1, base), (2, base)]), max_hamming=0)
    assert [(r.doc_a, r.doc_b, r.hamming) for r in dups.collect()] == [(1, 2, 0)]


def test_brute_force_topk_ranks_by_cosine(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),   # closest to 1
            (3, [0.0, 1.0, 0.0]),   # orthogonal to 1
            (4, [-1.0, 0.0, 0.0]),  # opposite
        ],
        "vec_id long, embedding array<float>",
    )
    probes = vecs.filter("vec_id = 1")
    out = brute_force_topk(vecs, probes, k=3).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [2, 3, 4]
    assert out[0].cosine > 0.99 and abs(out[1].cosine) < 1e-6 and out[2].cosine < -0.99


def test_ivf_topk_searches_probed_cells_only(spark):
    # two well-separated clusters around e1 and e2; ids chosen so the
    # stride-2 centroids are {0 (cluster A), 2 (cluster B)}
    rows = [
        (0, [1.0, 0.05, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (3, [1.0, 0.0, 0.1]),
        (2, [0.0, 1.0, 0.05]),
        (5, [0.1, 0.9, 0.0]),
        (7, [0.0, 1.0, 0.1]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = vecs.filter("vec_id = 1")
    # nprobe=1 -> only cluster A's cell is scanned
    out = ivf_topk(vecs, probes, k=5, centroid_stride=2, nprobe=1).collect()
    assert {r.neighbor_id for r in out} == {0, 3}
    # nprobe=2 covers both cells -> matches exact brute force
    full = ivf_topk(vecs, probes, k=5, centroid_stride=2, nprobe=2).collect()
    exact = brute_force_topk(vecs, probes, k=5).collect()
    assert [(r.neighbor_id, r.rank) for r in full] == [
        (r.neighbor_id, r.rank) for r in exact
    ]


def test_train_ivf_centroids_sqrt_n_cells_and_convergence(spark):
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        ivf_topk_trained,
        train_ivf_centroids,
    )

    # two tight clusters around e1 and e2, dense ids 0..9
    rows = [(i, [1.0, 0.02 * i, 0.0]) for i in range(5)] + [
        (i, [0.02 * (i - 5), 1.0, 0.0]) for i in range(5, 10)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_ivf_centroids(vecs, iters=2).collect()
    # N=10 -> k0=3, stride=3 -> seeds {0,3,6,9}: ~sqrt(N) cells, each a
    # normed (vid, vec, norm) row with norm matching its vector
    assert 2 <= len(cents) <= 4
    for c in cents:
        assert abs(sum(x * x for x in c.vec) ** 0.5 - c.norm) < 1e-5
    # trained cells separate the two clusters: nprobe=1 returns only
    # same-cluster neighbors for a probe deep inside cluster A
    probes = vecs.filter("vec_id = 0")
    out = ivf_topk_trained(vecs, probes, k=9, nprobe=1, iters=2).collect()
    assert {r.neighbor_id for r in out} <= {1, 2, 3, 4}
    # a fractional budget covering every cell == exact brute force
    full = ivf_topk_trained(
        vecs, probes, k=9, iters=2, nprobe_frac=2.0
    ).collect()
    exact = brute_force_topk(vecs, probes, k=9).collect()
    assert [(r.neighbor_id, r.rank) for r in full] == [
        (r.neighbor_id, r.rank) for r in exact
    ]


def test_ivf_index_append_matches_union_build(spark, tmp_path):
    """Append-then-probe must be BIT-IDENTICAL to building the index
    over the union corpus against the same frozen centroids (the
    inverted-file add() contract: assignment depends only on the
    centroid set) — and the append must leave every pre-existing cell
    file untouched (ingest is write-beside, never rewrite)."""
    import os

    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_probe_index,
        train_ivf_centroids,
    )

    rows = [(i, [1.0, 0.02 * i, 0.0]) for i in range(6)] + [
        (i, [0.02 * (i - 6), 1.0, 0.0]) for i in range(6, 12)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    initial = vecs.filter("vec_id % 3 != 0")
    late = vecs.filter("vec_id % 3 = 0")
    cents = train_ivf_centroids(initial, iters=2)
    cents.cache().count()  # freeze one centroid set for both builds

    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    build_ivf_index(initial, inc_dir, centroids_n=cents)

    def cell_files(d):
        return {
            os.path.join(r, f): os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d + "/cells")
            for f in fs
            if f.endswith(".parquet")
        }

    before = cell_files(inc_dir)
    ivf_index_append(spark, inc_dir, late)
    after = cell_files(inc_dir)
    assert set(before) <= set(after) and len(after) > len(before)
    assert all(after[p] == s for p, s in before.items()), (
        "append rewrote an existing cell file"
    )

    build_ivf_index(vecs, full_dir, centroids_n=cents)
    probes = vecs.filter("vec_id in (1, 6)")
    inc = sorted(
        tuple(r)
        for r in ivf_probe_index(spark, inc_dir, probes, k=8, nprobe=2).collect()
    )
    full = sorted(
        tuple(r)
        for r in ivf_probe_index(spark, full_dir, probes, k=8, nprobe=2).collect()
    )
    assert inc == full and len(inc) > 0
    cents.unpersist()


def test_ivf_index_append_idempotent_with_stable_src(spark, tmp_path):
    """A stable ``src`` label switches the append to dynamic partition
    overwrite: re-delivering the same batch rewrites exactly its own
    (cvid, src) partitions, so the index converges instead of
    double-counting — the streaming ingest sink's exactly-once
    mechanism, exercised here directly."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
    )

    rows = [(i, [1.0, 0.02 * i, 0.0]) for i in range(6)] + [
        (i, [0.02 * (i - 6), 1.0, 0.0]) for i in range(6, 12)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    initial = vecs.filter("vec_id % 3 != 0")
    late = vecs.filter("vec_id % 3 = 0")
    index_dir = str(tmp_path / "idx")
    build_ivf_index(initial, index_dir, centroid_stride=2)

    ivf_index_append(spark, index_dir, late, src="lineage-0")
    cells = spark.read.parquet(index_dir + "/cells")
    n_first = cells.count()
    srcs = {r.src for r in cells.select("src").distinct().collect()}
    assert srcs == {"base", "lineage-0"}
    # redelivery: same batch, same label -> byte-stable, not doubled
    ivf_index_append(spark, index_dir, late, src="lineage-0")
    again = spark.read.parquet(index_dir + "/cells")
    assert again.count() == n_first
    assert {r.vid for r in again.select("vid").collect()} == set(range(12))


def test_compact_ivf_index_dedups_rebatched_redelivery(spark, tmp_path):
    """The streaming ingest's documented duplication corner: a fresh-
    checkpoint restart with CHANGED batching re-splits the source, so
    partially-overlapping batches carry new content digests and their
    vids land twice — here vid 3 is redelivered under a new label with
    a CHANGED vector, so its two copies sit in different cells.
    compact_ivf_index must leave exactly one row per vid — the
    LATEST-DELIVERED load wins, by the explicit append sequence
    (loads.json), because content-digest labels carry no
    delivery-order meaning (the redelivered label here is
    lexicographically SMALLER than the first delivery's, so a
    label-order pick would keep the stale vector) — keep the cvid
    partition layout probes prune on, and be idempotent."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
        ivf_index_append,
        ivf_probe_index,
    )

    rows = [(i, [1.0, 0.02 * i, 0.0]) for i in range(6)] + [
        (i, [0.02 * (i - 6), 1.0, 0.0]) for i in range(6, 12)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index_dir = str(tmp_path / "idx")
    build_ivf_index(vecs.filter("vec_id >= 6"), index_dir, centroid_stride=2)

    # first delivery: vids 0-5 in one batch
    ivf_index_append(
        spark, index_dir, vecs.filter("vec_id < 6"), src="fa11-6"
    )
    # restart with changed batching: vids 3-5 redelivered as their own
    # batch LATER but under a lexicographically SMALLER content-digest
    # label; vid 3's vector changed -> other cell.  mtime granularity
    # guard: make sure the second load's files are measurably newer.
    import time as _time

    _time.sleep(0.05)
    redelivered = spark.createDataFrame(
        [(3, [0.0, 1.0, 0.0]), (4, [1.0, 0.08, 0.0]), (5, [1.0, 0.10, 0.0])],
        "vec_id long, embedding array<float>",
    )
    ivf_index_append(spark, index_dir, redelivered, src="0b22-3")

    cells = spark.read.parquet(index_dir + "/cells")
    dup_vids = (
        cells.groupBy("vid").count().filter("count > 1").collect()
    )
    assert {r.vid for r in dup_vids} == {3, 4, 5}, "corner not reproduced"

    before, after = compact_ivf_index(spark, index_dir)
    assert before == 15 and after == 12
    cells = spark.read.parquet(index_dir + "/cells")
    assert cells.groupBy("vid").count().filter("count > 1").count() == 0
    # winner is the LATER-WRITTEN load despite its smaller label:
    # vid 3 keeps the redelivered vector (normalizes onto the y-axis
    # cell) — a label-order pick would have kept the stale one
    kept3 = cells.filter("vid = 3").collect()
    assert len(kept3) == 1 and abs(kept3[0].vec[1]) > abs(kept3[0].vec[0])
    # partition layout survives: probe still prunes and ranks cleanly
    probes = vecs.filter("vec_id = 1")
    out = ivf_probe_index(spark, index_dir, probes, k=5, nprobe=2).collect()
    assert len(out) == 5
    assert sorted(r.rank for r in out) == [1, 2, 3, 4, 5]
    # idempotent: a second compaction is a no-op on row counts
    b2, a2 = compact_ivf_index(spark, index_dir)
    assert (b2, a2) == (12, 12)


def test_compact_ivf_index_orders_by_append_sequence_not_mtime(
    spark, tmp_path
):
    """r10 advisor finding: delivery order was recovered from parquet
    file mtimes, which any copy/restore path that drops mtimes (rsync
    without -t, tar/object-store round trips) silently reorders —
    flipping the per-vid compaction winner toward a stale vector.
    Mangle the mtimes here (the FIRST load's files made newest on
    disk): compaction must still keep the LATER-APPENDED vector,
    because the explicit append sequence (loads.json) outranks mtime.
    Deleting loads.json (a pre-r11 index) falls back to mtime order
    and keeps the mangled winner — the documented legacy behavior."""
    import os
    import time as _time

    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
        ivf_index_append,
    )

    base = spark.createDataFrame(
        [(i, [1.0, 0.02 * i, 0.0]) for i in range(6, 9)]
        + [(i, [0.02 * (i - 9), 1.0, 0.0]) for i in range(9, 12)],
        "vec_id long, embedding array<float>",
    )

    def mangle_first_load_newest(index_dir: str) -> None:
        future = _time.time() + 3600
        for dirpath, _dirs, files in os.walk(index_dir + "/cells"):
            if os.path.basename(dirpath) == "src=first":
                for f in files:
                    os.utime(os.path.join(dirpath, f), (future, future))

    def build_with_conflict(index_dir: str) -> None:
        build_ivf_index(base, index_dir, centroid_stride=2)
        ivf_index_append(
            spark,
            index_dir,
            spark.createDataFrame(
                [(3, [1.0, 0.06, 0.0])], "vec_id long, embedding array<float>"
            ),
            src="first",
        )
        ivf_index_append(
            spark,
            index_dir,
            spark.createDataFrame(
                [(3, [0.0, 1.0, 0.0])], "vec_id long, embedding array<float>"
            ),
            src="second",
        )
        mangle_first_load_newest(index_dir)

    # sequence present: the later APPEND wins despite older-on-disk
    idx = str(tmp_path / "seq")
    build_with_conflict(idx)
    before, after = compact_ivf_index(spark, idx)
    assert (before, after) == (8, 7)
    kept = spark.read.parquet(idx + "/cells").filter("vid = 3").collect()
    assert len(kept) == 1 and abs(kept[0].vec[1]) > abs(kept[0].vec[0])
    # ...and the sequence file is re-based for future appends
    import json

    with open(idx + "/loads.json", encoding="utf-8") as fh:
        assert json.load(fh) == {"base": 0}

    # legacy index (no loads.json): mtime fallback keeps the mangled
    # "newest" load — exactly the pre-r11 behavior, still deterministic
    idx2 = str(tmp_path / "legacy")
    build_with_conflict(idx2)
    os.remove(idx2 + "/loads.json")
    compact_ivf_index(spark, idx2)
    kept2 = spark.read.parquet(idx2 + "/cells").filter("vid = 3").collect()
    assert len(kept2) == 1 and abs(kept2[0].vec[0]) > abs(kept2[0].vec[1])


def test_compact_ivf_index_mixed_loads_json_falls_back_to_mtime(
    spark, tmp_path
):
    """r11 advisor finding: a NON-empty loads.json missing some
    on-disk label (torn copy/restore) used to pin the unlisted label
    at sequence -1 — a NEWER unlisted append lost to every recorded
    label.  Mixed state must now warn and fall back to full-mtime
    ordering for the whole index, which gets this case right."""
    import json
    import os
    import time as _time

    import pytest

    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
        ivf_index_append,
    )

    base = spark.createDataFrame(
        [(i, [1.0, 0.02 * i, 0.0]) for i in range(6, 9)]
        + [(i, [0.02 * (i - 9), 1.0, 0.0]) for i in range(9, 12)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "torn")
    build_ivf_index(base, idx, centroid_stride=2)
    ivf_index_append(
        spark,
        idx,
        spark.createDataFrame(
            [(3, [1.0, 0.06, 0.0])], "vec_id long, embedding array<float>"
        ),
        src="first",
    )
    _time.sleep(0.05)  # make the second load measurably newer on disk
    ivf_index_append(
        spark,
        idx,
        spark.createDataFrame(
            [(3, [0.0, 1.0, 0.0])], "vec_id long, embedding array<float>"
        ),
        src="second",
    )
    # torn restore: drop the NEWER append's label from the sequence
    with open(idx + "/loads.json", encoding="utf-8") as fh:
        seqs = json.load(fh)
    del seqs["second"]
    with open(idx + "/loads.json", "w", encoding="utf-8") as fh:
        json.dump(seqs, fh)
    # without the fallback, "second" ranks at seq -1 and the STALE
    # "first" vector would win; mtime fallback keeps the newer one
    with pytest.warns(UserWarning, match="out of step"):
        compact_ivf_index(spark, idx)
    kept = spark.read.parquet(idx + "/cells").filter("vid = 3").collect()
    assert len(kept) == 1 and abs(kept[0].vec[1]) > abs(kept[0].vec[0])
    # post-compaction state is consistent again: no mixed-state warning
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        compact_ivf_index(spark, idx)
    assert not any("out of step" in str(w.message) for w in caught)


def test_corpus_fingerprint_duplicate_rows_cannot_cancel(spark):
    """r11 advisor finding: the xor-only content digest was
    self-canceling — any (id, vec) row with even multiplicity XORed
    to zero, so equal-count corpora differing only in duplicated rows
    collided and the artifact memo served stale state.  The r12
    digest combines the xor fold with a multiplied additive fold."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        _corpus_fingerprint,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    fp = lambda df: _corpus_fingerprint(df, "vec_id", "embedding")  # noqa: E731

    # equal counts, every row even-multiplicity: xor folds BOTH to 0
    a = mk([(1, [1.0, 2.0]), (1, [1.0, 2.0]), (2, [3.0, 4.0]), (2, [3.0, 4.0])])
    b = mk([(5, [9.0, 8.0]), (5, [9.0, 8.0]), (6, [7.0, 6.0]), (6, [7.0, 6.0])])
    fa, fb = fp(a), fp(b)
    assert fa != fb
    assert fa[1] != 0 and fb[1] != 0
    # singleton corpora: naive xor^sum would digest EVERY 1-row corpus
    # to h^h = 0 — the multiplier breaks the correlation
    s1, s2 = fp(mk([(1, [1.0, 2.0])])), fp(mk([(2, [5.0, 6.0])]))
    assert s1[1] != 0 and s2[1] != 0 and s1 != s2
    # commutative: partitioning / row order never changes the digest
    a_rep = mk(
        [(2, [3.0, 4.0]), (1, [1.0, 2.0]), (2, [3.0, 4.0]), (1, [1.0, 2.0])]
    ).repartition(7)
    assert fp(a_rep) == fa
    # multiplicity is visible: one copy vs two copies differ
    one = mk([(1, [1.0, 2.0]), (2, [3.0, 4.0])])
    assert fp(one) != fa


def test_ann_ingest_refuses_legacy_label_formats(spark, tmp_path):
    """r11 verdict item 5: resuming/starting a content-addressed
    ingest stream over an index whose labels the current digest
    formula cannot reproduce (pre-r10 12-hex, r10/r11 xor-only
    16-hex, batch-mode uuid labels) appends duplicate vids on
    redelivery.  Until r12 only a docstring warned; now the sink
    refuses at stream start, and compaction (which rebases every
    load into src=base) clears the check."""
    import pytest

    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        assert_ingest_label_compat,
        build_ivf_index,
        compact_ivf_index,
        ivf_index_append,
    )
    from business_intelligence_and_data_warehouse_spark.streaming.sinks import (
        run_ann_ingest_stream,
    )

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.02 * i, 0.0]) for i in range(6)]
        + [(i, [0.02 * (i - 6), 1.0, 0.0]) for i in range(6, 12)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "legacyfmt")
    build_ivf_index(vecs.filter("vec_id >= 6"), idx, centroid_stride=2)
    # a fresh build carries only src=base: the guard passes
    assert_ingest_label_compat(idx)

    # a pre-r10-style 12-hex label (indistinguishable from a batch
    # uuid label): the stream must refuse, naming the offender
    ivf_index_append(
        spark, idx, vecs.filter("vec_id < 3"), src="deadbeefcafe"
    )
    with pytest.raises(RuntimeError, match="deadbeefcafe"):
        run_ann_ingest_stream(None, spark, idx)  # raises before _drive
    # the prescribed fix heals it: compaction rebases to src=base
    compact_ivf_index(spark, idx)
    assert_ingest_label_compat(idx)
    # current-format labels pass
    ivf_index_append(
        spark,
        idx,
        vecs.filter("vec_id >= 3 and vec_id < 6"),
        src="v2-00000000deadbeef-3",
    )
    assert_ingest_label_compat(idx)
    # ...and an r10/r11 xor-only 16-hex label (no v2- prefix) is
    # caught even though its shape matches the old stream's output
    ivf_index_append(
        spark,
        idx,
        spark.createDataFrame(
            [(20, [0.5, 0.5, 0.0])], "vec_id long, embedding array<float>"
        ),
        src="00000000feedface-1",
    )
    with pytest.raises(RuntimeError, match="feedface"):
        assert_ingest_label_compat(idx)


def test_lsh_key_bits_integer_sizing():
    """w = smallest width with 2^w >= N/8, clamped to the segment —
    exact integer twin of the oracle's LENGTH(BIN(N-1)) formula."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        lsh_key_bits,
    )

    assert lsh_key_bits(1) == 1 and lsh_key_bits(2) == 1
    assert lsh_key_bits(2000) == 8  # 2^8=256 >= 250; 2^7 < 250
    assert lsh_key_bits(2048) == 8
    assert lsh_key_bits(2049) == 9
    assert lsh_key_bits(10**9) == 15  # clamped to the segment width
    for n in (3, 17, 255, 256, 257, 60_000, 1_000_000):
        w = lsh_key_bits(n, seg_bits=60)
        assert 2**w >= n / 8 and (w == 1 or 2 ** (w - 1) < n / 8)


def test_lsh_sized_keys_verify_superset_of_full_keys(spark):
    """Masking band keys to fewer bits only COARSENS buckets, so after
    the exact-cosine verify the sized form's pair set must contain the
    full-key form's — recall can only improve as w shrinks (cost is
    what grows); both are subsets of no-false-positives exact pairs."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        lsh_ann_pairs,
    )

    rows = [
        (i, [1.0 - 0.01 * i, 0.01 * i, 0.3, -0.2]) for i in range(10)
    ] + [(i, [-0.5, 0.02 * i, -1.0, 0.4]) for i in range(10, 20)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = {
        (r.vec_a, r.vec_b)
        for r in lsh_ann_pairs(vecs, bands=4, bits_per_band=15).collect()
    }
    sized = {
        (r.vec_a, r.vec_b)
        for r in lsh_ann_pairs(
            vecs, bands=4, bits_per_band=15, key_bits=4
        ).collect()
    }
    assert full <= sized and len(sized) > 0


def test_lsh_ann_probe_subset_of_pairs_and_ranked(spark):
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        lsh_ann_pairs,
        lsh_ann_probe,
    )

    rows = [(i, [1.0 - 0.01 * i, 0.01 * i, 0.0]) for i in range(8)] + [
        (i, [0.0, 0.01 * (i - 8), 1.0]) for i in range(8, 16)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = vecs.filter("vec_id in (0, 8)")
    out = lsh_ann_probe(vecs, probes, k=5, bands=4, bits_per_band=4).collect()
    # self-matches excluded; ranks contiguous from 1 per probe
    assert all(r.query_id != r.neighbor_id for r in out)
    for qid in {r.query_id for r in out}:
        ranks = sorted(r.rank for r in out if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))
    # every (probe, neighbor) the panel finds is a bucket-pair the
    # symmetric form also finds (same signatures, same band layout)
    sym = {
        (r.vec_a, r.vec_b)
        for r in lsh_ann_pairs(
            vecs, bands=4, bits_per_band=4, min_cosine=-1.0
        ).collect()
    }
    for r in out:
        a, b = sorted((r.query_id, r.neighbor_id))
        assert (a, b) in sym


def test_lsh_direct_band_keys_equal_packed_signature_slices(spark):
    """Each band key built directly from its own hyperplanes equals the
    band sliced out of one packed signature word — at every
    (num_bits, bands) layout that fits a word, an uneven one (33 bits,
    4 bands: the top bit unused) included, with and without a key_bits
    mask, on a zero vector and on negative components."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        banded_hyperplane_keys,
    )

    from .ann_reference import _band_rows, hyperplane_signatures

    for dim in (3, 16):
        rows = [(0, [0.0] * dim)] + [
            (i, [float((i * 37 + j * 11) % 23 - 11) / 7 for j in range(dim)])
            for i in range(1, 40)
        ]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        for num_bits, bands in ((16, 4), (40, 4), (60, 4), (33, 4)):
            r = num_bits // bands
            for key_bits in (None, 3, r):
                direct = banded_hyperplane_keys(vecs, bands, r, key_bits)
                packed = _band_rows(
                    hyperplane_signatures(vecs, num_bits), num_bits, bands, key_bits
                )
                got = sorted(tuple(x) for x in direct.collect())
                assert len(got) == 40 * bands
                assert got == sorted(tuple(x) for x in packed.collect()), (
                    dim, num_bits, bands, key_bits,
                )
                assert (0, 0, 0) in got  # the zero vector keys to 0


def test_lsh_operators_equal_packed_reference_at_registered_params(
    spark, sf_dir
):
    """lsh_ann_pairs and lsh_ann_probe return exactly the rows of the
    packed-signature reference composition at the registered
    parameters (4 bands × 10 bits, cosine >= 0.4, the 50-id panel),
    and with a corpus-sized key_bits mask."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        lsh_ann_pairs,
        lsh_ann_probe,
        lsh_key_bits,
    )
    from business_intelligence_and_data_warehouse_spark.plans.pipeline_queries import (
        _panel_filter,
    )
    from business_intelligence_and_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    from . import ann_reference as ref

    emb = load_table(spark, sf_dir, "embeddings")
    w = lsh_key_bits(emb.count(), seg_bits=10)
    for key_bits in (None, w):
        got = sorted(
            tuple(r)
            for r in lsh_ann_pairs(emb, 4, 10, key_bits, 0.4).collect()
        )
        assert got
        assert got == sorted(
            tuple(r) for r in ref.lsh_ann_pairs(emb, 40, 4, 0.4, key_bits).collect()
        )
    probes = emb.filter(_panel_filter())
    got = sorted(tuple(r) for r in lsh_ann_probe(emb, probes, 10, 4, 10).collect())
    assert got
    assert got == sorted(
        tuple(r) for r in ref.lsh_ann_probe(emb, probes, 10, 40, 4).collect()
    )


def test_multimodal_plumbing_roundtrip(spark):
    docs = _docs(spark, [(1, "abc"), (2, "")])
    feats = {r.doc_id: r for r in extract_features(attach_blob(docs)).collect()}
    assert feats[1].n_bytes == 3
    assert feats[1].first_byte == ord("a")
    assert feats[1].digest == "900150983cd24fb0d6963f7d28e17f72"  # md5('abc')
    assert feats[2].n_bytes == 0 and feats[2].first_byte == -1


def test_multimodal_real_ppm_decode_through_map_in_pandas(spark):
    """A REAL image decode runs in CI: tiny generated binary-PPM
    payloads stream through the mapInPandas extractor and come back
    with exact geometry, channel means, and a hash-checked raster."""
    import hashlib

    from business_intelligence_and_data_warehouse_spark.operators.multimodal import (
        IMAGE_FEATURE_SCHEMA,
        _image_features,
        decode_ppm,
        encode_ppm,
    )

    # 2x2 image: solid channels per pixel -> known means
    raster = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 255])
    ppm = encode_ppm(2, 2, raster)
    # header parser must survive comments + multi-whitespace
    commented = b"P6\n# a comment line\n2 2\n# another\n255\n" + raster
    assert decode_ppm(commented) == (2, 2, 255, raster)
    blobs = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(commented)), (3, bytearray(b"oops"))],
        "doc_id long, payload binary",
    )
    feats = {
        r.doc_id: r
        for r in extract_features(
            blobs, extractor=_image_features, schema=IMAGE_FEATURE_SCHEMA
        ).collect()
    }
    want_digest = hashlib.md5(raster).hexdigest()
    for did in (1, 2):
        row = feats[did]
        assert (row.width, row.height) == (2, 2)
        assert (row.mean_r, row.mean_g, row.mean_b) == (127.5, 127.5, 127.5)
        assert row.pixel_digest == want_digest
    # a corrupt blob degrades to a sentinel row, never a stage failure
    assert feats[3].width == -1 and feats[3].pixel_digest is None
    # zero/negative dims must raise in decode (-> sentinel path), not
    # divide-by-zero downstream
    import pytest

    with pytest.raises(ValueError):
        decode_ppm(b"P6\n0 0\n255\n")
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n-1 -1\n255\nABC")


def test_simhash_blocking_is_exact_vs_brute_force(spark):
    """Two-level pigeonhole recall proof on a varied corpus: the
    blocked operator must return EXACTLY the pairs brute-force
    all-pairs Hamming <= 3 returns over the same signatures."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        simhash,
        simhash_near_dups,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    # clusters of perturbed docs -> plenty of near-dup pairs at many
    # different Hamming distances, plus singletons
    rows = []
    did = 0
    for c in range(12):
        base = rng.sample(vocab, 12)
        for v in range(rng.randint(1, 5)):
            words = list(base)
            for _ in range(rng.randint(0, 2)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            rows.append((did, " ".join(words * 3)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r.doc_id: r.simhash for r in simhash(docs, 32).collect()}
    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_dups(docs, 32, max_hamming=3).collect()
    }
    assert got == expected
    assert expected, "fixture produced no near-dup pairs; weaken perturbation"


def test_minhash_slices_extend_past_one_digest(spark):
    """num_hashes > 4 rolls over to salted digests: hash h reads the
    8-hex (32-bit) slice (h%4) of digest md5(f'{h//4}|' + s) (digest 0
    unsalted). 32-bit slices keep the min non-degenerate for any real
    per-document shingle count.  Checked on the JVM reference's hex
    minima and on the kernel's band keys (3 bands x 4 rows)."""
    import hashlib

    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        doc_signatures,
    )

    from .dedup_reference import minhash_signatures

    sh = spark.createDataFrame(
        [(1, "alpha"), (1, "beta"), (2, "alpha")], "doc_id long, s string"
    )
    out = {r.doc_id: r for r in minhash_signatures(sh, 12).collect()}
    toks = spark.createDataFrame(
        [(1, ["alpha", "beta", "alpha"]), (2, ["alpha"])],
        "doc_id long, toks array<string>",
    )
    keys = {
        r.doc_id: r.mh
        for r in doc_signatures(toks, k=1, bands=3, rows_per_band=4).collect()
    }

    def slices(salt, s):
        base = (f"{salt}|" + s) if salt else s
        d = hashlib.md5(base.encode()).hexdigest()
        return [d[8 * i : 8 * i + 8] for i in range(4)]

    for doc, words in ((1, ["alpha", "beta"]), (2, ["alpha"])):
        exp = [min(slices(h // 4, w)[h % 4] for w in words) for h in range(12)]
        for h in range(12):
            assert out[doc][f"mh{h}"] == exp[h], (doc, h)
        for b in range(3):
            want = b.to_bytes(4, "big") + bytes.fromhex(
                "".join(exp[4 * b : 4 * b + 4])
            )
            assert bytes(keys[doc][b]) == want, (doc, b)


def test_multi_signal_matches_standalone_operators(spark, sf_dir):
    """The shared-tokenize composite must agree exactly with the three
    standalone operators it amortizes — a refactor of the shared
    token/shingle tables that drifts any signal fails here."""
    from collections import Counter

    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_dedup,
        multi_signal_dedup,
        simhash_near_dups,
    )
    from business_intelligence_and_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    report = multi_signal_dedup(docs).collect()
    assert len(report) == docs.count()

    exact = {r.content_hash: r.n_duplicates for r in exact_dedup(docs).collect()}
    near = Counter()
    for r in minhash_lsh_dedup(docs, threshold=0.5).collect():
        near[r.doc_a] += 1
        near[r.doc_b] += 1
    ham = Counter()
    for r in simhash_near_dups(docs).collect():
        ham[r.doc_a] += 1
        ham[r.doc_b] += 1
    for row in report:
        assert row.n_exact_copies == exact[row.content_hash], row
        assert row.n_near_dup_neighbors == near[row.doc_id], row
        assert row.n_hamming_neighbors == ham[row.doc_id], row
    # exactly one canonical per content-hash group
    canon = Counter(r.content_hash for r in report if r.is_canonical)
    assert set(canon) == set(exact) and all(v == 1 for v in canon.values())


def test_incremental_dedup_edge_semantics(spark):
    """Edge contract of incremental_dedup: exact beats near (score
    nulled), ties on jaccard break to the smallest corpus id, docs
    too short to shingle can still be exact_dup, and a batch doc
    matching nothing is novel."""
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        incremental_dedup,
    )

    existing = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),  # exact twin of 1
            (3, "alpha beta gamma epsilon"),
            (4, "zz"),  # too short to shingle
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "ALPHA   beta gamma delta"),  # exact after normalize
            (11, "alpha beta gamma zeta"),  # near of 1/2/3, tie -> 1
            (12, "totally different words here"),  # novel
            (13, "zz"),  # exact dup of the unshingleable doc
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in incremental_dedup(
            new, existing, k=3, threshold=0.3, max_df=None
        ).collect()
    }
    assert rows[10]["verdict"] == "exact_dup"
    assert rows[10]["match_id"] == 1  # smallest exact twin
    assert rows[10]["jaccard"] is None  # exact precedence nulls score
    assert rows[11]["verdict"] == "near_dup"
    assert rows[11]["match_id"] == 1  # jaccard tie vs 2 -> smaller id
    assert rows[11]["jaccard"] is not None
    assert rows[12]["verdict"] == "novel"
    assert rows[12]["match_id"] is None
    assert rows[13]["verdict"] == "exact_dup" and rows[13]["match_id"] == 4


def test_incremental_dedup_consistent_with_standalone_operators(spark, sf_dir):
    """incremental_dedup must agree with the standalone operators it
    composes: its exact tier with exact_dedup's hash groups, its near
    tier with jaccard_pairs over the union restricted to (new,
    existing) pairs — same k/threshold/df-cap-off configuration."""
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        incremental_dedup,
    )
    from business_intelligence_and_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    # deterministic subset — an unordered limit() can pick DIFFERENT
    # rows per action on a multi-partition source
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    new = docs.filter(F.col("doc_id") % 10 == 0)
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    got = {
        r["doc_id"]: r
        for r in incremental_dedup(
            new, existing, k=3, threshold=0.5, max_df=None
        ).collect()
    }

    # exact tier: a new doc is exact_dup iff some existing doc shares
    # its normalized-text fingerprint, matched to the smallest such id
    from business_intelligence_and_data_warehouse_spark.functions.text import (
        fingerprint_md5,
    )

    doc_hash = {
        r["doc_id"]: r["h"]
        for r in docs.select(
            "doc_id", fingerprint_md5(F.col("text")).alias("h")
        ).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    ex_ids = {r["doc_id"] for r in existing.select("doc_id").collect()}
    for nid in new_ids:
        exact_twins = [
            e for e in ex_ids if doc_hash[e] == doc_hash[nid]
        ]
        if exact_twins:
            assert got[nid]["verdict"] == "exact_dup"
            assert got[nid]["match_id"] == min(exact_twins)
        else:
            # two-directional: an always-exact regression must fail
            assert got[nid]["verdict"] != "exact_dup"

    # near tier: jaccard_pairs over the union, restricted to cross
    # (new, existing) pairs, must reproduce the best match + score
    pairs = jaccard_pairs(shingle_table(docs, 3), 0.5, max_df=None).collect()
    best = {}
    for r in pairs:
        a, b = r["doc_a"], r["doc_b"]
        for nid, eid in ((a, b), (b, a)):
            if nid in new_ids and eid in ex_ids:
                cur = best.get(nid)
                cand = (-r["jaccard"], eid)
                if cur is None or cand < cur:
                    best[nid] = cand
    for nid in new_ids:
        row = got[nid]
        if row["verdict"] == "near_dup":
            assert nid in best, f"{nid} near_dup but no standalone pair"
            neg_j, eid = best[nid]
            assert row["match_id"] == eid
            assert abs(row["jaccard"] - (-neg_j)) < 1e-12
        elif row["verdict"] == "novel":
            assert nid not in best, f"{nid} novel but standalone found a pair"


def test_containment_catches_quotes_jaccard_misses(spark):
    """A short document fully quoted inside a long one: containment
    1.0 while symmetric Jaccard is small — and the pair is invisible
    to the Jaccard threshold but caught by the containment one."""
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        shingle_table,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long_doc = (
        "intro words here then the quote begins "
        + short
        + " and a very long tail of unrelated filler content goes on "
        + " ".join(f"w{i}" for i in range(40))
    )
    docs = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "completely different text entirely")],
        "doc_id long, text string",
    )
    sh = shingle_table(docs, 3)
    cp = {(r.doc_a, r.doc_b): r for r in containment_pairs(sh, 0.8).collect()}
    assert (1, 2) in cp
    assert cp[(1, 2)].containment == 1.0
    assert cp[(1, 2)].jaccard < 0.5
    assert not any(3 in pair for pair in cp)
    jp = [(r.doc_a, r.doc_b) for r in jaccard_pairs(sh, 0.5).collect()]
    assert (1, 2) not in jp

    # symmetric exact duplicates: containment == jaccard == 1
    dup = spark.createDataFrame(
        [(1, short), (2, short)], "doc_id long, text string"
    )
    out = containment_pairs(shingle_table(dup, 3), 0.9).collect()
    assert len(out) == 1 and out[0].containment == 1.0 and out[0].jaccard == 1.0


def _ivf_assignment_drift(
    spark,
    index_dir: str,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """REBUILD-DECISION metric for the incremental IVF lifecycle: how
    far has the index drifted from what a fresh train over TODAY's
    corpus would build?

    The ingest path appends against FROZEN centroids
    (:func:`ivf_index_append` — the FAISS add-after-train contract),
    so assignment quality decays as the corpus distribution moves away
    from the training snapshot.  Retraining is a REBUILD lifecycle
    decision; this report is the measurement that decision reads:

    * retrain √N Lloyd centroids over the CURRENT indexed corpus
      (same deterministic trainer serving uses);
    * re-assign every indexed vector to the retrained cells
      (one in-task assignment pass, the index-build plan shape);
    * count the vectors whose retrained cell population differs from
      their frozen cell population — computed as a CELL-PAIR
      confusion table so the metric is stable under arbitrary
      centroid RENUMBERING (cells have no identity across trainings;
      comparing raw cvid labels would report ~100% drift for a
      bit-identical re-train).  A vector "moved" if its
      (frozen cell, retrained cell) pair is not the dominant mapping
      of its frozen cell — the standard clustering-agreement view
      (one row per frozen cell keeps its majority image).

    Returns ONE row: (n_vectors, n_cells_frozen, n_cells_retrained,
    n_moved, drift_frac).  Everything is exact integer arithmetic
    over the snapped-cosine assignments, so the report is
    deterministic and SQL-replayable.  Only the test below reaches it,
    so it lives here rather than in the package.

    Scale: the retrain is the trainer's documented bounded cost (√N
    cells, iters in-task assign passes); the confusion table is
    cells×cells AT MOST and in practice near-diagonal; nothing
    corpus-sized shuffles except the one (cell,cell) keyed count.
    """
    from pyspark.sql import Window as W

    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        _assign_cells_arrow,
        _collect_normed,
        train_ivf_centroids,
    )

    cells = spark.read.parquet(index_dir.rstrip("/") + "/cells").select(
        "vid", "vec", "norm", F.col("cvid").alias("frozen_cvid")
    )
    corpus_n = cells.select("vid", "vec", "norm")
    n = corpus_n.count()
    # retrain over the CURRENT corpus: corpus_n is already normed, and
    # train_ivf_centroids normalizes internally from raw vectors — feed
    # it the raw-shaped frame it expects
    raw = corpus_n.select(
        F.col("vid").alias(id_col), F.col("vec").alias(vec_col)
    )
    cents2 = train_ivf_centroids(
        raw, iters=iters, id_col=id_col, vec_col=vec_col, n=n
    )
    assign2 = _assign_cells_arrow(corpus_n, _collect_normed(cents2)).select(
        "vid", F.col("cvid").alias("retrained_cvid")
    )
    pairs = cells.select("vid", "frozen_cvid").join(assign2, "vid")
    confusion = pairs.groupBy("frozen_cvid", "retrained_cvid").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    # majority image per frozen cell (ties -> smaller retrained id,
    # deterministic); everything outside the majority mapping "moved"
    w = W.partitionBy("frozen_cvid").orderBy(
        F.desc("n_pair"), F.col("retrained_cvid")
    )
    kept = (
        confusion.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.sum("n_pair").alias("n_kept"))
    )
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("frozen_cvid").alias("n_cells_frozen"),
        F.countDistinct("retrained_cvid").alias("n_cells_retrained"),
    )
    return (
        stats.crossJoin(F.broadcast(kept))
        .select(
            "n_vectors",
            "n_cells_frozen",
            "n_cells_retrained",
            (F.col("n_vectors") - F.col("n_kept")).alias("n_moved"),
            (
                (F.col("n_vectors") - F.col("n_kept")).cast("double")
                / F.col("n_vectors")
            ).alias("drift_frac"),
        )
    )


def test_ivf_assignment_drift_zero_without_drift_and_positive_with(
    spark, tmp_path
):
    """The rebuild-decision metric (staged for r11 registration):
    an index whose training saw the WHOLE corpus must report ZERO
    drift against a retrain (same deterministic trainer, renumbering-
    invariant confusion view); appending a distribution the training
    never saw must report drift > 0."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        train_ivf_centroids,
    )

    rows = [(i, [1.0, 0.02 * i, 0.0]) for i in range(8)] + [
        (i, [0.02 * (i - 8), 1.0, 0.0]) for i in range(8, 16)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # index trained on the full corpus -> retrain is bit-identical up
    # to renumbering -> drift 0
    full_dir = str(tmp_path / "full")
    build_ivf_index(vecs, full_dir, centroids_n=train_ivf_centroids(vecs, iters=2))
    r = _ivf_assignment_drift(spark, full_dir).collect()[0]
    assert r.n_vectors == 16 and r.n_moved == 0 and r.drift_frac == 0.0

    # index trained on ONE mode, then a second mode appended against
    # the frozen centroids: the retrain reshapes cells -> drift > 0
    drift_dir = str(tmp_path / "drift")
    first = vecs.filter("vec_id < 8")
    build_ivf_index(
        first, drift_dir, centroids_n=train_ivf_centroids(first, iters=2)
    )
    late = spark.createDataFrame(
        [(i, [0.01 * i, -1.0, 0.5]) for i in range(16, 32)],
        "vec_id long, embedding array<float>",
    )
    ivf_index_append(spark, drift_dir, late)
    r2 = _ivf_assignment_drift(spark, drift_dir).collect()[0]
    assert r2.n_vectors == 24
    assert r2.n_moved > 0 and 0.0 < r2.drift_frac <= 1.0
    # determinism: same index, same report
    r3 = _ivf_assignment_drift(spark, drift_dir).collect()[0]
    assert (r2.n_moved, r2.drift_frac) == (r3.n_moved, r3.drift_frac)


def test_multimodal_null_and_corrupt_blob_contract(spark):
    """NULL payloads and corrupt headers take SENTINEL rows (or zero
    output rows) in EVERY extractor — the r10 review found the default
    byte extractor, the frame sampler, a framerate=0 WAV, and a
    CRLF-separated PPM each killed the Arrow batch or silently
    corrupted pixels instead."""
    import hashlib
    import struct

    import pytest

    from business_intelligence_and_data_warehouse_spark.operators.multimodal import (
        AUDIO_FEATURE_SCHEMA,
        _audio_features,
        _image_features,
        IMAGE_FEATURE_SCHEMA,
        decode_ppm,
        extract_features,
        sample_frames,
    )

    blobs = spark.createDataFrame(
        [(1, bytearray(b"hello")), (2, None)],
        "doc_id long, payload binary",
    )
    # default byte extractor: NULL -> sentinel row, not TypeError
    rows = {r.doc_id: r for r in extract_features(blobs).collect()}
    assert rows[1].n_bytes == 5
    assert rows[2].n_bytes == -1 and rows[2].digest is None
    # frame sampler: NULL -> zero frames for that doc
    frames = sample_frames(blobs, frame_bytes=2, stride=1).collect()
    assert {r.doc_id for r in frames} == {1}
    # image extractor: NULL -> (-1,-1) sentinel geometry
    img = {
        r.doc_id: r
        for r in extract_features(
            blobs, extractor=_image_features, schema=IMAGE_FEATURE_SCHEMA
        ).collect()
    }
    assert img[2].width == -1
    # audio extractor: a WAV declaring framerate=0 decodes via stdlib
    # wave but must sentinel, not ZeroDivisionError
    def wav_rate0():
        frames = struct.pack("<2h", 100, -100)
        fmt = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
        data = b"data" + struct.pack("<I", len(frames)) + frames
        body = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    audio = spark.createDataFrame(
        [(1, bytearray(wav_rate0()))], "doc_id long, payload binary"
    )
    arow = extract_features(
        audio, extractor=_audio_features, schema=AUDIO_FEATURE_SCHEMA
    ).collect()[0]
    assert arow.sample_rate == -1  # sentinel, stage survived
    # CRLF after maxval: both bytes are the separator; the old
    # single-byte consume returned a one-byte-shifted raster silently
    raster = bytes(range(12))
    crlf = b"P6\n2 2\n255\r\n" + raster
    assert decode_ppm(crlf) == (2, 2, 255, raster)
    # non-whitespace separator is an ERROR, not silent corruption
    # (the tokenizer folds the junk into the maxval literal and int()
    # raises; the explicit isspace guard covers the truncated cases)
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n255X" + raster)
    # r10 advisor + r11 review: a bare-\r separator followed by a
    # raster starting 0x0A is byte-identical to a one-byte-TRUNCATED
    # CRLF file — silently picking either reading corrupts the other
    # (the pre-r11 consume shifted the bare-\r raster; the r11
    # exact-fit heuristic un-detected the truncated CRLF).  The
    # ambiguous case must raise into the corrupt-blob sentinel path.
    raster_0a = bytes([0x0A]) + bytes(range(11))
    with pytest.raises(ValueError, match="ambiguous"):
        decode_ppm(b"P6\n2 2\n255\r" + raster_0a)  # valid bare-\r ...
    with pytest.raises(ValueError, match="ambiguous"):
        decode_ppm((b"P6\n2 2\n255\r\n" + raster)[:-1])  # ... == short CRLF
    # an UNambiguous CRLF writer of the 0x0A-leading raster decodes
    # (payload one byte longer: the \n is provably part of the separator)
    crlf_0a = b"P6\n2 2\n255\r\n" + raster_0a
    assert decode_ppm(crlf_0a) == (2, 2, 255, raster_0a)
    # r11 advisor: TRAILING bytes re-opened the ambiguity — a bare-\r
    # 0x0A-leading raster with any trailing junk was length-plausible
    # under the CRLF reading too and silently decoded one byte
    # shifted.  In the \r\n case trailing bytes are now rejected, so
    # both forms raise instead of guessing...
    with pytest.raises(ValueError, match="ambiguous"):
        decode_ppm(b"P6\n2 2\n255\r" + raster_0a + b"XY")
    with pytest.raises(ValueError, match="ambiguous"):
        decode_ppm(crlf_0a + b"XY")
    # ...while unambiguous separators keep tolerating trailing bytes
    assert decode_ppm(b"P6\n2 2\n255\n" + raster + b"XY") == (
        2, 2, 255, raster,
    )


def test_dedup_contract_edges_null_text_and_guards(spark):
    """r10 review edges: a NULL-text document must NOT classify as an
    exact duplicate of an empty document (NULL content hash joins
    nothing — same rule as exact_dedup's NULL fingerprint); SimHash
    rejects num_bits > 32 loudly instead of emitting silently
    degenerate signatures; multi_signal_dedup validates max_hamming
    BEFORE registering any pins."""
    import pytest

    from business_intelligence_and_data_warehouse_spark.operators.caching import (
        _PINNED,
        release_pinned,
    )
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        doc_signatures,
        incremental_dedup,
        multi_signal_dedup,
        simhash_near_dups,
        token_table,
    )

    corpus = _docs(spark, [(1, ""), (2, "real words here")])
    batch = spark.createDataFrame(
        [(10, None), (11, "real words here")], "doc_id long, text string"
    )
    verdicts = {
        r.doc_id: r.verdict
        for r in incremental_dedup(batch, corpus, k=2).collect()
    }
    # NULL text: novel (hash NULL), NOT exact_dup of the empty doc 1
    assert verdicts[10] == "novel"
    assert verdicts[11] == "exact_dup"

    docs = _docs(spark, [(1, "a b c"), (2, "a b c")])
    with pytest.raises(ValueError, match="num_bits"):
        simhash_near_dups(docs, num_bits=64)
    with pytest.raises(ValueError, match="num_bits"):
        doc_signatures(token_table(docs), num_bits=0)

    release_pinned()
    with pytest.raises(ValueError, match="max_hamming"):
        multi_signal_dedup(docs, max_hamming=4)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dups(docs, max_hamming=4)
    assert not _PINNED, "validation must run before any pin registers"


def test_ivf_cached_copy_is_fresh_and_seq_guard_skips_remote(spark, tmp_path):
    """Two r11 review fixes pinned:

    * build_ivf_index_cached(index_dir=...) must return a FRESH copy —
      a previously-mutated target (appended loads from an earlier
      lifecycle run) must not keep stale src partitions beside the
      copied base's loads.json, or compaction ranks them below base
      and resurrects stale vectors.
    * _record_load is a no-op for scheme-qualified index paths:
      failing driver-local I/O AFTER the distributed cells write
      landed would abort an otherwise-successful append (such indexes
      use the documented mtime fallback)."""
    import os

    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        _record_load,
        build_ivf_index_cached,
        ivf_index_append,
        trained_centroids_cached,
    )

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.02 * i, 0.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    cents = trained_centroids_cached(vecs, tag="fresh-copy-test", iters=1)
    target = str(tmp_path / "idx")
    build_ivf_index_cached(
        vecs, "fresh-copy-test", cents, index_dir=target,
        centroids_key="iters1",
    )
    ivf_index_append(
        spark,
        target,
        spark.createDataFrame(
            [(100, [0.5, 0.5, 0.0])], "vec_id long, embedding array<float>"
        ),
        src="stale-load",
    )
    assert any(
        "src=stale-load" in d for d, _, _ in os.walk(target + "/cells")
    )
    # re-copy over the mutated dir: the stale load must be GONE
    build_ivf_index_cached(
        vecs, "fresh-copy-test", cents, index_dir=target,
        centroids_key="iters1",
    )
    assert not any(
        "src=stale-load" in d for d, _, _ in os.walk(target + "/cells")
    )
    import json

    with open(target + "/loads.json", encoding="utf-8") as fh:
        assert json.load(fh) == {"base": 0}

    # scheme-qualified paths: recording is a silent no-op, not a crash
    _record_load("s3a://bucket/some/index", "label-1")
    _record_load("hdfs://nn:8020/idx", "label-2", reset=True)


# ---------------------------------------------------------------------------
# r13 collected-panel Arrow scorers: parity pins
# ---------------------------------------------------------------------------

def _tricky_vecs(spark):
    """Corpus exercising the scorer edge cases: a ZERO vector (NULL
    cosine everywhere), a vector on the exact bisector of two
    centroids (cosine tie -> smaller cvid), plus generic points."""
    rows = [
        (0, [1.0, 0.0, 0.0]),      # centroid candidate (stride)
        (3, [0.0, 1.0, 0.0]),      # centroid candidate (stride)
        (1, [0.5, 0.5, 0.0]),      # exact bisector of 0 and 3 -> tie
        (2, [0.0, 0.0, 0.0]),      # zero vector -> NULL cosine
        (4, [0.9, 0.1, 0.0]),
        (5, [0.1, 0.9, 0.0]),
        (6, [0.7, 0.3, 0.1]),
        (7, [0.2, 0.8, 0.3]),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_numpy_probe_cells_matches_nearest_centroids(spark):
    """The driver-numpy probe->cell choice must replicate the window
    form of nearest-centroid ranking bit for bit, including the
    NULL-cosine (zero-norm) and cosine-tie orderings, at n=1 and n>1."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        _collect_normed,
        _normed,
        _numpy_probe_cells,
    )

    from .ann_reference import nearest_centroids

    vecs = _tricky_vecs(spark)
    corpus_n = _normed(vecs, "vec_id", "embedding")
    cents_n = corpus_n.filter(F.col("vid") % 3 == 0)
    panel = _collect_normed(corpus_n)
    cents = _collect_normed(cents_n)
    for n in (1, 2):
        got = _numpy_probe_cells(*panel, *cents, n)
        jvm = nearest_centroids(corpus_n, cents_n, n).collect()
        want: dict[int, list[int]] = {}
        for r in jvm:
            want.setdefault(int(r.vid), []).append(int(r.cvid))
        assert got == want, (n, got, want)


def test_panel_scorer_matches_join_path(spark, tmp_path):
    """End-to-end pin: the in-task Arrow scorers of brute_force_topk /
    ivf_topk / ivf_topk_trained / build_ivf_index + ivf_probe_index
    must return EXACTLY the rows of the join/window reference forms
    (tests/ann_reference.py) on the edge-case corpus."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        _normed,
        brute_force_topk,
        build_ivf_index,
        ivf_probe_index,
        ivf_topk,
        ivf_topk_trained,
        train_ivf_centroids,
    )

    from . import ann_reference as ref

    vecs = _tricky_vecs(spark)
    probes = vecs.filter("vec_id in (1, 2, 4)")
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(vecs, index_dir, centroid_stride=3)
    corpus_n = _normed(vecs, "vec_id", "embedding")
    stride_cents = corpus_n.filter(F.col("vid") % 3 == 0)
    trained_cents = train_ivf_centroids(vecs, iters=1)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pairs = [
        (
            brute_force_topk(vecs, probes, k=5),
            ref.brute_force_topk(vecs, probes, k=5),
        ),
        (
            ivf_topk(vecs, probes, k=5, centroid_stride=3, nprobe=2),
            ref.ivf_topk(
                ref.assign_cells(corpus_n, stride_cents),
                probes, stride_cents, k=5, nprobe=2,
            ),
        ),
        (
            ivf_topk_trained(vecs, probes, k=5, iters=1, nprobe=2),
            ref.ivf_topk(
                ref.assign_cells(corpus_n, trained_cents),
                probes, trained_cents, k=5, nprobe=2,
            ),
        ),
        (
            ivf_probe_index(spark, index_dir, probes, k=5, nprobe=2),
            ref.ivf_topk(
                spark.read.parquet(index_dir + "/cells"),
                probes,
                spark.read.parquet(index_dir + "/centroids"),
                k=5,
                nprobe=2,
            ),
        ),
    ]
    for fast, slow in pairs:
        got, want = rows(fast), rows(slow)
        assert got == want
        assert got


def test_ann_empty_inputs_return_empty_frames(spark, tmp_path):
    """Empty probe sets and empty centroid sets (a stride that selects
    no row, or an empty corpus) run the one in-task path and return an
    empty frame with the operator's usual schema — never an error."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_index_append,
        ivf_probe_index,
        ivf_topk,
        ivf_topk_trained,
        semantic_dedup_pairs,
    )

    vecs = _tricky_vecs(spark)
    none = vecs.filter("vec_id < 0")
    no_zero = vecs.filter("vec_id > 0")  # stride 100 selects no row
    probes = vecs.filter("vec_id in (1, 4)")

    def index(name, corpus, stride):
        d = str(tmp_path / name)
        build_ivf_index(corpus, d, centroid_stride=stride)
        return d

    full = index("full", vecs, 3)
    no_cents = index("no_cents", no_zero, 100)
    empty = index("empty", none, 3)
    ivf_index_append(
        spark,
        no_cents,
        spark.createDataFrame(
            [(100, [0.3, 0.3, 0.9])], "vec_id long, embedding array<float>"
        ),
    )
    cases = [
        (brute_force_topk(vecs, probes, k=3),
         [brute_force_topk(vecs, none, k=3)]),
        (ivf_topk(vecs, probes, k=3, centroid_stride=3),
         [ivf_topk(vecs, none, k=3, centroid_stride=3),
          ivf_topk(no_zero, probes, k=3, centroid_stride=100),
          ivf_topk(none, probes, k=3, centroid_stride=3)]),
        (ivf_topk_trained(vecs, probes, k=3, iters=1),
         [ivf_topk_trained(vecs, none, k=3, iters=1),
          ivf_topk_trained(none, probes, k=3, iters=1)]),
        (ivf_probe_index(spark, full, probes, k=3),
         [ivf_probe_index(spark, full, none, k=3),
          ivf_probe_index(spark, no_cents, probes, k=3),
          ivf_probe_index(spark, empty, probes, k=3)]),
        (semantic_dedup_pairs(vecs, centroid_stride=3, threshold=0.0),
         [semantic_dedup_pairs(no_zero, centroid_stride=100),
          semantic_dedup_pairs(none, centroid_stride=3)]),
    ]
    for nonempty, empties in cases:
        assert nonempty.collect()
        for e in empties:
            assert e.schema == nonempty.schema
            assert e.collect() == []


def test_topk_kernels_match_reference_on_edge_cases(spark):
    """The L2, int8, Hamming, PQ and IVF-PQ kernels against their
    join/window reference forms (tests/ann_reference.py) on the edges:
    an all-zero vector (NULL int8 scale, dropped; NULL cosine), a NULL
    vector (dropped by int8), duplicate vectors (every distance ties,
    so the id must break it), k larger than the candidate set, and an
    empty probe set (an empty frame with the same schema)."""
    from business_intelligence_and_data_warehouse_spark.operators import (
        similarity as sim,
    )

    from . import ann_reference as ref

    rows = [
        (0, [1.0, 0.0, 0.0, 0.5]),
        (1, [0.5, 0.5, 0.0, -0.5]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.9, 0.1, -0.2, 0.3]),
        (5, [0.9, 0.1, -0.2, 0.3]),  # duplicate of 4
        (6, [0.9, 0.1, -0.2, 0.3]),  # duplicate of 4
        (7, [-0.2, 0.8, 0.3, -0.1]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = vecs.filter("vec_id in (1, 2, 4)")
    none = vecs.filter("vec_id < 0")
    k = 20  # more than the 7 candidates of any probe

    def cases(p):
        return [
            (sim.brute_force_l2_topk(vecs, p, k), ref.brute_force_l2_topk(vecs, p, k)),
            (sim.quantized_ip_topk(vecs, p, k), ref.quantized_ip_topk(vecs, p, k)),
            (
                sim.hamming_topk(vecs, p, k, dim=32),
                ref.hamming_topk(vecs, p, k, dim=32),
            ),
            (
                sim.pq_topk(vecs, p, k, 4, num_subspaces=2, centroid_stride=3),
                ref.pq_topk(vecs, p, k, 4, 2, 3),
            ),
            (
                sim.ivf_pq_topk(
                    vecs, p, k, 4, num_subspaces=2, centroid_stride=3, nprobe=2
                ),
                ref.ivf_pq_topk(vecs, p, k, 4, 2, 3, 3, 2),
            ),
        ]

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    for (fast, slow), (empty, _) in zip(cases(probes), cases(none)):
        got = rows_of(fast)
        assert got and got == rows_of(slow)
        assert empty.schema == fast.schema
        assert empty.collect() == []
    # the ties: 5 and 6 duplicate 4, so probe 4's nearest under L2 are
    # 5 then 6 at distance 0, ordered by id
    l2 = rows_of(sim.brute_force_l2_topk(vecs, probes, k))
    nearest = sorted((r[2], r[1], r[3]) for r in l2 if r[0] == 4)[:2]
    assert nearest == [(1, 5, 0.0), (2, 6, 0.0)]
    # the zero vector is no int8 probe or neighbour, and its cosine is NULL
    assert all(2 not in r[:2] for r in rows_of(sim.quantized_ip_topk(vecs, probes, k)))
    ham = rows_of(sim.hamming_topk(vecs, probes, k, dim=32))
    assert all(r[4] is None for r in ham if 2 in r[:2])
    # a NULL vector has a NULL int8 scale too: dropped on both sides
    nulled = vecs.unionByName(
        spark.createDataFrame([(8, None)], "vec_id long, embedding array<float>")
    )
    nprobes = nulled.filter("vec_id in (1, 2, 4, 8)")
    got = rows_of(sim.quantized_ip_topk(nulled, nprobes, k))
    assert got == rows_of(ref.quantized_ip_topk(nulled, nprobes, k))
    assert got == rows_of(sim.quantized_ip_topk(vecs, probes, k))


def test_ivf_cells_stay_vid_disjoint_across_append(spark, tmp_path):
    """VERDICT r12 item 8: the probe path's correctness (and the r12
    DPP verify-join keying) rests on every vid living in EXACTLY ONE
    (cell, load) row — pin it across build + two appends."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
    )

    vecs = _tricky_vecs(spark)
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(vecs.filter("vec_id % 3 != 2"), index_dir,
                    centroid_stride=3)
    ivf_index_append(spark, index_dir, vecs.filter("vec_id % 3 = 2"))
    ivf_index_append(
        spark,
        index_dir,
        spark.createDataFrame(
            [(100, [0.3, 0.3, 0.9])], "vec_id long, embedding array<float>"
        ),
        src="late-load",
    )
    dup = (
        spark.read.parquet(index_dir + "/cells")
        .groupBy("vid")
        .count()
        .filter("count > 1")
        .collect()
    )
    assert dup == [], f"vids in more than one cell row: {dup}"


def test_simhash_arrow_matches_jvm_form(spark):
    """The signature kernel's SimHash must replicate the exploded-JVM
    form and the standalone Arrow pass bit for bit — md5 high-nibble
    vote bits, tf-weighted votes, strict >0 sign, no signature for an
    empty token array — on unicode, repeated-token and single-token
    docs, at 32 and narrower widths."""
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        doc_signatures,
        token_table,
    )

    from .dedup_reference import simhash_from_tokens, simhash_from_tokens_jvm

    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content entirely here"),
            (4, "répétition naïve café über straße 日本語 のテキスト"),
            (5, "same same same same same same"),
            (6, "x"),
            (7, ""),  # empty text
        ],
    )
    toks = token_table(docs)
    # force a truly EMPTY token array alongside the real ones: every
    # form must drop it (the exploded form produced no row for it)
    toks = toks.withColumn(
        "toks",
        F.when(F.col("doc_id") == 7, F.array().cast("array<string>"))
        .otherwise(F.col("toks")),
    )
    for bits in (32, 16, 9):
        got = {
            r.doc_id: r.simhash
            for r in doc_signatures(toks, num_bits=bits).collect()
            if r.simhash is not None
        }
        want = {
            r.doc_id: r.simhash
            for r in simhash_from_tokens_jvm(toks, bits).collect()
        }
        arrow = {
            r.doc_id: r.simhash
            for r in simhash_from_tokens(toks, bits).collect()
        }
        assert got == want == arrow, (bits, got, want)
    assert 7 not in got  # empty token array stays absent


def _parity_corpus(spark):
    """Near-duplicate clusters over a small mixed-script vocabulary,
    plus NULL text, empty text, documents shorter than any shingle
    width, and documents repeating one shingle."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(24)] + [
        "café", "naïve", "straße", "日本語", "テキスト", "über",
    ]
    rows, did = [], 0
    for _ in range(14):
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 18))]
        for _ in range(rng.randint(1, 4)):
            words = list(base)
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            rows.append((did, " ".join(words)))
            did += 1
    rows += [
        (did, None),
        (did + 1, ""),
        (did + 2, "   "),
        (did + 3, "café"),
        (did + 4, "w1 w2"),
        (did + 5, "a b a b a b a b"),
        (did + 6, "a b a b a b"),
        (did + 7, "日本語 テキスト 日本語 テキスト"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_signature_kernel_minhash_matches_jvm_reference(spark):
    """Band keys, candidate pairs and their Jaccard from the kernel
    equal the exploded JVM forms (hex minima, banded struct join,
    two-way shingle verify) on a corpus with NULL/empty/short docs and
    repeated and non-ASCII shingles, for several band geometries —
    including 1 and 9 hashes, which do not fill whole digests."""
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        doc_signatures,
        minhash_band_pairs,
        shingles_from_tokens,
        token_table,
    )

    from .dedup_reference import (
        jaccard_for_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    toks = token_table(_parity_corpus(spark)).cache()
    for k, bands, rows in ((3, 4, 2), (2, 3, 4), (1, 1, 1), (2, 3, 3)):
        sh = shingles_from_tokens(toks, k)
        sigs = doc_signatures(toks, k=k, bands=bands, rows_per_band=rows)
        got_sh = {r.doc_id: sorted(r.sh) for r in sigs.collect()}
        want_sh: dict = {}
        for r in sh.collect():
            want_sh.setdefault(r.doc_id, []).append(r.s)
        assert {d: v for d, v in got_sh.items() if v} == {
            d: sorted(v) for d, v in want_sh.items()
        }
        hexes = {
            r.doc_id: r
            for r in minhash_signatures(sh, bands * rows).collect()
        }
        keys = {r.doc_id: r.mh for r in sigs.collect() if r.mh is not None}
        assert set(keys) == set(hexes)
        for d, mh in keys.items():
            assert [bytes(x) for x in mh] == [
                b.to_bytes(4, "big")
                + bytes.fromhex(
                    "".join(hexes[d][f"mh{b * rows + i}"] for i in range(rows))
                )
                for b in range(bands)
            ], (k, bands, rows, d)
        cand = minhash_lsh_candidates(sh, bands, rows)
        want_cand = {(r.doc_a, r.doc_b) for r in cand.collect()}
        want_j = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_for_pairs(cand, sh).collect()
        }
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_band_pairs(sigs).collect()
        }
        assert set(got) == want_cand, (k, bands, rows)
        assert got == {p: want_j.get(p, 0.0) for p in want_cand}
        assert any(j == 1.0 for j in got.values())
    toks.unpersist()


def test_signature_kernel_simhash_pairs_match_jvm_reference(spark):
    """SimHash values and the packed-key Hamming pairs from the kernel
    equal the JVM signature form and the struct-explode block join, at
    1, 17 and 32 bits and two block geometries."""
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        _hamming_pairs,
        doc_signatures,
        token_table,
    )

    from .dedup_reference import simhash_from_tokens_jvm, simhash_pairs_from_sigs

    toks = token_table(_parity_corpus(spark)).cache()
    for bits in (1, 17, 32):
        ref_sigs = simhash_from_tokens_jvm(toks, bits)
        want_sig = {r.doc_id: r.simhash for r in ref_sigs.collect()}
        for blocks, max_h in ((4, 3), (2, 1)):
            sigs = doc_signatures(
                toks, num_bits=bits, max_hamming=max_h, num_blocks=blocks
            )
            got_sig = {
                r.doc_id: r.simhash
                for r in sigs.collect()
                if r.simhash is not None
            }
            assert got_sig == want_sig, bits
            want = sorted(
                map(tuple, simhash_pairs_from_sigs(
                    ref_sigs, bits, max_h, blocks
                ).collect())
            )
            got = sorted(map(tuple, _hamming_pairs(sigs, max_h).collect()))
            assert got == want, (bits, blocks, max_h)
            assert want
    toks.unpersist()


def test_dedup_builders_start_no_job_on_shuffled_input(spark):
    """Building the kernel-fed operators runs nothing: over a shuffled
    input, a partition-count probe would execute the input's shuffle
    stages while the plan is built (one extra job per build)."""
    from business_intelligence_and_data_warehouse_spark.operators.dedup import (
        minhash_lsh_dedup,
        multi_signal_dedup,
        simhash_near_dups,
    )

    sc = spark.sparkContext
    shuffled = _parity_corpus(spark).repartition(3, "doc_id")
    group = "dedup-build-probe"
    sc.setJobGroup(group, "plan construction only")
    try:
        minhash_lsh_dedup(shuffled)
        simhash_near_dups(shuffled)
        multi_signal_dedup(shuffled)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
