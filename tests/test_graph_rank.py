"""Semantic tests for integer-exact PageRank (operators/graph.py) and
the search/ANN lifecycle additions beyond the oracle hash checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from business_intelligence_and_data_warehouse_spark.operators.graph import (
    PAGERANK_SCALE,
    pagerank,
)
from business_intelligence_and_data_warehouse_spark.plans.queries import QUERIES

from .conftest import SF_DIR


def _edges(spark, pairs):
    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def test_pagerank_star_center_dominates(spark):
    """On a star graph the center must outrank every leaf, leaves tie
    exactly (integer arithmetic — EXACT equality), and total mass
    stays ~1 (floor losses only)."""
    e = _edges(spark, [(0, i) for i in range(1, 6)])
    rows = {r["node"]: r["score_units"] for r in pagerank(e, 3).collect()}
    assert set(rows) == set(range(6))
    leaves = {rows[i] for i in range(1, 6)}
    assert len(leaves) == 1  # exact tie
    assert rows[0] > leaves.pop()
    total = sum(rows.values())
    # mass conserved up to floor losses (< 1 unit per node/edge/round)
    assert 0.99 * PAGERANK_SCALE < total <= PAGERANK_SCALE


def test_pagerank_regular_graph_is_uniform(spark):
    """On a k-regular graph (a 4-cycle) every node has the same score
    EXACTLY — any cross-engine or ordering drift would break the tie."""
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    scores = {r["score_units"] for r in pagerank(e, 3).collect()}
    assert len(scores) == 1


def test_pagerank_registry_scores_positive_and_ranked(spark):
    rows = QUERIES["graph_pagerank"](spark, SF_DIR).collect()
    assert rows
    units = [r["score_units"] for r in rows]
    assert all(u > 0 for u in units)
    assert units == sorted(units, reverse=True)
    for r in rows[:5]:
        assert r["score"] == r["score_units"] / float(PAGERANK_SCALE)


def test_bm25_index_probe_matches_from_scratch(spark):
    """The index lifecycle must not move a single score: compare the
    probe's full result against bm25_topk row-for-row."""
    a = sorted(map(tuple, QUERIES["search_bm25"](spark, SF_DIR).collect()))
    b = sorted(
        map(tuple, QUERIES["search_bm25_indexed"](spark, SF_DIR).collect())
    )
    assert a == b


def test_bm25_index_probe_never_rescans_corpus(spark):
    """The probe plan must read the documents table ZERO times — every
    artifact (postings, dfs, stats) comes from the prebuilt index, and
    the term filter must reach the postings parquet scan."""
    import re

    QUERIES["search_bm25_indexed"](spark, SF_DIR)  # ensure index built
    df = QUERIES["search_bm25_indexed"](spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "documents.parquet" not in plan, plan
    assert "bidw_search_index" in plan
    # pushdown: the term IN-filter reaches the postings scan
    scans = [
        b
        for b in re.split(r"\n\(\d+\) ", plan)
        if b.startswith("Scan parquet") and "postings" in b
    ]
    assert scans and any("PushedFilters" in b and "In(term" in b for b in scans), plan


def test_hamming_topk_bounds_and_rank_order(spark):
    rows = QUERIES["sim_binary_hamming"](spark, SF_DIR).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["hamming"] <= 64
        assert -1.0 <= r["cosine"] <= 1.0
        by_q.setdefault(r["query_id"], []).append(r)
    for q, grp in by_q.items():
        grp = sorted(grp, key=lambda r: r["rank"])
        assert [r["rank"] for r in grp] == list(range(1, len(grp) + 1))
        hams = [r["hamming"] for r in grp]
        assert hams == sorted(hams)
        assert all(r["neighbor_id"] != q for r in grp)


def test_sign_pack_words_match_python(spark):
    """Packed words must equal a bit-exact Python repack of the same
    vectors (the map-side HOF has no other ground truth)."""
    from business_intelligence_and_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    from .ann_reference import sign_pack

    emb = load_table(spark, SF_DIR, "embeddings").limit(20)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    packed = {r["vid"]: (r["w0"], r["w1"]) for r in sign_pack(emb).collect()}
    for vid, v in vecs.items():
        w0 = sum(1 << i for i in range(32) if v[i] >= 0)
        w1 = sum(1 << i for i in range(32) if v[32 + i] >= 0)
        assert packed[vid] == (w0, w1)
