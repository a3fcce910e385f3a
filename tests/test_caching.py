"""Cache-ledger lifecycle: at most one query's pinned working set may
be live; invoking any registered query releases the previous one's."""

from __future__ import annotations

import pytest

from business_intelligence_and_data_warehouse_spark.operators.caching import (
    _PINNED,
    eager_pin,
    pin,
    release_pinned,
)
from business_intelligence_and_data_warehouse_spark.plans.queries import QUERIES


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pin_registers_and_release_unpersists(spark, sf_dir):
    release_pinned()
    base = _n_cached(spark)
    df = pin(spark.range(100).selectExpr("id", "id * 2 AS y"))
    df.count()
    assert len(_PINNED) == 1
    assert _n_cached(spark) == base + 1
    assert release_pinned() == 1
    assert len(_PINNED) == 0
    assert _n_cached(spark) == base


def test_eager_pin_materializes_blocks_up_front(spark, sf_dir):
    """eager_pin must leave the cached blocks POPULATED (not merely
    registered): its point is that concurrent first consumers — the
    k aliased broadcast builds of a sketch probe — find warm blocks
    instead of racing to re-execute the build lineage."""
    release_pinned()
    df = eager_pin(spark.range(64).selectExpr("id", "id * 3 AS y"))
    assert len(_PINNED) == 1
    info = [
        r
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if r.numCachedPartitions() > 0
    ]
    assert info, "eager_pin left no populated cached RDD"
    assert release_pinned() == 1


def test_query_invocation_releases_previous_pins(spark, sf_dir):
    release_pinned()
    # dedup_simhash pins its signature table
    QUERIES["dedup_simhash"](spark, sf_dir).count()
    assert len(_PINNED) >= 1
    pinned_before = list(_PINNED)
    # any next query invocation must drop the previous pins first
    QUERIES["q1a_yoy_growth"](spark, sf_dir).count()
    assert all(p not in _PINNED for p in pinned_before)


# Ledgered pins per query once it is built and collected.  Each count is
# the sum of the fixed pin / no-pin choices at the operator sites the
# query reaches (dedup, corpus_quality, selection, basket, curation, the
# churn body), so a site that starts or stops persisting changes it.
_PIN_SITES = {
    "dedup_ngram_jaccard": 1,
    "dedup_containment": 1,
    "dedup_minhash_lsh": 0,
    "dedup_clusters": 1,
    "dedup_simhash": 1,
    "dedup_multi_signal": 2,
    "dedup_incremental": 2,
    "dedup_lsh_recall_report": 3,
    "dedup_repeated_ngrams": 1,
    "dedup_max_dup_spans": 1,
    "corpus_curation": 0,
    "corpus_curation_funnel": 0,
    "pipeline_curate_pack": 0,
    "corpus_vocab_coverage": 1,
    "text_lm_perplexity": 1,
    "dsir_importance_weights": 1,
    "text_substring_trim": 1,
    "contamination_bloom": 3,
    "basket_pair_lift": 0,
    "churn_rolling_window": 0,
    "whatif_churn_scenarios": 0,
    "stream_dedup_neardup": 0,
}


@pytest.mark.parametrize("name", sorted(_PIN_SITES))
def test_query_pins_expected_sites(spark, sf_dir, name):
    QUERIES[name](spark, sf_dir).collect()
    assert len(_PINNED) == _PIN_SITES[name]
