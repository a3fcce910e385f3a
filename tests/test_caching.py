"""Cache-ledger lifecycle: at most one query's pinned working set may
be live; invoking any registered query releases the previous one's.
Also: a repeated query reuses its generated classes from Spark's
code-generation cache instead of compiling them again."""

from __future__ import annotations

import pytest

from business_intelligence_and_data_warehouse_spark.operators.caching import (
    _PINNED,
    eager_pin,
    pin,
    release_pinned,
)
from business_intelligence_and_data_warehouse_spark.plans.queries import QUERIES
from business_intelligence_and_data_warehouse_spark.session import (
    CODEGEN_CACHE_ENTRIES,
)

# the reference's ten analytical queries
BI_QUERIES = (
    "q1a_yoy_growth", "q1b_seasonal_index", "q2a_grouping_sets", "q2b_rollup",
    "q3a_rank_ntile", "q3b_moving_cumulative", "q4a_multi_exists",
    "q4b_above_category_avg", "q5a_ltv_top20", "q5b_monthly_kpis",
)


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _n_compiles(spark) -> int:
    """Janino compiles so far: one per generated-code cache miss."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_bi_round_reuses_generated_classes(spark, sf_dir):
    """The ten BI queries compile about 250 classes, more than Spark's
    default cache of 100 entries holds, so at that default every round
    evicted and recompiled nearly all of them.  With the cache sized to
    the plan set, a second round compiles almost nothing."""

    def round_compiles() -> int:
        before = _n_compiles(spark)
        for name in BI_QUERIES:
            QUERIES[name](spark, sf_dir).collect()
        return _n_compiles(spark) - before

    first = round_compiles()
    second = round_compiles()
    assert second <= 0.1 * first, (first, second)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


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
    # dedup_multi_signal pins its token and signature tables
    QUERIES["dedup_multi_signal"](spark, sf_dir).count()
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
    "dedup_simhash": 0,
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
