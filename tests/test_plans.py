"""Physical-plan quality gates.

Correctness tests prove the answers are right; these prove the PLANS
are the ones we'd want on a 1000-executor cluster reading 100 TB:
filters reach the parquet scan, scans read only the projected columns,
small sides broadcast, aggregates combine map-side, and top-k never
materializes a full sort. A regression here means a rewrite silently
de-optimized a query even though its results still match.
"""

from __future__ import annotations

import re

import pytest

from business_intelligence_and_data_warehouse_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _explain(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def plan_of(spark, name: str) -> str:
    return _explain(QUERIES[name](spark, SF_DIR))


def scan_blocks(plan: str) -> list[str]:
    """The per-scan detail blocks of a formatted plan."""
    return [
        b for b in re.split(r"\n\(\d+\) ", plan) if b.startswith("Scan parquet")
    ]


def test_q1a_scan_prunes_and_pushes(spark):
    plan = plan_of(spark, "q1a_yoy_growth")
    scans = scan_blocks(plan)
    assert scans, plan
    li = next(s for s in scans if "lineitem" in s)
    # projection pruning: 3 of lineitem's 16 columns reach the reader
    m = re.search(r"ReadSchema: struct<([^>]*)>", li)
    assert m and len(m.group(1).split(",")) == 3, li
    # the join-key null filter is pushed into the parquet scan
    assert "PushedFilters: [IsNotNull(l_orderkey)]" in li, li
    # partial (map-side) aggregation before the shuffle
    assert "partial_sum" in plan
    # the orders side of the join is broadcast, not shuffled
    assert "BroadcastHashJoin" in plan


def test_fact_load_broadcasts_every_dim(spark):
    plan = plan_of(spark, "etl_fact_order_lines")
    # dim lookups (time/customer/part/supplier) must be broadcast hash
    # joins — shuffling the fact table once per lookup is the classic
    # ETL scale failure
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, "q4a_multi_exists")
    # EXISTS chains compile to semi joins, never to aggregated inners
    assert "LeftSemi" in plan, plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "q5a_ltv_top20")
    # ORDER BY + LIMIT must be TakeOrderedAndProject (per-partition
    # heap + single merge), not a global Sort followed by Limit
    assert "TakeOrderedAndProject" in plan, plan


def _large_panel(spark):
    """(corpus, probes): a synthetic 1,100-probe panel — over the 1,024
    rows the in-task scorers used to cap — against a 200-row corpus
    that shares the panel's first 200 ids (self-matches excluded)."""
    rows = [
        (i, [float((i * 37 + j * 11) % 23 - 11) for j in range(8)])
        for i in range(1100)
    ]
    probes = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return probes.filter("vec_id < 200"), probes


def test_brute_force_topk_broadcasts_probes(spark):
    # the probe panel is held in-task: ONE MapInArrow corpus pass, no
    # join of any kind — at the registered panel and at 1,100 probes,
    # where the in-task rows must equal the join/window reference
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        brute_force_topk,
    )

    from .ann_reference import brute_force_topk as reference

    plan = plan_of(spark, "sim_embedding_topk")
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan, plan
    corpus, probes = _large_panel(spark)
    df = brute_force_topk(corpus, probes, k=3)
    plan = _explain(df)
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan, plan
    got = sorted(tuple(r) for r in df.collect())
    assert len({r[0] for r in got}) == 1100
    assert got == sorted(
        tuple(r) for r in reference(corpus, probes, k=3).collect()
    )


def _scorer_paths(plan: str) -> list[list[str]]:
    """For each MapInArrow node of a formatted plan's tree: the nodes
    below it, then its ancestors up to the nearest Window (the shared
    exact rank) — the scorer subtree of an in-task top-k operator."""
    tree = plan.split("\n\n")[0].splitlines()[1:]
    col = [len(line) - len(line.lstrip(" :+-")) for line in tree]
    paths = []
    for i, line in enumerate(tree):
        if "MapInArrow" not in line:
            continue
        nodes = []
        j = i + 1
        while j < len(tree) and col[j] > col[i]:
            nodes.append(tree[j].lstrip(" :+-"))
            j += 1
        c = col[i]
        for j in range(i - 1, -1, -1):
            if col[j] < c:
                c = col[j]
                nodes.append(tree[j].lstrip(" :+-"))
                if nodes[-1].startswith("Window ("):
                    break
        paths.append(nodes)
    return paths


# the in-task top-k entries beyond cosine: L2 (inside the recall
# report), int8, Hamming, PQ and IVF-PQ
_KERNEL_ENTRIES = (
    "sim_quantized_topk",
    "sim_binary_hamming",
    "sim_ann_pq",
    "sim_ann_ivfpq",
    "sim_ann_ivfpq_fixed",
    "sim_ann_ivfpq_rerank",
    "sim_pq_recall_report",
)


@pytest.mark.parametrize("name", _KERNEL_ENTRIES)
def test_topk_kernel_entries_score_in_one_arrow_pass(spark, name):
    """Every scorer of these entries is one MapInArrow pass feeding the
    shared rank window: no join below it or between it and the rank
    (the probe join, the ADC distance-table join and the Hamming
    rerank join are gone)."""
    plan = plan_of(spark, name)
    paths = _scorer_paths(plan)
    assert paths, plan
    for nodes in paths:
        assert not any("Join" in n for n in nodes), (name, nodes)
        assert any(n.startswith("Window (") for n in nodes), (name, nodes)


def _kernel_cases(corpus, probes, k, dim, m, cell_stride, nprobe):
    """[(kernel frame, reference frame)] for the L2, int8, Hamming, PQ
    and IVF-PQ top-k kernels over one corpus and probe panel, with the
    registered 256-row codebook rule."""
    from business_intelligence_and_data_warehouse_spark.operators import (
        similarity as sim,
    )

    from . import ann_reference as ref

    hdim = max(32, dim // 32 * 32)
    cb_stride = max(1, corpus.count() // 256)
    return [
        (
            sim.brute_force_l2_topk(corpus, probes, k),
            ref.brute_force_l2_topk(corpus, probes, k),
        ),
        (
            sim.quantized_ip_topk(corpus, probes, k),
            ref.quantized_ip_topk(corpus, probes, k),
        ),
        (
            sim.hamming_topk(corpus, probes, k, dim=hdim),
            ref.hamming_topk(corpus, probes, k, dim=hdim),
        ),
        (
            sim.pq_topk(corpus, probes, k, dim, num_subspaces=m),
            ref.pq_topk(corpus, probes, k, dim, m, cb_stride),
        ),
        (
            sim.ivf_pq_topk(
                corpus, probes, k, dim, num_subspaces=m,
                centroid_stride=cell_stride, nprobe=nprobe,
                codebook_size=256,
            ),
            ref.ivf_pq_topk(
                corpus, probes, k, dim, m, cell_stride, cb_stride, nprobe
            ),
        ),
    ]


def test_topk_kernels_match_reference_forms(spark):
    """The L2, int8, Hamming, PQ and IVF-PQ kernels return exactly the
    rows of their join/window reference forms — with the registered
    parameters at the registered 1% panel over the embeddings (m = 8,
    25-row cells, the 256-row codebook rule), and at 1,100 probes."""
    from business_intelligence_and_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus, big = _large_panel(spark)
    for args in (
        (emb, emb.filter("vec_id % 100 = 0"), 10, 64, 8, 25, 4),
        (corpus, big, 3, 8, 2, 10, 4),
    ):
        for fast, slow in _kernel_cases(*args):
            plan = _explain(fast)
            assert "MapInArrow" in plan, plan
            got = sorted(tuple(r) for r in fast.collect())
            assert got
            assert got == sorted(tuple(r) for r in slow.collect())
    assert len({r[0] for r in got}) == 1100


def test_jaccard_df_cap_broadcasts_stop_set(spark):
    plan = plan_of(spark, "dedup_ngram_jaccard")
    # the df-cap must be a broadcast LEFT ANTI against the tiny
    # stop-shingle set (df > max_df) — broadcasting the KEPT vocabulary
    # would ship ~the whole distinct-shingle set at corpus scale
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_churn_window_expands_linearly(spark):
    plan = plan_of(spark, "churn_rolling_window")
    # the 6-month active window comes from explode(sequence(...)) — a
    # map-side 6× fan-out — never a months×pairs range join (a
    # broadcast nested loop, quadratic in history length)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate explode" in plan or "Generate" in plan, plan


def test_no_plan_falls_back_to_python_udf_in_sql_battery(spark):
    # the 10 reference queries must stay whole-JVM: no BatchEvalPython
    # (row-at-a-time Python UDF) anywhere in their plans
    for name in [
        "q1a_yoy_growth",
        "q2a_grouping_sets",
        "q3b_moving_cumulative",
        "q4b_above_category_avg",
        "q5b_monthly_kpis",
    ]:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_contamination_never_shuffles_train_as_join_side(spark):
    plan = plan_of(spark, "contamination_check")
    # both joins (eval-shingle semi against train, hit-set back-join)
    # must broadcast the benchmark-bounded side; a SortMergeJoin here
    # would shuffle the full training corpus's shingle stream
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_bm25_topk_is_take_ordered(spark):
    plan = plan_of(spark, "search_bm25")
    # the only nested loop allowed is the 1-row corpus-stats scalar
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_asof_join_has_no_range_join(spark):
    plan = plan_of(spark, "events_asof_join")
    # the as-of must compile to union + running window — one shuffle
    # family on the key, never a nested-loop/range join over events
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "RunningWindowFunction" in plan or "Window" in plan, plan


def test_quantized_topk_broadcasts_probes(spark):
    # the quantized probe panel is held in-task: one MapInArrow corpus
    # pass, no probe join of any kind
    plan = plan_of(spark, "sim_quantized_topk")
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sessionize_is_pure_window(spark):
    plan = plan_of(spark, "events_sessionize")
    # lag + running sum over one key partitioning: no join of any kind
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, plan
    assert "Window" in plan, plan


def test_mixture_sample_is_map_side(spark):
    plan = plan_of(spark, "corpus_mixture_sample")
    # rate lookup is a literal CASE, not a join; the only exchange is
    # the presentation sort (formatted plans list each node twice:
    # once in the tree, once as a detail block)
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_intersect_compiles_to_semi_join(spark):
    plan = plan_of(spark, "intersect_repeat_buyers")
    assert "LeftSemi" in plan, plan


def test_unpivot_is_expand_not_self_union(spark):
    plan = plan_of(spark, "unpivot_monthly_measures")
    # Spark's unpivot lowers to Expand/Generate over ONE aggregate —
    # re-scanning the fact once per measure would show 3 scan pairs
    # (each scan appears twice in a formatted plan: tree + detail)
    assert ("Expand" in plan) or ("Generate" in plan), plan
    assert plan.count("Scan parquet") <= 4, plan


def test_profile_is_single_pass(spark):
    plan = plan_of(spark, "profile_orders")
    # the multi-distinct profile must be ONE Expand pass over one scan,
    # not a scan per column (each node appears twice in formatted plans)
    assert plan.count("Scan parquet") <= 2, plan
    assert "Expand" in plan, plan


def test_window_battery_shares_one_partitioning(spark):
    plan = plan_of(spark, "window_battery")
    # asc and desc windows both partition by segment: sorts differ but
    # the exchange family is (join, agg/window, presentation) — no
    # extra shuffle per window function
    assert plan.count("Exchange") <= 8, plan


def test_stream_enrich_broadcasts_dim(spark):
    plan = plan_of(spark, "stream_enrich_join")
    # the dimension must broadcast — a stream side is never shuffled
    # for an enrichment join
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_grouping_levels_reaggregate_not_expand(spark):
    # q2a/q2b derive coarse levels by re-aggregating the finest-grain
    # DECIMAL partial — the fact table must flow through ONE aggregate
    # (no Expand replicating every fact row per grouping set)
    for name in ("q2a_grouping_sets", "q2b_rollup"):
        plan = plan_of(spark, name)
        assert "Expand" not in plan, name


def test_boilerplate_broadcasts_hash_set(spark):
    # the repeated-chunk hash set must come back as a BROADCAST anti
    # join (it is small by construction); a shuffled anti join or a
    # cartesian means the corpus is being re-shuffled per chunk table
    plan = plan_of(spark, "text_boilerplate_strip")
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"Broadcast\w*Join LeftAnti", plan) or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    ), plan


def test_source_report_single_group_pass(spark):
    # dup-hash set broadcast back; the per-(source,lang) aggregate
    # partial-aggregates map-side before its one shuffle
    plan = plan_of(spark, "corpus_source_report")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_" in plan, plan


def test_snowflake_chain_broadcasts_every_hop(spark):
    # region->nation->customer resolves inside broadcast build sides;
    # the fact table must reach the aggregate without a join shuffle
    plan = plan_of(spark, "region_snowflake_rollup")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_" in plan, plan


def test_gap_fill_is_union_merge_not_join(spark):
    # the dense-spine fill must be the union + running-window merge:
    # an equi-join on (key, period) would co-partition both sides on
    # both keys and then reshuffle for the window
    plan = plan_of(spark, "ts_gap_fill")
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "Union" in plan, plan
    # the weekly aggregate feeds bounds/keys/union once, via the pin
    assert "InMemoryRelation" in plan, plan


def test_lookback_join_is_equality_tiled(spark):
    # the 1-hour interval join must run as an equality join on
    # (user, time-tile) with the range as residual filter — never a
    # nested-loop/cartesian range join over the events history
    plan = plan_of(spark, "events_lookback_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate" in plan, plan  # the 2-tile explode


def test_keep_best_shares_one_hash_exchange(spark):
    # rank window + resolution aggregate both run on the content_hash
    # partitioning: one data exchange + the presentation sort only
    # (formatted plans list each node twice: tree + detail)
    plan = plan_of(spark, "dedup_keep_best")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 4, plan


def test_pack_sequences_ships_narrow_columns(spark):
    # the greedy recurrence is ONE Arrow stage; token counts are
    # computed JVM-side so only (source, doc_id, n_tokens) cross the
    # Arrow boundary — never the document text
    plan = plan_of(spark, "corpus_pack_sequences")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Scan parquet") <= 2, plan
    m = re.search(
        r"\(\d+\) FlatMapGroupsInPandas\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    # (grouping key appears twice: once as key, once as data column)
    assert m and "text" not in m.group(1), plan
    assert m and len(m.group(1).split(",")) <= 4, plan


def test_ohlc_is_single_aggregate_pass(spark):
    # open/high/low/close resolve in ONE grouped aggregate (min_by /
    # max_by with map-side partials) — no window, no self-join; the
    # only exchanges are the aggregate's and the presentation sort's
    plan = plan_of(spark, "events_hourly_ohlc")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 4, plan


def test_basket_pairs_share_gather_and_topk(spark):
    # the basket-array aggregate feeds three consumers through ONE
    # shared exchange (ReuseExchange; an explicit pin measured 2x
    # slower); pair generation is a map-side HOF explode (Generate),
    # the only nested loop is the 1-row totals scalar, and top-k is a
    # TakeOrdered, not a global sort
    # (static explain pre-AQE shows the gather subtree per consumer —
    # identical exchanges dedupe at runtime, the rest column-prune)
    plan = plan_of(spark, "basket_pair_lift")
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_label_centroids_partial_aggregate_before_shuffle(spark):
    # the 64x element explode must collapse map-side: partial_sum runs
    # in the same stage as Generate, so the exchange carries only
    # labels x dims partials — no join, no window
    plan = plan_of(spark, "embedding_label_centroids")
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan
    assert "partial_" in plan, plan
    assert plan.count("Exchange") <= 4, plan


# ---------------------------------------------------------------------------
# registry-wide sweep: every query's plan stays inside its recorded
# exchange budget and never regresses to a row-at-a-time Python UDF or
# an unbroadcast cartesian product.  The budget file pins today's
# exchange count per query — an accidental re-derivation (lost
# ReuseExchange, a new unintended shuffle) fails here even though the
# results still match.  New registry entries must add a budget row.
# ---------------------------------------------------------------------------

import json
import os

_BUDGETS = json.load(
    open(os.path.join(os.path.dirname(__file__), "plan_exchange_budgets.json"))
)

# these queries EXECUTE at build time (live streaming runs, ML model
# fits, the upsert sink's write-and-read-back) — the DataFrame they
# return reads a memory/parquet result, so a plan gate on it would
# inspect the wrong plan; each has dedicated semantics tests instead
_EXECUTES_AT_BUILD = {
    "stream_sliding_live",
    "stream_sliding_append_live",
    "stream_tumbling_live",
    "stream_tumbling_append_live",
    "stream_session_live",
    "stream_dedup_live",
    "stream_attribution_live",
    "stream_enrich_live",
    "stream_ohlc_live",
    "stream_upsert_sink",
    "stream_scd2_sink",
    "stream_dedup_neardup",
    "stream_heavy_hitters",
    "stream_quantile_sketch",
    "sim_ann_ivf_indexed",
    "sim_ann_ivf_serving",
    "sim_ann_ivf_append",
    "stream_ann_ingest",
    "ml_churn_rf",
    "ml_kmeans_embeddings",
    "ml_churn_roc_points",
    # greedy MMR runs its k top-1 picks at plan-build time (like the
    # ML entries); the returned plan is a local relation, so a gate on
    # it would inspect the wrong plan — per-step plan health is pinned
    # by the dedicated property tests in tests/test_selection.py
    "mmr_diverse_select",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_registry_plan_gates(spark, name):
    if name in _EXECUTES_AT_BUILD:
        pytest.skip("executes at build; plan gate would see the read-back")
    assert name in _BUDGETS, (
        f"{name} has no exchange budget — measure its plan and add it to "
        "tests/plan_exchange_budgets.json"
    )
    # exchange counts must not depend on what an EARLIER test happened
    # to cache: a cached subtree substitutes InMemoryRelation into the
    # plan and shifts the count (order-dependent flake) — compare
    # against the budget from a cache-free session state
    from business_intelligence_and_data_warehouse_spark.operators.caching import (
        release_pinned,
    )

    release_pinned()
    spark.catalog.clearCache()
    plan = plan_of(spark, name)
    # row-at-a-time Python UDFs are the forbidden slow path; Arrow
    # boundaries (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
    # are the sanctioned ones
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    # every cross join must broadcast (BroadcastNestedLoopJoin); a
    # CartesianProduct shuffles both sides everywhere
    assert "CartesianProduct" not in plan, f"{name}: unbroadcast cartesian"
    n_exchanges = len(re.findall(r"\n\(\d+\) Exchange", plan))
    assert n_exchanges <= _BUDGETS[name], (
        f"{name}: {n_exchanges} exchanges exceeds budget {_BUDGETS[name]} — "
        "an unintended shuffle crept in (or update the budget deliberately)"
    )


def _exchanges(plan: str) -> tuple[int, int]:
    """(shuffle, broadcast) exchange nodes of a formatted plan."""
    return (
        len(re.findall(r"\n\(\d+\) Exchange", plan)),
        len(re.findall(r"\n\(\d+\) BroadcastExchange", plan)),
    )


def test_scd2_merge_is_one_full_outer_join(spark):
    """scd2_merge joins the open slice to the batch ONCE, full outer on
    the natural key — no semi/anti re-join of the changed keys."""
    plan = plan_of(spark, "scd2_merge_batch")
    assert re.findall(r"Join type: (\w+)", plan) == ["FullOuter"], plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan


# shuffle + broadcast exchanges of the SCD2 entries: the one-join merge
# trades the six-branch form's broadcasts for the full outer join's two
# shuffles, so the shuffle-only budget rose while this total fell
_SCD2_EXCHANGE_TOTALS = {"scd2_merge_batch": 3, "scd2_snapshot_diff": 7}


@pytest.mark.parametrize("name", sorted(_SCD2_EXCHANGE_TOTALS))
def test_scd2_entries_exchange_total(spark, name):
    shuffle, broadcast = _exchanges(plan_of(spark, name))
    assert shuffle + broadcast <= _SCD2_EXCHANGE_TOTALS[name], (shuffle, broadcast)


@pytest.mark.parametrize(
    "name", ["analytics_descriptive_stats", "analytics_correlation"]
)
def test_describe_is_one_aggregate_over_one_mart_scan(spark, name):
    """Every measure (pair) is summarized by ONE aggregate pass — a
    partial and a final node above the mart's joins — over one scan of
    each mart table, with no per-measure union of re-scans."""
    spark.catalog.clearCache()
    plan = plan_of(spark, name)
    tree = [n.lstrip(" :+-") for n in plan.split("\n\n")[0].splitlines()[1:]]
    top_join = next(i for i, n in enumerate(tree) if "Join" in n)
    aggs = [n.split(" (")[0] for n in tree[:top_join] if "Aggregate" in n]
    assert len(aggs) == 2 and aggs[0] == aggs[1], tree
    # lineitem, orders, customer and nation, once each
    assert sum(n.startswith("Scan parquet") for n in tree) == 4, tree
    assert not any(n.startswith("Union") for n in tree), tree


def test_bucketed_join_plan_is_shuffle_free(spark):
    """warehouse_bucketed_join: both fact tables are bucketed on the
    order key, so the sort-merge join must read the buckets directly —
    NO Exchange on either join key (the physical-design property the
    query exists to demonstrate; at 100 TB this is the whole win)."""
    plan = plan_of(spark, "warehouse_bucketed_join")
    assert "SortMergeJoin" in plan, plan
    n_join_key = plan.count("Exchange hashpartitioning(l_orderkey")
    n_join_key += plan.count("Exchange hashpartitioning(o_orderkey")
    assert n_join_key == 0, f"bucketed join shuffled a fact side:\n{plan}"
    # the scans must also carry the bucket metadata
    assert "SelectedBucketsCount" in plan, plan


def test_indexed_dedup_probe_never_rescans_corpus(spark):
    """dedup_incremental_indexed: the probe plan must read the raw
    documents table exactly ONCE (the batch tokenize) — every corpus
    artifact (hashes, shingles, sizes, stop) comes from the prebuilt
    index. A second documents scan means the lifecycle regressed to
    re-deriving corpus state per load."""
    plan = plan_of(spark, "dedup_incremental_indexed")
    n_docs = plan.count("documents.parquet")
    assert n_docs == 1, f"{n_docs} documents scans in probe plan:\n{plan}"
    assert "bidw_dedup_index" in plan, plan


def test_partitioned_scan_prunes(spark):
    """warehouse_partition_prune: the two-year predicate must reach the
    partitioned scan as PartitionFilters on o_year — directory-level
    pruning, the IO win the partitionBy layout exists for."""
    plan = plan_of(spark, "warehouse_partition_prune")
    blocks = scan_blocks(plan)
    assert blocks, plan
    assert any(
        "PartitionFilters" in b and "o_year" in b for b in blocks
    ), f"partition filter did not reach the scan:\n{plan}"


def test_no_collect_in_query_code_paths():
    """VERDICT r03 item 2 'Done' criterion: no `.collect()` in any
    `queries()` code path.  Source-scan over the package with an
    explicit allowlist: the stratified-split label/count lookups are
    BOUNDED driver roundtrips (one row per class label) and the only
    sanctioned sites."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / (
        "business_intelligence_and_data_warehouse_spark"
    )
    allowed = {
        # (file, substring-of-line): bounded per-class lookups
        ("analytics/predictive.py", "data.select(label_col).distinct()"),
        ("analytics/predictive.py", "train.groupBy(label_col).count()"),
        # bounded: one row per load period present in the micro-batch
        ("streaming/sinks.py", "batch_lastp.select(load_date_col).distinct()"),
        # bounded: the ANN-ingest sink's ONE-ROW content digest (the
        # load label that makes replay idempotent across lineages)
        ("streaming/sinks.py", ").collect()[0]"),
        # bounded: the dedup index's ONE-ROW build-params record
        ("operators/dedup.py", 'parquet(index_dir + "/meta").collect()'),
        # bounded: the driver-side BPE trainer's vocabulary-sized
        # (word-type, freq) working set — the single-node trainer
        # shape every production BPE implementation uses
        ("operators/vocab.py", 'words.select("w", "freq").collect()'),
        # bounded: loading a persisted tokenizer's merge LIST — at most
        # the 137,468-symbol budget, the same vocabulary-sized driver
        # working set the trainer itself holds
        ("operators/vocab.py", 'merges_df.orderBy("rank").collect()'),
        # bounded: the bucketed upsert commit's touched-bucket set — at
        # most bucket_count rows (a small constant), the same class as
        # the ANN sink's one-row digest
        ("streaming/sinks.py", 'batch.select("_bucket").distinct()'),
        # bounded: greedy MMR's per-step top-1 pick — the selection's
        # inherent sync point (k one-row reduces); driver state is k
        # rows
        (
            "operators/similarity.py",
            'scored.orderBy(F.desc("score"), F.col("vid")).limit(1).collect()',
        ),
        # bounded: the artifact-memo corpus fingerprint — ONE agg row
        # (count + bit_xor digest), the content-address every memo key
        # and ingest load label folds in
        ("operators/similarity.py", "row = fp_agg.collect()[0]"),
        # bounded: the ANN scorers' one driver copy of a probe panel
        # (the fixed 50-id panel or the 1% vec_id % 100 stride), a
        # centroid set (≈√N trained cells; N/stride stride cells) or
        # a PQ codebook (~256 rows under the production codebook_size
        # sizing) — the rows every in-task scoring/assignment/encode
        # pass holds
        (
            "operators/similarity.py",
            'normed.select("vid", "vec", "norm").collect()',
        ),
    }
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if ".collect()" not in line or line.strip().startswith("#"):
                continue
            if any(rel == f and frag in line for f, frag in allowed):
                continue
            offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "unsanctioned .collect() in package code (driver-side "
        "materialization of distributed data):\n" + "\n".join(offenders)
    )


def test_ivf_probe_scan_partition_prunes(spark, tmp_path):
    """The probe-many half of the IVF index must read ONLY the probed
    cell partitions: the cells scan carries a STATIC PartitionFilters
    IN-set on cvid (no subquery job at all) and the verify is one
    MapInArrow pass with no joins — at the registered 1% panel and at
    a 1,100-probe panel, whose rows must equal the join/window
    reference.  Without the filter every probe batch re-reads the
    whole corpus index."""
    from business_intelligence_and_data_warehouse_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_index,
    )
    from business_intelligence_and_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    from .ann_reference import ivf_topk as reference

    emb = load_table(spark, SF_DIR, "embeddings")
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(emb, index_dir, centroid_stride=25)
    corpus, big = _large_panel(spark)
    big_dir = str(tmp_path / "ivf_big")
    build_ivf_index(corpus, big_dir, centroid_stride=10)
    for d, probes in (
        (index_dir, emb.filter("vec_id % 100 = 0")),
        (big_dir, big),
    ):
        df = ivf_probe_index(spark, d, probes, k=10, nprobe=4)
        plan = _explain(df)
        assert "PartitionFilters" in plan, plan
        assert re.search(r"PartitionFilters: \[cvid#\d+ IN", plan), plan
        assert "MapInArrow" in plan, plan
        assert "Join" not in plan, plan
    got = sorted(tuple(r) for r in df.collect())
    assert len({r[0] for r in got}) == 1100
    want = reference(
        spark.read.parquet(big_dir + "/cells"),
        big,
        spark.read.parquet(big_dir + "/centroids"),
        k=10,
        nprobe=4,
    )
    assert got == sorted(tuple(r) for r in want.collect())
