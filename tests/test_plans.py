"""Physical-plan assertions: the scale contract (SURVEY.md §4 /
BASELINE.md) says filters and projections must reach the parquet scan,
dimension joins must broadcast, and hot paths must stay inside
whole-stage codegen. These tests freeze that plan shape so a
regression (e.g. an accidental UDF or a lost broadcast hint) fails
loudly rather than silently costing 10× at scale.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from spark_sql_pubsub_connector_spark.plans import all_specs

SPECS = all_specs()


def plan_of(spark, sf_dir, name, mode="formatted") -> str:
    df = SPECS[name].build(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q03_filter_predicate")
    assert "PushedFilters: [" in plan
    # at least one real predicate pushed, not an empty list
    assert "PushedFilters: []" not in plan


def test_column_pruning_projection(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q08_join_shuffle_agg")
    # lineitem scan must read only the 3 needed columns, not all 11
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    li_line = [l for l in scan_lines if "l_orderkey" in l]
    assert li_line and "l_shipdate" not in li_line[0], li_line


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q07_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_is_left_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q09_semi_join")
    assert "LeftSemi" in plan


def test_topk_uses_window_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q06_topk_per_group")
    # rank-limit pushdown: only k rows per partition survive pre-shuffle
    assert "WindowGroupLimit" in plan


def test_agg_is_partial_then_final(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_pricing_summary", mode="simple")
    # two HashAggregate stages around one Exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


# Arrow-vectorized Python plan nodes are sanctioned ONLY where JVM
# expressions measurably cannot do the work at rate: the multimodal
# codec family, stateful streaming ops, and q22's quantized-cosine
# kernels (r10 — Spark HOF lambdas are interpreted at ~1e8
# mult-adds/s; functions.vecnp is bit-equal at ~100× that, pinned by
# test_vecnp_cross_engine). Anything else that grows one of these
# nodes has silently fallen off the JVM fast path (ADVICE r10).
_PYTHON_SANCTIONED = {"q22_embedding_neardup"}
_PYTHON_NODES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "FlatMapGroupsInArrow",
    "ApplyInPandasWithState",
)


def test_no_python_udfs_in_core_corpus(spark, sf_dir):
    """Everything except the multimodal/streaming families and the
    explicitly sanctioned q22 must stay JVM-side — row-at-a-time
    (BatchEvalPython/ArrowEvalPython) banned everywhere, and the
    Arrow map/group nodes banned outside the sanction list."""
    for name, spec in sorted(SPECS.items()):
        if "multimodal" in spec.tags or "streaming" in spec.tags:
            continue
        plan = plan_of(spark, sf_dir, name, mode="simple")
        assert "EvalPython" not in plan, f"{name} fell off the JVM fast path"
        if name in _PYTHON_SANCTIONED:
            continue
        for node in _PYTHON_NODES:
            assert node not in plan, (
                f"{name} fell off the JVM fast path ({node}) — if this is "
                "a measured, bit-equal vectorization, add it to "
                "_PYTHON_SANCTIONED with the evidence"
            )


def test_neardup_ivf_blocking_plan(spark, sf_dir):
    """q22 (IVF-blocked, registered r6; vectorized r10): the two-level
    assignment is an Arrow-batched map over the scan (codebook shipped
    via a task broadcast, never a join side), pairs form inside one
    hash-partition-by-cell Arrow group stage, and nothing else touches
    the data — no joins, no CartesianProduct, exactly the two Python
    stages, and ONE data shuffle (the distinct's exchange is on the
    already-thresholded pair output)."""
    plan = plan_of(spark, sf_dir, "q22_embedding_neardup", mode="simple")
    assert "MapInPandas" in plan  # vectorized two-level assignment
    assert "FlatMapGroupsInPandas" in plan  # within-cell pair scoring
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # the codebook is a broadcast, not a side
    assert "BatchEvalPython" not in plan  # Arrow only, no row-at-a-time


@pytest.mark.parametrize("name", ["q20_knn_bruteforce", "q21_ann_lsh"])
def test_knn_query_side_broadcast(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name, mode="simple")
    assert "Broadcast" in plan


def test_global_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q42_global_topk", mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full global sort materialized

def test_skewed_agg_has_no_array_state(spark, sf_dir):
    """q40's exact distinct must be the two-level hash aggregate, never
    collect_set/collect_list: per-group array state re-creates the skew
    the query exists to avoid (millions of users per hot event_type)."""
    plan = plan_of(spark, sf_dir, "q40_skewed_agg_salted", mode="simple")
    assert "collect_set" not in plan and "collect_list" not in plan
    assert "ObjectHashAggregate" not in plan
    assert "SortAggregate" not in plan
    # two-level: (event_type, user_id) partials then event_type merge
    assert plan.count("HashAggregate") >= 3, plan


def test_decontaminate_joins_on_hash_key(spark, sf_dir):
    """q44's train↔test overlap must be a hash join on the 48-bit
    shingle key (df-capped buckets), never a cartesian expansion."""
    plan = plan_of(spark, sf_dir, "q44_decontaminate", mode="simple")
    assert "Join" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_has_no_shuffle(spark, sf_dir):
    """q45 is scan + hash filter: an Exchange in this plan means the
    sampler stopped being embarrassingly parallel."""
    plan = plan_of(spark, sf_dir, "q45_stratified_sample", mode="simple")
    assert "Exchange" not in plan, plan


def test_sequence_packing_windows_by_source_and_bucket(spark, sf_dir):
    """q46's running sum must partition by the composite
    (source, bucket) key — hierarchical packing. A source-only key
    would funnel each ~20-cardinality shard through one window task
    (~5 TB/task at 100 TB); no key at all would serialize the corpus."""
    plan = plan_of(spark, sf_dir, "q46_sequence_packing", mode="formatted")
    assert "Window" in plan
    win_lines = [
        l
        for l in plan.splitlines()
        if "Window" in l or "windowspecdefinition" in l
    ]
    assert any(
        "source" in l and "bucket" in l for l in win_lines
    ), plan


def test_canonical_map_has_no_array_state(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q47_dedup_canonical_map", mode="simple")
    assert "collect_list" not in plan and "collect_set" not in plan
    assert "ObjectHashAggregate" not in plan


def test_ivf_assign_has_no_shuffle(spark, sf_dir):
    """q49 is a single scan with literal-centroid arithmetic — any
    Exchange means the assignment stopped being map-only (the r15
    widen repartition was reverted in r16: the driver scores the cold
    run, and the exchange + first-use .rdd probe put ~0.6 s on the
    cold path to parallelize arithmetic the quantization hoist made
    cheap — VERDICT r15 #2)."""
    plan = plan_of(spark, sf_dir, "q49_ivf_assign", mode="simple")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan
    # quantization hoisted (r16): the per-centroid lambda must consume
    # the materialized q attribute, not re-evaluate the 64-FLOOR
    # quantization 8x per row (_ivf_dists_arr_guarded)
    assert "zip_with(transform(embedding" not in plan, plan


@pytest.mark.parametrize("legacy_size_of_null", ["true", "false"])
def test_ivf_guard_matches_unguarded_on_a_null_embedding(spark, legacy_size_of_null):
    """The guard in ``_ivf_dists_arr_guarded`` exists only to reference
    ``q`` twice; it must give the unguarded distances on every row, a
    null ``q`` included, under both ``spark.sql.legacy.sizeOfNull``
    settings. With the legacy setting (and ANSI off) ``size(NULL)`` is
    -1, so a ``size(q) = -1`` guard turned a null embedding's distances
    to NULL and q61 dropped its probe rows."""
    from pyspark.sql import functions as F

    from spark_sql_pubsub_connector_spark.plans.similarity import (
        _ivf_dists_arr_expr,
        _ivf_dists_arr_guarded,
    )

    confs = {
        "spark.sql.legacy.sizeOfNull": legacy_size_of_null,
        "spark.sql.ansi.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.sql(
            "SELECT CAST(NULL AS ARRAY<BIGINT>) AS q "
            "UNION ALL SELECT array_repeat(CAST(3 AS BIGINT), 64)"
        )
        null_size = -1 if legacy_size_of_null == "true" else None
        assert df.selectExpr("size(q)").collect()[0][0] == null_size
        rows = df.select(
            F.expr(_ivf_dists_arr_guarded()).alias("guarded"),
            F.expr(_ivf_dists_arr_expr()).alias("plain"),
        ).collect()
        assert [r.guarded for r in rows] == [r.plain for r in rows]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_quality_filter_has_no_shuffle(spark, sf_dir):
    """q52 emits per-row verdicts — pure scan arithmetic, no Exchange."""
    plan = plan_of(spark, sf_dir, "q52_quality_filter", mode="simple")
    assert "Exchange" not in plan, plan


def test_repetition_agg_is_partial_then_final(spark, sf_dir):
    """q53's (doc, ngram) count must combine map-side before shuffling."""
    plan = plan_of(spark, sf_dir, "q53_repetition_ngrams", mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "collect_list" not in plan and "collect_set" not in plan


def test_q48_restores_state_store_provider_conf(spark, sf_dir):
    """ADVICE r2: q48 needs RocksDB for transformWithState but must not
    leave the session-wide provider conf changed — later streaming
    queries on the shared session would silently inherit it."""
    from spark_sql_pubsub_connector_spark.plans import all_specs

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    all_specs()["q48_stream_transform_with_state"].build(spark, sf_dir)
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before


def test_asof_join_single_shuffle_window(spark, sf_dir):
    """q55: the union-trick as-of join is ONE hash exchange (by
    user_id) + an in-partition sort feeding Window — no join operator
    at all, and certainly no inequality-join cartesian."""
    plan = plan_of(spark, sf_dir, "q55_asof_join", mode="simple")
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    """q59: the bucketed range join must plan as an equi-join (hash or
    sort-merge); the nested-loop / cartesian plans Spark picks for raw
    inequality joins are the failure mode this operator avoids."""
    plan = plan_of(spark, sf_dir, "q59_range_join_bucketed", mode="simple")
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_clusters_shuffles_fine_grained(spark, sf_dir):
    """q54 (r15 lineage-truncated form): the iteration executes during
    build with per-round localCheckpoints, so the returned plan is the
    converged label leaf joined back to the corpus by doc_id — it must
    stay a fine-grained keyed join with no cartesian and no array
    state. The per-round min-label algebra is pinned independently by
    tests/test_operator_properties.py (union-find ground truth)."""
    plan = plan_of(spark, sf_dir, "q54_dedup_clusters", mode="simple")
    assert "CartesianProduct" not in plan
    assert "collect_set" not in plan
    # converged labels enter as a lineage-truncated leaf (guide §5:
    # eager localCheckpoint cuts the exponential self-join lineage)
    assert "ExistingRDD" in plan, plan


def test_int8_quantize_is_map_only(spark, sf_dir):
    """q57: per-row array arithmetic must stay a zero-shuffle codegen
    scan — any Exchange or Python eval is a plan regression."""
    plan = plan_of(spark, sf_dir, "q57_int8_quantize", mode="simple")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan


def test_boilerplate_coverage_broadcasts_gram_set(spark, sf_dir):
    """q56: the df-thresholded boilerplate set is small by construction
    and must broadcast; the coverage join must never shuffle the corpus
    side by gram twice."""
    plan = plan_of(spark, sf_dir, "q56_boilerplate_coverage", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_topk_uses_window_group_limit(spark, sf_dir):
    """q58: the per-doc top-k must get rank pushdown (WindowGroupLimit
    keeps k rows per partition before the shuffle)."""
    plan = plan_of(spark, sf_dir, "q58_tfidf_rarity", mode="simple")
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan


def test_ivf_probe_search_broadcasts_probes(spark, sf_dir):
    """q61: the (queries x nprobe) probe table must broadcast so the
    corpus side never shuffles; rerank gets rank pushdown."""
    plan = plan_of(spark, sf_dir, "q61_ivf_probe_search", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_skew_join_salted_is_shuffled_hash_on_composite_key(spark, sf_dir):
    """q65: the salted join must be a ShuffledHashJoin keyed by
    (user_id, salt) — a broadcast would optimize the salt away and a
    nested-loop would mean the composite equi-key was lost."""
    plan = plan_of(spark, sf_dir, "q65_skew_join_salted", mode="formatted")
    assert "ShuffledHashJoin" in plan, plan
    # formatted mode lists join keys in the node detail section
    key_lines = [l for l in plan.splitlines() if "keys [" in l]
    assert any("salt" in l and "user_id" in l for l in key_lines), key_lines


def test_random_projection_has_no_shuffle(spark, sf_dir):
    """q76 is a constant-fan-out map (explode x 16 literal planes):
    an Exchange would mean the JL projection stopped being
    embarrassingly parallel."""
    plan = plan_of(spark, sf_dir, "q76_random_projection", mode="simple")
    assert "Exchange" not in plan, plan


def test_bloom_semijoin_broadcasts_bitset(spark, sf_dir):
    """q74's probe must hit the bounded (<=4096-row) bloom bitset via
    a broadcast hash join — shuffling the fact side against the bitset
    would defeat the runtime-filter design."""
    plan = plan_of(spark, sf_dir, "q74_bloom_semijoin", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_codes_has_no_shuffle(spark, sf_dir):
    """q82 assigns PQ codes against literal centroid tables — a pure
    map; an Exchange means the codebook stopped being constant-folded."""
    plan = plan_of(spark, sf_dir, "q82_pq_codes", mode="simple")
    assert "Exchange" not in plan, plan


def test_shipping_priority_pushdown_and_takeordered(spark, sf_dir):
    """q92: both date predicates and the segment filter must reach the
    parquet scans, and the global top-10 must be TakeOrdered, never a
    full Sort."""
    plan = plan_of(spark, sf_dir, "q92_shipping_priority")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert sum("PushedFilters: []" not in l for l in pushed) >= 3, pushed
    assert "TakeOrderedAndProject" in plan


def test_regional_revenue_broadcasts_dims(spark, sf_dir):
    """q93: the region/nation/supplier dimension chain must broadcast;
    only orders⋈lineitem may shuffle."""
    plan = plan_of(spark, sf_dir, "q93_regional_revenue", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_chunk_dedup_census_is_partial_then_final(spark, sf_dir):
    """q88: the chunk census must partial-aggregate map-side and the
    chunking itself must stay in codegen (no EvalPython)."""
    plan = plan_of(spark, sf_dir, "q88_chunk_dedup", mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "EvalPython" not in plan


def test_zorder_layout_no_global_sort(spark, sf_dir):
    """q89: layout assignment is map-only z-cell arithmetic — a global
    Sort (row_number clustering) would serialize the corpus through
    one task at scale."""
    plan = plan_of(spark, sf_dir, "q89_zorder_layout", mode="simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan  # probe bound is broadcast


def test_matryoshka_single_scan_two_windows(spark, sf_dir):
    """q90: both rankings must come from ONE broadcast-joined corpus
    scan (no self-join of two top-k results)."""
    plan = plan_of(spark, sf_dir, "q90_matryoshka_recall", mode="simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # one scan of embeddings feeds both windows: the corpus-sized scan
    # appears once outside the broadcast build side
    assert plan.count("Scan parquet") <= 2, plan


def test_ngram_diversity_zero_shuffle(spark, sf_dir):
    """q104 is a pure scan: any Exchange would mean the per-row array
    arithmetic fell off the map-only path."""
    plan = plan_of(spark, sf_dir, "q104_ngram_diversity", mode="simple")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_source_drift_vocab_broadcast(spark, sf_dir):
    """q94: the vocabulary must reach the per-source counts as a
    broadcast, never a shuffle join."""
    plan = plan_of(spark, sf_dir, "q94_source_drift", mode="simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_longest_run_single_exchange_for_windows(spark, sf_dir):
    """q107: both window passes and the island aggregate share the
    user-keyed partitioning — exactly one user-keyed Exchange before
    the final user rollup."""
    plan = plan_of(spark, sf_dir, "q107_longest_run", mode="simple")
    assert plan.count("Window") >= 1
    # lag-flag and running-sum windows must NOT each repartition:
    # exchanges = 1 (user hash) + at most 2 for the two aggregates
    assert plan.count("Exchange") <= 3, plan


def test_grouped_hll_partial_then_final(spark, sf_dir):
    """q108: register construction must partial-aggregate map-side."""
    plan = plan_of(spark, sf_dir, "q108_hll_by_source", mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "EvalPython" not in plan


def test_robust_stats_is_histogram_not_grouped_map(spark, sf_dir):
    """q113: the robust-stats operator must be the value-histogram form
    — a grouped-map pandas stage keyed by `source` (cardinality ~20)
    funnels corpus/20 rows into single pandas frames and OOMs at
    100 TB. Guard: no Python stage of any kind, and only two
    Exchanges (the data-sized (source, n_chars) histogram shuffle
    plus one metadata-sized source repartition for the windows; the
    three downstream aggregates must all reuse it)."""
    plan = plan_of(spark, sf_dir, "q113_robust_length_stats", mode="simple")
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_lsh_bucket_cap_present(spark, sf_dir):
    """q17: the hot-bucket cap must be the count-based routing form
    (r4 verdict #3, applied r6) — bucket sizes partial-aggregate, the
    tiny oversize key set broadcasts into a left join, and NO
    per-bucket row_number sort appears (the old form made a
    pathological bucket a single-task external sort); the overflow
    metric is observed, not silent."""
    plan = plan_of(spark, sf_dir, "q17_dedup_minhash_lsh", mode="simple")
    assert "row_number" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CollectMetrics" in plan and "q17_bucket_cap" in plan, plan


def test_containment_bucket_cap_present(spark, sf_dir):
    """q109: the fp0 hot-bucket cap must be the count-based routing
    form (r4 verdict #3) — bucket sizes partial-aggregate, the tiny
    oversize key set broadcasts into a left join, and NO per-bucket
    row_number sort appears (the old form made a pathological bucket
    a single-task external sort). Both self-join sides must read the
    capped, metric-observed fingerprint set."""
    plan = plan_of(spark, sf_dir, "q109_containment_dedup", mode="simple")
    assert "row_number" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CollectMetrics" in plan and "q109_bucket_cap" in plan, plan
    assert plan.count("q109_bucket_cap") >= 2  # both self-join branches


def test_exact_dedup_is_single_shuffle_partial_agg(spark, sf_dir):
    """q16: exact dedup must be a hash aggregate with map-side combine
    — duplicates collapse BEFORE the shuffle, so the exchange carries
    one row per distinct fingerprint, not per document."""
    plan = plan_of(spark, sf_dir, "q16_dedup_exact", mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1, plan


def test_langid_markers_broadcast_and_argmax_pruned(spark, sf_dir):
    """q24: the marker table is a compile-time literal — it must
    broadcast, and the per-doc argmax must prune via WindowGroupLimit
    rather than materialize every (doc, lang) score row."""
    plan = plan_of(spark, sf_dir, "q24_langid", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_rolling_fingerprint_is_map_only(spark, sf_dir):
    """q26: the Rabin-Karp fold is per-row sequential work — zero
    shuffles, zero Python; scan-bound at any corpus size."""
    plan = plan_of(spark, sf_dir, "q26_fingerprint_rolling", mode="simple")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan


def test_mm_decode_is_arrow_batched_not_row_at_a_time(spark, sf_dir):
    """q27: multimodal decode must go through Arrow-batched
    MapInPandas, never row-at-a-time BatchEvalPython."""
    plan = plan_of(spark, sf_dir, "q27_mm_decode_meta", mode="simple")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_fuzzy_match_is_blocked_never_quadratic(spark, sf_dir):
    """q43: blocked Levenshtein must join on the block key — any
    cartesian/nested-loop here is the O(n*m) pair space."""
    plan = plan_of(spark, sf_dir, "q43_fuzzy_type_match", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sliding_window_single_shuffle(spark, sf_dir):
    """q60: overlapping time windows expand map-side (one row per
    covering window) and aggregate partial-then-final over ONE
    exchange — no per-window re-shuffle."""
    plan = plan_of(spark, sf_dir, "q60_window_sliding", mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1, plan


def test_pq_adc_lut_broadcast_topk_pruned(spark, sf_dir):
    """q83 (r15 form): the per-query distance-ARRAY LUT is
    queries-sized — it must broadcast into a constant-fanout
    nested-loop join (the q20 brute-force shape; the pre-r15 form
    instead exploded codes into a BroadcastHashJoin and re-aggregated
    through a corpus×queries shuffle); the per-query top-k must prune
    via WindowGroupLimit."""
    plan = plan_of(spark, sf_dir, "q83_pq_adc_search", mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_ivf_recall_legs_share_cached_frames(spark, sf_dir):
    """q111 (r15): the exact (q20) and IVF (q61) legs must be served
    by the persisted shared base/distance frames — the before-plan
    re-derived the embeddings subtrees 8 times (8 parquet scans); the
    cached form reads the corpus from InMemoryRelation in both legs;
    the remaining plan-TEXT parquet scans are the cache-BUILD scans
    re-printed inside each InMemoryRelation block (4 in text, one
    executed — d_shared builds from e_shared's cache)."""
    plan = plan_of(spark, sf_dir, "q111_ivf_recall", mode="simple")
    try:
        assert plan.count("InMemoryTableScan") >= 4, plan
        assert plan.count("Scan parquet") <= 4, plan
    finally:
        # ADVICE r15: q111's persists outlive the build and would
        # silently substitute into later same-module q20/q61 plan
        # builds regardless of test order — release them here
        from spark_sql_pubsub_connector_spark import plans as _plans

        _plans.release_caches()
        spark.catalog.clearCache()


def test_arrow_hist_partials_merge_jvm_side(spark, sf_dir):
    """q112: mapInArrow emits per-batch partial histograms; the merge
    must be a JVM hash aggregate over one exchange — the Python stage
    never sees shuffled data."""
    plan = plan_of(spark, sf_dir, "q112_mm_arrow_hist", mode="simple")
    assert "MapInArrow" in plan
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan


def test_context_windows_map_only(spark, sf_dir):
    """q114: overlapping context-window chunking is a per-doc
    transform + posexplode — zero shuffles, zero Python."""
    plan = plan_of(spark, sf_dir, "q114_context_windows", mode="simple")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan


def test_skew_profile_hhi_survives_int64_overflow_counts(spark):
    """q98's HHI intermediates (Σc², total², ×1e6) are quadratic in
    per-key counts and overflowed BIGINT at the r12 100× probe. The
    DECIMAL(38,0) path must produce the exact 1e-6-grid value for
    counts where int64 arithmetic would throw ARITHMETIC_OVERFLOW:
    c = 4e9 → Σc²·1e6 ≈ 3.2e25 ≫ 2^63."""
    from pyspark.sql import functions as F

    big = 4_000_000_000  # single key owning 4e9 rows
    cnt = spark.createDataFrame(
        [("a", big), ("b", big)], "k string, c long"
    )
    ss = cnt.agg(
        F.sum("c").cast("long").alias("total_rows"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("ss"),
    ).select(
        F.expr(
            "CAST(ss * 1000000 DIV "
            "(CAST(total_rows AS DECIMAL(38,0)) * total_rows) AS BIGINT)"
        ).alias("hhi_q6")
    )
    [row] = ss.collect()
    # two equal keys: HHI = 2 * (1/2)^2 = 0.5 exactly
    assert row["hhi_q6"] == 500_000


def test_anomaly_z2_survives_int64_overflow_counts(spark):
    """q85's quadratic intermediates (Σx², (n·x−Σ)²·1e6) cross int64
    at ~6e8 events per hour-cell — the r13 audit of the r12 q98
    overflow class. The DECIMAL(38,0) path must produce the exact
    saturated-grid value where BIGINT arithmetic would throw. Two
    regimes, both with Σx² ≈ 2.4e19 > 2^63 and dev_sq·1e6 > 2^63:

      - quotient under the 1e12 cap → exact integer floor division;
      - degenerate near-zero variance + 2e9 spike → quotient ~1e24,
        where Spark's DECIMAL IntegralDivide silently WRAPS (probed:
        no ANSI check) and DuckDB's BIGINT cast throws — the CASE
        saturates BOTH engines to exactly the cap instead.

    Cross-checked against DuckDB's HUGEINT twin AND python-int
    ground truth."""
    import duckdb

    from pyspark.sql import functions as F

    from spark_sql_pubsub_connector_spark.plans.temporal import _AN_Z2_CAP

    cap = _AN_Z2_CAP
    cases = [
        # realistic variance: arithmetic spread, spike 1.05e9
        ([1_000_000_000 + i * 10_000 for i in range(24)], 1_050_000_000),
        # degenerate: near-constant history, 2e9 spike → saturates
        ([1_000_000_000] * 23 + [1_000_000_001], 2_000_000_000),
    ]
    for trailing, cur in cases:
        n = len(trailing)
        s = sum(trailing)
        ss = sum(c * c for c in trailing)
        assert ss > 2**63  # the intermediate BIGINT could not hold
        var_num = n * ss - s * s
        dev_sq = (n * cur - s) ** 2
        assert dev_sq * 1_000_000 > 2**63
        if dev_sq >= n * var_num * (cap // 1_000_000):
            truth = cap
        else:
            truth = (dev_sq * 1_000_000) // (n * var_num)
        sat = cases.index((trailing, cur)) == 1
        assert (truth == cap) == sat  # one exact, one saturated

        df = spark.createDataFrame([(c,) for c in trailing], "cnt long")
        agg = df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cnt").cast("long").alias("s"),
            F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).alias("ss"),
        )
        [row] = (
            agg.select(F.lit(cur).cast("long").alias("cnt"), "n", "s", "ss")
            .select(
                "n",
                F.expr("n * ss - CAST(s AS DECIMAL(38,0)) * s").alias("var_num"),
                F.expr(
                    "CAST(n * cnt - s AS DECIMAL(38,0)) * (n * cnt - s)"
                ).alias("dev_sq"),
            )
            .select(
                F.expr(
                    f"CAST(CASE WHEN dev_sq >= n * var_num * {cap // 1_000_000} "
                    f"THEN {cap} "
                    f"ELSE (dev_sq * 1000000) DIV (n * var_num) END AS BIGINT)"
                ).alias("z2_q6")
            )
            .collect()
        )
        assert row["z2_q6"] == truth, (cur, row["z2_q6"], truth)

        con = duckdb.connect()
        con.execute("CREATE TABLE t(cnt BIGINT)")
        con.executemany("INSERT INTO t VALUES (?)", [(c,) for c in trailing])
        [(duck,)] = con.execute(
            f"""
            WITH a AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(cnt) AS BIGINT) AS s,
                     sum(CAST(cnt AS HUGEINT) * cnt) AS ss
              FROM t
            ), b AS (
              SELECT n,
                     n * ss - CAST(s AS HUGEINT) * s AS var_num,
                     CAST(n * {cur} - s AS HUGEINT) * (n * {cur} - s) AS dev_sq
              FROM a
            )
            SELECT CAST(CASE WHEN dev_sq >= n * var_num * {cap // 1_000_000}
                             THEN {cap}
                             ELSE (dev_sq * 1000000) // (n * var_num)
                        END AS BIGINT)
            FROM b
            """
        ).fetchall()
        assert duck == truth, (cur, duck, truth)


def test_mixture_rate_survives_int64_overflow_tokens(spark):
    """q79's share×token-budget product crosses int64 at
    sum_tok ≈ 1.8e13 — the actual 100 TB text regime (r13 audit of
    the q98 class). Single-source corpus with 2e13 tokens: share is
    exactly 1e6, so share·(sum_tok/2) = 1e19 > 2^63; the DECIMAL
    path must land the exact rate and expect_tokens."""
    import duckdb

    from pyspark.sql import functions as F

    sum_tok = 20_000_000_000_000  # 2e13
    w_sqrt = int(float(sum_tok) ** 0.5)
    share = (w_sqrt * 1_000_000) // w_sqrt  # = 1e6 (single source)
    assert share * (sum_tok // 2) > 2**63
    rate = min(1_000_000, (share * (sum_tok // 2)) // sum_tok)
    expect = (rate * sum_tok) // 1_000_000

    df = spark.createDataFrame(
        [(sum_tok, w_sqrt, w_sqrt, sum_tok)],
        "n_tokens long, w_sqrt long, sum_w long, sum_tok long",
    )
    [row] = df.select(
        F.expr(
            "least(CAST(1000000 AS BIGINT), CAST("
            "(CAST((w_sqrt * 1000000) DIV sum_w AS DECIMAL(38,0))"
            " * (sum_tok DIV 2)) DIV n_tokens AS BIGINT))"
        ).alias("rate_q6"),
        F.expr(
            "(CAST(least(CAST(1000000 AS BIGINT), CAST("
            "(CAST((w_sqrt * 1000000) DIV sum_w AS DECIMAL(38,0))"
            " * (sum_tok DIV 2)) DIV n_tokens AS BIGINT))"
            " AS DECIMAL(38,0)) * n_tokens) DIV 1000000"
        )
        .cast("long")
        .alias("expect_tokens"),
    ).collect()
    assert row["rate_q6"] == rate
    assert row["expect_tokens"] == expect

    con = duckdb.connect()
    [(d_rate, d_expect)] = con.execute(
        f"""
        SELECT CAST(least(1000000,
                 (CAST((CAST({w_sqrt} AS BIGINT) * 1000000) // {w_sqrt} AS HUGEINT)
                  * ({sum_tok} // 2)) // {sum_tok}) AS BIGINT),
               CAST((CAST(least(1000000,
                 (CAST((CAST({w_sqrt} AS BIGINT) * 1000000) // {w_sqrt} AS HUGEINT)
                  * ({sum_tok} // 2)) // {sum_tok}) AS HUGEINT)
                  * {sum_tok}) // 1000000 AS BIGINT)
        """
    ).fetchall()
    assert (d_rate, d_expect) == (rate, expect)
