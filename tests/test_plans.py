"""Physical-plan regression tests: the optimizations the 100 TB design
depends on must be visible in the executed plan, not just intended.
Guards against silent regressions (a lost broadcast hint, a filter that
stops reaching the scan, a top-k that becomes a global sort)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neynar_parquet_importer_spark.plans import queries as Q

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return Q.QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """Compiled filter-DSL predicates must land in the parquet scan as
    PushedFilters (F1-F8 compile to Columns exactly so Catalyst can push
    them; a regression here turns a selective scan into a full scan)."""
    plan = _plan(spark, "filter_dsl_in_gt")
    assert "PushedFilters: [" in plan
    assert "c_acctbal" in plan.split("PushedFilters")[1][:200]


def test_scan_prunes_columns(spark):
    """Projection pruning: the q1 lineitem scan must read only the needed
    columns, not the full 16-column table."""
    plan = _plan(spark, "q1_pricing_summary")
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema  # not referenced by q1
    assert "l_comment" not in read_schema


def test_star_joins_broadcast(spark):
    """Dimension joins in q3/q5 must be broadcast (no shuffle of the fact
    table for small dims)."""
    for name in ("q3_top_orders", "q5_region_nation_revenue"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: dim join fell back to SMJ"


def test_topk_is_take_ordered(spark):
    """ORDER BY + LIMIT k must plan as TakeOrderedAndProject (per-
    partition heap + k-row driver merge), never a global sort."""
    for name in ("q3_top_orders", "top1_order", "embedding_topk"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_agg_is_partial_then_final(spark):
    """q1's aggregation must be two-phase (map-side partial combine), so
    the shuffle carries group rows, not data rows."""
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_semi_anti_joins_stay_semi(spark):
    """Semi/anti joins must not degrade to inner-join + distinct."""
    assert "LeftSemi" in _plan(spark, "semi_join_buyers")
    assert "LeftAnti" in _plan(spark, "anti_join_never_urgent")


def test_range_join_is_hash_not_nested_loop(spark):
    """The range join has an equi-key (orderkey); it must plan as a hash
    join (broadcast or shuffled) with the range as a post-condition, not
    a cartesian/nested-loop."""
    plan = _plan(spark, "range_join_shipments")
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_whole_stage_codegen_covers_text_ops(spark):
    """Text analysis is pure Column arithmetic — it must run inside
    WholeStageCodegen with no Python evaluation."""
    for name in ("text_token_count", "text_quality", "text_lang_id"):
        plan = _plan(spark, name)
        # codegen'd operators print with a "*(n)" stage prefix
        assert "*(1) Project" in plan, name
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF!"
        assert "ArrowEvalPython" not in plan, f"{name}: unexpected pandas UDF"


def test_exact_near_dup_codegen_twin_has_no_python(spark):
    """The oracle-shape twin of the exact pair scan (flattened scalar dot
    products) is JVM-only codegen; the PRIMARY plan is the deliberate
    block-pair BLAS applyInPandas (see
    test_embedding_exact_pairs_plan_is_blocked_not_cross_join)."""
    from neynar_parquet_importer_spark.plans.queries import (
        _embedding_exact_pairs_unblocked,
    )

    plan = (
        _embedding_exact_pairs_unblocked(spark, SF, 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_lsh_near_dup_bucket_udf_is_arrow(spark):
    """The LSH bucketing UDF must be Arrow-batched (ArrowEvalPython), not
    row-at-a-time (BatchEvalPython)."""
    plan = _plan(spark, "embedding_near_dup_lsh")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_hash_sample_is_scan_side_filter(spark):
    """Deterministic sampling must plan as a codegen'd filter with NO
    exchange — sampling 1% of 100 TB shuffles nothing."""
    plan = _plan(spark, "sample_docs_hash")
    assert "Exchange" not in plan, "hash sampling must not shuffle"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark shingle set must be broadcast (eval suites are small);
    corpus rows must never shuffle through a SortMergeJoin."""
    plan = _plan(spark, "contamination_vs_benchmark")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_ngrams_is_take_ordered(spark):
    """Corpus-wide top-k n-grams must be a per-partition heap + k-row
    merge, never a global sort of the shingle counts."""
    plan = _plan(spark, "top_trigrams")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_funnel_is_single_scan_conditional_agg(spark):
    """The quality funnel must be ONE partial+final aggregate over one
    scan — per-stage jobs would multiply the 100 TB read."""
    plan = _plan(spark, "quality_filter_funnel")
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pivot_skips_distinct_discovery_and_combines_map_side(spark):
    """PIVOT with explicit values must read the table once (no distinct-
    values discovery job) and combine map-side before every exchange —
    shuffles carry O(groups × years) rows, never data rows."""
    plan = _plan(spark, "pivot_revenue_by_year")
    assert plan.count("Scan parquet") == 1
    assert "partial_sum" in plan and "partial_pivotfirst" in plan
    assert "Expand" not in plan  # not a grouping-sets expand of data rows


def test_ntile_sorts_per_partition_not_globally(spark):
    """The per-nation ntile window must shuffle by the partition key and
    sort within partitions only — a global sort would serialize 100 TB
    through one ordering."""
    plan = _plan(spark, "ntile_balance_quartiles")
    assert "Window" in plan
    assert "hashpartitioning(c_nationkey" in plan
    assert "rangepartitioning" not in plan  # the global-sort signature


def test_moment_stats_are_partial_then_final(spark):
    """corr/covar/stddev must aggregate as mergeable partial moments —
    the shuffle carries O(groups) state, not value sets."""
    plan = _plan(spark, "corr_price_quantity")
    assert plan.count("HashAggregate") >= 2
    assert "partial_corr" in plan


def test_tpch_round3_dims_broadcast(spark):
    """q7/q8/q9's nation/supplier/part dims must broadcast — at 100 TB the
    fact table shuffles once for the orders join and never for a dim."""
    for name in ("q7_volume_shipping", "q8_market_share", "q9_product_profit"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name


def test_tpch_round3_topk_take_ordered(spark):
    """q10/q18's ORDER BY + LIMIT must plan as TakeOrderedAndProject."""
    for name in ("q10_returned_items", "q18_large_volume_customers"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "Exchange rangepartitioning" not in plan, f"{name}: global sort"


def test_q6_filters_push_to_scan(spark):
    """q6 is scan+filter+agg; its selective predicates must reach the
    parquet reader so row groups outside the ship-year are skipped."""
    plan = _plan(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed or "l_quantity" in pushed


def test_q4_exists_is_semi_join(spark):
    """q4's EXISTS must stay a left-semi join (stops at first match; the
    probe side never fans out on duplicate lineitem keys)."""
    assert "LeftSemi" in _plan(spark, "q4_order_priority")


def test_q22_anti_join_and_scalar_broadcast(spark):
    """q22: the NOT-EXISTS is a left-anti join and the scalar average
    arrives via a broadcast, never a per-row subquery."""
    plan = _plan(spark, "q22_global_sales_opportunity")
    assert "LeftAnti" in plan
    assert "Broadcast" in plan


def test_passage_dedup_is_pure_jvm_and_hash_keyed(spark):
    """Passage dedup must stay Python-free (split/sequence/slice are
    Column exprs) and shuffle md5 keys, not passage text, for the global
    first-occurrence group-by."""
    plan = _plan(spark, "passage_dedup_docs")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "md5" in plan


def test_doc_novelty_is_pure_jvm(spark):
    plan = _plan(spark, "doc_novelty")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_export_sort_is_range_partitioned(spark):
    """A totally-ordered export must distribute the sort (sample-based
    range partitioning), never collapse to one partition."""
    plan = _plan(spark, "orders_export_sorted")
    assert "rangepartitioning" in plan.lower()
    assert "TakeOrderedAndProject" not in plan  # it's a full sort, not top-k


def test_q15_single_lineitem_scan_and_broadcast(spark):
    """q15's max-revenue filter must come from a window over the
    aggregated frame (one lineitem scan), with the supplier dim
    broadcast."""
    plan = _plan(spark, "q15_top_supplier")
    assert plan.count("FileScan parquet") <= 3  # lineitem + supplier (+reuse)
    assert "BroadcastHashJoin" in plan


def test_unigram_scoring_stays_jvm(spark):
    plan = _plan(spark, "unigram_logprob_score")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partitioned_write_gets_partition_pruning(spark, tmp_path):
    """Hive-partitioned layout (the 100 TB norm: date/tenant partition
    dirs) must surface filters as PartitionFilters — directories skipped
    at planning, zero IO — distinct from row-group PushedFilters."""
    out = str(tmp_path / "events_by_type")
    Q._t(spark, SF, "events").withColumn(
        "etype", F.col("event_type")
    ).write.partitionBy("etype").mode("overwrite").parquet(out)

    df = spark.read.parquet(out).filter(F.col("etype") == "purchase")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "etype" in pf, f"partition filter not pruned: {pf!r}"
    assert df.count() > 0


def test_sequence_packing_never_single_partition_window(spark):
    """The packing prefix sum must not plan the classic scale-killer: a
    window with empty PARTITION BY collapsing the corpus to one task."""
    plan = _plan(spark, "pack_training_sequences")
    assert "rangepartitioning" in plan.lower()  # phase-1 ordered split
    # the corpus-side windows run per-pid; the ONLY single-partition
    # exchange allowed is the one feeding the base-offset cumsum over the
    # per-partition TOTALS (one row per partition — provably tiny), i.e.
    # its immediate child must be the part_tokens aggregate
    lines = plan.splitlines()
    single = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert single, "expected the tiny totals cumsum exchange"
    for i in single:
        child = "\n".join(lines[i + 1 : i + 3])
        assert "part_tokens" in child, (
            "single-partition exchange feeds something other than the "
            "per-partition totals:\n" + child
        )


def test_knn_join_merges_local_topk(spark):
    """The k-NN join must scan the corpus via MapInPandas (per-partition
    BLAS local top-k) and merge winners with Spark's rank-limit pushdown
    (WindowGroupLimit partial+final) partitioned by query — never an
    unpartitioned global sort of all scores."""
    plan = _plan(spark, "embedding_knn_join")
    assert "MapInPandas" in plan
    assert "WindowGroupLimit" in plan
    assert "windowspecdefinition(query_id" in plan
    assert "Exchange SinglePartition" not in plan


def test_semdedup_pairs_shuffle_once_on_cell(spark):
    """within_cell_cosine_pairs must plan as ONE shuffle on the cell id
    feeding one applyInPandas kernel — the n^2 -> sum(|cell|^2) shape."""
    from neynar_parquet_importer_spark.catalog import load_table
    from neynar_parquet_importer_spark.operators.similarity import (
        ivf_centroids,
        within_cell_cosine_pairs,
    )

    emb = load_table(spark, SF, "embeddings")
    cents = ivf_centroids(emb, n_centroids=8)
    plan = (
        within_cell_cosine_pairs(emb, cents, 0.4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_passage_windows_zero_shuffle(spark):
    """RAG chunking is a pure projection: no Exchange, no Python in the
    plan — chunking 100 TB must be embarrassingly parallel."""
    plan = _plan(spark, "rag_passage_windows")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_gopher_repetition_stays_jvm_side(spark):
    """The repetition filters are pure codegen aggregates — no Python in
    the plan, and the final combine is a doc-cardinality join."""
    plan = _plan(spark, "text_gopher_repetition")
    assert "EvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_interval_self_join_is_hash_banded(spark):
    """The banded interval self-join must plan as an equi hash/sort-merge
    join on (user, band) — never a nested-loop over per-user pairs."""
    plan = _plan(spark, "events_interval_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_pretrain_batch_decontamination_is_broadcast_anti_shape(spark):
    """The batch curation leg must decontaminate via the exploded-shingle
    broadcast join (ngram_contamination's shape), never the streaming
    leg's literal-array arrays_overlap filter: a literal is compiled into
    the plan and a real eval suite (100k+ docs) would blow up codegen.
    The plan must show the benchmark side broadcast and contain no
    arrays_overlap expression."""
    plan = _plan(spark, "pretrain_curated_docs")
    assert "BroadcastHashJoin" in plan
    assert "arrays_overlap" not in plan
    # a literal shingle array would balloon the plan string; bound it
    assert len(plan) < 200_000


def test_user_first_last_event_is_single_aggregate_no_window(spark):
    """min_by/max_by form: one partial+final hash aggregate, no Window
    sort, no distinct of duplicated window output rows."""
    plan = _plan(spark, "user_first_last_event")
    assert "Window" not in plan
    # partial + final (min_by on a struct key plans sort-based, which is
    # fine: map-side combine still collapses to one row per user before
    # the shuffle — the point is no duplicate-row shuffle + distinct)
    assert plan.count("partial_min_by") == 1
    assert plan.count("Aggregate") >= 2
    assert plan.count("Exchange") == 1


def test_embedding_exact_pairs_plan_is_blocked_not_cross_join(spark):
    """The exact pair scan must plan as the block-pair applyInPandas
    matmul (FlatMapGroupsInPandas over the (ti,tj) grid), never a
    cartesian/broadcast-nested-loop cross join of the corpus."""
    plan = _plan(spark, "embedding_near_dup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_epoch_shuffle_is_range_partitioned_parallel_sort(spark):
    """The epoch shuffle's global ORDER BY must plan as a range-
    partitioned parallel sort — never a single-task total ordering."""
    plan = _plan(spark, "epoch_shuffle_docs")
    assert "rangepartitioning" in plan.lower()
    assert "Exchange SinglePartition" not in plan


def test_new_corpus_ops_stay_jvm_with_broadcast_hot_lists(spark):
    """boilerplate removal and bigram scoring are pure JVM plans: no
    Python evaluation anywhere, the boilerplate hot list arrives as a
    broadcast join, and the count models aggregate partial-then-final."""
    plan = _plan(spark, "boilerplate_chunk_removal")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # df > cap hot list
    plan = _plan(spark, "bigram_logprob_score")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan  # map-side combine on the count models


def test_kmeans_cluster_agg_is_partial_and_single_python_stage(spark):
    """The k-means membership aggregation must combine map-side (the
    shuffle carries k rows per partition, not the corpus), and the
    quantize+assign pipeline must reach the aggregate as ONE Arrow
    python stage — a second python round-trip would double the scan's
    serialization cost at 100 TB."""
    plan = _plan(spark, "kmeans_corpus_clusters")
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_q21_self_references_plan_as_hash_joins_not_nested_loop(spark):
    """The EXISTS/NOT-EXISTS self-references must plan as equi semi/anti
    joins on l_orderkey (sort-merge or hash) with the supplier
    inequality evaluated inside the join — a BroadcastNestedLoopJoin
    here means the orderkey equi-conjunct was lost and the plan is
    O(n^2) at scale."""
    plan = _plan(spark, "q21_late_shippers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_zorder_profile_is_pure_codegen_single_aggregate(spark):
    """The Morton interleave must stay JVM-side (pure bit arithmetic —
    no Python stage) and the profile must be one partial+final
    aggregate pair; the min/max range frame arrives as a broadcast."""
    plan = _plan(spark, "zorder_events_profile")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_min" in plan or "partial_count" in plan
    assert "SortMergeJoin" not in plan  # 1-row range frame broadcasts


def test_transition_matrix_window_is_partitioned_by_user(spark):
    """The lag window must shuffle on user_id — never an empty
    PARTITION BY collapsing the event stream to one task."""
    plan = _plan(spark, "event_transition_matrix")
    lines = plan.splitlines()
    single = [l for l in lines if "Exchange SinglePartition" in l]
    # the only single-partition exchange allowed is the final tiny
    # ORDER BY of the 25-row matrix
    assert len(single) <= 1
    assert any(
        "hashpartitioning(user_id" in l for l in lines
    ), "lag window lost its user_id partitioning"


def test_lpa_round_is_join_plus_bounded_aggregate(spark):
    """One LPA round = edge join + label-count aggregate with map-side
    partial combine; no Python stages, no nested-loop joins."""
    from neynar_parquet_importer_spark.graph import lpa as _lpa

    e = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a != b],
        "src long, dst long",
    )
    labels = _lpa.label_propagation(e, n_iter=1)
    plan = labels._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial_max" in plan


def test_prefix_filter_joins_are_hash_equi_joins(spark):
    """The prefix-filter pipeline's joins (candidate self-join on
    shingle, the candidate semi-joins into verification) must be hash
    equi-joins — a lost equi-key would surface as a nested-loop
    cartesian, quadratic in the corpus. The candidate semi-joins carry
    NO forced broadcast (a low-threshold candidate set can be huge —
    operator docstring), so we execute and inspect the FINAL adaptive
    plan: AQE must have picked broadcast for the small candidate side
    here, and nothing may degrade to a cartesian."""
    from neynar_parquet_importer_spark.operators import dedup as dd

    df = Q.QUERIES["dedup_prefix_filter_pairs"](spark, SF)
    df.collect()  # drive AQE to the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    dd.release_cached()
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the one-row __n_docs broadcast the
    # fractional df-cap crosses in — every corpus-sized join must be hash
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "__n_docs" in line, line
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan  # AQE broadcast the candidate side


def test_hybrid_dense_leg_broadcasts_queries_no_shuffle_cartesian(spark):
    """The dense leg crosses the corpus with THREE query vectors — that
    must be a broadcast nested-loop over a 3-row side (a map-side
    expansion), never a shuffle cartesian; the lexical leg keeps its
    broadcast posting-list seek."""
    plan = _plan(spark, "hybrid_rrf_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BroadcastHashJoin [term" in plan


def test_containment_joins_are_hash_equi_joins(spark):
    """The containment pipeline (one-sided prefix candidates, pair
    semi-joins, verification aggregate) must never degrade to a
    cartesian: every corpus-sized join is a hash equi-join on shingle
    or on the pair/id keys. Same AQE-final-plan discipline as the
    symmetric prefix-filter pin."""
    from neynar_parquet_importer_spark.operators import dedup as dd

    df = Q.QUERIES["dedup_containment_pairs"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    dd.release_cached()
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "__n_docs" in line, line
    assert "isFinalPlan=true" in plan


def test_passjoin_is_equi_join_on_segments(spark):
    """PassJoin's candidate join must be a hash equi-join on the
    (length, segment index, piece) key — the whole point of segment
    filtering is that NO cross-product ever forms; the only acceptable
    nested-loop is the degenerate short-string leg, which is bounded by
    the count of near-empty strings (here: none)."""
    df = Q.QUERIES["passjoin_doc_prefix_pairs"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "isFinalPlan=true" in plan
    # the segment equi-join carries _piece in its key
    assert "_piece" in plan


def test_lm_scoring_top15_is_take_ordered_no_python(spark):
    """The perplexity tail query must rank via TakeOrderedAndProject
    (bounded top-k, no global sort) and keep the whole model JVM-side —
    training and scoring are aggregations + joins, never a UDF."""
    plan = _plan(spark, "lm_surprising_docs")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_overlap_has_no_cartesian_and_no_python(spark):
    """The pair expansion joins each sketch row to the tiny group list —
    a broadcast nested loop over n_groups rows is fine, a
    CartesianProduct over data rows is not; everything stays JVM-side."""
    plan = _plan(spark, "kmv_returnflag_part_overlap")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_sketch_is_single_distinct_exchange_chain(spark):
    """The sketch build hashes BEFORE its one distinct (dedup-by-hash
    subsumes dedup-by-key): exactly one full-width aggregate pair
    (partial+final HashAggregate over (group, hv)) feeds the salted
    windows — a second distinct would show as a third HashAggregate
    pair."""
    from neynar_parquet_importer_spark.catalog import load_table
    from neynar_parquet_importer_spark.operators.kmv import kmv_sketch

    ev = load_table(spark, SF, "events")
    plan = (
        kmv_sketch(ev, "user_id", ["event_type"], k=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("HashAggregate") == 2  # one partial+final pair
    assert "BatchEvalPython" not in plan


def test_pca_error_scan_is_single_pass_no_python(spark):
    """Projection + reconstruction error are Column folds over ONE scan
    of the embeddings — no Python stage, no join, no second scan."""
    plan = _plan(spark, "pca_label_compression")
    assert plan.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_bpe_inference_is_one_arrow_stage(spark):
    """Applying a whole learned merge table is ONE Arrow-batched pass:
    exactly one MapInPandas stage over one scan, however many merges
    (posexplode over a pandas-UDF column plans the UDF twice — the
    occurrence stream exists to avoid that)."""
    plan = _plan(spark, "bpe_token_compression")
    assert plan.count("MapInPandas") == 1
    assert plan.count("FileScan parquet") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_fine_block_linkage_is_equi_joins_no_python(spark):
    """The fine-block linkage variant's quadratic core must be hash
    equi-joins on the (nation, block-key) pairs over DISTINCT texts —
    never a cross-product — and the row expansion is two more
    equi-joins; the whole chain stays JVM-side (Levenshtein is a
    built-in)."""
    df = Q.QUERIES["fuzzy_customer_linkage_fine_block"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "levenshtein" in plan
