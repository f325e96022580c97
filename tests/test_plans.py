"""Plan-shape regression tests: the 100 TB performance contract.

Correctness says each query returns the right rows; these tests say each
query compiles to the PHYSICAL PLAN we'd accept on a 1000-executor
cluster — filters pushed into the scan, scans column-pruned, dimensions
broadcast (fact side never shuffles for them), aggregates map-side
partial, global top-k as per-partition heaps.  A refactor that silently
introduces an extra shuffle or un-pushes a filter fails here, not in a
profiler three rounds later.
"""

from __future__ import annotations

import pytest

from consume_kafka_avro_data_spark.plans import inspect as I
from consume_kafka_avro_data_spark.registry import all_queries

QS = all_queries()


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        # Plan-shape assertions must see the cold plan — before EVERY
        # build, not once per module: queries that persist()
        # intermediates (connected components, butterfly census) leave
        # cached relations whose analyzed plans can match OTHER queries'
        # subtrees, and Spark then substitutes an InMemoryRelation whose
        # printed plan still contains the original exchange, skewing
        # exchange_count for any test that runs after them.
        spark.catalog.clearCache()
        return QS[name].fn(spark, sf_dir)

    return run


def test_scan_project_prunes_columns(q):
    """A projection query must read only its columns from parquet."""
    df = q("q_scan_project")
    cols = I.read_schema_columns(df, "lineitem")
    assert cols, "no lineitem scan found in plan"
    assert len(cols) <= 4, f"scan reads too many columns: {cols}"


def test_filter_reaches_parquet_scan(q):
    df = q("q_filter_predicates")
    pushed = I.pushed_filters(df)
    assert pushed, "no PushedFilters on any scan — predicate pushdown lost"


def test_fk_lookup_is_broadcast_no_fact_shuffle(q):
    """J1: dimension broadcast; the orders (fact) side must not shuffle."""
    df = q("q_fk_lookup_join")
    assert I.broadcast_join_count(df) >= 1
    assert I.exchange_count(df) == 0, "fact side shuffled for a dimension lookup"
    assert "GreaterThan(o_totalprice" in ",".join(I.pushed_filters(df, "orders"))


def test_edge_join_single_shuffle_for_agg(q):
    """J2/J3 flagship: the per-order pre-aggregate shuffles once on the
    order key, the orders join reuses that partitioning (or broadcasts
    under AQE locally), customer broadcasts, and the segment rollup's
    input is orders-sized — ≤2 exchanges end to end."""
    df = q("q_edge_join")
    assert I.broadcast_join_count(df) >= 1
    assert I.exchange_count(df) <= 2


def test_groupby_agg_is_partial_final(q):
    """A2: map-side combine — two HashAggregates around one exchange."""
    df = q("q_groupby_agg")
    plan = I.simple_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert I.exchange_count(df) == 1


def test_topk_global_is_heap_not_sort(q):
    """W4/W5: sort+limit must compile to TakeOrdered (per-partition
    heaps + k-row driver merge), never a global Sort+Exchange."""
    plan = I.simple_plan(q("q_topk_global"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_window_rank_single_shuffle(q):
    df = q("q_window_rank")
    assert I.exchange_count(df) == 1


def test_dedup_exact_single_shuffle(q):
    df = q("q_dedup_exact")
    assert I.exchange_count(df) <= 1


def test_semi_anti_plan_unhinted(q):
    """J4: no explicit broadcast hint on the fact-derived distinct-keys
    side — at test SF the PLANNER still picks a broadcast join from its
    own size estimate (asserted), and at 100 TB the same plan degrades
    to a shuffled join instead of a forced driver OOM.  The single
    exchange is the distinct() reduction."""
    df = q("q_semi_anti")
    assert I.exchange_count(df) <= 1
    assert I.broadcast_join_count(df) >= 1


def test_doc_fingerprint_partial_agg(q):
    plan = I.simple_plan(q("q_doc_fingerprint"))
    assert plan.count("HashAggregate") >= 2


def test_codegen_covers_scan_queries(q):
    """Narrow map-only queries must stay inside whole-stage codegen."""
    for name in ("q_scan_project", "q_rename_cast", "q_math_case"):
        assert I.whole_stage_codegen_spans(q(name)) >= 1, name


def test_scalar_subquery_is_decorrelated(q):
    """Catalyst must rewrite the correlated scalar subquery into an
    aggregate + join — no per-row subquery execution survives."""
    plan = I.simple_plan(q("q_scalar_subquery"))
    assert "Join" in plan or "BroadcastHashJoin" in plan
    # a correlated subquery left in place would appear as a Subquery/
    # ScalarSubquery node executing per row inside the filter
    assert "InSubquery" not in plan


def test_pivot_is_two_aggregate_passes(q):
    """Pinned-value pivot compiles to Spark's two-phase plan — a
    pre-aggregate on (group, pivot) keys, then the pivot aggregate on
    the group key (2 exchanges total) — never one pass per pivot value."""
    df = q("q_pivot")
    df.write.format("noop").mode("overwrite").save()
    assert I.exchange_count(df) == 2


def test_sliding_window_single_shuffle(q):
    df = q("q_sliding_window")
    df.write.format("noop").mode("overwrite").save()
    assert I.exchange_count(df) == 1


def test_degree_dist_two_aggs_two_shuffles(q):
    df = q("q_degree_dist")
    df.write.format("noop").mode("overwrite").save()
    # distinct-agg expands to two exchanges; the histogram re-agg adds one
    assert I.exchange_count(df) <= 3


def test_train_split_is_map_only(q):
    df = q("q_train_split")
    df.write.format("noop").mode("overwrite").save()
    assert I.exchange_count(df) == 0


def test_doc_chunks_is_map_only(q):
    df = q("q_doc_chunks")
    df.write.format("noop").mode("overwrite").save()
    assert I.exchange_count(df) == 0


def test_fingerprint_signatures_aggregate_not_interpreted(q):
    """U5 signatures (SimHash hex, winnowing) compile to explode +
    native aggregates: exactly one doc-keyed exchange whose rows are
    signature-sized (map-side partial agg), and NO lambda HOFs in the
    hot path — Spark interprets those (no codegen), which made the
    original map-only formulation ~50× slower than this shape.  No
    Python anywhere."""
    for name in ("q_simhash_signatures", "q_winnow_fingerprints"):
        df = q(name)
        plan = I.simple_plan(df)
        assert I.exchange_count(df) <= 1, f"{name} shuffles more than the signature agg"
        assert "BatchEvalPython" not in plan, name
        # the interpreted-HOF markers must not appear in these plans
        assert "lambdafunction" not in plan.lower(), f"{name} kept an interpreted fold"


def test_neardup_joins_single_candidate_shuffle(q):
    """Near-dup pairs: signature aggregate + block bucket-and-expand +
    pair dedup — three signature/bucket-sized exchanges, never a
    corpus-sized self-join (a banded self-join materializes the
    signature subtree once per side under AQE).  Exact n-gram Jaccard
    adds the inverted-index df-filter round-trip."""
    for name in ("q_minhash_neardup", "q_simhash_neardup"):
        df = q(name)
        assert I.exchange_count(df) <= 3, name
        assert "SortMergeJoin" not in I.simple_plan(df), name
    assert I.exchange_count(q("q_ngram_jaccard")) <= 4


def test_exists_subquery_decorrelates_to_semi_anti(q):
    """EXISTS/NOT EXISTS must become semi + anti hash joins — no
    per-row subquery execution, no nested-loop fallback."""
    plan = I.simple_plan(q("q_exists_subquery"))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_calendar_densify_spine_broadcasts(q):
    """The generated month spine must broadcast-join the aggregated fact
    side: exactly the one aggregate shuffle, never a sort-merge against
    an 84-row spine."""
    df = q("q_calendar_densify")
    assert I.broadcast_join_count(df) >= 1
    assert I.exchange_count(df) <= 1


def test_stats_moments_single_pass(q):
    """All five moment sums must come from ONE partial+final aggregate —
    a second scan of a 100 TB fact table is a plan bug."""
    df = q("q_stats_moments")
    plan = I.simple_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert I.exchange_count(df) == 1


def test_higher_order_arrays_is_map_only(q):
    """Array lambdas are codegen expressions: no exchange, no Python."""
    df = q("q_higher_order_arrays")
    assert I.exchange_count(df) == 0
    assert "BatchEvalPython" not in I.simple_plan(df)


def test_repetition_stats_two_aggs(q):
    """Bigram explode is map-local; then (doc,gram) count + per-doc
    reduction are two partial-agg shuffles — nothing else."""
    df = q("q_repetition_stats")
    assert I.exchange_count(df) == 2


def test_pii_scrub_is_map_only(q):
    df = q("q_pii_scrub")
    assert I.exchange_count(df) == 0
    assert I.pushed_filters(df), "event_id % 3 filter not pushed to scan"


def test_stratified_sample_is_map_only(q):
    """Hash-bucket sampling is a scan-time filter: zero shuffles at any
    scale, no Python."""
    df = q("q_stratified_sample")
    assert I.exchange_count(df) == 0
    assert "BatchEvalPython" not in I.simple_plan(df)


def test_vocab_stats_bounded_shuffles(q):
    """Vocab aggregate shuffles once on token; the global reduction adds
    at most one single-partition exchange of vocab-sized data."""
    df = q("q_vocab_stats")
    assert I.exchange_count(df) <= 2
    assert I.simple_plan(df).count("HashAggregate") >= 2


def test_zipf_topterms_is_heap_not_sort(q):
    """Top-50 of the vocab aggregate must compile to TakeOrdered, never
    a global range-partitioned sort of the vocabulary."""
    plan = I.simple_plan(q("q_zipf_topterms"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_decontaminate_broadcasts_eval_set(q):
    """The distinct eval-gram set must broadcast onto the train stream —
    the corpus side never shuffles for the contamination probe itself."""
    df = q("q_decontaminate")
    assert I.broadcast_join_count(df) >= 1
    assert I.exchange_count(df) <= 3


def test_perplexity_broadcasts_unigram_model(q):
    """The vocab-sized log-prob table joins the token stream as a
    broadcast; only the vocab aggregate and the per-doc reduction
    shuffle.  No Python anywhere."""
    df = q("q_perplexity")
    assert I.broadcast_join_count(df) >= 1
    # 3 data-sized exchanges + the single-partition collection of the
    # vocab-total scalar (counted since exchange_count learned to see
    # Exchange SinglePartition)
    assert I.exchange_count(df) <= 4
    assert "BatchEvalPython" not in I.simple_plan(df)


def test_pagerank_stays_jvm_hash_joins(q):
    """Iterative PageRank must stay on hash joins + partial aggregates —
    no nested-loop join, no Python in the loop body."""
    plan = I.simple_plan(q("q_pagerank"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_bm25_broadcasts_model_heap_topk(q):
    """The df table and corpus scalars broadcast onto the tf stream;
    the top-20 compiles to TakeOrdered, not a global sort; no Python."""
    df = q("q_bm25_rank")
    plan = I.simple_plan(df)
    assert I.broadcast_join_count(df) >= 2
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_coengagement_heap_topk_broadcast_degrees(q):
    """Degrees broadcast onto the pair stream; top-50 is TakeOrdered."""
    df = q("q_coengagement_pairs")
    plan = I.simple_plan(df)
    assert I.broadcast_join_count(df) >= 2
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_butterfly_census_stays_jvm(q):
    """Motif counts are pure JVM hash joins + partial aggregates."""
    plan = I.simple_plan(q("q_butterfly_census"))
    assert "BatchEvalPython" not in plan


def test_supply_chain_broadcasts_frontiers(q):
    """Every BFS frontier is dimension-sized and must broadcast onto the
    next fact table — the fact scans never shuffle for the hop joins."""
    df = q("q_supply_chain_reach")
    assert I.broadcast_join_count(df) >= 4
    assert "BatchEvalPython" not in I.simple_plan(df)


def test_unpivot_and_posexplode_are_map_only(q):
    """Melt and positional explode are row generators inside one codegen
    stage — any exchange here would shuffle the full fact table at scale."""
    for name in ("q_unpivot", "q_posexplode"):
        df = q(name)
        assert I.exchange_count(df) == 0, f"{name} grew a shuffle"
        assert "BatchEvalPython" not in I.simple_plan(df)


def test_full_outer_is_sort_merge_both_sides(q):
    """Full-outer keeps unmatched rows from both inputs, so the correct
    100 TB plan is a shuffle SMJ on the join key — a broadcast variant
    would drop one side's unmatched rows (Spark would reject it) and a
    nested loop would be quadratic."""
    plan = I.simple_plan(q("q_full_outer"))
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_regr_agg_single_pass(q):
    """All five regression sums in ONE partial+final aggregate over a
    single scan — same contract as q_stats_moments."""
    df = q("q_regr_agg")
    plan = I.simple_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert I.exchange_count(df) == 1


def test_first_last_single_window_shuffle(q):
    """Full-frame analytics + DISTINCT share the user_id partitioning:
    one hash exchange for the window sort, one for the dedup aggregate
    at most — the dedup input is already user-partitioned, so AQE-era
    Spark may keep it local."""
    assert I.exchange_count(q("q_first_last")) <= 2


def test_scd2_single_window_shuffle(q):
    """Change detection (lag) and interval stitching (lead) share the
    user_id window partitioning: exactly one exchange end to end."""
    assert I.exchange_count(q("q_scd2")) == 1


def test_transition_matrix_post_window_is_tiny(q):
    """One fact-sized window shuffle; the pair aggregate and row
    normalization then run on ≤|types|² rows — ≤3 exchanges total."""
    assert I.exchange_count(q("q_transition_matrix")) <= 3


def test_feature_scale_fact_never_shuffles(q):
    """The stats table broadcast-joins back onto the fact stream: the
    only exchange is the stats aggregate itself.  A plan that shuffles
    the fact side for per-group normalization is wrong at any scale."""
    df = q("q_feature_scale")
    assert I.broadcast_join_count(df) >= 1
    assert I.exchange_count(df) == 1


def test_pmi_pairs_no_token_self_join(q):
    """Pair generation must be the map-side HOF expansion over per-doc
    token arrays — never a doc_id self-join of the exploded token table
    (two fact-sized shuffles).  df/N lookups broadcast."""
    df = q("q_pmi_pairs")
    plan = I.simple_plan(df)
    assert "SortMergeJoin" not in plan
    assert I.broadcast_join_count(df) >= 2
    assert "BatchEvalPython" not in plan


def test_temperature_resample_broadcasts_rates(q):
    """The per-lang target table must broadcast onto the corpus; the
    repeat fan-out is a map-side explode.  Only the remainder-rank
    window shuffles corpus-sized data."""
    df = q("q_temperature_resample")
    assert I.broadcast_join_count(df) >= 1
    assert "SortMergeJoin" not in I.simple_plan(df)
    # lang stats agg + remainder-rank window + pair of single-partition
    # collections for the scalar totals (now visible to exchange_count)
    assert I.exchange_count(df) <= 4


def test_range_frame_single_window_shuffle(q):
    assert I.exchange_count(q("q_range_frame")) == 1


def test_mad_broadcasts_median_table(q):
    """The |groups|-row median table must broadcast onto the fact
    stream; only the two grouped percentile aggregates shuffle."""
    df = q("q_mad")
    assert I.broadcast_join_count(df) >= 1
    assert I.exchange_count(df) <= 2


def test_interval_join_is_binned_equi_not_nested_loop(q):
    """The pure interval join must compile to an equi hash/merge join on
    the 7-day bin with the range predicate as a post-join filter — a
    BroadcastNestedLoopJoin here is the O(n·m) cross product."""
    plan = I.simple_plan(q("q_interval_count_binned"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_sq_quantize_broadcasts_dim_stats(q):
    """Per-dim min/max (|dims| rows) broadcasts back onto the exploded
    values; only the stats aggregate shuffles."""
    df = q("q_sq_quantize")
    assert I.broadcast_join_count(df) >= 1
    assert I.exchange_count(df) <= 1


def test_interpolate_single_window_shuffle(q):
    """Forward and backward IGNORE-NULLS context share one user_id
    window partitioning — a second exchange would mean the two frames
    stopped sharing their sort."""
    assert I.exchange_count(q("q_interpolate")) == 1


def test_fuzzy_match_is_blocked_hash_join(q):
    """Edit-distance matching must stay a hash join on the blocking key
    with the distance as a post-join filter — never a nested-loop cross
    product, never Python."""
    plan = I.simple_plan(q("q_fuzzy_match"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ts_pattern_is_window_plus_heap(q):
    """The template sweep is one user_id window pass; the global top-20
    must compile to TakeOrdered, never a full range sort.  No
    interpreted folds — the score is all lead() columns."""
    df = q("q_ts_pattern")
    plan = I.simple_plan(df)
    assert I.exchange_count(df) == 1
    assert "TakeOrderedAndProject" in plan
    assert "lambdafunction" not in plan.lower()


def test_salted_agg_two_phase(q):
    """Salted aggregation must show two hash exchanges — (key, salt)
    then key — with partial aggregation below each."""
    df = q("q_salted_agg")
    plan = I.simple_plan(df)
    assert I.exchange_count(df) == 2
    assert plan.count("HashAggregate") >= 3


# -- round-2 additions ---------------------------------------------------


def test_similarity_topk_broadcast_and_shared_norms(q):
    """knn_join: query side broadcast (corpus never shuffles for the
    join), and the per-side norms are computed BEFORE the join — the
    post-join projection must not re-derive them (round-1 finding: the
    inlined cosine recomputed each corpus norm once per query)."""
    df = q("q_similarity_topk")
    plan = I.simple_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or I.broadcast_join_count(df) >= 1
    # norms materialize as _cn/_qn columns on the join inputs
    assert "_cn" in plan and "_qn" in plan


def test_wav_features_single_arrow_stage(q):
    """U8 real decode: exactly one Arrow python stage for the synth UDF
    and one mapInPandas decode — no shuffle in between (the media bytes
    never cross an exchange)."""
    df = q("q_wav_features")
    plan = I.simple_plan(df)
    assert "MapInPandas" in plan
    assert I.exchange_count(df) == 0


def test_ppm_features_single_arrow_stage(q):
    df = q("q_ppm_features")
    plan = I.simple_plan(df)
    assert "MapInPandas" in plan
    assert I.exchange_count(df) == 0


def test_approx_percentile_sketch_broadcast(q):
    """The rank-verify pass broadcasts the 5-row sketch result back onto
    orders — the fact side must not shuffle for it; total exchanges stay
    at the two aggregation passes."""
    df = q("q_approx_percentile")
    assert I.broadcast_join_count(df) >= 1
    assert I.exchange_count(df) <= 2


def test_approx_distinct_partial_final(q):
    """HLL++ + exact distinct in one aggregate: partial+final hash
    aggregation, single shuffle on the group key."""
    df = q("q_approx_distinct")
    plan = I.simple_plan(df)
    assert I.exchange_count(df) <= 2  # distinct expansion may add one
    assert "HashAggregate" in plan


def test_interval_histogram_is_broadcast_no_pair_blowup(q):
    """The aggregate-pushdown interval count must join the (broadcast)
    day histogram, never materialize row-level pairs: one shuffle for
    the histogram aggregate, one for the final per-order sum."""
    df = q("q_interval_histogram")
    plan = I.simple_plan(df)
    assert I.broadcast_join_count(df) >= 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert I.exchange_count(df) <= 2


def test_similarity_ann_single_bucket_pass(q):
    """SRP ANN must compute all hash tables' buckets in ONE Arrow pass
    (one MapInPandas over one scan) — never one scan per table — and
    the candidate filter must precede the rescore."""
    df = q("q_similarity_ann")
    plan = I.simple_plan(df)
    assert plan.count("MapInPandas") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_no_allpairs_join(q):
    """The exact blocked sweep runs as FlatMapGroupsInPandas over block
    pairs — no join operator (a BNLJ here would be the quadratic
    all-pairs trap), one exchange for the group-by."""
    df = q("q_embedding_neardup")
    plan = I.simple_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan
    assert I.exchange_count(df) == 1


def test_semantic_dedup_cell_bounded_sweep(q):
    """Semantic dedup: ONE Arrow pass for cell assignment (MapInPandas),
    the pair sweep as FlatMapGroupsInPandas over (cell, block-pair)
    groups — never a BroadcastNestedLoopJoin (the cross-cell all-pairs
    trap) — and the witness join back on the id stays an equi-join."""
    df = q("q_semantic_dedup")
    plan = I.simple_plan(df)
    assert plan.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curation_pipeline_one_arrow_pass_no_nested_loop(q):
    """The curation funnel: quality gate and fingerprint stages stay
    JVM-side (the only Python nodes are semantic dedup's one assignment
    MapInPandas and one sweep FlatMapGroupsInPandas), and no stage
    degenerates to a nested-loop/cartesian pair sweep."""
    df = q("q_curation_pipeline")
    plan = I.simple_plan(df)
    assert plan.count("MapInPandas") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_neardup_lsh_bucket_and_expand(q):
    """The LSH-blocked near-dup (r11 light-pairs shape): one Arrow
    bucket pass (vector NOT re-emitted), id-only bucket-and-expand (no
    self-join of the bucket subtree), vectors attached to the deduped
    pair set by equi-joins, and ONE Arrow verify pass for the cosine —
    so exactly two MapInPandas nodes, and never a nested-loop/cartesian
    pair sweep."""
    df = q("q_neardup_lsh")
    plan = I.simple_plan(df)
    assert plan.count("MapInPandas") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_shipping_priority_preagg_and_heap(q):
    """TPC-H Q3 pattern: lineitem partial-aggregates below the join
    (two HashAggregates around the orderkey exchange), the top-10 is
    TakeOrdered, and both fact filters reach their parquet scans."""
    df = q("q_shipping_priority")
    plan = I.simple_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert any("l_shipdate" in f for f in I.pushed_filters(df, "lineitem"))
    assert any("o_orderdate" in f for f in I.pushed_filters(df, "orders"))


def test_local_supplier_volume_broadcasts_only_tiny_dims(q):
    """TPC-H Q5 pattern: nation⋈region broadcast; the lineitem scan is
    column-pruned to the 4 columns the query touches."""
    df = q("q_local_supplier_volume")
    assert I.broadcast_join_count(df) >= 1
    cols = I.read_schema_columns(df, "lineitem")
    assert cols and len(cols) <= 4, f"lineitem scan reads {cols}"


def test_returned_items_two_shuffles_heap_topk(q):
    """TPC-H Q10 pattern: returns-filtered pre-aggregate + per-customer
    re-aggregate (the only two wide stages besides a possible dim join),
    top-20 via TakeOrdered, returnflag pushed to the scan."""
    df = q("q_returned_items")
    plan = I.simple_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert any("l_returnflag" in f for f in I.pushed_filters(df, "lineitem"))
    assert I.exchange_count(df) <= 3


def test_pq_adc_single_encode_pass_broadcast_lut(q):
    """PQ/ADC: encoding is ONE MapInPandas pass, the m×k LUT joins via
    broadcast (the codes side never shuffles for it), the per-id sum is
    partial+final, and the top-10 is TakeOrdered."""
    df = q("q_pq_adc")
    plan = I.simple_plan(df)
    assert plan.count("MapInPandas") == 1
    assert I.broadcast_join_count(df) >= 1
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_trade_triangles_single_trade_agg_then_local_motifs(q):
    """Triangle query: the expensive 4-table trade aggregation runs
    exactly ONCE (materialized to the driver-sized edge list), so the
    returned motif plan must contain NO fact-table scan — referencing
    the unpersisted aggregate in three join roles would triple the
    heavy stage — and the tiny edge set broadcasts into both joins."""
    df = q("q_trade_triangles")
    plan = I.simple_plan(df)
    assert "lineitem" not in plan and "FileScan" not in plan
    assert I.broadcast_join_count(df) >= 2


def test_zorder_key_is_pure_jvm_expression(q):
    """The Morton key must compile to pure shift/mask JVM expressions —
    no UDF, no Python — with the 1-row stats broadcast (an
    IdentityBroadcastMode nested-loop join, the right shape for a
    scalar-stats attach)."""
    df = q("q_zorder_layout")
    plan = I.simple_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "shiftleft" in plan and "shiftright" in plan
    assert "BroadcastNestedLoopJoin" in plan or I.broadcast_join_count(df) >= 1


def test_incremental_dedup_band_equi_join_no_nested_loop(q):
    """U5 incremental: new and corpus signature subtrees must meet in an
    EQUI join on the band key (hash/sort-merge) with an anti-join hot-
    bucket guard — never a nested-loop/cartesian pair sweep, and no
    Python anywhere in the plan."""
    plan = I.simple_plan(q("q_incremental_dedup"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan  # the MAX_BUCKET_SIZE guard
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_split_top_level_spaceless_comparison():
    """A spaceless infix comparison (``(x#1<5)``) must NOT open an angle
    bracket (the '<' follows an alnum but no type keyword) — the old
    heuristic latched angle>0 forever and disabled comma splitting for
    the rest of the payload."""
    got = I._split_top_level("(x#1<5), IsNotNull(y#2), In(z#3, [1,2])")
    assert got == ["(x#1<5)", "IsNotNull(y#2)", "In(z#3, [1,2])"]
    # type applications still bracket-count across their commas
    got = I._split_top_level("a:struct<x:int,y:map<string,int>>, b:int")
    assert got == ["a:struct<x:int,y:map<string,int>>", "b:int"]
    # unmatched '>' (e.g. '(a > 5)') never drives the depth negative
    got = I._split_top_level("(a > 5), (b -> c), d")
    assert got == ["(a > 5)", "(b -> c)", "d"]


def test_split_top_level_false_open_rescan():
    """A column literally NAMED array/map/struct (no #exprId) compared
    spacelessly to a value passes the keyword heuristic but its '>'
    never arrives — the end-of-scan rebalance must disable that opener
    and rescan so commas after it still split, while genuine type
    applications elsewhere in the SAME payload keep bracket-counting
    their interior commas."""
    got = I._split_top_level("(struct<5), a, b")
    assert got == ["(struct<5)", "a", "b"]
    got = I._split_top_level("(map<3), x:array<int>, y:struct<a:int,b:int>")
    assert got == ["(map<3)", "x:array<int>", "y:struct<a:int,b:int>"]
    # digit-led struct field names (CSV headers) still open correctly
    got = I._split_top_level("s:struct<1a:int,b:string>, t:int")
    assert got == ["s:struct<1a:int,b:string>", "t:int"]
    # a later bare '>' must NOT absorb the false opener (it would pop
    # it from the stack and defeat the end-of-text rebalance): the
    # paren-containment guard catches the opener at its closing ')'
    got = I._split_top_level("(struct<5), a, (b > 3), c")
    assert got == ["(struct<5)", "a", "(b > 3)", "c"]
    got = I._split_top_level("(map<3), x > 1, y:array<int>, z")
    assert got == ["(map<3)", "x > 1", "y:array<int>", "z"]
    # genuine type application fully inside a paren opened earlier
    # must still bracket-count (the type app closes before the paren)
    got = I._split_top_level("cast(x as struct<a:int,b:int>), y")
    assert got == ["cast(x as struct<a:int,b:int>)", "y"]


def test_decontaminate_bloom_prefilter_is_jvm_single_verify_join(q):
    """Phase 1 must be pure-JVM bit tests (xxhash64 conjunctions, no
    Python, no extra join): the plan carries exactly one broadcast
    (the exact verify against the eval grams) and the bloom shows up
    as xxhash64 calls in the filter, not as a join or UDF."""
    df = q("q_decontaminate_bloom")
    plan = I.simple_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "xxhash64" in plan.lower(), plan[:2000]
    assert I.broadcast_join_count(df) == 1, plan


def test_dlq_recovery_no_row_python_jvm_recovery(q):
    """The DLQ loop stays Arrow-batched (never row-at-a-time Python)
    and the recovery itself is JVM from_json.  Catalyst pushes the
    decode UDF into both union branches (valid frames / corrupt
    frames), so up to 4 Arrow nodes appear — one encode plus a decode
    per branch — but each ROW passes through each stage once."""
    plan = I.simple_plan(q("q_dlq_recovery"))
    assert "BatchEvalPython" not in plan
    assert 1 <= plan.count("ArrowEvalPython") <= 4
    assert "from_json" in plan


def test_min_cost_supplier_decorrelates_to_aggregate_join(q):
    """The correlated MIN subquery must decorrelate into ONE per-partkey
    aggregate (partial+final) joined back as an EQUI hash join on
    (unit_price, partkey) — never a nested-loop rescan per outer row —
    with the p_size filter pushed into the part scan."""
    df = q("q_min_cost_supplier")
    plan = I.simple_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("partial_min") == 1, plan
    assert any("p_size" in f for f in I.pushed_filters(df, "part")), (
        I.pushed_filters(df, "part")
    )
    # lineitem scans are column-pruned (no returnflag/tax/dates)
    cols = I.read_schema_columns(df, "lineitem")
    assert "l_returnflag" not in cols and "l_shipdate" not in cols, cols


def test_token_budget_mix_single_shuffle_rows_frame(q):
    """The budget fill is ONE shuffle on the group key; the running sum
    must use an explicit ROWS frame (ties can't blur the cut) and stay
    entirely JVM-side."""
    df = q("q_token_budget_mix")
    plan = I.simple_plan(df)
    assert I.exchange_count(df) == 1, plan
    assert (
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
        in I.formatted_plan(df)
    ), I.formatted_plan(df)[:3000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_drift_no_python_no_cartesian(q):
    """The drift census stays JVM-side (sort_array fold, no pandas) and
    every join is an equi/broadcast join — lang-count-sized frames are
    broadcast, never nested-looped."""
    df = q("q_corpus_drift")
    plan = I.simple_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_shard_manifest_single_partial_final_agg(q):
    """The shard manifest is one partial+final aggregate over the scan —
    shard-count-sized output, exactly one exchange, no Python."""
    df = q("q_shard_manifest")
    plan = I.simple_plan(df)
    assert I.exchange_count(df) == 1, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_k_per_group_single_shuffle(q):
    """Exact-k sampling is one shuffle on the stratum key; the rank
    filter stays inside the window stage."""
    df = q("q_exact_k_per_group")
    plan = I.simple_plan(df)
    assert I.exchange_count(df) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
