"""Physical-plan regression tests: the *shape* of the headline plans is an
engineered artifact (see PLANS.md) — these tests fail if a future change
silently degrades a broadcast to a sort-merge join, breaks column pruning,
or adds an exchange to the flagship aggregate."""

from __future__ import annotations

import contextlib
import io

from opendosm_parquet_to_sqlite_spark.plans.queries import QUERIES

from .conftest import SF0001
from .plan_audit import assert_plan


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF0001)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_denorm_all_broadcast_no_fact_shuffle(spark):
    plan = _plan(spark, "join_star_denorm")
    # tree lines read "BroadcastHashJoin Inner BuildRight" (the numbered
    # detail section repeats the operator name, so count the tree form)
    assert plan.count("BroadcastHashJoin Inner") == 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only exchanges are the four dimension broadcasts — the fact table
    # itself is never hash-partitioned
    assert "Arguments: hashpartitioning" not in plan


def test_star_denorm_column_pruning(spark):
    plan = _plan(spark, "join_star_denorm")
    # lineitem scan must read only the join keys + projected columns
    for unused in ("l_quantity", "l_extendedprice", "l_tax", "l_shipdate"):
        assert unused not in plan


def test_flagship_maxby_single_exchange_partial_agg(spark):
    plan = _plan(spark, "latest_per_group_maxby")
    # exactly one shuffle, with partial aggregation on the map side
    # (max_by over a struct compiles to a sort-based aggregate — still
    # partial+final, so the exchange carries one champion per local group)
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("SortAggregate") >= 2  # partial + final


def test_pricing_summary_partial_aggregation(spark):
    plan = _plan(spark, "pricing_summary")
    # one shuffle between partial and final hash aggregates
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2
    # unreferenced lineitem columns must not be read
    assert "l_shipdate" not in plan


def test_ann_bruteforce_broadcasts_queries_not_corpus(spark):
    plan = _plan(spark, "ann_bruteforce")
    assert "BroadcastExchange" in plan
    # query-side predicate pushed to the parquet scan
    assert "LessThan(vec_id,10)" in plan.replace(" ", "").replace("\n", "") or \
        "LessThan(vec_id, 10)" in plan
    # corpus is never hash-shuffled; only the tiny top-k rows exchange
    assert "SortMergeJoin" not in plan


def test_dedup_exact_shuffles_digest_not_text(spark):
    plan = _plan(spark, "dedup_exact")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2  # partial md5-group map-side


def test_jaccard_hot_shingles_filtered_before_collect(spark):
    """The capped Jaccard path must drop hot-shingle postings BEFORE any
    collect_list: the hot set (a count-aggregate, bytes on the wire) is
    broadcast into a LeftAnti join against posts, so no aggregation buffer
    ever materializes a posting list longer than the cap. If this test
    fails because the LeftAnti join vanished, the plan has regressed to
    collect-then-filter — a single-task memory bomb at corpus scale."""
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert plan.count("BroadcastHashJoin LeftAnti") == 1
    # per-doc hot-count correction rides the same broadcast as a semi join
    assert plan.count("BroadcastHashJoin LeftSemi") >= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_quantized_broadcasts_queries_arrow_scoring(spark):
    plan = _plan(spark, "ann_quantized")
    # tiny query set broadcast against the int8 corpus — the corpus itself
    # is scanned once and never hash-shuffled before scoring
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    # ADC scoring runs as Arrow-batched pandas UDFs, never row-at-a-time
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # the only exchange is the per-query top-k window, and WindowGroupLimit
    # prunes to k rows per query on BOTH sides of it (partial + final), so
    # the shuffle carries k rows per query, not the scored corpus
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("WindowGroupLimit") >= 2
    # query-side predicate pushed to the parquet scan
    flat = plan.replace(" ", "").replace("\n", "")
    assert "LessThan(vec_id,10)" in flat


def test_ivf_index_probe_prunes_cell_partitions(spark, tmp_path):
    """The IVF promise: probing a PERSISTED index reads only the probed
    cell partitions. The probe set is broadcast and Spark turns the cell
    equi-join into a dynamic-partition-pruning filter on the cells scan."""
    from pyspark.sql import functions as F

    from opendosm_parquet_to_sqlite_spark.operators.similarity import (
        build_ivf_index,
        probe_ivf_index,
    )

    corpus = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, n_centroids=8)
    queries = corpus.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = probe_ivf_index(spark, path, queries, k=3, n_probe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression(cell" in plan
    assert "BroadcastHashJoin Inner" in plan
    assert "SortMergeJoin" not in plan
    # the stored corpus is never hash-shuffled; the sole exchange is the
    # per-query top-k window
    assert plan.count("Arguments: hashpartitioning") == 1


def test_prepare_training_data_plan_shape(spark):
    """The flagship composition: persisted cuts are reused (InMemoryTableScan
    on every consuming branch), dedup/decontamination run as anti-joins,
    and nothing degenerates into a cartesian product."""
    from opendosm_parquet_to_sqlite_spark.caching import release_cached

    plan = _plan(spark, "prepare_training_data")
    release_cached()  # the query registers tracked persists at build time
    assert "CartesianProduct" not in plan
    # gate-chain + survivor cuts feed multiple branches through the cache
    assert plan.count("InMemoryTableScan") >= 3
    # near-dup losers and contamination dirty-set both leave via anti-joins
    assert plan.count("LeftAnti") >= 2
    # decontamination's benchmark side is broadcast, never shuffled at scale
    assert "BroadcastHashJoin LeftSemi" in plan


def test_sample_per_group_plans_window_group_limit(spark):
    """The rank<=k filter must compile to WindowGroupLimit (partial before
    the exchange, final after), so each task ships only its local top-k per
    group into the single group-keyed shuffle."""
    plan = _plan(spark, "sample_per_group")
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert plan.count("Arguments: hashpartitioning") == 1


def test_chunk_documents_plan_is_exchange_free(spark):
    """Chunking is tokenize → sequence → explode → slice — an entirely
    narrow map; any Exchange appearing here is a regression."""
    plan = _plan(spark, "chunk_documents")
    assert "Exchange" not in plan


def test_robust_scale_approx_partial_agg_and_broadcast_join(spark):
    """The approx=True scale path: percentile_approx sketches must partial-
    aggregate map-side (ObjectHashAggregate partial+final around one
    exchange, never a per-group sort), and the group-count-sized stats
    table must come back as a broadcast join."""
    import contextlib
    import io

    from opendosm_parquet_to_sqlite_spark.operators import features
    from opendosm_parquet_to_sqlite_spark.sources.parquet import load_table

    ev = load_table(spark, SF0001, "events")
    out = features.robust_scale(ev, "value", "event_type", approx=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "percentile_approx" in plan
    assert plan.count("ObjectHashAggregate") >= 2  # partial + final sketch
    assert "SortAggregate" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1  # the stats agg


def test_contamination_bloom_probe_shuffles_docs_not_grams(spark):
    """The round-5 single-shuffle probe shape, pinned: the k probe positions
    are k chained BroadcastHashJoins (no posexplode of a per-gram position
    array), and every exchange on the CANDIDATE path is doc-keyed — the
    only gram-keyed exchanges are the two inside the benchmark-sized bloom
    BUILD (distinct grams + bit-table agg), which is eval-suite-sized, not
    corpus-sized. Exchange census: docs-side join sort (doc_id), probe
    distinct partial (doc_id, ng), probe count (doc_id), build (ng), build
    (word) = 5."""
    plan = _plan(spark, "contamination_bloom")
    assert "posexplode" not in plan.lower()
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin LeftOuter") == 4  # k=4 probes
    ex = [
        line for line in plan.splitlines()
        if "Arguments: hashpartitioning" in line
    ]
    assert len(ex) == 5, ex
    gram_keyed = [l for l in ex if "doc_id" not in l]
    assert len(gram_keyed) == 2, gram_keyed  # bloom build only


def test_shipping_priority_takeordered_no_global_sort(spark):
    plan = _plan(spark, "shipping_priority")
    # top-10 must be a TakeOrdered (per-partition heap + driver merge),
    # never a range-partitioned global sort feeding a limit
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    # the filtered BUILDING customer set joins broadcast, and the agg
    # partial-combines before its exchange
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_outlier_mad_stats_joins_are_broadcast(spark):
    plan = _plan(spark, "outlier_mad")
    # both stats passes (median, MAD) come back as broadcast joins; the
    # event stream itself must never hash-exchange
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_value_histogram_two_partial_agg_passes(spark):
    plan = _plan(spark, "value_histogram")
    assert plan.count("partial_") >= 2  # bounds pass + count pass combine map-side
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _n_exchanges(plan: str) -> int:
    import re

    # formatted explain mentions each operator twice (tree + numbered
    # detail) — count the detail headers only
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_ewma_single_exchange(spark):
    plan = _plan(spark, "ewma_smooth")
    # the recurrence costs exactly one key exchange (the collect_list
    # agg); the fold and explode are narrow
    assert _n_exchanges(plan) == 1, plan
    assert "SortMergeJoin" not in plan


def test_scd2_shares_one_exchange_across_both_windows(spark):
    plan = _plan(spark, "scd2_intervals")
    # lag-flag window and lead/version window share the partition key ->
    # Catalyst must reuse one exchange+sort, not plan two
    assert _n_exchanges(plan) == 1, plan


def test_cube_expands_before_partial_agg(spark):
    plan = _plan(spark, "cube_metrics")
    assert "Expand" in plan
    # map-side combine survives the cube: partial aggregate below the
    # one exchange
    assert _n_exchanges(plan) == 1, plan
    assert "partial_" in plan


def test_mutual_information_one_data_scale_exchange(spark):
    plan = _plan(spark, "mutual_information")
    # the count agg is the only exchange that sees data-scale rows; the
    # marginal windows run over the cell table (single-partition allowed)
    assert "partial_count" in plan or "partial_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quantile_normalize_no_join(spark):
    plan = _plan(spark, "quantile_normalize")
    # null/non-null split must stay a union of windows, never a join
    assert "Join" not in plan
    assert "Union" in plan


def test_interval_overlap_equi_join_no_cartesian(spark):
    plan = _plan(spark, "interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snapshot_diff_single_full_outer_join(spark):
    plan = _plan(spark, "snapshot_diff")
    assert "FullOuter" in plan
    assert plan.count("Join") - plan.count("JoinSide") <= 4  # one join (tree+detail mentions)
    assert "CartesianProduct" not in plan


def test_sample_weighted_window_group_limit(spark):
    plan = _plan(spark, "sample_weighted")
    # the top-k must prune per-partition before the group exchange
    assert "WindowGroupLimit" in plan


def test_local_supplier_volume_no_cartesian_and_pruned_scan(spark):
    plan = _plan(spark, "local_supplier_volume")
    assert "CartesianProduct" not in plan
    # the date filter reaches the orders scan
    assert "o_orderdate" in plan and "PushedFilters" in plan
    # lineitem reads only the 4 referenced columns
    assert "l_returnflag" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Spark's runtime row-level bloom filtering: a selective dim filter
    on the build side injects a bloom_filter_might_contain probe into
    the FACT scan, pruning rows before the shuffle — at 100 TB this is
    the difference between shuffling the whole fact table and shuffling
    the matching fraction. The 10 GB application-side threshold is met
    naturally at scale; the test lowers it to fire at fixture scale,
    then pins both the injection and result parity."""
    from .conftest import SF001

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    thr_key = (
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    old_thr = spark.conf.get(thr_key)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(thr_key, "0")
        import pyspark.sql.functions as F

        orders = spark.read.parquet(f"{SF001}/orders.parquet")
        li = spark.read.parquet(f"{SF001}/lineitem.parquet")
        sel = orders.filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = li.join(sel, li.l_orderkey == sel.o_orderkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in opt.lower(), opt
        n_bloom = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(thr_key, old_thr)
    # parity: the bloom probe is a pre-filter, never a semantics change
    orders = spark.read.parquet(f"{SF001}/orders.parquet")
    li = spark.read.parquet(f"{SF001}/lineitem.parquet")
    import pyspark.sql.functions as F

    sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    assert n_bloom == li.join(sel, li.l_orderkey == sel.o_orderkey).count()


def test_merge_upsert_one_full_outer_join_no_cartesian(spark):
    plan = _plan(spark, "merge_upsert")
    # the relational core is ONE keyed full-outer sort-merge join; the
    # uniqueness-guard window rides the update side's existing exchange
    # budget (<= 3 total: target, updates, window)
    assert plan.count("SortMergeJoin FullOuter") >= 1 or "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert _n_exchanges(plan) <= 3, plan


def test_incremental_agg_partial_combines_every_batch(spark):
    plan = _plan(spark, "incremental_agg")
    # each batch's state agg partial-combines map-side; the merge agg
    # adds no extra corpus-scale exchange beyond the three batch aggs
    assert plan.count("partial_") >= 3
    assert _n_exchanges(plan) == 3, plan
    assert "SortMergeJoin" not in plan


def test_cm_frequency_broadcast_probe_no_smj(spark):
    plan = _plan(spark, "cm_frequency")
    # sketch build = one partial-combined agg; the estimate probe joins
    # the depth*width sketch by BROADCAST, never a sort-merge join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _n_exchanges(plan) == 2, plan


def test_ann_pq_code_scan_is_broadcast_only(spark):
    plan = _plan(spark, "ann_pq")
    # queries + candidate sets broadcast; the corpus is never
    # hash-partitioned (the only exchange is the final top-k window's)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- round-7: statistical family pins (round-6 verdict item 6) ----------------


def test_bootstrap_ci_one_explode_then_summary_aggs(spark):
    """Poisson bootstrap: ONE narrow explode multiplies rows by B inside
    the scan stage; everything after is partial-combined aggregation over
    (group, replicate) then a B-row percentile — never a corpus-scale
    second exchange, never a sort-merge join. Exchange census: replicate
    agg, B-row percentile agg, broadcast-back of the tiny CI table = 3."""
    plan = _plan(spark, "bootstrap_ci")
    assert plan.lower().count("explode") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("partial_") >= 2  # map-side combine on both aggs
    # round-13 opt: +1 conditional round-robin exchange (parallelism.
    # fan_out) spreading the base rows BEFORE the xB explode — on an
    # unsplittable small scan the explode + per-(row, replicate) md5
    # otherwise runs in ONE task (measured 8.1 s of an 8.5 s wall);
    # no-op (4 exchanges) when the scan has >= parallelism splits.
    assert _n_exchanges(plan) <= 5, plan
    # fan_out is a DOCUMENTED no-op when the scan already has >=
    # defaultParallelism effective splits (round-13 ADVICE: a 1-core
    # runner or re-chunked fixtures must not fail this test), so the
    # positive pin is gated on the same driver-side estimate fan_out
    # itself uses.
    from opendosm_parquet_to_sqlite_spark.parallelism import (
        scan_task_estimate,
    )
    from opendosm_parquet_to_sqlite_spark.plans.queries import load_table

    est = scan_task_estimate(load_table(spark, SF0001, "events"))
    if est is not None and est < spark.sparkContext.defaultParallelism:
        assert "RoundRobinPartitioning" in plan  # the fan_out fired here


def test_weighted_median_distinct_collapse_then_window(spark):
    """Exact weighted quantile: collapse to distinct values (one keyed
    partial-combined agg), then the cumulative-weight window — the value
    stream crosses the wire once as (value, weight-sum) rows. Two keyed
    exchanges, no join at data scale."""
    plan = _plan(spark, "weighted_median")
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("partial_") >= 1
    assert _n_exchanges(plan) <= 2, plan


def test_equidepth_histogram_two_agg_passes_broadcast_back(spark):
    """Exact octile edges (percentile agg) + threshold bucketing: two
    partial-combined aggregation passes with the octile-row table coming
    back by BROADCAST — the data column never shuffles twice at full
    width, and no sort-merge join sneaks in."""
    plan = _plan(spark, "equidepth_histogram")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _n_exchanges(plan) <= 3, plan


def test_value_histogram_partial_combined_no_join_at_scale(spark):
    """Equi-width histogram: bounds pass + bin-count pass, both
    partial-combined; the bounds come back as a broadcast, the value
    stream shuffles only as bin counts."""
    plan = _plan(spark, "value_histogram")
    assert "SortMergeJoin" not in plan
    assert plan.count("partial_") >= 2
    assert _n_exchanges(plan) <= 3, plan


def test_heavy_hitters_single_summary_exchange(spark):
    """Misra-Gries: per-partition capacity-bounded summaries merge through
    ONE exchange of summary rows — the data never shuffles at full size,
    and the plan has exactly one Exchange total."""
    plan = _plan(spark, "heavy_hitters")
    assert _n_exchanges(plan) == 1, plan
    assert "SortMergeJoin" not in plan


def test_forecast_revenue_pushes_all_filters_to_scan(spark):
    """TPC-H Q6: the whole WHERE must reach the parquet scan as
    PushedFilters — at 100 TB this is the min/max row-group pruning
    path; a post-scan Filter on l_shipdate would read every byte."""
    df = QUERIES["forecast_revenue"](spark, SF0001)
    rep = assert_plan(
        df, n_scans=1, n_cartesian=0, has_python_udf=False,
        n_exchanges=("<=", 1),  # the single-row final agg only
    )
    pushed = rep["scans"][0]["pushed_filters"] or ""
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    # projection pruning: only the 4 referenced columns are read
    assert "l_orderkey" not in (rep["scans"][0]["read_schema"] or "")


def test_discounted_revenue_or_predicates_keep_equi_join(spark):
    """TPC-H Q19: the OR-of-ANDs must NOT break the p_partkey equi-join
    into a nested loop / cartesian — the residual disjunction rides the
    broadcast hash join."""
    df = QUERIES["discounted_revenue"](spark, SF0001)
    assert_plan(
        df, n_broadcast_joins=1, n_cartesian=0, n_nested_loop_joins=0,
        n_sortmerge_joins=0,
    )


def test_customer_distribution_left_outer_keeps_zero_bucket(spark):
    """TPC-H Q13: left outer + two group-count-sized aggs, no cartesian;
    the order-side predicate must ride the join (not drop customers)."""
    df = QUERIES["customer_distribution"](spark, SF0001)
    assert_plan(df, n_cartesian=0, n_nested_loop_joins=0,
                n_hash_exchanges=("<=", 2))


def test_market_share_single_fact_exchange(spark):
    """TPC-H Q8: six dim probes must all broadcast; the only hash
    exchange in the plan is the final year agg (at toy scale even
    lineitem⋈orders broadcasts; at 100 TB that edge becomes the one
    keyed shuffle — either way the dims never shuffle the fact)."""
    df = QUERIES["market_share"](spark, SF0001)
    assert_plan(df, n_cartesian=0, n_nested_loop_joins=0,
                n_broadcast_joins=(">=", 5))


def test_important_stock_threshold_is_one_row_broadcast(spark):
    """TPC-H Q11: the HAVING-fraction threshold joins as a 1-row
    broadcast nested loop (the stats idiom) — never a shuffled join of
    the value table against itself."""
    df = QUERIES["important_stock"](spark, SF0001)
    assert_plan(df, n_cartesian=0, n_nested_loop_joins=1,
                n_sortmerge_joins=0)


def test_group_ols_single_partial_combined_agg(spark):
    """All six OLS moments ride ONE partial+final agg — one exchange,
    group-sized rows, closed form as projection."""
    df = QUERIES["group_ols"](spark, SF0001)
    assert_plan(df, n_exchanges=1, n_hash_exchanges=1, n_scans=1,
                has_python_udf=False)


def test_mann_whitney_midranks_share_one_sort(spark):
    """rank() and the peer count must share one hash exchange + sort
    (zero-width RANGE frame on the same ordering), and the final agg
    reuses that partitioning — one exchange total."""
    df = QUERIES["mann_whitney"](spark, SF0001)
    assert_plan(df, n_exchanges=1, n_hash_exchanges=1,
                n_range_exchanges=0, has_python_udf=False)


def test_chi_square_exchanges_are_cell_table_sized(spark):
    """One raw-row exchange (the contingency agg); the marginal windows
    exchange the CELL table only — bounded by |a|·|b|, never row count."""
    df = QUERIES["chi_square"](spark, SF0001)
    assert_plan(df, n_cartesian=0, n_exchanges=("<=", 4),
                has_python_udf=False)


def test_collocations_pmi_marginals_from_bigram_table(spark):
    """The token-scale explode feeds exactly ONE aggregation (the bigram
    count); both marginals and the total aggregate the bigram table, so
    every downstream exchange is bigram-vocab-sized. The 1-row total is
    the lone nested-loop broadcast."""
    df = QUERIES["collocations_pmi"](spark, SF0001)
    rep = assert_plan(df, n_cartesian=0, n_nested_loop_joins=("<=", 1),
                      has_python_udf=False)
    # one scan of documents — marginals must not rescan/re-explode text
    assert rep["n_scans"] <= 2  # persisted bg may rescan its own cache


def test_collocations_pmi_marginal_broadcast_gate(spark):
    """Round-12 triage of the 1.97x bench regression: under the free
    scan-size gate, a small corpus joins its vocab-sized marginals by
    BROADCAST (no marginal shuffle); forcing broadcast_marginals=False
    takes the 100 TB shuffled-join path. Both agree value-for-value."""
    from opendosm_parquet_to_sqlite_spark.operators import text as T

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    assert 0 < T.scan_bytes(docs) <= T.PMI_BROADCAST_MAX_SCAN_BYTES
    # in-memory/RDD frames have no file scan: size UNKNOWN (None) — the
    # gate must NOT force-broadcast for these (ADVICE r12: a non-file
    # frame can be huge); Spark's autoBroadcastJoinThreshold decides
    assert T.scan_bytes(spark.range(3)) is None
    auto = T.collocations_pmi(docs, "text", min_pair_count=5)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2  # both marginals
    shuffled = T.collocations_pmi(
        docs, "text", min_pair_count=5, broadcast_marginals=False
    )
    a = sorted(map(tuple, auto.collect()))
    b = sorted(map(tuple, shuffled.collect()))
    assert a == b and len(a) > 0


def test_feature_binning_one_window_exchange(spark):
    df = QUERIES["feature_binning"](spark, SF0001)
    assert_plan(df, n_exchanges=1, n_hash_exchanges=1,
                n_range_exchanges=0, has_python_udf=False)


def test_web_ingestion_queries_are_exchange_free(spark):
    """Markup strip + anchor extraction are narrow regex chains — zero
    exchanges, zero Python; the corpus text never shuffles."""
    for name in ("html_to_text", "extract_links"):
        df = QUERIES[name](spark, SF0001)
        assert_plan(df, n_exchanges=0, has_python_udf=False)


def test_negative_samples_pool_broadcast_one_window(spark):
    """The anchors×pool fan-out is the documented 1-pool broadcast
    nested loop; one window exchange prunes to k. No cartesian, no
    corpus self-join."""
    df = QUERIES["negative_samples"](spark, SF0001)
    assert_plan(df, n_cartesian=0, n_nested_loop_joins=1,
                n_hash_exchanges=1, has_python_udf=False)


def test_next_event_examples_single_bounded_window(spark):
    df = QUERIES["next_event_examples"](spark, SF0001)
    assert_plan(df, n_exchanges=1, n_hash_exchanges=1,
                n_range_exchanges=0, has_python_udf=False)


def test_preference_pairs_query_single_exchange(spark):
    df = QUERIES["preference_pairs"](spark, SF0001)
    assert_plan(df, n_exchanges=1, n_hash_exchanges=1,
                has_python_udf=False)


def test_welch_ttest_single_conditional_agg(spark):
    plan = _plan(spark, "welch_ttest")
    # one partial-combined aggregation to the group table — the cohorts
    # split via conditional aggregates, never a union or self-join
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2
    assert "Union" not in plan and "SortMergeJoin" not in plan


def test_target_encoding_broadcast_back_one_cell_agg(spark):
    plan = _plan(spark, "target_encoding")
    # the corpus shuffles once (cell aggregation); the encoding table
    # comes back as a broadcast, never a sort-merge join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # windows run over the CELL table: every hashpartitioning exchange is
    # on cell/fold keys, and there are few of them (agg + cell windows)
    assert plan.count("Arguments: hashpartitioning") <= 4


def test_feature_hashing_is_single_stage_no_exchange(spark):
    plan = _plan(spark, "feature_hashing")
    assert "Exchange" not in plan
    assert "Union" in plan
    # only the three referenced columns are read
    assert "n_chars" not in plan and "text" not in plan


def test_temporal_split_one_row_broadcast_cutoff(spark):
    plan = _plan(spark, "temporal_split")
    # the cutoff is a 1-row aggregate broadcast back over a nested-loop
    # join; the corpus itself never hash-partitions
    assert "BroadcastNestedLoopJoin" in plan
    assert "Arguments: hashpartitioning" not in plan
    # event columns outside (event_id, ts) are pruned from the scan
    assert "props" not in plan and "user_id" not in plan


def test_ranking_metrics_topk_filters_before_join(spark):
    plan = _plan(spark, "ranking_metrics")
    # no corpus-sized sort-merge join of rankings x labels without the
    # rank<=k filter: the filter appears below the join in the plan and
    # the whole query needs no cartesian
    assert "CartesianProduct" not in plan
    assert "(rk" in plan or "__r" in plan  # the rank<=k predicate survives


def test_vocab_coverage_broadcast_probe(spark):
    plan = _plan(spark, "vocab_coverage")
    # the vocab probe joins as a broadcast (vocabulary-sized), never a
    # corpus-scale sort-merge join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_compression_ratio_zero_exchange_arrow(spark):
    plan = _plan(spark, "compression_ratio")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan  # vectorized, not BatchEvalPython
    assert "BatchEvalPython" not in plan


def test_auc_roc_midranks_share_one_sort(spark):
    plan = _plan(spark, "auc_roc")
    # midrank + tie count ride the same (day, score) sort: exactly one
    # corpus exchange (the day partitioning), then the group agg
    assert plan.count("Arguments: hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_classification_report_one_pass_no_join(spark):
    plan = _plan(spark, "classification_report")
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "explode" in plan  # the constant-factor Generate replication


def test_lift_table_windows_over_bin_table(spark):
    plan = _plan(spark, "lift_table")
    # one global ntile sort over the corpus; the cumulative windows run
    # over the 10-row bin table (singlepartition exchanges are tiny)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Arguments: hashpartitioning") <= 1


def test_survival_curve_windows_over_duration_table(spark):
    plan = _plan(spark, "survival_curve")
    # the user agg is the only raw-row exchange; the KM windows run over
    # the (duration) table and the observation edge is a 1-row broadcast
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row edge join
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_silhouette_corpus_never_hash_partitions(spark):
    plan = _plan(spark, "silhouette_score")
    # centroids broadcast back over the xC replication; the vector rows
    # exchange only for the centroid partial agg and the per-point agg
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_centroid_classify_broadcast_centroids(spark):
    plan = _plan(spark, "centroid_classify")
    # the C-row centroid table broadcasts over the test replication; the
    # test corpus never sort-merge joins
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_pr_auc_single_sort_one_agg(spark):
    plan = _plan(spark, "pr_auc")
    # row_number + running positive count share the (day, score desc, id)
    # sort; then the day agg — no joins, day-keyed exchanges only
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_cohens_kappa_marginal_join_is_cell_table_sized(spark):
    plan = _plan(spark, "cohens_kappa")
    # cells/marginals/joint all live on the (lang, label) cell table —
    # the raw corpus exchanges once into the cell agg; no cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cramers_v_windows_over_cell_table(spark):
    plan = _plan(spark, "cramers_v")
    assert "Join" not in plan
    # one corpus exchange to cells; the marginal windows + final agg ride
    # the cell table
    assert plan.count("Arguments: hashpartitioning") <= 4


def test_anova_two_stacked_partial_aggs(spark):
    plan = _plan(spark, "anova_oneway")
    assert "Join" not in plan
    # rows -> (day, type) sufficient stats -> day table: two keyed
    # exchanges, both partial-combined
    assert plan.count("Arguments: hashpartitioning") <= 2
    assert "partial" in plan.lower()


def test_wasserstein_distinct_value_table_exchange(spark):
    plan = _plan(spark, "wasserstein_drift")
    # raw values collapse to the per-(type, value) count table before the
    # cumulative/lead windows; no joins anywhere
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_cusum_one_keyed_exchange_shares_sort(spark):
    plan = _plan(spark, "cusum_changepoints")
    assert "Join" not in plan
    # moments (unbounded window), cumulative path, and the max_by agg all
    # ride the one event_type partitioning
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_interpolate_union_carry_no_join(spark):
    plan = _plan(spark, "interpolate_linear")
    # the grid union carries brackets in both directions over ONE keyed
    # sort — an asof-join shape with zero Join operators
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Generate" in plan  # the sequence explode building the grid


def test_record_linkage_single_block_keyed_join(spark):
    plan = _plan(spark, "record_linkage")
    # the self-join is an equi-join on the block key (shuffle or broadcast
    # hash — never a nested-loop pair scan); sims are scalar projections
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_lof_edge_table_joins_only(spark):
    """lof_outliers runs entirely on the kNN edge list: node-keyed hash
    equi-joins, no nested-loop/cartesian pairing, and the corpus vectors
    never reappear (no embedding column anywhere in the plan)."""
    import contextlib
    import io

    from opendosm_parquet_to_sqlite_spark.operators.similarity import (
        lof_outliers,
    )

    edges = spark.createDataFrame(
        [(i, (i + j) % 40, 1.0 - 0.01 * j, j) for i in range(40)
         for j in range(1, 6)],
        "src long, dst long, cosine double, rank int",
    )
    df = lof_outliers(edges)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "embedding" not in plan  # vectors never re-read
    # every join is a node-keyed equi-join (hash shuffle or broadcast)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_lof_composed_query_reads_vectors_once_per_knn_leg(spark):
    """The registered lof_outliers query scans the embeddings parquet
    only inside knn_graph's candidate legs — the LOF tail adds ZERO
    additional vector scans (a regression that re-reads the corpus per
    join would multiply 100 TB of IO)."""
    from opendosm_parquet_to_sqlite_spark.caching import release_cached

    plan = _plan(spark, "lof_outliers")
    # the persisted pair/edge tables make every reuse an
    # InMemoryTableScan: exactly ONE parquet scan of the corpus survives
    # (pre-fix this counted 12 — the LSH pipeline replayed per branch)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan.count(
        "Location: InMemoryFileIndex"
    )
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    release_cached()


# --- round-9 plan pins: the six §2.13 round-9 registrations -------------------


def test_readability_plan_is_exchange_free_native(spark):
    """readability_scores is a pure narrow projection: zero exchanges,
    zero joins, zero Python eval — the whole report rides the scan."""
    plan = _plan(spark, "readability")
    assert "Arguments: hashpartitioning" not in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_length_buckets_single_partial_agg_exchange(spark):
    """length_buckets: one narrow capacity projection + ONE key exchange
    with map-side partial aggregation (the key space is ~log2(max_len)
    buckets — combiner-friendly)."""
    plan = _plan(spark, "length_buckets")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "partial" in plan  # map-side combine before the exchange
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_t_closeness_windows_run_on_cell_table(spark):
    """t_closeness_report aggregates raw rows to the QI-class cell table
    in ONE data-scale exchange; every window/global stat after that runs
    over cells (plus one SinglePartition hop for the corpus-wide
    distribution). No joins, no raw-row windows."""
    plan = _plan(spark, "t_closeness")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("Arguments: SinglePartition") == 1
    assert "Join" not in plan
    assert "partial" in plan


def test_label_noise_corpus_never_shuffles(spark):
    """label_noise_candidates: the class-threshold bars are a 1-row
    global agg broadcast back onto the scored corpus (nested-loop over
    ONE row, not a key shuffle) — the corpus itself never exchanges."""
    plan = _plan(spark, "label_noise")
    assert "Arguments: hashpartitioning" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # bars + guard row
    assert "SortMergeJoin" not in plan
    assert plan.count("Arguments: SinglePartition") == 1


def test_temperature_mix_rates_broadcast_no_corpus_shuffle(spark):
    """temperature_mix derives the per-language rate table (C rows, C =
    |languages|) and joins it back as a BROADCAST; the document corpus
    is scanned once and never hash-shuffled. The explode is a narrow
    Generate."""
    plan = _plan(spark, "temperature_mix")
    assert "Arguments: hashpartitioning" not in plan
    assert plan.count("BroadcastHashJoin Inner") == 1
    assert "SortMergeJoin" not in plan
    assert "Generate" in plan


def test_matryoshka_striped_window_then_tiny_agg(spark):
    """matryoshka_report: md5-striped successor pairing (one 16-stripe
    window exchange), a narrow per-dim HOF projection, then the per-dim
    agg (one tiny-key exchange) and the documented ORDER BY dim (range
    exchange). No joins — pairs come from lead() within stripes."""
    plan = _plan(spark, "matryoshka")
    assert plan.count("Arguments: hashpartitioning") == 2
    assert plan.count("Arguments: rangepartitioning") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_remove_repeated_spans_plan_shape(spark):
    """Round-10 transform: the cut rebuild must stay native (HOF filter/
    exists — no Python eval) and never form a cartesian product; the
    only broadcast-free exchanges are the span search's keyed aggs."""
    plan = _plan(spark, "remove_repeated_spans")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_record_linkage_scaled_stats_broadcast_no_bnlj_on_pairs(spark):
    """The band derivation's scalar-stats cross join must compile to a
    broadcast of ONE row (never a shuffled join), and the pair join
    itself stays an equi-join on the block key."""
    plan = _plan(spark, "record_linkage_scaled")
    assert "CartesianProduct" not in plan
    # the 1-row stats frame broadcasts (BNLJ on a single-row build side
    # is Spark's broadcast-cross shape and is fine; a shuffled variant
    # is not)
    assert "BatchEvalPython" not in plan
    assert plan.count("SortMergeJoin") == 0


def test_collocations_pmi_unknown_scan_size_not_forced_broadcast(spark):
    """ADVICE r12: when scan_bytes returns None (no file scan behind the
    plan), the gate must NOT force vocab-sized broadcasts — a non-file
    frame can be arbitrarily large. With autoBroadcastJoinThreshold
    disabled, an in-memory corpus therefore plans shuffled marginal
    joins, while the same-size FILE-backed corpus (known small) still
    gets the explicit broadcast hint."""
    from opendosm_parquet_to_sqlite_spark.operators import text as T

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    mem = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text")
         .limit(50).collect()],
        "doc_id long, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        mem_plan = (
            T.collocations_pmi(mem, "text", min_pair_count=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        file_plan = (
            T.collocations_pmi(docs, "text", min_pair_count=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # marginal joins: unknown size -> no forced broadcast (SMJ under
    # threshold -1); known-small file scan -> hint still forces BHJ
    assert mem_plan.count("BroadcastHashJoin") == 0
    assert file_plan.count("BroadcastHashJoin") >= 2
