"""Plan-quality regression tests (SURVEY.md §4 / SCALING.md claims).

These assert the *physical plan*, not results: pushdown reached the
scan, dims broadcast, single-scan reuse held, narrow ops stayed
shuffle-free. A refactor that silently turns a broadcast join into a
cartesian product or re-scans the fact table fails here long before a
100 TB run would reveal it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_chunking_is_shuffle_free(spark):
    plan = _plan(spark, "chunk_documents")
    assert "Exchange" not in plan


def test_q6_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: the 16-column table is read as a 4-column schema
    assert "l_returnflag" not in plan


def test_q5_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "q5_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _final_plan(spark, name: str) -> str:
    """Execute, then read the FINAL adaptive plan — exchange reuse is a
    query-stage-level dedup that only shows up after AQE has run.
    collect(), not a noop write: the write wraps the plan in a NEW
    query execution and the DataFrame's own plan would stay
    isFinalPlan=false."""
    df = REGISTRY[name].spark(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # toString prints "== Final Plan ==" then "== Initial Plan ==";
    # only the final section describes what actually ran
    return plan.split("== Initial Plan ==")[0]


def test_q11_scans_fact_once(spark):
    """The 0.1%-of-total threshold must reuse the aggregated frame's
    shuffle, not rescan lineitem (scalar-subquery-as-rescan is the
    classic blowup). The broadcast total side must dedupe into the main
    side's exchange; the single-task Window.partitionBy() alternative
    was the r03 perf-weak item."""
    plan = _final_plan(spark, "q11_important_parts")
    assert "ReusedExchange" in plan
    # final plan prints the reused subtree once: one lineitem scan node
    assert plan.count("lineitem.parquet") <= 1


def test_q15_scans_fact_once(spark):
    plan = _final_plan(spark, "q15_top_supplier")
    assert "ReusedExchange" in plan
    assert plan.count("lineitem.parquet") <= 1


def test_q2_shape_decorrelates_to_single_scan(spark):
    """The correlated min-cost subquery must decorrelate to one windowed
    min over one lineitem scan — never a rescan per outer row — with all
    four dims broadcast."""
    plan = _plan(spark, "q2_shape_min_cost_supplier")
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_salted_join_stays_hash_equi(spark):
    plan = _plan(spark, "salted_join_event_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name", [n for n, s in REGISTRY.items() if s.bench]
)
def test_bench_queries_never_cartesian(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan


# Excluded from the registry-wide cartesian gate:
#   cross_join_nation_region — an intentional cartesian (25×5 dims);
#   streaming_* / pysource_api_stream — building them RUNS the stream to
#     completion (their returned plan is a materialized checkpoint scan);
#   kmeans_fixedpoint / dedup_clusters / near_dup_prune — iterative:
#     construction executes eager checkpoints.
_CARTESIAN_GATE_EXCLUDE = {"cross_join_nation_region"}
_CARTESIAN_GATE_SKIP_PREFIXES = ("streaming_", "pysource_api_stream")
_CARTESIAN_GATE_SKIP = {
    "kmeans_fixedpoint_embeddings",
    "dedup_clusters_minhash",
    "near_dup_prune_documents",
    "curation_decisions_documents",  # composes near_dup_prune (iterative)
}


def test_no_registry_query_plans_cartesian(spark, tables):
    """Registry-wide scale gate: NO query may physically plan a
    CartesianProduct — the unbounded-pair blowup that a 100× scale-up
    turns into a non-terminating job. (Bounded 1-row/tiny-dim
    BroadcastNestedLoopJoins are allowed; full cartesians are not.)"""
    offenders = []
    for name in REGISTRY:
        if name in _CARTESIAN_GATE_EXCLUDE or name in _CARTESIAN_GATE_SKIP:
            continue
        if name.startswith(_CARTESIAN_GATE_SKIP_PREFIXES):
            continue
        if "CartesianProduct" in _plan(spark, name):
            offenders.append(name)
    assert not offenders, f"cartesian plans: {offenders}"


def test_join_hints_are_honored(spark, tables):
    """Strategy hints survive to the physical plan: SHUFFLE_HASH avoids
    the sort of SMJ where one side is modest; MERGE forces SMJ."""
    o = tables["orders"]
    li = tables["lineitem"]
    shj = (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" in shj
    smj = (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in smj


def test_srp_plan_construction_triggers_no_job(spark, tables):
    """SRP-composed plans must not run Spark ACTIONS while being built —
    the dims probe regression (VERDICT r01 #5): dims comes from the DIMS
    parameter, never a driver-side first()."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    for name in (
        "srp_signatures_embeddings",
        "embedding_near_dups",
        "ann_lsh_topk_embeddings",
    ):
        REGISTRY[name].spark(spark, SF_DIR)
    assert dag.numTotalJobs() == before


def test_zscore_broadcasts_stats_side(spark):
    """The 5-row per-type moments table must come back as a broadcast —
    a second shuffle of events to join 5 rows is the classic miss."""
    plan = _plan(spark, "zscore_outliers_events")
    assert "BroadcastHashJoin" in plan


def test_bloom_filter_prunes_selective_fact_join(spark, tables):
    """Runtime Bloom-filter join pruning (VERDICT r01 #10): when the
    selective side of a fact-fact join cannot broadcast (the 100 TB
    regime — simulated by disabling broadcast and lowering the
    application-side threshold, which defaults to 10 GB), Catalyst must
    inject a might_contain(bloom) filter on the PROBE side's scan, so
    non-joining fact rows die before the shuffle. Also asserts the
    pruned plan returns the same result as the unpruned one."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }

    def build():
        o = tables["orders"].filter(F.col("o_totalprice") > 400000)
        li = tables["lineitem"]
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
        )

    baseline = {(r.l_returnflag, r.n) for r in build().collect()}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        df = build()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        # the bloom probe must sit on the lineitem scan side, i.e. the
        # filter line references the fact join key
        assert any(
            "might_contain" in line and "l_orderkey" in line
            for line in plan.splitlines()
        )
        assert {(r.l_returnflag, r.n) for r in df.collect()} == baseline
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_winnowing_is_shuffle_free(spark):
    """Rolling-hash fingerprinting is a pure higher-order projection —
    no KEYED Exchange, no Python boundary. The only exchange allowed is
    the deliberate round-robin spread of the single-file scan (r12,
    ensure_parallelism — the per-gram md5 fold otherwise runs in one
    task); at real scale that spread is a no-op."""
    plan = _plan(spark, "winnow_fingerprints_documents")
    import re

    kinds = [
        m.group(1).lower()
        for m in re.finditer(r"(?<!Broadcast)Exchange (\w+)", plan)
    ]
    assert all(k == "roundrobinpartitioning" for k in kinds), kinds
    assert len(kinds) <= 1, kinds
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hash_sample_is_scan_side(spark):
    """md5-bucket sampling is a pure predicate: no Exchange anywhere."""
    plan = _plan(spark, "hash_sample_documents")
    assert "Exchange" not in plan


def test_histogram_partial_aggregates(spark):
    """Map-side combine before the shuffle (HashAggregate appears on
    both sides of the Exchange)."""
    plan = _plan(spark, "histogram_order_totals")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_quantize_broadcasts_bounds(spark):
    plan = _plan(spark, "quantize_embeddings_int8")
    assert "BroadcastHashJoin" in plan


def test_length_band_broadcasts_cuts(spark):
    """Two scalar percentile cut points join back via broadcast, never a
    cartesian re-plan of the scan."""
    plan = _plan(spark, "length_band_documents")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_no_registry_query_plans_row_udf(spark, tables):
    """Registry-wide gate: no query may plan a row-at-a-time Python UDF
    (BatchEvalPython). Python is only allowed at Arrow boundaries —
    ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas / mapInArrow —
    where batch transfer amortizes serialization ~10-100×. (UDTF nodes
    print as BatchEvalPythonUDTF; the word-boundary regex skips them —
    Spark 4 UDTFs are a distinct, arrow-optimizable surface.)"""
    import re

    offenders = []
    for name in REGISTRY:
        if name in _CARTESIAN_GATE_EXCLUDE or name in _CARTESIAN_GATE_SKIP:
            continue
        if name.startswith(_CARTESIAN_GATE_SKIP_PREFIXES):
            continue
        if re.search(r"\bBatchEvalPython\b", _plan(spark, name)):
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python UDF plans: {offenders}"


# ---------------------------------------------------------------------------
# VERDICT r02 #1: no corpus-sized single-partition rank windows.
# A Window.orderBy with no partitionBy sorts its whole input in ONE task;
# that is only acceptable when the input is already bounded (a Limit /
# TakeOrderedAndProject, or a ≤partition-count summary frame). These pin
# the six fixed plans.


@pytest.mark.parametrize(
    "name",
    [
        "bm25_search_documents",
        "skew_profile_events",
        "bigram_stats_documents",
        "bpe_merge_pairs_documents",
        # eval family: both the BM25 arm's top-k and the ideal-DCG
        # ordering must be TakeOrdered, never a corpus-sized rank window
        "retrieval_eval_bm25",
        "eval_recall_curve_bm25",
        "retrieval_overlap_lex_vec",
        # one-probe vector arms rank with one ordered take
        # (similarity.cosine_topk_one_probe), not the salted top-k
        "retrieval_eval_cosine",
        "rag_retrieve",
    ],
)
def test_topk_rank_windows_sit_above_takeordered(spark, name):
    """The rank window's input must be an orderBy+limit (compiled to
    TakeOrderedAndProject), never the full score/key/pair frame."""
    plan = _plan(spark, name)
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    [
        "cosine_topk_embeddings",
        # MMR's corpus-sized candidate arm is the same low-cardinality
        # per-probe top-k shape (the greedy itself only sees depth^2 rows)
        "mmr_diversified_retrieval",
        # r05: per-source token rankings (few sources -> one task per
        # source over the vocabulary without the salt)
        "zipf_slope_by_source",
        "chi2_tokens_by_source",
        # r05: A-ExpJ weighted reservoir — per-source corpus-sized rank
        "weighted_reservoir_documents",
    ],
)
def test_cosine_topk_rank_is_salt_partitioned(spark, name):
    """cosine_topk's phase-1 rank must partition by (probe, salt)
    (operators/ranking.salted_top_k) so a single-probe call never
    serializes the whole candidate frame through one task (review r03)
    — phase 2 re-ranks only the bounded k·num_salts survivors."""
    plan = _plan(spark, name)
    assert "__topk_salt" in plan


def _iter_plan_nodes(jnode):
    """Walk an executed plan including across AQE stage boundaries —
    query stages and reused exchanges hide their subtree behind plan()/
    child() rather than children()."""
    yield jnode
    cls = jnode.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _iter_plan_nodes(jnode.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _iter_plan_nodes(jnode.plan())
        return
    if cls == "ReusedExchangeExec":
        yield from _iter_plan_nodes(jnode.child())
        return
    for i in range(jnode.children().size()):
        yield from _iter_plan_nodes(jnode.children().apply(i))


def test_dpp_prunes_partitioned_fact_scan(spark):
    """dpp_pruned_daily_events' fact scan must carry a NON-TRIVIAL
    dynamic-pruning partition filter (a disabled/inapplicable DPP prints
    `dynamicpruningexpression(true)`), and — checked on the executed
    scan's own metric, not the plan string (advice r04) — actually read
    fewer partitions than the table holds: the 100 TB date-prune."""
    import glob
    import re

    df = REGISTRY["dpp_pruned_daily_events"].spark(spark, SF_DIR)
    df.collect()  # populate scan metrics on the final adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"dynamicpruningexpression\((?!true\))", plan)
    assert m, f"no dynamic pruning subquery in fact scan:\n{plan[:2000]}"

    from qa_data_pipeline_rag_llm_spark.plans.queries_scale import _dpp_paths

    fact_path, _ = _dpp_paths(SF_DIR)
    total_parts = len(glob.glob(f"{fact_path}/d=*"))
    assert total_parts > 1, f"fact table not partitioned at {fact_path}"
    # the fact scan is the only scan with a partition-read metric (the
    # dim parquet is unpartitioned)
    read_counts = [
        int(n.metrics().apply("numPartitions").value())
        for n in _iter_plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and n.metrics().contains("numPartitions")
    ]
    assert read_counts, "no partitioned FileSourceScan found in final plan"
    assert max(read_counts) < total_parts, (
        f"DPP read {read_counts} of {total_parts} partitions — nothing pruned"
    )


def test_hard_negatives_broadcasts_the_probe_side(spark):
    """The label-mismatch pair join must be a broadcast nested-loop with
    the bounded probe set as the build side — never a shuffled product."""
    plan = _plan(spark, "hard_negatives_embeddings")
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    assert "CartesianProduct" not in plan


def test_remove_dup_spans_has_no_global_sort_or_product(spark):
    """Span removal's stitch is a map-side array projection over the
    doc's token array (r12): the plan must contain no unpartitioned
    window/global sort and no join without keys — every exchange is
    either hash-keyed (gram hash or doc id) or the single deliberate
    round-robin spread of the single-file scan (ensure_parallelism)."""
    plan = _plan(spark, "remove_dup_spans_documents")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan  # stitch is an array projection, not a window
    import re

    kinds = [
        m.group(1).lower()
        for m in re.finditer(r"(?<!Broadcast)Exchange (\w+)", plan)
    ]
    assert all(
        k in ("hashpartitioning", "roundrobinpartitioning") for k in kinds
    ), kinds
    # round-robin = the input spread only; the static pre-AQE plan prints
    # it once per branch that references the scan (AQE dedups at runtime)
    assert kinds.count("roundrobinpartitioning") <= 3, kinds


def test_oov_vocab_topk_is_takeordered(spark):
    plan = _plan(spark, "oov_rate_by_source")
    assert "TakeOrderedAndProject" in plan
    # the old shape ranked the token-type frame through a global window
    assert "row_number" not in plan.lower()


@pytest.mark.parametrize(
    "name",
    [
        "pareto_users_events",
        "vocab_coverage_documents",
        "peak_concurrency_daily",
        # r05: AUC's distinct-score ranking and the equi-depth boundary
        # cumulative both ride the same operator
        "auc_score_events",
        "equidepth_bounds_events",
    ],
)
def test_cumulative_queries_use_partition_offset_pattern(spark, name):
    """Global rank+cumsum must run as the two-pass bucket-offset
    pattern (operators/cumulative.py): data-derived range buckets feed
    ≤P parallel per-bucket windows; the only unpartitioned window is
    over the ≤P-row per-bucket summary frame (bounded by bucket count,
    not the data)."""
    df = REGISTRY[name].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__cum_bid" in plan
    import re

    # `Window [exprs], [second]` prints the partition spec as the second
    # bracket when one exists, else the ORDER spec (recognizable by its
    # ASC/DESC sort directions). A window is an offense only when it is
    # genuinely unpartitioned AND not the bounded __cum_bid offset frame
    # — key-partitioned windows (e.g. per-user sessionization feeding the
    # cumulative) are scale-safe and allowed.
    for m in re.finditer(r"Window \[(.*?)\], \[(.*?)\]", plan):
        spec, second = m.group(0), m.group(1 + 1)
        unpartitioned = not second.strip() or re.search(
            r"\b(ASC|DESC) NULLS", second
        )
        if unpartitioned and "__cum_bid" not in spec:
            raise AssertionError(f"unpartitioned non-offset window: {spec}")


def test_runtime_bloom_filter_fires_in_big_big_regime(spark):
    """runtime_filter_join_revenue is a plain declarative join; at test
    scale Catalyst broadcasts the filtered dim. This pins the 100 TB
    regime instead: with broadcast off and the runtime-filter size
    thresholds scaled to the sandbox (the production defaults — 10 MB
    creation side, 10 GB application-side scan — are exactly what a
    real big-big join clears), the SAME query must pick up an injected
    bloom filter on the fact scan side and still return identical
    rows."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    assert conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    want = sorted(
        map(tuple, REGISTRY["runtime_filter_join_revenue"].spark(spark, SF_DIR).collect())
    )
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        df = REGISTRY["runtime_filter_join_revenue"].spark(spark, SF_DIR)
        got = sorted(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), "bloom filter not injected"
        assert got == want
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_aqe_splits_skewed_join(spark):
    """aqe_skew_join_events is a naive equi-join over a 70%-hot key; with
    the skew thresholds scaled to the sandbox (production defaults —
    256 MB/partition — are what a real hot partition clears), AQE must
    mark the join skew=true, read the hot partition as skewed sub-reads,
    and return identical rows to the unsplit run."""
    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: conf.get(k) for k in keys}
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    want = sorted(
        map(tuple, REGISTRY["aqe_skew_join_events"].spark(spark, SF_DIR).collect())
    )
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB"
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        df = REGISTRY["aqe_skew_join_events"].spark(spark, SF_DIR)
        got = sorted(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not mark the join skewed"
        assert "AQEShuffleRead skewed" in plan, "hot partition not sub-read"
        assert got == want
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_nested_struct_scan_prunes_to_leaf(spark):
    """nested_prune_events touches only ctx.k of a 3-leaf struct; the
    parquet scan's ReadSchema must shrink to struct<k> — the fat
    payload/trace leaves never reach the reader (nested schema pruning,
    the wide-struct IO lever at 100 TB)."""
    df = REGISTRY["nested_prune_events"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"ReadSchema: (struct<ctx:[^\n]*)", plan)
    assert m, f"no struct scan found:\n{plan[:1500]}"
    schema = m.group(1)
    assert "k:bigint" in schema, schema
    assert "payload" not in schema and "trace" not in schema, (
        f"fat leaves not pruned from scan: {schema}"
    )


def test_gram_matrix_single_shuffle(spark):
    """gram_matrix_embeddings: the only exchange is the d^2-row partial
    fold — the corpus-sized scan feeds mapInPandas with NO prior
    shuffle, so the Gram computation is a pure map-side reduction."""
    plan = _plan(spark, "gram_matrix_embeddings")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "MapInPandas" in plan
    # map-side combine of the partials before the tiny shuffle
    assert plan.count("HashAggregate") >= 2


def test_prefix_filter_reuses_shingle_exchange(spark):
    """prefix_filter_jaccard_pairs fans the distinct (doc_id, shingle)
    frame into five consumers (sizes, dfs, prefix, two overlap probes);
    the final adaptive plan must dedupe that subtree via exchange reuse
    rather than re-scanning documents per consumer."""
    plan = _final_plan(spark, "prefix_filter_jaccard_pairs")
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_seasonal_anomalies_two_shuffles(spark):
    """seasonal_anomalies_events: one data-sized rollup shuffle plus one
    bounded slot-window repartition — nothing else."""
    plan = _plan(spark, "seasonal_anomalies_events")
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_calibration_minmax_reuses_scan(spark):
    """brier_ece/calibration: the global min-max 1-row frame is a
    re-aggregate of the same labeled scan — the final adaptive plan
    must dedupe it via exchange/stage reuse, not scan events twice."""
    for name in ("brier_ece_events", "calibration_bins_events"):
        plan = _final_plan(spark, name)
        # the labeled scan + the 1-column min-max scan; never a third
        assert plan.count("FileScan") <= 2, (name, plan)
        assert "CartesianProduct" not in plan
    # brier additionally folds its per-bin and per-corpus reductions
    # over the SAME cell exchange — reuse must fire
    assert "ReusedExchange" in _final_plan(spark, "brier_ece_events")


def test_ivf_audit_assignment_is_shuffle_lean(spark):
    """ivf_cell_balance_audit: cell assignment is a zero-shuffle argmax
    projection; the whole audit needs only the 16-cell count shuffle
    plus bounded 1-row/cell-list exchanges — no data-sized join."""
    plan = _plan(spark, "ivf_cell_balance_audit")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_hll_union_is_register_sized(spark):
    """hll_union_users_events: the only data-sized shuffles are the
    register extraction and the exact-reference count-distinct audit;
    the union merge and the estimate run over <= 6*256 register rows —
    no cartesian, no data-sized sort-merge join (the 6-row est<->exact
    join must broadcast)."""
    plan = _plan(spark, "hll_union_users_events")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    # register groupBy must be map-side combinable (partial_max present)
    assert "partial_max" in plan, plan


def test_cms_is_single_keyed_pass(spark):
    """cms_user_counts_events (review r05): the unified explode puts
    every consumer above ONE keyed-aggregate exchange — the final
    adaptive plan must scan events once and dedupe the keyed shuffle
    via exchange/stage reuse."""
    plan = _final_plan(spark, "cms_user_counts_events")
    assert plan.count("FileScan") <= 1, plan
    assert "ReusedExchange" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        # docstring claims "zero shuffles" for both media legs — gate it
        "multimodal_audio_frames",
        "multimodal_resize_documents",
    ],
)
def test_media_legs_are_shuffle_free(spark, name):
    """No KEY shuffle anywhere — the single allowed exchange is
    ensure_parallelism's round-robin rebalance of the single-file
    input (data-balancing, not data movement by key)."""
    plan = _plan(spark, name)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_hll_rollup_state_sized_merge(spark):
    """hll_rollup_daily_users: after register extraction (1 data-sized
    shuffle) everything runs over calendar-sized state — the plan may
    shuffle registers/spine/audit keys but never cartesian, and the
    7-offset spine join must broadcast."""
    plan = _plan(spark, "hll_rollup_daily_users")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_deletion_cascade_single_pass_per_table(spark):
    """deletion_cascade_customers: each fact table scans exactly once —
    total and affected counted in the same pass via the key-only left
    join; no cartesian anywhere."""
    plan = _final_plan(spark, "deletion_cascade_customers")
    assert "CartesianProduct" not in plan
    for t in ("customer", "orders", "lineitem"):
        n = plan.count(f"{t}.parquet")
        assert n <= 2, (t, n)  # scan + (cohort/key re-read at most)


def test_cusum_windows_are_type_partitioned(spark):
    """cusum_changepoint_events: every window frame is partitioned by
    event_type over the calendar-bounded day series — no global window
    anywhere in the plan."""
    import re

    plan = _plan(spark, "cusum_changepoint_events")
    for m in re.finditer(r"Window \[(.*?)\], \[(.*?)\]", plan):
        second = m.group(2)
        unpartitioned = not second.strip() or re.search(
            r"\b(ASC|DESC) NULLS", second
        )
        assert not unpartitioned, m.group(0)


def test_pmi_tokenizes_corpus_once(spark):
    """pmi_bigrams_documents: the pair-counts stage must be built once
    and reused by all four consumers (scored, out/in marginals, total)
    — the corpus text is tokenized in exactly one pass."""
    plan = _final_plan(spark, "pmi_bigrams_documents")
    assert "ReusedExchange" in plan
    assert plan.count("documents.parquet") == 1


def test_ks_drift_scans_events_once(spark):
    """ks_drift_events: the per-value count stage is shared between the
    cumulative path and the totals path via exchange reuse — one events
    scan; the 1-row totals crossJoin broadcasts; both data-sized windows
    partition by the derived bucket id (no single-task global window
    over the distinct-value frame)."""
    plan = _final_plan(spark, "ks_drift_events")
    assert "ReusedExchange" in plan
    assert plan.count("events.parquet") == 1
    assert "CartesianProduct" not in plan
    # every window over the distinct-value frame is bucket-PARTITIONED;
    # the only unpartitioned window is the <=P-row offsets summary,
    # recognizable by ordering on the bucket id ALONE — an unpartitioned
    # window ordering on anything else would be the corpus-sized
    # single-task regression this gate exists for
    for partition, order in _window_groups(plan):
        if partition:
            continue
        assert order.startswith("__cum_bid") and "," not in order, (
            partition,
            order,
        )


def test_dict_audit_scans_each_table_once(spark):
    """dict_encoding_audit: melt-once-per-table — every audited table's
    parquet appears exactly once in the final plan."""
    plan = _final_plan(spark, "dict_encoding_audit")
    for t in ("customer", "documents", "events", "lineitem", "orders", "part"):
        assert plan.count(f"{t}.parquet") == 1, t


def test_qnorm_prunes_text_column(spark):
    """quantile_normalize_sources: only (doc_id, source, n_chars) reach
    the scan — the wide text column must never be read — and the pooled
    rank rides the bucket-offset pattern, not a global window."""
    plan = _final_plan(spark, "quantile_normalize_sources")
    assert "text:string" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["filter_agreement_kappa", "filter_agreement_by_source"]
)
def test_kappa_dual_rater_single_scan(spark, name):
    """Both quality raters (Gopher rules + weighted score) evaluate in
    ONE corpus projection — gopher_verdict carries the score through, so
    the documents scan appears exactly once and no doc_id re-join
    touches the corpus twice."""
    plan = _final_plan(spark, name)
    assert plan.count("documents.parquet") == 1
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name,max_generates",
    [
        ("minhash_near_dups", 2),
        ("ngram_jaccard_near_dups", 4),
        ("containment_pairs_documents", 5),
    ],
)
def test_jaccard_verification_runs_on_set_arrays(spark, name, max_generates):
    """r8 array-set verification: exact Jaccard/containment counts come
    from per-pair ``array_intersect`` over the doc-level set frame, NOT
    from re-joining the exploded (doc, shingle) stream — the explode
    count stays bounded at the blocking arm's share (a regression to
    the exploded verification join would add Generates and a
    (doc, shingle)-keyed shuffle per side)."""
    plan = _final_plan(spark, name)
    assert "array_intersect" in plan
    assert plan.count("Generate") <= max_generates, plan.count("Generate")


@pytest.mark.parametrize(
    "name",
    ["bradley_terry_source_strengths", "preference_cycle_audit"],
)
def test_tournament_plans_are_model_sized(spark, name):
    """The one corpus pass ends in a bounded collect of the
    |sources|²-sized duel table while the frame is built: the result
    plan is a local table, with no parquet scan, no exchange and no
    cartesian join left to run."""
    plan = _plan(spark, name)
    assert "LocalTableScan" in plan
    assert ".parquet" not in plan
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def _window_groups(plan: str) -> list[tuple[str, str]]:
    """(partitionBy, orderBy) bracket groups of every Window node.

    A Window exec line prints as ``Window [functions], [partition],
    [order]`` — or ``Window [functions], [order]`` when unpartitioned
    (the spec alone can't distinguish the two: a PARTITIONED window's
    windowspecdefinition also leads with its partition columns)."""
    import re

    out = []
    for line in plan.splitlines():
        m = re.search(r"\bWindow \[.*?windowspecdefinition.*\]$", line)
        if not m:
            continue
        groups = re.findall(r"\[([^\[\]]*)\]", m.group(0))
        if len(groups) >= 3:
            out.append((groups[-2], groups[-1]))
        elif len(groups) == 2:
            out.append(("", groups[-1]))
    return out


@pytest.mark.parametrize(
    "name,max_scans",
    [
        ("lm_surprisal_by_source", 1),
        ("lm_outlier_docs", 1),
        ("lm_quality_correlation", 3),
        ("source_kl_matrix", 3),
        ("mixture_epochs_plan", 1),
    ],
)
def test_lm_family_scan_budget(spark, name, max_scans):
    """The LM/mixing family's corpus passes are BOUNDED: AQE exchange
    reuse collapses the shared token-count subtrees (the doc6/g6 and
    sc/ll/aa/bb/xx chains would otherwise re-scan per reference), and
    nothing in the family may cartesian-join. A scan-count regression
    here is the family's only way to go super-linear."""
    plan = _final_plan(spark, name)
    assert plan.count("documents.parquet") <= max_scans, plan
    assert "CartesianProduct" not in plan


def test_lm_outliers_use_takeordered(spark):
    """lm_outlier_docs' global top-k must be TakeOrdered over the
    per-doc frame — the rank window runs AFTER the k-row cut, never as
    a corpus-sized single-partition sort."""
    plan = _final_plan(spark, "lm_outlier_docs")
    assert "TakeOrderedAndProject" in plan


def test_lm_surprisal_reuses_token_exchange(spark):
    """doc6 and the g6 baseline both consume the (doc, token) count
    shuffle — reuse, not a second corpus tokenization."""
    plan = _final_plan(spark, "lm_surprisal_by_source")
    assert "ReusedExchange" in plan


def test_lm_chain_reuses_tokenization_stages(spark):
    """The unigram-LM chain consumes its token-count frame from three
    branches (doch, lml, zc). Without the source-side isnotnull(doc_id)
    alignment (r10: a downstream doc-grain join pushes that filter into
    ONE branch, breaking canonical equality), AQE re-tokenized the
    corpus once PER branch — the r9 decade probe's LM cost head. The
    final plan must carry reused stages for the tokc/lm exchanges."""
    for name in ("lm_quality_correlation", "lm_ref_surprisal_by_source"):
        plan = _final_plan(spark, name)
        assert plan.count("ReusedExchange") >= 2, name


def test_pagerank_builds_without_jobs(spark, tables):
    """pagerank_cust_supp is one lazy plan: building it starts no Spark
    job (read from the status tracker under a job group)."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup("test-pagerank-build", "pagerank_cust_supp")
        REGISTRY["pagerank_cust_supp"].spark(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("test-pagerank-build") == []


def test_every_plans_module_imports_first():
    """Any plans module can be the first one a process imports: the
    package imports the registry before it. Each subprocess imports its
    share of the modules in turn, clearing the package from sys.modules
    in between (four at once: every import runs the whole registry)."""
    import subprocess
    import sys
    from pathlib import Path

    import qa_data_pipeline_rag_llm_spark.plans as plans

    script = (
        "import importlib, sys\n"
        "pkg = 'qa_data_pipeline_rag_llm_spark.plans'\n"
        "for name in sys.argv[1:]:\n"
        "    for m in [m for m in sys.modules if m.startswith(pkg)]:\n"
        "        del sys.modules[m]\n"
        "    try:\n"
        "        importlib.import_module(f'{pkg}.{name}')\n"
        "    except ImportError as e:\n"
        "        print(f'{name}: {e}')\n"
    )
    names = sorted(
        p.stem for p in Path(plans.__file__).parent.glob("*.py")
        if p.stem != "__init__"
    )
    root = Path(plans.__file__).parents[2]
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, *names[i::4]],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            cwd=root,
        )
        for i in range(4)
    ]
    failed = []
    for proc in procs:
        out, err = proc.communicate(timeout=600)
        assert proc.returncode == 0, err[-2000:]
        failed += out.splitlines()
    assert not failed, failed
