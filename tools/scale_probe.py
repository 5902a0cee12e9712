"""Scale probe: replicate the sf0.1 tables ~10x with consistent key
offsets (≈sf1: 6M lineitem rows) into a scratch dir, then time headline
queries there. Extends the measured scaling curve one decade beyond the
driver's bench — evidence for the plans' data-dependent growth rate.

Usage: python tools/scale_probe.py [--gen] [--replicas=N] [out_dir]

``--replicas=100`` generates the SECOND decade (~sf10: 60M lineitem,
50k docs) — VERDICT r08 ask #4's separator between "per-stage overhead
still amortizing" and a real super-linear term.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bench import headline  # noqa: E402
from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY  # noqa: E402
from qa_data_pipeline_rag_llm_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
REPLICAS = 10
OFF = 100_000_000  # key offset per replica — far above any base key

PROBE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "topk_orders_per_customer",
    "minhash_signatures_documents",
    "text_stats_documents",
    "cosine_topk_embeddings",
    "sessionize_events",
    "corpus_prep_pipeline",
    # r03 additions: the de-single-partitioned shapes — these are the
    # queries whose scaling the round-2 verdict flagged; the probe now
    # evidences the fix one decade up
    "hybrid_rrf_retrieval",
    "pareto_users_events",
    "vocab_coverage_documents",
    "decile_stats_approx",
    "pack_documents_sharded",
    # r03: the heaviest new contribution/cleaning op — coverage explode +
    # per-doc stitch must stay linear one decade up
    "remove_dup_spans_documents",
    # r03 session 2: history/eval layers — SCD2 build + tail-only merge
    # (key-partitioned windows), boundary-sweep concurrency (partition-
    # offset cumsum), and both ranker evals (salted cosine two-phase
    # top-k + TakeOrdered BM25 arm)
    "scd2_user_state_events",
    "incremental_scd2_merge_events",
    "peak_concurrency_daily",
    "retrieval_eval_bm25",
    "retrieval_eval_cosine",
    # r04: scalar-threshold queries rebuilt from single-task windows to
    # broadcast re-aggregates with exchange reuse — probe proves the
    # reuse (not a second fact scan) holds one decade up
    "q11_important_parts",
    "q15_top_supplier",
    # r05 (VERDICT r04 #5): the physical-layout levers — runtime bloom
    # join, dynamic partition pruning, bucketed exchange-free join —
    # timed one decade up; prune/selectivity ratios measured separately
    # by physical_levers() below
    "runtime_filter_join_revenue",
    "dpp_pruned_daily_events",
    "bucketed_join_order_lines",
    # r05 session 2: table-maintenance family — the compaction planner's
    # metadata window, PSI's exchange-reused totals, the CDC merge's
    # single key shuffle, and the map-only MG sketch must all stay
    # linear-in-bytes one decade up
    "compaction_plan_orders",
    "psi_drift_events",
    "cdc_versioned_merge_orders",
    "heavy_hitters_events",
    "cuped_ab_events",
    "decayed_leaderboard_events",
    # r05 session 3: linalg/similarity/seasonal — the Gram fold's shuffle
    # is O(batches x d^2) so its decade growth should track scan bytes;
    # the prefix-filter join's candidate stage must not go quadratic on
    # the replicated corpus; the seasonal rollup is one data-sized shuffle
    "gram_matrix_embeddings",
    "prefix_filter_jaccard_pairs",
    "seasonal_anomalies_events",
    # r05 session 4: maintenance/audit batch — the IVF audit's argmax
    # projection must stay zero-shuffle, the Zipf fit's corpus work is
    # one (source, token) shuffle (the per-source regression frame is
    # capped at ZIPF_K rows), the l-diversity gate is two partial aggs
    "ivf_cell_balance_audit",
    "zipf_slope_by_source",
    "l_diversity_customers",
    # r05 session 4b: scoring family — AUC's distinct-score ranking
    # must stay bucket-offset (no single-task window), the calibration
    # pair is one 10-group shuffle + broadcast min-max, chi2's top-k
    # is salted; all should track scan bytes one decade up
    "auc_score_events",
    "brier_ece_events",
    "chi2_tokens_by_source",
    # r05 session 4c: robust/planning — CUSUM's windows run over the
    # calendar-bounded day series, the trimmed mean and equi-depth
    # bounds over the distinct-cent frame (bucket-offset cumsum for
    # the global one); all should be flat-to-linear one decade up
    "cusum_changepoint_events",
    "trimmed_mean_events",
    "equidepth_bounds_events",
    # r05 session 5: mergeable summaries — the HLL's data-sized work is
    # one map-side-combinable register shuffle (plus the exact audit
    # count-distinct); the reservoir's corpus work is the salted local
    # rank, with only k·salts rows surviving to phase 2
    "hll_union_users_events",
    "weighted_reservoir_documents",
    # r05 session 5b: streaming register maintenance (state is 256
    # longs — decade growth should be scan-bound), the deletion
    # cascade's key-only joins, and the sketch-space overlap (register
    # shuffle + vocabulary-sized exact audit)
    "streaming_hll_users",
    "deletion_cascade_customers",
    "hll_vocab_overlap_by_source",
    "hll_rollup_daily_users",
    "cms_user_counts_events",
    "cbo_stats_join_keys",
    "multimodal_audio_frames",
    "multimodal_resize_documents",
    "bloom_membership_customers",
    # r06: tokenizer training — the corpus pass collapses to the word-type
    # vocabulary, so the K-merge loop must be ~flat one decade up; the
    # split-leakage audit must track its input pair stream, not exceed it
    "bpe_learn_merges_documents",
    "split_leakage_audit_documents",
    # r06: the mergeable quantile sketch — 256-long state, so growth must
    # track the bounds/bin scans only
    "quantile_sketch_events",
    "streaming_quantile_sketch_events",
    # r06 (VERDICT r05 #5): complete the 17-query headline bench set so
    # EVERY bench row has its own decade slope — a plan regression then
    # shows up as a slope change, not bench noise. (The other nine
    # headliners are already probed above.)
    "q5_nation_revenue",
    "order_line_ids",
    "qa_pipeline_docs",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q13_customer_distribution",
    "asof_click_before_purchase",
    "chunk_documents",
    # r07: monitoring family — the KS cumulative counts must stay
    # bucket-offset (no single-task window) over the distinct-value
    # frame; PMI is two token-keyed aggs; the encoding audit is one
    # column-pruned scan per column; quantile normalization is one
    # rank_cumsum pass + a rank-keyed join
    "ks_drift_events",
    "pmi_bigrams_documents",
    "dict_encoding_audit",
    "quantile_normalize_sources",
    # r08: label/preference-quality family — one corpus pass each to
    # (lang, source)/(source) grain, then |sources|²-bounded math
    "filter_agreement_kappa",
    "bradley_terry_source_strengths",
    "preference_cycle_audit",
    # r09: LM-perplexity filter + mixing plan — token-keyed shuffles
    # must track scan bytes; the KL cross sum is vocabulary-sized
    "lm_surprisal_by_source",
    "lm_quality_correlation",
    "source_kl_matrix",
    "mixture_epochs_plan",
    "lm_ref_surprisal_by_source",
]


# table -> columns to offset per replica
OFFSETS = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey"},
    "orders": {"o_orderkey", "o_custkey"},
    "lineitem": {"l_orderkey", "l_partkey", "l_suppkey"},
    "part": {"p_partkey"},
    "supplier": {"s_suppkey"},
    "events": {"event_id", "user_id"},
    "documents": {"doc_id"},
    "embeddings": {"vec_id"},
}


def generate(spark, out_dir: str, replicas: int = REPLICAS) -> None:
    from qa_data_pipeline_rag_llm_spark.catalog import load_table

    for t, keys in OFFSETS.items():
        base = load_table(spark, SRC, t)
        if not keys:  # shared dims
            reps = base
        else:
            parts = []
            for i in range(replicas):
                r = base
                for k in keys:
                    r = r.withColumn(k, F.col(k) + F.lit(i * OFF))
                if t == "documents" and i > 0:
                    # perturb text so replicas aren't verbatim dups (keeps
                    # dedup candidate generation non-degenerate); preserve
                    # NULL text — concat_ws would swallow it
                    r = r.withColumn(
                        "text",
                        F.when(
                            F.col("text").isNull(), F.lit(None)
                        ).otherwise(
                            F.concat_ws(" ", "text", F.lit(f"r{i}"))
                        ),
                    )
                parts.append(r)
            reps = parts[0]
            for p in parts[1:]:
                reps = reps.unionByName(p)
        reps.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"wrote {t}", flush=True)
    # the synthesized partsupp twin (VERDICT r09 ask #8) at probe scale,
    # derived from the replicated part/supplier tables just written —
    # lights up the TRUE q2/q11/q16/q20 shapes beyond the sf0.001 goldens
    from qa_data_pipeline_rag_llm_spark.plans.partsupp_shapes import (
        synth_partsupp,
    )

    synth_partsupp(spark, out_dir).write.mode("overwrite").parquet(
        f"{out_dir}/partsupp.parquet"
    )
    print("wrote partsupp", flush=True)


def _iter_plan_nodes(jnode):
    """Walk an executed plan across AQE stage boundaries (same helper as
    tests/test_plans.py — duplicated so the tool stays standalone)."""
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


def physical_levers(spark, sf_dir: str) -> dict:
    """Measured (not asserted) evidence for the r04 physical-layer
    queries at this scale:

      * dpp:   partitions actually read vs partitions on disk — the
               fact-scan metric, so the ratio is the real IO saved;
      * bloom: probe-side rows surviving the injected
               BloomFilterMightContain vs rows scanned — the shuffle
               rows the runtime filter deleted (measured under the
               lowered thresholds the plan gate uses, since at local
               data sizes the 10 GB default never arms);
      * bucketed: exchange count in the final adaptive join plan (must
               be 0 at every scale — the whole point of the layout).
    """
    import glob

    from qa_data_pipeline_rag_llm_spark.plans.queries_scale import _dpp_paths

    out: dict = {}

    # --- DPP: partitions read / partitions on disk
    df = REGISTRY["dpp_pruned_daily_events"].spark(spark, sf_dir)
    df.collect()
    fact_path, _ = _dpp_paths(sf_dir)
    total = len(glob.glob(f"{fact_path}/d=*"))
    read = max(
        int(n.metrics().apply("numPartitions").value())
        for n in _iter_plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and n.metrics().contains("numPartitions")
    )
    out["dpp"] = {
        "parts_total": total,
        "parts_read": read,
        "read_ratio": round(read / total, 4) if total else None,
    }

    # --- Bloom: probe rows killed before the shuffle
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = REGISTRY["runtime_filter_join_revenue"].spark(spark, sf_dir)
        df.collect()
        scan_rows = bloom_out = None
        for n in _iter_plan_nodes(df._jdf.queryExecution().executedPlan()):
            cls = n.getClass().getSimpleName()
            if cls == "FilterExec" and "might_contain" in n.toString().lower():
                bloom_out = int(n.metrics().apply("numOutputRows").value())
                # the filter's child subtree holds the probe-side scan
                scans = [
                    int(c.metrics().apply("numOutputRows").value())
                    for c in _iter_plan_nodes(n)
                    if c.getClass().getSimpleName() == "FileSourceScanExec"
                ]
                scan_rows = max(scans) if scans else None
                break
        out["bloom"] = {
            "probe_rows_scanned": scan_rows,
            "rows_after_bloom": bloom_out,
            "selectivity": (
                round(bloom_out / scan_rows, 4)
                if scan_rows and bloom_out is not None
                else None
            ),
        }
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # --- Bucketed: the join stays exchange-free
    df = REGISTRY["bucketed_join_order_lines"].spark(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange ") - plan.count("BroadcastExchange ")
    # one Exchange belongs to the final groupBy, not the join — count
    # exchanges UNDER the SortMergeJoin instead
    smj_exchanges = 0
    for n in _iter_plan_nodes(df._jdf.queryExecution().executedPlan()):
        if n.getClass().getSimpleName() == "SortMergeJoinExec":
            smj_exchanges = sum(
                1
                for c in _iter_plan_nodes(n)
                if "ShuffleExchange" in c.getClass().getSimpleName()
            )
            break
    out["bucketed"] = {
        "join_side_exchanges": smj_exchanges,
        "total_shuffle_exchanges": n_exchange,
    }
    return out


def main() -> None:
    positional = [a for a in sys.argv[1:] if not a.startswith("-")]
    out_dir = positional[0] if positional else "/tmp/sfsynth1"
    only = [
        a.split("=", 1)[1].split(",")
        for a in sys.argv[1:]
        if a.startswith("--only=")
    ]
    # --headline probes exactly bench.py's headline set, at any sf dir, so
    # the decade table in SCALING.md regenerates in one command per scale
    pool = headline() if "--headline" in sys.argv else PROBE
    probe = [n for n in pool if not only or n in only[0]]
    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    replicas = next(
        (
            int(a.split("=", 1)[1])
            for a in sys.argv[1:]
            if a.startswith("--replicas=")
        ),
        REPLICAS,
    )
    if "--gen" in sys.argv:
        generate(spark, out_dir, replicas)

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    timings = {}
    for name in probe:
        spec = REGISTRY[name]
        run(spec.spark(spark, out_dir))  # warm
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            run(spec.spark(spark, out_dir))
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)
        print(name, timings[name], flush=True)
    levers = (
        None if "--no-levers" in sys.argv else physical_levers(spark, out_dir)
    )
    print(json.dumps({"sf": out_dir, "queries": timings,
                      "physical_levers": levers,
                      "total": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()
