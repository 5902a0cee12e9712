"""No registry query may leak cached blocks into a long-lived session
(VERDICT r02 #9): a lazily-returned DataFrame can never unpersist, so
persist() is only legal inside a query when a try/finally releases it
before return."""

from __future__ import annotations

from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY
from tests.conftest import SF_DIR

# every query that historically persisted or checkpointed inside its
# build (pagerank did both until it became one lazy plan)
_FORMERLY_LEAKY = [
    "oov_rate_by_source",
    "label_centroid_distances",
    "silhouette_by_label",
    "pagerank_cust_supp",
    "kmeans_fixedpoint_embeddings",
]


def _cached_rdd_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    it = m.keySet().iterator()
    out = set()
    while it.hasNext():
        out.add(int(str(it.next())))
    return out


def _drain(spark, target_ids: set[int], deadline_s: float) -> set[int]:
    """Poke GC until every id in target_ids is gone or the deadline
    passes; returns the ids still cached.

    The listener bus must drain FIRST: a backlogged
    SparkListenerSQLExecutionEnd event strongly holds its
    QueryExecution (non-serialized ``qe`` field) → physical plan →
    checkpointed RDD, so under full-suite load (thousands of queued
    events from test_oracle's ~245 queries) System.gc() can never
    enqueue the weak reference the ContextCleaner waits on. This was
    the r4 flake: kmeans' checkpoint block survived 180 s of GC pokes
    in-suite yet drained instantly in isolation."""
    import gc
    import time

    deadline = time.time() + deadline_s
    left = _cached_rdd_ids(spark) & target_ids
    while left and time.time() < deadline:
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            pass  # bus drain is best-effort; GC pokes still run
        gc.collect()  # free the py4j refs → JVM weak refs → ContextCleaner
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        left = _cached_rdd_ids(spark) & target_ids
    return left


def test_registry_queries_leave_no_cached_rdds(spark):
    """persist() leaks live forever; localCheckpoint blocks (kmeans
    results) are released by the ContextCleaner once the result
    DataFrame is dropped — so the real-session contract is: after the
    consumer lets go of the result, the cache drains to baseline.

    Attribution (VERDICT r04 #4): RDD ids are snapshotted around EACH
    query, each query gets its own drain window, and only ids introduced
    by a query count against it — so a failure names the leaking query,
    and blocks left behind by earlier tests (the async-ContextCleaner
    flake) can never fail the gate."""
    from qa_data_pipeline_rag_llm_spark import catalog

    # another test may have turned on the engine's deliberate table
    # cache (enable_table_persist) — pin it off so the sweep measures
    # query-internal leaks, not the shared-table memo
    prior = catalog._PERSIST
    catalog.enable_table_persist(False)
    try:
        undrained: dict[str, set[int]] = {}
        for name in _FORMERLY_LEAKY:
            before = _cached_rdd_ids(spark)
            df = REGISTRY[name].spark(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            del df
            introduced = _cached_rdd_ids(spark) - before
            left = _drain(spark, introduced, deadline_s=60)
            if left:
                undrained[name] = left
        # one final global pass: under suite load a single 60 s window
        # can miss a slow cleaner cycle; the union gets a second chance
        if undrained:
            leftover = _drain(
                spark, set().union(*undrained.values()), deadline_s=120
            )
            undrained = {
                n: ids & leftover
                for n, ids in undrained.items()
                if ids & leftover
            }
    finally:
        catalog.enable_table_persist(prior)
    assert not undrained, (
        f"queries leaked cached RDD blocks (query -> rdd ids): {undrained}"
    )


def test_no_unreleased_persist_in_query_modules():
    """Static gate: any persist() in plans/ must sit in a function that
    also unpersists (the localCheckpoint-then-release pattern)."""
    import ast
    import pathlib

    plans = pathlib.Path(__file__).parents[1] / (
        "qa_data_pipeline_rag_llm_spark/plans"
    )
    offenders = []
    for path in sorted(plans.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            src = ast.unparse(node)
            if ".persist()" in src and ".unpersist()" not in src:
                offenders.append(f"{path.name}:{node.name}")
    assert not offenders, f"persist() without unpersist(): {offenders}"
