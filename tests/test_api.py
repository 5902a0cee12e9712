"""Facade tests: the reference user's three entry points through api.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark import api
from qa_data_pipeline_rag_llm_spark.functions.llm import MODEL_TAG


def test_retrieve_parameterized_vector(spark, tables):
    emb = tables["embeddings"]
    qvec = emb.filter(F.col("vec_id") == 7).first().embedding
    out = api.retrieve(emb, list(qvec), k=3).collect()
    assert len(out) == 3
    assert [r.rank for r in out] == [1, 2, 3]
    # an EXTERNAL query vector excludes nothing: probing with vec 7's own
    # embedding must return vec 7 itself at rank 1 with sim 1.0
    assert out[0].vec_id == 7 and out[0].sim == 1.0
    assert out[0].sim >= out[1].sim >= out[2].sim


def test_ask_end_to_end_deterministic(spark, tables):
    row = api.ask(
        spark, "how do spark joins work?", tables["documents"], k=3
    ).first()
    assert row.n_docs == 3
    assert row.answer.startswith(MODEL_TAG)
    assert row.prompt_chars > len("Answer from context.")
    # deterministic under the fake backends: identical on re-run
    again = api.ask(
        spark, "how do spark joins work?", tables["documents"], k=3
    ).first()
    assert row == again


def test_pipeline_stage_reexports_compose(spark, tables):
    """clean → rank → join spine composes from the facade names."""
    d = tables["documents"]
    comments = d.select(
        F.col("doc_id").alias("id_comment"),
        (F.col("doc_id") % 50).alias("parent_post_id"),
        F.col("n_chars").alias("score"),
    )
    top = api.top_k_per_group(
        comments,
        group_by=["parent_post_id"],
        order_by=[F.col("score").desc(), F.col("id_comment")],
        k=5,
    )
    assert top.groupBy("parent_post_id").count().agg(F.max("count")).first()[0] <= 5
    posts = d.select(F.col("doc_id").alias("id_post")).filter(F.col("id_post") < 50)
    enriched = api.enrich_with_child_ids(
        posts,
        top,
        parent_key="id_post",
        child_fk="parent_post_id",
        child_id="id_comment",
    )
    assert enriched.count() == posts.count()


def test_api_approx_distinct_matches_registry(spark, tables):
    """The facade must reproduce the registry query's math exactly:
    per-type estimates equal hll_union_users_events' rows."""
    from pyspark.sql import functions as F

    from qa_data_pipeline_rag_llm_spark import api
    from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY
    from tests.conftest import SF_DIR

    got = {
        r.event_type: round(r.est, 4)
        for r in api.approx_distinct(
            tables["events"], "user_id", by=["event_type"]
        ).collect()
    }
    want = {
        r.scope: r.est_users
        for r in REGISTRY["hll_union_users_events"]
        .spark(spark, SF_DIR)
        .collect()
        if r.scope != "ALL"
    }
    assert got == want


def test_api_weighted_sample_matches_registry(spark, tables):
    """Facade reservoir == registry reservoir on documents."""
    from qa_data_pipeline_rag_llm_spark import api
    from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY
    from tests.conftest import SF_DIR

    got = sorted(
        (r.source, r.rank, r.doc_id)
        for r in api.weighted_sample(
            tables["documents"].select("doc_id", "source", "n_chars"),
            "n_chars",
            20,
            "source",
        ).collect()
    )
    want = sorted(
        (r.source, r.rank, r.doc_id)
        for r in REGISTRY["weighted_reservoir_documents"]
        .spark(spark, SF_DIR)
        .collect()
    )
    assert got == want


def test_api_weighted_sample_rejects_non_unique_positional_key(spark, tables):
    """ADVICE r05 (api.py:180): an unvalidated positional key with
    duplicates silently correlates selection probabilities — the facade
    must raise, and an explicit key_col must be accepted (and checked
    for existence)."""
    import pytest

    from qa_data_pipeline_rag_llm_spark import api

    docs = tables["documents"].select("source", "doc_id", "n_chars")
    with pytest.raises(ValueError, match="not unique"):
        api.weighted_sample(docs, "n_chars", 5, "source")
    # explicit unique key: fine, even though column 0 is non-unique
    out = api.weighted_sample(docs, "n_chars", 5, "source", key_col="doc_id")
    assert out.count() > 0
    with pytest.raises(ValueError, match="not in"):
        api.weighted_sample(docs, "n_chars", 5, "source", key_col="nope")


def test_api_weighted_sample_validate_false_stays_lazy(spark, tables):
    """ADVICE r06 (api.py): validate=False restores single-scan laziness —
    the call must not run any Spark job (the uniqueness check is the only
    eager step) and must not raise on a non-unique positional key."""
    from qa_data_pipeline_rag_llm_spark import api

    docs = tables["documents"].select("source", "doc_id", "n_chars")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = api.weighted_sample(docs, "n_chars", 5, "source", validate=False)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "validate=False still launched an eager job"
    assert out.count() > 0  # plan executes fine when finally acted on


def test_curate_facade_rules_and_prune(spark):
    """api.curate on an arbitrary frame: the Gopher gate drops junk, the
    near-dup prune keeps exactly the min-id doc per duplicate cluster,
    and reasons label the first failing gate."""
    from qa_data_pipeline_rag_llm_spark import api

    clean = (
        "the quick brown fox jumps over a lazy dog and runs home with "
        "its friends to share some food after the long day of running "
        "around the field"
    )
    near_dup = clean + " tonight"
    rows = [
        (1, clean),       # keep: passes rules, min id of its cluster
        (2, near_dup),    # near_dup: same cluster as 1, higher id
        (3, "zz qq"),     # quality: too short for the Gopher band
        (4, "completely different words about parquet shuffles joins "
            "and the many window functions that a query engine runs "
            "for analytics workloads every single day of the week"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in api.curate(df).collect()}
    assert out[1].keep and out[1].reason == "keep"
    assert not out[2].keep and out[2].reason == "near_dup"
    assert out[2].cluster_id == 1 and out[1].dedup_kept
    assert not out[3].keep and out[3].reason == "quality"
    assert out[4].keep  # unique + clean -> its own cluster


def test_curate_survivor_is_min_rule_passing_member(spark):
    """Advice r09: when a duplicate cluster's min-id copy FAILS the
    Gopher gate but a higher-id copy passes, the passing copy must be
    the dedup survivor — the cluster's content is recoverable and must
    not vanish with the junk copy."""
    from qa_data_pipeline_rag_llm_spark import api

    clean = (
        "the quick brown fox jumps over a lazy dog and runs home with "
        "its friends to share some food after the long day of running "
        "around the field"
    )
    # near-dup of `clean` whose symbol tail pushes symbol_frac over the
    # Gopher band -> rule_keep False, but still clusters with clean
    junk_dup = clean + " @@@@@@@@@@@@@@@@@@@@@@@@@@"
    rows = [(1, junk_dup), (2, clean)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in api.curate(df).collect()}
    assert out[1].cluster_id == out[2].cluster_id  # they did cluster
    assert not out[1].rule_keep and out[1].reason == "quality"
    assert out[2].rule_keep and out[2].dedup_kept
    assert out[2].keep and out[2].reason == "keep"
    # all-failing cluster: falls back to global min, nothing 'near_dup'
    rows2 = [(1, junk_dup), (2, junk_dup + " extra")]
    out2 = {r.doc_id: r for r in api.curate(
        spark.createDataFrame(rows2, "doc_id long, text string")
    ).collect()}
    assert not out2[1].keep and out2[1].reason == "quality"
    assert not out2[2].keep and out2[2].reason in ("quality",)
    assert out2[1].dedup_kept  # the fallback survivor


def test_curate_validate_rejects_duplicate_ids(spark, monkeypatch):
    """Duplicate ids raise at call time on the driver finish (bound
    10**6) and on the distributed plan (bound -1); two NULL ids count as
    a duplicate, as the distributed guard's groupBy counts them."""
    from qa_data_pipeline_rag_llm_spark import api
    from qa_data_pipeline_rag_llm_spark.operators import graph

    for bound in (-1, 10**6):
        monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", bound)
        for rows in (
            [(1, "a b c"), (1, "a b c")],
            [(1, _CLEAN), (1, _OTHER)],
            [(None, _CLEAN), (None, _OTHER)],
        ):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            with pytest.raises(ValueError, match="duplicate rows"):
                api.curate(df)


_CLEAN = (
    "the quick brown fox jumps over a lazy dog and runs home with "
    "its friends to share some food after the long day of running "
    "around the field"
)
_OTHER = (
    "completely different words about parquet shuffles joins and the "
    "many window functions that a query engine runs for analytics "
    "workloads every single day of the week"
)
# clusters with _CLEAN, but its symbol tail fails the Gopher gate
_JUNK = _CLEAN + " @@@@@@@@@@@@@@@@@@@@@@@@@@"
_CURATE_CASES = {
    # name: (id type, rows, curate kwargs, {doc_id: (cluster_id, reason)})
    "int_ids": (
        "long",
        [(1, _CLEAN), (2, _CLEAN + " tonight"), (3, "zz qq"), (4, _OTHER),
         (5, None)],
        {},
        {1: (1, "keep"), 2: (1, "near_dup"), 3: (3, "quality"),
         4: (4, "keep"), 5: (5, "quality")},
    ),
    # "B" < "a" < "b" in Spark's binary string order
    "string_ids": (
        "string",
        [("b", _CLEAN), ("a", _CLEAN + " tonight"), ("B", _CLEAN + " again"),
         ("zz", "zz qq"), ("c", _OTHER)],
        {},
        {"B": ("B", "keep"), "a": ("B", "near_dup"), "b": ("B", "near_dup"),
         "zz": ("zz", "quality"), "c": ("c", "keep")},
    ),
    "min_id_fails_gate": (
        "long",
        [(1, _JUNK), (2, _CLEAN), (3, _OTHER)],
        {},
        {1: (1, "quality"), 2: (1, "keep"), 3: (3, "keep")},
    ),
    "all_members_fail_gate": (
        "long",
        [(1, _JUNK), (2, _JUNK + " extra")],
        {},
        {1: (1, "quality"), 2: (1, "quality")},
    ),
    # a NULL id is no document: no verdict, and no pair with its twin
    "null_id": (
        "long",
        [(None, _CLEAN), (1, _CLEAN), (2, _OTHER)],
        {},
        {1: (1, "keep"), 2: (2, "keep")},
    ),
    "zero_rows": ("long", [], {}, {}),
    "one_row": ("long", [(1, _CLEAN)], {}, {1: (1, "keep")}),
    "hub_of_identical_texts": (
        "long",
        [(i, _CLEAN) for i in (17, 11, 15, 12, 19, 13)]
        + [(14, _CLEAN + " tonight"), (20, _OTHER)],
        {},
        {11: (11, "keep"), 20: (20, "keep"),
         **{i: (11, "near_dup") for i in (12, 13, 14, 15, 17, 19)}},
    ),
    # 1 and 2 share 2 of 4 distinct shingles: Jaccard exactly 0.5, kept
    # at threshold 0.5; 3 and 4 share 3 of 7 (0.43). One-slot bands make
    # the 0.5 pair a candidate. Five words fail the Gopher length gate.
    "jaccard_at_threshold": (
        "long",
        [(1, "alpha beta gamma delta epsilon"),
         (2, "beta gamma delta epsilon zeta"),
         (3, "one two three four five six"),
         (4, "two three four five six seven eight nine")],
        {"num_perm": 16, "bands": 16, "jaccard_threshold": 0.5},
        {1: (1, "quality"), 2: (1, "quality"), 3: (3, "quality"),
         4: (4, "quality")},
    ),
}


def _verdicts(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("case", sorted(_CURATE_CASES))
def test_curate_driver_finish_matches_distributed_plan(spark, monkeypatch, case):
    """api.curate finishes corpora of at most graph.LOCAL_FINISH_ROWS
    documents on the driver and returns a LocalTableScan; above the bound
    it returns the distributed plan. Forcing the bound both ways gives
    the same rows and column types."""
    from qa_data_pipeline_rag_llm_spark.operators import graph

    id_type, rows, kw, want = _CURATE_CASES[case]
    df = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", 10**6)
    local = api.curate(df, **kw)
    assert "LocalTableScan" in local._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", -1)
    rounds = api.curate(df, **kw)
    assert "LocalTableScan" not in rounds._jdf.queryExecution().executedPlan().toString()
    assert local.dtypes == rounds.dtypes
    got = _verdicts(local)
    assert got == _verdicts(rounds)
    assert {r[0]: (r[1], r[5]) for r in got} == want
    for doc, cluster, rule, kept, keep, reason in got:
        assert keep == (rule and kept)


@pytest.mark.parametrize("bound", ["candidate_pairs", "set_bytes"])
def test_curate_over_a_driver_bound_takes_distributed_plan(
    spark, monkeypatch, bound
):
    """A hub of identical texts within the document bound takes the
    distributed plan, with the driver finish's rows, when it is over
    another bound: in candidate pairs (8 docs; the six identical texts
    alone make 15 pairs, against a bound of 10), or in the bytes of its
    shingle sets (a few KB, against a 1 KB broadcast threshold). The
    unique-id guard runs on the distributed plan only when the driver
    has not already checked the ids on its collect."""
    from qa_data_pipeline_rag_llm_spark.operators import dedup, graph

    guards = []
    guard = dedup._assert_unique_ids
    monkeypatch.setattr(
        dedup, "_assert_unique_ids", lambda *a: guards.append(a) or guard(*a)
    )
    _, rows, kw, want = _CURATE_CASES["hub_of_identical_texts"]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(threshold)
    if bound == "candidate_pairs":
        monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", 10)
    else:
        spark.conf.set(threshold, "1k")
    try:
        out = api.curate(df, **kw)
    finally:
        spark.conf.set(threshold, old)
    # the verdicts' survivor window, not the driver finish's local table
    # (the pair graph itself may still finish on the driver)
    assert "Window" in out._jdf.queryExecution().executedPlan().toString()
    assert {r[0]: (r[1], r[5]) for r in _verdicts(out)} == want
    assert len(guards) == (bound == "set_bytes")


def test_curate_job_budget(spark):
    """On a 50-doc corpus with planted near-duplicates, api.curate starts
    at most 4 Spark jobs (checkpoint, one collect, the verification's
    broadcast and collect), and collecting its LocalTableScan result
    starts none. Read from the status tracker under a job group."""
    import random

    rnd = random.Random(5)
    words = _OTHER.split() + _CLEAN.split()
    texts = [" ".join(rnd.choice(words) for _ in range(40)) for _ in range(40)]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(100 + i, texts[i % 5] + " again") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("test-curate-build", "api.curate")
        out = api.curate(df)
        sc.setJobGroup("test-curate-collect", "collect")
        got = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup("test-curate-build")) <= 4
    assert tracker.getJobIdsForGroup("test-curate-collect") == []
    flagged = {r.doc_id for r in got if not r.dedup_kept}
    assert set(range(100, 110)) <= flagged and len(got) == 50



def _multi_probe_ranker(vectors, probe, k=5, **cols):
    """The registry's multi-probe ``cosine_topk`` behind the one-probe
    ranker's signature: the reference the one ordered take must match."""
    from qa_data_pipeline_rag_llm_spark.operators.similarity import cosine_topk

    return cosine_topk(vectors, probe, k=k, **cols)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# three vectors share the probe's direction (planted equal sims, ids out
# of order); the rest sit at 45, 90 and ~169 degrees
_PLANTED = [(9, [1.0, 0.0]), (3, [1.0, 0.0]), (6, [1.0, 0.0]),
            (4, [1.0, 1.0]), (1, [0.0, 1.0]), (8, [-1.0, 0.2])]
_CASES = {
    # name: (corpus, k, threshold, ids in rank order)
    "ties": (_PLANTED, 2, 0.0, [3, 6]),
    "k_over_corpus": (_PLANTED, 50, -1.0, [3, 6, 9, 4, 1, 8]),
    "threshold": (_PLANTED, 5, 0.7, [3, 6, 9, 4]),
    "zero_rows": ([], 3, 0.0, []),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_retrieve_one_probe_take_matches_cosine_topk(spark, monkeypatch, case):
    """retrieve ranks its one probe with one ordered take: the same rows,
    sims and ranks as the multi-probe salted top-k."""
    corpus, k, threshold, ids = _CASES[case]
    vectors = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
    got = _rows(api.retrieve(vectors, [1.0, 0.0], k=k, threshold=threshold))
    monkeypatch.setattr(api, "cosine_topk_one_probe", _multi_probe_ranker)
    want = _rows(api.retrieve(vectors, [1.0, 0.0], k=k, threshold=threshold))
    assert got == want
    by_rank = sorted(got, key=lambda r: r[2])
    assert [r[0] for r in by_rank] == ids
    assert [r[2] for r in by_rank] == list(range(1, len(ids) + 1))


_QUESTION = "how do spark joins work?"
# a duplicated text embeds identically (planted equal sims); under the
# fake hash embedder only the question's own text clears a high threshold
_DOCS = [(7, _QUESTION), (2, _QUESTION), (5, _QUESTION),
         (4, "parquet files and column pruning"), (1, "window functions"),
         (3, "broadcast joins in spark")]
_ASK_CASES = {
    # name: (documents, k, threshold, n_docs)
    "ties": (_DOCS, 2, 0.0, 2),
    "k_over_corpus": (_DOCS, 50, -1.0, 6),
    "threshold": (_DOCS, 5, 0.9, 3),
    "zero_rows": ([], 3, 0.0, 0),
}


@pytest.mark.parametrize("case", sorted(_ASK_CASES))
def test_ask_one_probe_take_matches_cosine_topk(spark, monkeypatch, case):
    docs, k, threshold, n_docs = _ASK_CASES[case]
    documents = spark.createDataFrame(docs, "doc_id long, text string")
    got = _rows(api.ask(spark, _QUESTION, documents, k=k, threshold=threshold))
    monkeypatch.setattr(api, "cosine_topk_one_probe", _multi_probe_ranker)
    want = _rows(api.ask(spark, _QUESTION, documents, k=k, threshold=threshold))
    assert got == want
    assert got[0][0] == n_docs
