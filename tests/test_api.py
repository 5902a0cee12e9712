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


def test_curate_validate_rejects_duplicate_ids(spark):
    from qa_data_pipeline_rag_llm_spark import api

    df = spark.createDataFrame(
        [(1, "a b c"), (1, "a b c")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="duplicate rows"):
        api.curate(df)



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
