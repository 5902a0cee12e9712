"""Property tests for the LLM-data curation operators (operators/llmdata.py).

Value-level Spark↔DuckDB equality for these queries is covered by the
driver oracle gate (tests/test_oracle.py iterates the registry); here we
pin the operator invariants that a hash compare alone doesn't explain.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from qa_data_pipeline_rag_llm_spark.operators.llmdata import (
    EMAIL_RE,
    PHONE_RE,
    decontaminate,
    pii_redact,
    repetition_stats,
    tfidf_topk,
)
from qa_data_pipeline_rag_llm_spark.plans.queries_llmdata import (
    DECON_N,
    EVAL_MOD,
    _augmented,
)
from tests.conftest import SF_DIR


def test_redaction_is_complete(spark):
    out = pii_redact(_augmented(spark, SF_DIR)).collect()
    email, phone = re.compile(EMAIL_RE), re.compile(PHONE_RE)
    assert any(r["n_emails"] > 0 for r in out)
    assert any(r["n_phones"] > 0 for r in out)
    for r in out:
        assert not email.search(r["redacted"]), r["doc_id"]
        assert not phone.search(r["redacted"]), r["doc_id"]
        # synthetic contact construction: every %3 doc had exactly one email
        assert r["n_emails"] == (1 if r["doc_id"] % 3 == 0 else 0)
        assert r["n_phones"] == (1 if r["doc_id"] % 5 == 0 else 0)


def test_decontaminate_excludes_eval_and_counts_real_overlap(spark, tables):
    d = tables["documents"]
    train = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    out = decontaminate(train, ev, shingle_n=DECON_N).collect()
    for r in out:
        assert r["doc_id"] % EVAL_MOD != 0
        assert r["n_overlap_grams"] >= 1


def test_repetition_bounds(spark, tables):
    out = repetition_stats(tables["documents"]).collect()
    assert len(out) == tables["documents"].count()
    for r in out:
        assert 0 <= r["n_distinct"] <= r["n_tokens"]
        assert 0.0 <= r["dup_ratio"] < 1.0
        assert 1 <= r["top_bigram_n"] <= max(r["n_tokens"], 1)


def test_tfidf_rank_contract(spark, tables):
    out = tfidf_topk(tables["documents"], ["join", "window", "scan"], k=10).collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert len(out) == 10


def test_bpe_merges_are_wellformed_and_monotone(spark):
    """BPE invariants: (1) best-pair counts are non-increasing across
    rounds — a merge can only create pairs bounded by the count it
    consumed and never raises an existing pair's count; (2) every
    merged symbol is buildable left-to-right from earlier vocabulary
    (chars/end-marker or prior merges) — the defining property of a
    valid merge table."""
    from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY
    from tests.conftest import SF_DIR

    rows = (
        REGISTRY["bpe_learn_merges_documents"]
        .spark(spark, SF_DIR)
        .orderBy("merge_rank")
        .collect()
    )
    assert [r.merge_rank for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True)
    known = set("abcdefghijklmnopqrstuvwxyz_")
    for r in rows:
        assert r.left_sym in known and r.right_sym in known, r
        known.add(r.left_sym + r.right_sym)


def test_bpe_raises_above_the_driver_bound(spark, monkeypatch):
    """BPE trains on the driver over at most graph.LOCAL_FINISH_ROWS
    word types; above the bound it raises, naming it."""
    import pytest

    from qa_data_pipeline_rag_llm_spark.operators import graph
    from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY

    monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", 2)
    with pytest.raises(ValueError, match="LOCAL_FINISH_ROWS"):
        REGISTRY["bpe_learn_merges_documents"].spark(spark, SF_DIR)


def test_bpe_job_budget(spark, tables):
    """bpe_learn_merges_documents starts at most 3 Spark jobs while it
    is built (the one bounded collect of the word-type vocabulary, which
    AQE runs stage by stage), and collecting its LocalTableScan result
    starts none. Read from the status tracker under a job group."""
    from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY
    from qa_data_pipeline_rag_llm_spark.plans.queries_llmdata import BPE_K

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("test-bpe-build", "bpe_learn_merges_documents")
        out = REGISTRY["bpe_learn_merges_documents"].spark(spark, SF_DIR)
        sc.setJobGroup("test-bpe-collect", "collect")
        got = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup("test-bpe-build")) <= 3
    assert tracker.getJobIdsForGroup("test-bpe-collect") == []
    assert len(got) == BPE_K
