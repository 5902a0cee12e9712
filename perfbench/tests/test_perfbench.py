"""The benchmark's own tests, at tiny scale.

    python3 -m pytest perfbench/tests -q

Each test runs a workload in-process on sf0.001 tables or a small
seeded thread set, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
from workloads import OLAP_QUERIES, Etl, QueryMix, Sequence, Serving  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def tiny_olap():
    return QueryMix(OLAP_QUERIES, sf=0.001)


def tiny_curation():
    return Sequence(Etl(n_posts=60), Serving(sf=0.001))


def expected_units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


@pytest.fixture
def work(tmp_path, monkeypatch):
    (tmp_path / "tmp").mkdir()
    monkeypatch.setenv("TMPDIR", str(tmp_path / "tmp"))
    return tmp_path


def test_same_seed_same_inputs(tmp_path):
    a = datagen.registry_tables(5, 0.001)
    b = datagen.registry_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.registry_tables(6, 0.001)["lineitem"])
    first = datagen.write_threads(str(tmp_path / "a"), 5, 40)
    assert first == datagen.write_threads(str(tmp_path / "b"), 5, 40)
    assert first.posts == 40 and first.chunks >= 40


def test_end_to_end_metrics_named_with_units(work):
    metrics, ctx, _ = run.run(tiny_olap(), seed=1, seconds=0, trace=False, work=work)
    assert {k: run.unit(k) for k in metrics} == expected_units("end_to_end")
    assert ctx.failures == []
    assert all(v > 0 for v in metrics.values())


def test_olap_layers_add_up_to_query_wall_time(work):
    metrics, ctx, tracer = run.run(tiny_olap(), seed=2, seconds=0, trace=True, work=work)
    assert {k: run.unit(k) for k in metrics} == expected_units("per_layer")
    assert ctx.failures == [] and metrics["failed_ops_frac"] == 0
    spans = tracer.spans
    queries = [i for i, s in enumerate(spans) if s.name == "query"]
    assert len(queries) == len(OLAP_QUERIES)
    for i in queries:
        children = [s for s in spans if s.parent == i]
        assert [s.name for s in children] == ["plans.build", "plans.optimize", "operators.exec"]
        wall = spans[i].end - spans[i].start
        assert abs(sum(s.end - s.start for s in children) - wall) < 1e-3
    # the predicted split: no eager jobs while building relational plans
    assert metrics["plans.build_jobs"] == 0
    assert metrics["operators.jobs"] > 0 and metrics["plans.exchanges"] > 0


def test_curation_layers_and_outputs(work, monkeypatch):
    monkeypatch.setattr(Serving, "TAIL_SAMPLES", 3)
    metrics, ctx, _ = run.run(tiny_curation(), seed=3, seconds=0, trace=True, work=work)
    assert ctx.failures == []
    assert metrics["plans.build_jobs"] > 0  # api.curate's connected-components rounds
    assert metrics["io.files_written"] > 0 and metrics["sinks.files_written"] > 0
    assert metrics["io.write_amp"] > 0
    # one timed pass, then untraced top-up requests up to TAIL_SAMPLES
    assert metrics["api.retrieve_s.n"] == 3 and metrics["api.ask_s.n"] == 3
    assert metrics["api.jobs_per_request"] > 0
    assert metrics["functions.worker_wait_s"] > 0  # the embedding UDF runs in Python


def test_wrong_expected_hash_counts_as_failure(work, monkeypatch):
    real = checks.Oracle.expected

    def wrong(self, sql):
        rows, cols, _ = real(self, sql)
        return rows, cols, "0" * 64

    monkeypatch.setattr(checks.Oracle, "expected", wrong)
    metrics, ctx, _ = run.run(tiny_olap(), seed=4, seconds=0, trace=True, work=work)
    assert len(ctx.failures) == len(OLAP_QUERIES)
    assert metrics["failed_ops_frac"] > 0


def test_retrieve_check_rejects_wrong_ids():
    vectors = {1: [1.0, 0.0], 2: [0.9, 0.1], 3: [0.0, 1.0]}
    ranking = checks.cosine_ranking(vectors, [1.0, 0.0])
    assert checks.check_retrieve([1, 2], ranking, 2) == []
    assert checks.check_retrieve([1, 3], ranking, 2)
    # the threshold drops id 3 (sim 0) from a top-3
    assert checks.check_retrieve([1, 2], ranking, 3, threshold=0.5) == []
    assert checks.check_retrieve([1, 2, 3], ranking, 3, threshold=0.5)


def test_peak_rss_restarts_after_reset(work):
    import numpy as np

    spark = run.start_session(work)
    try:
        big = np.ones(200 * 2**20 // 8)  # 200 MB in this process
        before = run.peak_rss_mb(spark)
        del big
        run.reset_peak_rss(spark)
        assert run.peak_rss_mb(spark) < before - 150
    finally:
        run.stop_session(spark)
