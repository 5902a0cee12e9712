"""Connected components (operators/graph.py): the distributed
large-star / small-star rounds against the driver-side union-find on
adversarial topologies, including the long chains where a propagation
loop would need O(diameter) rounds and two-star needs O(log n).

The operator finishes graphs of at most ``graph.LOCAL_FINISH_ROWS``
edges on the driver, so every test here lowers that bound below any
row count (an empty frame's included) to exercise the distributed
rounds; ``_both`` and the parity tests at the end raise it above every
row count to get the union-find's labels, the independent reference."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark.operators import graph
from qa_data_pipeline_rag_llm_spark.operators.graph import connected_components

ROUNDS_ONLY = -1  # limit(0) collects nothing, and 0 rows > -1
DRIVER_ONLY = 10**6


@pytest.fixture(autouse=True)
def _distributed_rounds(monkeypatch):
    monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", ROUNDS_ONLY)


def _labels(df):
    return sorted((r["id"], r["label"]) for r in df.collect())


def _both(spark, monkeypatch, edges):
    """(union-find labels, distributed-round labels) of ``edges``."""
    e = spark.createDataFrame(edges, "src long, dst long")
    rounds = _labels(connected_components(e))
    monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", DRIVER_ONLY)
    return _labels(connected_components(e)), rounds


def test_twostar_matches_propagation_on_chain(spark, monkeypatch):
    # a 25-node path
    a, b = _both(spark, monkeypatch, [(i, i + 1) for i in range(25)])
    assert a == b
    assert all(lbl == 0 for _, lbl in b)


def test_twostar_handles_diameter_beyond_propagation_budget(spark):
    """A 40-node path: longer than the 30-round budget a propagation
    loop would need; two-star labels it correctly in O(log n) rounds."""
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    got = _labels(connected_components(e))
    assert all(lbl == 0 for _, lbl in got) and len(got) == 41


def test_twostar_matches_propagation_on_mixed_graph(spark, monkeypatch):
    rng = random.Random(7)
    edges = []
    # several blobs + a chain + isolated pairs, shuffled ids
    for base in (100, 300, 500):
        ids = [base + i for i in range(12)]
        edges += [(rng.choice(ids), rng.choice(ids)) for _ in range(25)]
    edges += [(i, i + 1) for i in range(700, 720)]
    edges += [(900, 901), (903, 902)]
    edges = [(a, b) for a, b in edges if a != b]
    a, b = _both(spark, monkeypatch, edges)
    assert a == b


def test_twostar_two_node_and_triangle(spark, monkeypatch):
    a, b = _both(spark, monkeypatch, [(5, 2), (10, 11), (11, 12), (12, 10)])
    assert a == b
    got = dict(b)
    assert got[5] == 2 and got[2] == 2
    assert got[10] == got[11] == got[12] == 10


def test_twostar_star_graph_reversed_ids(spark, monkeypatch):
    # hub has the LARGEST id — exercises both star directions
    a, b = _both(spark, monkeypatch, [(99, i) for i in range(5)])
    assert a == b
    assert all(lbl == 0 for _, lbl in b)


def test_twostar_edge_set_shrinks_to_star(spark):
    """After convergence every component is one star: n_edges =
    n_vertices - n_components."""
    edges = [(i, i + 1) for i in range(20)] + [(50, 51), (51, 52)]
    e = spark.createDataFrame(edges, "src long, dst long")
    labels = connected_components(e)
    n_vertices = labels.count()
    n_components = labels.select("label").distinct().count()
    n_non_roots = labels.filter(F.col("id") != F.col("label")).count()
    assert n_non_roots == n_vertices - n_components


def test_twostar_fails_loud_when_budget_exhausted(spark, monkeypatch):
    """Exhausting MAX_ROUNDS without a fixpoint must raise, not emit a
    corrupt multi-row-per-vertex labeling (review r03)."""
    monkeypatch.setattr(graph, "MAX_ROUNDS", 1)
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not detect a fixpoint"):
        connected_components(e).collect()


def _blob_edges() -> list[tuple[int, int]]:
    rng = random.Random(11)
    edges = []
    for base in (10, 40, 70):
        ids = [base + i for i in range(9)]
        edges += [(rng.choice(ids), rng.choice(ids)) for _ in range(14)]
    return edges


_PARITY_GRAPHS = {
    "chain": ("src long, dst long", [(i, i + 1) for i in range(25)]),
    "hub_largest_id": ("src long, dst long", [(99, i) for i in range(6)]),
    "random_blobs": ("src long, dst long", _blob_edges()),
    "self_loop_only_vertex": ("src long, dst long", [(7, 7), (3, 1), (1, 2)]),
    "null_endpoint": (
        "src long, dst long",
        [(None, 3), (3, 4), (5, None), (None, None)],
    ),
    "string_ids": (
        "src string, dst string",
        [("b", "a"), ("c", "b"), ("y", "x"), ("é", "z")],
    ),
    "zero_edges": ("src long, dst long", []),
}


@pytest.mark.parametrize("graph_name", sorted(_PARITY_GRAPHS))
def test_local_finish_matches_distributed_rounds(spark, monkeypatch, graph_name):
    """The driver-side union-find returns the rounds' (id, label) rows —
    including a self-loop-only vertex, NULL endpoints and string ids —
    typed like the vertex column."""
    ddl, edges = _PARITY_GRAPHS[graph_name]
    e = spark.createDataFrame(edges, ddl)
    rounds = connected_components(e)
    rounds_rows = Counter(tuple(r) for r in rounds.collect())
    monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", DRIVER_ONLY)
    local = connected_components(e)
    assert [f.dataType for f in local.schema] == [f.dataType for f in rounds.schema]
    assert local.columns == ["id", "label"] == rounds.columns
    assert Counter(tuple(r) for r in local.collect()) == rounds_rows


@pytest.mark.parametrize("bound", [ROUNDS_ONLY, DRIVER_ONLY])
def test_null_endpoints_dropped_self_loops_kept(spark, monkeypatch, bound):
    """The one contract on both paths: every non-NULL endpoint appears
    with its component's minimum id — a self-loop-only vertex and the
    other end of a NULL edge label themselves — and no NULL id does."""
    monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", bound)
    e = spark.createDataFrame(
        [(7, 7), (None, 3), (5, None), (None, None), (2, 1), (9, 2)],
        "src long, dst long",
    )
    assert _labels(connected_components(e)) == [
        (1, 1), (2, 1), (3, 3), (5, 5), (7, 7), (9, 1)
    ]


def test_local_finish_bound_is_inclusive(spark, monkeypatch):
    """A graph of exactly LOCAL_FINISH_ROWS canonical edges finishes on
    the driver with no round; one edge more takes the rounds."""
    e = spark.createDataFrame([(i, i + 1) for i in range(4)], "src long, dst long")
    star_passes = []
    small_star = graph._small_star
    monkeypatch.setattr(
        graph, "_small_star", lambda lt: star_passes.append(1) or small_star(lt)
    )

    def rounds_at(bound: int) -> int:
        star_passes.clear()
        monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", bound)
        labels = connected_components(e).collect()
        assert sorted(tuple(r) for r in labels) == [(i, 0) for i in range(5)]
        return len(star_passes)

    assert rounds_at(4) == 0
    assert rounds_at(3) > 0
