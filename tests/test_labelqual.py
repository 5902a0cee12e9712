"""Label & preference quality operators (plans/queries_labelqual.py).

The registry oracles pin these queries against DuckDB on the real
corpus; these tests pin the OPERATOR semantics on synthetic inputs with
hand-computed answers — kappa's 2×2 arithmetic, Bradley–Terry's
order/symmetry behavior, and the tournament cycle detector's two
boundary tournaments (fully transitive → 0.0, rock-paper-scissors →
1.0) that real data can't reliably produce.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark.operators import graph

# the registry module before queries_labelqual: entering the plans
# package through queries_labelqual is a circular import
from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY
from qa_data_pipeline_rag_llm_spark.plans.queries_labelqual import (
    BT_S,
    _kappa_agg,
    bt_strengths,
    tournament_cycles,
)
from tests.conftest import SF_DIR


def _raters(spark, rows):
    return spark.createDataFrame(rows, "source string, ra boolean, rb boolean")


def _duels(spark, rows):
    return spark.createDataFrame(rows, "win_s string, lose_s string, w long")


# --------------------------------------------------------------------------
# Cohen's kappa


def test_kappa_hand_computed(spark):
    # 2x2 table: both_keep=40, only_a=10, only_b=20, both_drop=30; n=100
    rows = (
        [("s", True, True)] * 40
        + [("s", True, False)] * 10
        + [("s", False, True)] * 20
        + [("s", False, False)] * 30
    )
    out = _kappa_agg(_raters(spark, rows).groupBy()).collect()[0]
    # po = 0.70; pe = (50*60 + 50*40)/10000 = 0.50; kappa = 0.2/0.5 = 0.4
    assert out.n_docs == 100 and out.both_keep == 40 and out.both_drop == 30
    assert out.kappa == pytest.approx(0.4, abs=1e-9)


def test_kappa_perfect_and_inverse_agreement(spark):
    perfect = [("s", True, True)] * 3 + [("s", False, False)] * 7
    out = _kappa_agg(_raters(spark, perfect).groupBy()).collect()[0]
    assert out.kappa == 1.0
    inverse = [("s", True, False)] * 5 + [("s", False, True)] * 5
    out = _kappa_agg(_raters(spark, inverse).groupBy()).collect()[0]
    assert out.kappa == -1.0


def test_kappa_single_constant_rater_scores_zero(spark):
    # ONE constant rater: chance agreement exactly equals observed
    # agreement -> kappa is 0 (the r8 threshold-fix regime: quality>=0.5
    # kept 100% of the corpus and made the overall kappa a hard 0.0)
    rows = [("s", True, True)] * 4 + [("s", False, True)] * 6
    out = _kappa_agg(_raters(spark, rows).groupBy()).collect()[0]
    assert out.kappa == 0.0


def test_kappa_degenerate_both_constant_is_null(spark):
    # BOTH raters constant: pe = 1, denominator 0 -> NULL, not a number
    rows = [("s", True, True)] * 10
    out = _kappa_agg(_raters(spark, rows).groupBy()).collect()[0]
    assert out.kappa is None


def test_kappa_by_group_keys_survive(spark):
    rows = [("a", True, True)] * 5 + [("b", True, False)] * 5
    got = {
        r.source: r.n_docs
        for r in _kappa_agg(_raters(spark, rows).groupBy("source")).collect()
    }
    assert got == {"a": 5, "b": 5}


# --------------------------------------------------------------------------
# Bradley–Terry strengths


def test_bt_transitive_chain_orders_strengths(spark):
    # A beats B 3x, B beats C 3x, A beats C 3x; B also takes one off A
    # and C one off B so every player has a win AND a loss (the MLE
    # existence condition the operator enforces).
    pw = _duels(
        spark,
        [("A", "B", 3), ("B", "C", 3), ("A", "C", 3), ("B", "A", 1), ("C", "B", 1)],
    )
    got = {r.source: r for r in bt_strengths(pw).collect()}
    assert set(got) == {"A", "B", "C"}
    assert got["A"].strength_e6 > got["B"].strength_e6 > got["C"].strength_e6
    assert got["A"].wins == 6 and got["A"].losses == 1
    assert got["C"].wins == 1 and got["C"].losses == 6


def test_bt_symmetric_tournament_equal_strengths(spark):
    # rock-paper-scissors with equal weights: perfect symmetry -> the
    # MM iterates are identical for all three players at every step
    pw = _duels(spark, [("A", "B", 2), ("B", "C", 2), ("C", "A", 2)])
    ps = [r.strength_e6 for r in bt_strengths(pw).collect()]
    assert len(ps) == 3 and len(set(ps)) == 1
    # and the symmetric fixed point is the init scale itself
    assert ps[0] == pytest.approx(BT_S, rel=0.01)


def test_bt_excludes_players_without_win_and_loss(spark):
    # D only ever loses -> MLE diverges to 0 -> excluded from output
    pw = _duels(
        spark,
        [("A", "B", 2), ("B", "A", 1), ("A", "D", 5), ("B", "D", 5)],
    )
    got = {r.source: r for r in bt_strengths(pw).collect()}
    assert set(got) == {"A", "B"}
    # advice r08: wins/losses are recomputed from the RETAINED duel set
    # — A's 5 wins farmed off excluded D must not count
    assert got["A"].wins == 2 and got["A"].losses == 1
    assert got["B"].wins == 1 and got["B"].losses == 2


def test_bt_head_to_head_order_survives_excluded_farm(spark):
    # The advice-r08 inversion: A beats B 2-1 head-to-head, but B farms
    # 10 wins off D (who only loses, hence is excluded). With wins
    # recomputed from the retained {A, B} tournament, A must outrank B.
    pw = _duels(
        spark,
        [("A", "B", 2), ("B", "A", 1), ("B", "D", 10), ("A", "D", 1)],
    )
    got = {r.source: r for r in bt_strengths(pw).collect()}
    assert set(got) == {"A", "B"}
    assert got["A"].strength_e6 > got["B"].strength_e6
    assert got["B"].wins == 1 and got["B"].losses == 2


def test_bt_exclusion_peels_iteratively(spark):
    # Dropping D strands C: C's only win was over D, so a single
    # exclusion pass keeps C with a divergent (all-loss) MLE. The peel
    # must iterate: round 1 drops D (no wins), round 2 drops C (no wins
    # within {A, B, C}), leaving the mutually-dueling {A, B} core.
    pw = _duels(
        spark,
        [
            ("A", "B", 2), ("B", "A", 1),  # the surviving core
            ("B", "C", 1), ("C", "D", 1),  # C's only win is over D
            ("A", "D", 3),                 # D only ever loses
        ],
    )
    got = {r.source: r for r in bt_strengths(pw).collect()}
    assert set(got) == {"A", "B"}
    assert got["A"].wins == 2 and got["B"].wins == 1


def test_bt_deep_peel_chain_converges(spark):
    # A strictly nested peel chain: E loses everywhere; D's only win is
    # over E; C's only win is over D; B2's only win is over C — each
    # round strips exactly one layer, exercising 4 peel rounds before
    # the {A, B} fixed point.
    pw = _duels(
        spark,
        [
            ("A", "B", 2), ("B", "A", 1),
            ("B2", "C", 1), ("A", "B2", 1),
            ("C", "D", 1), ("A", "C", 1),
            ("D", "E", 1), ("A", "D", 1),
            ("A", "E", 1),
        ],
    )
    got = {r.source: r for r in bt_strengths(pw).collect()}
    assert set(got) == {"A", "B"}
    assert got["A"].wins == 2 and got["A"].losses == 1


# --------------------------------------------------------------------------
# Tournament cycle audit


def test_cycles_transitive_tournament_rates_zero(spark):
    pw = _duels(spark, [("A", "B", 2), ("B", "C", 2), ("A", "C", 2)])
    out = tournament_cycles(pw).collect()[0]
    assert out.n_edges == 3 and out.n_triangles == 1
    assert out.n_cycles == 0 and out.cycle_rate == 0.0


def test_cycles_rock_paper_scissors_rates_one(spark):
    pw = _duels(spark, [("A", "B", 2), ("B", "C", 2), ("C", "A", 2)])
    out = tournament_cycles(pw).collect()[0]
    assert out.n_triangles == 1 and out.n_cycles == 1
    assert out.cycle_rate == 1.0


def test_cycles_majority_nets_out_ties(spark):
    # A<->B split 2-2 nets to zero: no majority edge, so the A,B,C
    # triangle is UNDECIDED and drops from both numerator and denominator
    pw = _duels(
        spark,
        [("A", "B", 2), ("B", "A", 2), ("B", "C", 2), ("C", "A", 2)],
    )
    out = tournament_cycles(pw).collect()[0]
    assert out.n_edges == 2 and out.n_triangles == 0
    assert out.n_cycles == 0 and out.cycle_rate is None


def test_cycles_each_directed_cycle_counted_once(spark):
    # two disjoint RPS cycles + one transitive triangle
    pw = _duels(
        spark,
        [
            ("A", "B", 1), ("B", "C", 1), ("C", "A", 1),
            ("D", "E", 1), ("E", "G", 1), ("G", "D", 1),
            ("H", "I", 1), ("I", "J", 1), ("H", "J", 1),
        ],
    )
    out = tournament_cycles(pw).collect()[0]
    assert out.n_triangles == 3 and out.n_cycles == 2
    assert out.cycle_rate == pytest.approx(0.666667, abs=1e-6)


# --------------------------------------------------------------------------
# The driver finish: one bounded collect of the duel table


def test_zero_duels_give_no_strengths_and_one_undecided_audit_row(spark):
    pw = _duels(spark, [])
    bt = bt_strengths(pw)
    assert bt.dtypes == [
        ("source", "string"),
        ("wins", "bigint"),
        ("losses", "bigint"),
        ("strength_e6", "bigint"),
    ]
    assert bt.collect() == []
    audit = tournament_cycles(pw)
    assert audit.dtypes == [
        ("n_nodes_raw", "bigint"),
        ("n_edges", "bigint"),
        ("n_triangles", "bigint"),
        ("n_cycles", "bigint"),
        ("cycle_rate", "double"),
    ]
    assert [tuple(r) for r in audit.collect()] == [(0, 0, 0, 0, None)]


RPS = [("A", "B", 2), ("B", "C", 2), ("C", "A", 1)]


def test_duel_table_over_the_bound_raises(spark, monkeypatch):
    """More than graph.LOCAL_FINISH_ROWS duel rows raise ValueError
    naming the bound, in both tournament queries; at the bound both
    still finish, with the rows the default bound gives."""
    pw = _duels(spark, RPS)
    want_bt = sorted(tuple(r) for r in bt_strengths(pw).collect())
    want_audit = [tuple(r) for r in tournament_cycles(pw).collect()]
    monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", len(RPS))
    assert sorted(tuple(r) for r in bt_strengths(pw).collect()) == want_bt
    assert [tuple(r) for r in tournament_cycles(pw).collect()] == want_audit
    monkeypatch.setattr(graph, "LOCAL_FINISH_ROWS", len(RPS) - 1)
    for fn in (bt_strengths, tournament_cycles):
        with pytest.raises(ValueError, match="LOCAL_FINISH_ROWS"):
            fn(pw)


def test_bradley_terry_job_budget(spark, tables):
    """bradley_terry_source_strengths starts at most 5 Spark jobs while
    it is built (the one bounded collect of the duel table, which AQE
    runs stage by stage), and collecting its LocalTableScan result
    starts none. Read from the status tracker under a job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("test-bt-build", "bradley_terry_source_strengths")
        out = REGISTRY["bradley_terry_source_strengths"].spark(spark, SF_DIR)
        sc.setJobGroup("test-bt-collect", "collect")
        got = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup("test-bt-build")) <= 5
    assert tracker.getJobIdsForGroup("test-bt-collect") == []
    assert got and all(r.strength_e6 > 0 for r in got)
