"""Golden tests: every oracle-checked registry query vs DuckDB (SURVEY.md §5.1)."""

from __future__ import annotations

import pytest

from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY
from tests.conftest import SF_DIR, assert_oracle_match

ORACLE_CHECKED = sorted(n for n, s in REGISTRY.items() if s.oracle)
NO_ORACLE = sorted(n for n, s in REGISTRY.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle(name, spark, duck, tables):
    spec = REGISTRY[name]
    assert_oracle_match(spec.spark(spark, SF_DIR), duck.sql(spec.oracle), name)


@pytest.mark.parametrize("name", NO_ORACLE)
def test_runs_without_oracle(name, spark, tables):
    """Non-SQL-expressible ops: smoke — runs, stable schema, ≥0 rows."""
    spec = REGISTRY[name]
    df = spec.spark(spark, SF_DIR)
    assert df.columns
    assert df.count() >= 0


# (query, the table it reads, rows its oracle returns on zero input rows)
ZERO_ROW_CASES = [
    ("bpe_learn_merges_documents", "documents", 0),
    ("kmeans_fixedpoint_embeddings", "embeddings", 0),
    ("kmeans_clusters", "embeddings", 1),
    ("bradley_terry_source_strengths", "documents", 0),
    ("preference_cycle_audit", "documents", 1),
]


@pytest.mark.parametrize(
    "name,table,n_rows",
    ZERO_ROW_CASES,
    ids=[f"{name}-{table}" for name, table, _ in ZERO_ROW_CASES],
)
def test_iterative_query_zero_rows_matches_oracle(
    name, table, n_rows, spark, tmp_path
):
    """An iterative query over a zero-row input table returns the rows
    its DuckDB oracle does — zero for the recursive CTEs and the
    Bradley–Terry loops, the one verdict row for kmeans_clusters and the
    one audit row for preference_cycle_audit — with no crash on an empty
    first round."""
    import duckdb

    path = tmp_path / f"{table}.parquet"
    con = duckdb.connect()
    try:
        con.sql(
            f"COPY (SELECT * FROM '{SF_DIR}/{table}.parquet' LIMIT 0) "
            f"TO '{path}' (FORMAT parquet)"
        )
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        got = REGISTRY[name].spark(spark, str(tmp_path))
        assert got.count() == n_rows
        assert_oracle_match(got, con.sql(REGISTRY[name].oracle), name)
    finally:
        con.close()
