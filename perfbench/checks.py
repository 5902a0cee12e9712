"""Output checks. Each returns a list of mismatch descriptions; an empty
list means the output is correct. Checks run outside the timed spans."""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import duckdb

from datagen import ThreadCounts

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df) -> str:
    """Order-insensitive value hash with ``repr`` floats (bit-exact), the
    comparator the driver-contract emulation uses."""
    df = df.copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(float(v)) if isinstance(v, float) else repr(v))
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


class Oracle:
    """DuckDB views over the same Parquet the Spark side reads."""

    def __init__(self, sf_dir: str) -> None:
        # one thread, so the oracles leave the cores to the Spark pass
        # they run beside
        self.con = duckdb.connect(config={"threads": 1})
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def expected(self, sql: str) -> tuple[int, list[str], str]:
        odf = self.con.execute(sql).fetchdf()
        return len(odf), sorted(odf.columns), canon(odf)

    def close(self) -> None:
        self.con.close()


@contextmanager
def oracle_futures(sf_dir: str, sqls: dict[str, str]):
    """Yields ``name -> Future`` of :meth:`Oracle.expected` for each query,
    computed one after another on a background thread so DuckDB runs
    while Spark does."""
    oracle = Oracle(sf_dir)
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            yield {name: pool.submit(oracle.expected, sql) for name, sql in sqls.items()}
    finally:
        oracle.close()


def compare_result(name: str, spark_pdf, expected: tuple[int, list[str], str]) -> list[str]:
    rows, cols, digest = expected
    if len(spark_pdf) != rows:
        return [f"{name}: {len(spark_pdf)} rows, oracle {rows}"]
    if sorted(spark_pdf.columns) != cols:
        return [f"{name}: columns {sorted(spark_pdf.columns)}, oracle {cols}"]
    if canon(spark_pdf) != digest:
        return [f"{name}: value hash differs from oracle"]
    return []


def _fold_dot(a, b) -> float:
    """Index-order double fold, the engine's ``functions.vectors.dot``."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def cosine_ranking(vectors: dict[int, list[float]], probe: list[float]) -> list[tuple[float, int]]:
    """Brute-force ``(sim, id)`` pairs, best first, sims rounded like
    ``operators.similarity.cosine_topk``."""
    pn = _fold_dot(probe, probe) ** 0.5
    scored = []
    for vid, vec in vectors.items():
        den = _fold_dot(vec, vec) ** 0.5 * pn
        if den > 0:
            scored.append((round(_fold_dot(vec, probe) / den, 6), vid))
    scored.sort(key=lambda p: (-p[0], p[1]))
    return scored


def check_retrieve(got_ids: list[int], ranking: list[tuple[float, int]], k: int,
                   threshold: float = -1.0) -> list[str]:
    """Ids must be the brute-force top-k at or above ``threshold``; a
    difference is tolerated only where the sims tie within rounding at
    the k-th place."""
    top = [(s, vid) for s, vid in ranking[:k] if s >= threshold]
    want = [vid for _, vid in top]
    if list(got_ids) == want:
        return []
    sims = {vid: s for s, vid in ranking}
    if top and len(got_ids) == len(want) and all(
        sims.get(v, -9) >= max(top[-1][0] - 2e-6, threshold) for v in got_ids
    ):
        return []
    return [f"retrieve: ids {list(got_ids)}, brute force {want}"]


def expected_answer(ranking: list[tuple[float, int]], texts: dict[int, str], k: int,
                    threshold: float) -> tuple[int, str]:
    """``api.ask``'s (n_docs, answer) under the deterministic fake LLM."""
    from qa_data_pipeline_rag_llm_spark.functions.llm import _generate_one

    top = [vid for s, vid in ranking[:k] if s >= threshold]
    prompt = "Answer from context.\nContext:\n" + "\n\n".join(texts[v] for v in top)
    return len(top), _generate_one(prompt)


def check_etl(counts: ThreadCounts, parquet_rows: int, manifest_rows: int,
              flagged_dups: set[str]) -> list[str]:
    out = []
    if parquet_rows != counts.chunks:
        out.append(f"qa_etl: parquet rows {parquet_rows}, expected {counts.chunks}")
    if manifest_rows != counts.chunks:
        out.append(f"qa_etl: qa_vector rows {manifest_rows}, expected {counts.chunks}")
    missed = set(counts.dup_ids) - flagged_dups
    if missed:
        out.append(f"qa_etl: {len(missed)} planted duplicates kept, e.g. {sorted(missed)[:3]}")
    return out


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files
