"""Compare the generated registry tables with a directory of real ones.

    python3 perfbench/compare_tables.py REF_DIR [--sf 0.01] [--seed 1]

REF_DIR holds the ten registry tables as ``<name>.parquet`` (for example
the repository's sf0.01 test tables, see TESTDATA.md). Prints, for both,
the row counts and the key and duplicate rates the workloads depend on.
"""

from __future__ import annotations

import argparse
import shutil
import tempfile
from pathlib import Path

import duckdb

import datagen
from checks import TABLES

ROOT = Path(__file__).resolve().parent.parent

STATS = {
    "lineitem rows per order": "SELECT count(*) / (SELECT count(*) FROM orders) FROM lineitem",
    "orders without lines": "SELECT count(*) FROM orders ANTI JOIN lineitem ON o_orderkey = l_orderkey",
    "customers without orders": "SELECT count(*) FROM customer ANTI JOIN orders ON c_custkey = o_custkey",
    "share of R return flags": "SELECT avg((l_returnflag = 'R')::int) FROM lineitem",
    "documents: near-copy share": "SELECT avg((text LIKE '% dup')::int) FROM documents",
    "documents: repeated-text share": "SELECT 1 - count(DISTINCT text) / count(*) FROM documents",
    "documents: words per text": "SELECT avg(len(string_split(text, ' '))) FROM documents",
    "embeddings: dims, labels": "SELECT max(len(embedding)) || ', ' || count(DISTINCT label) FROM embeddings",
}


def describe(con, table_dir: str) -> dict[str, object]:
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
    out: dict[str, object] = {
        f"{t} rows": con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES
    }
    for name, sql in STATS.items():
        value = con.execute(sql).fetchone()[0]
        out[name] = round(value, 4) if isinstance(value, float) else value
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("ref_dir")
    p.add_argument("--sf", type=float, default=0.01)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    gen_dir = tempfile.mkdtemp(dir=ROOT / ".perfbench_work")
    try:
        datagen.write_tables(gen_dir, args.seed, args.sf)
        con = duckdb.connect()
        ref, gen = describe(con, args.ref_dir), describe(con, gen_dir)
    finally:
        shutil.rmtree(gen_dir, ignore_errors=True)
    width = max(map(len, ref))
    print(f"{'':{width}}  {'reference':>12}  {'generated':>12}")
    for name in ref:
        print(f"{name:{width}}  {ref[name]!s:>12}  {gen[name]!s:>12}")


if __name__ == "__main__":
    main()
