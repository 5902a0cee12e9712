"""Warm hotspot probe: min-of-N noop-sink timings for named registry
queries at $SPARK_GRAFT_SF_DIR (default sf0.1) in the engine session —
the same methodology as the bench's timed region (construction included,
noop sink), used for before/after A/Bs.

Usage: python tools/hot_probe.py [--runs=N] query [query ...]
Prints one line per query: min / all runs, then the query's run record
(bench.py ``run_record``: jobs, stages, exchanges, shuffle and spill),
taken on the untimed warmup. The record's counters do not depend on the
host's speed, so they are what an A/B across sessions compares first.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import RETAIN_ALL, execute, make_meter, run_record  # noqa: E402
from qa_data_pipeline_rag_llm_spark.catalog import load_all  # noqa: E402
from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY  # noqa: E402
from qa_data_pipeline_rag_llm_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    runs = 3
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
        else:
            names.append(a)
    spark = get_spark(app_name="hot_probe", extra_conf=RETAIN_ALL)
    spark.sparkContext.setLogLevel("ERROR")
    for df in load_all(spark, SF_DIR, register_views=False).values():
        df.count()
    meter = make_meter(spark)
    for name in names:
        spec = REGISTRY[name]
        _, record = run_record(spark, meter, spec, SF_DIR)
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            execute(spec.spark(spark, SF_DIR))
            ts.append(time.perf_counter() - t0)
        print(
            f"{name}: min={min(ts):.3f}  runs="
            + ",".join(f"{t:.3f}" for t in ts)
            + f"  record={json.dumps(record)}",
            flush=True,
        )


if __name__ == "__main__":
    main()
