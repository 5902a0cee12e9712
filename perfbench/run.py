"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``cpu_s``, ``peak_rss_mb``); with ``--trace 1`` they are the per-layer
ones, from passes that record one span per layer call, and the tracing
overhead: the time the tracer itself adds to those passes.
Everything the run writes lives under ``.perfbench_work/`` in the
repository and is removed when the run ends; ``--spans FILE`` keeps the
traced spans as JSON lines.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from harness import (  # noqa: E402
    Meter, Tracer, cpu_between, cpu_snapshot, peak_rss_mb, reset_peak_rss, stopwatch, tail,
)

ENGINE = "qa_data_pipeline_rag_llm_spark"
EXEC_SPANS = ("operators.exec", "api.collect", "io.write", "sinks.write")
OPERATOR_COUNTERS = (
    "jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="write the traced spans here (JSON lines)")
    return p.parse_args(argv)


def start_session(work: Path):
    """The engine's session, sized for this host: local[nproc] task
    threads, nproc shuffle partitions and a driver heap of at most 2 GB."""
    from qa_data_pipeline_rag_llm_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # JIT compiler threads that live as long as the JVM, so that
            # their CPU time can be told apart from the rest (cpu_s)
            "spark.driver.extraJavaOptions": (
                f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={work / 'tmp'}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Forget the engine's memoized tables and stop the context."""
    from qa_data_pipeline_rag_llm_spark.catalog import clear_table_cache

    clear_table_cache()
    spark.stop()


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it to exit (it exits
    when its standard input closes), so a run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def import_engine(took: list[float]) -> None:
    """Import the engine's API and query registry (the registry computes
    ~300 plan fingerprints); appends the seconds it took to ``took``."""
    with stopwatch() as t:
        for module in ("api", "plans.queries"):
            importlib.import_module(f"{ENGINE}.{module}")
    took.append(t())


def set_up(workload, work: Path, seed: int):
    """The cold start a user of the engine pays: make the inputs, import
    the engine while the JVM starts (both take seconds), load the tables."""
    with stopwatch() as total:
        workload.make_inputs(str(work / "inputs"), seed)
        with stopwatch() as start:
            took: list[float] = []
            engine = threading.Thread(target=import_engine, args=(took,))
            engine.start()
            spark = start_session(work)
            engine.join()
        if not took:
            raise RuntimeError("importing the engine failed")
        with stopwatch() as load:
            workload.load(spark)
    return spark, {
        "setup_s": total(),
        "session.start_s": start(),
        "plans.import_s": took[0],
        "catalog.load_s": load(),
    }


def measure(workload, ctx, seconds: float, trace: bool):
    """One warm-up pass, untimed and untraced, that also checks outputs;
    then timed passes until ``seconds`` have elapsed, at least one; then,
    in a traced run, the workload's untraced top-up requests, if any.
    Returns each timed pass's wall seconds and its ``(work, jit)`` CPU
    seconds (:func:`harness.cpu_between`).

    The first pass of a process runs 2-3x slower than the next (JIT
    compilation, Python worker start-up) and its time varies most from
    run to run; start-up cost is what ``setup_s`` measures. The peak RSS
    is restarted after the warm-up pass, so it leaves out the benchmark's
    own input generation and output checks."""
    with stopwatch() as warm:
        workload.run_pass(ctx, warmup=True)
    print(f"warm-up pass {warm():.2f} s")
    ctx.spark._jvm.System.gc()  # timed passes start from the same heap state
    reset_peak_rss(ctx.spark)
    ctx.meter.enabled = trace
    walls: list[float] = []
    cpus: list[tuple[float, float]] = []
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        before = cpu_snapshot(ctx.spark)
        walls.append(workload.run_pass(ctx, warmup=False))
        cpus.append(cpu_between(before, cpu_snapshot(ctx.spark)))
        ctx.meter.flush()
    ctx.meter.enabled = False
    print("timed passes: wall " + " ".join(f"{w:.2f}" for w in walls) + " s, cpu "
          + " ".join(f"{c:.2f}" for c, _ in cpus) + " s, jit "
          + " ".join(f"{j:.2f}" for _, j in cpus) + " s")
    if trace and hasattr(workload, "top_up"):
        workload.top_up(ctx)
    return walls, cpus


def tail_metrics(prefix: str, samples: list[float]) -> dict[str, float]:
    """Median, and the highest percentile with at least ten samples
    beyond it (the maximum, at 100, below eleven samples)."""
    if not samples:
        return {f"{prefix}.p50": 0.0, f"{prefix}.tail": 0.0, f"{prefix}.tail_pct": 0.0, f"{prefix}.n": 0}
    t = tail(samples) or (max(samples), 100.0, len(samples))
    return {
        f"{prefix}.p50": statistics.median(samples),
        f"{prefix}.tail": t[0],
        f"{prefix}.tail_pct": t[1],
        f"{prefix}.n": len(samples),
    }


def layer_metrics(spans, n_passes: int, workload) -> dict[str, float]:
    """Per-layer metrics, per traced pass, from the traced spans."""
    from workloads import OLAP_QUERIES

    dur = defaultdict(float)
    cnt: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    per_query: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    requests = 0
    for s in spans:
        d = s.end - s.start
        dur[s.name] += d
        requests += s.name == "request"
        for k, v in s.counters.items():
            cnt[s.name][k] += v
            cnt["*"][k] += v
        if s.name in ("plans.build", "operators.exec") and s.request:
            per_query[s.request][s.name] += d
        if s.request:
            per_query[s.request]["jobs"] += s.counters.get("jobs", 0)

    def exec_sum(key: str) -> float:
        return sum(cnt[name][key] for name in EXEC_SPANS)

    m = {
        "plans.build_s": dur["plans.build"],
        "plans.build_jobs": cnt["plans.build"]["jobs"],
        "plans.optimize_s": dur["plans.optimize"],
        "plans.exchanges": cnt["plans.optimize"]["exchanges"],
        "operators.exec_s": sum(dur[name] for name in EXEC_SPANS),
        **{f"operators.{k}": exec_sum(k) for k in OPERATOR_COUNTERS},
        "catalog.input_mb": cnt["*"]["input_mb"],
        "functions.worker_wait_s": cnt["*"]["run_s"] - cnt["*"]["cpu_s"],
        "api.build_s": dur["api.build"],
        "api.collect_s": dur["api.collect"],
        "io.read_s": dur["io.read"],
        "io.write_s": dur["io.write"],
        "sinks.write_s": dur["sinks.write"],
    }
    m = {k: v / n_passes for k, v in m.items()}
    api_jobs = cnt["api.build"]["jobs"] + cnt["api.collect"]["jobs"]
    m["api.jobs_per_request"] = api_jobs / requests if requests else 0.0
    for name in OLAP_QUERIES:
        q = per_query.get(name, {})
        m[f"q.{name}.build_s"] = q.get("plans.build", 0.0) / n_passes
        m[f"q.{name}.exec_s"] = q.get("operators.exec", 0.0) / n_passes
        m[f"q.{name}.jobs"] = q.get("jobs", 0.0) / n_passes
    written = getattr(workload, "written", {})
    io_b, io_f = written.get("io", (0, 0))
    sk_b, sk_f = written.get("sinks", (0, 0))
    m.update({
        "io.bytes_written": io_b, "io.files_written": io_f,
        "sinks.bytes_written": sk_b, "sinks.files_written": sk_f,
    })
    counts = getattr(workload, "counts", None)
    m["io.write_amp"] = (io_b + sk_b) / counts.csv_bytes if counts else 0.0
    latency = getattr(workload, "latency", {})
    m.update(tail_metrics("api.retrieve_s", latency.get("retrieve", [])))
    m.update(tail_metrics("api.ask_s", latency.get("ask", [])))
    return m


UNITS = {
    "peak_rss_mb": "MB", "failed_ops_frac": "frac",
    "trace.overhead_frac": "frac", "io.write_amp": "ratio",
}


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    last = name.rsplit(".", 1)[-1]
    for suffix, u in (("_s", "s"), ("_mb", "MB"), ("_pct", "%")):
        if last.endswith(suffix):
            return u
    if "_s." in name and last != "n":  # api.retrieve_s.p50 and friends
        return "s"
    return "B" if last == "bytes_written" else "count"


def run(workload, seed: int, seconds: float, trace: bool, work: Path):
    """Set up, measure and stop one workload. Returns the metrics, the
    run context (attempted operations and failures) and the tracer."""
    from workloads import Ctx

    spark, setup = set_up(workload, work, seed)
    try:
        tracer = Tracer()
        ctx = Ctx(spark, Meter(spark, tracer))
        walls, cpus = measure(workload, ctx, seconds, trace)
        # the fastest pass: the one vCPU steal and stragglers slowed least
        wall = min(walls)
        if not trace:
            metrics = {
                "setup_s": setup["setup_s"],
                # of the first two passes only: how many passes fit in the
                # window depends on vCPU steal, and later passes use less
                "cpu_s": min(work for work, _ in cpus[:2]),
                "peak_rss_mb": peak_rss_mb(spark),
            }
            return metrics, ctx, tracer
        metrics = {
            **{k: v for k, v in setup.items() if k != "setup_s"},
            **layer_metrics(tracer.spans, len(walls), workload),
            "trace.wall_s": wall,
            "jvm.jit_cpu_s": statistics.mean(jit for _, jit in cpus),
            "failed_ops_frac": len(ctx.failures) / ctx.attempted,
        }
        # what tracing adds: the meter's own bookkeeping plus the
        # optimize calls that only traced passes make
        added = ctx.meter.bookkeeping_s / len(walls) + metrics["plans.optimize_s"]
        metrics["trace.overhead_frac"] = added / (wall - added)
        return metrics, ctx, tracer
    finally:
        stop_session(spark)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"perfbench: engine package {ENGINE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ.update(TMPDIR=str(work / "tmp"), SPARK_LOCAL_DIRS=str(work / "spark-local"))
    for backend in ("SPARK_GRAFT_EMBED_BACKEND", "SPARK_GRAFT_LLM_BACKEND"):
        os.environ.pop(backend, None)  # the deterministic fakes, always
    try:
        metrics, ctx, tracer = run(
            WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace), work
        )
        if args.spans:
            tracer.dump(args.spans)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass  # another run is still using it
    failed = len(ctx.failures)
    for f in ctx.failures:
        print(f"FAILED {f}")
    print(f"attempted={ctx.attempted} failed={failed} failed_ops_frac={failed / ctx.attempted:g}")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {unit(name)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
