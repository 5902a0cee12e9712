"""bench.py artifact logic: the printed line, the side-file choice and
the run-record family gate are pure dict/file arithmetic, tested without
Spark; one test measures two real frames' run records."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

ROOT = Path(__file__).parents[1]


def _bench():
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", mod)
    spec.loader.exec_module(mod)
    return mod


def _rec(**over) -> dict:
    rec = {
        "build_jobs": 0, "jobs": 2, "stages": 3, "tasks": 8, "exchanges": 1,
        "shuffle_read_mb": 0.5, "shuffle_write_mb": 0.5, "spill_mb": 0.0,
    }
    rec.update(over)
    return rec


def _art(records: dict, sec: float = 1.0, sf=0.1, cores=8) -> dict:
    return {
        "sf": sf,
        "cores": cores,
        "registry_query_records": records,
        "registry_query_sec": {
            f: {q: sec for q in qs} for f, qs in records.items()
        },
    }


def test_compact_line_fits_driver_tail_capture():
    """Only the last ~2000 chars of stdout are machine-read. The compact
    line must stay under the budget for a realistic artifact and keep
    the fields cross-round comparisons need."""
    b = _bench()
    records = {
        f"queries_family_{i:02d}": {f"q{j}": _rec() for j in range(8)}
        for i in range(38)
    }
    art = {
        "metric": "headline_queries_total_sec",
        "value": 8.13,
        "unit": "sec",
        "queries": {f"query_name_number_{i:02d}": 0.123 for i in range(17)},
        "queries_min": {f"query_name_number_{i:02d}": 0.1 for i in range(17)},
        "value_min": 7.5,
        "queries_records": {f"query_name_number_{i:02d}": _rec() for i in range(17)},
        "runs": 5,
        "warm": True,
        "sf": 0.1,
        "cores": 8,
        "registry_total_sec": 496.3,
        "registry_queries": 289,
        "registry_swept": 289,
        "registry_families": {f"queries_family_{i:02d}": 12.34 for i in range(38)},
        "registry_family_counts": {f"queries_family_{i:02d}": 8 for i in range(38)},
        "registry_query_sec": {
            f: {q: 1.5 for q in qs} for f, qs in records.items()
        },
        "registry_query_records": records,
        "registry_errors": {"some_query": "RuntimeError('x')"},
        "prev_bench_artifact": "BENCH_FULL_r09.json",
        "registry_family_regressions": [],
    }
    line = b.compact_line(art, "BENCH_FULL_r10.json")
    assert len(line) <= b.LINE_BUDGET_CHARS
    parsed = json.loads(line)
    assert parsed["value"] == 8.13
    assert parsed["detail_artifact"] == "BENCH_FULL_r10.json"
    assert parsed["registry_error_count"] == 1
    assert parsed["registry_family_regressions"] == []
    for side in ("registry_families", "registry_query_sec",
                 "registry_query_records", "queries_records"):
        assert side not in parsed  # side file only
    assert len(parsed["queries"]) == 17  # per-query medians stay on the line
    # pathological blow-up: queries map drops rather than bust the budget
    art["queries"] = {f"very_long_query_name_{i:03d}": 0.1 for i in range(200)}
    line2 = b.compact_line(art, "BENCH_FULL_r10.json")
    assert len(line2) <= b.LINE_BUDGET_CHARS
    assert json.loads(line2)["queries_in_detail_only"] is True


def test_compact_line_fat_artifact_r11_regression():
    """r11 shipped a dict-valued key that was neither side-only nor shed,
    and the printed line blew past the ~2000-char tail capture. Any
    future fat key must be shed by the overflow loop, never overflow."""
    b = _bench()
    art = {
        "metric": "headline_queries_total_sec",
        "value": 9.865,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"query_name_number_{i:02d}": 0.123 for i in range(17)},
        "registry_family_regressions": [],
        "some_future_fat_key": {f"entry_{i:04d}": 1.0 for i in range(500)},
    }
    line = b.compact_line(art, "BENCH_FULL_r12.json")
    assert len(line) <= b.LINE_BUDGET_CHARS
    parsed = json.loads(line)
    assert "some_future_fat_key" not in parsed
    assert parsed["fields_in_detail_only"] is True
    assert parsed["value"] == 9.865  # essentials survive any shedding
    assert parsed["detail_artifact"] == "BENCH_FULL_r12.json"


def test_prev_artifact_numeric_order_and_skip_current(tmp_path):
    b = _bench()
    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 99\n")
    # rounds 9, 10, 99, 100 on disk; current round is 100 -> r100 must be
    # skipped (same-round re-run) and r99 wins over r9/r10 numerically
    for n in (9, 10, 99, 100):
        (tmp_path / f"BENCH_FULL_r{n:02d}.json").write_text(json.dumps({"round": n}))
    (tmp_path / "BENCH_FULL_r13_pre.json").write_text(json.dumps({"round": -1}))
    name, data = b._prev_artifact(tmp_path, "0.1")
    assert (name, data["round"]) == ("BENCH_FULL_r99.json", 99)
    # an unreadable newest round falls through to the next one
    (tmp_path / "BENCH_FULL_r99.json").write_text("{truncated")
    assert b._prev_artifact(tmp_path, "0.1")[0] == "BENCH_FULL_r10.json"


def test_detail_name_and_prev_artifact_follow_sf(tmp_path):
    """Only sf0.1 writes the committed round file; any other sf writes
    (and compares against) its own untracked sf-named file, so a
    preflight run at sf0.01 never touches a committed artifact."""
    b = _bench()
    assert b.detail_name("0.1", 14) == "BENCH_FULL_r14.json"
    assert b.detail_name("0.01", 14) == "BENCH_FULL_sf0.01.json"
    assert b.detail_name("0.001", None) == "BENCH_FULL_sf0.001.json"
    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 13\n")
    (tmp_path / "BENCH_FULL_r13.json").write_text(json.dumps({"sf": 0.1}))
    assert b._prev_artifact(tmp_path, "0.01") is None  # no sf0.01 run yet
    (tmp_path / "BENCH_FULL_sf0.01.json").write_text(json.dumps({"sf": 0.01}))
    assert b._prev_artifact(tmp_path, "0.01") == (
        "BENCH_FULL_sf0.01.json", {"sf": 0.01}
    )
    assert b._prev_artifact(tmp_path, "0.1")[0] == "BENCH_FULL_r13.json"
    gitignore = (ROOT / ".gitignore").read_text().split()
    assert "BENCH_FULL_sf*.json" in gitignore


def test_family_regression_planted_exchange_flags_family():
    b = _bench()
    prev = _art({"fam_a": {"q1": _rec(), "q2": _rec()}, "fam_b": {"q3": _rec()}})
    cur = _art({
        "fam_a": {"q1": _rec(), "q2": _rec(exchanges=2)},
        "fam_b": {"q3": _rec()},
    })
    assert b.family_regressions(cur, prev) == ["fam_a"]
    # an extra eager job during construction flags too
    cur = _art({"fam_a": {"q1": _rec(), "q2": _rec()}, "fam_b": {"q3": _rec(build_jobs=1)}})
    assert b.family_regressions(cur, prev) == ["fam_b"]


def test_family_regression_ignores_execution_jobs_and_stages():
    """AQE decides at run time which query stages run, so execution jobs,
    stages and tasks move without a code change: recorded, not gated."""
    b = _bench()
    prev = _art({"fam": {"q": _rec(jobs=8, stages=16, tasks=16)}})
    cur = _art({"fam": {"q": _rec(jobs=10, stages=25, tasks=25)}})
    assert b.family_regressions(cur, prev) == []


def test_family_regression_ignores_slower_host():
    """Twice the seconds with identical records is the host, not the
    code: no flag."""
    b = _bench()
    records = {"fam_a": {"q1": _rec()}, "fam_b": {"q2": _rec(jobs=7)}}
    prev = _art(records, sec=1.0)
    cur = _art(json.loads(json.dumps(records)), sec=2.0)
    assert b.family_regressions(cur, prev) == []


def test_family_regression_mb_margin():
    b = _bench()
    prev = _art({"fam": {"q1": _rec(shuffle_write_mb=10.0)}})
    within = _art({"fam": {"q1": _rec(shuffle_write_mb=10.0 + b.MB_MARGIN)}})
    assert b.family_regressions(within, prev) == []
    beyond = _art({"fam": {"q1": _rec(shuffle_write_mb=10.0, spill_mb=b.MB_MARGIN + 0.1)}})
    assert b.family_regressions(beyond, prev) == ["fam"]


def test_family_regression_on_query_intersection():
    """A family that only GAINED queries is coverage, not a regression;
    a counter rise on a shared query still flags its family."""
    b = _bench()
    prev = _art({"grew": {"a": _rec()}, "regressed": {"c": _rec()}})
    cur = _art({
        "grew": {"a": _rec(), "b_new": _rec(jobs=40, exchanges=9)},
        "regressed": {"c": _rec(exchanges=2)},
        "new_family": {"d": _rec()},
    })
    assert b.family_regressions(cur, prev) == ["regressed"]


def test_family_regression_without_records_no_comparison():
    """The r10–r13 artifacts carry seconds but no run records: nothing
    to compare, and no crash."""
    b = _bench()
    r13 = json.loads((ROOT / "BENCH_FULL_r13.json").read_text())
    assert "registry_query_records" not in r13
    # same sf and core count (r13 records none), so only the missing
    # records stop the comparison
    cur = _art({"queries_stats": {"q": _rec()}}, sf=r13["sf"], cores=r13.get("cores"))
    assert b.family_regressions(cur, r13) is None
    assert b.family_regressions(r13, r13) is None
    assert b.family_regressions(cur, None) is None


def test_family_regression_needs_same_sf_and_cores():
    b = _bench()
    prev = _art({"fam": {"q": _rec()}})
    worse = {"fam": {"q": _rec(exchanges=5)}}
    assert b.family_regressions(_art(worse), prev) == ["fam"]
    assert b.family_regressions(_art(worse, sf=0.01), prev) is None
    assert b.family_regressions(_art(worse, cores=4), prev) is None


def test_family_gate_key_printed_as_null_without_comparison():
    """A run at another core count (or with no previous artifact) prints
    ``registry_family_regressions: null`` instead of dropping the key."""
    b = _bench()
    prev = ("BENCH_FULL_sf0.1.json", _art({"fam": {"q": _rec()}}))
    for other in (None, prev):
        art = _art({"fam": {"q": _rec(exchanges=5)}}, cores=4)
        b.record_family_gate(art, other)
        line = json.loads(b.compact_line(art, "BENCH_FULL_sf0.1.json"))
        assert "registry_family_regressions" in line
        assert line["registry_family_regressions"] is None
        assert "prev_bench_artifact" not in line
    art = _art({"fam": {"q": _rec(exchanges=5)}})
    b.record_family_gate(art, prev)
    line = json.loads(b.compact_line(art, "BENCH_FULL_sf0.1.json"))
    assert line["registry_family_regressions"] == ["fam"]
    assert line["prev_bench_artifact"] == prev[0]


def test_default_cpus_follow_host_unless_overridden():
    """``local[N]`` defaults to the CPUs this process may run on, so a
    bench run without SPARK_GRAFT_CPUS compares against a same-host
    artifact; the variable still overrides it."""
    import os
    import subprocess

    code = (
        "import os\n"
        "from qa_data_pipeline_rag_llm_spark import session\n"
        "print(session.DEFAULT_CPUS, len(os.sched_getaffinity(0)))\n"
    )

    def cpus(**env) -> list[int]:
        base = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=ROOT, env={**base, **env},
            capture_output=True, text=True, check=True,
        ).stdout.split()
        return [int(x) for x in out]

    default, host = cpus()
    assert default == host
    assert cpus(SPARK_GRAFT_CPUS="3")[0] == 3


def test_run_record_counts_extra_exchange(spark):
    """A frame with an extra ``repartition`` records exactly one more
    exchange than its twin."""
    b = _bench()

    class _Spec:
        def __init__(self, extra: bool):
            self.extra = extra

        def spark(self, s, sf_dir):
            df = s.range(2000)
            if self.extra:
                df = df.repartition(3)
            return df.groupBy((df.id % 7).alias("k")).count()

    meter = b.make_meter(spark)
    _, twin = b.run_record(spark, meter, _Spec(False), "")
    _, extra = b.run_record(spark, meter, _Spec(True), "")
    assert twin["exchanges"] >= 1
    assert extra["exchanges"] == twin["exchanges"] + 1
    assert twin["jobs"] >= 1 and twin["build_jobs"] == 0
