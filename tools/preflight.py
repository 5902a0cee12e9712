"""End-of-round preflight: run the full verification checklist in one
command and print a PASS/FAIL line per gate. Mirrors what the external
driver + judge do, so a red here is a red there.

Gates:
  1. pytest tests/ -x -q                         (the suite)
  2. fingerprint ledger current with the tree     (change-aware rotation)
  3. driver emulation over the 50-query sample prefix (plain session)
  4. hostile-session emulation over a probe set   (UTC/partition repins)
  5. bench.py at sf0.01 emits one well-formed JSON line (its detail
     file, BENCH_FULL_sf0.01.json, is untracked)

Usage: python tools/preflight.py [--full]   (--full sweeps the whole
registry in gates 3/4 instead of the prefix — ~20 min)
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def run(cmd: list[str], timeout: int) -> tuple[int, str]:
    try:
        p = subprocess.run(
            cmd,
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=timeout,
            check=False,
        )
    except subprocess.TimeoutExpired:
        # a hung gate must report as a per-gate FAIL, not crash the
        # checklist before the summary line (ADVICE r06)
        return 1, f"timeout after {timeout}s: {' '.join(cmd)}"
    return p.returncode, (p.stdout + p.stderr)


def main() -> int:
    full = "--full" in sys.argv
    n_reg = 0
    results: dict[str, bool] = {}

    code, out = run(
        [sys.executable, "-m", "pytest", "tests/", "-x", "-q"], 3600
    )
    results["pytest"] = code == 0
    print("pytest:", "PASS" if code == 0 else "FAIL", "|", out.strip().splitlines()[-1] if out.strip() else "")

    code, out = run(
        [
            sys.executable,
            "-m",
            "pytest",
            "tests/test_recheck_rotation.py::test_fingerprint_ledger_current_with_working_tree",
            "-q",
        ],
        600,
    )
    results["fingerprints"] = code == 0
    print("fingerprint ledger:", "PASS" if code == 0 else "FAIL — run tools/fingerprint_snapshot.py")

    sys.path.insert(0, str(ROOT))
    from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY

    n_reg = len(REGISTRY)
    n = n_reg if full else 50
    code, out = run(
        [sys.executable, "tools/driver_emulation.py", "--prefix", str(n)],
        7200,
    )
    ok = code == 0 and "DRIVER-EMULATION OK" in out
    results["emulation"] = ok
    print(f"driver emulation ({n} queries):", "PASS" if ok else "FAIL")

    code, out = run(
        [
            sys.executable,
            "tools/driver_emulation.py",
            "--hostile",
            "--prefix",
            str(n if full else 10),
        ],
        7200,
    )
    ok = code == 0 and "DRIVER-EMULATION OK" in out
    results["hostile"] = ok
    print("hostile emulation:", "PASS" if ok else "FAIL")

    code, out = run([sys.executable, "bench.py"], 3600)
    ok = False
    for line in reversed(out.strip().splitlines()):
        try:
            j = json.loads(line)
            ok = all(k in j for k in ("metric", "value", "unit", "queries", "sf"))
            break
        except Exception:
            continue
    results["bench"] = code == 0 and ok
    print("bench JSON:", "PASS" if results["bench"] else "FAIL")

    all_ok = all(results.values())
    print("PREFLIGHT", "PASS" if all_ok else "FAIL", f"({n_reg} registered queries)")
    return 0 if all_ok else 1


if __name__ == "__main__":
    import os

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    raise SystemExit(main())
