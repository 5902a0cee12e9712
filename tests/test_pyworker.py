"""pyworker — the engine's Python worker daemon and its lazy zipimport
cache invalidation. Interpreter-level checks run in a subprocess so the
pytest process's own zipimport stays unpatched."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyspark.sql.functions as F

REPO_ROOT = str(Path(__file__).parents[1])


def _run(code: str, cwd=REPO_ROOT, timeout: int = 120) -> str:
    """Run ``code`` in a fresh interpreter that imports the engine from
    this checkout; returns its stdout, failing on a non-zero exit."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    prelude = f"import sys; sys.path.insert(0, {REPO_ROOT!r})\n"
    proc = subprocess.run(
        [sys.executable, "-c", prelude + textwrap.dedent(code)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


_ZIP_SETUP = """
import importlib, importlib.util, os, zipfile, zipimport

archive = os.path.abspath("mods.zip")

def write_zip(**mods):
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in mods.items():
            z.writestr(name + ".py", src)

write_zip(zmod_a="X = 1\\n")
sys.path.insert(0, archive)
import zmod_a

reads = []
_real_read = zipimport._read_directory
zipimport._read_directory = lambda p: reads.append(p) or _real_read(p)
"""


def test_invalidate_caches_reads_no_archive_directory(tmp_path):
    out = _run(_ZIP_SETUP + """
importlib.invalidate_caches()
eager = len(reads)
import qa_data_pipeline_rag_llm_spark.pyworker
del reads[:]
importlib.invalidate_caches()
on_invalidate = len(reads)
importlib.util.find_spec("zmod_missing")  # next lookup: one re-read
importlib.util.find_spec("zmod_missing_too")  # cached again
print(eager, on_invalidate, reads.count(archive))
""", cwd=tmp_path)
    eager, on_invalidate, archive_reads = map(int, out.split())
    # the unpatched 3.11/3.12 importer re-reads on invalidation (the
    # control that proves the counter sees reads); 3.13 is lazy natively
    assert eager >= 1 or sys.version_info >= (3, 13)
    assert on_invalidate == 0
    assert archive_reads == 1


def test_rewritten_zip_importable_after_invalidate_caches(tmp_path):
    out = _run(_ZIP_SETUP + """
import qa_data_pipeline_rag_llm_spark.pyworker
write_zip(zmod_a="X = 1\\n", zmod_b="Y = 2\\n")
stale = importlib.util.find_spec("zmod_b") is None
importlib.invalidate_caches()
import zmod_b
print(stale, zmod_b.Y)
""", cwd=tmp_path)
    assert out.split() == ["True", "2"]


def test_nothing_patched_where_invalidation_is_lazy():
    """CPython 3.13+ has ``zipimporter._get_files``; simulated here on
    older interpreters by giving the class that attribute first."""
    out = _run("""
import zipimport
cls = zipimport.zipimporter
if not hasattr(cls, "_get_files"):
    cls._get_files = lambda self: {}
before = dict(vars(cls))
from qa_data_pipeline_rag_llm_spark import pyworker
print(dict(vars(cls)) == before, pyworker.install())
""")
    assert out.split() == ["True", "False"]


def test_pandas_udf_runs_under_engine_daemon(spark):
    @F.pandas_udf("string")
    def probe(s):
        import importlib
        import os
        import zipimport

        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            daemon = f.read().split(b"\0")
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        daemon_ok = b"qa_data_pipeline_rag_llm_spark.pyworker" in daemon
        return s.map(lambda _: f"{daemon_ok}:{len(reads)}")

    got = {
        r[0]
        for r in spark.range(4)
        .repartition(2)
        .select(probe(F.col("id").cast("string")))
        .collect()
    }
    assert got == {"True:0"}


def test_session_outside_repo_runs_pandas_udf(tmp_path):
    """Workers import the daemon by name; from a driver cwd outside the
    repository only the exported PYTHONPATH lets them find it."""
    out = _run("""
import pyspark.sql.functions as F
from qa_data_pipeline_rag_llm_spark.session import get_spark

spark = get_spark(
    app_name="pyworker_cwd", master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.memory": "512m"},
)
plus_one = F.pandas_udf(lambda s: s + 1, "long")
print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
spark.stop()
""", cwd=tmp_path, timeout=300)
    assert out.strip().splitlines()[-1] == "[1, 2, 3]"
