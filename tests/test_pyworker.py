"""The worker daemon's zipimport wrapper (vers_spark.pyworker): an unchanged
archive is not re-read on ``importlib.invalidate_caches()``, a rewritten one
is, and Spark's Python workers really run under it."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from vers_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def reads(monkeypatch):
    """Wrap zipimport's directory reader; return the archives it read."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    return seen


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zw_same": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()  # first sight: read once, signature recorded
    first = reads.count(archive)
    for _ in range(5):
        importer.invalidate_caches()
    assert reads.count(archive) == first
    assert importer.find_spec("zw_same") is not None


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, reads, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zw_old": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zw_old").X == 1
    importlib.invalidate_caches()
    before = reads.count(archive)

    _write_zip(archive, {"zw_old": "X = 1\n", "zw_new": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == before + 1
    try:
        assert importlib.import_module("zw_new").Y == 2
    finally:
        sys.modules.pop("zw_old", None)
        sys.modules.pop("zw_new", None)


def test_missing_archive_drops_cached_directory(tmp_path, reads):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"zw_gone": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    os.remove(archive)
    importer.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert importer.find_spec("zw_gone") is None


# Runs in a fresh interpreter whose cwd is outside the repo and whose
# PYTHONPATH is unset, the way a user script would start the engine.
_WORKER_PROBE = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from vers_spark.session import get_spark

    spark = get_spark(app_name="pyworker_probe", cpus="2")

    def probe(batches):
        import importlib, zipimport
        import pandas as pd
        import vers_spark  # a worker must import the package from any cwd

        reread = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reread.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({
                "fn": [f"{fn.__module__}.{fn.__qualname__}"],
                "pkg": [vers_spark.__name__],
                "zip_rereads": [len(reread)],
            })

    df = spark.range(8).coalesce(1)
    schema = "fn string, pkg string, zip_rereads long"
    rows = [df.mapInPandas(probe, schema).collect()[0] for _ in range(2)]
    spark.stop()
    print("PROBE " + json.dumps([r.asDict() for r in rows]))
    """
)


def test_spark_workers_run_under_the_wrapper(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    script = tmp_path / "probe.py"
    script.write_text(_WORKER_PROBE)
    out = subprocess.run(
        [sys.executable, str(script), REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("PROBE "))
    rows = json.loads(line[len("PROBE "):])
    for row in rows:
        assert row["fn"] == "vers_spark.pyworker.invalidate_caches"
        assert row["pkg"] == "vers_spark"
        # pyspark.zip and py4j's zip are unchanged: no task re-reads them
        assert row["zip_rereads"] == 0
