"""The worker daemon re-reads a zip archive's directory only when the
archive changed, and local sessions start their Python workers from it."""

import os
import subprocess
import sys
import textwrap
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter so the test process's import state (its
# zipimporters and the patched class) stays untouched.
_PROBE = textwrap.dedent("""
    import importlib, os, sys, zipfile, zipimport
    archive = sys.argv[1]
    sys.path.insert(0, archive)
    import zpkg.sub.mod

    from jsonextract_spark import worker_daemon
    worker_daemon.install()

    reads = []
    _orig = zipimport._read_directory
    def counted(path):
        reads.append(path)
        return _orig(path)
    zipimport._read_directory = counted

    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)
                 and f.archive == archive]
    assert len(importers) == 3, importers   # zip root, zpkg, zpkg/sub

    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == [], reads

    # rewrite the archive with one more module: every importer re-reads
    # exactly once, then the new stamp holds again
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zpkg/sub/new.py", "VALUE = 7\\n")
    importlib.invalidate_caches()
    assert reads == [archive] * 3, reads
    importlib.invalidate_caches()
    assert reads == [archive] * 3, reads
    from zpkg.sub import new
    assert new.VALUE == 7

    # a deleted archive takes the original path on every call
    os.remove(archive)
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive] * 6, reads
    assert all(f._files == {} for f in importers)
    assert archive not in zipimport._zip_directory_cache
    print("ok")
""")


def test_zip_directory_reread_only_on_change(tmp_path):
    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/mod.py", "X = 1\n")
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run([sys.executable, "-c", _PROBE, archive],
                       capture_output=True, text=True, env=env,
                       timeout=120)
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "ok"


def test_local_session_workers_use_daemon(spark):
    import pandas as pd

    def probe(batches):
        import zipimport
        for b in batches:
            yield pd.DataFrame(
                {"m": [zipimport.zipimporter.invalidate_caches.__module__]
                 * len(b)})

    df = spark.range(0, 64, numPartitions=8).mapInPandas(probe, "m string")
    assert {r.m for r in df.collect()} == {"jsonextract_spark.worker_daemon"}
