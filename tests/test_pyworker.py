"""goorc_spark._pyworker: lazy zipimport cache invalidation in PySpark
Python workers.

The hook patches a stdlib class process-wide, so every no-Spark check runs
in a fresh interpreter; the Spark check asks the workers themselves.
"""
import os
import subprocess
import sys
import textwrap
import zipimport
from pathlib import Path

import pytest

from goorc_spark import _pyworker

ROOT = Path(__file__).resolve().parents[1]


def _run(script: str, *args: str) -> None:
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    r = subprocess.run([sys.executable, "-c", textwrap.dedent(script), *args],
                       env=env, capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stdout + r.stderr


@pytest.mark.skipif(not _pyworker._EAGER,
                    reason="zipimport re-reads lazily on this interpreter")
def test_install_skips_rereads_until_the_zip_changes(tmp_path):
    _run("""
        import importlib, os, sys, zipfile, zipimport

        from goorc_spark import _pyworker

        zpath = sys.argv[1]

        def build(files):
            with zipfile.ZipFile(zpath + ".tmp", "w") as z:
                for name, src in files.items():
                    z.writestr(name, src)
            os.replace(zpath + ".tmp", zpath)

        files = {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "X = 1\\n"}
        build(files)
        sys.path.insert(0, zpath)
        import zpkg.sub  # two zipimporters: the zip root and zpkg/

        reads = 0
        read_directory = zipimport._read_directory

        def counting(path):
            global reads
            reads += 1
            return read_directory(path)

        zipimport._read_directory = counting
        importlib.invalidate_caches()
        assert reads == 2, reads  # stdlib: every importer re-reads

        _pyworker.install()
        _pyworker.install()  # idempotent
        assert _pyworker.installed()
        importlib.invalidate_caches()  # records each archive's stat
        reads = 0
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads == 0, reads

        # a rewritten zip is re-read on the next call, as in the stdlib
        build({**files, "zpkg/new.py": "Y = 2\\n"})
        try:
            import zpkg.new
        except ImportError:
            pass
        else:
            raise AssertionError("stale importer saw the new module")
        importlib.invalidate_caches()
        import zpkg.new
        assert zpkg.new.Y == 2
        assert reads == 1, reads  # one re-read shared by both importers

        # a vanished zip empties the importers, as in the stdlib
        os.remove(zpath)
        importlib.invalidate_caches()
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        assert importers and all(f._files == {} for f in importers)
    """, str(tmp_path / "zpkg.zip"))


def test_install_only_inside_a_task():
    _run("""
        import zipimport

        import pyspark.taskcontext
        import goorc_spark
        from goorc_spark import _pyworker

        stdlib = zipimport.zipimporter.invalidate_caches
        assert stdlib.__module__ == "zipimport"
        assert not _pyworker.installed()
        assert zipimport.zipimporter.invalidate_caches is stdlib
    """)
    _run("""
        import sys

        from pyspark.taskcontext import TaskContext
        TaskContext._getOrCreate()  # what a worker does before unpickling
        import goorc_spark
        from goorc_spark import _pyworker

        assert _pyworker.installed() == _pyworker._EAGER
    """)


def test_install_is_a_noop_on_lazy_cpython():
    _run("""
        import sys
        import zipimport

        sys.version_info = (3, 13, 0, "final", 0)
        from goorc_spark import _pyworker

        stdlib = zipimport.zipimporter.invalidate_caches
        _pyworker.install()
        assert not _pyworker._EAGER
        assert not _pyworker.installed()
        assert zipimport.zipimporter.invalidate_caches is stdlib
    """)


@pytest.mark.skipif(not _pyworker._EAGER,
                    reason="zipimport re-reads lazily on this interpreter")
def test_hook_active_in_workers_only(spark):
    def probe(batches):
        import pyarrow as pa

        import goorc_spark  # noqa: F401  (installs the hook in a task)
        from goorc_spark import _pyworker as pw

        for rb in batches:
            yield pa.RecordBatch.from_pydict(
                {"active": [pw.installed()] * rb.num_rows})

    rows = (spark.range(0, 64, numPartitions=8)
            .mapInArrow(probe, "active boolean").collect())
    assert len(rows) == 64
    assert all(r.active for r in rows)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert not _pyworker.installed()
