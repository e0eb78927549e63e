"""The stat guard on ``zipimporter.invalidate_caches`` (``_zipimport``):
unchanged archives are not re-read, changed ones are.  Each check runs in
a fresh interpreter, so the patch on the stdlib class cannot leak into
other tests; the checks count ``zipimport._read_directory`` calls rather
than time them."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Counts directory reads; ``reads()`` returns and resets the count.
_COUNTER = """
import importlib, sys, zipimport
_n = [0]
_read = zipimport._read_directory
def _counting(archive):
    _n[0] += 1
    return _read(archive)
zipimport._read_directory = _counting
def reads():
    n, _n[0] = _n[0], 0
    return n
"""


def _run(body: str, pythonpath: list[str] | None = None) -> None:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join((pythonpath or []) + [REPO])
    proc = subprocess.run(
        [sys.executable, "-c", _COUNTER + textwrap.dedent(body)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def _archive(path, extra: dict[str, str] | None = None) -> str:
    files = {
        "zpkg/__init__.py": "",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/mod.py": "VALUE = 1\n",
        **(extra or {}),
    }
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    return str(path)


_IMPORT_FROM_ARCHIVE = """
sys.path.insert(0, ARCHIVE)
import zpkg.sub.mod
import datafusion_bigtable_spark
importers = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
assert len(importers) >= 2, importers
importlib.invalidate_caches()  # the guard's first read of the archive
reads()
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is inert on 3.13+")
def test_unchanged_archive_is_not_reread(tmp_path):
    archive = _archive(tmp_path / "a.zip")
    _run(
        f"ARCHIVE = {archive!r}"
        + _IMPORT_FROM_ARCHIVE
        + """
for _ in range(5):
    importlib.invalidate_caches()
assert reads() == 0
"""
    )


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is inert on 3.13+")
def test_changed_archive_is_reread(tmp_path):
    archive = _archive(tmp_path / "a.zip")
    added = str(tmp_path / "b.zip")
    _archive(added, {"zpkg/sub/added.py": "VALUE = 2\n"})
    # the same bytes with one digit changed: same size, and the old mtime
    # restored (as ``cp -p`` does) — only the inode change time differs
    same_size = str(tmp_path / "c.zip")
    _archive(same_size, {"zpkg/sub/added.py": "VALUE = 2\n", "zpkg/sub/mod.py": "VALUE = 3\n"})
    _run(
        f"ARCHIVE, ADDED, SAME_SIZE = {archive!r}, {added!r}, {same_size!r}"
        + _IMPORT_FROM_ARCHIVE
        + """
import os, shutil
shutil.copyfile(ADDED, ARCHIVE)
importlib.invalidate_caches()
assert reads() == 1  # one read, shared by every importer on the archive
import zpkg.sub.added
assert zpkg.sub.added.VALUE == 2

st = os.stat(ARCHIVE)
shutil.copyfile(SAME_SIZE, ARCHIVE)
os.utime(ARCHIVE, ns=(st.st_atime_ns, st.st_mtime_ns))
assert os.stat(ARCHIVE).st_size == st.st_size
importlib.invalidate_caches()
assert reads() == 1
"""
    )


def test_deleted_archive_does_not_raise(tmp_path):
    archive = _archive(tmp_path / "a.zip")
    _run(
        f"ARCHIVE = {archive!r}"
        + _IMPORT_FROM_ARCHIVE
        + """
import os
os.remove(ARCHIVE)
importlib.invalidate_caches()
importlib.invalidate_caches()
"""
    )


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is inert on 3.13+")
def test_spark_worker_import_shape_rereads_nothing():
    """A Spark Python worker imports pyspark from ``$SPARK_HOME/python/lib/
    pyspark.zip``, one zipimporter per package; after the guard's first
    read, the per-task ``importlib.invalidate_caches()`` reads nothing."""
    spark_zip = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip")
    if not os.path.isfile(spark_zip):
        pytest.skip("no Spark distribution with python/lib/pyspark.zip under SPARK_HOME")
    _run(
        f"SPARK_ZIP = {spark_zip!r}"
        + """
import pyspark.sql.worker.plan_data_source_read
assert pyspark.__file__.startswith(SPARK_ZIP), pyspark.__file__
import datafusion_bigtable_spark
importers = [
    f for f in sys.path_importer_cache.values()
    if isinstance(f, zipimport.zipimporter) and f.archive == SPARK_ZIP
]
assert len(importers) >= 10, len(importers)
archives = {f.archive for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)}
reads()
importlib.invalidate_caches()
assert reads() <= len(archives)  # at most one read per archive, not per importer
for _ in range(3):
    importlib.invalidate_caches()
    assert reads() == 0
""",
        pythonpath=[spark_zip],
    )


def test_guard_is_inert_on_python_3_13():
    """3.13 invalidates lazily; there the class method is left alone."""
    guard = os.path.join(REPO, "datafusion_bigtable_spark", "_zipimport.py")
    _run(
        f"GUARD = {guard!r}"
        + """
import importlib.util
before = zipimport.zipimporter.invalidate_caches
real = sys.version_info
sys.version_info = (3, 13, 0, "final", 0)
try:
    spec = importlib.util.spec_from_file_location("zipimport_guard", GUARD)
    guard = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(guard)
    guard.install()
finally:
    sys.version_info = real
assert zipimport.zipimporter.invalidate_caches is before
guard.install()
assert (zipimport.zipimporter.invalidate_caches is before) == (real >= (3, 13))
"""
    )


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is inert on 3.13+")
def test_install_wraps_once():
    """The package import installs the guard; a second ``install()`` (a
    reload, or a daemon entry that also runs it) leaves that wrapper alone."""
    _run(
        """
stock = zipimport.zipimporter.invalidate_caches
from datafusion_bigtable_spark import _zipimport
wrapped = zipimport.zipimporter.invalidate_caches
assert wrapped is not stock and wrapped._reread is stock
_zipimport.install()
_zipimport.install()
assert zipimport.zipimporter.invalidate_caches is wrapped
"""
    )


def test_daemon_entry_runs_pyspark_daemon_without_warnings(tmp_path):
    """``python -m datafusion_bigtable_spark._daemon`` runs the stock daemon
    as ``__main__``: it writes its port and, on stdin EOF, exits as the stock
    daemon does; runpy raises no RuntimeWarning about the module."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = REPO
    outs = []
    for module in ("pyspark.daemon", "datafusion_bigtable_spark._daemon"):
        proc = subprocess.run(
            [sys.executable, "-W", "error::RuntimeWarning", "-m", module, "pyspark.worker"],
            cwd=tmp_path,
            env=env,
            stdin=subprocess.DEVNULL,
            capture_output=True,
            timeout=60,
        )
        assert b"Warning" not in proc.stderr, proc.stderr[-3000:]
        outs.append((proc.returncode, len(proc.stdout)))
    assert outs[0] == outs[1], outs


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is inert on 3.13+")
def test_get_spark_plain_rdd_worker_is_guarded(spark):
    """A plain Python RDD task never imports the package itself; in a
    ``get_spark`` session its worker still has the guard (installed once)
    and the package, because the worker daemon started through it."""

    def report(_):
        import sys
        import zipimport

        method = zipimport.zipimporter.invalidate_caches
        yield (
            method.__qualname__,
            getattr(getattr(method, "_reread", None), "__qualname__", None),
            "datafusion_bigtable_spark" in sys.modules,
        )

    import zipimport

    guard = zipimport.zipimporter.invalidate_caches.__qualname__
    assert guard != "zipimporter.invalidate_caches"
    got = set(spark.sparkContext.parallelize(range(2), 2).mapPartitions(report).collect())
    assert got == {(guard, "zipimporter.invalidate_caches", True)}, got


def test_get_spark_started_outside_the_package_root_runs_python_jobs(tmp_path):
    """A driver that found the package through its own ``sys.path`` (no
    ``PYTHONPATH``, started elsewhere) still gets working Python workers:
    the session puts the package root on the workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from datafusion_bigtable_spark.session import get_spark
spark = get_spark("outside-root", cpus=1)
def report(rows):
    import sys
    yield (sum(rows), "datafusion_bigtable_spark" in sys.modules)
print("RESULT", spark.sparkContext.parallelize([1, 2, 3], 1).mapPartitions(report).collect())
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT [(6, True)]" in proc.stdout, proc.stdout[-3000:]
