"""Session defaults that must fit the host they run on."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

import skyline_daemon
from flink_skyline_qos_spark import session
from flink_skyline_qos_spark.session import default_driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("mem_total_kb, want", [
    (16_456_384, "8035m"),      # a 16 GB host: half of it
    (1_048_576, "1024m"),       # a 1 GB host: never below 1g
    (268_435_456, "32768m"),    # a 256 GB host: never above 32g
])
def test_default_driver_memory_is_half_of_mem_total(tmp_path, mem_total_kb,
                                                    want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_kb} kB\n"
                       "MemFree:         1000000 kB\n")
    assert default_driver_memory(str(meminfo)) == want


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "1g"
    empty = tmp_path / "empty"
    empty.write_text("")
    assert default_driver_memory(str(empty)) == "1g"


def _package(root, name, version=None):
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version is not None:
        (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")


@pytest.mark.parametrize("installed, py4j, dropped", [
    ("4.1.2", True, True),      # the zip's version and py4j: archives go
    ("4.0.0", True, False),     # another pyspark version
    (None, True, False),        # no installed pyspark
    ("4.1.2", False, False),    # no installed py4j
])
def test_worker_path_drops_the_archives_only_for_a_matching_install(
        tmp_path, installed, py4j, dropped):
    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    site = tmp_path / "site"
    site.mkdir()
    if installed is not None:
        _package(site, "pyspark", installed)
    if py4j:
        _package(site, "py4j")
    jar = tmp_path / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir()
    zipfile.ZipFile(jar, "w").close()
    cwd = str(tmp_path / "cwd")
    path = [cwd, str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"),
            str(jar), str(site)]
    want = [cwd, str(site)] if dropped else path
    assert skyline_daemon.worker_path(path) == want


def test_daemon_module_only_where_local_workers_import_it(tmp_path,
                                                          monkeypatch):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(ROOT)
    assert session._daemon_module("local[4]") == "skyline_daemon"
    assert session._daemon_module("spark://host:7077") is None
    monkeypatch.chdir(tmp_path)
    assert session._daemon_module("local[4]") is None
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), ROOT]))
    assert session._daemon_module("local[*]") == "skyline_daemon"


def test_local_sessions_checkpoint_through_file_system_rename(spark):
    """A local session's stream checkpoints rename with
    ``FileSystem.rename``, which forks no ``readlink``.  The class must
    load, so a Spark upgrade that moves it fails here, not in a query;
    a cluster master keeps Spark's default manager."""
    name = spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
    assert name == ("org.apache.spark.sql.execution.streaming."
                    "checkpointing.FileSystemBasedCheckpointFileManager")
    assert spark._jvm.java.lang.Class.forName(name).getName() == name
    assert session._checkpoint_file_manager("spark://host:7077") is None


def test_workers_import_the_installed_pyspark(spark):
    """Python workers load pyspark from the interpreter's installation,
    with no zip or jar archive on their import path and no archive
    importer for a task's ``importlib.invalidate_caches()`` to re-read."""

    def probe(_):
        import os
        import sys
        import zipimport

        import pyspark
        archives = [p for p in sys.path if p.endswith((".zip", ".jar"))
                    and os.path.isfile(p)]
        importers = [k for k, v in sys.path_importer_cache.items()
                     if isinstance(v, zipimport.zipimporter)]
        return pyspark.__file__, archives, importers

    got = spark.sparkContext.parallelize(range(4), 4).map(probe).collect()
    for pyspark_file, archives, importers in got:
        assert ".zip" not in pyspark_file
        assert archives == []
        assert importers == []


def test_python_tasks_run_where_workers_cannot_import_the_daemon(tmp_path):
    """Neither the working directory nor PYTHONPATH holds the repo root,
    so the session keeps Spark's own daemon, and Python tasks run."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from flink_skyline_qos_spark.session import get_spark
        spark = get_spark("no-daemon", master="local[1]")
        daemon = spark.sparkContext.getConf().get(
            "spark.python.daemon.module", "pyspark.daemon")
        rows = spark.sparkContext.parallelize(range(3), 1).map(
            lambda x: x + 1).collect()
        print("RESULT", daemon, rows)
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "RESULT pyspark.daemon [1, 2, 3]" in out.stdout.splitlines()
